package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** All `k` MinHash signature components of a text, per row, in one
  * compiled pass — the `Dedup.minhashSignature` hash family,
  * BIT-IDENTICAL by construction:
  * component i = min over the text's word n-gram shingles of
  * `md5(⌊i/4⌋ ++ ":" ++ shingle)[8·(i%4) .. 8·(i%4)+8)` (lowercase hex,
  * fixed-width — string min equals numeric min). Output is an
  * `array<string>` of length k; every element is null when the text has
  * fewer than n words (no shingles), and a null text yields null
  * elements too — exactly the `array_min(transform(...))` null
  * semantics of `Dedup.minhashComponentRow`.
  *
  * Why a custom Expression (SURVEY §7.3 preference order (b)): the
  * signature is computed per row (no explode + groupBy, so no
  * exchange), and the HOF form pays twice — higher-order functions
  * evaluate INTERPRETED (measured ~4× slower than codegen at sf0.1),
  * and `transform` per component recomputes the seed-s md5 for every
  * component sharing that seed (k=8 components = 8 md5 calls per
  * shingle where 2 suffice). This expression walks the shingles once,
  * hashes each against the ⌈k/4⌉ seeds, and folds all k minima in that
  * single pass.
  *
  * Tokenization contract: words = `split(text, "\\s+")` with Spark's
  * limit −1 semantics (leading/trailing empty tokens preserved),
  * shingles = consecutive n-word windows joined by single spaces —
  * mirrored from TextAnalysis.words/shingles, and pinned bit-identical
  * to the HOF formulation by ExpressionSpec. Distinctness is skipped on
  * purpose: min over a multiset equals min over its support.
  */
case class MinhashComponents(child: Expression, k: Int, n: Int)
    extends UnaryExpression {

  require(k >= 1, "k must be >= 1")
  require(n >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_components needs a string, got ${t.catalogString}")
    }

  @transient private lazy val splitRe =
    java.util.regex.Pattern.compile("\\s+")
  @transient private lazy val hexDigits = "0123456789abcdef".toCharArray
  @transient private lazy val nSeeds = (k + 3) / 4

  override def nullSafeEval(input: Any): Any =
    components(input.asInstanceOf[UTF8String])

  /** Public so generated code can invoke it via a plan reference. */
  def components(text: UTF8String): ArrayData = {
    val out = new Array[Any](k)
    if (text == null) return new GenericArrayData(out)
    val words = splitRe.split(text.toString, -1)
    if (words.length < n) return new GenericArrayData(out) // all null
    val mins = Array.fill(k)(null: String)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    var start = 0
    val last = words.length - n
    while (start <= last) {
      sb.setLength(0)
      var w = 0
      while (w < n) {
        if (w > 0) sb.append(' ')
        sb.append(words(start + w))
        w += 1
      }
      val shingle = sb.toString
      var s = 0
      while (s < nSeeds) {
        md.reset()
        md.update(Integer.toString(s)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md.update(':'.toByte)
        md.update(shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val digest = md.digest()
        val hex = new Array[Char](32)
        var b = 0
        while (b < 16) {
          hex(2 * b) = hexDigits((digest(b) >> 4) & 0xF)
          hex(2 * b + 1) = hexDigits(digest(b) & 0xF)
          b += 1
        }
        // the four 8-hex-char windows of this seed's digest feed
        // components 4s .. 4s+3 (those < k)
        var win = 0
        while (win < 4 && s * 4 + win < k) {
          val i = s * 4 + win
          val cand = new String(hex, win * 8, 8)
          if (mins(i) == null || cand.compareTo(mins(i)) < 0) mins(i) = cand
          win += 1
        }
        s += 1
      }
      start += 1
    }
    var i = 0
    while (i < k) {
      if (mins(i) != null) out(i) = UTF8String.fromString(mins(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mh = ctx.addReferenceObj("minhashComps", this,
      classOf[MinhashComponents].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $mh.components($s);")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : MinhashComponents = copy(child = newChild)
}

object MinhashComponents {
  import org.apache.spark.sql.GraftColumnBridge

  /** Column API: the k MinHash components of `text` as array<string>
    * (elements null when the text has fewer than n words). */
  def minhash_components(text: Column, k: Int, n: Int): Column =
    GraftColumnBridge.toColumn(MinhashComponents(
      GraftColumnBridge.toExpression(text), k, n))
}
