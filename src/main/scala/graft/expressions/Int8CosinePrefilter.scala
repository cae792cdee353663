package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-vector int8 pack for two-phase cosine prefiltering:
  * `struct<codes: binary, cnorm: double, eps: double>` where
  *
  *   - `codes(i) = round(x_i / s)` with the symmetric scale
  *     `s = max|x| / 127` (1.0 for the all-zero vector) — one signed
  *     byte per element, so a probe row in the blocked near-dup join
  *     ships ~dim bytes instead of 4·dim (array<float>): the 4× cut in
  *     bucket-exchange volume that Dedup.cosineDupPairsBlockedInt8
  *     exists for;
  *   - `cnorm = ‖codes‖` (element-order fold). The scales CANCEL in the
  *     quantized cosine — cos(x̂,ŷ) = ⟨cx,cy⟩/(‖cx‖‖cy‖) for
  *     x̂ = s·cx — so the prefilter needs no scale at all, just integer
  *     dot products and this norm;
  *   - `eps = 2‖x − x̂‖ / max(‖x‖, ‖x̂‖)` — an EXACT per-vector cosine
  *     error bound computed from the true residual, not a worst-case
  *     s·√d/2 estimate (typically ~2× tighter, so the prefilter admits
  *     fewer margin candidates). Derivation: for unit vectors
  *     u = x/‖x‖, û = x̂/‖x̂‖ the standard normalization bound gives
  *     ‖u − û‖ ≤ 2‖x − x̂‖/max(‖x‖,‖x̂‖) = eps_x, and then by
  *     Cauchy–Schwarz |cos(x,y) − cos(x̂,ŷ)| = |⟨u,v⟩ − ⟨û,v̂⟩| ≤
  *     ‖u−û‖ + ‖v−v̂‖ ≤ eps_x + eps_y. A candidate whose EXACT cosine
  *     passes the threshold therefore ALWAYS clears a quantized gate of
  *     threshold − eps_x − eps_y: zero false negatives, provably.
  *
  * Everything is one fused pass over the input (max, codes, three
  * accumulators), deterministic (element-order folds, Math.round
  * half-up ties). Null in → null out; the all-zero vector packs to
  * all-zero codes with cnorm 0 (its cosine is undefined and the scorer
  * drops it, matching the exact path's zero-norm drop).
  */
case class Int8VecPack(child: Expression) extends UnaryExpression {

  override def dataType: DataType = Int8VecPack.packType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"int8_pack needs a float/double array, got ${t.catalogString}")
    }

  @transient private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Public so generated code can invoke it via a plan reference. */
  def pack(arr: ArrayData): InternalRow = {
    val dim = arr.numElements()
    val xs = new Array[Double](dim)
    var maxabs = 0.0
    var i = 0
    while (i < dim) {
      val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      xs(i) = x
      val a = math.abs(x)
      if (a > maxabs) maxabs = a
      i += 1
    }
    val s = if (maxabs == 0.0) 1.0 else maxabs / 127.0
    val codes = new Array[Byte](dim)
    var cn = 0.0; var rn = 0.0; var xn = 0.0
    i = 0
    while (i < dim) {
      val c = Math.round(xs(i) / s) // |x|/s ≤ 127 ⇒ no clamp needed
      codes(i) = c.toByte
      val cd = c.toDouble
      cn += cd * cd
      val r = xs(i) - s * cd
      rn += r * r
      xn += xs(i) * xs(i)
      i += 1
    }
    val cnorm = math.sqrt(cn)
    val denom = math.max(math.sqrt(xn), s * cnorm)
    val eps = if (denom == 0.0) 0.0 else 2.0 * math.sqrt(rn) / denom
    new GenericInternalRow(Array[Any](codes, cnorm, eps))
  }

  override protected def nullSafeEval(input: Any): Any =
    pack(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val packer = ctx.addReferenceObj("int8Pack", this,
      classOf[Int8VecPack].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $packer.pack($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Int8VecPack = copy(child = newChild)
}

object Int8VecPack {
  import org.apache.spark.sql.GraftColumnBridge

  val packType: StructType = StructType(Seq(
    StructField("codes", BinaryType, nullable = false),
    StructField("cnorm", DoubleType, nullable = false),
    StructField("eps", DoubleType, nullable = false)))

  /** Column API: one-pass int8 pack of a vector column. */
  def int8_pack(vec: Column): Column =
    GraftColumnBridge.toColumn(Int8VecPack(
      GraftColumnBridge.toExpression(vec)))
}

/** Member ids of a packed bucket that SURVIVE the quantized-cosine
  * prefilter against an [[Int8VecPack]]-packed query, as `array<id>` —
  * phase 1 of two-phase blocked near-dup search
  * (Dedup.cosineDupPairsBlockedInt8).
  *
  * The admission gate is `⟨cq,cm⟩/(‖cq‖‖cm‖) ≥ threshold − eps_q −
  * eps_m − 5e-5`: the two eps terms bound the quantization error (see
  * [[Int8VecPack]] — no exact-qualifying pair can fall below the gate),
  * and the 5e-5 matches the exact path's 4-dp HALF_UP rounding
  * acceptance (`round(cos,4) ≥ t` is implied by `cos ≥ t − 5e-5`).
  * Survivors are re-scored EXACTLY by the caller via an id join —
  * output-scale work — so the operator's results are bit-identical to
  * the full-precision path; the prefilter only decides how many
  * near-threshold margin candidates reach the re-score.
  *
  * Per-candidate cost is one integer multiply-add loop over the two
  * byte arrays — no float loads, no struct allocation for
  * non-survivors — invoked from whole-stage codegen like
  * [[BucketCosineHits]]. Zero-cnorm members (all-zero vectors) and
  * length mismatches are dropped: an undefined cosine never clears a
  * threshold, matching the exact path. Member ids are defensively
  * copied out of the packed row's buffer.
  */
case class BucketCosineHitsInt8(left: Expression, right: Expression,
    threshold: Double) extends BinaryExpression {

  private def memberStruct: StructType = right.dataType match {
    case ArrayType(s: StructType, _) => s
    case _ => new StructType()
  }

  // total while unresolved (the BucketCosineHits.dataType lesson): a
  // NullType placeholder keeps error-reporting paths alive and
  // checkInputDataTypes stays the sole rejection point
  override def dataType: DataType = ArrayType(
    memberStruct.fields.headOption.map(_.dataType)
      .getOrElse(NullType: DataType),
    containsNull = false)

  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def packOk(t: DataType): Boolean = t match {
      case s: StructType => s.fields.length == 3 &&
        s.fields(0).dataType == BinaryType &&
        s.fields(1).dataType == DoubleType &&
        s.fields(2).dataType == DoubleType
      case _ => false
    }
    val membersOk = right.dataType match {
      case ArrayType(s: StructType, _) if s.fields.length == 2 =>
        packOk(s.fields(1).dataType)
      case _ => false
    }
    if (packOk(left.dataType) && membersOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "bucket_cosine_hits_int8 needs (struct<codes binary, cnorm " +
          "double, eps double>, array<struct<id, pack>>), got " +
          s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  @transient private lazy val idType: DataType =
    memberStruct.fields(0).dataType

  /** Public so generated code can invoke it via a plan reference. */
  def hits(q: InternalRow, members: ArrayData): ArrayData = {
    if (q == null || members == null)
      return new GenericArrayData(Array.empty[Any])
    val qc = q.getBinary(0)
    val qn = q.getDouble(1)
    val qeps = q.getDouble(2)
    if (qc == null || qn == 0.0)
      return new GenericArrayData(Array.empty[Any])
    val nm = members.numElements()
    val out = new java.util.ArrayList[Any](4)
    var c = 0
    while (c < nm) {
      if (!members.isNullAt(c)) {
        val row = members.getStruct(c, 2)
        if (!row.isNullAt(1)) {
          val p = row.getStruct(1, 3)
          val mc = p.getBinary(0)
          if (mc != null && BucketCosineHitsInt8.quantizedGatePasses(
              qc, qn, qeps, mc, p.getDouble(1), p.getDouble(2), threshold))
            out.add(InternalRow.copyValue(row.get(0, idType)))
        }
      }
      c += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def eval(input: InternalRow): Any = {
    val q = left.eval(input)
    val m = right.eval(input)
    hits(if (q == null) null else q.asInstanceOf[InternalRow],
      if (m == null) null else m.asInstanceOf[ArrayData])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scorer = ctx.addReferenceObj("bucketHitsInt8", this,
      classOf[BucketCosineHitsInt8].getName)
    val q = left.genCode(ctx)
    val m = right.genCode(ctx)
    val arrCls = classOf[ArrayData].getName
    val rowCls = classOf[InternalRow].getName
    ev.copy(
      code = q.code + m.code + code"""
        |final $arrCls ${ev.value} = $scorer.hits(
        |  ${q.isNull} ? null : ($rowCls) ${q.value},
        |  ${m.isNull} ? null : ${m.value});
        """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BucketCosineHitsInt8 =
    copy(left = newLeft, right = newRight)
}

object BucketCosineHitsInt8 {
  import org.apache.spark.sql.GraftColumnBridge

  /** THE phase-1 admission decision, kept in one function so the gate
    * constant and the eps margin live in one place: integer dot
    * in element order (products ≤ 127² with a long accumulator — exact
    * at any dim), admitted iff the quantized cosine clears
    * `threshold − eps_q − eps_m − 5e-5` (see the class scaladoc for why
    * no exact-qualifying pair can fail it). Mismatched dims and
    * zero-norm packs are never admitted — an undefined cosine never
    * clears a threshold. */
  def quantizedGatePasses(qc: Array[Byte], qn: Double, qeps: Double,
      mc: Array[Byte], mn: Double, meps: Double,
      threshold: Double): Boolean = {
    if (qc.length != mc.length || qn == 0.0 || mn == 0.0) return false
    var dot = 0L
    var j = 0
    while (j < qc.length) {
      dot += qc(j).toLong * mc(j).toLong
      j += 1
    }
    dot.toDouble / (qn * mn) >= threshold - qeps - meps - 5e-5
  }

  /** Column API: member ids surviving the quantized-cosine prefilter. */
  def bucket_cosine_hits_int8(query: Column, members: Column,
      threshold: Double): Column =
    GraftColumnBridge.toColumn(BucketCosineHitsInt8(
      GraftColumnBridge.toExpression(query),
      GraftColumnBridge.toExpression(members), threshold))
}
