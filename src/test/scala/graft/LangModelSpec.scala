package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.LangModel
import graft.queries.Tables

/** Unigram LM scoring: hand-computed micro-nat NLLs, OOV fallback,
  * and partitioning insensitivity. The full pipeline is oracle-gated by
  * q_lm_score; these pin the arithmetic on corpora small enough to
  * check by hand.
  */
class LangModelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  /** The model's own rounding, driver-side. */
  private def micro(p: Double): Long =
    math.floor(-math.log(p) * 1e6 + 0.5).toLong
  private def r4(x: Double): Double =
    math.floor(x * 10000.0 + 0.5) / 10000.0

  test("trainUnigram: add-one NLLs over N + V + 1, hand-checked") {
    val m = LangModel.trainUnigram(docs(0L -> "a a b"), "text")
    assert(m.total == 3L && m.vocab == 2L)
    val t = m.table.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // denom = N + V + 1 = 6: p(a) = 3/6, p(b) = 2/6, p(oov) = 1/6
    assert(t == Map("a" -> micro(3.0 / 6), "b" -> micro(2.0 / 6)))
    assert(m.oovMicro == micro(1.0 / 6))
  }

  test("crossEntropy: integer mean of per-token NLLs with OOV fallback") {
    val m = LangModel.trainUnigram(docs(0L -> "a a b"), "text")
    val got = LangModel.crossEntropy(
        docs(1L -> "a b zzz", 2L -> "a a", 3L -> "   "),
        "doc_id", "text", m)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    val (na, nb, oov) = (micro(3.0 / 6), micro(2.0 / 6), micro(1.0 / 6))
    assert(got(1L) == ((r4((na + nb + oov) / 3.0 / 1e6), 3)))
    assert(got(2L) == ((r4(2 * na / 2.0 / 1e6), 2)))
    // whitespace-only text has no tokens -> no defined mean -> absent
    assert(!got.contains(3L))
  }

  test("reference corpus must be non-empty") {
    intercept[IllegalArgumentException] {
      LangModel.trainUnigram(docs(0L -> "  "), "text")
    }
  }

  test("bigram model: hand-computed conditional NLLs, unseen pair and " +
      "unseen context fallbacks, short docs absent") {
    // train: "a b a b c" -> bigrams ab:1? no: (a b):2? tokens a,b,a,b,c
    // bigrams: "a b","b a","a b","b c" -> c2: {"a b":2, "b a":1, "b c":1}
    // ctx: a->2, b->2; V = 3 (a, b, c)
    val m = LangModel.trainBigram(docs(0L -> "a b a b c"), "text")
    assert(m.vocab == 3L)
    val c2 = m.pairs.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c2 == Map("a b" -> 2L, "b a" -> 1L, "b c" -> 1L))
    val cx = m.ctx.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cx == Map("a" -> 2L, "b" -> 2L))
    // score "a b z c": bigrams "a b" (seen), "b z" (unseen pair, seen
    // ctx), "z c" (unseen ctx)
    val got = LangModel.bigramCrossEntropy(
        docs(1L -> "a b z c", 2L -> "solo", 3L -> null), "doc_id", "text", m)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(got.map(_._1).toSeq == Seq(1L), "sub-2-token docs absent")
    val nll = Seq(
      micro(3.0 / 6),  // p(b|a) = (2+1)/(2+3+1)
      micro(1.0 / 6),  // p(z|b) = (0+1)/(2+3+1)
      micro(1.0 / 4))  // p(c|z) = (0+1)/(0+3+1)
    assert(got.head._2 == r4(nll.sum.toDouble / 1e6 / 3) &&
      got.head._3 == 3)
  }

  test("bigram scoring is insensitive to partitioning") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter($"doc_id" < 120)
    def run(parts: Int): Map[Long, Double] = {
      val dd = d.repartition(parts)
      val m = LangModel.trainBigram(dd.filter($"doc_id" % 2 === 0), "text")
      LangModel.bigramCrossEntropy(dd, "doc_id", "text", m)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(run(1) == run(11))
  }

  test("training and scoring are insensitive to partitioning") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .filter($"doc_id" < 200)
    def run(parts: Int): Map[Long, Double] = {
      val dd = d.repartition(parts)
      val m = LangModel.trainUnigram(dd.filter($"doc_id" % 2 === 0), "text")
      LangModel.crossEntropy(dd, "doc_id", "text", m)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val r1 = run(1)
    assert(r1 == run(13))
    // every real doc has tokens, so every doc is scored
    assert(r1.size == d.count())
  }
}
