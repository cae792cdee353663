package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Curation, Decontam, Dedup, Dsir, LangModel,
  TextRetrieval}

/** Mechanizes the Spread float-safety contract (r14 — VERDICT r13 item
  * 8): every operator that consumes a `Spread.across`-wrapped frame
  * must produce IDENTICAL results whatever the input partitioning,
  * because the spread's round-robin row→partition assignment is a
  * function of the input layout. The scaladoc rule ("spread only
  * stages whose results are partition-independent — never ahead of a
  * floating-point SUM or a mergeable sketch") was prose per call site;
  * this spec executes each spread-consuming operator at 1 vs 32 input
  * partitions and asserts bit-identical collected results, so a future
  * call site that violates the rule fails in `sbt test` instead of
  * drifting under a layout change.
  *
  * (With a repartitioned input Spread itself passes through — by
  * design; the contract under test is the CONSUMER's insensitivity to
  * the partitioning the spread imposes.)
  */
class SpreadSafetySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** ~60 docs with exact dups, near-dups, repeated k-grams and plain
    * prose — enough structure that every operator produces non-trivial
    * output. Deterministic. */
  private lazy val docs: DataFrame = {
    val base = (0L until 60L).map { i =>
      val filler = (0 until 30).map(j => s"w${(i * 7 + j * 3) % 23}")
        .mkString(" ")
      val text = i % 5 match {
        case 0 => s"the quick brown fox jumps over the lazy dog $filler"
        case 1 => s"the quick brown fox jumps over the lazy dog $filler" // exact dup of case 0 text at i-1? no: same filler pattern differs by i
        case 2 => s"pack my box with five dozen liquor jugs $filler extra tail words here"
        case 3 => s"repeat me repeat me repeat me repeat me $filler"
        case _ => s"unique document number $i with content $filler"
      }
      (i, text, if (i % 3 == 0) "en" else "de")
    }
    base.toDF("doc_id", "text", "lang")
  }

  private lazy val vecs: DataFrame =
    (0L until 50L).map { i =>
      val v = (0 until 8).map(d =>
        (math.sin(i * 0.7 + d) * 100).toFloat / 100f)
      (i, v)
    }.toDF("vec_id", "embedding")

  /** Collected, fully-rendered, sorted result — exact comparison. */
  private def snap(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Assert op(1-partition input) == op(32-partition input). */
  private def check(name: String)(op: DataFrame => DataFrame): Unit = {
    val one = snap(op(docs.repartition(1)))
    val many = snap(op(docs.repartition(32)))
    assert(one == many, s"$name results depend on input partitioning")
    assert(one.nonEmpty, s"$name produced no rows — vacuous check")
  }

  test("jaccard family is input-partitioning-independent") {
    check("jaccardPairs")(d =>
      Dedup.jaccardPairs(d, "text", "doc_id", n = 3, threshold = 0.2))
    check("jaccardPairsPrefix")(d =>
      Dedup.jaccardPairsPrefix(d, "text", "doc_id", n = 3,
        threshold = 0.2))
    check("dropJaccardDups")(d =>
      Dedup.dropJaccardDups(d, "text", "doc_id", n = 3, threshold = 0.2)
        .select("doc_id"))
  }

  test("minhash/LSH family is input-partitioning-independent") {
    check("minhashSignature")(d =>
      Dedup.minhashSignature(d, "text", "doc_id"))
    check("lshCandidatePairs")(d =>
      Dedup.lshCandidatePairs(d, "text", "doc_id"))
    check("docShingles")(d => Dedup.docShingles(d, "text", "doc_id"))
  }

  test("LM scorers are input-partitioning-independent") {
    check("trainUnigram+crossEntropy") { d =>
      val m = LangModel.trainUnigram(d.filter($"doc_id" % 3 =!= 0), "text")
      LangModel.crossEntropy(d, "doc_id", "text", m)
    }
    check("trainBigram+bigramCrossEntropy") { d =>
      val m = LangModel.trainBigram(d.filter($"doc_id" % 3 =!= 0), "text")
      LangModel.bigramCrossEntropy(d, "doc_id", "text", m)
    }
  }

  test("DSIR weights are input-partitioning-independent") {
    check("importanceWeights") { d =>
      val m = Dsir.trainHashedRatio(d.filter($"lang" === "en"), d, "text")
      Dsir.importanceWeights(d, "doc_id", "text", m)
    }
  }

  test("BM25 is input-partitioning-independent") {
    check("bm25") { d =>
      val idx = TextRetrieval.buildBm25(d, "doc_id", "text")
      TextRetrieval.bm25Search(idx, Seq("quick", "box"), k = 10)
    }
  }

  test("curation gate and decontam are input-partitioning-independent") {
    check("qualityGate")(d =>
      Curation.qualityGate(d, "text", Curation.Config(minTokens = 5)))
    check("contamination")(d =>
      Decontam.contamination(d, d.filter($"doc_id" % 7 === 0), "text",
        "doc_id"))
    check("topShinglesByDf")(d =>
      Decontam.topShinglesByDf(d, "text", n = 3, k = 10))
  }

  test("repeated k-gram spans are input-partitioning-independent") {
    check("repeatedKgramSpans")(d =>
      Dedup.repeatedKgramSpans(d, "text", "doc_id", k = 4, minCount = 2))
    check("scrubRepeatedSpans")(d =>
      Dedup.scrubRepeatedSpans(d, "text", "doc_id", k = 4, minCount = 2))
  }

  test("simhash is input-partitioning-independent") {
    check("simhash64Blocks")(d =>
      Dedup.simhash64Blocks(d, "text", "doc_id"))
  }

  test("the spread width decision is data-scaled") {
    // the width decision, at the bench session's shape (target = 32,
    // 128 MB splits, 32 KB/part default — the gate cannot fire live at
    // the suite's local[4], where scanTasks·4 >= 4 always):
    import graft.functions.Spread.spreadWidth
    val mb = 1L << 20
    // a single-split 600 KB corpus spreads to ~bytes/32 KB lanes
    assert(spreadWidth(BigInt(600 * 1024), 128 * mb, 32, 32768,
      perRowCorpusScaled = false) == Some(18))
    // tiny input: the 4·scanTasks floor keeps a genuine 4× spread
    assert(spreadWidth(BigInt(10 * 1024), 128 * mb, 32, 32768,
      perRowCorpusScaled = false) == Some(4))
    // per-row-corpus-scaled sites (pair scans) take full parallelism
    assert(spreadWidth(BigInt(600 * 1024), 128 * mb, 32, 32768,
      perRowCorpusScaled = true) == Some(32))
    // a corpus that already scans wide passes through (scale no-op)
    assert(spreadWidth(BigInt(2L * 1024 * mb), 128 * mb, 32, 32768,
      perRowCorpusScaled = false).isEmpty)
    // unknown stats (huge) pass through — the conservative direction
    assert(spreadWidth(BigInt(Long.MaxValue), 128 * mb, 32, 32768,
      perRowCorpusScaled = false).isEmpty)
  }

  test("exact cosine pairs are input-partitioning-independent") {
    val one = snap(Dedup.cosineDupPairsExact(
      vecs.repartition(1), "vec_id", "embedding", threshold = 0.2))
    val many = snap(Dedup.cosineDupPairsExact(
      vecs.repartition(32), "vec_id", "embedding", threshold = 0.2))
    assert(one == many,
      "cosineDupPairsExact results depend on input partitioning")
    assert(one.nonEmpty)
  }
}
