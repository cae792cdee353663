package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dsir, UrlOps}
import graft.sources.JsonlStore

/** Contracts of the corpus-selection layer: DSIR importance weights,
  * URL/domain gating, and the JSONL interchange boundary (the composed
  * query results are oracle-gated by q_dsir / q_url_filter /
  * q_jsonl_roundtrip; these pin the operator semantics on hand-built
  * corpora).
  */
class CorpusSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  // ---- DSIR ----------------------------------------------------------

  test("dsir weights rank target-like docs above raw-like docs") {
    val targetPhrase = "the quick brown fox jumps over the lazy dog again"
    val rawPhrase = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val target = docs((0L until 20L).map(i => i -> targetPhrase): _*)
    val raw = docs(
      (100L until 110L).map(i => i -> rawPhrase) :+
        (200L -> targetPhrase) :+ (201L -> rawPhrase): _*)
    val model = Dsir.trainHashedRatio(target, raw, "text")
    val w = Dsir.importanceWeights(raw, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w(200L) > w(201L),
      s"target-phrase doc must outweigh raw-phrase doc: $w")
    assert(w(200L) > 0 && w(201L) < 0,
      s"signs must separate target-like from raw-only: $w")
  }

  test("dsir: docs under two words have no features; weights are " +
      "partitioning-insensitive") {
    val target = docs(0L -> "alpha beta gamma delta")
    val raw = docs(1L -> "alpha beta", 2L -> "single", 3L -> "",
      4L -> "alpha beta gamma")
    val model = Dsir.trainHashedRatio(target, raw, "text")
    def run(parts: Int): Map[Long, (Long, Long)] =
      Dsir.importanceWeights(raw.repartition(parts), "doc_id", "text", model)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    val r = run(1)
    assert(!r.contains(2L) && !r.contains(3L),
      "featureless docs are absent")
    assert(r(1L)._2 == 1L && r(4L)._2 == 2L, "bigram counts")
    assert(r == run(5))
  }

  test("dsir model: default lambda only for out-of-corpus buckets") {
    val target = docs(0L -> "aa bb cc")
    val raw = docs(1L -> "aa bb", 2L -> "dd ee")
    val model = Dsir.trainHashedRatio(target, raw, "text")
    // every raw bucket is in the table -> left join never defaults
    val n = model.table.count()
    assert(n >= 3, s"union of observed buckets, got $n")
    // scoring a doc OUTSIDE raw exercises the default path and still
    // yields a deterministic finite weight
    val out = Dsir.importanceWeights(
      docs(9L -> "zz yy xx ww"), "doc_id", "text", model)
      .collect()
    assert(out.length == 1 && out(0).getLong(2) == 3L)
    // the defaultMicro branch: a 3-bigram model makes bucket absence
    // certain, so every one of an out-of-corpus doc's 11 bigram
    // features takes the default λ
    val tiny = Dsir.trainHashedRatio(docs(0L -> "aa bb cc"),
      docs(1L -> "aa bb", 2L -> "dd ee"), "text")
    val oov = docs(7777L -> "zz yy xx ww vv uu tt ss rr qq pp oo")
    val oovBatch = Dsir.importanceWeights(oov, "doc_id", "text", tiny)
      .head().getLong(1)
    assert(oovBatch == 11L * tiny.defaultMicro)
  }

  // ---- UrlOps --------------------------------------------------------

  test("hostOf handles scheme case, userinfo, ports, paths, and junk") {
    val cases = Seq(
      "https://www.Site.COM/path?q=1" -> "www.site.com",
      "HTTPS://a.b.example.org:8443/x" -> "a.b.example.org",
      "ftp://user:pw@files.example.net/dir" -> "files.example.net",
      "http://localhost/admin" -> "localhost",
      "not a url at all" -> null,
      "/relative/path/only" -> null)
    val got = cases.map(_._1).toDF("url")
      .select(UrlOps.hostOf(col("url"))).collect().map(r =>
        if (r.isNullAt(0)) null else r.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  test("registeredDomain takes the last two labels, dotless pass through") {
    val cases = Seq(
      "www.site.com" -> "site.com",
      "a.b.c.example.org" -> "example.org",
      "localhost" -> "localhost")
    val got = cases.map(_._1).toDF("h")
      .select(UrlOps.registeredDomain(col("h"))).collect()
      .map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
  }

  test("domainGate: blocklist, unparsed drop, and per-domain cap") {
    val d = (0L until 30L).map(i =>
      i -> s"https://www.d${i % 3}.com/p/$i")
      .toDF("doc_id", "url")
      .union(Seq((90L, "garbage-no-scheme"),
        (91L, "https://blocked.net/x")).toDF("doc_id", "url"))
    val block = Seq("blocked.net").toDF("domain")
    val out = UrlOps.domainGate(d, "doc_id", "url", block, capPerDomain = 5)
      .select("doc_id", "domain").collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).toSet)
      .toMap
    assert(out.keySet == Set("d0.com", "d1.com", "d2.com"),
      s"blocked + unparsed must vanish: ${out.keySet}")
    assert(out.values.forall(_.size == 5), "each domain capped at 5")
  }

  // ---- cross-corpus LSH ----------------------------------------------

  test("lshCandidatePairsAcross agrees with the union self-join on " +
      "every cross pair") {
    import graft.functions.Dedup
    val d = graft.queries.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 300)
    val left = d.filter(col("doc_id") % 3 =!= 0)
    val right = d.filter(col("doc_id") % 3 === 0)
    val cross = Dedup.lshCandidatePairsAcross(left, right, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the self-join over the union, restricted to one-id-per-side
    // pairs, must produce the same set (as unordered pairs)
    val self = Dedup.lshCandidatePairs(d, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 3 == 0) != (b % 3 == 0) }
      .map { case (a, b) => if (a % 3 != 0) (a, b) else (b, a) }.toSet
    assert(cross == self && cross.nonEmpty,
      s"cross ${cross.size} vs self-derived ${self.size}")
    // sides are disjoint by construction here, so no self-pairs
    assert(cross.forall { case (a, b) => a % 3 != 0 && b % 3 == 0 })
  }

  // ---- QualityClassifier ---------------------------------------------

  test("classifier training separates clean text from junk; exported " +
      "weights drive the portable gate") {
    import graft.functions.QualityClassifier
    val clean = "the cat and the dog walk to the old market in town " +
      "with a basket of fresh bread for the morning trade"
    val junk = "$$$ ### @@@ !!! %%% ^^^ &&& *** ((( ))) ~~~ ``` |||"
    val labeled = ((0L until 40L).map(i => (i, s"$clean item $i", 1.0)) ++
      (100L until 140L).map(i => (i, s"$junk $i", 0.0)))
      .toDF("doc_id", "text", "label")
    val m = QualityClassifier.train(labeled, "text", "label")
    // the trained model must separate the two populations cleanly
    val scored = labeled.select(col("label"),
        QualityClassifier.score(col("text"), m).as("s")).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1))
    val cleanMin = scored.filter(_._1 == 1.0).map(_._2).min
    val junkMax = scored.filter(_._1 == 0.0).map(_._2).max
    assert(cleanMin > junkMax,
      s"separation failed: clean min $cleanMin <= junk max $junkMax")
    // the gate keeps exactly the population above threshold
    val thr = (cleanMin + junkMax) / 2
    val kept = QualityClassifier.gate(labeled, "text", m, thr)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 40L).toSet)
    // null text scores null and is never kept
    val n = QualityClassifier.gate(
      docs(9L -> null.asInstanceOf[String]), "text", m, 0.0).count()
    assert(n == 0)
  }

  test("classifier score is partitioning-insensitive and respects the " +
      "documented accumulation order") {
    import graft.functions.QualityClassifier
    val m = QualityClassifier.QualityModel(
      Seq(3.0, -0.1, -5.0, 1.5), bias = -0.5)
    val d = graft.queries.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 200)
    def run(parts: Int): Map[Long, Double] =
      d.repartition(parts).select(col("doc_id"),
          QualityClassifier.score(col("text"), m).as("s"))
        .filter(col("s").isNotNull)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val r1 = run(1)
    assert(r1 == run(7) && r1.nonEmpty)
    assert(r1.values.forall(s => s >= 0.0 && s <= 1.0))
  }

  // ---- JsonlStore ----------------------------------------------------

  val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  test("jsonl round-trips unicode, newlines, quotes, and nulls") {
    val d = docs(
      0L -> "plain ascii text",
      1L -> "unicode: 你好世界 — ümlauts, emoji ✨",
      2L -> "embedded\nnewline and \"quotes\" and \\backslash",
      3L -> null.asInstanceOf[String])
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    try {
      JsonlStore.write(d, s"$dir/out", codec = Some("gzip"))
      // gzip actually applied
      val files = new java.io.File(s"$dir/out").listFiles()
        .filter(_.getName.endsWith(".json.gz"))
      assert(files.nonEmpty, "compressed part files expected")
      val back = JsonlStore.read(spark, s"$dir/out", schema)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getString(1))).toMap
      val want = d.collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1))).toMap
      assert(back == want)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("readPermissive quarantines corrupt lines instead of failing") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    try {
      val p = java.nio.file.Paths.get(dir, "mixed.json")
      java.nio.file.Files.write(p,
        ("""{"doc_id": 1, "text": "good row"}""" + "\n" +
          """{"doc_id": 2 "text": "missing comma"}""" + "\n" +
          """{"doc_id": 3, "text": "also good"}""" + "\n")
          .getBytes("UTF-8"))
      // cache first: Spark disallows queries over raw files that touch
      // ONLY the corrupt column (the bad-count below does exactly that)
      val back = JsonlStore.readPermissive(spark, p.toString, schema).cache()
      val good = back.filter(col("_corrupt_record").isNull)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val bad = back.filter(col("_corrupt_record").isNotNull).count()
      assert(good == Set(1L, 3L) && bad == 1)
      // strict read on the same file fails the job
      intercept[org.apache.spark.SparkException] {
        JsonlStore.read(spark, p.toString, schema).collect()
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // ---- count–min sketch ----------------------------------------------

  test("tokenCms never underestimates and is exact when collision-free") {
    import graft.functions.Decontam
    val d = docs(
      1L -> "alpha alpha alpha beta beta gamma",
      2L -> "alpha beta delta delta",
      3L -> "gamma gamma epsilon")
    val exact = Map("alpha" -> 4L, "beta" -> 3L, "gamma" -> 3L,
      "delta" -> 2L, "epsilon" -> 1L)
    // wide sketch (eps 1e-4 → width 20000 ≫ 5 distinct tokens): no
    // collisions are possible, estimates EQUAL exact counts
    val wide = Decontam.tokenCms(d, "text")
    assert(wide.totalCount() == 13L)
    exact.foreach { case (t, n) => assert(wide.estimateCount(t) == n) }
    // a deliberately tiny sketch (width 2): collisions guaranteed,
    // but CMS still NEVER underestimates
    val tiny = Decontam.tokenCms(d, "text", eps = 1.0, confidence = 0.5)
    exact.foreach { case (t, n) => assert(tiny.estimateCount(t) >= n) }
    // the audit frame carries both guarantees as flags; on the wide
    // sketch both must hold for every heavy hitter
    val audit = Decontam.cmsHeavyHitters(d, "text", k = 3).collect()
    assert(audit.map(_.getString(0)).toSeq == Seq("alpha", "beta", "gamma"))
    assert(audit.forall(r => r.getInt(2) == 1 && r.getInt(3) == 1))
    // same seed → same sketch: estimates are deterministic
    val again = Decontam.tokenCms(d, "text")
    exact.keys.foreach(t =>
      assert(again.estimateCount(t) == wide.estimateCount(t)))
  }
}
