package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Curation, Decontam, Pii}
import graft.queries.Tables

/** Corpus-governance operators: decontamination, PII scrub, mixture
  * sampling, boilerplate mining (the composed queries are oracle-gated;
  * these pin the operator contracts on hand-built corpora).
  */
class GovernanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // ---- PII ----------------------------------------------------------

  test("Pii counts and redacts emails, IPv4s, and phones") {
    val t = "write bob.smith+x@corp.example.org or call 555-123-4567 " +
      "from 10.0.200.41 and 192.168.1.1"
    val r = Seq((1L, t)).toDF("id", "t")
      .select(Pii.emailCount($"t").as("e"), Pii.ipv4Count($"t").as("i"),
        Pii.phoneCount($"t").as("p"), Pii.redact($"t").as("red"))
      .head()
    assert(r.getInt(0) == 1 && r.getInt(1) == 2 && r.getInt(2) == 1)
    assert(r.getString(3) ==
      "write <EMAIL> or call <PHONE> from <IP> and <IP>")
  }

  test("Pii redaction is idempotent and placeholder-safe") {
    val t = "mail a@b.co ip 1.2.3.4 tel 555-000-1111"
    val once = Seq(t).toDF("t").select(Pii.redact($"t").as("r"))
    val twice = once.select(Pii.redact($"r").as("r"))
    assert(once.head().getString(0) == twice.head().getString(0))
  }

  test("Pii leaves clean text untouched") {
    val t = "no personal data here just words and 42 numbers"
    assert(Seq(t).toDF("t").select(Pii.redact($"t")).head().getString(0) == t)
  }

  // ---- decontamination ----------------------------------------------

  def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  test("contamination counts distinct overlapping shingles per doc") {
    val bench = docs(100L -> "alpha beta gamma delta epsilon")
    val corpus = docs(
      // shares "alpha beta gamma" and "beta gamma delta" -> 2 of 4
      1L -> "alpha beta gamma delta zeta eta",
      // no 3-gram overlap
      2L -> "one two three four five",
      // repeats the contaminated shingle; distinct => 1 of 4 distinct
      3L -> "alpha beta gamma x alpha beta gamma")
    val r = Decontam.contamination(corpus, bench, "text", "doc_id",
        n = 3, flagThreshold = 0.3)
      .orderBy("doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(r.map(_.getLong(1)).toSeq == Seq(2L, 0L, 1L))   // n_overlap
    assert(r.map(_.getInt(2)).toSeq == Seq(4, 3, 4))       // n_shingles
    assert(r.map(_.getInt(4)).toSeq == Seq(1, 0, 0))       // flag at 0.3
  }

  test("contamination excludes docs below the shingle width") {
    val r = Decontam.contamination(
      docs(1L -> "too short"), docs(9L -> "alpha beta gamma"),
      "text", "doc_id")
    assert(r.count() == 0)
  }

  // ---- boilerplate mining -------------------------------------------

  test("topShinglesByDf ranks by document frequency, once per doc") {
    val d = docs(
      1L -> "the same line here the same line here", // dup shingle: df 1
      2L -> "the same line here plus extra words",
      3L -> "the same line here plus extra words tail")
    val top = Decontam.topShinglesByDf(d, "text", n = 3, k = 2).collect()
    // df 3 for both "the same line" and "same line here" (doc 1 repeats
    // them but distinct-per-doc counts once); tie broken by shingle asc
    assert(top.head.getString(0) == "same line here" &&
      top.head.getLong(1) == 3L)
    assert(top(1).getString(0) == "the same line" &&
      top(1).getLong(1) == 3L)
  }

  // ---- mixture sampling ---------------------------------------------

  val domains = Seq("en", "de", "es")
  def mixCorpus(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong, domains(i % 3), s"doc $i"))
      .toDF("doc_id", "lang", "text")

  test("sampleMixture keeps exactly the quota per domain") {
    val kept = Curation.sampleMixture(mixCorpus(300), "doc_id", "lang",
        Map("en" -> 40L, "de" -> 10L))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept == Map("en" -> 40L, "de" -> 10L)) // es: no quota -> dropped
  }

  test("sampleMixture bucket-offset rank equals the single-window rank") {
    val d = mixCorpus(240)
    val quotas = Map("en" -> 17L, "de" -> 5L, "es" -> 29L)
    val got = Curation.sampleMixture(d, "doc_id", "lang", quotas)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val w = Window.partitionBy($"lang")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    val naive = d.withColumn("rn", row_number().over(w))
      .withColumn("q",
        when($"lang" === "en", 17).when($"lang" === "de", 5).otherwise(29))
      .filter($"rn" <= $"q").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == naive)
  }

  test("sampleMixture is partitioning-insensitive") {
    val d = mixCorpus(240)
    val quotas = Map("en" -> 20L, "es" -> 20L)
    def ids(df: DataFrame) =
      Curation.sampleMixture(df, "doc_id", "lang", quotas)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(d.repartition(13)) == ids(d.coalesce(1)))
  }

  test("sampleMixture caps at domain size when quota exceeds it") {
    val kept = Curation.sampleMixture(mixCorpus(30), "doc_id", "lang",
      Map("en" -> 1000L)).count()
    assert(kept == 10)
  }

  // ---- token-budget sampling ----------------------------------------

  def tokCorpus(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong,
      Seq.fill(3 + i % 7)("w").mkString(" "))).toDF("doc_id", "text")

  test("sampleToTokenBudget keeps the md5-order prefix within budget") {
    val d = tokCorpus(200)
    val got = Curation.sampleToTokenBudget(d, "doc_id", "text", 300L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // naive single-window running sum as ground truth
    val w = Window.orderBy(md5($"doc_id".cast("string")), $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = d
      .withColumn("cum", sum(size(split($"text", "\\s+")).cast("long")).over(w))
      .filter($"cum" <= 300L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == naive && got.nonEmpty && got.size < 200)
  }

  test("sampleToTokenBudget keeps everything when the budget covers it") {
    val d = tokCorpus(50)
    assert(Curation.sampleToTokenBudget(d, "doc_id", "text", 100000L)
      .count() == 50)
  }

  test("sampleToTokenFraction equals an explicit budget of the same total") {
    val d = tokCorpus(100)
    val total = d.agg(sum(size(split($"text", "\\s+")).cast("long")))
      .head().getLong(0)
    def ids(df: DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(Curation.sampleToTokenFraction(d, "doc_id", "text", 25L)) ==
      ids(Curation.sampleToTokenBudget(d, "doc_id", "text", total * 25 / 100)))
  }

  test("sampleToTokenBudget treats null text as zero tokens, no NPE") {
    val d = Seq((1L, "a b c d e"), (2L, null), (3L, "x y z"))
      .toDF("doc_id", "text")
    assert(Curation.sampleToTokenBudget(d, "doc_id", "text", 1000L)
      .count() == 3)
    val allNull = Seq((9L, null: String)).toDF("doc_id", "text")
    assert(Curation.sampleToTokenBudget(allNull, "doc_id", "text", 0L)
      .count() == 1)
  }

  test("sampleToTokenBudget is partitioning-insensitive") {
    val d = tokCorpus(200)
    def ids(df: DataFrame) =
      Curation.sampleToTokenBudget(df, "doc_id", "text", 400L)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(d.repartition(17)) == ids(d.coalesce(1)))
  }

  // ---- token-budget sharding ----------------------------------------

  /** Reference shard assignment: driver-side fold over (md5(id), id)
    * order, raw cuts densified — the semantics packShards must
    * reproduce distributed. */
  private def foldShards(rows: Seq[(Long, Int)],
      budget: Long): Map[Long, Long] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    var cum = 0L
    val raw = rows.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .map { case (id, toks) =>
        val shard = cum / budget; cum += toks; id -> shard
      }
    val dense = raw.map(_._2).distinct.sorted.zipWithIndex.toMap
    raw.map { case (id, s) => id -> dense(s).toLong }.toMap
  }

  test("packShards matches the driver-side exclusive-cumsum fold") {
    val rows = (0L to 30L).map(i => i -> (i % 7 + 1).toInt)
    val d = docs(rows.map { case (i, n) =>
      i -> Seq.fill(n)("tok").mkString(" ") }: _*)
    val got = Curation.packShards(d, "doc_id", "text", 10L)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == foldShards(rows, 10L))
    // shard ids are dense from 0
    val ids = got.values.toSet
    assert(ids == (0L until ids.size).toSet)
  }

  test("packShards: oversized docs keep shard ids dense") {
    // one doc far larger than the budget would leave raw gaps behind
    // it — the dense remap must close them (the ShardStore stream-
    // shards-in-order contract)
    val rows = (0L to 12L).map(i =>
      i -> (if (i % 4 == 0) 35 else (i % 5 + 1)).toInt)
    val d = docs(rows.map { case (i, n) =>
      i -> Seq.fill(n)("tok").mkString(" ") }: _*)
    val got = Curation.packShards(d, "doc_id", "text", 10L)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == foldShards(rows, 10L))
    val ids = got.values.toSet
    assert(ids == (0L until ids.size).toSet, s"not dense: $ids")
  }

  test("packShards: a budget beyond the corpus is one shard 0") {
    val d = docs(1L -> "a b c", 2L -> "d e")
    val shards = Curation.packShards(d, "doc_id", "text", 1000L)
      .select("shard").collect().map(_.getLong(0)).toSet
    assert(shards == Set(0L))
  }

  test("packShards: null text counts zero tokens and still lands in a shard") {
    val d = Seq((1L, "a b c"), (2L, null: String), (3L, "d e f"))
      .toDF("doc_id", "text")
    val got = Curation.packShards(d, "doc_id", "text", 4L)
    assert(got.count() == 3)
    assert(got.filter($"doc_id" === 2L).select("shard").head().getLong(0) >= 0)
  }

  test("packShards is insensitive to partitioning") {
    val d = docs((0L to 40L).map(i =>
      i -> Seq.fill((i % 5 + 1).toInt)("w").mkString(" ")): _*)
    def run(parts: Int): Map[Long, Long] =
      Curation.packShards(d.repartition(parts), "doc_id", "text", 7L)
        .select("doc_id", "shard").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(1) == run(11))
  }

  test("ShardStore round-trips packShards with one file per shard dir") {
    import graft.sources.ShardStore
    val d = docs((0L to 40L).map(i =>
      i -> Seq.fill((i % 5 + 1).toInt)("w").mkString(" ")): _*)
    val path = java.nio.file.Files
      .createTempDirectory("graft_shards").toString
    val n = ShardStore.write(d, "doc_id", "text", path, shardTokens = 20L)
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(dirs.length == n)
    dirs.foreach { dir =>
      val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1, s"${dir.getName}: ${parts.length} files")
    }
    // membership round-trips exactly against the in-memory packer
    val want = Curation.packShards(d, "doc_id", "text", 20L)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = ShardStore.read(spark, path)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  // ---- normalization --------------------------------------------------

  test("normalizeText canonicalizes case, punctuation, and whitespace") {
    import graft.functions.TextAnalysis
    val cases = Seq(
      "Hello,  World!" -> "hello world",
      "  a--b__c  " -> "a b c",
      "ALL CAPS 42" -> "all caps 42",
      // Unicode letters survive the canon — CJK and accents are text,
      // not punctuation
      "Héllo, Wörld! 的是在" -> "héllo wörld 的是在",
      "!!!" -> "")
    val got = cases.map(_._1).toDF("t")
      .select(TextAnalysis.normalizeText($"t")).collect().map(_.getString(0))
    assert(got.toSeq == cases.map(_._2))
    // normalized variants key identically for dedup
    val k = Seq("Hello,  World! Extra words for the prefix key here OK",
        "hello world extra words for the prefix key here ok")
      .toDF("t")
      .select(TextAnalysis.prefixKey(TextAnalysis.normalizeText($"t")))
      .distinct().count()
    assert(k == 1)
  }

  test("dedupKeepFirst normalizeKeys collapses case/punct variants") {
    val d = docs(
      5L -> "Hello, World! Extra words for the prefix key here OK",
      2L -> "hello world extra words for the prefix key here ok",
      9L -> "a different document entirely with many other words")
    val raw = Curation.dedupKeepFirst(d, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(raw == Set(2L, 5L, 9L)) // case-sensitive keys: no collapse
    val norm = Curation.dedupKeepFirst(d, "doc_id", "text",
        normalizeKeys = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(norm == Set(2L, 9L)) // variants collapse; min id survives
  }

  // ---- dedup ledger --------------------------------------------------

  test("DedupLedger: write, filterNew, append, idempotent re-append") {
    import graft.sources.DedupLedger
    val path = java.nio.file.Files.createTempDirectory("graft_ledger")
      .toString
    val seed = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota",
      2L -> "one two three four five six seven eight nine")
    DedupLedger.write(seed, "text", path)
    val batch = docs(
      // same 8-word prefix as seed doc 1 with a new tail -> seen
      10L -> "alpha beta gamma delta epsilon zeta eta theta NEW TAIL",
      11L -> "completely fresh document with eight leading words here")
    val fresh = DedupLedger.append(spark, batch, "text", path)
    assert(fresh.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(11L))
    // the batch's own keys are now sealed: re-ingesting returns nothing
    val second = DedupLedger.append(spark, batch, "text", path)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(second == Set.empty[Long],
      s"second append leaked $second; ledger = " +
        spark.read.parquet(s"$path/keys").collect().mkString(", "))
    // a third doc sharing 11's full 8-word prefix is also seen now
    val again = docs(
      12L -> "completely fresh document with eight leading words here TAIL")
    assert(DedupLedger.filterNew(spark, again, "text", path).count() == 0)
  }

  test("DedupLedger bloom gate equals the plain anti-join exactly") {
    import graft.sources.DedupLedger
    val path = java.nio.file.Files.createTempDirectory("graft_bloom")
      .toString
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    DedupLedger.write(d.filter($"doc_id" % 2 === 0), "text", path)
    def ids(df: DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val plain = ids(DedupLedger.filterNew(spark, d, "text", path))
    val bloom = ids(DedupLedger.filterNewBloom(spark, d, "text", path))
    assert(bloom == plain && plain.nonEmpty)
    // NO false negatives even at an absurd fpp: every seen key is
    // still caught by the residual anti-join
    val sloppy = ids(DedupLedger.filterNewBloom(spark, d, "text", path,
      fpp = 0.5))
    assert(sloppy == plain)
    // after an append, a fresh gate reflects the new keys
    DedupLedger.append(spark,
      docs(9001L -> "brand new nine word document for the bloom test"),
      "text", path)
    val after = ids(DedupLedger.filterNewBloom(spark,
      docs(9002L ->
        "brand new nine word document for the bloom test AGAIN"),
      "text", path))
    assert(after == Set.empty[Long])
    // an empty ledger passes everything through
    val empty = java.nio.file.Files.createTempDirectory("graft_bloom0")
      .toString
    DedupLedger.write(docs(), "text", empty)
    assert(ids(DedupLedger.filterNewBloom(spark, d, "text", empty)) ==
      ids(d))
  }

  test("DedupLedger bootstraps from an empty seed and seals null text") {
    import graft.sources.DedupLedger
    val path = java.nio.file.Files.createTempDirectory("graft_ledger_e")
      .toString
    // day-one seed that matched nothing: only _SUCCESS on disk
    DedupLedger.write(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "text", path, bucketChars = 1)
    val b1 = Seq((1L, null: String), (2L, "real text with actual words"))
      .toDF("doc_id", "text")
    assert(DedupLedger.append(spark, b1, "text", path).count() == 2)
    // the null-text key is a real (coalesced) key: later nulls are seen
    assert(DedupLedger.filterNew(spark,
      Seq((3L, null: String)).toDF("doc_id", "text"), "text", path)
      .count() == 0)
    // batch dedup agrees: one survivor among null-text docs
    val batch = Curation.dedupKeepFirst(
      Seq((7L, null: String), (4L, null: String), (9L, "other words here"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch == Set(4L, 9L))
  }

  test("DedupLedger compact: one file per bucket, same keys") {
    import graft.sources.DedupLedger
    val path = java.nio.file.Files.createTempDirectory("graft_ledger_c")
      .toString
    DedupLedger.write(docs(1L -> "alpha beta gamma delta"), "text", path,
      bucketChars = 1)
    // three appends -> up to three files in any touched bucket dir
    for (i <- 2 to 4)
      DedupLedger.append(spark,
        docs(i.toLong * 10 -> s"unique document number $i with words"),
        "text", path)
    val before = spark.read.parquet(s"$path/keys")
      .select("key").collect().map(_.getString(0)).toSet
    def filesPerDir = new java.io.File(s"$path/keys").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(DedupLedger.compact(spark, path) == before.size)
    assert(filesPerDir.forall(_ == 1) && filesPerDir.nonEmpty)
    val after = spark.read.parquet(s"$path/keys")
      .select("key").collect().map(_.getString(0)).toSet
    assert(after == before)
    // the compacted ledger still answers correctly (doc 1 has < 8
    // words, so only an identical text shares its prefix key)
    assert(DedupLedger.filterNew(spark,
      docs(99L -> "alpha beta gamma delta"), "text", path)
      .count() == 0)
  }

  test("DedupLedger append adopts the stored bucket width") {
    import graft.sources.DedupLedger
    val path = java.nio.file.Files.createTempDirectory("graft_ledger_w")
      .toString
    DedupLedger.write(docs(1L -> "alpha beta gamma delta"), "text", path,
      bucketChars = 1)
    DedupLedger.append(spark,
      docs(2L -> "five six seven eight nine ten eleven twelve"), "text",
      path)
    val widths = spark.read.parquet(s"$path/keys")
      .select(length($"bucket")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(widths == Set(2)) // "b" + 1 hex char; no mixed widths
    assert(DedupLedger.filterNew(spark,
      docs(3L -> "five six seven eight nine ten eleven twelve TAIL"),
      "text", path).count() == 0)
  }

  // ---- near-dup ledger -----------------------------------------------

  private def idsOf(df: DataFrame) =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("NearDupLedger: filterNew matches the cross-LSH candidate rule") {
    import graft.functions.Dedup
    import graft.sources.NearDupLedger
    val path = java.nio.file.Files.createTempDirectory("graft_ndl")
      .toString
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val evens = d.filter($"doc_id" % 2 === 0)
    NearDupLedger.write(evens, "text", "doc_id", path, bucketChars = 1)
    // survivors = batch minus every doc appearing as `a` in the
    // cross-corpus LSH candidate report — the two paths must make the
    // SAME keep decisions
    val survivors = idsOf(
      NearDupLedger.filterNew(spark, d, "text", "doc_id", path))
    val shadowed = Dedup.lshCandidatePairsAcross(d, evens, "text", "doc_id")
      .select("a").collect().map(_.getLong(0)).toSet
    assert(survivors == (idsOf(d) -- shadowed) && survivors.nonEmpty)
    // and candidatePairs reports the identical pair set
    def pairSet(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(NearDupLedger.candidatePairs(spark, d, "text",
        "doc_id", path)) ==
      pairSet(Dedup.lshCandidatePairsAcross(d, evens, "text", "doc_id")))
  }

  test("NearDupLedger: append seals survivors; short texts always pass") {
    import graft.sources.NearDupLedger
    val path = java.nio.file.Files.createTempDirectory("graft_ndl_a")
      .toString
    NearDupLedger.write(docs(1L -> "alpha beta gamma delta epsilon zeta"),
      "text", "doc_id", path, bucketChars = 1)
    val batch = docs(
      10L -> "alpha beta gamma delta epsilon zeta", // exact dup of history
      11L -> "totally different words about completely other topics",
      12L -> "too short") // < 3 words: no shingles, no band rows
    val fresh = idsOf(
      NearDupLedger.append(spark, batch, "text", "doc_id", path))
    assert(fresh == Set(11L, 12L))
    // 11's bands are sealed; 12 never claims ledger space so it passes
    // again (compose with DedupLedger for exact dedup of short texts)
    assert(idsOf(NearDupLedger.append(spark, batch, "text", "doc_id",
      path)) == Set(12L))
    // an identical-signature copy of a SURVIVOR is shadowed now
    assert(idsOf(NearDupLedger.filterNew(spark,
      docs(13L -> "totally different words about completely other topics"),
      "text", "doc_id", path)).isEmpty)
  }

  test("NearDupLedger rejects a non-integral idCol loudly") {
    import graft.sources.NearDupLedger
    val path = java.nio.file.Files.createTempDirectory("graft_ndl_s")
      .toString
    val stringIds = Seq(("u-1", "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      NearDupLedger.write(stringIds, "text", "doc_id", path)
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("NearDupLedger bloom gate equals the plain keyed join exactly") {
    import graft.sources.NearDupLedger
    val path = java.nio.file.Files.createTempDirectory("graft_ndl_b")
      .toString
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    NearDupLedger.write(d.filter($"doc_id" % 2 === 0), "text", "doc_id",
      path, bucketChars = 1)
    val plain = idsOf(NearDupLedger.filterNew(spark, d, "text", "doc_id",
      path))
    assert(idsOf(NearDupLedger.filterNewBloom(spark, d, "text", "doc_id",
      path)) == plain && plain.nonEmpty)
    // NO false negatives even at an absurd fpp: every true collision
    // is still caught by the residual join
    assert(idsOf(NearDupLedger.filterNewBloom(spark, d, "text", "doc_id",
      path, fpp = 0.5)) == plain)
    // a fresh gate sees appended keys
    NearDupLedger.append(spark,
      docs(9001L -> "brand new nine word document for the bloom test"),
      "text", "doc_id", path)
    assert(idsOf(NearDupLedger.filterNewBloom(spark,
      docs(9002L -> "brand new nine word document for the bloom test"),
      "text", "doc_id", path)).isEmpty)
    // empty ledger passes everything through
    val e = java.nio.file.Files.createTempDirectory("graft_ndl_b0")
      .toString
    NearDupLedger.write(docs(), "text", "doc_id", e, bucketChars = 1)
    assert(idsOf(NearDupLedger.filterNewBloom(spark, d, "text", "doc_id",
      e)) == idsOf(d))
  }

  test("DedupLedger: readers use the STORED prefix-word rule") {
    import graft.sources.DedupLedger
    val path = java.nio.file.Files.createTempDirectory("graft_dl_pw")
      .toString
    // seed under a 4-word key rule
    DedupLedger.write(docs(1L -> "alpha beta gamma delta EXTRA TAIL"),
      "text", path, prefixWords = 4, bucketChars = 1)
    // a doc sharing only the FIRST FOUR words: under the call-site
    // default (8) its key would differ and it would pass; the stored
    // rule (4) catches it
    assert(DedupLedger.filterNew(spark,
      docs(2L -> "alpha beta gamma delta something else entirely here"),
      "text", path).count() == 0)
  }

  test("NearDupLedger: readers use the STORED hash-family geometry") {
    import graft.sources.NearDupLedger
    val path = java.nio.file.Files.createTempDirectory("graft_ndl_g")
      .toString
    // seed under 2-gram shingles: a two-word doc HAS a signature
    NearDupLedger.write(docs(1L -> "alpha beta"), "text", "doc_id", path,
      n = 2, bucketChars = 1)
    // under the call-site default n = 3 this copy would produce no
    // shingles and sail through; the stored n = 2 catches it
    assert(idsOf(NearDupLedger.filterNew(spark, docs(10L -> "alpha beta"),
      "text", "doc_id", path)).isEmpty)
  }

  test("ledgers: the split filterNew -> recordKeys recipe seals keys " +
      "and replays are harmless") {
    import graft.sources.{DedupLedger, NearDupLedger}
    val nd = java.nio.file.Files.createTempDirectory("graft_ndl_rk")
      .toString
    NearDupLedger.write(docs(), "text", "doc_id", nd, bucketChars = 1)
    val batch = docs(1L -> "some document with enough words here")
    // crash-safe recipe: filter, (durably land), record LAST
    val fresh = NearDupLedger.filterNew(spark, batch, "text", "doc_id", nd)
    assert(fresh.count() == 1)
    NearDupLedger.recordKeys(spark, fresh, "text", "doc_id", nd)
    // replaying the record step (the retry case) is a no-op for checks
    NearDupLedger.recordKeys(spark, fresh, "text", "doc_id", nd)
    assert(NearDupLedger.filterNew(spark, batch, "text", "doc_id", nd)
      .count() == 0)
    val ex = java.nio.file.Files.createTempDirectory("graft_dl_rk")
      .toString
    DedupLedger.write(docs(), "text", ex, bucketChars = 1)
    val f2 = DedupLedger.filterNew(spark, batch, "text", ex)
    assert(f2.count() == 1)
    DedupLedger.recordKeys(spark, f2, "text", ex)
    DedupLedger.recordKeys(spark, f2, "text", ex)
    assert(DedupLedger.filterNew(spark, batch, "text", ex).count() == 0)
  }

  test("NearDupLedger: compact folds files; empty seed bootstraps") {
    import graft.sources.NearDupLedger
    val path = java.nio.file.Files.createTempDirectory("graft_ndl_c")
      .toString
    NearDupLedger.write(docs(1L -> "one two three four"), "text",
      "doc_id", path, bucketChars = 1)
    NearDupLedger.append(spark, docs(2L -> "five six seven eight"),
      "text", "doc_id", path)
    NearDupLedger.append(spark, docs(3L -> "nine ten eleven twelve"),
      "text", "doc_id", path)
    val probe = docs(1L -> "one two three four",
      99L -> "unrelated fresh probe text")
    val before = idsOf(
      NearDupLedger.filterNew(spark, probe, "text", "doc_id", path))
    assert(before == Set(99L))
    assert(NearDupLedger.compact(spark, path) > 0)
    val dirs = new java.io.File(s"$path/bands").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(dirs.nonEmpty && dirs.forall(_ == 1))
    assert(idsOf(NearDupLedger.filterNew(spark, probe, "text", "doc_id",
      path)) == before)
    // day-one empty seed: pinned schema reads an empty frame cleanly
    val e = java.nio.file.Files.createTempDirectory("graft_ndl_e")
      .toString
    NearDupLedger.write(docs(), "text", "doc_id", e, bucketChars = 1)
    assert(idsOf(NearDupLedger.filterNew(spark,
      docs(5L -> "some brand new text"), "text", "doc_id", e)) == Set(5L))
  }

  // ---- incremental ingestion -----------------------------------------

  test("CorpusIngest.screen is the conjunction of its three stages") {
    import graft.sources.{CorpusIngest, DedupLedger, NearDupLedger}
    val ex = java.nio.file.Files.createTempDirectory("graft_ing_ex")
      .toString
    val nd = java.nio.file.Files.createTempDirectory("graft_ing_nd")
      .toString
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val evens = d.filter($"doc_id" % 2 === 0)
    DedupLedger.write(evens, "text", ex, bucketChars = 1)
    NearDupLedger.write(evens, "text", "doc_id", nd, bucketChars = 1)
    val got = idsOf(CorpusIngest.screen(spark, d, "text", "doc_id", ex, nd))
    // each predicate applied INDEPENDENTLY to the full corpus — the
    // sequential screen must equal their intersection (every stage is
    // a per-doc predicate against fixed history)
    val gate = idsOf(Curation.qualityGate(d, "text"))
    val exactOk = idsOf(DedupLedger.filterNew(spark, d, "text", ex))
    val nearOk = idsOf(
      NearDupLedger.filterNew(spark, d, "text", "doc_id", nd))
    assert(got == (gate & exactOk & nearOk) && got.nonEmpty)
  }

  test("CorpusIngest: gate-rejected docs never claim keys; history seals") {
    import graft.sources.{CorpusIngest, DedupLedger, NearDupLedger}
    val ex = java.nio.file.Files.createTempDirectory("graft_ing_ex2")
      .toString
    val nd = java.nio.file.Files.createTempDirectory("graft_ing_nd2")
      .toString
    DedupLedger.write(docs(), "text", ex, bucketChars = 1)
    NearDupLedger.write(docs(), "text", "doc_id", nd, bucketChars = 1)
    // gate-failing junk (punctuation storm after a clean 8-word prefix)
    val junk = docs(1L -> ("alpha beta gamma delta epsilon zeta eta theta " +
      "?!?!?!?!?!?!?!?!?!?!?!?!?!?!?!?!?!?!?!?!"))
    assert(CorpusIngest.ingest(spark, junk, "text", "doc_id", ex, nd)
      .count() == 0)
    // the junk claimed NO ledger keys: a clean doc with the SAME
    // 8-word prefix still passes (gate-before-ledger ordering)
    val clean = docs(2L ->
      "alpha beta gamma delta epsilon zeta eta theta with a clean tail")
    assert(idsOf(CorpusIngest.ingest(spark, clean, "text", "doc_id",
      ex, nd)) == Set(2L))
    // now the prefix IS sealed: a later prefix-copy drops
    val copy = docs(3L ->
      "alpha beta gamma delta epsilon zeta eta theta with another tail")
    assert(CorpusIngest.ingest(spark, copy, "text", "doc_id", ex, nd)
      .count() == 0)
    // and an identical-text re-send under a new id drops too
    val resend = docs(4L ->
      "alpha beta gamma delta epsilon zeta eta theta with a clean tail")
    assert(CorpusIngest.ingest(spark, resend, "text", "doc_id", ex, nd)
      .count() == 0)
  }

  test("commitBatch: crash between the two recordKeys recovers " +
      "idempotently; wrong-survivor replay fails loudly") {
    import graft.sources.{CorpusIngest, DedupLedger, NearDupLedger}
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val (ex, nd, mf) =
      (tmp("graft_cb_ex"), tmp("graft_cb_nd"), tmp("graft_cb_mf"))
    DedupLedger.write(docs(), "text", ex, bucketChars = 1)
    NearDupLedger.write(docs(), "text", "doc_id", nd, bucketChars = 1)
    val batch = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta one tail",
      2L -> "one two three four five six seven eight nine ten eleven")
    // screen → durably land survivors (localCheckpoint stands in)
    val survivors = CorpusIngest.screen(spark, batch, "text", "doc_id",
      ex, nd).localCheckpoint(true)
    assert(idsOf(survivors) == Set(1L, 2L))
    assert(CorpusIngest.batchState(spark, mf, "b1").isEmpty)

    // simulate the crash INSIDE commit: manifest begun + only the
    // exact ledger sealed (exactly what a kill between the two
    // recordKeys calls leaves behind)
    DedupLedger.recordKeys(spark, survivors, "text", ex)
    val crashed = new java.io.File(s"$mf/b1.properties")
    assert(!crashed.exists()) // nothing durable yet in this simulation
    // recovery is ONE mechanical rule: re-run commitBatch with the
    // landed set — recordKeys replays are no-ops, near ledger seals
    CorpusIngest.commitBatch(spark, survivors, "text", "doc_id", ex, nd,
      mf, "b1")
    assert(CorpusIngest.batchState(spark, mf, "b1")
      .exists(s => s._1 == "done" && s._2 == 2L))
    // both ledgers sealed exactly once: the same batch screens empty
    assert(CorpusIngest.screen(spark, batch, "text", "doc_id", ex, nd)
      .count() == 0)

    // a replayed commitBatch of the done batch is a pure no-op
    CorpusIngest.commitBatch(spark, survivors, "text", "doc_id", ex, nd,
      mf, "b1")
    // now the begun-state crash path: manifest lands, then we "die"
    // before recordKeys by committing against unreachable ledgers
    intercept[Exception] {
      CorpusIngest.commitBatch(spark, survivors, "text", "doc_id",
        "/nonexistent/ex", nd, mf, "b2")
    }
    assert(CorpusIngest.batchState(spark, mf, "b2")
      .exists(_._1 == "begun"))
    // re-running with the SAME set completes b2
    CorpusIngest.commitBatch(spark, survivors, "text", "doc_id", ex, nd,
      mf, "b2")
    assert(CorpusIngest.batchState(spark, mf, "b2")
      .exists(_._1 == "done"))
    // replaying b1 with a DIFFERENT survivor set is the stranding bug
    // the manifest exists to catch — loud, with both digests named
    val e = intercept[IllegalStateException] {
      CorpusIngest.commitBatch(spark,
        survivors.filter($"doc_id" === 1L), "text", "doc_id", ex, nd,
        mf, "b1")
    }
    assert(e.getMessage.contains("replayed") &&
      e.getMessage.contains("re-screen"))
  }

  // ---- snapshot drift / delta ----------------------------------------

  test("tokenKl: self-KL is exactly zero, drift positive, directions swap") {
    val p = docs(1L -> "alpha alpha beta gamma delta", 2L -> "alpha beta beta")
    val q = docs(3L -> "epsilon zeta zeta eta", 4L -> "epsilon theta")
    // identical distributions: every ln ratio is ln(x)-ln(x) = exact
    // 0.0, every micro term floors to 0 — not just "small"
    val self = Decontam.tokenKlReport(p, p, "text").head()
    assert(self.getLong(3) == 0L && self.getLong(4) == 0L)
    val r = Decontam.tokenKlReport(p, q, "text").head()
    // disjoint vocabularies: both directions strictly positive
    assert(r.getLong(3) > 0L && r.getLong(4) > 0L)
    // union vocab and occurrence totals are exact
    assert(r.getLong(0) == 8L && r.getLong(1) == 8L && r.getLong(2) == 6L)
    // swapping the corpora swaps the directions term-for-term
    val rev = Decontam.tokenKlReport(q, p, "text").head()
    assert(rev.getLong(3) == r.getLong(4) && rev.getLong(4) == r.getLong(3))
  }

  test("klReportBy equals tokenKlReport run group by group") {
    // s3 exists ONLY in p (one-sided group: every token has cq = 0)
    // and the null group is real data on both sides — both must be
    // measured, not dropped
    val p = Seq((1L, "alpha alpha beta", "s1"), (2L, "gamma delta", "s2"),
      (3L, "alpha epsilon", "s1"), (7L, "iota kappa iota", "s3"),
      (9L, "mu mu nu", null: String))
      .toDF("doc_id", "text", "src")
    val q = Seq((4L, "alpha beta beta", "s1"), (5L, "gamma gamma", "s2"),
      (6L, "zeta", "s2"), (10L, "mu xi", null: String))
      .toDF("doc_id", "text", "src")
    val by = Decontam.klReportBy(p, q, "src", "text").collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0))
        -> r.toSeq.drop(1)).toMap
    assert(by.keySet == Set("s1", "s2", "s3", null))
    Seq("s1", "s2", "s3", null).foreach { g =>
      val cond = if (g == null) $"src".isNull else $"src" === g
      val solo = Decontam.tokenKlReport(p.filter(cond),
        q.filter(cond), "text").head()
      assert(by(g) == Seq(solo.getLong(0), solo.getLong(1),
        solo.getLong(2), solo.getLong(3), solo.getLong(4)),
        s"group $g: ${by(g)} vs $solo")
    }
  }

  test("shingleJaccard: identity is 1, disjoint is 0, hand case exact") {
    val a = docs(1L -> "one two three four", 2L -> "five six seven")
    val b = docs(3L -> "one two three eight") // shares "one two three"
    val self = Decontam.shingleJaccard(a, a, "text").head()
    assert(self.getDouble(4) == 1.0 &&
      self.getLong(0) == self.getLong(2)) // inter == |A|
    val disjoint = Decontam.shingleJaccard(a,
      docs(4L -> "nine ten eleven twelve"), "text").head()
    assert(disjoint.getDouble(4) == 0.0 && disjoint.getLong(2) == 0L)
    // a: {"one two three", "two three four", "five six seven"};
    // b: {"one two three", "two three eight"}: inter 1, union 4;
    // containment_a = 1/3 (micro-floored), containment_b = 1/2
    val r = Decontam.shingleJaccard(a, b, "text").head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L &&
      r.getLong(2) == 1L && r.getLong(3) == 4L && r.getDouble(4) == 0.25)
    assert(r.getDouble(5) == 0.333333 && r.getDouble(6) == 0.5)
  }

  test("ksStatistic: identical is 0, separated is 1, hand case exact") {
    def frame(vs: Double*) = vs.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val a = frame(1, 2, 2, 3)
    assert(Decontam.ksStatistic(a, a, "v").head().getDouble(2) == 0.0)
    // fully separated supports: D = 1
    assert(Decontam.ksStatistic(a, frame(10, 11), "v")
      .head().getDouble(2) == 1.0)
    // hand case: P = {1,2,2,3}, Q = {2,3,3,4}; CDFs at v=1: .25 vs 0,
    // v=2: .75 vs .25 (D=.5), v=3: 1 vs .75, v=4: 1 vs 1
    val r = Decontam.ksStatistic(a, frame(2, 3, 3, 4), "v").head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 4L &&
      r.getDouble(2) == 0.5)
  }

  test("snapshotDelta classifies all four statuses; null and empty collapse") {
    val old = docs(1L -> "same text", 2L -> "old text", 3L -> "gone doc")
    val nw = docs(1L -> "same text", 2L -> "new text", 4L -> "fresh doc")
    val got = Curation.snapshotDelta(old, nw, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // null digests as "" (documented): a null -> "" flip is unchanged
    val o2 = Seq((9L, null: String)).toDF("doc_id", "text")
    val n2 = Seq((9L, "")).toDF("doc_id", "text")
    assert(Curation.snapshotDelta(o2, n2, "doc_id", "text")
      .head().getString(1) == "unchanged")
  }

  // ---- train/val/test split ------------------------------------------

  test("assignSplit is exhaustive, deterministic, and growth-stable") {
    val d = mixCorpus(500)
    val split = Curation.assignSplit(d, "doc_id", valPct = 5, testPct = 5)
    val byId = split.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId.size == 500 &&
      byId.values.toSet.subsetOf(Set("train", "val", "test")))
    val counts = byId.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 400) // ~90% of 500
    assert(counts.getOrElse("val", 0) + counts.getOrElse("test", 0) > 20)
    // growth stability: the same doc keeps its split in a larger corpus
    val grown = Curation.assignSplit(mixCorpus(1000), "doc_id", 5, 5)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId.forall { case (id, s) => grown(id) == s })
  }

  test("assignSplit edge percentages: zero and total") {
    val d = mixCorpus(100)
    val allTrain = Curation.assignSplit(d, "doc_id", 0, 0)
      .select("split").distinct().collect().map(_.getString(0)).toSet
    assert(allTrain == Set("train"))
    val noTrain = Curation.assignSplit(d, "doc_id", 50, 50)
      .select("split").distinct().collect().map(_.getString(0)).toSet
    assert(!noTrain.contains("train") && noTrain.nonEmpty)
  }

  // ---- randomized properties (batch-evaluated: one job per property) --

  def randomTexts(n: Int, seed: Long): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val chars = "abc XYZ 0123456789 .,!@-_:/()' "
    (0 until n).map(i => (i.toLong,
      (0 until rnd.nextInt(120)).map(_ => chars(rnd.nextInt(chars.length)))
        .mkString))
  }

  test("entropy/repetition fold branch (>64 distinct) matches closed forms") {
    import graft.functions.TextAnalysis
    // 100 distinct tokens, uniform -> entropy = log2(100) exactly
    val vocab = (0 until 100).map(i => s"tok$i")
    val uniform = vocab.mkString(" ")
    val ent = Seq(uniform).toDF("t")
      .select(TextAnalysis.tokenEntropy($"t")).head().getDouble(0)
    assert(math.abs(ent - math.log(100) / math.log(2)) < 1e-9)
    // >64 distinct shingles with one trigram repeated twice
    val rep = uniform + " tok0 tok1 tok2"
    val frac = Seq(rep).toDF("t")
      .select(TextAnalysis.topNgramCharFraction($"t")).head().getDouble(0)
    assert(math.abs(frac - 2.0 * "tok0 tok1 tok2".length / rep.length)
      < 1e-12)
    // small-vocab scan branch agrees with a hand-computed distribution:
    // {a:3, b:1} -> -(0.75 log2 0.75 + 0.25 log2 0.25)
    val small = Seq("a a a b").toDF("t")
      .select(TextAnalysis.tokenEntropy($"t")).head().getDouble(0)
    val exp = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25)) / math.log(2)
    assert(math.abs(small - exp) < 1e-12)
  }

  test("property: redact and normalizeText are idempotent on noise") {
    import graft.functions.TextAnalysis
    val df = randomTexts(400, 42L).toDF("id", "t")
    val r1 = Pii.redact($"t")
    assert(df.filter(Pii.redact(r1) =!= r1).count() == 0)
    val n1 = TextAnalysis.normalizeText($"t")
    assert(df.filter(TextAnalysis.normalizeText(n1) =!= n1).count() == 0)
  }

  test("property: prefixKey depends only on the first 8 words") {
    import graft.functions.TextAnalysis
    val rnd = new scala.util.Random(7L)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val rows = (0 until 200).map { i =>
      val prefix = (0 until 8).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" ")
      val tail = (0 until rnd.nextInt(10))
        .map(_ => words(rnd.nextInt(words.length))).mkString(" ")
      (prefix, (prefix + " " + tail).trim)
    }
    val df = rows.toDF("prefix", "full")
    assert(df.filter(TextAnalysis.prefixKey($"prefix") =!=
      TextAnalysis.prefixKey($"full")).count() == 0)
  }

  test("property: sampleMixture hits arbitrary quotas exactly") {
    val d = mixCorpus(300) // 100 docs per domain
    val rnd = new scala.util.Random(11L)
    for (_ <- 1 to 3) {
      val quotas = domains.map(_ -> (rnd.nextInt(100) + 1).toLong).toMap
      val got = Curation.sampleMixture(d, "doc_id", "lang", quotas)
        .groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == quotas.filter(_._2 > 0), s"quotas $quotas -> $got")
    }
  }

  test("keepTopFraction equals the single-window top-N rank") {
    val rnd = new scala.util.Random(5L)
    // heavy score ties (3 decimal values over 200 rows) + unique ids
    val d = (0 until 200).map(i =>
      (i.toLong, math.floor(rnd.nextDouble() * 3) / 3.0))
      .toDF("doc_id", "score")
    val got = Curation.keepTopFraction(d, "doc_id", "score", 40L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val w = Window.orderBy($"score".desc, $"doc_id")
    val naive = d.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 200L * 40 / 100)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == naive && got.size == 80)
  }

  test("keepTopFraction is partitioning-insensitive and caps at corpus") {
    val d = (0 until 90).map(i => (i.toLong, (i % 7).toDouble))
      .toDF("doc_id", "score")
    def ids(df: DataFrame) =
      Curation.keepTopFraction(df, "doc_id", "score", 30L)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(d.repartition(11)) == ids(d.coalesce(1)))
    assert(Curation.keepTopFraction(d, "doc_id", "score", 100L)
      .count() == 90)
  }

  test("temperatureWeights: alpha 1 natural, alpha 0 uniform") {
    val c = Map("en" -> 900L, "de" -> 100L)
    val nat = Curation.temperatureWeights(c, 1.0)
    assert(math.abs(nat("en") - 0.9) < 1e-12)
    val flat = Curation.temperatureWeights(c, 0.0)
    assert(math.abs(flat("en") - 0.5) < 1e-12 &&
      math.abs(flat("de") - 0.5) < 1e-12)
  }

  test("mixtureQuotas floors in integer arithmetic") {
    assert(Curation.mixtureQuotas(199L, Map("a" -> 50L, "b" -> 33L)) ==
      Map("a" -> 99L, "b" -> 65L))
  }
}
