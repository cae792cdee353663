package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Lineage
import graft.functions.Dedup

/** Persistent NEAR-dup ledger — incremental MinHash/LSH dedup across
  * ingestion batches: the band keys of every already-ingested document
  * as a columnar dataset, so near-dup-screening a new crawl against a
  * 100 TB corpus costs a keyed join over (band, 64-bit key) rows
  * instead of re-shingling historical text. The cross-batch analogue
  * of [[DedupLedger]] (exact prefix keys) one level up the dedup
  * ladder: a batch document is dropped when ANY of its LSH band keys
  * collides with history — the same candidate rule as
  * `Dedup.lshCandidatePairsAcross`, so batch-mode decontamination and
  * incremental ingestion make identical keep decisions.
  *
  * Layout: `path/bands` holds (id, band, key) rows partitioned by a
  * hex prefix of the key (`bucketChars` wide — the [[DedupLedger]]
  * layout knob, 2 = 256 dirs for web scale); `path/meta.properties`
  * pins the hash-family geometry (k, rowsPerBand, shingle n) chosen at
  * seed time. Readers take NO family parameters — they recompute batch
  * bands with the STORED geometry, so a seed/append mismatch (which
  * would silently wave every near-dup through: different family ⇒ no
  * collisions) is impossible by construction.
  *
  * Cost per batch: O(batch shingles) to band the batch +
  * O(batch bands + ledger bands) through one keyed join — historical
  * rows are 20 bytes (8-byte id, 4-byte band, 8-byte key),
  * column-pruned; text never moves. Appends cluster one file per
  * bucket dir per ingest ([[DedupLedger]]'s file-count lesson);
  * [[compact]] periodically folds them.
  *
  * Semantics to know at the call site:
  *  - LSH banding is the APPROXIMATE candidate rule: a band collision
  *    is a high-Jaccard bet, not a proof. [[filterNew]] applies the
  *    aggressive drop-on-candidate rule (what `Curation.curate`'s
  *    near-dup stage does); pipelines that verify before dropping
  *    compose [[candidatePairs]] with an exact Jaccard check and
  *    anti-join the confirmed ids themselves.
  *  - Documents with fewer than n words produce no shingles, hence no
  *    band rows: they always survive and never claim ledger space —
  *    compose with [[DedupLedger]] for exact dedup of short texts.
  *  - In-batch near-dups are NOT removed (two copies arriving
  *    together both pass if history is clean); compose with
  *    `Dedup.lshCandidatePairs` for in-batch semantics. [[append]]
  *    records every survivor's bands regardless.
  */
object NearDupLedger {

  private case class BandParams(k: Int, rowsPerBand: Int, n: Int,
      bucketChars: Int)

  private def writeParams(spark: SparkSession, path: String,
      p: BandParams): Unit =
    MetaProps.write(spark.sparkContext.hadoopConfiguration,
      new Path(s"$path/meta.properties"), "NearDupLedger band geometry",
      "k" -> p.k.toString, "rowsPerBand" -> p.rowsPerBand.toString,
      "n" -> p.n.toString, "bucketChars" -> p.bucketChars.toString)

  private def readParams(spark: SparkSession, path: String): BandParams = {
    val f = new Path(s"$path/meta.properties")
    val props = MetaProps.read(spark.sparkContext.hadoopConfiguration, f)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"File $f does not exist"))
    def i(name: String) = {
      require(props.contains(name), s"near-dup ledger at $path: missing $name")
      props(name).toInt
    }
    BandParams(i("k"), i("rowsPerBand"), i("n"), i("bucketChars"))
  }

  /** Band rows of `docs` under the ledger's stored geometry, bucketed
    * and clustered for the partitioned write. Enforces the documented
    * integral-id contract: a string/float id would silently cast to
    * null longs, so [[candidatePairs]] would return null historical
    * ids — provenance corrupted while [[filterNew]] still "works". */
  private def bandRows(docs: DataFrame, textCol: String, idCol: String,
      p: BandParams): DataFrame = {
    import org.apache.spark.sql.types._
    val dt = docs.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"near-dup ledger idCol '$idCol' must be integral (stored as " +
        s"8-byte longs); got ${dt.simpleString} — hash non-integral ids " +
        "to a long (xxhash64) before recording")
    Dedup.bandedKeys(docs, textCol, idCol, p.k, p.rowsPerBand, p.n)
      .select(col(idCol).cast("long").as("id"), col("band"), col("key"),
        // the "b" prefix keeps hex buckets from integer partition-type
        // inference (the DedupLedger leading-zero lesson)
        concat(lit("b"), lpad(hex(pmod(col("key"),
          lit(1L << (4 * p.bucketChars)))), p.bucketChars, "0"))
          .as("bucket"))
      .distinct()
      .repartition(col("bucket"))
  }

  /** Pinned schema: an empty seed leaves no parquet footer to infer
    * from (the DedupLedger empty-seed lesson). */
  private def readBands(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("id BIGINT, band INT, key BIGINT, bucket STRING")
      .parquet(s"$path/bands")

  /** Create/overwrite the ledger from a seed corpus, fixing the hash
    * family every later reader uses. `idCol` must be integral (stored
    * as 8-byte longs). */
  def write(docs: DataFrame, textCol: String, idCol: String,
      path: String, k: Int = 8, rowsPerBand: Int = 2, n: Int = 3,
      bucketChars: Int = 2): Unit = {
    require(k % rowsPerBand == 0,
      s"k=$k must be a multiple of rowsPerBand=$rowsPerBand")
    require(bucketChars >= 1 && bucketChars <= 4,
      s"bucketChars=$bucketChars out of [1,4]")
    val p = BandParams(k, rowsPerBand, n, bucketChars)
    writeParams(docs.sparkSession, path, p)
    bandRows(docs, textCol, idCol, p)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/bands")
  }

  /** The batch rows with NO band collision against history — i.e. not
    * an LSH near-dup candidate of any already-ingested document. */
  def filterNew(spark: SparkSession, docs: DataFrame, textCol: String,
      idCol: String, path: String): DataFrame = {
    val p = readParams(spark, path)
    val ledger = readBands(spark, path).select("band", "key")
    val hit = Dedup.bandedKeys(docs, textCol, idCol, p.k, p.rowsPerBand, p.n)
      .join(ledger, Seq("band", "key"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(hit, Seq(idCol), "left_anti")
  }

  /** [[filterNew]] behind a Bloom pre-gate — the web-scale shape for
    * MOSTLY-NEW batches (the [[DedupLedger.filterNewBloom]] design one
    * level up): a Bloom filter over xxhash64(band, key) of the
    * ledger's rows routes each batch band row; rows the filter has
    * definitely never seen SKIP the ledger join entirely (no false
    * negatives — a missed collision is impossible by construction),
    * and only the maybe-seen residue (≈ fpp × new + true collisions)
    * pays the join probe. Results are EXACTLY [[filterNew]]'s.
    *
    * Built per call so it can never be stale (the [[DedupLedger]]
    * rationale: a cached Bloom missing later-appended keys would wave
    * near-dups through as definitely-new). Honest cost: the ledger's
    * band columns are aggregated twice (count to size the filter, then
    * the Bloom build) and the residue join reads them once more; the
    * batch is banded once. Sizing: the ledger holds bandsPerDoc (k /
    * rowsPerBand, default 4) rows per historical doc, so the
    * executor-broadcast gate fits ledgers to ~2.5·10⁷ docs at fpp
    * 0.01; beyond that stay on the plain keyed join. */
  def filterNewBloom(spark: SparkSession, docs: DataFrame,
      textCol: String, idCol: String, path: String,
      fpp: Double = 0.01): DataFrame = {
    val p = readParams(spark, path)
    val ledger = readBands(spark, path)
    val nRows = ledger.count()
    if (nRows == 0) return docs
    val bloom = ledger
      .select(xxhash64(col("band"), col("key")).as("h"))
      .stat.bloomFilter("h", nRows, fpp)
    val hit = Dedup.bandedKeys(docs, textCol, idCol, p.k, p.rowsPerBand,
        p.n)
      .filter(graft.expressions.BloomProbe.mightContainLong(bloom,
        xxhash64(col("band"), col("key"))))
      .join(ledger.select("band", "key"), Seq("band", "key"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(hit, Seq(idCol), "left_anti")
  }

  /** (batch id `a`, historical id `b`) band-collision pairs — the
    * cross-batch candidate report for pipelines that verify (exact
    * Jaccard) before dropping, and for provenance ("which historical
    * document shadows this one"). */
  def candidatePairs(spark: SparkSession, docs: DataFrame,
      textCol: String, idCol: String, path: String): DataFrame = {
    val p = readParams(spark, path)
    val ledger = readBands(spark, path)
      .select(col("band"), col("key"), col("id").as("b"))
    Dedup.bandedKeys(docs, textCol, idCol, p.k, p.rowsPerBand, p.n)
      .toDF("a", "band", "key")
      .join(ledger, Seq("band", "key"))
      .select("a", "b").distinct()
  }

  /** Record `docs`' band keys WITHOUT filtering — the second half of
    * the crash-safe ingestion recipe (see [[append]]'s retry note):
    * filterNew → durably land the survivors → recordKeys. Keys are
    * computed with the stored geometry. */
  def recordKeys(spark: SparkSession, docs: DataFrame, textCol: String,
      idCol: String, path: String): Unit =
    bandRows(docs, textCol, idCol, readParams(spark, path))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$path/bands")

  /** Ingest a batch: return the rows history has no near-dup of AND
    * record their band keys so the next batch sees them. Survivors are
    * CHECKPOINTED before the ledger mutates — the append's
    * refreshByPath invalidates cached plans reading the ledger path,
    * so a merely-persisted result would silently re-evaluate against
    * the post-append ledger and return empty (the [[DedupLedger]]
    * lesson). Reliable checkpoint when a checkpoint dir is configured
    * (the cluster deployment), localCheckpoint otherwise.
    *
    * Retry semantics: keys are recorded BEFORE the caller consumes the
    * returned survivors, so a crash after the key write followed by a
    * blind retry of the same batch filters those documents as
    * already-seen — in the ledger, never landed in the corpus.
    * Pipelines that must survive that crash window split the steps
    * ([[filterNew]] → durable survivor write → [[recordKeys]]), making
    * the ledger mutation the LAST step; replaying it is then
    * harmless (duplicate key rows are no-ops for collision checks). */
  def append(spark: SparkSession, docs: DataFrame, textCol: String,
      idCol: String, path: String): DataFrame = {
    val fresh = Lineage.truncated(
      filterNew(spark, docs, textCol, idCol, path))
    recordKeys(spark, fresh, textCol, idCol, path)
    fresh
  }

  /** Compact the ledger: rewrite every bucket into one file (appends
    * add one file per bucket per batch — after thousands of ingests
    * the listing dominates the join). Crash-safe via [[DirSwap]].
    * Returns the band-row count. */
  def compact(spark: SparkSession, path: String): Long = {
    val rows = readBands(spark, path)
      .select("id", "band", "key", "bucket")
      .repartition(col("bucket"))
    val tmp = s"$path/bands_compact_tmp"
    rows.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    val n = spark.read
      .schema("id BIGINT, band INT, key BIGINT, bucket STRING")
      .parquet(tmp).count()
    DirSwap.swapLive(spark.sparkContext.hadoopConfiguration,
      new Path(s"$path/bands"), new Path(tmp),
      new Path(s"$path/bands_compact_old"))
    spark.catalog.refreshByPath(s"$path/bands")
    n
  }
}
