package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Lineage
import graft.functions.TextAnalysis

/** Persistent dedup ledger — incremental EXACT dedup across ingestion
  * batches: the set of already-ingested document keys as a columnar
  * dataset, so deduplicating a new batch against a 100 TB corpus costs
  * an anti-join against 16-byte KEYS (one per historical doc, column-
  * pruned and partition-laid-out) instead of re-scanning corpus text.
  *
  * Key = md5 of the first-`prefixWords` whitespace-normalized words —
  * the same prefix-key rule as `Curation.dedupKeepFirst`, so batch-mode
  * and incremental-mode dedup make the SAME decisions. The ledger is
  * partitioned by a hex prefix of the key: appends distribute evenly, a
  * batch anti-join prunes nothing (md5 is uniform — the pruning is for
  * point lookups/debugging) but shuffles only the keys and the incoming
  * BATCH, never historical text. Cost per batch is
  * O(batch + ledger keys), the incremental-pipeline design point.
  *
  * `bucketChars` sizes the layout to the corpus: 2 (256 dirs, default)
  * for web-scale ledgers where each dir holds tens of MB of keys;
  * 1 (16 dirs) for small corpora where 256 dirs would be all
  * filesystem overhead and no parallelism. The choice is a physical
  * layout knob only — results are identical; reads infer it from the
  * directory structure, so only writers choose.
  *
  * `filterNew` does not dedup WITHIN the batch (two copies arriving in
  * one batch both pass if their key is unseen) — compose with
  * `Curation.dedupKeepFirst` for in-batch semantics; `append` stores
  * each new key once regardless.
  */
object DedupLedger {

  def key(textCol: Column, prefixWords: Int = 8): Column =
    TextAnalysis.prefixKey(textCol, prefixWords)

  private def keyed(docs: DataFrame, textCol: String,
      prefixWords: Int): DataFrame =
    docs.withColumn("__ledger_key", key(col(textCol), prefixWords))

  /** Distinct (key, bucket) rows clustered so each partition dir
    * receives ONE file per ingest — without the repartition every
    * write task touches every bucket dir and a 32-task write strands
    * tasks × buckets tiny files per batch (ledger file count must stay
    * ∝ ingests). */
  private def keyRows(docs: DataFrame, textCol: String,
      prefixWords: Int, bucketChars: Int): DataFrame =
    keyed(docs, textCol, prefixWords)
      // the "b" prefix keeps all-digit hex buckets ("07", "38") from
      // being type-inferred as integers on read, which would collapse
      // leading zeros and split the layout between int and string dirs
      .select(col("__ledger_key").as("key"),
        concat(lit("b"),
          substring(col("__ledger_key"), 1, bucketChars)).as("bucket"))
      .distinct()
      .repartition(col("bucket"))

  /** Create/overwrite the ledger from a seed corpus. The key rule
    * (`prefixWords`) is stored in ledger meta so READERS use the
    * seed's rule, never a call-site guess — a mismatch would silently
    * wave every duplicate through (the NearDupLedger geometry
    * lesson, applied one level down). */
  def write(docs: DataFrame, textCol: String, path: String,
      prefixWords: Int = 8, bucketChars: Int = 2): Unit = {
    MetaProps.write(docs.sparkSession.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(s"$path/meta.properties"),
      "DedupLedger key rule", "prefixWords" -> prefixWords.toString)
    keyRows(docs, textCol, prefixWords, bucketChars)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/keys")
  }

  /** The stored key rule; ledgers seeded before the rule was stored
    * (no meta file) fall back to the caller's parameter. */
  private def storedPrefixWords(spark: SparkSession, path: String,
      fallback: Int): Int =
    MetaProps.read(spark.sparkContext.hadoopConfiguration,
        new org.apache.hadoop.fs.Path(s"$path/meta.properties"))
      .flatMap(_.get("prefixWords")).map(_.toInt).getOrElse(fallback)

  /** Ledger reads carry an explicit schema: an EMPTY seed write leaves
    * only _SUCCESS behind (no parquet footer to infer from), and
    * schema inference would throw on the very next call — with the
    * schema pinned, an empty ledger is just an empty frame and the
    * pipeline bootstraps cleanly from a day-one seed that matched
    * nothing. */
  private def readKeys(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("key STRING, bucket STRING")
      .parquet(s"$path/keys")

  /** The stored layout's bucket width (appends must match the seed's,
    * or a key could land in two dirs and point-lookup pruning breaks).
    * Read from ONE row — all stored widths are equal by invariant, so
    * scanning the whole ledger for a max would pay a full pass per
    * append for a constant. The stored value carries the "b"
    * type-guard prefix, hence the −1. Empty ledger → default width. */
  private def storedBucketChars(spark: SparkSession, path: String): Int =
    readKeys(spark, path)
      .select((length(col("bucket")) - 1).cast("int"))
      .take(1).headOption.map(_.getInt(0)).getOrElse(2)

  /** The batch rows whose key the ledger has not seen (anti-join over
    * keys only; batch text rides along, historical text never moves).
    * `prefixWords` is only the fallback for pre-meta ledgers — the
    * STORED key rule wins. */
  def filterNew(spark: SparkSession, docs: DataFrame, textCol: String,
      path: String, prefixWords: Int = 8): DataFrame = {
    val ledger = readKeys(spark, path)
      .select(col("key").as("__ledger_key"))
    keyed(docs, textCol, storedPrefixWords(spark, path, prefixWords))
      .join(ledger, Seq("__ledger_key"), "left_anti")
      .drop("__ledger_key")
  }

  /** [[filterNew]] behind a Bloom pre-gate — the web-scale shape for
    * MOSTLY-NEW batches: a Bloom filter over the ledger's keys splits
    * the batch into DEFINITELY-new rows (no false negatives — they
    * bypass the anti-join entirely) and maybe-seen rows (≈ fpp × new +
    * true duplicates), and only the maybe set pays the join shuffle.
    * Results are EXACTLY [[filterNew]]'s — the Bloom only routes.
    *
    * The gate is built per call so it can never be stale — a cached
    * Bloom missing later-appended keys would wave duplicates through
    * as "definitely new", the one failure mode this path must never
    * have. Honest cost: the ledger KEY COLUMN is aggregated twice
    * (count to size the filter, then the Bloom build — both
    * column-pruned 16-byte scans) and the maybe-set anti-join reads it
    * once more; the batch is keyed ONCE (persisted — it feeds both
    * route branches). What the gate saves is the expensive side:
    * shuffling the whole BATCH through the anti-join. Amortize across
    * batches by holding the ledger in a process and compacting
    * periodically, not by caching the Bloom past an append. Sizing:
    * ~9.6 bits/key at fpp 0.01 — the executor-broadcast gate fits
    * ledgers to ~10⁸ keys; beyond that stay on the plain anti-join
    * (keys-only shuffles scale further). The membership probe is
    * Spark's native `BloomFilterMightContain` expression (via
    * [[graft.expressions.BloomProbe]]) — codegen'd in the row loop,
    * no UDF marshalling; both build and probe sides go through
    * `xxhash64(key)` so the no-false-negative guarantee holds by
    * construction. */
  def filterNewBloom(spark: SparkSession, docs: DataFrame,
      textCol: String, path: String, prefixWords: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    val ledger = readKeys(spark, path)
    val nKeys = ledger.count()
    if (nKeys == 0) return docs
    val bloom = ledger.selectExpr("xxhash64(key) AS h")
      .stat.bloomFilter("h", nKeys, fpp)
    def might = graft.expressions.BloomProbe.mightContainLong(bloom,
      xxhash64(col("__ledger_key")))
    val batch = keyed(docs, textCol,
        storedPrefixWords(spark, path, prefixWords))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val definitelyNew = batch.filter(!might)
    val maybeSeen = batch.filter(might)
      .join(ledger.select(col("key").as("__ledger_key")),
        Seq("__ledger_key"), "left_anti")
    definitelyNew.unionByName(maybeSeen).drop("__ledger_key")
  }

  /** Record `docs`' prefix keys WITHOUT filtering — the second half of
    * the crash-safe ingestion recipe (see [[append]]'s retry note):
    * filterNew → durably land the survivors → recordKeys. The bucket
    * width adopts the stored layout. */
  def recordKeys(spark: SparkSession, docs: DataFrame, textCol: String,
      path: String, prefixWords: Int = 8): Unit =
    keyRows(docs, textCol, storedPrefixWords(spark, path, prefixWords),
        storedBucketChars(spark, path))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$path/keys")

  /** Ingest a batch: return the unseen rows AND record their keys (each
    * once) so the next batch sees them. The survivors are CHECKPOINTED
    * (lineage truncated) before the ledger mutates: the key write's
    * refreshByPath invalidates any cached plan still READING the
    * ledger path, so a merely-persisted result would silently
    * re-evaluate against the post-append ledger and return empty.
    * Reliable checkpoint when a checkpoint dir is configured (the
    * cluster deployment), localCheckpoint otherwise.
    *
    * Retry semantics: keys are recorded BEFORE the caller consumes the
    * returned survivors, so a crash after the key write followed by a
    * blind retry of the same batch filters those documents as
    * already-seen — in the ledger, never landed in the corpus.
    * Pipelines that must survive that crash window split the steps
    * ([[filterNew]] → durable survivor write → [[recordKeys]]), making
    * the ledger mutation the LAST step; replaying it is then harmless
    * (duplicate key rows are no-ops for the anti-join). */
  def append(spark: SparkSession, docs: DataFrame, textCol: String,
      path: String, prefixWords: Int = 8): DataFrame = {
    val fresh = Lineage.truncated(
      filterNew(spark, docs, textCol, path, prefixWords))
    recordKeys(spark, fresh, textCol, path, prefixWords)
    fresh
  }

  /** Compact the ledger: rewrite every bucket into one file. Appends
    * add one file per bucket per batch — after thousands of ingests the
    * listing itself dominates the anti-join, so periodic compaction is
    * part of operating the ledger. Crash-safe the same way
    * IvfStore.retrain is: write the compacted copy ASIDE, swap the live
    * directory via two renames (live→old, new→live), delete old, and
    * roll back the first rename if the second fails — at no point is
    * the only copy of the keys mid-overwrite. Returns the key count. */
  def compact(spark: SparkSession, path: String): Long = {
    val keys = readKeys(spark, path)
      .select("key", "bucket")
      .repartition(col("bucket"))
    val tmp = s"$path/keys_compact_tmp"
    keys.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
    val n = spark.read.schema("key STRING, bucket STRING").parquet(tmp)
      .count()
    DirSwap.swapLive(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(s"$path/keys"),
      new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$path/keys_compact_old"))
    spark.catalog.refreshByPath(s"$path/keys")
    n
  }
}
