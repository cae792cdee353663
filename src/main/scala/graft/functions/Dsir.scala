package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al., 2023):
  * score every raw document by how much more likely its hashed n-gram
  * features are under a TARGET distribution (a trusted high-quality /
  * in-domain sample) than under the RAW distribution, then keep the
  * highest-weighted documents. The published recipe reduces each
  * distribution to a bag of hashed bigram features, estimates both as
  * smoothed multinomials over the hash buckets, and weighs a document by
  * the log-likelihood ratio of its feature bag.
  *
  * Engine-portability contract (the LangModel construction): each hash
  * bucket's log-ratio `ln p̂_target(b) − ln p̂_raw(b)` is computed ONCE on
  * exact-rational doubles and immediately rounded to integral micro-nats;
  * a document's weight is then the INTEGER dot product
  * `Σ count_doc(b)·λ_micro(b)` — associative, so shuffle order cannot
  * move the hash. Buckets are md5-hex prefixes (`16^hexChars` of them),
  * not JVM hashCodes, so DuckDB lands every feature in the same bucket.
  *
  * Scale shape: training is two explode→agg passes (target + raw), each
  * map-side combined down to ≤ 16^hexChars rows — the bucket table is
  * broadcast-sized by construction. Scoring shuffles one
  * (doc, distinct-bucket) row per document and joins the broadcast
  * λ table; nothing is collected but the two feature totals.
  */
object Dsir {

  /** A trained hashed log-ratio model: the bucket table
    * (`bkt` string, `lam_micro` long) over every bucket OBSERVED in
    * either corpus, the default λ for unobserved buckets (both counts
    * zero — possible only when scoring docs outside the raw corpus),
    * and the feature totals it derives from. */
  final case class HashedRatio(table: DataFrame, defaultMicro: Long,
      hexChars: Int, targetTotal: Long, rawTotal: Long)

  /** Hashed bigram feature buckets of an already-split word array: word
    * 2-grams (the published DSIR feature space) hashed to their
    * first-`hexChars` md5 hex prefix — one of 16^hexChars buckets.
    * Callers project `words(text)` first so the regex split runs once
    * per row (r14, TextAnalysis.shinglesFromWords). */
  def featureBucketsFromWords(w: Column, hexChars: Int): Column =
    transform(TextAnalysis.shinglesFromWords(w, 2),
      s => substring(md5(s), 1, hexChars))

  private def bucketCounts(docs: DataFrame, textCol: String,
      hexChars: Int): DataFrame =
    docs.select(TextAnalysis.words(col(textCol)).as("__w"))
      .select(explode(featureBucketsFromWords(col("__w"), hexChars))
        .as("bkt"))
      .groupBy("bkt").agg(count(lit(1)).as("c"))

  /** Train the importance model: hashed-bigram bucket counts over
    * `target` and `raw`, add-one smoothing over the full `16^hexChars`
    * bucket space (so an empty bucket carries mass and the ratio is
    * finite everywhere). hexChars = 3 gives 4096 buckets — the
    * published recipe's 10k-bucket regime. */
  def trainHashedRatio(target: DataFrame, raw: DataFrame, textCol: String,
      hexChars: Int = 3): HashedRatio = {
    require(hexChars >= 1 && hexChars <= 8, "hexChars in [1, 8]")
    val nBuckets = math.pow(16, hexChars).toLong
    // both count tables are <= 16^hexChars rows after the map-side
    // combine — persist the small side only, never the corpus
    val ct = bucketCounts(target, textCol, hexChars)
      .withColumnRenamed("c", "ct")
    val cr = bucketCounts(raw, textCol, hexChars)
      .withColumnRenamed("c", "cr")
    val joined = cr.join(ct, Seq("bkt"), "full_outer")
      .select(col("bkt"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totRow = joined
      .agg(coalesce(sum("ct"), lit(0L)), coalesce(sum("cr"), lit(0L)))
      .head()
    val (nt, nr) = (totRow.getLong(0), totRow.getLong(1))
    require(nt > 0, "target corpus must contain at least one bigram")
    require(nr > 0, "raw corpus must contain at least one bigram")
    val (dnT, dnR) = (denom(nt, nBuckets), denom(nr, nBuckets))
    val table = joined.select(col("bkt"),
      lamMicro((col("ct") + 1).cast("double") / lit(dnT),
        (col("cr") + 1).cast("double") / lit(dnR)).as("lam_micro"))
    HashedRatio(table,
      defaultMicro = scalarLamMicro(1.0 / dnT, 1.0 / dnR),
      hexChars = hexChars, targetTotal = nt, rawTotal = nr)
  }

  /** The smoothing denominator, as the oracle computes it: the total
    * cast to double, plus the bucket count — double addition, exact
    * below 2^53. */
  private def denom(total: Long, nBuckets: Long): Double =
    total.toDouble + nBuckets.toDouble

  private def lamMicro(pt: Column, pr: Column): Column =
    floor((log(pt) - log(pr)) * 1e6 + 0.5).cast("long")

  private def scalarLamMicro(pt: Double, pr: Double): Long =
    math.floor((math.log(pt) - math.log(pr)) * 1e6 + 0.5).toLong

  /** Per-document importance weights under `model`: micro-nat
    * log-likelihood ratio (`w_micro`, long — positive means "more like
    * the target than the raw distribution") and the feature count
    * (`n_feats`). Documents with fewer than two words have no bigram
    * features and are ABSENT — left-join against the corpus (weight 0)
    * if every id must appear. Compose with
    * [[Curation.keepTopFraction]] on `w_micro` for the published
    * top-fraction selection. */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
      model: HashedRatio): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.words(col(textCol)).as("__w"))
      .select(col(idCol),
        explode(featureBucketsFromWords(col("__w"), model.hexChars))
          .as("bkt"))
      .groupBy(idCol, "bkt").agg(count(lit(1)).as("__n"))
      .join(model.table, Seq("bkt"), "left")
      .withColumn("__lam",
        coalesce(col("lam_micro"), lit(model.defaultMicro)))
      .groupBy(idCol)
      .agg(sum(col("__n") * col("__lam")).as("w_micro"),
        sum("__n").as("n_feats"))
}
