package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram language-model scoring — the perplexity-proxy quality signal
  * of the CCNet / RedPajama lineage: train per-token negative
  * log-likelihoods on a reference corpus (add-one smoothing with one
  * reserved out-of-vocabulary pseudo-type), then score every document by
  * its mean token cross-entropy in nats. Low cross-entropy ≈ "looks like
  * the reference corpus"; the standard filter keeps docs below a
  * percentile of the score distribution (compose with
  * [[Curation.keepTopFraction]] on the negated score).
  *
  * Engine-portability contract (the reason this is not a naive
  * `avg(ln p)`): each distinct token's NLL is computed ONCE, on an
  * exact-rational double `(c+1)/(N+V+1)`, and immediately rounded to
  * integral micro-nats (`floor(x·10⁶ + 0.5)` — half-up, the portable
  * rounding this repo uses everywhere). A document's loss is then an
  * INTEGER dot product `Σ count·nll_micro` — associative, so
  * shuffle/summation order cannot move the hash — divided by the token
  * count only at the very end and rounded to 4 dp. The single
  * cross-engine float operation is `ln` itself on identical doubles;
  * both JVM and DuckDB evaluate it within 1 ulp, and the 10⁻⁶ rounding
  * grid makes a boundary flip astronomically unlikely (and would surface
  * as a hash mismatch, not silent drift).
  *
  * Scale shape: training is one explode + one (token) agg — map-side
  * combined, one shuffle of distinct tokens. Scoring shuffles one
  * (doc, distinct-token) row per document and joins the vocabulary
  * table on its natural key; AQE broadcasts it while it fits and falls
  * back to a shuffle join for a web-scale vocabulary. Nothing is
  * collected to the driver except the two scalar totals (N, V).
  */
object LangModel {

  /** A trained unigram model: the vocabulary NLL table
    * (`token`, `nll_micro` long), the OOV penalty in micro-nats, and the
    * training totals it derives from. */
  final case class Unigram(table: DataFrame, oovMicro: Long,
      vocab: Long, total: Long)

  /** Half-up 4-dp rounding on a non-negative double (the shared
    * [[TextAnalysis.halfUpFloor]] idiom). */
  private def round4(x: Column): Column =
    TextAnalysis.halfUpFloor(x, 4)

  /** Whitespace tokens with the empty strings a leading separator
    * produces removed (both engines agree on this form). */
  private def tokens(text: Column): Column =
    filter(TextAnalysis.words(text), t => length(t) > 0)

  /** Train a unigram model on `ref`: token counts with add-one
    * smoothing over `N + V + 1` (the +1 reserves probability mass for
    * one OOV pseudo-type, so unseen tokens at scoring time get
    * `-ln(1/(N+V+1))` rather than an infinity). */
  def trainUnigram(ref: DataFrame, textCol: String): Unigram = {
    // the count table feeds the totals action here AND the vocabulary
    // join in every later crossEntropy call — persist so the reference
    // corpus is scanned once, not once per consumer (recomputable on
    // executor loss; the CacheManager keeps it until `unpersist` or
    // `clearCache()` — dropping the model does not release it)
    val counts = Spread.across(ref)
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totRow = counts
      .agg(coalesce(sum("c"), lit(0L)), count(lit(1))).head()
    val (total, vocab) = (totRow.getLong(0), totRow.getLong(1))
    require(total > 0, "reference corpus must contain at least one token")
    val denom = (total + vocab + 1).toDouble
    val table = counts.select(col("token"),
      nllMicro((col("c") + 1).cast("double") / lit(denom)).as("nll_micro"))
    Unigram(table, oovMicro = scalarNllMicro(1.0 / denom),
      vocab = vocab, total = total)
  }

  private def nllMicro(p: Column): Column =
    floor(-log(p) * 1e6 + 0.5).cast("long")

  private def scalarNllMicro(p: Double): Long =
    math.floor(-math.log(p) * 1e6 + 0.5).toLong

  /** The exact integer form of [[crossEntropy]]: per document, the
    * micro-nat loss SUM (`ce_micro`, long) and token count (`len`,
    * long) — the representation downstream aggregations should sum
    * (corpus/source-level means stay order-free integer math; dividing
    * per-doc first would round too early). Zero-token documents are
    * absent. */
  def tokenLogLoss(docs: DataFrame, idCol: String, textCol: String,
      model: Unigram): DataFrame = {
    // tokenization + the explode run in the scan's map tasks — spread a
    // single-split corpus (integer counts: partition-independent)
    val perTok = Spread.across(docs)
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(idCol, "token").agg(count(lit(1)).as("__n"))
    perTok
      .join(model.table, Seq("token"), "left")
      .withColumn("__nll", coalesce(col("nll_micro"), lit(model.oovMicro)))
      .groupBy(idCol)
      .agg(sum(col("__n") * col("__nll")).as("ce_micro"),
        sum("__n").as("len"))
  }

  /** Score `docs`: mean token cross-entropy in nats, 4 dp
    * (`ceCol`), plus the token count (`n_tokens`). Documents with zero
    * tokens (null / empty / all-whitespace text) have no defined mean
    * and are ABSENT from the result — left-join against the corpus if
    * every id must appear. */
  def crossEntropy(docs: DataFrame, idCol: String, textCol: String,
      model: Unigram, ceCol: String = "cross_entropy"): DataFrame =
    tokenLogLoss(docs, idCol, textCol, model)
      .select(col(idCol),
        round4(col("ce_micro").cast("double") / 1e6 /
          col("len").cast("double")).as(ceCol),
        col("len").cast("int").as("n_tokens"))

  /** Filtered-token bigram array (`"w1 w2"` strings): the zip_with
    * shingle construction over the LENGTH-FILTERED token array, so a
    * leading-whitespace empty token can neither start nor end a bigram
    * (mirrors the oracle's list_filter + window form). */
  def bigrams(text: Column): Column =
    TextAnalysis.adjacentPairs(tokens(text), " ")

  /** A trained bigram model: conditional add-one counts. `pairs` is the
    * (`w1w2`, `c2`) bigram count table; `ctx` the (`w1`, `cx`) context
    * count table (occurrences as a bigram's FIRST token); `vocab` the
    * reference's distinct-unigram count. The conditional probability of
    * a scored bigram is `(c2+1)/(cx+vocab+1)` with missing counts read
    * as zero — unseen pair in a seen context, and unseen context,
    * both fall out of the same formula. */
  final case class Bigram(pairs: DataFrame, ctx: DataFrame, vocab: Long)

  /** Train conditional bigram counts on `ref`. Two aggs over one
    * exploded bigram pass (the context table is a re-agg of the pair
    * table, not a second corpus scan) plus the unigram-vocab count. */
  def trainBigram(ref: DataFrame, textCol: String): Bigram = {
    // both explodes run in the scan's map tasks — spread once for both.
    // Two-step projection: the token array (regex split + length
    // filter) materializes once per row; the bigram tree references it
    // ~5 times (r14, TextAnalysis.shinglesFromWords rationale).
    val spread = Spread.across(ref)
    val pairs = spread
      .select(tokens(col(textCol)).as("__toks"))
      .select(explode(TextAnalysis.adjacentPairs(col("__toks"), " "))
        .as("w1w2"))
      .groupBy("w1w2").agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ctx = pairs
      .groupBy(substring_index(col("w1w2"), " ", 1).as("w1"))
      .agg(sum("c2").as("cx"))
    val vocab = spread
      .select(explode(tokens(col(textCol))).as("t"))
      .agg(count_distinct(col("t"))).head().getLong(0)
    Bigram(pairs, ctx, vocab)
  }

  /** Score `docs` under a [[Bigram]]: mean conditional bigram
    * cross-entropy in nats (4 dp) + the bigram count. Each scored
    * (doc, distinct-bigram) row computes ONE ln on the exact rational
    * `(c2+1)/(cx+V+1)`, immediately micro-rounded; the per-doc loss is
    * the integer dot product. Docs with fewer than two (non-empty)
    * tokens are absent. Scale shape: one corpus explode, two
    * vocabulary-scale joins (AQE broadcasts while they fit), one
    * per-doc agg. */
  def bigramCrossEntropy(docs: DataFrame, idCol: String, textCol: String,
      model: Bigram, ceCol: String = "bigram_ce"): DataFrame = {
    val denom = (col("__cx") + lit(model.vocab) + 1).cast("double")
    Spread.across(docs)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        explode(TextAnalysis.adjacentPairs(col("__toks"), " ")).as("w1w2"))
      .groupBy(idCol, "w1w2").agg(count(lit(1)).as("__n"))
      .join(model.pairs, Seq("w1w2"), "left")
      .withColumn("__w1", substring_index(col("w1w2"), " ", 1))
      .join(model.ctx.withColumnRenamed("w1", "__w1")
        .withColumnRenamed("cx", "__cx"), Seq("__w1"), "left")
      .withColumn("__cx", coalesce(col("__cx"), lit(0L)))
      .withColumn("__nll", nllMicro(
        (coalesce(col("c2"), lit(0L)) + 1).cast("double") / denom))
      .groupBy(idCol)
      .agg(sum(col("__n") * col("__nll")).as("__cem"),
        sum("__n").as("__len"))
      .select(col(idCol),
        round4(col("__cem").cast("double") / 1e6 /
          col("__len").cast("double")).as(ceCol),
        col("__len").cast("int").as("n_bigrams"))
  }
}
