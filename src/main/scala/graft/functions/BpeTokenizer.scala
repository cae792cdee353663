package graft.functions

import org.apache.spark.sql.{Column, DataFrame}

import graft.Lineage
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training as a distributed Spark job —
  * the step that turns "token budget" from a whitespace proxy into the
  * tokenizer's own unit. Classic word-level BPE (Sennrich et al. 2016):
  * start from characters plus an end-of-word marker, repeatedly merge
  * the most frequent adjacent symbol pair, weighted by word frequency.
  *
  * Scale shape — the trick is that everything expensive runs on the
  * DISTINCT-WORD table, never the corpus: one corpus pass builds
  * (word, count); each merge iteration is one explode→agg over that
  * table (map-side combined, shuffle = distinct pairs) plus a fold that
  * rewrites each word's symbol array in place; the corpus is touched
  * again only by [[tokenCounts]]' final join. The vocabulary table is
  * persisted per round with the previous round released (the Lloyd's /
  * duplicateClusters iteration discipline — flat lineage, no
  * recomputation cascade).
  *
  * Determinism: the winning pair each round is `(count desc, pair asc)`
  * — re-runs and partitionings pick the SAME merge sequence. The
  * tie-break key joins the two symbols with `\u0001`; that control
  * char is STRIPPED during word extraction, which serves double duty:
  * no text-derived pair can alias another pair's key, and no sequence
  * of merges over text symbols can ever reconstruct the
  * `\u0001`-containing end-of-word marker (a corpus containing the
  * literal string "</w>" would alias a plain-ASCII marker).
  *
  * Not SQL-expressible: the merge sequence is data-dependent (each
  * round's vocabulary depends on every earlier argmax), so there is no
  * DuckDB oracle; the contract is pinned by `BpeSpec` instead —
  * including the published hand-computable example.
  */
object BpeTokenizer {

  /** End-of-word marker symbol (the Sennrich convention: lets a merge
    * distinguish word-final from word-internal occurrences). Contains
    * the stripped `\u0001`, so text symbols can NEVER merge into
    * something equal to it — raw HTML with a literal "</w>" stays
    * distinguishable from the marker. */
  val Eow = "\u0001w"

  private val Sep = "\u0001"

  /** A trained tokenizer: the merge list IN ORDER. */
  final case class Bpe(merges: Seq[(String, String)])

  /** Distinct-word frequency table (`word`, `c`) — whitespace words,
    * the tie-break separator stripped, empties dropped. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(TextAnalysis.words(col(textCol))).as("word"))
      .select(regexp_replace(col("word"), Sep, "").as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("c"))

  /** A word's initial symbol array: its characters plus [[Eow]]. */
  def initSymbols(word: Column): Column =
    concat(split(word, ""), array(lit(Eow)))

  /** Adjacent symbol pairs of `syms`, as `a\u0001b` keys. */
  private def pairKeys(syms: Column): Column =
    TextAnalysis.adjacentPairs(syms, Sep)

  /** One left-to-right non-overlapping merge pass of (`a`,`b`) over a
    * symbol array: standard BPE application order — `a a a` under the
    * merge (a,a) becomes `[aa, a]`. */
  private def mergeOnce(syms: Column, a: String, b: String): Column =
    aggregate(syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(a) &&
            x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** Train `numMerges` merges on the corpus. Stops early when no
    * adjacent pair remains (every word fully merged into one symbol).
    * Cost: one corpus pass + `numMerges` vocabulary-table rounds. */
  def train(docs: DataFrame, textCol: String, numMerges: Int): Bpe = {
    require(numMerges >= 0, "numMerges must be non-negative")
    var words = wordCounts(docs, textCol)
      .select(col("c"), initSymbols(col("word")).as("syms"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < numMerges && !done) {
      val top = words
        .select(col("c"), explode(pairKeys(col("syms"))).as("p"))
        .groupBy("p").agg(sum("c").as("n"))
        .orderBy(col("n").desc, col("p").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val Array(a, b) = top(0).getString(0).split(Sep, 2) match {
          case arr if arr.length == 2 => arr
          case arr => throw new IllegalStateException(
            s"unsplittable pair key '${arr.mkString}'")
        }
        merges += ((a, b))
        val next = words
          .select(col("c"), mergeOnce(col("syms"), a, b).as("syms"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        next.count()
        words.unpersist()
        words = next
      }
    }
    words.unpersist()
    Bpe(merges.toSeq)
  }

  /** How many merge applications stack into one projection before the
    * plan is materialized and lineage truncated: Catalyst collapses
    * adjacent projects into nested expressions, so an unbounded fold of
    * higher-order `aggregate` lambdas would blow analysis/codegen at a
    * real tokenizer's merge count (thousands). 64 nested folds is well
    * inside codegen limits; the cost of a truncation is one
    * vocabulary-table materialization. */
  private val mergeBatch = 64

  /** The distinct-word → symbol-array table under `bpe`: every merge
    * applied in training order. Merges stack [[mergeBatch]] per
    * projection, then the vocabulary table materializes and lineage
    * truncates (reliable checkpoint with a configured checkpoint dir,
    * localCheckpoint in local mode — the duplicateClusters discipline),
    * so a production-size merge list is a chain of bounded-depth plans
    * over the VOCABULARY table; the corpus never pays per-merge work. */
  def wordTokens(docs: DataFrame, textCol: String, bpe: Bpe): DataFrame = {
    val init = wordCounts(docs, textCol)
      .select(col("word"), col("c"), initSymbols(col("word")).as("syms"))
    bpe.merges.grouped(mergeBatch).zipWithIndex
      .foldLeft(init) { case (df, (chunk, i)) =>
        val start = if (i == 0) df else Lineage.truncated(df)
        val applied = chunk.foldLeft(start) {
          case (d, (a, b)) => d.withColumn("syms", mergeOnce(col("syms"), a, b))
        }
        applied
      }
  }

  /** Per-document BPE token counts (`n_bpe_tokens`): corpus words join
    * the tokenized vocabulary (AQE broadcasts it while it fits) and
    * counts sum per doc. Docs with no words are absent. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
      bpe: Bpe): DataFrame = {
    val vocab = wordTokens(docs, textCol, bpe)
      .select(col("word"), size(col("syms")).as("__nt"))
    docs
      .select(col(idCol),
        explode(TextAnalysis.words(col(textCol))).as("word"))
      .select(col(idCol), regexp_replace(col("word"), Sep, "").as("word"))
      .filter(length(col("word")) > 0)
      .join(vocab, Seq("word"))
      .groupBy(idCol)
      .agg(sum("__nt").as("n_bpe_tokens"))
  }
}
