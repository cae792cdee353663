package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Scoped

/** Benchmark decontamination — the training-pipeline step that flags
  * corpus documents overlapping a held-out evaluation set (the GPT-3
  * appendix-C / "Documenting contamination" procedure: word n-gram
  * overlap between each training doc and any benchmark doc).
  *
  * Scale shape: the benchmark side is an eval set — thousands of docs,
  * not terabytes — so its distinct shingle set is broadcast and the
  * corpus is scanned exactly ONCE: explode distinct shingles (the one
  * and only evaluation of the shingle expression per row), left-join
  * the broadcast bench flags, and count rows + hits in one per-doc
  * aggregation. The shingle strings die before the exchange and the
  * partial aggregation collapses the shuffle to one (doc, two counts)
  * row per mapper. Nothing all-pairs; no corpus-side distinct.
  * (A first cut computed per-doc totals in a second branch; the pushed
  * filter re-inlined the O(words) shingle expression 3-4x per row —
  * measured 5x slower than this single-pass shape at sf0.1.)
  *
  * `idCol` must identify documents uniquely: the batch report merges
  * rows sharing an id into one (union of their shingles, counted
  * per-row-distinct) while the stateless variant reports per ROW — the
  * row-for-row equality contract between them assumes keyed input.
  */
object Decontam {

  /** (id, exploded distinct shingle) with the regex split materialized
    * once per row (r14 — the single-select form re-ran split(text) at
    * every reference inside the Generate; see
    * TextAnalysis.shinglesFromWords). */
  private def explodedShingles(df: DataFrame, textCol: String,
      idCols: Seq[Column], n: Int): DataFrame =
    df.select(idCols :+ TextAnalysis.words(col(textCol)).as("__w"): _*)
      .select(idCols :+ explode(array_distinct(
        TextAnalysis.shinglesFromWords(col("__w"), n))).as("__sh"): _*)

  /** Exploded distinct benchmark shingle set (one row per shingle). */
  private def benchShingleSet(bench: DataFrame, textCol: String,
      n: Int): DataFrame =
    explodedShingles(bench, textCol, Seq.empty, n).distinct()

  /** The shared report tail: overlap fraction rounded to 6 dp and the
    * 0/1 flag compared on the ROUNDED fraction, so an oracle
    * recomputing the ratio cannot flip the flag at the threshold. */
  private def withScore(df: DataFrame, flagThreshold: Double): DataFrame =
    df.withColumn("contamination",
        round(col("n_overlap").cast("double") /
          col("n_shingles").cast("double"), 6))
      .withColumn("contaminated",
        when(col("contamination") >= flagThreshold, 1).otherwise(0))

  /** Per-document contamination report: distinct-shingle overlap count,
    * total distinct shingles, overlap fraction (6 dp), and a 0/1 flag
    * at `flagThreshold`. Documents with fewer than `n` words carry no
    * shingles and are excluded — they can never evidence contamination.
    */
  def contamination(corpus: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int = 3, flagThreshold: Double = 0.2): DataFrame =
    withScore(
      explodedShingles(Spread.across(corpus), textCol, Seq(col(idCol)), n)
        .join(broadcast(benchShingleSet(bench, textCol, n)
          .withColumn("__hit", lit(1))), Seq("__sh"), "left")
        .select(col(idCol), col("__hit"))
        .groupBy(idCol)
        .agg(count(col("__hit")).as("n_overlap"),
          count(lit(1)).cast("int").as("n_shingles")),
      flagThreshold)
      .select(col(idCol), col("n_overlap"), col("n_shingles"),
        col("contamination"), col("contaminated"))

  /** Corpus-level boilerplate mining: the `k` word-n-grams appearing in
    * the most documents (document frequency over per-doc DISTINCT
    * shingles, so a doc repeating a template line counts once). Total
    * order (df desc, shingle asc) makes the cut deterministic; the plan
    * is explode → partial hash-agg (map-side combine) → shuffle by
    * shingle → TakeOrderedAndProject — a top-k, never a global sort.
    * This is the feed for PPJoin-style prefix filtering and for
    * template-stripping gates at web-corpus scale.
    */
  def topShinglesByDf(docs: DataFrame, textCol: String, n: Int = 3,
      k: Int = 20): DataFrame =
    explodedShingles(docs, textCol, Seq.empty, n)
      .select(col("__sh").as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("shingle"))
      .limit(k)

  /** The corpus token-OCCURRENCE stream (every occurrence, not
    * per-doc-distinct): the frame both CMS entry points sketch/count. */
  private def tokenStream(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.words(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)

  /** Token-distribution drift between two corpora as symmetric
    * add-one-smoothed KL divergence — the monitor a crawl pipeline
    * runs between snapshots ("did this month's crawl shift the
    * distribution?"). Per-token KL terms in INTEGRAL micro-nats on the
    * LangModel recipe: probabilities are exact rationals over the
    * union vocabulary (p̂ = (c_p+1)/(N_p+V)), each term pays its one
    * ln on identical doubles in both engines and micro-rounds BEFORE
    * the sum, so the total is an order-free integer sum — no
    * float-summation hazard anywhere. Totals (N_p, N_q, V) ride as a
    * 1-row broadcast bound join, never a driver constant, so the same
    * plan serves any corpus.
    *
    * Scale shape: two map-side-combined token counts, one full-outer
    * join on token, one 1-row cross join, one integer-sum aggregate.
    * Returns (token, cp, cq, m_pq, m_qp) — micro-nat terms of
    * KL(P‖Q) and KL(Q‖P); aggregate with [[tokenKlReport]] or rank by
    * m_pq desc for the tokens DRIVING the drift. */
  /** Union-vocabulary count frame shared by [[klTerms]] (ungrouped)
    * and [[klReportBy]] (keyed on `__g`): per-key token counts from
    * both corpora full-outer-joined — null-SAFE on the group key, so
    * a null group is measured, not silently dropped — zeros
    * coalesced. Every consumer aggregates it twice and persists it
    * (the LangModel.trainUnigram materialization rationale). ONE copy of
    * the chain — a tokenizer or smoothing tweak applied to one
    * consumer cannot diverge the other. */
  private def vocabUnion(p: DataFrame, q: DataFrame, textCol: String,
      grouped: Boolean): DataFrame = {
    def cnts(df: DataFrame, as: String): DataFrame = {
      val base =
        if (grouped) df.select(col("__g"),
          explode(TextAnalysis.words(col(textCol))).as("tok"))
        else df.select(
          explode(TextAnalysis.words(col(textCol))).as("tok"))
      val keys = if (grouped) Seq("__g", "tok") else Seq("tok")
      base.filter(length(col("tok")) > 0)
        .groupBy(keys.map(col): _*).agg(count(lit(1)).as(as))
    }
    val a = cnts(p, "cp")
    val b = cnts(q, "cq")
    if (grouped)
      a.join(b, a("__g") <=> b("__g") && a("tok") === b("tok"),
          "full_outer")
        .select(coalesce(a("__g"), b("__g")).as("__g"),
          coalesce(a("tok"), b("tok")).as("tok"),
          coalesce(a("cp"), lit(0L)).as("cp"),
          coalesce(b("cq"), lit(0L)).as("cq"))
    else
      a.join(b, Seq("tok"), "full_outer")
        .select(col("tok"), coalesce(col("cp"), lit(0L)).as("cp"),
          coalesce(col("cq"), lit(0L)).as("cq"))
  }

  /** Term chain over an already-built [[vocabUnion]] frame — the ONE
    * copy compiled by [[klTerms]] (which pins the frame for its lazy
    * result) and [[tokenKlReport]] (which releases it eagerly). */
  private def klTermsOn(u: DataFrame): DataFrame = {
    val totals = u.agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"),
      count(lit(1)).as("v"))
    u.crossJoin(broadcast(totals))
      .select(col("tok"), col("cp"), col("cq"),
        klTermMicro(col("cp"), col("np") + col("v"),
          col("cq"), col("nq") + col("v")).as("m_pq"),
        klTermMicro(col("cq"), col("nq") + col("v"),
          col("cp"), col("np") + col("v")).as("m_qp"))
  }

  /** NOTE the persist lifecycle: the returned per-token frame is built
    * on a PERSISTED union-vocab intermediate (it is scanned twice
    * inside the one returned plan — totals + terms), which Spark's
    * CacheManager keeps until `unpersist` or `clearCache()` — dropping
    * the returned frame does not release it. A long-lived monitor that
    * only needs the aggregate should call [[tokenKlReport]] /
    * [[klReportBy]] instead — both evaluate eagerly and release the
    * intermediate before returning. */
  def klTerms(p: DataFrame, q: DataFrame, textCol: String): DataFrame =
    klTermsOn(vocabUnion(p, q, textCol, grouped = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Corpus-overlap report: exact Jaccard similarity of the two
    * corpora's distinct n-gram shingle SETS plus the two CONTAINMENT
    * coefficients (|∩|/|A|, |∩|/|B|) — the asymmetric question an
    * incremental crawl actually asks ("how much of snapshot B is
    * already in A?"), complementing the distribution-level
    * [[tokenKlReport]]. One full-outer join on the distinct-shingle
    * tables; everything falls out of a single aggregate. */
  def shingleJaccard(p: DataFrame, q: DataFrame, textCol: String,
      n: Int = 3): DataFrame = {
    def sets(df: DataFrame, flag: String) =
      benchShingleSet(df, textCol, n)
        .withColumnRenamed("__sh", "sh").withColumn(flag, lit(1L))
    def frac(num: Column, den: Column) =
      TextAnalysis.halfUpFloor(num.cast("double") / den.cast("double"), 6)
    sets(p, "ina").join(sets(q, "inb"), Seq("sh"), "full_outer")
      .agg(count(col("ina")).as("n_a"), count(col("inb")).as("n_b"),
        count(when(col("ina").isNotNull && col("inb").isNotNull, 1))
          .as("n_inter"))
      .select(col("n_a"), col("n_b"), col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"),
        frac(col("n_inter"),
          col("n_a") + col("n_b") - col("n_inter")).as("jaccard"),
        frac(col("n_inter"), col("n_a")).as("containment_a"),
        frac(col("n_inter"), col("n_b")).as("containment_b"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic over a numeric column:
    * D = max |CDF_p(v) − CDF_q(v)| across the union of observed
    * values — the distribution-shift test for COUNT-like signals
    * (token counts, line counts, integer lengths) where token KL does
    * not apply. Exact: cumulative counts are integers, each CDF
    * difference is one double division pair floored to the 10⁻⁶ grid
    * before the max. The running sums sweep the DISTINCT-VALUE table
    * via a range-sorted two-pass prefix-offset walk (r14) — no task
    * ever holds the full distinct-value set, so high-cardinality
    * columns (continuous scores with ~one distinct value per row) are
    * safe too; pre-bucketing remains a cost optimization, not a
    * correctness requirement. Evaluates EAGERLY (the result
    * is one row; the intermediate is released before returning) and
    * THROWS when either sample has no non-null value — a silent null
    * D would read as "no drift" for exactly the most-drifted case, a
    * source absent from one snapshot. */
  def ksStatistic(p: DataFrame, q: DataFrame,
      valueCol: String): DataFrame = {
    val spark = p.sparkSession
    def cnts(df: DataFrame, as: String) =
      df.select(col(valueCol).cast("double").as("v"))
        .filter(col("v").isNotNull)
        .groupBy("v").agg(count(lit(1)).as(as))
    // DISTRIBUTED cumulative sweep (r14): the single-partition
    // `Window.orderBy(v)` this replaces held every distinct value in
    // ONE task — metadata-scale for count-like columns, but a
    // high-cardinality double column at corpus scale made that task
    // the query. Same two-pass offset technique as the exact-percentile
    // selection in DescribeStats: range-sort the distinct-value rows by
    // v, pass 1 collects per-partition (Σca, Σcb) subtotals (which also
    // yield the totals — the separate totals aggregate is gone), the
    // driver prefix-sums them into per-partition cumulative offsets,
    // and pass 2 computes each partition's local cumulative sums plus
    // its offset and reports the partition's max grid-floored |D| term.
    // Cumulative sums are INTEGER (exact under any partitioning) and
    // the per-row double math reproduces the old column expression op
    // for op (long→double casts, division by the same totals,
    // halfUpFloor's floor(x·10⁶ + 0.5)/10⁶ grid), so D is identical.
    import spark.implicits._
    val sortedRdd = cnts(p, "ca").join(cnts(q, "cb"), Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .repartitionByRange(col("v"))
      .sortWithinPartitions("v")
      .as[(Double, Long, Long)]
      .rdd
    Scoped(sortedRdd) {
      val subs = sortedRdd.mapPartitionsWithIndex { (idx, it) =>
        var a = 0L; var b = 0L
        it.foreach { case (_, ca, cb) => a += ca; b += cb }
        Iterator.single((idx, a, b))
      }.collect().sortBy(_._1)
      val na = subs.map(_._2).sum
      val nb = subs.map(_._3).sum
      require(na > 0 && nb > 0,
        "ksStatistic: both samples need at least one non-null value")
      val offA = subs.map(_._1).zip(
        subs.scanLeft(0L)(_ + _._2).init).toMap
      val offB = subs.map(_._1).zip(
        subs.scanLeft(0L)(_ + _._3).init).toMap
      val grid = 1000000.0
      val ks = sortedRdd.mapPartitionsWithIndex { (idx, it) =>
        var ca = offA(idx)
        var cb = offB(idx)
        var best = Double.NegativeInfinity
        var any = false
        it.foreach { case (_, a, b) =>
          ca += a; cb += b; any = true
          val d = math.floor(math.abs(
            ca.toDouble / na.toDouble - cb.toDouble / nb.toDouble) *
            grid + 0.5) / grid
          if (d > best) best = d
        }
        if (any) Iterator.single(best) else Iterator.empty
      }.collect().max
      Seq((na, nb, ks)).toDF("n_p", "n_q", "ks")
    }
  }

  /** One micro-nat KL term: p̂·(ln p̂ − ln q̂) on add-one rationals,
    * floored to the 10⁻⁶ grid BEFORE any sum — the ONE copy both
    * [[klTerms]] and [[klReportBy]] compile (the oracle mirrors this
    * exact op order). */
  private def klTermMicro(a: Column, na: Column, b: Column,
      nb: Column): Column = {
    val pa = (a + 1).cast("double") / na.cast("double")
    val pb = (b + 1).cast("double") / nb.cast("double")
    floor(pa * (log(pa) - log(pb)) * 1000000.0 + 0.5).cast("long")
  }

  /** One-row drift report over [[klTerms]]: vocabulary size, totals,
    * and both KL directions in micro-nats (integer sums). Evaluates
    * EAGERLY (ksStatistic pattern): the result is one row, so the
    * persisted union-vocab intermediate is released before returning —
    * a per-snapshot monitor loop cannot accumulate cached frames. */
  def tokenKlReport(p: DataFrame, q: DataFrame,
      textCol: String): DataFrame = {
    val spark = p.sparkSession
    val u = vocabUnion(p, q, textCol, grouped = false)
    Scoped(u) {
      val agg = klTermsOn(u)
        .agg(count(lit(1)).as("n_vocab"),
          sum(col("cp")).as("np"), sum(col("cq")).as("nq"),
          sum(col("m_pq")).as("kl_pq_micro"),
          sum(col("m_qp")).as("kl_qp_micro"))
      // row passthrough, not typed re-extraction: empty-vocab input
      // yields NULL sums, which must survive as NULLs
      spark.createDataFrame(java.util.Arrays.asList(agg.head()), agg.schema)
    }
  }

  /** Per-group drift: [[tokenKlReport]] computed independently inside
    * every `groupCol` value — the monitor a multi-source pipeline
    * actually runs ("WHICH source drifted between snapshots?"). Same
    * micro-nat recipe per group; probabilities smooth over the GROUP's
    * union vocabulary, so each group's report equals
    * [[tokenKlReport]] run on that group alone (spec-pinned) — a NULL
    * group included (the joins are null-safe). A group whose documents
    * carry no tokens at all has no vocabulary to measure and produces
    * no row.
    *
    * Scale shape: per-(group, token) counts map-side combine, ONE
    * full-outer join keyed on (group, token), per-group totals are a
    * tiny broadcast (one row per group), and everything after reduces
    * as order-free integer sums in the SAME aggregate — no one-reducer
    * stage at any group cardinality. Evaluates EAGERLY: the result is
    * one row per group (the same bounded cardinality the per-group
    * totals broadcast already assumes), so it is gathered and re-seeded
    * as a local frame, releasing the persisted union-vocab intermediate
    * before returning — the drift-monitor-loop cache-leak fix. */
  def klReportBy(p: DataFrame, q: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val spark = p.sparkSession
    val u = vocabUnion(
      p.select(col(groupCol).as("__g"), col(textCol)),
      q.select(col(groupCol).as("__g"), col(textCol)),
      textCol, grouped = true)
    Scoped(u) {
      val report = klReportOn(u, groupCol)
      spark.createDataFrame(
        java.util.Arrays.asList(report.collect(): _*), report.schema)
    }
  }

  /** Grouped report plan over an already-built grouped [[vocabUnion]]
    * frame (body of [[klReportBy]], split so the eager wrapper owns the
    * persist lifecycle). */
  private def klReportOn(u: DataFrame, groupCol: String): DataFrame = {
    val totals = u.groupBy("__g")
      .agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"),
        count(lit(1)).as("v"))
    // aliases: totals derives from u, so unqualified __g would be an
    // ambiguous self-join reference
    u.as("u").join(broadcast(totals.as("t")),
        col("u.__g") <=> col("t.__g"))
      .select(col("u.__g").as("__g"),
        col("u.cp").as("cp"), col("u.cq").as("cq"),
        klTermMicro(col("u.cp"), col("t.np") + col("t.v"),
          col("u.cq"), col("t.nq") + col("t.v")).as("m_pq"),
        klTermMicro(col("u.cq"), col("t.nq") + col("t.v"),
          col("u.cp"), col("t.np") + col("t.v")).as("m_qp"))
      .groupBy("__g")
      .agg(count(lit(1)).as("n_vocab"),
        sum(col("cp")).as("np"), sum(col("cq")).as("nq"),
        sum(col("m_pq")).as("kl_pq_micro"),
        sum(col("m_qp")).as("kl_qp_micro"))
      .select(col("__g").as(groupCol), col("n_vocab"), col("np"),
        col("nq"), col("kl_pq_micro"), col("kl_qp_micro"))
  }

  /** Count–min sketch of the whitespace-token stream: approximate
    * occurrence counts for ANY token out of O(depth × width) integers
    * built in ONE corpus pass (partial-aggregated per partition, merged
    * on the driver) — the 100 TB shape for "how often does X occur"
    * probes without a per-token groupBy shuffle, and the frequency
    * feed for threshold gates over streams. CMS never underestimates:
    * exact ≤ estimate ≤ exact + eps·N with probability ≥ `confidence`
    * per probe (N = total occurrences = `totalCount` on the result).
    * The seed is fixed by the caller, so the sketch — and every
    * estimate — is deterministic for a given corpus. */
  def tokenCms(docs: DataFrame, textCol: String, eps: Double = 1e-4,
      confidence: Double = 0.99, seed: Int = 17)
      : org.apache.spark.util.sketch.CountMinSketch =
    tokenStream(docs, textCol).stat
      .countMinSketch("tok", eps, confidence, seed)

  /** Heavy-hitter audit: the exact top-`k` tokens (count desc, token
    * asc — total order) with the two CMS guarantees evaluated as
    * flags: `never_under` (estimate ≥ exact — structural, holds
    * always) and `within_eps` (estimate ≤ exact + ⌈eps·N⌉ — holds
    * with probability ≥ confidence per token). The sketch rides to
    * executors in the probe closure (KBs); the exact side is a
    * map-side-combined count + TakeOrderedAndProject, never a global
    * sort. */
  def cmsHeavyHitters(docs: DataFrame, textCol: String, k: Int = 20,
      eps: Double = 1e-4, confidence: Double = 0.99,
      seed: Int = 17): DataFrame = {
    val sketch = tokenCms(docs, textCol, eps, confidence, seed)
    val slack = math.ceil(eps * sketch.totalCount()).toLong
    // the probe is a UDF BY CHOICE: unlike the Bloom pre-gate (which
    // probes every corpus row and got the native
    // BloomFilterMightContain), this probe runs on exactly the top-k
    // rows AFTER the limit — k ≈ 20 driver-scale evaluations, where a
    // custom codegen expression would buy nothing. Spark ships no
    // native CMS-probe expression to reuse.
    val est = udf((t: String) => sketch.estimateCount(t))
    tokenStream(docs, textCol)
      .groupBy("tok").agg(count(lit(1)).as("n_exact"))
      .orderBy(desc("n_exact"), asc("tok"))
      .limit(k)
      .withColumn("__est", est(col("tok")))
      .select(col("tok"), col("n_exact"),
        (col("__est") >= col("n_exact")).cast("int").as("never_under"),
        (col("__est") <= col("n_exact") + lit(slack)).cast("int")
          .as("within_eps"))
  }
}
