package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Scoped

/** Deduplication operators for training-data pipelines: exact (hash
  * groupBy), MinHash+LSH banding, SimHash, and exact n-gram Jaccard.
  *
  * Scale design (100 TB): every method is shuffle-bounded by design —
  * exact dedup shuffles one digest per doc; MinHash shuffles one row per
  * (doc, shingle) for the signature pass and one row per (doc, band) for
  * the candidate join, never the full text twice; the LSH band join only
  * pairs docs sharing a band bucket (vs the O(n²) cross join a naive
  * similarity pass would need). Hashes are md5-derived so results are
  * engine-portable and stable across runs/partitionings.
  */
object Dedup {

  /** Exact duplicate groups on md5 of a key column: one row per digest
    * with the member count and the keeper (min id). */
  def exactDupGroups(df: DataFrame, keyCol: String, idCol: String,
      minGroupSize: Int = 2): DataFrame =
    // null keys would md5 to null and collapse into one bogus dup group
    df.filter(col(keyCol).isNotNull)
      .groupBy(md5(col(keyCol)).as("digest"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"),
        array_join(transform(array_sort(collect_list(col(idCol))),
          _.cast("string")), ",").as("ids"))
      .filter(col("n") >= minGroupSize)

  /** (doc, shingle) pairs, distinct per doc. Shingling + the per-
    * shingle hashing every consumer applies next run in the scan's map
    * tasks, so a single-split corpus spreads first (consumers aggregate
    * counts/mins only — partition-independent). */
  def docShingles(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3): DataFrame =
    // two-step projection: the regex split materializes ONCE per row as
    // __w, then the shingle tree references the attribute (r14 — the
    // single-select form inlined split(text) at all ~6 references
    // inside the Generate; see TextAnalysis.shinglesFromWords)
    Spread.across(df)
      .select(col(idCol), TextAnalysis.words(col(textCol)).as("__w"))
      .select(col(idCol), explode(array_distinct(
        TextAnalysis.shinglesFromWords(col("__w"), n))).as("sh"))

  /** MinHash signature: k portable hash functions, signature component =
    * min over the doc's shingles. Hash family: four 32-bit (8-hex-char)
    * windows per md5, so k hashes cost ceil(k/4) md5 calls per shingle —
    * h_i(sh) = md5(⌊i/4⌋ ++ ":" ++ sh)[8(i%4) .. 8(i%4)+8). Fixed-width
    * hex keeps string-min == numeric-min, and md5 keeps the family
    * engine-portable (a DuckDB oracle reproduces the exact signature).
    *
    * Computed by the compiled one-pass
    * [[graft.expressions.MinhashComponents]] expression — ZERO shuffle:
    * the old explode → md5 → groupBy(min) form moved one (doc, shingle)
    * row per shingle through an aggregation exchange just to take a
    * per-doc min that a single row-local pass computes for free. Same
    * hash count (⌈k/4⌉ md5 per shingle), no 40×-row explode, no
    * exchange — and every LSH consumer downstream of [[bandedKeys]]
    * inherits the saved stage. Docs with fewer than n words (or null
    * text) have no shingles and are pre-filtered with a cheap word
    * count, matching the explode form's row set (absent ⇒ no bands)
    * without re-evaluating the expensive expression in a pushed-down
    * null filter. Bit-identity with the expression family is pinned by
    * StreamingSpec against the independent HOF formulation. */
  def minhashSignature(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, n: Int = 3): DataFrame = {
    // ⌈k/4⌉ md5 calls per shingle run per row in the scan's map tasks —
    // spread a single-split corpus first (signature rows are per-doc;
    // no cross-partition aggregate anywhere downstream of the raw rows)
    val base = Spread.across(df)
      .filter(col(textCol).isNotNull &&
        size(TextAnalysis.words(col(textCol))) >= n)
      .select(col(idCol), graft.expressions.MinhashComponents
        .minhash_components(col(textCol), k, n).as("__mhs"))
    val comps = (0 until k).map(i =>
      element_at(col("__mhs"), i + 1).as(s"mh$i"))
    base.select(col(idCol) +: comps: _*)
  }

  /** One per-row MinHash component — same hash family as
    * [[minhashSignature]], bit-identical values, as a PURE built-in
    * Column tree (array_min over transform'd shingles; null when the
    * text has fewer than n words). Every production path (batch and
    * streaming) runs the compiled one-pass
    * [[graft.expressions.MinhashComponents]] instead — HOFs evaluate
    * interpreted and this form pays k md5 calls per shingle where
    * ⌈k/4⌉ suffice. It stays because it is the INDEPENDENT derivation
    * of the family: StreamingSpec pins expression == HOF == the
    * explode-era formulation, so a bug in the hand-written expression
    * cannot hide behind its own implementation. */
  def minhashComponentRow(textCol: org.apache.spark.sql.Column, i: Int,
      n: Int = 3): org.apache.spark.sql.Column = {
    val sh = array_distinct(TextAnalysis.shingles(textCol, n))
    array_min(transform(sh,
      x => substring(md5(concat_ws(":", lit(i / 4), x)),
        (i % 4) * 8 + 1, 8)))
  }

  /** The banded key frame behind the LSH joins: one row per
    * (id, band, 64-bit band key). md5 defines the buckets
    * (engine-portable); the join itself runs on a 64-bit hash of it so
    * the shuffle/probe handles longs. Package-visible: the incremental
    * [[graft.sources.NearDupLedger]] persists exactly these rows. */
  private[graft] def bandedKeys(df: DataFrame, textCol: String, idCol: String,
      k: Int, rowsPerBand: Int, n: Int): DataFrame = {
    val sig = minhashSignature(df, textCol, idCol, k, n)
    val nBands = k / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat(parts: _*)).as("key"))
    }
    sig.select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"),
        xxhash64(col("bk.key")).as("key"))
  }

  /** LSH banding over a minhash signature: bands of `rowsPerBand`
    * components; docs sharing any band key are candidate pairs. */
  def lshCandidatePairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, rowsPerBand: Int = 2, n: Int = 3): DataFrame = {
    val banded = bandedKeys(df, textCol, idCol, k, rowsPerBand, n)
    val a = banded.toDF(Seq("a", "band", "key"): _*)
    val b = banded.toDF(Seq("b", "band", "key"): _*)
    a.join(b, Seq("band", "key"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Per-bucket STAR edges of the LSH candidate graph: one
    * (bucket-min id `a`, member id `b`) row per banded row whose id is
    * not its bucket's minimum — the scale form of
    * [[lshCandidatePairs]] for every consumer that does NOT need the
    * explicit pair list:
    *
    *   - same LOSER set: b is the higher id of some candidate pair
    *     ⟺ some bucket containing b has min < b ⟺ b appears here;
    *   - same CONNECTED COMPONENTS: any two members of a bucket are
    *     linked through the bucket minimum, so the star graph and the
    *     complete bucket graph have identical components.
    *
    * Why it exists: a bucket of m mutual near-dups expands to
    * m·(m−1)/2 rows in the pair join — the scale-stress corpus's
    * 1%-boilerplate cluster is ONE ~n/100-doc bucket, so pair listing
    * is Θ(n²/10⁴) rows (measured: the x100 corpus spilled hundreds of
    * GB) while this frame is one window pass over the banded rows —
    * Θ(rows), zero joins, and the hot bucket costs m rows like every
    * other bucket. Use the pair form only when the pairs themselves
    * are the product (the `q_minhash_lsh` oracle anchor, pair-level
    * audits); route dedup-decision and component consumers here. */
  def lshBucketMinEdges(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, rowsPerBand: Int = 2, n: Int = 3): DataFrame = {
    val banded = bandedKeys(df, textCol, idCol, k, rowsPerBand, n)
    banded
      .withColumn("__min",
        min(col(idCol)).over(Window.partitionBy(col("band"), col("key"))))
      .filter(col(idCol) > col("__min"))
      .select(col("__min").as("a"), col(idCol).as("b")).distinct()
  }

  /** LSH candidate pairs BETWEEN two corpora — near-dup
    * decontamination (train vs held-out eval, the step past
    * `Decontam.contamination`'s exact n-gram overlap: a lightly
    * paraphrased benchmark document still collides in minhash space)
    * and cross-snapshot dedup. Same hash family and banding as
    * [[lshCandidatePairs]], so a (corpusA ∪ corpusB) self-join and
    * this cross-join agree on every A×B pair; returns
    * (`a` = left id, `b` = right id) with no id-order constraint —
    * the sides are different tables. At scale each side shuffles once
    * on the band key; the eval side is typically tiny and AQE
    * broadcasts it. */
  def lshCandidatePairsAcross(left: DataFrame, right: DataFrame,
      textCol: String, idCol: String, k: Int = 8, rowsPerBand: Int = 2,
      n: Int = 3): DataFrame = {
    val a = bandedKeys(left, textCol, idCol, k, rowsPerBand, n)
      .toDF(Seq("a", "band", "key"): _*)
    val b = bandedKeys(right, textCol, idCol, k, rowsPerBand, n)
      .toDF(Seq("b", "band", "key"): _*)
    a.join(b, Seq("band", "key")).select("a", "b").distinct()
  }

  /** Exact n-gram Jaccard similarity join: candidate pairs from shared
    * shingle hashes, sim = |∩|/|∪|. Joins run on 64-bit shingle hashes:
    * 8-byte shuffle keys, long hash probes (collision odds
    * ~|shingles|²/2⁶⁴ — immaterial to counts). Best when the corpus
    * fits a direct self-join; `jaccardPairsPrefix` is the identical-
    * result scale path for corpora where Σ freq(shingle)² explodes. */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // set sizes are computed PER ROW before the explode (r14): sz is
    // size(array_distinct(shingles)) — exactly what the old
    // count-over-Window-by-id produced, minus the id-keyed
    // exchange+sort the window forced on the full (doc, shingle) frame
    // (the window key never matched the join's sh key, so that
    // exchange was pure overhead). Both join sides remain the
    // identical subplan, so ReuseExchange still computes the shingle
    // pipeline once, and nothing is cached (a long-lived service would
    // otherwise leak one pinned plan per call).
    val sh = Spread.across(df)
      .select(col(idCol), TextAnalysis.words(col(textCol)).as("__w"))
      .select(col(idCol), array_distinct(
        TextAnalysis.shinglesFromWords(col("__w"), n)).as("__shd"))
      .select(col(idCol), size(col("__shd")).as("sz"),
        explode(col("__shd")).as("sh0"))
      .select(col(idCol), xxhash64(col("sh0")).as("sh"), col("sz"))
    val a = sh.toDF("a", "sh", "sza")
    val b = sh.toDF("b", "sh", "szb")
    a.join(b, Seq("sh")).filter(col("a") < col("b"))
      .groupBy("a", "b", "sza", "szb").agg(count(lit(1)).as("common"))
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("sza") + col("szb") - col("common")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** PPJoin-style prefix-filtered variant of [[jaccardPairs]] — same
    * results, different cost shape: two docs can only reach J ≥ t if
    * they collide within each other's first (1-t)·|set|+1 shingles
    * under a shared GLOBAL order, so only prefix collisions (plus a
    * size bound) generate candidate pairs and exact |∩| is counted for
    * candidates alone.
    *
    * The global order is ascending DOCUMENT FREQUENCY (ties by hash) —
    * the load-bearing choice from the PPJoin literature, measured here:
    * with raw-hash order a corpus-wide boilerplate shingle whose hash
    * ranks low lands in EVERY doc's prefix and still collides all n²
    * pairs (heavy-tail calibration, 5k docs with a shared 60-token
    * boilerplate block: hash-order prefix 89 s — LOSING to the ~53 s
    * direct join it exists to beat). Rarest-first order keeps hot
    * shingles out of every prefix: same corpus, 25 s in r3, and
    * **13–16 s with the r5 shingle materialization — 3.6–3.9× faster
    * than direct**, identical pairs. The df aggregation costs one
    * extra keyed shuffle over the shingles — the same key the
    * candidate join shuffles on.
    *
    * On flat-frequency corpora the direct join's fewer passes still win
    * (r3 calibration: 5k docs ≈ 5.5 s direct vs 6.4 s prefix) —
    * [[jaccardPairsAuto]] dispatches on measured candidate blowup. */
  def jaccardPairsPrefix(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8,
      materializeShingles: Boolean = true): DataFrame =
    prefixPairsFromHashedShingles(
      docShingles(df, textCol, idCol, n)
        .select(col(idCol), xxhash64(col("sh")).as("sh")),
      idCol, threshold, materializeShingles)

  /** The PPJoin core over an ALREADY-HASHED (idCol, sh) shingle frame —
    * shared by [[jaccardPairsPrefix]] (shingles from text) and
    * [[jaccardLosers]]' prefix mode (shingles re-exploded from the
    * digest-compressed representative sets). */
  private[graft] def prefixPairsFromHashedShingles(shBase: DataFrame,
      idCol: String, threshold: Double,
      materializeShingles: Boolean): DataFrame = {
    // the hashed shingle set feeds FOUR independent branches (document
    // frequencies, the prefix window, and both sides of the candidate
    // count join); without materialization each branch re-explodes and
    // re-hashes the full corpus text — measured 6 scans+explodes in the
    // plan, and 1.58× slower at sf0.1. persist() computes ONE copy
    // (16 B/shingle, spillable — what the PPJoin literature
    // materializes as the tokenized corpus) that the CacheManager
    // shares across all four branches; unlike a localCheckpoint the
    // blocks recompute through lineage on executor loss instead of
    // failing the job, and repeated calls over the SAME corpus reuse
    // the entry via CacheManager plan-matching (one entry per distinct
    // corpus; spark.catalog.clearCache() evicts — dropping the result
    // does not, the CacheManager holds the entry). jaccardPairs stays
    // unmaterialized because its two branches are the IDENTICAL
    // subplan, which ReuseExchange already computes once — here the
    // four branches differ, so exchange reuse cannot share them.
    // materializeShingles=false opts back into pure recompute for
    // callers that cannot tolerate the transient pinned blocks.
    val sh = if (materializeShingles) {
      val p = shBase
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // eager materialization: the four consumer branches are SIBLING
      // stages of one plan, and AQE runs them concurrently — parallel
      // first-touch of a lazily-cached frame re-computes the explode
      // in every branch (work is duplicated even though storage
      // dedups; see simhashNearDupPairs). One count() pays the
      // explode once, serially, before the branches.
      p.count()
      p
    } else shBase

    // global rarest-first order: per-shingle document frequency, then
    // hash for a total order; broadcast is not assumed — it's a keyed
    // join on the same shingle key the candidate join uses
    val byDf = sh.groupBy("sh").agg(count(lit(1)).as("__df"))

    // prefix = the first k shingles in (df, hash) order,
    // k = sz - ceil(t'·sz) + 1; the set size and the rank come from one
    // window pass (same partition key → one exchange+sort, no cache)
    val tRelaxed = math.max(0.0, threshold - 1e-3)
    val w = Window.partitionBy(col(idCol)).orderBy(col("__df"), col("sh"))
    val prefix = sh.join(byDf, Seq("sh"))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <=
        col("sz") - ceil(lit(tRelaxed) * col("sz")) + 1)
      .select(col(idCol), col("sh"), col("sz"))

    // candidates: prefix collisions + the size bound t·|a| ≤ |b| ≤ |a|/t
    val cand = prefix.toDF("a", "sh", "sza")
      .join(prefix.toDF("b", "sh", "szb"), Seq("sh"))
      .filter(col("a") < col("b") &&
        col("szb") >= ceil(lit(tRelaxed) * col("sza")) &&
        col("szb") <= floor(col("sza") / lit(tRelaxed)))
      .select("a", "b", "sza", "szb").distinct()

    // exact intersection size, counted only for candidate pairs
    val common = cand
      .join(sh.toDF("a", "sh"), Seq("a"))
      .join(sh.toDF("b", "sh"), Seq("b", "sh"))
      .groupBy("a", "b", "sza", "szb").agg(count(lit(1)).as("common"))

    common
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("sza") + col("szb") - col("common")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  /** Estimated candidate blowup of the direct Jaccard self-join:
    * Ĉ/Ŝ, where S = Σ_docs |distinct shingles| (rows the join
    * shuffles) and C = Σ_shingle freq² (candidate rows the join
    * generates — its real cost). Measured on a 1/`slices` hash slice
    * of the DOCUMENTS, not of shingle-key space: a key slice would
    * still explode every document's text — the dominant cost at corpus
    * scale — just to discard 15/16 of the rows, so the probe would
    * cost as much as the join side it is trying to predict. Sampling
    * docs shrinks the explode itself; per-shingle sampled frequencies
    * are Binomial(freq, p), so E[f_s²] = p²f² + p(1−p)f and the sums
    * debias as Σf² ≈ (C_s − (1−p)·S_s)/p², Σf ≈ S_s/p — giving
    * Ĉ/Ŝ = (C_s − (1−p)·S_s)/(p·S_s). The doc slice is a deterministic
    * xxhash64(id) bucket (reproducible, no RNG). Returns 1.0 (no
    * blowup) for an empty slice; the estimate never reports below 1. */
  def jaccardCandidateBlowup(df: DataFrame, textCol: String,
      idCol: String, n: Int = 3, slices: Int = 16): Double = {
    val p = 1.0 / slices
    val agg = docShingles(
        df.filter(pmod(xxhash64(col(idCol)), lit(slices.toLong)) === 0L),
        textCol, idCol, n)
      .groupBy("sh").agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("s"), sum(col("c") * col("c")).as("c2"))
      .head()
    if (agg.isNullAt(0) || agg.getLong(0) == 0L) 1.0
    else {
      val s = agg.getLong(0).toDouble
      val c2 = agg.getLong(1).toDouble
      math.max(1.0, (c2 - (1.0 - p) * s) / (p * s))
    }
  }

  /** Sampled QUALIFY density of the Jaccard self-join: the fraction of
    * candidate pairs (≥ 1 shared shingle) that actually clear the
    * threshold, measured by running the direct join on the SAME
    * 1/`slices` deterministic doc slice [[jaccardCandidateBlowup]]
    * probes. Slicing docs keeps both counts pair-level-within-slice —
    * a duplicate cluster of m docs keeps ~m/slices members, so
    * qualifying and candidate pairs shrink by the same ~1/slices²
    * factor and their RATIO estimates the full-corpus density without
    * debiasing. The probe's join costs ~1/slices² of the real join's
    * candidate work — the price of measuring instead of guessing.
    * Returns 0.0 when the slice has no candidate pairs. */
  /** The 1/`slices` deterministic doc slice's hashed shingles with the
    * per-doc distinct-set size riding per ROW (`sz` =
    * size(array_distinct(shingles)) computed before the explode — r14;
    * the old count-over-Window-by-id form produced the same number
    * through an id-keyed exchange+sort of the slice). Shared by both
    * density estimators so they cannot drift. */
  private def sizedSliceShingles(df: DataFrame, textCol: String,
      idCol: String, n: Int, slices: Int): DataFrame =
    Spread.across(
        df.filter(pmod(xxhash64(col(idCol)), lit(slices.toLong)) === 0L))
      .select(col(idCol), TextAnalysis.words(col(textCol)).as("__w"))
      .select(col(idCol), array_distinct(
        TextAnalysis.shinglesFromWords(col("__w"), n)).as("__shd"))
      .select(col(idCol), size(col("__shd")).as("sz"),
        explode(col("__shd")).as("sh0"))
      .select(col(idCol), xxhash64(col("sh0")).as("sh"), col("sz"))

  def jaccardQualifyDensity(df: DataFrame, textCol: String,
      idCol: String, n: Int = 3, threshold: Double = 0.8,
      slices: Int = 16): Double = {
    val sh = sizedSliceShingles(df, textCol, idCol, n, slices)
      // same frequency cut as the fused probe's density leg (guard
      // comment in jaccardDispatchProbe) — the two estimators must stay
      // verbatim-identical or dispatch decisions drift between the
      // calibration path and the auto path
      .withColumn("__f", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("__f") <= dispatchDensityFreqCap)
      .drop("__f")
      .select(col(idCol), col("sh"), col("sz"))
    val a = sh.toDF("a", "sh", "sza")
    val b = sh.toDF("b", "sh", "szb")
    val agg = a.join(b, Seq("sh")).filter(col("a") < col("b"))
      .groupBy("a", "b", "sza", "szb").agg(count(lit(1)).as("common"))
      .agg(count(lit(1)).as("cand"),
        count(when(round(col("common").cast("double") /
          (col("sza") + col("szb") - col("common")).cast("double"), 4)
          >= threshold, 1)).as("qual"))
      .head()
    if (agg.getLong(0) == 0L) 0.0
    else agg.getLong(1).toDouble / agg.getLong(0).toDouble
  }

  /** Cost-dispatched Jaccard join, on MEASURED candidate blowup rather
    * than doc count (doc count was the r2 signal and the r3 calibration
    * disproved it: the direct join won at every corpus size tried —
    * 500 docs 0.9 s vs 1.3 s, 5k docs 5.5 s vs 6.4 s, 80k replica-docs
    * 58 s vs 174 s — because this corpus's shingle frequencies are flat;
    * size alone never predicts the join's cost). The real cost driver is
    * C/S = candidate rows per shuffled row ([[jaccardCandidateBlowup]]):
    * measured C/S was 2.1 at 500 docs and 10.7 at 5k docs (direct still
    * ahead at both), so the default crossover is set at 32 — the
    * heavy-tailed regime (hot shingles driving C/S ≫ 10 with result
    * pairs still sparse) is where the prefix filter's pruning pays for
    * its extra passes.
    *
    * Candidate blowup alone is NOT a sufficient signal — the r6
    * scale-stress run proved it: a corpus DENSE in true near-dups
    * drives C/S ≫ 32 through exactly the shingles its duplicate
    * cliques share, auto picked prefix, and prefix LOST to the direct
    * join it exists to beat (176 s vs 123 s at 500k docs) because no
    * filter can prune pairs that genuinely qualify. So past the blowup
    * crossover the dispatcher now also measures QUALIFY density on the
    * same doc slice ([[jaccardQualifyDensity]]): when more than
    * `densityLimit` of candidate pairs clear the threshold, the
    * candidate set is substantially irreducible output and the direct
    * join's fewer passes win — dup-dense corpora route back to
    * direct. The crossover is calibrated against three measured
    * corpora: 25-replica cliques (direct's territory) measure 0.020;
    * corpus-wide appended boilerplate with sub-threshold pairs
    * (prefix's) 0.0015; and the bounded-cluster scale corpus 0.0083 —
    * mid-density, where at 5M docs the direct join's candidate spill
    * exceeded a single host's disk while prefix completed, so
    * mid-density belongs to prefix once blowup is high. 0.015 puts
    * the replica regime above and both others below the line.
    * Both paths are result-identical — oracle-verified against the
    * same SQL. */
  /** BOTH dispatch probes — candidate blowup AND qualify density — from
    * ONE Spark job over ONE shared shingle slice (VERDICT r7 item 7:
    * the old dispatcher ran [[jaccardCandidateBlowup]] and
    * [[jaccardQualifyDensity]] as two separate jobs that each
    * re-exploded the same 1/`slices` doc slice — the explode is the
    * probe's dominant cost, so fusing halves the dispatch overhead
    * every auto-mode call pays). The hashed slice shingles persist once
    * (tiny — 1/slices of the corpus, unpersisted before return since
    * both legs are fully collected); the frequency leg and the
    * pair-density leg union into a single two-row collect — one action,
    * one job, the slice explode computed once. Estimators are verbatim
    * from the two standalone probes (kept public for calibration), so
    * dispatch decisions cannot drift. Returns (blowup, density). */
  /** Per-shingle slice-frequency cap for the dispatch probe's density
    * leg (see the guard comment inside [[jaccardDispatchProbe]]): f²
    * probe pairs from one f-frequency shingle caps at ~32k — bounded
    * probe work however degenerate the slice. Package-visible so the
    * guard spec can build a fixture that provably crosses it. */
  private[graft] val dispatchDensityFreqCap: Int = 256

  private[graft] def jaccardDispatchProbe(df: DataFrame, textCol: String,
      idCol: String, n: Int, threshold: Double,
      slices: Int = 16): (Double, Double) = {
    val p = 1.0 / slices
    val sliceSh = sizedSliceShingles(df, textCol, idCol, n, slices)
    Scoped(sliceSh) {
      val freqLeg = sliceSh.groupBy("sh").agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c")), lit(0L)).cast("double").as("v1"),
          coalesce(sum(col("c") * col("c")), lit(0L)).cast("double")
            .as("v2"))
        .select(lit("freq").as("leg"), col("v1"), col("v2"))
      // DENSITY-LEG GUARD (r9 — VERDICT r8 item 7): the pair self-join
      // is quadratic PER SHINGLE (a shingle in f slice docs emits
      // ~f²/2 probe pairs), so one degenerate corpus-wide boilerplate
      // shingle could make the PROBE the quadratic step it exists to
      // prevent. Shingles above `dispatchDensityFreqCap` slice
      // occurrences are cut from the density leg only (doc set sizes
      // `sz` are computed BEFORE the cut, so the Jaccard estimate for
      // surviving pairs is unchanged; the freq leg sees everything —
      // hot shingles are exactly what the blowup estimator measures).
      // The cut cannot flip a pinned dispatch decision: density is only
      // consulted when blowup > blowupLimit, and a cut shingle's pair
      // population is ~all-candidate/no-qualify mass that pushes
      // density DOWN toward the prefix branch — removing it measures
      // the non-boilerplate population, which is the signal the
      // replica-clique regime (slice freq ≤ replicas ≪ cap) actually
      // pins. Spec: a slice-degenerate boilerplate corpus probes in
      // sub-quadratic time with the decision unchanged.
      val sh = sliceSh
        .withColumn("__f", count(lit(1)).over(Window.partitionBy(col("sh"))))
        .filter(col("__f") <= dispatchDensityFreqCap)
        .drop("__f")
        .select(col(idCol), col("sh"), col("sz"))
      val densLeg = sh.toDF("a", "sh", "sza")
        .join(sh.toDF("b", "sh", "szb"), Seq("sh"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b", "sza", "szb").agg(count(lit(1)).as("common"))
        .agg(count(lit(1)).cast("double").as("v1"),
          count(when(round(col("common").cast("double") /
            (col("sza") + col("szb") - col("common")).cast("double"), 4)
            >= threshold, 1)).cast("double").as("v2"))
        .select(lit("dens").as("leg"), col("v1"), col("v2"))
      val legs = freqLeg.unionByName(densLeg).collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
        .toMap
      val (s, c2) = legs("freq")
      val blowup =
        if (s == 0.0) 1.0
        else math.max(1.0, (c2 - (1.0 - p) * s) / (p * s))
      val (cand, qual) = legs("dens")
      val density = if (cand == 0.0) 0.0 else qual / cand
      (blowup, density)
    }
  }

  /** The dispatch decision alone — package-visible so specs can assert
    * WHICH branch a corpus routes to without timing anything. */
  private[graft] def jaccardAutoPicksPrefix(df: DataFrame, textCol: String,
      idCol: String, n: Int, threshold: Double, blowupLimit: Double,
      densityLimit: Double): Boolean = {
    val (blowup, density) =
      jaccardDispatchProbe(df, textCol, idCol, n, threshold)
    blowup > blowupLimit && density < densityLimit
  }

  def jaccardPairsAuto(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8,
      blowupLimit: Double = 32.0,
      densityLimit: Double = 0.015): DataFrame =
    if (jaccardAutoPicksPrefix(df, textCol, idCol, n, threshold,
        blowupLimit, densityLimit))
      jaccardPairsPrefix(df, textCol, idCol, n, threshold)
    else jaccardPairs(df, textCol, idCol, n, threshold)

  /** LOSER ids of the exact n-gram Jaccard near-dup relation — every id
    * that is the GREATER element of at least one qualifying (J ≥
    * `threshold`) pair; `df.join(result, …, "left_anti")` is greedy
    * near-dup removal with exactly [[jaccardPairs]]' pair semantics
    * ([[dropJaccardDups]] wraps that). The star-edge contract of
    * [[lshBucketMinEdges]] brought to the exact-Jaccard path: the
    * OUTPUT is one row per loser id — Θ(docs), never Θ(pairs) — so
    * dedup-decision consumers stay linear even when the qualifying
    * pair set itself is quadratic (a clique of m mutual near-dups is m
    * loser rows here vs m·(m−1)/2 rows from the pair join).
    *
    * Two-tier construction, exact by case split on a doc's smallest
    * qualifying partner y < x:
    *
    *   1. **Identical-set compression**: docs are grouped by a digest
    *      of their full sorted shingle-hash set; J = 1 within a group,
    *      so every non-minimum member is a loser via its group minimum
    *      (the representative) — m−1 rows per m-group with NO join at
    *      all. The dominant dup shape in real corpora (mirrored
    *      crawls, identical re-uploads) never touches the pair join.
    *   2. **Representative-level direct join**: J depends only on the
    *      shingle SET, so cross-group qualifying pairs are decided
    *      once per (repA, repB); a rep x is a loser iff some
    *      qualifying rep pair has a smaller rep on the other side —
    *      and a non-rep member is covered by case 1 (its rep is
    *      already a smaller J = 1 partner). The per-candidate
    *      intersection counting runs over DISTINCT shingle sets, and
    *      its output feeds a map-side-combined groupBy(b) — the pair
    *      list is never shuffled or materialized.
    *
    * Soundness/completeness: x is a loser ⟺ ∃ y < x with J(x,y) ≥ t.
    * If x is not its group's rep, its rep r < x has J = 1 ≥ t (case
    * 1). If x IS a rep, any qualifying partner y lies in a group Y
    * with J(X,Y) ≥ t and min(Y) ≤ y, so a smaller partner exists iff
    * min(Y) = rep(Y) < x — exactly the (rep(Y), x) rep pairs case 2
    * emits. */
  /** `mode` picks the REP-LEVEL candidate join: "direct" (shared-
    * shingle self-join — fewest passes, but its candidate spill is
    * Σ freq² and exceeded a single host's disk at the 5M-doc stress
    * scale), "prefix" (the PPJoin core over the representative shingle
    * sets — completed the same 5M run), or "auto" (default: the
    * [[jaccardPairsAuto]] blowup + qualify-density probes on the input
    * corpus; exact-dup mass inflates the probed blowup relative to the
    * compressed rep frame, so auto can only err toward prefix — the
    * branch that degrades gracefully). */
  def jaccardLosers(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8,
      mode: String = "auto"): DataFrame = {
    require(Set("auto", "direct", "prefix")(mode), s"unknown mode: $mode")
    // the sorted shingle-hash set is computed PER ROW (transform +
    // array_sort over the shingle array the text row already produces)
    // — ZERO shuffle, where the explode → groupBy(id) → collect_list
    // formulation this replaces round-tripped every (doc, shingle) row
    // through an id-keyed exchange just to re-assemble arrays that were
    // row-local all along (the minhashSignature lesson applied to the
    // digest tier). Element values, sort order, and the digest formula
    // are IDENTICAL, so the digest tier's semantics are unchanged;
    // shingle-free docs (< n words, null text) are excluded exactly as
    // the explode form excluded them — they must not share an
    // empty-set digest and pair with each other (J is undefined on
    // empty sets).
    // the per-row shingle+sort+digest work runs in the scan's map tasks
    // — spread a single-split corpus first (window/joins downstream are
    // keyed; digests are per-row: partition-independent). Two-step
    // projection so the regex split runs once per row (r14, see
    // TextAnalysis.shinglesFromWords).
    val sets = Spread.across(df)
      .select(col(idCol), TextAnalysis.words(col(textCol)).as("__w"))
      .select(col(idCol),
        array_sort(transform(
          array_distinct(TextAnalysis.shinglesFromWords(col("__w"), n)),
          s => xxhash64(s))).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col(idCol), col("shs"),
        md5(array_join(transform(col("shs"), _.cast("string")), ","))
          .as("dig"))
    // rep = group minimum via ONE dig-keyed window pass over the packed
    // rows — the groupBy(dig) + re-join formulation shuffled the array
    // column by dig anyway (the join side), plus a second narrow
    // aggregate exchange this fuses away
    val withRep = sets.withColumn("rep",
      min(col(idCol)).over(Window.partitionBy(col("dig"))))
    val identicalLosers = withRep.filter(col(idCol) =!= col("rep"))
      .select(col(idCol).as("b"))
    val usePrefix = mode match {
      case "prefix" => true
      case "direct" => false
      case _ => jaccardAutoPicksPrefix(df, textCol, idCol, n, threshold,
        32.0, 0.015)
    }
    val repLosers =
      if (usePrefix) {
        val repSh = withRep.filter(col(idCol) === col("rep"))
          .select(col("rep"), explode(col("shs")).as("sh"))
        prefixPairsFromHashedShingles(repSh, "rep", threshold,
          materializeShingles = true).select(col("b"))
      } else {
        val repSh = withRep.filter(col(idCol) === col("rep"))
          .select(col("rep"), size(col("shs")).as("sz"),
            explode(col("shs")).as("sh"))
        val a = repSh.toDF("a", "sza", "sh")
        val b = repSh.toDF("b", "szb", "sh")
        a.join(b, Seq("sh")).filter(col("a") < col("b"))
          .groupBy("a", "b", "sza", "szb").agg(count(lit(1)).as("common"))
          .filter(round(col("common").cast("double") /
            (col("sza") + col("szb") - col("common")).cast("double"), 4)
            >= threshold)
          .select(col("b"))
      }
    identicalLosers.unionByName(repLosers).distinct()
  }

  /** Greedy exact-Jaccard near-dup removal: drop every doc that is the
    * higher id of a qualifying pair ([[jaccardLosers]]); survivors are
    * docs with no smaller qualifying partner. Same greedy contract as
    * [[graft.functions.Curation.dropNearDups]] (per-pair local —
    * survival never depends on whether the lower partner survived),
    * with the exact J ≥ t relation instead of the LSH approximation. */
  def dropJaccardDups(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8,
      mode: String = "auto"): DataFrame =
    df.join(jaccardLosers(df, textCol, idCol, n, threshold, mode)
      .withColumnRenamed("b", idCol), Seq(idCol), "left_anti")

  /** Embedding-cosine near-duplicate pairs, centroid-blocked — the scale
    * path and the default: route both sides through multi-probe IVF
    * assignment ([[Similarity.assignTopK]]), generate candidates only
    * between vectors sharing a probe bucket, then exact cosine on the
    * candidates. O(n²) all-pairs becomes Σ bucket² candidate comparisons
    * inside one bucket-keyed join — nothing nested-loops.
    *
    * Recall: a qualifying pair is found iff the two vectors share one of
    * their `probes` nearest centroids. With a codebook finer than the
    * duplicate radius (near-dups at `threshold` sit far closer than
    * centroid spacing) this is recall-complete; raise `probes` (up to
    * k = exhaustive) when the codebook is coarse. Verified
    * result-identical to [[cosineDupPairsExact]] on the test corpus.
    *
    * Codebook size sets the candidate join's parallelism: the shuffle
    * key has exactly k·(probe overlap) distinct values, so a coarse
    * fixed codebook (the r2 10-label default) caps the join at ≤10
    * tasks and magnetizes skew (one hot bucket = one straggler).
    * Prefer [[cosineDupPairsTrained]], which trains k≈√n centroids —
    * √n distinct keys parallelize at any corpus size and minimize
    * Σ bucket² candidate work. */
  def cosineDupPairsBlocked(df: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, threshold: Double, probes: Int = 2,
      chunkSize: Int = 4096): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be positive: $chunkSize")
    // ASYMMETRIC probe join — the canonical IVF range-search shape:
    // every vector RESIDES in exactly its top-1 bucket and PROBES its
    // `probes` nearest buckets, so a pair surfaces when either side's
    // probe list covers the other's residence bucket (the same recall
    // argument as multi-probe search: a qualifying pair's residence
    // centroid is among the partner's nearest buckets unless the
    // codebook is coarser than the pair radius). Residence×probe is a
    // `probes`-fold candidate cut over the earlier probe×probe join.
    //
    // CRITICAL scale shape — candidates must never exist as rows. The
    // probes·bucket·n candidate expansion (5.4e8 at the 200k-vector
    // stress corpus) is far bigger than either input or output, so any
    // plan that materializes one ROW per candidate pays Θ(candidates)
    // × row-width in copies: the first form shipped candidate ids
    // through a distinct() shuffle plus two vector re-attach joins
    // (hundreds of GB of spill, disk-full abort); the second streamed
    // the join but still materialized a ~550-byte two-vector row per
    // candidate inside the sort-merge join (~3.5 µs/candidate of pure
    // memory traffic, 90 s at 200k vectors); an HOF
    // filter(transform(members, …)) allocated a struct per candidate
    // through interpreted lambda eval (slower still — measured). This
    // form packs each RESIDENCE bucket into chunked rows of at most
    // `chunkSize` members (k sizes only the MEAN bucket; the max is
    // unbounded under skew) and joins probe rows against them: the
    // join emits n·probes·(chunks per probed bucket) rows, and the
    // per-candidate work runs as three fused primitive loops inside
    // the compiled BucketCosineHits expression — a loop iteration, not
    // a row, not an interpreted lambda. Only SURVIVORS (true
    // near-dups, output-scale) allocate structs, explode into rows,
    // and reach the canonicalize+distinct shuffle.
    //
    // One routing pass feeds both sides: residence = probe position 0
    // (assignTopK orders buckets by cosine desc), so the probe side
    // and the packed side both derive from the same routed frame, and
    // the explicit repartition(bucket) below the fork makes the two
    // subplans share one exchange — ReuseExchange computes the
    // CodebookTopK routing scan ONCE (the join and the groupBy both
    // read the shuffle's output; nothing is persisted).
    //
    // Dedup of multi-bucket re-finds happens AFTER the filter:
    // cosine(va,vb) is bit-identical to cosine(vb,va) (element-wise
    // products commute exactly in IEEE 754 and the summation order is
    // fixed by element index; see BucketCosineHits), so the same pair
    // surfacing through different buckets or orientations yields the
    // same rounded `cos` and distinct() collapses it. Self-hits
    // (cos≈1, same id on both sides) fall to the a =!= id filter at
    // survivor scale.
    // Packed-row bounds (the r6 advisor finding): collect_list per
    // bucket pins the MEAN bucket at targetBucket but nothing bounds
    // the max — a hot centroid or a pile of identical vectors packs one
    // giant array into a single row (2 GB row limit / OOM, where the
    // old row-per-candidate plans merely spilled). Buckets therefore
    // pack into CHUNKS of at most `chunkSize` members (deterministic:
    // id-ordered row_number within the bucket), the per-bucket chunk
    // count rides a tiny bucket-keyed aggregate, and each probe row
    // joins every chunk of its probed bucket — each chunk is scanned
    // independently, so the candidate set (and the result) is exactly
    // the unchunked one. At the default 4096·(dim≈256 floats) a packed
    // row tops out ~4 MB. Normal buckets (mean targetBucket=128) stay
    // single-chunk: the counts frame is k rows and the explode emits
    // one chunk id, so the common case pays one extra keyed join on an
    // exchange it already shares.
    //
    // Member norms are precomputed INTO the packed struct (element-
    // order fold = bit-identical to the in-loop accumulation it
    // replaces — see BucketCosineHits): the per-candidate inner loop
    // drops from two fused accumulators (dot + Σy²) to one, halving
    // the multiplies on the probes·bucket·n candidate volume for one
    // n-scale pack-time pass.
    //
    // Known scale constant — probe-side SHUFFLE BYTES, not candidate
    // count: every probe row carries the full vector, so the bucket
    // exchange moves probes × corpus bytes and the join sort touches
    // them again. At 2M × 256-float vectors with probes=20 that is
    // ~45 GB shuffled + ~45 GB sorted of LIVE scratch — measured
    // exceeding a single 94 GB /tmp even with zstd shuffle compression
    // (the 5M-tier DNF in SCALE_r7_x5m), while the same chain at the
    // same α fits easily at 500k. On a multi-executor cluster scratch
    // scales with executors and this constant is a non-event; the
    // single-host growth paths, in preference order: (a) two-phase
    // scoring — shuffle int8-quantized vectors (4× fewer bytes),
    // prefilter at threshold − ε where ε bounds the quantization error,
    // exact-rescore the linear survivor set via an id join (EXACT
    // results, provable no-false-negative margin); (b) broadcast the
    // packed index and stream probe rows map-side (the replicated-
    // index Faiss shape — right when k·dim fits executor memory).
    val routed = Similarity.assignTopK(df, cents, idCol, vecCol, probes)
      .select(col(idCol).as("a"),
        posexplode(col("probe_buckets")).as(Seq("pos", "bucket")),
        col(vecCol).as("__va"))
      .repartition(col("bucket"))
    val res = routed.filter(col("pos") === 0)
    val counts = res.groupBy("bucket")
      .agg(ceil(count(lit(1)).cast("double") / chunkSize).cast("int")
        .as("__nchunks"))
    val packed = res
      .withColumn("__chunk",
        ((row_number().over(Window.partitionBy(col("bucket"))
          .orderBy(col("a"))) - 1) / chunkSize).cast("int"))
      .groupBy("bucket", "__chunk")
      .agg(collect_list(struct(col("a").as("id"), col("__va").as("v"),
        Similarity.norm(col("__va")).as("nrm"))).as("members"))
    routed.join(counts, Seq("bucket"))
      .select(col("a"), col("bucket"), col("__va"),
        explode(sequence(lit(0), col("__nchunks") - 1)).as("__chunk"))
      .join(packed, Seq("bucket", "__chunk"))
      .select(col("a"), explode(
        graft.expressions.BucketCosineHits.bucket_cosine_hits(
          col("__va"), col("members"), threshold)).as("hit"))
      .filter(col("a") =!= col("hit.id"))
      .select(least(col("a"), col("hit.id")).as("a"),
        greatest(col("a"), col("hit.id")).as("b"), col("hit.cos").as("cos"))
      .distinct()
  }

  /** Two-phase int8 variant of [[cosineDupPairsBlocked]] — identical
    * results (same routing, same recall contract, exact cosines in the
    * output), ~4× less data through the bucket exchange. This is
    * preference (a) from the blocked path's scale-constant note made
    * real: probe and residence rows carry an [[graft.expressions.Int8VecPack]]
    * pack (1 byte/dim codes + norm + an exact error bound) instead of
    * the 4-byte/dim float vector, the compiled
    * [[graft.expressions.BucketCosineHitsInt8]] prefilter admits
    * candidates at `threshold − eps_a − eps_b − 5e-5` (provably no
    * false negatives — see the expression scaladoc for the
    * Cauchy–Schwarz argument), and only the LINEAR survivor set joins
    * back to the full-precision vectors for the exact
    * `round(cos,4) ≥ threshold` decision. The quantized cosine needs no
    * scales (they cancel), so phase 1 is pure integer multiply-adds.
    *
    * Survivor volume is output + margin: candidates within
    * `eps_a + eps_b` (measured ~0.01–0.03 at dim 256) of the threshold.
    * The id re-attach joins shuffle the corpus vectors ONCE (vs
    * `probes`× in the single-phase path) and the survivor side is
    * output-scale, so AQE broadcast-converts it when small.
    *
    * Plan shape mirrors [[cosineDupPairsBlocked]] exactly (chunked
    * residence packs, shared routing exchange, post-filter distinct);
    * see that function's comments for the rationale of each step. */
  def cosineDupPairsBlockedInt8(df: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, threshold: Double, probes: Int = 2,
      chunkSize: Int = 4096): DataFrame = {
    val routed = Similarity.assignTopK(df, cents, idCol, vecCol, probes)
      .select(col(idCol).as("a"),
        posexplode(col("probe_buckets")).as(Seq("pos", "bucket")),
        graft.expressions.Int8VecPack.int8_pack(col(vecCol)).as("__p"))
    int8PairsFromRouted(routed, df, idCol, vecCol, threshold, chunkSize)
  }

  /** The two-phase int8 pair engine over an already-ROUTED frame —
    * shared tail of [[cosineDupPairsBlockedInt8]] (routes in-query via
    * the broadcast codebook) and [[cosineDupPairsFromInt8Index]]
    * (reads routing + packs straight off a persisted
    * [[graft.sources.IvfStore.writeInt8]] index). `routed` columns:
    * `a` (id), `pos` (probe rank, 0 = residence), `bucket`, `__p`
    * (the [[graft.expressions.Int8VecPack]] pack). Plan shape and
    * rationale are documented on [[cosineDupPairsBlocked]] /
    * [[cosineDupPairsBlockedInt8]]. */
  private def int8PairsFromRouted(routed0: DataFrame, df: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      chunkSize: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be positive: $chunkSize")
    // EXCHANGE SHAPE (differs from the float path deliberately): the
    // float path repartitions the WHOLE routed frame by bucket so
    // ReuseExchange computes routing once for both branches — right
    // when rows are 4 B/dim floats and routing was the measured wall.
    // Here rows are 1 B/dim packs and two-level routing made the scan
    // cheap, so the big probe rows should move through EXACTLY ONE
    // exchange — and that exchange carries the SKEW SALT
    // (VERDICT r7 item 8): keyed on (bucket, __chunk), not bucket
    // alone, so a Zipf-hot bucket's chunks spread across reducers and
    // the max task shrinks ∝ chunk count (hot buckets are exactly the
    // ones with many chunks; single-chunk buckets hash the same either
    // way). The residence branch filters FIRST and pays its own
    // n-row exchange for the window (probes× smaller than the shared
    // exchange it replaces); the packed side re-keys on the same salt
    // (n packs, chunk-grouped). Routing therefore computes twice (res
    // + probe branches) — measured cheap post-two-level — and the
    // probe volume, the term that scales with probes × corpus, is
    // shuffled once. A second full probe exchange stacked on a shared
    // one (the first salt formulation) kept BOTH alive inside the
    // join job: ~2 × probes × corpus pack bytes of live scratch,
    // which is exactly the single-host wall the int8 path exists to
    // clear — measured ENOSPC-bound at the 10M-vector knee tier.
    val res = routed0.filter(col("pos") === 0).repartition(col("bucket"))
    val counts = res.groupBy("bucket")
      .agg(ceil(count(lit(1)).cast("double") / chunkSize).cast("int")
        .as("__nchunks"))
    val packed = res
      .withColumn("__chunk",
        ((row_number().over(Window.partitionBy(col("bucket"))
          .orderBy(col("a"))) - 1) / chunkSize).cast("int"))
      .groupBy("bucket", "__chunk")
      .agg(collect_list(struct(col("a").as("id"), col("__p").as("p")))
        .as("members"))
      .repartition(col("bucket"), col("__chunk"))
    // counts is one row per occupied bucket (k-scale — ~n/targetBucket
    // shorts; ~125 MB at a billion vectors) — broadcast it so the
    // chunk explode needs no exchange of the probe rows before the salt
    val survivors = routed0.join(broadcast(counts), Seq("bucket"))
      .select(col("a"), col("bucket"), col("__p"),
        explode(sequence(lit(0), col("__nchunks") - 1)).as("__chunk"))
      .repartition(col("bucket"), col("__chunk"))
      .join(packed, Seq("bucket", "__chunk"))
      .select(col("a"), explode(
        graft.expressions.BucketCosineHitsInt8.bucket_cosine_hits_int8(
          col("__p"), col("members"), threshold)).as("b0"))
      .filter(col("a") =!= col("b0"))
      .select(least(col("a"), col("b0")).as("a"),
        greatest(col("a"), col("b0")).as("b"))
      .distinct()
    // phase 2: exact re-score of the survivor pairs — two id joins
    // re-attach full-precision vectors at survivor scale, then the
    // SAME rounded-cosine decision as the single-phase path
    survivors
      .join(df.select(col(idCol).as("a"), col(vecCol).as("__ra")), Seq("a"))
      .join(df.select(col(idCol).as("b"), col(vecCol).as("__rb")), Seq("b"))
      .withColumn("cos",
        round(Similarity.cosine(col("__ra"), col("__rb")), 4))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }

  /** Two-phase int8 near-dup over a PERSISTED index
    * ([[graft.sources.IvfStore.writeInt8]]) — the fully-amortized
    * production path (VERDICT r7 item 6): routing, probe lists AND the
    * int8 packs were all computed once at index-build time, so phase 1
    * here is a pure SCAN of the index — no codebook broadcast, no
    * CodebookTopK scoring, no per-run re-packing. Phase 2's exact
    * re-score reads the full-precision vectors from the same parquet
    * (columnar: the pair join projects only id + pack + probes; the
    * survivor joins project id + vector — column pruning keeps each
    * phase's bytes to what it touches). Results are IDENTICAL to
    * [[cosineDupPairsBlockedInt8]] over the same codebook: the stored
    * `probe_buckets` ARE assignTopK's output, persisted.
    *
    * `probes` may ask for at most the index's stored probe depth
    * (writeInt8's `maxProbes`) — slicing deeper than what was stored
    * would silently drop recall, so it RAISES instead. */
  def cosineDupPairsFromInt8Index(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, threshold: Double,
      probes: Int = 20, chunkSize: Int = 4096): DataFrame = {
    val idx = spark.read.parquet(s"$path/data")
      .drop("bucket") // the partition dir = probe_buckets(1); re-derived
    // one-row metadata probe (an empty index trivially yields no pairs)
    idx.select(size(col("probe_buckets"))).limit(1).collect()
      .headOption.map(_.getInt(0)).foreach { stored =>
        require(probes <= stored,
          s"index at $path stores $stored probes; asked for $probes — " +
            "rebuild with a larger maxProbes")
      }
    val routed = idx.select(col(idCol).as("a"),
      posexplode(slice(col("probe_buckets"), 1, probes))
        .as(Seq("pos", "bucket")),
      col("int8_pack").as("__p"))
    int8PairsFromRouted(routed, idx, idCol, vecCol, threshold, chunkSize)
  }

  /** Two-phase int8 near-dup over a PERSISTED SHARDED index
    * ([[graft.sources.IvfStore.writeShardedInt8]]) — the amortized form
    * of [[cosineDupPairsShardedInt8]] (r9, VERDICT r8 item 5): coarse
    * training, the fine Lloyd's loop, cell routing AND packing were all
    * paid at index-build time, so phase 1 here is a pure columnar scan
    * of (id, pack, two-level probe list) — no broadcast, no cell join,
    * no CellTopK scoring. Results are IDENTICAL to an in-query sharded
    * run over the same codebooks at the index's stored (pCoarse, pFine):
    * the stored `probe_buckets` ARE that routing's output, persisted.
    * No probe slicing here — a two-level list's length varies per row
    * (Σ min(pFine, k₂) over the row's cells), so a depth change means a
    * rebuild, not a slice. */
  def cosineDupPairsFromShardedIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, threshold: Double,
      chunkSize: Int = 4096): DataFrame = {
    val idx = spark.read.parquet(s"$path/data")
      .drop("bucket") // the partition dir = probe_buckets(1); re-derived
    val routed = idx.select(col(idCol).as("a"),
      posexplode(col("probe_buckets")).as(Seq("pos", "bucket")),
      col("int8_pack").as("__p"))
    int8PairsFromRouted(routed, idx, idCol, vecCol, threshold, chunkSize)
  }

  /** Near-dup pairs BETWEEN a delta frame and a persisted SHARDED
    * index (plus the delta's in-batch pairs) — the screening primitive
    * of the incremental vector-ingest loop (r13, VERDICT r12 item 5):
    * "which arriving vectors near-duplicate the indexed corpus or each
    * other" WITHOUT a full-corpus pair pass. The registered index is
    * the dedup memory; per-delta cost is proportional to the buckets
    * the delta touches, not to the corpus:
    *
    *   - the delta routes through the index's persisted codebooks at
    *     its stamped (pCoarse, pFine) — identical routing to what its
    *     rows would get if appended;
    *   - direction 1 (delta probes cover an index resident): index
    *     rows — INCLUDING their float vectors for the re-score — are
    *     read ONLY from the delta's probed buckets; `bucket` is the
    *     layout's partition column and the predicate is a pure
    *     partition-column IN, so this scan is PARTITION-PRUNED to
    *     Θ(touched buckets). (The two directions are deliberately TWO
    *     scans: OR-ing the stored-list predicate into this one would
    *     defeat pruning — an OR with a non-partition disjunct can
    *     match any partition — and drag the fat embedding column
    *     through the full-index leg.);
    *   - direction 2 (an UNTOUCHED index row's STORED probes cover a
    *     delta residence): one shuffle-free columnar scan of the
    *     index's (id, bucket, probe_buckets, pack) columns — no
    *     embedding column, ~an order of magnitude narrower at dim
    *     256 — intersecting each stored list against the delta's
    *     residence buckets; the stored lists exist precisely so this
    *     direction needs no re-scoring. This leg reads Θ(index) of
    *     those NARROW columns per call (embarrassingly parallel, no
    *     exchange); callers batching many small deltas should
    *     coalesce epochs if it dominates. The matched rows' re-score
    *     vectors are fetched after the fact by a second
    *     partition-pruned scan over their own (known) residence
    *     buckets — match-scale, never Θ(index);
    *   - both feed the SAME chunk-salted [[int8PairsFromRouted]]
    *     engine and exact re-score, then pairs are restricted to
    *     those touching a delta id.
    *
    * Recall contract is the index's own: a (delta, index) pair
    * surfaces when EITHER side's probes cover the other's residence;
    * (delta, delta) pairs surface when one side's probes cover the
    * other's residence (both sides freshly routed). Exhaustive depths
    * make it equal the exact join restricted to pairs touching the
    * delta. Delta ids must be disjoint from the index's (the append
    * contract — this screen normally precedes an append). The delta's
    * routing is computed twice (bucket-set probe + the engine pass) —
    * delta-scale by contract, the same accounting as stageAppend. */
  def cosineDupPairsDeltaIndexInt8(
      spark: org.apache.spark.sql.SparkSession, path: String,
      delta: DataFrame, idCol: String, vecCol: String, threshold: Double,
      chunkSize: Int = 4096): DataFrame = {
    import graft.sources.IvfStore
    val meta = IvfStore.readIndexMeta(spark, path).getOrElse(
      throw new IllegalStateException(
        s"no complete sharded index at $path"))
    require(meta.get("kind").contains("sharded_int8"),
      s"index at $path is kind ${meta.get("kind")}, not sharded_int8")
    val (pCoarse, pFine) =
      (meta("p_coarse").toInt, meta("p_fine").toInt)
    val coarse = IvfStore.codebook(spark, path)
    val fine = spark.read.parquet(s"$path/fine")
    val deltaRouted = Similarity.shardedProbeRoutes(delta, coarse, fine,
        idCol, vecCol, pCoarse, pFine)
      .select(col("__a").as("a"),
        when(col("cpos") === 0 && col("fpos") === 0, lit(0))
          .otherwise(lit(1)).as("pos"),
        (col("cell").cast("long") * lit(1L << 40) +
          col("flabel").cast("long")).as("bucket"),
        col("__p"))
    // one delta-scale action: the touched bucket set (for partition
    // pruning) and its residence subset (for the stored-list leg)
    val bkts = deltaRouted.groupBy("bucket")
      .agg(min(col("pos")).as("__mp")).collect()
    val touched = bkts.map(_.getLong(0))
    val resBuckets = bkts.filter(_.getInt(1) == 0).map(_.getLong(0))
    val idx = spark.read.parquet(s"$path/data")
    // SCAN A — direction-1 residents + their re-score vectors: a pure
    // partition-column IN, genuinely pruned to the touched buckets
    val idxTouched = idx.filter(col("bucket").isin(touched.toSeq: _*))
      .select(col(idCol), col("bucket"), col("probe_buckets"),
        col("int8_pack"), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager: three sibling branches of the one returned plan consume
    // this frame (residence rows, probe entries, the re-score union) —
    // AQE runs sibling stages concurrently and a lazily-cached frame
    // is recomputed by every concurrent first-toucher (see
    // simhashNearDupPairs). Touched-bucket scale, never corpus scale.
    idxTouched.count()
    val idxRes = idxTouched
      .select(col(idCol).as("a"), lit(0).as("pos"), col("bucket"),
        col("int8_pack").as("__p"))
    // SCAN B — direction-2 rows from UNTOUCHED buckets: the full-index
    // leg, but over the narrow (id, bucket, probe_buckets, pack)
    // columns only — the embedding column stays unread here
    val idxFar = idx.filter(!col("bucket").isin(touched.toSeq: _*) &&
        arrays_overlap(col("probe_buckets"), lit(resBuckets)))
      .select(col(idCol), col("bucket"), col("probe_buckets"),
        col("int8_pack"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // direction 2: stored probe entries into a delta residence bucket
    // (the row's own residence is excluded — a touched row already
    // rides as pos 0, and an untouched residence has no delta partner).
    // Touched rows contribute probe entries too: their probes into a
    // DIFFERENT delta-residence bucket pair them with residents the
    // delta side's own probes need not cover.
    def probeEntries(f: DataFrame): DataFrame = f
      .select(col(idCol).as("a"), lit(1).as("pos"),
        explode(array_intersect(
          array_except(col("probe_buckets"), array(col("bucket"))),
          lit(resBuckets))).as("bucket"),
        col("int8_pack").as("__p"))
    val routedAll = deltaRouted
      .unionByName(idxRes.select("a", "pos", "bucket", "__p"))
      .unionByName(probeEntries(idxTouched))
      .unionByName(probeEntries(idxFar))
    // SCAN C — re-score vectors for the direction-2 matches: their
    // residence buckets are known from scan B, so this is a second
    // partition-pruned scan (match-scale; reads whole far buckets,
    // bounded by |far buckets| × bucket occupancy)
    val farBuckets = idxFar.select(col("bucket")).distinct()
      .collect().map(_.getLong(0))
    val farVecs = idx.filter(col("bucket").isin(farBuckets.toSeq: _*))
      .select(col(idCol), col(vecCol))
    val corpus = delta.select(col(idCol), col(vecCol))
      .unionByName(idxTouched.select(col(idCol), col(vecCol)))
      .unionByName(farVecs)
    val pairs = int8PairsFromRouted(routedAll, corpus, idCol, vecCol,
      threshold, chunkSize)
    // keep only pairs touching the delta (bucket-local index-index
    // pairs inside touched buckets are computed and dropped — bounded
    // by touched-bucket occupancy, never corpus-scale)
    val dIds = delta.select(col(idCol)).distinct()
    pairs.join(broadcast(dIds.withColumnRenamed(idCol, "a")),
        Seq("a"), "left_semi")
      .unionByName(pairs.join(
        broadcast(dIds.withColumnRenamed(idCol, "b")), Seq("b"),
        "left_semi").select("a", "b", "cos"))
      .distinct()
  }

  /** Two-phase int8 near-dup over a SHARDED two-level codebook
    * ([[Similarity.trainShardedCodebook]]) — the past-the-knee routing
    * (VERDICT r7 item 2). The flat path broadcasts its k×dim codebook,
    * which caps k at 65,536 and lets mean bucket size grow ∝ n past
    * n ≈ targetBucket·65,536 (~8.4M vectors at the 128 default) —
    * candidate work probes·(n/k)·n turns quadratic exactly when the
    * corpus needs the opposite. Here only the k₁ ≈ √(n/targetBucket)
    * coarse matrix broadcasts; the fine layer is a cell-keyed DataFrame
    * the routing JOINS:
    *
    *   1. every vector packs to int8 ONCE and probes its `pCoarse`
    *      nearest coarse cells (broadcast compute, the shared
    *      assignTopK);
    *   2. one exchange keys (id, pack, cell-probe) rows by cell — the
    *      pack, not the float vector, rides the exchange (1 B/dim; the
    *      compiled [[graft.expressions.CellTopK]] scores quantized
    *      queries directly — scales cancel against cnorm);
    *   3. each row scores its cell's packed fine matrix in one fused
    *      loop — through the cell's SUB-COARSE walk when the cell is
    *      large ([[graft.expressions.CellCoarsePack]] /
    *      [[graft.expressions.CellTopK]], r9: √k₂ sub-centroids first,
    *      then only the best sub-cells' members, so per-row routing is
    *      ~(√k₂ + 128 + 6·pFine)·dim instead of k₂·dim — the measured
    *      α-1.47 n^1.5 term of SCALE_r8_knee) — and emits its `pFine`
    *      best fine buckets; residence = best fine bucket of the best
    *      cell; bucket ids are (cell << 40 | flabel) longs;
    *   4. the routed frame enters the SAME [[int8PairsFromRouted]]
    *      engine — chunked packs, quantized prefilter at
    *      threshold − ε_a − ε_b, exact re-score of linear survivors.
    *
    * Recall contract: a pair surfaces when either side's
    * pCoarse × pFine probe set covers the other's residence — the
    * two-level restriction of the flat multi-probe argument, with the
    * extra approximation that the partner's residence CELL must rank
    * inside pCoarse (near-duplicates route near-identically, so it
    * does; gated against the exact O(n²) join in AnnJoinSpec with
    * non-exhaustive probing forced). With pCoarse ≥ k₁ and
    * pFine ≥ max k₂ the probing is exhaustive and the result provably
    * equals the exact join's — the regime the oracle-declared query
    * runs at its SFs.
    *
    * Scale: effective k = Σ k₂ ≈ n/targetBucket grows with the corpus
    * (mean residence bucket stays ≈ targetBucket at ANY n), broadcast
    * stays k₁·dim ≈ √(n/targetBucket)·dim (≈ 2.8k centroids at 10⁹
    * vectors), the cell exchange ships n·pCoarse packs, and the fine
    * matrices move ONCE as k·dim keyed rows — nothing corpus-sized
    * ever broadcasts or goes quadratic. */
  def cosineDupPairsShardedInt8(df: DataFrame, coarse: DataFrame,
      fine: DataFrame, idCol: String, vecCol: String, threshold: Double,
      pCoarse: Int = 4, pFine: Int = 20,
      chunkSize: Int = 4096): DataFrame = {
    require(pCoarse >= 1 && pFine >= 1, "probe counts must be >= 1")
    // routing (coarse probe + per-row CellTopK cell scoring) is the
    // shared Similarity.shardedProbeRoutes
    val routed = Similarity.shardedProbeRoutes(df, coarse, fine, idCol,
        vecCol, pCoarse, pFine)
      .select(col("__a").as("a"),
        when(col("cpos") === 0 && col("fpos") === 0, lit(0))
          .otherwise(lit(1)).as("pos"),
        (col("cell").cast("long") * lit(1L << 40) +
          col("flabel").cast("long")).as("bucket"),
        col("__p"))
    int8PairsFromRouted(routed, df, idCol, vecCol, threshold, chunkSize)
  }

  /** THE default embedding near-dup path (alias of
    * [[cosineDupPairsTrainedInt8]] since r8): the two-phase int8
    * blocked join over a codebook trained on the corpus itself — same
    * corpus-trained codebook and bit-identical output as the
    * full-precision formulation ([[cosineDupPairsTrainedFloat]], the
    * explicit oracle-diverse variant), 4× less bucket-exchange volume.
    * The flip is VERDICT r7 item 1: the A/B showed int8 faster at
    * every measured tier (2.95 vs 3.18 s at 5k, 35 vs 52 s at 500k,
    * 376 vs 1,030 s at 2M vectors — α 1.01 vs 1.29) at a third of the
    * scratch; a default that dies on single-host scratch at a tier its
    * twin clears was the wrong default. */
  def cosineDupPairsTrained(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, probes: Int = 20, iters: Int = 5,
      targetBucket: Int = 128, indexPath: String = null): DataFrame =
    cosineDupPairsTrainedInt8(df, idCol, vecCol, threshold, probes, iters,
      targetBucket, indexPath)

  /** [[cosineDupPairsTrained]]'s engine: trained codebook + the
    * two-phase int8 blocked join. Kept under its explicit name so
    * callers reading a pipeline see which phase-1 representation runs.
    *
    * Past the flat-codebook knee (n > targetBucket · 65,536 — the
    * broadcast cap; ~8.4M vectors at defaults) the corpus
    * auto-dispatches to the SHARDED two-level path
    * ([[cosineDupPairsShardedInt8]]) so mean bucket size stays
    * ≈ targetBucket at any n instead of growing ∝ n against a capped
    * k. Probe budget carries over, not multiplies: pCoarse = 4 coarse
    * cells × pFine = ⌈probes/4⌉ fine buckets probes the same ~`probes`
    * buckets of the same targetBucket granularity as the flat path —
    * candidate volume per vector stays probes·targetBucket across the
    * knee (an α-visible 4× candidate jump at the dispatch boundary
    * would otherwise masquerade as superlinearity). Below the knee the
    * flat broadcast is bit-identical to every earlier release. */
  /** The flat-codebook broadcast knee: above this many vectors the
    * dedup-sized codebook (k = n/targetBucket) exceeds the 65,536-
    * centroid broadcast cap and [[cosineDupPairsTrainedInt8]]
    * dispatches to the sharded two-level path. */
  private[graft] def flatKneeVectors(targetBucket: Int): Long =
    targetBucket.toLong * 65536L

  def cosineDupPairsTrainedInt8(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, probes: Int = 20, iters: Int = 5,
      targetBucket: Int = 128, indexPath: String = null): DataFrame =
    cosineDupPairsTrainedInt8Branch(df, idCol, vecCol, threshold, probes,
      iters, targetBucket, indexPath)._1

  /** [[cosineDupPairsTrainedInt8]] with its dispatch DECISION exposed
    * (r10, VERDICT r9 item 2 — spec-testable: "index present ⇒ no
    * training jobs" needs the branch label, not just a frame). Branches:
    *
    *   - `indexed_flat` / `indexed_sharded`: `indexPath` holds a
    *     COMPLETE IvfStore layout whose stamped corpus fingerprint
    *     (count + xor of xxhash64(id) — any row added/removed/renamed
    *     flips it) matches THIS df, whose stamped targetBucket matches
    *     the ask, and whose stored probe depth covers the requested
    *     budget (flat: stored lists ≥ min(probes, stored depth);
    *     sharded: pCoarse ≥ 4 and pFine ≥ ⌈probes/4⌉ — the budgets the
    *     in-query dispatch would use; deeper stored lists are consumed
    *     whole, so recall is equal-or-higher and every emitted pair
    *     still passes the exact rescore). Training, routing and packing
    *     are all read from disk — zero Lloyd's work.
    *   - `flat` / `sharded`: no usable index (absent path, pre-r10
    *     layout without meta, WRONG-CORPUS fingerprint, mismatched
    *     targetBucket, or too-shallow stored probes) — the in-query
    *     knee dispatch, exactly as before. A stale index is REJECTED
    *     here, never silently used: the fingerprint check is the
    *     difference between amortization and wrong answers.
    *
    * The corpus size (knee test) and fingerprint (index match) come
    * from ONE aggregate pass over the id column, so index probing adds
    * no corpus scan to the no-index path. */
  private[graft] def cosineDupPairsTrainedInt8Branch(df: DataFrame,
      idCol: String, vecCol: String, threshold: Double, probes: Int = 20,
      iters: Int = 5, targetBucket: Int = 128, indexPath: String = null)
      : (DataFrame, String) = {
    import graft.sources.IvfStore
    val spark = df.sparkSession
    // corpus size (knee test) AND all three fingerprint legs from ONE
    // aggregate pass — index probing adds no scan to the no-index path
    val row = df.agg(count(lit(1)),
      expr(s"bit_xor(xxhash64(`$idCol`))"),
      expr(s"sum(cast(xxhash64(`$idCol`, ${IvfStore.FpSalt}L) " +
        "as decimal(38,0)))")).head()
    val n = row.getLong(0)
    val fp = IvfStore.formatFingerprint(n,
      if (row.isNullAt(1)) 0L else row.getLong(1),
      if (row.isNullAt(2)) BigInt(0)
      else BigInt(row.getDecimal(2).toBigInteger))
    val fromIndex: Option[(DataFrame, String)] =
      Option(indexPath).flatMap { p =>
        IvfStore.readIndexMeta(spark, p).flatMap { m =>
          val matches = m.get("fingerprint").contains(fp) &&
            m.get("target_bucket").contains(targetBucket.toString)
          if (!matches) None
          else m.get("kind") match {
            case Some("int8") =>
              // equal-recall condition: the in-query flat path probes
              // min(probes, k) buckets; the index stores
              // min(maxProbes, k)-deep lists. stored covers the ask iff
              // maxProbes >= probes, OR the lists are k-deep already
              // (stored < stamped maxProbes can only mean k < maxProbes
              // — the lists are full-depth and no budget asks deeper
              // than k). stored_depth is STAMPED at write time (r11,
              // VERDICT r10 item 5): the decision reads meta alone —
              // no driver job, no data-dir file listing. A v2-
              // fingerprinted index always carries the stamp, so an
              // absent key can only be a hand-edited layout: reject.
              val stored = m.get("stored_depth").map(_.toInt).getOrElse(0)
              val mp = m.get("max_probes").map(_.toInt).getOrElse(0)
              if (stored > 0 && (mp >= probes || stored < mp))
                Some((cosineDupPairsFromInt8Index(spark, p, idCol, vecCol,
                  threshold, probes = math.min(probes, stored)),
                  "indexed_flat"))
              else None
            case Some("sharded_int8")
                if m.get("p_coarse").exists(_.toInt >= 4) &&
                  m.get("p_fine").exists(_.toInt >=
                    math.max(1, (probes + 3) / 4)) =>
              Some((cosineDupPairsFromShardedIndex(spark, p, idCol,
                vecCol, threshold), "indexed_sharded"))
            case _ => None
          }
        }
      }
    fromIndex.getOrElse {
      if (n > flatKneeVectors(targetBucket)) {
        val (coarse, fine) = Similarity.trainShardedCodebook(df, idCol,
          vecCol, targetBucket, itersCoarse = iters, knownN = n)
        (cosineDupPairsShardedInt8(df, coarse, fine, idCol, vecCol,
          threshold, pCoarse = 4,
          pFine = math.max(1, (probes + 3) / 4)), "sharded")
      } else {
        val cents = dupCodebook(df, idCol, vecCol, iters, targetBucket,
          knownN = n)
        (cosineDupPairsBlockedInt8(df, cents, idCol, vecCol, threshold,
          math.min(probes, cents.count().toInt)), "flat")
      }
    }
  }

  /** EXPLICIT full-precision variant of [[cosineDupPairsTrained]]:
    * [[cosineDupPairsBlocked]] (float probe rows through the bucket
    * exchange) over the same trained codebook. Bit-identical results —
    * the oracle gates it against the same SQL as the int8 default — but
    * strictly more shuffle bytes (~4×) and scratch (~3× measured at the
    * 2M-vector tier, where its float exchange overflowed a single
    * host's disk). It exists as the oracle-DIVERSE formulation: a third
    * independent path whose hash-match pins the quantized prefilter's
    * no-false-negative margin every round, not as a path to deploy.
    *
    * Mechanics of the underlying join ([[Similarity.trainCodebook]],
    * k ≈ max(√n, n/targetBucket), probe recall calibration) are
    * documented on [[cosineDupPairsBlocked]] and below. */
  def cosineDupPairsTrainedFloat(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, probes: Int = 20, iters: Int = 5,
      targetBucket: Int = 128): DataFrame = {
    // k = max(√n, n/targetBucket): √n minimizes train+join cost in the
    // calibration regime (n ≤ targetBucket², where this reduces to the
    // old rule exactly), but candidate volume is probes·n·(n/k)
    // whatever the data looks like — with k stuck at √n that is
    // probes·n^1.5, the curve the x100 scale-stress run rode into a
    // full disk. Pinning the mean residence-bucket size at
    // targetBucket makes candidates probes·targetBucket·n — LINEAR —
    // at the price of a larger codebook (routing is broadcast compute,
    // no shuffle; training runs on a 40·k-point sample, so its cost is
    // k-scale, not n-scale, and amortizes further via IvfStore).
    // train on ≤40 points per centroid (Faiss-style, see
    // trainCodebook): at targetBucket=128 that is ≤ 0.31·n training
    // rows, and the cut grows with the corpus
    val cents = dupCodebook(df, idCol, vecCol, iters, targetBucket)
    cosineDupPairsBlocked(df, cents, idCol, vecCol, threshold,
      math.min(probes, cents.count().toInt))
  }

  /** Exact all-pairs embedding near-dup baseline: every (a<b) pair with
    * cosine ≥ threshold via an inequality-only join — compiles to
    * BroadcastNestedLoopJoin, O(n²) comparisons. Small-scale fallback /
    * recall oracle only; [[cosineDupPairsBlocked]] is the path that
    * survives a corpus that outgrows one machine. */
  def cosineDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // the STREAMED side spreads across the session (r13): the n² pair
    // scoring runs in the stream side's map tasks, and a small corpus
    // scans as one split — measured 6.0 s wall ≈ 5.8 s task time on one
    // core at sf0.1 until spread (Spread.across is a no-op at scale).
    // perRowCorpusScaled: every streamed row walks Θ(n) broadcast
    // candidates, so compute — not input bytes — sizes the width
    // (width 4 measured 2.7× slower than full width at sf0.1, r14)
    val a = Spread.across(df, perRowCorpusScaled = true)
      .select(col(idCol).as("a"), col(vecCol).as("__va"))
    val b = df.select(col(idCol).as("b"), col(vecCol).as("__vb"))
    a.join(b, col("a") < col("b"))
      .withColumn("cos",
        round(Similarity.cosine(col("__va"), col("__vb")), 4))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }

  /** Connected components of an undirected candidate-pair graph: every
    * node is labeled with the MINIMUM id reachable through pairs — the
    * transitive duplicate CLUSTER, where the greedy per-pair rule
    * ([[graft.functions.Curation.dropNearDups]]) only looks one hop.
    * Cluster-level dedup (keep `node == cluster`) keeps exactly one
    * document per connected component: A↔B and B↔C collapse to {A}
    * even when A and C never pair directly.
    *
    * Min-label propagation with pointer halving, in a driver loop:
    * labels(i+1) = min(own label, neighbours' labels, label OF the
    * label). The fixpoint (unique — the component minimum — so the
    * result is deterministic regardless of iteration or partition
    * order) arrives in O(log n) rounds (Shiloach–Vishkin-style pointer
    * jumping: each round doubles the distance compressed pointers
    * cover — without the halving step a replica CHAIN needs diameter
    * rounds, which the 5M-doc scale corpus actually exceeded). Each
    * round is two keyed joins + one groupBy-min over the EDGE set,
    * which for near-dup graphs is pair-scale, not corpus-scale. Each round's
    * labels are CHECKPOINTED: labels(i+1) references labels(i) twice
    * (own labels ∪ neighbour labels), so an un-truncated lineage
    * doubles in size per round — measured 2× slower via persist at ten
    * rounds, and exponentially worse beyond. With a configured
    * checkpoint dir (`sparkContext.setCheckpointDir` — the cluster
    * deployment) rounds truncate through RELIABLE checkpoints that
    * survive executor loss; local mode falls back to localCheckpoint
    * (the standard iterative-graph trade, cf. GraphX Pregel). The loop
    * exits as soon as no label changes; a run that fails to converge
    * within `maxIters` rounds (needs ~log₂ of the largest component
    * size — 50 covers any corpus that fits in storage) THROWS rather
    * than silently returning non-minimal labels (which would split one
    * component into several clusters). */
  /** Edge-count gate for [[duplicateClusters]]' driver fast path: at or
    * below this many (deduplicated, directed) edge rows the component
    * labeling runs as a single driver-side union-find over the
    * collected edge list instead of the iterative join loop. 500k edge
    * rows of two longs is ~8 MB on the driver — the same bounded-
    * metadata budget as Curation.quantileBuckets' offset gather — while
    * the join loop at that size spends its whole wall clock on
    * driver-sequential job latency (measured at sf0.1: the loop is
    * 2 jobs/round × ~4 rounds of sub-10 ms task work; the fast path is
    * one count + one collect). Any production pair graph past the cap
    * takes the distributed loop unchanged. */
  private[graft] val SmallGraphEdgeCap: Long = 500000L

  def duplicateClusters(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b", maxIters: Int = 50,
      smallGraphEdgeCap: Long = SmallGraphEdgeCap): DataFrame = {
    def truncate(df: DataFrame): DataFrame =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    val edges = truncate(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    // ---- small-graph fast path (r14) --------------------------------
    // The edge frame is already materialized (checkpoint above), so the
    // count is one cheap job over cached partitions. Integral node ids
    // only: the driver min must agree with Spark's `min` ordering, which
    // is trivially true for integer types; anything else keeps the
    // distributed loop.
    val integralIds = edges.schema.head.dataType match {
      case org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    if (integralIds && smallGraphEdgeCap > 0 &&
        edges.count() <= smallGraphEdgeCap) {
      val rows = edges.collect()
      def asLong(v: Any): Long = v.asInstanceOf[Number].longValue()
      // union-find with path compression + union-by-min: the root of
      // every set is its minimum member, so find(x) IS the component
      // minimum at the end — identical to the loop's fixpoint.
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      rows.foreach { r =>
        val a = asLong(r.get(0)); val b = asLong(r.get(1))
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val nodeType = edges.schema.head.dataType
      def back(v: Long): Any = nodeType match {
        case org.apache.spark.sql.types.LongType => v
        case org.apache.spark.sql.types.IntegerType => v.toInt
        case _ => v.toShort
      }
      import scala.jdk.CollectionConverters._
      val out = parent.keySet().asScala.toSeq.map { n =>
        org.apache.spark.sql.Row(back(find(n)), back(n))
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cluster", nodeType),
        org.apache.spark.sql.types.StructField("node", nodeType)))
      return pairs.sparkSession.createDataFrame(
        out.asJava, schema)
    }
    var labels = truncate(
      edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")))
    // convergence via the label-sum invariant (r14): labels are
    // per-node monotonically non-increasing (each round takes a min
    // over a set containing the old label), so Σlabel is strictly
    // decreasing iff ANY label changed — one no-join aggregate over the
    // just-checkpointed frame replaces the old labels⋈next count join
    // (decimal(38,0) so a 5M-node corpus of 64-bit ids cannot overflow
    // the running sum).
    def labelSum(df: DataFrame): BigDecimal = {
      val r = df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).as("s")).head()
      BigDecimal(r.getDecimal(0))
    }
    var prevSum = labelSum(labels)
    var changed = true
    var iter = 0
    while (changed && iter < maxIters) {
      val viaEdges = edges
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("label"))
      val hopped = labels.unionByName(viaEdges)
        .groupBy("node").agg(min(col("label")).as("label"))
      // pointer halving: also adopt the label OF the label (one keyed
      // self-join on the label frame). A label always names a node in
      // the same component (labels start as self and only ever move
      // along edges or existing labels), so the fixpoint is unchanged —
      // but each round now doubles the distance already-compressed
      // pointers cover, turning O(component diameter) rounds into
      // O(log n): a 5M-node replica CHAIN converges in ~23 rounds
      // where plain min-label needed 5M (the 5M-doc scale run hit
      // exactly that — a chain component past the 50-round bound).
      val next = truncate(
        hopped.join(hopped.toDF("label", "__l2"), Seq("label"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("__l2"), col("label")))
              .as("label")))
      val nextSum = labelSum(next)
      changed = nextSum != prevSum
      prevSum = nextSum
      labels = next
      iter += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"duplicateClusters did not converge within $maxIters rounds — " +
          "log2(largest component) exceeds the bound; raise maxIters")
    labels.select(col("label").as("cluster"), col("node"))
  }

  /** SemDeDup-style semantic deduplication over an embedding column
    * (Abbas et al. 2023): connected components of the cosine ≥
    * `threshold` pair graph, one survivor (the component-minimum id)
    * per semantic cluster. Returns EVERY input id with its `cluster`
    * label (singletons label themselves) and `keep` ∈ {0,1} —
    * `filter(keep = 1)` is the deduplicated corpus; the full labeling
    * feeds audit/reporting.
    *
    * The pair graph comes from [[cosineDupPairsTrained]] (centroid-
    * blocked, two-phase int8 — k≈√n trained buckets, 1-byte probe
    * rows through the keyed joins, the path that survives a 100 TB
    * corpus) or, with `exact = true`, from the labeled O(n²)
    * [[cosineDupPairsExact]] baseline. Components resolve
    * via [[duplicateClusters]] (min-label fixpoint — deterministic).
    * Distinct from text-level clustering ([[duplicateClusters]] over
    * [[lshCandidatePairs]]): the semantic graph links paraphrases and
    * near-translations that share no n-grams. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, exact: Boolean = false, probes: Int = 20,
      iters: Int = 5): DataFrame = {
    val pairs =
      if (exact) cosineDupPairsExact(df, idCol, vecCol, threshold)
      else cosineDupPairsTrained(df, idCol, vecCol, threshold, probes, iters)
    semanticLabel(df, idCol, pairs)
  }

  /** [[semanticDedup]] with a PRE-TRAINED codebook — the amortized
    * production path. The in-query variant spends most of its scale-run
    * constant on Lloyd's training (measured: ~all of the 500k-stress
    * time that isn't the pair join), which a real pipeline pays ONCE
    * and reuses across every dedup/search/curation pass via a persisted
    * codebook ([[graft.sources.IvfStore]]). Pass the codebook
    * [[dupCodebook]] trains (or any codebook of the same geometry) and
    * the output is IDENTICAL to [[semanticDedup]] — training is
    * deterministic, so codebook reuse cannot change the pair graph.
    *
    * The pair graph defaults to [[cosineDupPairsBlockedInt8]]
    * (`int8 = true` since r8 — VERDICT item 1): bit-identical pairs
    * (the quantized prefilter provably loses no qualifying pair;
    * survivors are re-scored exactly) with the bucket exchange shipping
    * 1-byte codes instead of float vectors. The full-precision pair
    * join's probe-side shuffle (~4× the bytes) was the single-host
    * scratch wall that killed the amortized path at the 2M-vector tier;
    * `int8 = false` keeps that formulation reachable as the explicit
    * oracle-diverse comparison, mirroring
    * [[cosineDupPairsTrainedFloat]]. */
  def semanticDedupWithCodebook(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, cents: DataFrame,
      probes: Int = 20, int8: Boolean = true): DataFrame = {
    val k = cents.count().toInt
    val p = math.min(probes, k)
    val pairs =
      if (int8) cosineDupPairsBlockedInt8(df, cents, idCol, vecCol,
        threshold, p)
      else cosineDupPairsBlocked(df, cents, idCol, vecCol, threshold, p)
    semanticLabel(df, idCol, pairs)
  }

  /** The FLAT codebook [[cosineDupPairsTrained]] trains for a
    * below-the-knee corpus — exposed so amortizing callers can persist
    * it once and hand it to [[semanticDedupWithCodebook]] /
    * [[cosineDupPairsBlocked]] on every later pass. k caps at 65,536
    * (the broadcast bound — k×dim floats ship to every executor); past
    * n ≈ targetBucket·65,536 vectors prefer
    * [[Similarity.trainShardedCodebook]] + [[cosineDupPairsShardedInt8]]
    * (what [[cosineDupPairsTrainedInt8]] auto-dispatches to), whose
    * fine layer is distributed and keeps effective k ∝ n. */
  def dupCodebook(df: DataFrame, idCol: String, vecCol: String,
      iters: Int = 5, targetBucket: Int = 128,
      knownN: Long = -1L): DataFrame = {
    val n = if (knownN >= 0L) knownN else df.count()
    val k = math.max(Similarity.codebookSize(n),
      math.min(65536L, n / math.max(1, targetBucket)).toInt)
    Similarity.trainCodebook(df, idCol, vecCol, k, iters,
      samplePerCentroid = 40, knownN = n)
  }

  /** Shared tail of the SemDeDup variants: component labels over the
    * pair graph, every input id labeled (singletons label themselves),
    * keep = component minimum. */
  private def semanticLabel(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val clusters = duplicateClusters(pairs)
      .withColumnRenamed("node", idCol)
    df.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)))
      .withColumn("keep",
        (col(idCol) === col("cluster")).cast("int"))
  }

  /** Repeated k-gram span detection — the tractable Spark form of exact
    * substring deduplication (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): a token position is
    * DUPLICATED if the k-gram starting there occurs at least `minCount`
    * times in the whole corpus (another document, or elsewhere in the
    * same one — self-repetition is duplication too). Per document,
    * duplicated k-gram starts merge into maximal spans (consecutive
    * starts within k tokens fuse — overlap or adjacency), and the
    * result reports `n_spans`, `n_dup_tokens` (the exact size of the
    * interval union) and the doc's token count. Callers scrub or drop
    * by thresholding `n_dup_tokens / n_tokens`.
    *
    * The interval union needs no fold: for sorted starts p₁..pₘ each
    * covering [pᵢ, pᵢ+k−1], union size = k + Σ min(k, pᵢ₊₁ − pᵢ) and
    * span count = 1 + |{i : pᵢ₊₁ − pᵢ > k}| — both computed with one
    * zip_with over the shifted start array (the shingle-rewrite
    * pattern), so the whole per-doc step is column math an oracle
    * reproduces exactly.
    *
    * Scale shape: one (doc, pos, md5(k-gram)) explode, one count
    * aggregate keyed on the 16-byte digest, one keyed join back, one
    * per-doc aggregate. Nothing all-pairs; the suffix-array approach
    * this approximates cannot shard this way. Granularity is the k-gram:
    * spans shorter than k tokens are invisible — choose k as the
    * shortest run worth deduplicating (the paper uses 50 BPE tokens;
    * the default here is 8 words). */
  /** Bounded LRU registry for [[dupStartPositions]]' persisted span
    * frames (VERDICT r9 item 5 / r9 ADVICE medium): the frame is
    * output-scale and deliberately shared by the measure/scrub/health
    * trio, but a long-running service calling with ever-different
    * (corpus, k, minCount) used to accumulate one cached frame per
    * argument tuple for the JVM's lifetime. Capacity 4 covers the trio
    * plus a concurrent second corpus; the evicted (least-recently-used)
    * entry unpersists on the spot. Keys hold the CANONICALIZED source
    * plan — canonicalized-plan equality is Spark's own sameResult
    * relation, so two reads of the same corpus share one entry and two
    * different corpora can never collide. */
  private val spanCacheCap = 4
  private val spanCache = new java.util.LinkedHashMap[
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        String, String, Int, Long), DataFrame](8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
          String, String, Int, Long), DataFrame]): Boolean =
      if (size > spanCacheCap) { e.getValue.unpersist(); true } else false
  }
  private[graft] def spanCacheSize: Int =
    spanCache.synchronized(spanCache.size)

  /** Sorted duplicated k-gram start positions per doc (`ps`; docs with
    * none are absent) — the shared middle of [[repeatedKgramSpans]]
    * (measure) and [[scrubRepeatedSpans]] (act). */
  private def dupStartPositions(df: DataFrame, textCol: String,
      idCol: String, k: Int, minCount: Long): DataFrame = {
    require(k >= 1, "k must be at least 1")
    // ONE explode, ONE shared exchange, nothing persisted (r9 —
    // VERDICT r8 item 2, third shape and the measured winner):
    //   r7 persisted the (doc, pos, hash) frame — the MEMORY_AND_DISK
    //     materialization spilled ~9 GB exactly at the 5M-doc tier
    //     (α 1.24);
    //   r8 dropped the persist on a wrong ReuseExchange claim — the
    //     count aggregate exchanged partial-count rows while AQE
    //     broadcast-converted the join side, so the k-gram explode
    //     (the dominant CPU) computed TWICE (3.7× at sf0.1);
    //   an interim r9 shape carried (id, pos) through the count
    //     aggregation itself (collect_list payload) — one explode, but
    //     the payload-bearing ObjectHashAggregate measured 2.7× r7's
    //     sf0.1 time.
    // This shape has NO fork at all: the per-hash occurrence count
    // rides a WINDOW over the one exchanged position frame, so a
    // single plan branch carries explode → exchange(h) → count-over-h
    // → filter → per-doc aggregate, and the one-explode property is
    // STRUCTURAL — no reliance on exchange reuse (a fork-and-reuse
    // variant was tried and defeated by column pruning: the aggregate
    // branch pruned (id, pos) below its exchange, making the two
    // subtrees non-identical, and the explode ran twice anyway). The
    // window's sort-within-partition is the price; it is n·log(rows
    // per partition) on 20 B rows and measured well under one explode
    // pass. Hash groups are row-streams inside WindowExec (spillable),
    // so a degenerate hot k-gram costs spill, never a giant aggregated
    // row. Keys are xxhash64 longs, not md5 hex strings — 8 B vs 32 B
    // through the one full exchange and a cheaper sort key; the hash
    // is internal (the oracle compares span COUNTS), so any
    // injective-in-practice hash yields identical spans.
    // The RESULT persists — not the positions. The measure
    // (repeatedKgramSpans), the act (scrubRepeatedSpans), and the
    // health report all start from this same frame with the same
    // arguments, so one pipeline pass pays the explode once and every
    // later consumer reads the per-doc span lists back. Unlike r7's
    // corpus-scale positions cache (~9 GB at 5M docs — the measured
    // spill regression), `ps` is OUTPUT scale: one row per document
    // that has any duplicated k-gram, carrying only its duplicated
    // start offsets. Ownership lives in [[spanCache]] (bounded LRU,
    // eviction unpersists); an entry an external
    // `spark.catalog.clearCache()` unpersisted re-persists on its next
    // lookup, so the trio's one-pass sharing survives cache resets.
    val key = (df.queryExecution.analyzed.canonicalized, textCol, idCol,
      k, minCount)
    spanCache.synchronized {
      var frame = spanCache.get(key)
      if (frame == null) {
        // k-gram explode + hash is the dominant per-row cost and runs in
        // the scan's map tasks — spread a single-split corpus first
        // (results are counts + sorted collects: partition-independent).
        // Two-step projection: the regex split materializes once per
        // row (r14, TextAnalysis.shinglesFromWords).
        frame = Spread.across(df)
          .select(col(idCol), TextAnalysis.words(col(textCol)).as("__w"))
          .select(col(idCol),
            posexplode(TextAnalysis.shinglesFromWords(col("__w"), k))
              .as(Seq("pos", "sh")))
          .select(col(idCol), col("pos"), xxhash64(col("sh")).as("h"))
          .withColumn("__n",
            count(lit(1)).over(Window.partitionBy(col("h"))))
          .filter(col("__n") >= minCount)
          .groupBy(idCol)
          .agg(array_sort(collect_list(col("pos"))).as("ps"))
        spanCache.put(key, frame)
      }
      if (frame.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE)
        frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      frame
    }
  }

  def repeatedKgramSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minCount: Long = 2): DataFrame = {
    val perDoc = dupStartPositions(df, textCol, idCol, k, minCount)
    val ps = col("ps")
    val gaps = zip_with(slice(ps, lit(2), size(ps)), ps, (a, b) => a - b)
      // zip_with pads the exhausted shifted side with null; cut the tail
    val diffs = slice(gaps, lit(1), size(ps) - 1)
    val spans = perDoc.select(col(idCol),
      (lit(1) + size(filter(diffs, d => d > k))).as("n_spans"),
      (lit(k) + coalesce(aggregate(diffs, lit(0),
        (acc, d) => acc + least(d, lit(k))), lit(0))).as("n_dup_tokens"))
    // n_tokens coalesces too: a null-text doc must report 0, not null —
    // the documented n_dup_tokens/n_tokens threshold would otherwise
    // null out and silently drop an undup'd document from a keep-filter
    df.select(col(idCol),
        coalesce(TextAnalysis.wsTokenCount(col(textCol)), lit(0))
          .as("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        coalesce(col("n_dup_tokens"), lit(0)).as("n_dup_tokens"),
        col("n_tokens"))
  }

  /** ACT on [[repeatedKgramSpans]]' signal: rewrite `textCol` with
    * every token covered by a repeated k-gram span REMOVED (the
    * Lee-et-al substring-dedup action at k-gram granularity), plus an
    * `n_scrubbed` removed-token count. Documents with no spans keep
    * their text byte-identical; scrubbed documents are rebuilt by
    * joining surviving tokens with single spaces (whitespace
    * normalization — span boundaries make the original inter-token
    * whitespace unrecoverable); a fully-duplicated document becomes
    * the empty string. The per-token coverage test folds the doc's
    * OWN duplicated-start list (span-scale, not corpus-scale); cost
    * rides the same one-explode counted aggregation as the measure. */
  def scrubRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minCount: Long = 2): DataFrame = {
    val perDoc = dupStartPositions(df, textCol, idCol, k, minCount)
    val w = TextAnalysis.words(col(textCol))
    val kept = filter(
      zip_with(w, sequence(lit(0), size(w) - 1),
        (t, i) => when(!exists(col("ps"),
          p => i >= p && i <= p + (k - 1)), t)),
      x => x.isNotNull)
    val hasSpans = col("ps").isNotNull
    // the per-token coverage fold below runs on the CORPUS side of the
    // join — spread a single-split corpus (per-row rewrite only)
    Spread.across(df).join(perDoc, Seq(idCol), "left")
      .withColumn("__kept", when(hasSpans, kept))
      .withColumn("n_scrubbed",
        when(hasSpans,
          TextAnalysis.wsTokenCount(col(textCol)) - size(col("__kept")))
          .otherwise(lit(0)))
      .withColumn(textCol,
        when(hasSpans, array_join(col("__kept"), " "))
          .otherwise(col(textCol)))
      .drop("ps", "__kept")
  }

  /** 16-bit SimHash over distinct whitespace tokens; bit j comes from the
    * high bit of hex digit j of md5(token) (portable across engines). */
  def simhash16(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val highHex = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val toks = df.select(col(idCol),
      explode(array_distinct(TextAnalysis.words(col(textCol)))).as("tok"))
    val withHash = toks.withColumn("h", md5(col("tok")))
    val bitAggs = (0 until 16).map { j =>
      sum(when(substring(col("h"), j + 1, 1).isin(highHex: _*), 1)
        .otherwise(-1)).as(s"s$j")
    }
    val grouped = withHash.groupBy(col(idCol)).agg(bitAggs.head, bitAggs.tail: _*)
    val hash = (0 until 16).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    grouped.select(col(idCol), hash.as("simhash"))
  }

  /** 64-bit SimHash fingerprint emitted as four 16-bit block columns
    * `sb0..sb3` (block k holds global bits [16k, 16k+16)). Splitting the
    * fingerprint keeps every value in the positive BIGINT range on both
    * engines (a single 64-bit value would need bit 63 → sign bit) and is
    * the shape the Manku-style block-permutation candidate join consumes
    * directly.
    *
    * Bit derivation (engine-portable): one md5 per distinct whitespace
    * token; global bit j reads hex digit ⌊j/2⌋ — even j takes the
    * digit's high bit (digit ∈ 8..f), odd j its low bit (digit odd).
    * Votes are ±1 per distinct token; a bit is set iff its vote sum is
    * strictly positive (ties → 0, deterministic on both engines). Same
    * tokenization contract as [[simhash16]].
    *
    * Reference behavior: near-duplicate detection per
    * jschaef/sarfile_analyzer_ng's dedup intent; fingerprint design per
    * Manku, Jain, Das Sarma — "Detecting Near-Duplicates for Web
    * Crawling" (WWW'07).
    */
  def simhash64Blocks(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // per-token md5 + the vote derivation run in the scan's map tasks —
    // spread a single-split corpus first (votes are integer sums:
    // partition-independent; Spread.across is a no-op at scale)
    val toks = Spread.across(df).select(col(idCol),
      explode(array_distinct(TextAnalysis.words(col(textCol)))).as("tok"))
    // one compiled md5-byte walk per token (graft.expressions.Md5VoteMask)
    // replaces the r12 32-substring + 64-isin hex projection — identical
    // bits, measured ~3× less fingerprint-stage CPU. The ±1 vote sum
    // s_j = 2·Σ maskbit_j − n, so the strictly-positive bit test
    // `s_j > 0` is the integer test `2·p_j > n` below.
    val withMask = toks.select(col(idCol),
      graft.expressions.Md5VoteMask.md5_vote_mask(col("tok")).as("__m"))
    val bitAggs = (0 until 64).map(j =>
      sum(shiftright(col("__m"), j).bitwiseAND(lit(1L))).as(s"p$j")) :+
      count(lit(1)).as("__n")
    val voted = withMask.groupBy(col(idCol))
      .agg(bitAggs.head, bitAggs.tail: _*)
    val blocks = (0 until 4).map { k =>
      (0 until 16).map(t =>
        when(col(s"p${16 * k + t}") * 2 > col("__n"), lit(1L << t))
          .otherwise(lit(0L)))
        .reduce(_ + _).as(s"sb$k")
    }
    voted.select(col(idCol) +: blocks: _*)
  }

  /** SimHash near-duplicate pairs: all (id_a < id_b) whose 64-bit
    * fingerprints differ in at most `maxHamming` bits, found WITHOUT an
    * all-pairs join via block-permutation candidate generation (Manku et
    * al., WWW'07): the 64 bits split into `nBlocks` equal blocks; a pair
    * within Hamming distance k touches at most k blocks, so at least
    * (nBlocks − k) blocks are intact and the pair shares at least one
    * (nBlocks − k)-subset key — candidate recall is EXACT by pigeonhole,
    * and the final bit_count filter is exact, so the result equals the
    * brute-force O(n²) Hamming join at any corpus size.
    *
    * Scale knob: `nBlocks = 4` keys on one 16-bit block (4 keys/doc) —
    * right when n ≪ 2^16; `nBlocks = 8` keys on five 8-bit blocks
    * (40-bit keys, C(8,5) = 56 keys/doc) — the Manku parameterization
    * for web-scale n where 16-bit buckets would degenerate toward
    * all-pairs. Both shuffle only (doc, key) rows and pair only within
    * buckets; the fingerprint frame (id + four longs) is persisted so
    * the corpus text is scanned exactly once.
    *
    * Persist lifecycle: that fingerprint frame is scanned three times
    * inside the ONE returned plan (keys + both verify sides), so it
    * stays pinned in the CacheManager until `unpersist` or
    * `clearCache()` — dropping the result frame does not release it
    * (the [[Decontam.klTerms]] contract). The result is pair-scale, so
    * no eager-release wrapper exists; a long-lived loop that calls this
    * repeatedly should `spark.catalog.clearCache()` between
    * snapshots.
    */
  /** [[simhashNearDupPairs]] with the block parameterization chosen by
    * measured corpus size — the dispatch the scaladoc below prescribes,
    * executed. Why it must exist: natural-language fingerprints are
    * CORRELATED (shared stopwords vote on every doc's bits — measured
    * per-bit agreement between unrelated docs ≈ 0.57, not 0.5), so a
    * single 16-bit block key collides unrelated docs with p ≈ 0.57¹⁶
    * ≈ 1.4·10⁻⁴ — vanishing at 5k docs (~3k incidental candidates),
    * catastrophic at 500k (the x100 scale-stress run: ~10⁸ candidate
    * rows, executor OOM). Past `smallCorpus` docs the Manku web-scale
    * parameterization (8 blocks, C(8,5) = 56 forty-bit keys/doc) drops
    * incidental collisions to p ≈ 0.57⁴⁰ ≈ 10⁻¹⁰ per key while the
    * pigeonhole guarantee — and therefore the RESULT — is unchanged.
    * The count() is one column-pruned pass; callers who know their
    * corpus size can call the explicit form directly. */
  def simhashNearDupPairsAuto(df: DataFrame, textCol: String,
      idCol: String, maxHamming: Int = 3,
      smallCorpus: Long = 30000): DataFrame =
    simhashNearDupPairs(df, textCol, idCol, maxHamming,
      nBlocks = if (df.count() <= smallCorpus) 4 else 8)

  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, nBlocks: Int = 4): DataFrame = {
    require(nBlocks == 4 || nBlocks == 8, s"nBlocks must be 4 or 8: $nBlocks")
    require(maxHamming >= 0 && maxHamming < nBlocks,
      s"pigeonhole needs maxHamming < nBlocks: $maxHamming vs $nBlocks")
    val sb = (0 until 4).map(k => s"sb$k")
    val fp = simhash64Blocks(df, textCol, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // EAGER materialization (r14): the fingerprint frame feeds several
    // SIBLING stages of the one returned plan (rep + both verify
    // sides), and AQE schedules independent query stages concurrently —
    // parallel first-touch of a lazily-cached frame makes EVERY sibling
    // stage compute the uncached partitions (block-manager last-write
    // dedups the STORAGE, not the work; the bench logs' "Block rdd_N
    // already exists" warnings are exactly this). Measured: the
    // 64-vote fingerprint aggregation re-ran ~5× inside one job,
    // ~7 s of duplicated task time per copy at sf0.1. One count()
    // materializes the cache once, serially, before the branches.
    fp.count()

    // FINGERPRINT COMPRESSION: candidate generation and Hamming
    // verification run over DISTINCT fingerprints, not documents. A
    // corpus-wide boilerplate cluster puts thousands of docs on a
    // handful of fingerprints that share EVERY block — without this,
    // each of the cluster's Θ(m²) pairs surfaced through all
    // C(nBlocks, keep) combo keys (measured at the x100 scale-stress
    // corpus: ~7e8 candidate rows, 150 s). Compressed, the combo join
    // sees each fingerprint once, identical-fp groups expand directly
    // to their (Hamming-0) member pairs, and qualifying cross-fp pairs
    // expand members×members — the expansion rows ARE the true output,
    // the irreducible cost of listing a quadratic answer.
    val rep = fp.groupBy(sb.map(col): _*)
      .agg(min(col(idCol)).as("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rep.count() // eager — same sibling-stage rationale as fp above
    // (member id, its fingerprint's representative)
    val members = fp.join(rep, sb)
      .select(col(idCol).as("__m"), col("rep"))

    val blockCols: Seq[Column] =
      if (nBlocks == 4) sb.map(col)
      else (0 until 4).flatMap(k => Seq(
        col(s"sb$k").bitwiseAND(lit(255L)), shiftright(col(s"sb$k"), 8)))
    val keep = nBlocks - maxHamming
    val combos = (0 until nBlocks).combinations(keep).toSeq.zipWithIndex
    val keyed = rep.select(col("rep") +: sb.map(col) :+ explode(array(combos.map {
      case (sel, ci) => struct(lit(ci).as("combo"),
        concat_ws("_", sel.map(blockCols): _*).as("key"))
    }: _*)).as("bk"): _*).select(col("rep") +: sb.map(col) :+
      col("bk.combo").as("combo") :+ col("bk.key").as("key"): _*)

    // distinct-fp candidate pairs, Hamming-verified on the spot (the
    // fingerprint blocks ride along — no re-join against fp needed).
    // FIRST-INTACT-COMBO dedup (r14, guide §2.4): a qualifying pair is
    // intact on 1..nBlocks combos and used to surface once per intact
    // combo, deduped by a distinct() — a full pair-stream exchange +
    // two hash aggregates. A joined row exists exactly when its combo
    // is intact (key equality ⟺ all selected blocks equal), so keeping
    // only the row whose combo is the pair's MINIMAL intact combo
    // keeps exactly one row per qualifying pair: the per-row predicate
    // "no earlier combo is intact" replaces the distinct outright.
    // Block equality is recomputed from the riding sb columns, so no
    // extra bytes cross the join.
    val sideBlocks: String => Seq[Column] = p =>
      if (nBlocks == 4) sb.map(n => col(s"$p.$n"))
      else (0 until 4).flatMap(k => Seq(
        col(s"$p.sb$k").bitwiseAND(lit(255L)),
        shiftright(col(s"$p.sb$k"), 8)))
    val aB = sideBlocks("a")
    val bB = sideBlocks("b")
    val intact: Seq[Column] = combos.map { case (sel, _) =>
      sel.map(k => aB(k) === bB(k)).reduce(_ && _) }
    val firstIntact: Column = combos.map { case (_, ci) =>
      if (ci == 0) col("a.combo") === lit(0)
      else col("a.combo") === lit(ci) && !intact.take(ci).reduce(_ || _)
    }.reduce(_ || _)
    val fpPairs = keyed.as("a").join(keyed.as("b"),
        col("a.combo") === col("b.combo") && col("a.key") === col("b.key") &&
          col("a.rep") < col("b.rep") && firstIntact)
      .select(col("a.rep").as("ra"), col("b.rep").as("rb"),
        (0 until 4).map(k => bit_count(col(s"a.sb$k")
          .bitwiseXOR(col(s"b.sb$k")))).reduce(_ + _).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)

    // expand: cross-fp qualifying pairs (each unordered doc pair
    // appears via exactly one rep pair — groups are disjoint — so no
    // distinct is needed) + within-fp pairs at Hamming 0
    val cross = fpPairs
      .join(members.toDF("ma", "rep").withColumnRenamed("rep", "ra"), "ra")
      .join(members.toDF("mb", "rep").withColumnRenamed("rep", "rb"), "rb")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("hamming"))
    val within = members.toDF("ma", "rep").as("a")
      .join(members.toDF("mb", "rep").as("b"), Seq("rep"))
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("id_a"), col("mb").as("id_b"),
        lit(0).as("hamming"))
    cross.unionByName(within)
  }
}
