package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Lineage, Scoped}

/** Similarity search over embedding columns (Array[Float]).
  *
  * Brute-force cosine is the exact baseline: a broadcast of the query
  * vector + one codegen'd scan — no shuffle at all, scales linearly with
  * executors. The scale path for query *sets* is `assignNearest` /
  * LSH-style bucketing (centroid assignment = one IVF routing step):
  * centroids are tiny (k × dim), always broadcast, so the only shuffle is
  * the k×dim centroid aggregation itself.
  */
object Similarity {

  /** Element-wise ops via sequential fold — deterministic summation order,
    * so results are reproducible across partitionings and engines. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Built-in-composed cosine (interpreted HOFs — reference baseline). */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine similarity — native codegen'd Catalyst expression (identical
    * semantics to `cosineHof`: double accumulation in element order; see
    * graft.expressions.CosineSimilarity for why it exists). */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.CosineSimilarity.cosine_native(a, b)

  /** Deterministic ±1 sign matrix for [[randomProject]]: entry (j, i)
    * is +1 when the first md5 byte of "salt:j:i" is even. md5-derived,
    * so the matrix is a pure function of (salt, dims) — reproducible
    * across JVMs, engines, and rounds, never of RNG state. */
  def signMatrix(outDim: Int, inDim: Int,
      salt: String = "rp"): Array[Array[Double]] =
    Array.tabulate(outDim, inDim) { (j, i) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$j:$i"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if ((d(0) & 1) == 0) 1.0 else -1.0
    }

  /** Johnson–Lindenstrauss dimensionality reduction by a DETERMINISTIC
    * random-sign projection: proj_j = (Σ_i v_i · s_ji) / √outDim with
    * s ∈ {±1} from [[signMatrix]] (Achlioptas-style sign entries
    * satisfy the JL lemma — no Gaussian sampling, and the matrix lives
    * only in the task binary: outDim × inDim doubles). The 100 TB
    * design point: 64→16 dims cuts every downstream vector scan,
    * shuffle, and pairwise score 4× — LSH/ANN/dedup stages compose on
    * the `proj` column unchanged, with distances preserved to
    * O(1/√outDim) distortion. Pure per-row column math: zero shuffle,
    * whole-stage codegen, streaming-safe. Element-order double
    * accumulation keeps it engine-portable (the [[dot]] contract).
    * A vector whose length differs from `inDim` RAISES — zip_with
    * would otherwise null-pad the mismatch into silent all-null
    * projections that downstream filters drop row by row; null
    * vectors null-propagate as everywhere else. */
  def randomProject(df: DataFrame, vecCol: String, inDim: Int,
      outDim: Int, salt: String = "rp"): DataFrame = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val comps = signMatrix(outDim, inDim, salt).map { row =>
      dot(col(vecCol), typedlit(row.toSeq)) * lit(scale)
    }
    df.withColumn("proj",
      when(col(vecCol).isNull, lit(null).cast("array<double>"))
        .when(size(col(vecCol)) === inDim, array(comps.toIndexedSeq: _*))
        .otherwise(raise_error(concat(
          lit(s"randomProject: expected $inDim elements, got "),
          size(col(vecCol)).cast("string")))))
  }

  /** Deterministic CLUSTERED variant of an embedding corpus — the
    * mixture-of-Gaussians-shaped calibration fixture the recall gates
    * need: a near-uniform random corpus is the documented worst case
    * for every blocking/compression scheme (all pairwise similarities
    * concentrate around zero), so floors calibrated there must be
    * loose; on a clustered corpus real recall is high and floors can be
    * tight enough to catch regressions. Construction: cluster c = id
    * mod `nClusters`; each vector is pulled toward anchor vector c (the
    * corpus's own rows with id < `nClusters`, which therefore map to
    * themselves): v' = w·anchor + (1−w)·v. Anchors of a unit-ish random
    * corpus are near-orthogonal, so within-cluster cosines concentrate
    * near w²/(w²+(1−w)²) and cross-cluster near zero — tight, separable
    * clusters at w = 0.8. Pure broadcast join + zip_with column math
    * (no shuffle), reproducible on any engine — no RNG anywhere.
    * Requires ids 0..nClusters−1 to exist and be integral. */
  def clusterPull(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int = 8, anchorWeight: Double = 0.8): DataFrame = {
    require(nClusters >= 1, s"nClusters must be positive: $nClusters")
    require(anchorWeight > 0 && anchorWeight < 1,
      s"anchorWeight must be in (0, 1): $anchorWeight")
    val anchors = df.filter(col(idCol) < nClusters)
      .select(col(idCol).cast("long").as("__c"), col(vecCol).as("__a"))
    df.withColumn("__c", pmod(col(idCol).cast("long"), lit(nClusters.toLong)))
      .join(broadcast(anchors), "__c")
      .withColumn(vecCol,
        zip_with(col("__a"), col(vecCol), (a, e) =>
          (a * lit(anchorWeight) + e * lit(1.0 - anchorWeight))
            .cast("float")))
      .drop("__c", "__a")
  }

  /** Exact top-k by cosine against one query vector (taken from the row
    * with `queryId`). The query vector is a literal, not a broadcast join:
    * a cross join compiles to BroadcastNestedLoopJoin which blocks
    * whole-stage codegen, while a literal keeps scan→project→top-k in one
    * codegen stage. Deterministic: ordered by rounded similarity with id
    * tie-break. */
  def topKCosine(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val qv = df.filter(col(idCol) === queryId)
      .select(col(vecCol)).head().getSeq[Float](0)
    df.select(col(idCol),
        round(cosine(col(vecCol), typedlit(qv)), 4).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Element-wise mean vector per label (the IVF coarse codebook). */
  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos"))
      .agg(avg(col("v").cast("double")).as("cv"))
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pc"))
      .select(col(labelCol).as("centroid_label"),
        transform(col("pc"), _.getField("cv")).as("cvec"))

  /** Native-order label comparator shared by every tie-break in the
    * package: numeric labels compare numerically, anything else
    * lexicographically — the same rule IvfStore.probeBuckets applies, so
    * driver-side routing and the in-plan fold can never disagree on an
    * exact-tie vector. */
  private[graft] val labelOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(x: Any, y: Any): Int = (x, y) match {
      case (a: Number, b: Number) =>
        java.lang.Double.compare(a.doubleValue(), b.doubleValue())
      case _ =>
        (x.toString.toLongOption, y.toString.toLongOption) match {
          case (Some(a), Some(b)) => java.lang.Long.compare(a, b)
          case _ => x.toString.compareTo(y.toString)
        }
    }
  }

  /** Collect the k×dim codebook and BROADCAST it, label-sorted in NATIVE
    * order so the scorer's position tie-break equals the label order
    * every path shares (IvfStore.probeBuckets sorts by the same
    * [[labelOrdering]] driver-side — a raw in-plan string sort would put
    * "10" before "2"). Centroid norms are precomputed once here; labels
    * are converted to Catalyst values so the scorer can emit them
    * directly. The r3 literal-array codebook shipped k struct nodes in
    * every task binary (the 2 MB task-binary warning at large k); the
    * broadcast ships the matrix per executor once and the expression
    * tree stays one node. */
  /** Codebook size above which routing goes TWO-LEVEL (coarse cells
    * over the fine centroids — see CodebookTopK's scaladoc): below it a
    * flat k·dim scan is cheap and BIT-IDENTICAL to every earlier
    * release (all oracle-gated corpora sit far below), above it the
    * flat scan is the measured quadratic wall of blocked dedup (k is
    * sized n/targetBucket there, so n·k·dim routing grows 100× per 10×
    * corpus). @volatile var rather than a parameter: it is a process
    * tuning knob (specs force it low to exercise the hierarchy on
    * small fixtures; a deployment that wants flat-exact routing at any
    * k sets it to Int.MaxValue), not a per-call semantic. */
  @volatile var hierarchicalRoutingThreshold: Int = 512

  /** Coarse structure over the fine-centroid matrix: k₁ ≈ √k cells via
    * a few deterministic Lloyd's rounds ON THE CENTROIDS (k points —
    * driver-scale by definition), cosine assignment matching the
    * scorer's metric. Returns (coarse matrix, coarse norms, member
    * positions per cell). Deterministic: seeds are every ⌊k/k₁⌋-th
    * fine centroid in position order; empty cells keep their seed. */
  /** `parallel = false` runs the assignment loop sequentially —
    * bit-identical output (per-slot writes, element-order folds) —
    * for callers that already run INSIDE an executor task
    * (graft.expressions.CellCoarsePack builds a per-cell sub-coarse
    * layer over a few hundred fine centroids; 32 tasks each spawning
    * a parallel stream would oversubscribe the host for microsecond
    * loops). The driver-side broadcast build keeps the parallel
    * default — its 65k-centroid worst case is seconds of single-
    * threaded work on the broadcast critical path. */
  private[graft] def buildCoarse(matrix: Array[Array[Double]],
      parallel: Boolean = true)
      : (Array[Array[Double]], Array[Double], Array[Array[Int]]) = {
    val k = matrix.length
    val dim = matrix(0).length
    val k1 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    def normOf(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    var coarse = Array.tabulate(k1)(j => matrix((j.toLong * k / k1).toInt))
    val assign = new Array[Int](k)
    for (_ <- 0 until 4) {
      val cNorms = coarse.map(normOf)
      // PARALLEL assignment (the r7 advisor finding): at the 65,536-
      // centroid cap this loop is rounds·k·√k·dim ≈ 7e9 multiply-adds —
      // tens of seconds single-threaded, blocking every routing call
      // that builds a broadcast. Each fine centroid writes only its own
      // assign slot and reads the shared (immutable within a round)
      // coarse matrix, so a parallel range is race-free; the result is
      // bit-identical to the sequential loop (per-c work is independent,
      // each dot product stays an element-order fold).
      val coarseRef = coarse
      val assignOne: java.util.function.IntConsumer = { (c: Int) =>
        val v = matrix(c)
        val vn = normOf(v)
        var best = 0; var bestScore = Double.NegativeInfinity
        var j = 0
        while (j < k1) {
          val cj = coarseRef(j)
          var dot = 0.0; var i = 0
          while (i < dim) { dot += v(i) * cj(i); i += 1 }
          val denom = vn * cNorms(j)
          val s = if (denom == 0.0) -2.0 else dot / denom
          if (s > bestScore) { bestScore = s; best = j }
          j += 1
        }
        assign(c) = best
      }
      val range = java.util.stream.IntStream.range(0, k)
      if (parallel) range.parallel().forEach(assignOne)
      else range.forEach(assignOne)
      val sums = Array.fill(k1)(new Array[Double](dim))
      val counts = new Array[Int](k1)
      var c2 = 0
      while (c2 < k) {
        val v = matrix(c2); val a = assign(c2)
        var i = 0
        while (i < dim) { sums(a)(i) += v(i); i += 1 }
        counts(a) += 1
        c2 += 1
      }
      coarse = Array.tabulate(k1) { j =>
        if (counts(j) == 0) coarse(j)
        else { val s = sums(j); var i = 0
          while (i < dim) { s(i) /= counts(j); i += 1 }; s }
      }
    }
    val members = Array.fill(k1)(new scala.collection.mutable.ArrayBuffer[Int])
    var c = 0
    while (c < k) { members(assign(c)) += c; c += 1 }
    (coarse, coarse.map(normOf), members.map(_.toArray))
  }

  private def broadcastCodebook(cents: DataFrame)
      : (org.apache.spark.broadcast.Broadcast[graft.expressions.CodebookData],
         org.apache.spark.sql.types.DataType, Boolean) = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    val rows = cents.collect().map { r =>
      (r.get(0), r.getSeq[Double](1).toArray)
    }.sortBy(_._1)(labelOrdering)
    val labelField = cents.schema.fields(0)
    val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(labelField.dataType)
    val matrix = rows.map(_._2)
    val norms = matrix.map { v =>
      var nb = 0.0; var i = 0
      while (i < v.length) { nb += v(i) * v(i); i += 1 }
      math.sqrt(nb)
    }
    val labels = rows.map(r => toCatalyst(r._1))
    val data =
      if (matrix.length >= hierarchicalRoutingThreshold && matrix.nonEmpty) {
        val (cm, cn, cells) = buildCoarse(matrix)
        graft.expressions.CodebookData(matrix, norms, labels, cm, cn, cells)
      } else graft.expressions.CodebookData(matrix, norms, labels)
    val bc = cents.sparkSession.sparkContext.broadcast(data)
    (bc, labelField.dataType, labelField.nullable)
  }

  /** Assign every vector to its nearest centroid by cosine (deterministic
    * tie-break on centroid label). The codebook is k×dim — metadata scale
    * by definition — so it ships as a broadcast scored by a single
    * compiled expression (graft.expressions.CodebookTopK) rather than a
    * codegen-blocking nested-loop join; no per-vector window shuffle
    * either. */
  def assignNearest(df: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val (bc, lt, ln) = broadcastCodebook(cents)
    df.withColumn("assigned", element_at(
      graft.expressions.CodebookTopK.codebook_topk(col(vecCol), bc, 1,
        lt, ln), 1))
  }

  /** Train an IVF codebook with Lloyd's iterations on the DataFrame API
    * — no label column needed (the labeled `centroids` path is for
    * corpora that already carry a partition key). Deterministic:
    * initialization picks the k md5-smallest vector ids (a fixed-seed
    * uniform sample, reproducible across runs and engines), and each
    * iteration is assign-to-nearest (broadcast codebook, no shuffle)
    * followed by a mean per bucket (one keyed shuffle of k×dim partial
    * sums — map-side combined). Empty buckets keep their previous
    * centroid.
    *
    * Cost: one corpus scan per iteration plus at most three for seed
    * selection (size bound — skipped when the caller passes knownN —
    * cutoff-realization count, and the top-k itself; see the seed
    * comment below for why the seeds are NOT one bare
    * orderBy().limit(k) scan) — the k×dim codebook is metadata scale,
    * so each iteration ends by collecting it to the driver and the
    * next iteration starts from local rows. Folding the join chain
    * lazily instead would make iteration i re-execute iterations
    * 1..i−1 when the codebook collects (O(iters²) scans, and an
    * unresolved plan that doubles every iteration); the scan count is
    * pinned by a test in AnnJoinSpec. k and iters are codebook-scale
    * knobs, not data-scale. */
  def trainCodebook(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5, samplePerCentroid: Int = 0,
      knownN: Long = -1L): DataFrame = {
    require(k >= 1 && iters >= 0)
    val spark = df.sparkSession
    import spark.implicits._
    // samplePerCentroid > 0 bounds the TRAINING set at that many
    // points per centroid via a deterministic hash sample (the
    // standard IVF practice — Faiss clustering trains on ~39 points
    // per centroid by default and subsamples anything larger): Lloyd's
    // converges on cluster GEOMETRY, which a bounded sample already
    // pins, so iterating over the full corpus buys nothing but
    // iters × n × k routing cost. With the cap, training cost depends
    // on k alone — at a corpus 100× bigger the codebook trains in the
    // SAME time, and only the single final routing pass scales with n.
    // 0 (the default) trains on everything — small corpora and callers
    // that pinned expectations before this knob existed are
    // bit-identical. The hash gate is a pure function of the id, so
    // the sample — and the codebook — is reproducible across runs,
    // partitionings, and engines.
    // knownN lets a caller that just counted the corpus (e.g.
    // Dedup.cosineDupPairsTrained sizing its codebook) hand the count in
    // instead of paying a second full scan here.
    // (train, trainN): the frame Lloyd's runs over AND its row count —
    // the count rides along so the seed-selection cutoff below is sized
    // from the frame it actually filters (the r8 advisor finding: sizing
    // it from the CORPUS count made expected survivors ~cap·(trainN/n)
    // ≪ k in the sampled regime, so the widen-×4 retry loop paid
    // ~log₄(n/cap) full scans — the very cost the sample exists to cut).
    // The realization count is already paid by the shortfall check, so
    // threading it through adds no scan.
    // (train, trainN, bounded): `bounded` marks the 40·k-row hash
    // sample, which is safe to persist across the seed scan and every
    // Lloyd iteration (r14, the trainPq cached-slices pattern — the
    // sampled regime otherwise re-scans and re-filters the FULL corpus
    // once per iteration). The unsampled regime never persists: `df`
    // there is the whole corpus, and a MEMORY_AND_DISK copy of a
    // 100 TB input is exactly the scratch-disk wall the r8/r12 scale
    // campaigns hit.
    val (train, trainN, bounded) =
      if (samplePerCentroid <= 0) {
        (df, if (knownN >= 0L) knownN else df.count(), false)
      } else {
        val n = if (knownN >= 0L) knownN else df.count()
        val cap = samplePerCentroid.toLong * k
        if (n <= cap) (df, n, false)
        else {
          val sampled = df.filter(
            pmod(xxhash64(col(idCol)), lit(1000000L)) <
              lit(cap * 1000000L / n))
          // the Bernoulli hash-sample has the right EXPECTED size but no
          // lower bound: with a small samplePerCentroid the realization
          // can hold fewer than k rows, which would silently seed (and
          // return) a codebook with fewer than k centroids. Count the
          // realization (id-only scan) and fall back to the full corpus
          // when it cannot seat k seeds.
          val sn = sampled.select(col(idCol)).count()
          if (sn >= k) (sampled, sn, true) else (df, n, false)
        }
      }
    def local(cb: Seq[(Int, Seq[Double])]): DataFrame =
      cb.toDF("centroid_label", "cvec")
    // SEEDS: the k rows with smallest (md5(id), id) — labels 1..k in
    // that hash order (what the original row_number produced). A bare
    // orderBy(..).limit(k) plans as TakeOrderedAndProject, which ships
    // k candidate rows from EVERY partition to the driver — at the
    // dedup sizing k = n/targetBucket that is k × partitions vector
    // rows (measured 1.03 GB > spark.driver.maxResultSize at k = 31k
    // over 32 partitions on the knee corpus; a 2000-partition cluster
    // corpus would ship 100+ GB — a driver OOM by design). Instead:
    // pre-filter by a deterministic md5-PREFIX cutoff sized for ~4k
    // expected survivors, verify the realization holds ≥ k rows (widen
    // ×4 and retry on shortfall, terminally keeping everything), then
    // run the exact top-k on the ~4k-row candidate set. EXACT and
    // bit-identical to the unfiltered plan: hex md5 strings order by
    // their numeric prefix first, so with ≥ k rows strictly below the
    // cutoff, every excluded row orders after every kept row — the
    // global top-k is inside the kept set. Collect volume is k-scale
    // and partition-count-independent.
    def lloyd(): DataFrame = {
      val seedHash = md5(col(idCol).cast("string"))
      val seedPrefix =
        conv(substring(seedHash, 1, 8), 16, 10).cast("long")
      // sized from trainN — the row count of the frame the cutoff
      // filters — never the corpus count (see the (train, trainN) note)
      val nBound = math.max(1L, trainN)
      def seedRows(): Array[org.apache.spark.sql.Row] = {
        var mult = 4.0
        while (true) {
          val cutoff = math.min(4294967296.0,
            math.max(1.0, mult * k / nBound * 4294967296.0)).toLong
          val cand = train.filter(seedPrefix < cutoff)
          if (cutoff >= 4294967296L || cand.count() >= k)
            return cand.orderBy(seedHash, col(idCol)).limit(k)
              .select(transform(col(vecCol), _.cast("double")))
              .collect()
          mult *= 4
        }
        throw new IllegalStateException("unreachable")
      }
      var codebook: Seq[(Int, Seq[Double])] =
        seedRows().toSeq.zipWithIndex
          .map { case (r, i) => (i + 1, r.getSeq[Double](0)) }
      for (_ <- 1 to iters) {
        // one scan: route every training vector over the
        // (broadcast-literal) codebook, aggregate k×dim bucket means,
        // collect k rows
        val next = centroids(assignNearest(train, local(codebook), idCol,
            vecCol), "assigned", vecCol)
          .collect()
          .map(r => r.get(0).asInstanceOf[Number].intValue() ->
            r.getSeq[Double](1)).toMap
        // empty buckets vanish from `next`; keep their old centroid so k
        // stays constant and labels remain stable across iterations
        codebook = codebook.map { case (l, v) => (l, next.getOrElse(l, v)) }
      }
      local(codebook)
    }
    if (bounded) Scoped(train)(lloyd()) else lloyd()
  }

  /** SHARDED two-level codebook with a DISTRIBUTED fine layer — the
    * past-the-knee form of [[trainCodebook]] (VERDICT r7 item 2). The
    * flat codebook caps k at 65,536 because routing broadcasts the
    * k×dim matrix to every executor (~134 MB at dim 256); with the
    * dedup sizing k = n/targetBucket that cap binds at n ≈ 8.4M
    * vectors, after which mean bucket size grows ∝ n and blocked-dedup
    * candidate work turns quadratic. Here only a k₁ ≈ √(n/targetBucket)
    * COARSE codebook broadcasts (bounded forever: √(10⁹/128) ≈ 2.8k
    * centroids at a billion vectors under the √ rule; the r9 maxK2
    * bound switches k₁ to n/(targetBucket·maxK2) past 134 G vectors —
    * ~7.6k centroids at 10⁹ either way); each coarse cell then carries
    * its own FINE sub-codebook sized cellCount/targetBucket (≈ maxK2
    * at worst — expected-size k₁ sizing plus recursive splitting of
    * observed oversized cells hold the max within a small constant
    * (~2×) of maxK2 even under adversarial clustering: nearest-
    * centroid geometry can only split a dense ball approximately, so
    * maxK2 is a sizing knob, not a hard invariant — halve it for a
    * hard target; see the body comments), trained per
    * cell and returned as a keyed DataFrame `(cell, flabel, cvec)` that
    * routing JOINS by cell — effective k = Σ k₂(cell) ≈ n/targetBucket
    * grows with the corpus while nothing corpus-sized ever broadcasts
    * and no single cell's packed matrix outgrows maxK2·dim.
    *
    * Fine training is ONE distributed Lloyd's loop over ALL cells
    * simultaneously (assignment within a cell needs only that cell's
    * centroids — exactly what the per-cell packed join provides):
    *   - the corpus routes to coarse cells (broadcast compute);
    *   - per cell, a deterministic (md5(id), id)-ranked window takes
    *     the first samplePerCentroid·k₂ rows as the training sample
    *     and its first k₂ rows as seeds (rank = fine label, so seeds
    *     exist for every fine slot by construction — no Bernoulli
    *     shortfall case);
    *   - each round joins the sample to its cell's packed codebook,
    *     assigns via the compiled [[graft.expressions.CellTopK]]
    *     (k = 1), and re-averages per (cell, flabel); empty fine
    *     buckets keep their previous centroid, like trainCodebook.
    * Each round's codebook frame is locally checkpointed — it is
    * k-scale but feeds the next round twice (pack + empty-bucket
    * fallback), the duplicateClusters lineage rule. Deterministic
    * end to end: hash-ranked samples, position-stable seeds, the same
    * element-order folds as every scorer.
    *
    * Cost: the coarse train (k₁-scale sample), ONE corpus shuffle for
    * the per-cell ranking window, and itersFine joins over the bounded
    * sample (≤ samplePerCentroid·n/targetBucket ≈ 0.31·n rows). A
    * split round (rare — observed-oversized cells only) adds
    * Θ(split-cell ids) exchanged bytes, never a corpus-scale re-route
    * (r13 — see the split-loop comment). All of it is index-BUILD
    * cost — persist both frames (IvfStore) and every later
    * dedup/search pass pays routing only. Internal actions carry
    * [[JobLeg]] tags (`train-coarse` / `train-split:*` /
    * `train-fine`) so the scale harnesses attribute shuffle bytes per
    * semantic leg. */
  def trainShardedCodebook(df: DataFrame, idCol: String, vecCol: String,
      targetBucket: Int = 128, itersCoarse: Int = 5, itersFine: Int = 2,
      samplePerCentroid: Int = 40, knownN: Long = -1L,
      maxK2: Int = 1024): (DataFrame, DataFrame) = {
    require(targetBucket >= 1 && itersFine >= 0 && maxK2 >= 1)
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val n = if (knownN >= 0L) knownN else df.count()
    // k₂ BOUND (r9, VERDICT r8 item 1b): a cell's fine matrix moves
    // through the routing join and its sub-coarse walk still costs
    // √k₂ per row, so k₂ must not grow without bound. Two mechanisms:
    // (1) size k₁ so the EXPECTED k₂ = (n/k₁)/targetBucket stays ≤
    // maxK2 — below n = targetBucket·maxK2² (134 G vectors at
    // defaults) the √ rule dominates and nothing changes; above it k₁
    // grows ∝ n (the coarse broadcast stays tiny: n/(tB·maxK2) ≈ 7.6k
    // centroids at 10⁹) and CodebookTopK's own two-level walk keeps
    // coarse routing sublinear; (2) recursive SPLITTING of OBSERVED
    // oversized cells below.
    val cellCap = targetBucket.toLong * maxK2
    val k1 = math.max(4L, math.min(65536L, math.ceil(math.max(
      math.sqrt(n.toDouble / targetBucket),
      n.toDouble / cellCap)).toLong)).toInt
    var coarse = JobLeg.tagged(spark, "train-coarse") {
      trainCodebook(df, idCol, vecCol, k1, itersCoarse,
        samplePerCentroid, n) }
    def route(cb: DataFrame): DataFrame =
      assignNearest(df, cb, idCol, vecCol)
        .select(col(idCol).as("__id"),
          transform(col(vecCol), _.cast("double")).as("__v"),
          col("assigned").cast("int").as("cell"))
    var routed = route(coarse)
    // RECURSIVE CELL SPLITTING (r9 — the observed-k₂ bound): Lloyd's
    // bounds only the MEAN cell; a Zipf-hot region can pack one cell
    // far past maxK2. Each split round finds cells whose row count
    // exceeds targetBucket·maxK2, promotes ⌈2·count/cap⌉−1 of the
    // cell's own rows (its (md5(id), id)-ranked heads — deterministic,
    // and hash-random WITHIN the cell, so they land spread across its
    // mass) to NEW coarse centroids, and re-assigns the SPLIT CELLS'
    // members among each cell's local family — its old centroid plus
    // its promoted seeds — by the same CellTopK cosine scoring every
    // routing path uses.
    //
    // TARGETED, not global (r13 — the r12 tb=64 probes=4 knee campaign
    // read bytes-α 1.189 RED, and the step was THIS loop's per-round
    // cost: the seed-ranking window shipped every split-cell row's
    // full float vector (~2 KB/row ≈ the observed ~9.6 GB excess for
    // one extra round at 12M), and the global re-route recomputed
    // every vector's assignment per round. Now a round's exchange is
    // Θ(split-cell ids): the seed rank rides an id-only window
    // (~tens of bytes/row), the Σ⌈2cn/cap⌉−1 surviving seeds
    // (codebook scale) fetch their vectors back by id in one narrow
    // pass over the cached corpus, and non-split cells' members never
    // move — the in-training analogue of the targeted
    // Θ(oversized-mass) work IvfStore.resplitShardedCells does
    // post-build. Convergence is MONOTONE under targeted re-assignment
    // (only split and promoted cells change counts; a previously-fine
    // cell can never regrow), still capped at three rounds; every
    // corpus at or below the 134 G-vector expected-bound never enters
    // the loop.
    //
    // Honest approximation, stated: a non-split cell's member may sit
    // nearer a PROMOTED centroid than its own — training residence
    // keeps it where it was, while query-time routing (assignTopK over
    // the widened codebook) is exact nearest and may send it to the
    // promoted cell. Training assignment is a SAMPLING device (it
    // decides which rows train which fine codebooks), so the mismatch
    // costs fine-centroid quality at split boundaries, never pair
    // recall: candidate pairs pass the exact rescore, and both sides
    // of a near-dup route identically at query time. Index-time
    // overfill of a promoted cell beyond its training count is
    // resplitShardedCells' job, exactly like append bloat. EXACTLY-
    // coincident vectors remain geometrically unsplittable (every copy
    // still routes to one centroid); that regime is a hot BUCKET, not
    // a hot cell, and is what the pair join's (bucket, chunk) salt is
    // for.
    //
    // Caching: the frame that first enters the split regime persists
    // ONCE (cacheRoot); each round's generation is a lazy
    // filter/broadcast-join/union stack over it — ≤ 3 narrow layers
    // recomputed per consumer pass, instead of a second corpus-scale
    // cache per generation (two resident 12M generations ≈ 49 GB
    // would crowd the 62 GB scratch the knee campaigns run against).
    // The NON-split path (every corpus below the expected bound) is
    // untouched — no corpus-scale cache write is added to the
    // measured knee chain.
    var splitRound = 0
    var splitDone = false
    var cacheRoot: DataFrame = null
    while (splitRound < 3 && !splitDone) {
      val over = JobLeg.tagged(spark, s"train-split:detect$splitRound") {
        routed.groupBy("cell").agg(count(lit(1)).as("__cn"))
          .filter(col("__cn") > cellCap)
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1) }
      if (over.isEmpty) splitDone = true
      else JobLeg.tagged(spark, s"train-split:r${splitRound + 1}") {
        if (cacheRoot == null) {
          cacheRoot = routed
          cacheRoot.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }
        val splitCells: Seq[Int] = over.map(_._1).toSeq
        // 2× overshoot: nearest-centroid geometry splits a pile
        // UNEVENLY (a seed near the pile's core captures a multiple of
        // its fair share), so promoting exactly the deficit left cells
        // ~1.5× over cap after two rounds on the spec fixture.
        // Doubling the promoted seeds makes one round land comfortably
        // under the cap; surplus centroids just hold smaller cells
        // (routing cost is broadcast compute; mean fill dropping below
        // targetBucket in split regions only SHRINKS candidate work).
        val seedCounts = over.toSeq.map { case (c, cn) =>
          (c, math.ceil(2.0 * cn / cellCap).toInt - 1) }
        val w0 = Window.partitionBy(col("cell"))
          .orderBy(md5(col("__id").cast("string")), col("__id"))
        val seedIds = routed
          .join(broadcast(seedCounts.toDF("cell", "__m")), Seq("cell"))
          .select(col("cell"), col("__m"), col("__id"))
          .withColumn("__rk", row_number().over(w0))
          .filter(col("__rk") <= col("__m"))
          .select(col("cell"), col("__rk"), col("__id"))
          .collect() // Σ⌈2cn/cap⌉−1 rows — codebook scale
          .sortBy(r => (r.getInt(0), r.getInt(1)))
        val vecById = routed
          .filter(col("__id").isin(seedIds.map(_.get(2)).toSeq: _*))
          .select(col("__id"), col("__v"))
          .collect().map(r => r.get(0) -> r.getSeq[Double](1)).toMap
        val maxLbl = coarse.agg(max(col("centroid_label"))).head().getInt(0)
        val promoted = seedIds.zipWithIndex.map { case (r, i) =>
          (r.getInt(0), maxLbl + 1 + i, vecById(r.get(2))) }.toSeq
        val oldCents = coarse
          .filter(col("centroid_label").isin(splitCells: _*))
          .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
        coarse = coarse.unionByName(promoted
          .map { case (_, l, v) => (l, v) }.toDF("centroid_label", "cvec"))
        // local family per split cell: the old centroid keeps its own
        // label, promoted seeds carry theirs — CellTopK's winning
        // flabel IS the member's new coarse cell
        val family = (splitCells.map(c => (c, c, oldCents(c))) ++
          promoted).toDF("cell", "flabel", "cvec")
        val packedFam = broadcast(packFineCells(family))
        val reassigned = routed
          .filter(col("cell").isin(splitCells: _*))
          .join(packedFam, Seq("cell"))
          .select(col("__id"), col("__v"),
            coalesce(element_at(graft.expressions.CellTopK.cell_topk(
              col("__v"), col("members"), col("subc"), 1), 1).cast("int"),
              col("cell")).as("cell"))
        routed = routed.filter(!col("cell").isin(splitCells: _*))
          .select(col("__id"), col("__v"), col("cell"))
          .unionByName(reassigned)
        splitRound += 1
      }
    }
    val fineOut = JobLeg.tagged(spark, "train-fine") {
    val k2 = routed.groupBy("cell").agg(count(lit(1)).as("__cn"))
      .select(col("cell"), greatest(lit(1L),
        ceil(col("__cn").cast("double") / targetBucket).cast("long"))
        .cast("int").as("k2"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(md5(col("__id").cast("string")), col("__id"))
    val sample = routed
      .join(broadcast(k2), Seq("cell")) // k2 is k₁ rows — metadata scale
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("k2") * samplePerCentroid)
    Scoped(sample) {
      // seeds: rank within cell IS the fine label (1..k₂ per cell)
      var fine = Lineage.truncated(
        sample.filter(col("__rk") <= col("k2"))
          .select(col("cell"), col("__rk").cast("int").as("flabel"),
            col("__v").as("cvec")))
      for (_ <- 1 to itersFine) {
        val packed = packFineCells(fine)
        val assigned = sample.join(packed, Seq("cell"))
          .select(col("cell"), col("__v"),
            element_at(graft.expressions.CellTopK.cell_topk(
              col("__v"), col("members"), col("subc"), 1), 1).as("flabel"))
          .filter(col("flabel").isNotNull)
        val next = assigned
          .select(col("cell"), col("flabel"),
            posexplode(col("__v")).as(Seq("pos", "x")))
          .groupBy(col("cell"), col("flabel"), col("pos"))
          .agg(avg(col("x")).as("cv"))
          .groupBy(col("cell"), col("flabel"))
          .agg(array_sort(collect_list(struct(col("pos"), col("cv"))))
            .as("pc"))
          .select(col("cell"), col("flabel"),
            transform(col("pc"), _.getField("cv")).as("__next"))
        // empty fine buckets keep their previous centroid (k₂ stable)
        fine = Lineage.truncated(
          fine.join(next, Seq("cell", "flabel"), "left")
            .select(col("cell"), col("flabel"),
              coalesce(col("__next"), col("cvec")).as("cvec")))
      }
      fine
    }
    }
    if (cacheRoot != null) cacheRoot.unpersist()
    (coarse, fineOut)
  }

  /** One packed row per coarse cell: the cell's fine centroids as a
    * label-sorted member array with precomputed norms — the `members`
    * operand [[graft.expressions.CellTopK]] scores against — PLUS the
    * cell's sub-coarse walk layer (`subc`, r9:
    * [[graft.expressions.CellCoarsePack]] — √k₂ sub-centroids with
    * member positions, empty for cells under `subMinMembers`). Shared
    * by fine training and sharded routing so the two can never
    * disagree on member order, norm accumulation, or walk geometry. */
  private[graft] def packFineCells(fine: DataFrame,
      subMinMembers: Int =
        graft.expressions.CellCoarsePack.DefaultMinMembers): DataFrame =
    fine.groupBy("cell")
      .agg(array_sort(collect_list(struct(col("flabel"), col("cvec"),
        norm(col("cvec")).as("nrm")))).as("members"))
      .withColumn("subc", graft.expressions.CellCoarsePack
        .cell_coarse_pack(col("members"), subMinMembers))

  /** TWO-LEVEL probe routing, shared by the in-query sharded dedup
    * (graft.functions.Dedup.cosineDupPairsShardedInt8) and the sharded
    * index writer (graft.sources.IvfStore.writeShardedInt8) so the two
    * can never disagree on routing semantics: every vector packs to
    * int8 once, probes its `pCoarse` nearest coarse cells, and scores
    * each cell's packed fine matrix through [[graft.expressions.CellTopK]]
    * (sub-coarse walk included) for its `pFine` best fine labels.
    * Output: one row per (vector, coarse probe, fine probe) with
    * columns `__a` (id), `cpos`, `cell`, `__p` (the int8 pack),
    * `fpos`, `flabel`.
    *
    * Scoring stays per probe row, inside whole-stage codegen. A batched
    * shape (probe rows grouped per cell, one matrix read per batch) was
    * measured and rejected (SCALE_r10_batch.json): equal shuffle bytes
    * — the join output references the buffered build-side row, so the
    * matrix is never copied per row — and no stable wall-time signal
    * within the tier's host noise. */
  private[graft] def shardedProbeRoutes(df: DataFrame, coarse: DataFrame,
      fine: DataFrame, idCol: String, vecCol: String, pCoarse: Int,
      pFine: Int): DataFrame = {
    val packedCells = packFineCells(fine)
    assignTopK(df, coarse, idCol, vecCol, pCoarse)
      .select(col(idCol).as("__a"),
        graft.expressions.Int8VecPack.int8_pack(col(vecCol)).as("__p"),
        posexplode(col("probe_buckets")).as(Seq("cpos", "cell")))
      .withColumn("cell", col("cell").cast("int"))
      .repartition(col("cell"))
      .join(packedCells, Seq("cell"))
      .select(col("__a"), col("cpos"), col("cell"), col("__p"),
        posexplode(graft.expressions.CellTopK.cell_topk(
          col("__p"), col("members"), col("subc"), pFine))
          .as(Seq("fpos", "flabel")))
  }

  /** Default IVF codebook size for an n-vector corpus: k ≈ √n, clamped
    * to [4, 65536]. √n balances the two costs of centroid blocking —
    * candidate work Σ bucket² ≈ n²/k at uniform fill (minimized by
    * large k) against the k×n routing scores (grows with k) — and it
    * keeps the candidate join's shuffle key at √n distinct values, so
    * bucket joins parallelize instead of hitting the k-distinct-keys
    * ceiling a fixed small codebook imposes (one hot bucket = one
    * straggler task at 100 TB). */
  def codebookSize(n: Long): Int =
    math.max(4L, math.min(65536L,
      math.round(math.sqrt(n.toDouble)))).toInt

  /** Exact k-NN join: top-k corpus neighbors per query vector by
    * cosine, via cross join + per-query window (cosine desc, corpus id
    * on ties). |queries|×|corpus| comparisons — the exact baseline that
    * [[annJoin]] approximates; use it when one side is small enough to
    * broadcast (the cross join then never shuffles the corpus). */
  def knnJoin(queries: DataFrame, corpus: DataFrame, queryId: String,
      corpusId: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    queries.select(col(queryId).as("query_id"), col(vecCol).as("__qvec"))
      .crossJoin(corpus.select(col(corpusId).as("neighbor_id"),
        col(vecCol).as("__cvec")))
      .withColumn("cos", round(cosine(col("__qvec"), col("__cvec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Approximate k-NN join over IVF routing — similarity search for a
    * query *set* at a scale the exact [[knnJoin]] cross join can't
    * reach: corpus vectors live in their single nearest-centroid
    * bucket, each query probes its `probes` nearest buckets, exact
    * cosine runs on bucket candidates only, and a per-query window
    * keeps the top k (cosine desc, corpus id on ties). Cost: |corpus| +
    * |queries|·probes rows shuffled by bucket + one window shuffle by
    * query id — never the |queries|×|corpus| cross join.
    *
    * Recall semantics (approximate BY DESIGN — do not oracle-gate this
    * against exact top-k): a true neighbor is found iff it shares one
    * of the query's probed buckets. Recall rises monotonically with
    * `probes` and reaches exactness at probes = codebook size; rank 1
    * is always exact for self-search (a vector's own bucket is its
    * first probe). On clustered real embeddings small probe counts
    * recover high recall; on a near-uniform corpus (no cluster
    * structure, like the synthetic test embeddings) distant top-k
    * neighbors are spread across arbitrary buckets — the measured
    * worst case, documented in AnnJoinSpec. */
  def annJoin(queries: DataFrame, corpus: DataFrame, queryId: String,
      corpusId: String, vecCol: String, cents: DataFrame, k: Int,
      probes: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cRouted = assignNearest(corpus, cents, corpusId, vecCol)
      .select(col(corpusId).as("__cid"), col(vecCol).as("__cvec"),
        col("assigned").as("__bucket"))
    val qRouted = assignTopK(queries, cents, queryId, vecCol, probes)
      .select(col(queryId).as("__qid"), col(vecCol).as("__qvec"),
        explode(col("probe_buckets")).as("__bucket"))
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("cos").desc, col("__cid").asc)
    // fixed output names: query/corpus id columns are usually the same
    // name (self-search), which would collide in the output
    qRouted.join(cRouted, Seq("__bucket"))
      .withColumn("cos", round(cosine(col("__qvec"), col("__cvec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        col("cos"), col("rank"))
  }

  /** Random-hyperplane (sign) LSH signature for embeddings: bit i =
    * [Σ_j s_ij·v_j > 0] with Rademacher hyperplanes s_ij ∈ {+1,−1}
    * derived from md5("i:j") — engine-portable and reproducible like
    * every hash family here (a DuckDB oracle computes the identical
    * signature). P(bits agree) = 1 − θ/π, so near-duplicate vectors
    * share most bits: grouping by signature (or banded sub-signatures)
    * blocks candidates WITHOUT a codebook — the LSH alternative to the
    * IVF routing path. Pure per-row column math, no shuffle; the dot
    * products are sequential folds (element order fixed) so the sign
    * never depends on partitioning, and the oracle sums in the same
    * order via list_transform. */
  def vectorSimhash(df: DataFrame, idCol: String, vecCol: String,
      bits: Int = 16, dim: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 63, "bits must be in [1, 63]")
    val sig = (0 until bits).map { i =>
      val terms = (0 until dim).map { j =>
        // try_element_at + coalesce(…, 0): vectors shorter than dim (or
        // null elements) contribute nothing, exactly like the oracle's
        // list_sum skipping NULLs — plain element_at would null-poison
        // the sum (or throw under ANSI), silently zeroing the signature
        coalesce(
          try_element_at(col(vecCol), lit(j + 1)).cast("double"),
          lit(0.0)) * lit(hyperplaneSign(i, j).toDouble)
      }
      when(terms.reduce(_ + _) > 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(col(idCol), sig.as("vsimhash"))
  }

  /** Rademacher hyperplane component: +1 when the first hex digit of
    * md5("i:j") is 8..f (high bit set), −1 otherwise. Mirrored verbatim
    * by the DuckDB oracle. */
  def hyperplaneSign(i: Int, j: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$i:$j".getBytes("UTF-8"))
    if ((h(0) & 0x80) != 0) 1 else -1
  }

  /** Multi-probe IVF routing: the `probes` nearest centroid labels per
    * vector (cosine desc, label asc on ties), as an array column
    * `probe_buckets`. Near-boundary vectors land in every bucket that
    * could hold a close neighbor, which is what gives centroid-blocked
    * candidate generation its recall. Shuffle-free like assignNearest:
    * one compiled top-k selection over the broadcast codebook — no
    * per-vector window. */
  def assignTopK(df: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String, probes: Int): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    val (bc, lt, ln) = broadcastCodebook(cents)
    df.withColumn("probe_buckets",
      graft.expressions.CodebookTopK.codebook_topk(col(vecCol), bc,
        probes, lt, ln))
  }
}
