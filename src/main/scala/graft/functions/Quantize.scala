package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.Scoped
import graft.expressions.{CodebookData, CodebookTopK}

/** Vector compression for embedding corpora — the scan-byte half of the
  * 100 TB ANN story (the partition-pruning half is graft.sources.IvfStore).
  * A float32 dim-64 embedding is 256 bytes; at 100 TB of vectors the scan
  * itself is the bottleneck no matter how well partitions prune. Two
  * compression levels:
  *
  *  - **int8 scalar quantization** (4× smaller): per-vector symmetric
  *    scale, `code_i = round(v_i / s)` with `s = max|v| / 127`. Fully
  *    SQL-expressible arithmetic, so the path is hash-match oracle-gated
  *    (`q_quantize_int8`). Quantized cosine needs no dequantization — the
  *    per-vector scale cancels.
  *
  *  - **product quantization** (32× smaller at m=8: one byte per 8 floats):
  *    the vector splits into `m` sub-vectors, each encoded as the label of
  *    its nearest sub-centroid out of `ksub ≤ 256` (deterministic L2
  *    Lloyd's per sub-space — md5-order init, the same reproducibility
  *    contract as Similarity.trainCodebook). The m byte codes pack into
  *    ONE int64 column (`m ≤ 8`), which parquet stores dictionary- and
  *    delta-friendly. Search is ADC (asymmetric distance computation):
  *    the query precomputes an m×ksub lookup table of sub-dot-products
  *    driver-side, and scoring a corpus vector is m table lookups on its
  *    unpacked byte codes — pure built-in expressions, whole-stage
  *    codegen'd, zero shuffle, top-k via TakeOrderedAndProject. A rerank
  *    stage re-scores the ADC shortlist with exact vectors (broadcast
  *    semi-join on id) — the standard two-stage retrieval design.
  *
  * Everything here is deterministic: no RNG, md5-seeded initialization,
  * 6-dp-rounded assignment scores (near-ties become position-order ties),
  * element-order accumulation in the driver LUT math.
  */
object Quantize {

  // ===== int8 scalar quantization ====================================

  /** Per-vector symmetric int8 scale: `max|v| / 127`, or 1.0 for the
    * all-zero vector (whose codes are all zero under any scale). */
  def int8Scale(vec: Column): Column = {
    val maxabs = array_max(transform(vec, x => abs(x.cast("double"))))
    when(maxabs === 0.0, lit(1.0)).otherwise(maxabs / lit(127.0))
  }

  /** Add `qscale` (double) and `qcodes` (array<int> in [−127, 127]) for
    * the vector column. `|v_i| ≤ max|v| = 127·s` bounds every rounded
    * code to ±127 with no clamp. `qscale` stays in the output on purpose:
    * referenced twice (output column + inside the codes lambda) the
    * projection split survives CollapseProject — inlined once it would
    * recompute the array_max per element (the q_fingerprint lesson). */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("qscale", int8Scale(col(vecCol)))
      .withColumn("qcodes", transform(col(vecCol),
        x => round(x.cast("double") / col("qscale"), 0).cast("int")))

  /** Reconstruct approximate float values from int8 codes + scale. */
  def dequantizeInt8(codes: Column, scale: Column): Column =
    transform(codes, c => (c.cast("double") * scale).cast("float"))

  // ===== product quantization ========================================

  /** Train a PQ codebook: `m` sub-spaces of `dim/m` dims, `ksub`
    * centroids each, by L2 Lloyd's — ALL sub-spaces in the same pass
    * over a PERSISTED sliced sub-vector frame, so the source is scanned
    * ONCE (plus the limit(1) dim probe); the seed scan and every
    * iteration read the cached slices (r13 — PqSpec pins the 1..2-scan
    * contract) regardless of m. Assignment runs as m compiled broadcast-codebook
    * scorers in ONE projection; the bucket means come back as one keyed
    * aggregation of m·ksub·dsub cells (metadata scale — collected per
    * iteration so lineage stays flat, the trainCodebook design). Empty
    * buckets keep their previous centroid. Returns a DataFrame
    * `(sub: int, centroid_label: int, cvec: array<double>)` with labels
    * 1..ksub — persist it next to the encoded corpus.
    *
    * Determinism: init picks the `ksub` md5-smallest vector ids (all m
    * sub-spaces sample the SAME rows — the standard PQ practice), and
    * assignment scores round to 6 dp with position-order tie-break. */
  def trainPq(df: DataFrame, idCol: String, vecCol: String, m: Int,
      ksub: Int, iters: Int = 5): DataFrame = {
    require(m >= 1 && ksub >= 1 && iters >= 0)
    val spark = df.sparkSession
    import spark.implicits._
    val dim = df.select(size(col(vecCol)).as("d")).limit(1).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m

    def subCol(s: Int): Column =
      transform(slice(col(vecCol), s * dsub + 1, dsub), _.cast("double"))
    // the sliced frame feeds the seed scan plus one assignment pass per
    // Lloyd iteration — persist it once instead of re-reading (and
    // re-slicing) the source per pass (released before returning)
    val base = df.select(
      col(idCol) +: (0 until m).map(s => subCol(s).as(s"__sub$s")): _*)
    val books = Scoped(base) {
      // init: the ksub md5-smallest rows seed every sub-space (a corpus
      // smaller than ksub just trains a smaller effective codebook)
      val seedRows = base
        .orderBy(md5(col(idCol).cast("string")), col(idCol)).limit(ksub)
        .collect()
      var books: Array[Array[Array[Double]]] =
        Array.tabulate(m) { s =>
          seedRows.map(_.getSeq[Double](s + 1).toArray)
        }

      for (_ <- 1 to iters) {
        val bcs = books.map(bcBook(spark, _))
        val assigned = base.select(
          (0 until m).flatMap(s => Seq(
            col(s"__sub$s"),
            element_at(CodebookTopK.codebook_topk(col(s"__sub$s"), bcs(s),
              1, IntegerType, false, CodebookTopK.L2), 1).as(s"__a$s"))): _*)
        val cells = assigned.select(explode(array((0 until m).map(s =>
            struct(lit(s).as("sub"), col(s"__a$s").as("lab"),
              col(s"__sub$s").as("v"))): _*)).as("e"))
          .select(col("e.sub").as("sub"), col("e.lab").as("lab"),
            posexplode(col("e.v")).as(Seq("pos", "x")))
          .groupBy("sub", "lab", "pos").agg(avg(col("x")).as("mx"))
          .collect()
        val next = cells.groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case ((s, lab), rows) =>
            (s, lab) -> {
              val v = new Array[Double](dsub)
              rows.foreach(r => v(r.getInt(2)) = r.getDouble(3))
              v
            }
          }
        books = Array.tabulate(m) { s =>
          books(s).zipWithIndex.map { case (old, i) =>
            next.getOrElse((s, i + 1), old)
          }
        }
        bcs.foreach(_.destroy())
      }
      books
    }

    books.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (v, i) => (s, i + 1, v.toSeq) }
    }.toSeq.toDF("sub", "centroid_label", "cvec")
  }

  /** Encode every vector as one packed int64: byte `s` holds the
    * (0-based) nearest-L2 sub-centroid label of sub-vector `s`. m
    * compiled scorers in one projection — no shuffle, no join. */
  def pqEncode(df: DataFrame, vecCol: String, codebooks: DataFrame,
      codeName: String = "pq_code"): DataFrame = {
    val spark = df.sparkSession
    val (m, dsub, _, books) = collectBooks(codebooks)
    require(m <= 8, s"m=$m codes don't pack into one int64 (need m <= 8)")
    val bcs = books.map(bcBook(spark, _))
    def subCol(s: Int): Column =
      transform(slice(col(vecCol), s * dsub + 1, dsub), _.cast("double"))
    val packed = (0 until m).map { s =>
      (element_at(CodebookTopK.codebook_topk(subCol(s), bcs(s), 1,
        IntegerType, false, CodebookTopK.L2), 1) - 1).cast("long") *
        lit(1L << (8 * s))
    }.reduce(_ + _)
    df.withColumn(codeName, packed)
  }

  /** Unpack byte `s` of a packed PQ code (0-based label). */
  def pqByte(code: Column, s: Int): Column =
    shiftright(code, 8 * s).bitwiseAND(lit(255L)).cast("int")

  /** Approximate cosine of every coded vector against one query, by ADC:
    * `cos ≈ Σ_s dotLut[s][code_s] / (‖q‖ · sqrt(Σ_s n2Lut[s][code_s]))`
    * where `dotLut[s][c] = q_s · cent_{s,c}` and `n2Lut[s][c] =
    * ‖cent_{s,c}‖²` are driver-computed. The denominator uses the
    * RECONSTRUCTED corpus-side norm, so the score is exactly
    * `cos(q, reconstruct(code))`. The tables ship as ONE broadcast
    * scored by a compiled expression (graft.expressions.AdcCosine) —
    * literal arrays would put 2m copies of an m·ksub table into every
    * task binary, the same bloat the broadcast codebook fixed for IVF
    * routing. Zero-norm reconstructions score −2.0 like every cosine
    * in the package. */
  def adcCosine(code: Column, codebooks: DataFrame,
      queryVec: Seq[Float]): Column = {
    val (m, dsub, ksub, books) = collectBooks(codebooks)
    require(queryVec.length == m * dsub,
      s"query dim ${queryVec.length} != m*dsub = ${m * dsub}")
    val dotLut = new Array[Double](m * ksub)
    val n2Lut = new Array[Double](m * ksub)
    var qn2 = 0.0
    var i = 0
    while (i < queryVec.length) {
      val x = queryVec(i).toDouble; qn2 += x * x; i += 1
    }
    for (s <- 0 until m; c <- books(s).indices) {
      val cent = books(s)(c)
      var dot = 0.0; var n2 = 0.0
      var j = 0
      while (j < dsub) {
        val x = queryVec(s * dsub + j).toDouble
        dot += x * cent(j); n2 += cent(j) * cent(j)
        j += 1
      }
      dotLut(s * ksub + c) = dot
      n2Lut(s * ksub + c) = n2
    }
    val bc = codebooks.sparkSession.sparkContext.broadcast(
      graft.expressions.AdcLut(dotLut, n2Lut, m, ksub, math.sqrt(qn2)))
    graft.expressions.AdcCosine.adc_cosine(code, bc)
  }

  /** ADC top-k: scan the CODES (8 bytes/vector, not 4·dim), score with
    * [[adcCosine]], keep k — scan → project → TakeOrderedAndProject,
    * zero shuffle. Deterministic: 4-dp-rounded score, id tie-break. */
  def adcTopK(codes: DataFrame, idCol: String, codeCol: String,
      codebooks: DataFrame, queryVec: Seq[Float], k: Int): DataFrame = {
    require(k >= 1)
    codes.select(col(idCol),
        round(adcCosine(col(codeCol), codebooks, queryVec), 4)
          .as("adc_cos"))
      .orderBy(col("adc_cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Two-stage retrieval: ADC shortlist of `shortlist` candidates over
    * the compressed codes, then exact-cosine rerank of the shortlist
    * against the full-precision vectors (broadcast join on id — the
    * shortlist is k-scale, the corpus is never re-shuffled), final top-k
    * by exact cosine. At 100 TB the first stage reads ~3% of the bytes
    * the exact scan would; the second touches `shortlist` rows. */
  def pqSearchRerank(corpus: DataFrame, idCol: String, vecCol: String,
      codes: DataFrame, codeCol: String, codebooks: DataFrame,
      queryVec: Seq[Float], k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val short = adcTopK(codes, idCol, codeCol, codebooks, queryVec,
      shortlist).select(col(idCol))
    corpus.join(broadcast(short), Seq(idCol))
      .select(col(idCol),
        round(Similarity.cosine(col(vecCol), typedlit(queryVec)), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** Symmetric PQ cosine of two packed-code columns —
    * `cos(reconstruct(a), reconstruct(b))` — from query-independent
    * broadcast centroid-pair tables (m·ksub² doubles, built once here
    * on the driver). Unlike [[adcCosine]] no side needs full-precision
    * vectors: joins and dedup sweeps run entirely on 8-byte codes. */
  def sdcCosine(codeA: Column, codeB: Column,
      codebooks: DataFrame): Column = {
    val (m, dsub, ksub, books) = collectBooks(codebooks)
    val dot = new Array[Double](m * ksub * ksub)
    val n2 = new Array[Double](m * ksub)
    for (s <- 0 until m; c1 <- books(s).indices) {
      val a = books(s)(c1)
      var nn = 0.0
      var j = 0
      while (j < dsub) { nn += a(j) * a(j); j += 1 }
      n2(s * ksub + c1) = nn
      for (c2 <- books(s).indices) {
        val b = books(s)(c2)
        var d = 0.0
        var i = 0
        while (i < dsub) { d += a(i) * b(i); i += 1 }
        dot(s * ksub * ksub + c1 * ksub + c2) = d
      }
    }
    val bc = codebooks.sparkSession.sparkContext.broadcast(
      graft.expressions.SdcLut(dot, n2, m, ksub))
    graft.expressions.SdcCosine.sdc_cosine(codeA, codeB, bc)
  }

  /** Approximate k-NN join over CODES alone (SDC): the compressed face
    * of Similarity.knnJoin — cross join of two 8-byte-code relations,
    * symmetric PQ cosine per pair, per-query window top-k (score desc,
    * corpus id on ties). The cross join shuffles m bytes per vector
    * instead of 4·dim — at dim 64 that is 32× less join bandwidth —
    * and the broadcast pair-tables replace every per-pair float loop.
    * Approximate BY DESIGN (both sides reconstructed); EXACT in the
    * lossless limit (ksub ≥ distinct sub-vectors — pinned in PqSpec).
    * Chain with an exact rerank over the returned (query, neighbor)
    * pairs when full precision matters. */
  def pqKnnJoin(queryCodes: DataFrame, corpusCodes: DataFrame,
      queryId: String, corpusId: String, codeCol: String,
      codebooks: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sdc_cos").desc, col("neighbor_id").asc)
    queryCodes.select(col(queryId).as("query_id"),
        col(codeCol).as("__qcode"))
      .crossJoin(corpusCodes.select(col(corpusId).as("neighbor_id"),
        col(codeCol).as("__ccode")))
      .withColumn("sdc_cos",
        round(sdcCosine(col("__qcode"), col("__ccode"), codebooks), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "sdc_cos", "rank")
  }

  // ===== internals ===================================================

  /** Codebook DataFrame → driver arrays: (m, dsub, ksub, books[s][c]). */
  private def collectBooks(codebooks: DataFrame)
      : (Int, Int, Int, Array[Array[Array[Double]]]) = {
    val rows = codebooks.collect().map { r =>
      (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray)
    }
    require(rows.nonEmpty, "empty PQ codebook")
    val m = rows.map(_._1).max + 1
    val ksub = rows.map(_._2).max
    val dsub = rows.head._3.length
    val books = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { case (s, lab, v) => books(s)(lab - 1) = v }
    require(books.forall(_.forall(_ != null)), "PQ codebook has holes")
    (m, dsub, ksub, books)
  }

  /** Broadcast one sub-space codebook for the compiled L2 scorer. Norms
    * ride along for CodebookData's contract but the L2 path never reads
    * them. */
  private def bcBook(spark: org.apache.spark.sql.SparkSession,
      book: Array[Array[Double]]): Broadcast[CodebookData] = {
    val norms = book.map { v =>
      var n2 = 0.0; var i = 0
      while (i < v.length) { n2 += v(i) * v(i); i += 1 }
      math.sqrt(n2)
    }
    val labels: Array[Any] =
      Array.tabulate(book.length)(i => Int.box(i + 1))
    spark.sparkContext.broadcast(CodebookData(book, norms, labels))
  }
}
