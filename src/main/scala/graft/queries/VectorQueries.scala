package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Par, Scoped}
import graft.functions.{Quantize, Similarity, TextAnalysis}

/** Vector-compression queries (int8 scalar quantization, product
  * quantization, IVFADC) — the scan-byte half of the 100 TB ANN design.
  * Gating strategy mirrors the dedup/ANN precedent:
  *
  *  - int8 quantization is pure SQL-expressible arithmetic → full
  *    hash-match oracle (`q_quantize_int8`);
  *  - PQ/ADC is approximate by design (k-means training is not SQL) →
  *    recall-gated flags with calibrated floors (`q_pq_search`), the
  *    exact-at-the-limit plumbing proven by `q_ivfpq_search` (exhaustive
  *    probes + full shortlist must hash-match the exact top-k SQL, the
  *    q_ivf_search trick through the PQ store).
  */
object VectorQueries extends QueryPack {

  private val dim = 64 // embeddings dimension (TESTDATA)

  /** The SDC recall measurement `q_pq_sdc_recall` and `q_sdc_clustered`
    * share: PQ m=8 × ksub=32 (iters 3) over `emb`, then the SDC k=5
    * code-to-code join of the first 30 ids against the exact knnJoin,
    * run concurrently (guide §2.6). The codes feed both cross-join
    * sides, so they persist for the call: the m compiled encode scorers
    * run one corpus pass, not one per branch. Returns (recall@5, number
    * of queries whose own code is among its SDC top 5). */
  private def sdcRecall(emb: DataFrame): (Double, Int) = {
    val cb = Quantize.trainPq(emb, "vec_id", "embedding", m = 8,
      ksub = 32, iters = 3)
    val codes = Quantize.pqEncode(emb, "embedding", cb)
      .select("vec_id", "pq_code")
    def pairs(knn: DataFrame) = knn.select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (got, exact) = Scoped(codes)(Par.both(
      pairs(Quantize.pqKnnJoin(codes.filter(col("vec_id") < 30), codes,
        "vec_id", "vec_id", "pq_code", cb, k = 5)),
      pairs(Similarity.knnJoin(emb.filter(col("vec_id") < 30), emb,
        "vec_id", "vec_id", "embedding", k = 5))))
    ((exact intersect got).size.toDouble / exact.size,
      got.count { case (a, b) => a == b })
  }

  /** DuckDB mirror of one UNROUNDED randomProject component: the same
    * literal sign row multiplied in element order, scaled by the exact
    * binary 1/√16 = 0.25. ONE copy shared by q_rand_project and
    * q_project_knn — a matrix or scale tweak applied to a single
    * mirror would silently split the two oracles. */
  private lazy val rpSigns = Similarity.signMatrix(16, dim)
  private def projSql(j: Int): String = {
    val lst = rpSigns(j).map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")
    s"""list_sum(list_transform(range(1, ${dim + 1}),
            i -> CAST(embedding[i] AS DOUBLE) * ($lst)[i])) * 0.25"""
  }

  def queries: Seq[QueryDef] = Seq(

    // ---- int8 scalar quantization -----------------------------------
    // per-vector symmetric scale s = max|v|/127 (1.0 for the zero
    // vector), codes round(v/s) ∈ [−127,127] with no clamp needed.
    // Quantized cosine runs on the CODES (the scale cancels); chk pins
    // the exact code values, qscale pins the scale. Both engines do the
    // identical double arithmetic and half-away-from-zero rounding.
    QueryDef("q_quantize_int8", (s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val q = Quantize.quantizeInt8(emb, "embedding")
      val qv = q.filter(col("vec_id") === 2L)
        .select("qcodes").head().getSeq[Int](0)
      q.select(col("vec_id"),
          round(Similarity.cosineHof(col("qcodes"), typedlit(qv)), 4)
            .as("qcos"),
          aggregate(col("qcodes"), lit(0L), (a, x) => a + x).as("chk"),
          round(col("qscale"), 6).as("qscale"))
        .orderBy(col("qcos").desc, col("vec_id").asc)
        .limit(10)
    }, Some(
      s"""WITH sc AS (SELECT vec_id,
            CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
                 THEN 1.0
                 ELSE list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
            END AS s
            FROM embeddings),
          c AS (SELECT e.vec_id,
            list_transform(e.embedding,
              x -> CAST(round(CAST(x AS DOUBLE) / sc.s, 0) AS INT)) AS qc,
            sc.s
            FROM embeddings e JOIN sc ON e.vec_id = sc.vec_id),
          q AS (SELECT qc AS qv FROM c WHERE vec_id = 2)
          SELECT c.vec_id,
            round(${OracleSql.cosD("qc", "qv", dim)}, 4) AS qcos,
            CAST(list_sum(qc) AS BIGINT) AS chk,
            round(s, 6) AS qscale
          FROM c, q
          ORDER BY qcos DESC, vec_id ASC LIMIT 10""")),

    // ---- JL random-sign projection ----------------------------------
    // 64→16 dims through the deterministic ±1 matrix: both engines
    // multiply the SAME literal sign rows in element order and share
    // the floor(x·10⁶+0.5) grid, so the projection hash-matches bit
    // for bit. Scale 1/√16 = 0.25 is exact binary — no sqrt in either
    // engine's hot path.
    QueryDef("q_rand_project", (s, dir) => {
      val p = Similarity.randomProject(
        Tables.load(s, dir, "embeddings"), "embedding", dim, 16)
      val cols = (0 until 16).map(j =>
        TextAnalysis.halfUpFloor(element_at(col("proj"), j + 1), 6)
          .as(s"p$j"))
      p.select(col("vec_id") +: cols: _*).orderBy("vec_id")
    }, Some(
      s"""SELECT vec_id,
            ${(0 until 16).map(j =>
        s"""floor((${projSql(j)}) * 1000000.0 + 0.5) / 1000000.0 AS p$j""")
        .mkString(",\n            ")}
          FROM embeddings ORDER BY vec_id""")),

    // ---- projected top-k retrieval quality --------------------------
    // The projection's END-TO-END effect, hash-gated: for three query
    // vectors, |top-10 by exact cosine ∩ top-10 by 16-dim projected
    // cosine| — both rankings deterministic (4-dp grid, id tie-break),
    // both engines computing bit-identical doubles through identical
    // op sequences, so even the overlap COUNT is exact. Measured
    // overlap is 1–4/10 here BY THE DATA'S NATURE: the synthetic
    // embeddings are near-uniform, so top-10 cosine margins are ~1e-3
    // — the worst case for any 4× dim cut (AnnJoinSpec's correlation
    // test shows the global ORDERING survives; clustered real
    // embeddings keep far more of their top-k). The windows rank 3
    // tiny partitions; production retrieval composes randomProject
    // with annJoin/IvfStore instead.
    QueryDef("q_project_knn", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pr = Similarity.randomProject(
        Tables.load(s, dir, "embeddings"), "embedding", dim, 16)
      val q = pr.filter(col("vec_id").isin(1L, 5L, 9L))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("proj").as("qp"))
      val sc = pr.crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id").as("cid"),
          TextAnalysis.halfUpFloor(
            Similarity.cosine(col("embedding"), col("qe")), 4).as("co"),
          TextAnalysis.halfUpFloor(
            Similarity.cosineHof(col("proj"), col("qp")), 4).as("cp"))
      sc.withColumn("ro", row_number().over(
          Window.partitionBy("qid").orderBy(col("co").desc, col("cid"))))
        .withColumn("rp", row_number().over(
          Window.partitionBy("qid").orderBy(col("cp").desc, col("cid"))))
        .filter(col("ro") <= 10 && col("rp") <= 10)
        .groupBy(col("qid").as("query_id"))
        .agg(count(lit(1)).cast("int").as("n_overlap"),
          (count(lit(1)).cast("double") / lit(10.0)).as("recall"))
        .orderBy("query_id")
    }, Some {
      val p16 = (0 until 16).map(projSql).mkString("[", ",\n            ", "]")
      s"""WITH pr AS (SELECT vec_id, embedding, $p16 AS p FROM embeddings),
          q AS (SELECT vec_id AS qid, embedding AS qe, p AS qp
                FROM pr WHERE vec_id IN (1, 5, 9)),
          sc AS (SELECT q.qid, pr.vec_id AS cid,
            floor((${OracleSql.cosD("pr.embedding", "q.qe", dim)})
              * 10000.0 + 0.5) / 10000.0 AS co,
            floor((${OracleSql.cosD("pr.p", "q.qp", 16)})
              * 10000.0 + 0.5) / 10000.0 AS cp
          FROM pr, q),
          r AS (SELECT qid, cid,
            row_number() OVER (PARTITION BY qid ORDER BY co DESC, cid) AS ro,
            row_number() OVER (PARTITION BY qid ORDER BY cp DESC, cid) AS rp
          FROM sc)
          SELECT qid AS query_id, CAST(count(*) AS INT) AS n_overlap,
            CAST(count(*) AS DOUBLE) / 10.0 AS recall
          FROM r WHERE ro <= 10 AND rp <= 10
          GROUP BY qid ORDER BY query_id"""
    }),

    // ---- PQ + ADC + rerank, recall-gated ----------------------------
    // m=8 sub-spaces × ksub=32 L2 centroids, iters=3 — EXACTLY the
    // calibrated configuration (2026-08, NOTES_r5.md): recall@10 of the
    // shortlist-100 rerank vs exact top-10 measured 0.7–1.0 across
    // sf0.001/0.01/0.1 and query ids {0,3,7,11}; floor 0.5 leaves margin
    // for float jitter in training. self_in_topk is near-structural:
    // the query's own code scored ADC rank 1 in EVERY calibration run
    // (its reconstruction is the closest one to it), and membership in
    // the exact-reranked top-10 only needs it inside the 100-shortlist.
    // Training cost rides in the query; production amortizes it via
    // IvfStore.writePqTrained.
    QueryDef("q_pq_search", (s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      // independent driver actions run concurrently (guide §2.6): the
      // corpus count and the exact top-k overlap the PQ training loop;
      // every value is a deterministic function of its own plan
      val (got, (n, exact)) = Par.both({
        val cb = Quantize.trainPq(emb, "vec_id", "embedding", m = 8,
          ksub = 32, iters = 3)
        val codes = Quantize.pqEncode(emb, "embedding", cb)
        val qv = emb.filter(col("vec_id") === 3L)
          .select("embedding").head().getSeq[Float](0)
        Quantize.pqSearchRerank(emb, "vec_id", "embedding",
            codes, "pq_code", cb, qv, k = 10, shortlist = 100)
          .collect().map(_.getLong(0)).toSet
      }, Par.both(emb.count(),
        Similarity.topKCosine(emb, "vec_id", "embedding", 3L, 10)
          .collect().map(_.getLong(0)).toSet))
      val recall = (exact intersect got).size.toDouble / exact.size
      Seq((n, 10, 100,
          if (recall >= 0.5) 1 else 0,
          if (got.contains(3L)) 1 else 0))
        .toDF("n_vectors", "k_neighbors", "shortlist", "recall_ok",
          "self_in_topk")
    }, Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(10 AS INT) AS k_neighbors, CAST(100 AS INT) AS shortlist,
         CAST(1 AS INT) AS recall_ok, CAST(1 AS INT) AS self_in_topk
         FROM embeddings""")),

    // ---- SDC code-to-code k-NN join, recall-gated -------------------
    // both sides quantized (the join shuffles 8-byte codes, never
    // vectors — 32× less bandwidth than the exact knnJoin at dim 64).
    // Raw SDC on the near-uniform corpus is the documented worst case
    // for double quantization: measured recall@5 = 0.340/0.320/0.247 at
    // sf0.001/0.01/0.1 (m=8 ksub=32 iters=3, NOTES_r5.md) — floor
    // 0.15 with margin. It is the CANDIDATE stage; production chains an
    // exact rerank like pqSearchRerank. self_in_top5 is structural-ish:
    // a code's SDC score with itself is exactly 1.0 (the cosine
    // maximum), measured 30/30 at every SF.
    QueryDef("q_pq_sdc_recall", (s, dir) => {
      import s.implicits._
      val (recall, selfIn) = sdcRecall(Tables.load(s, dir, "embeddings"))
      Seq((30, 5,
          if (recall >= 0.15) 1 else 0,
          if (selfIn == 30) 1 else 0))
        .toDF("n_queries", "k_neighbors", "recall_ok", "self_in_top5_ok")
    }, Some(
      """SELECT CAST(30 AS INT) AS n_queries, CAST(5 AS INT) AS k_neighbors,
         CAST(1 AS INT) AS recall_ok, CAST(1 AS INT) AS self_in_top5_ok""")),

    // ---- IVFADC store, end-to-end at the exact limit ----------------
    // write (coarse k≈√n routing + PQ codes + both codebooks) + search
    // with probes = codebook size and shortlist = corpus size: every
    // partition is probed and the rerank re-scores everything, so the
    // PQ store must hash-match the exact top-k SQL — proving the whole
    // write→prune→ADC→rerank pipeline loses nothing. At real probe
    // counts the same plan prunes partitions (plan-asserted in PqSpec /
    // AnnJoinSpec) and the ADC pass reads ~12 bytes/row.
    QueryDef("q_ivfpq_search", (s, dir) => {
      import graft.sources.IvfStore
      val emb = Tables.load(s, dir, "embeddings")
      // per-corpus-per-JVM path (overwrite-reused within the process,
      // disjoint across concurrent JVMs, shutdown-hook deleted)
      val path = TempIndexDirs.jvmScoped("graft_q_ivfpq", dir)
      val (cents, _) = IvfStore.writePqTrained(emb, "vec_id", "embedding",
        path, m = 8, ksub = 32, iters = 2)
      val qv = emb.filter(col("vec_id") === 4L)
        .select("embedding").head().getSeq[Float](0)
      IvfStore.searchPq(s, path, qv, "vec_id", "embedding",
        k = 8, probes = cents.count().toInt,
        shortlist = emb.count().toInt)
    }, Some(
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 4)
          SELECT vec_id, round(${OracleSql.cosD("embedding", "qv", dim)}, 4) AS cos
          FROM embeddings, q
          ORDER BY cos DESC, vec_id ASC LIMIT 8""")),

    // ---- TIGHT recall floors on the clustered fixture ---------------
    // The near-uniform synthetic corpus is the documented WORST CASE
    // for every compression/blocking scheme (similarities concentrate
    // at zero), so q_pq_search / q_pq_sdc_recall floors had to be loose
    // — a regression from 0.34 to 0.16 recall would pass them. These
    // three run the SAME operators on Similarity.clusterPull's
    // deterministic mixture-of-Gaussians-shaped corpus, where real
    // recall is high and the floors bite. Geometry measured 2026-08 at
    // all 3 SFs (these comments hold the numbers):
    //  - PQ rerank: ~24-member clusters (n/24, w=0.9) keep the exact
    //    top-10 inside one cluster AND small enough for the ADC
    //    shortlist to rank — min recall measured 1.00 everywhere
    //    (8 mega-clusters of 250 drop qid-7 recall to 0.10: fine
    //    ranking inside a near-identical blob is the other worst case);
    //  - SDC + projection: ~6-member micro-clusters (n/6, w=0.9), so
    //    exact top-5 = the co-member set, separable from the random
    //    tail — SDC mean recall@5 0.84, projection overlap@5 0.98.
    QueryDef("q_pq_search_clustered", (s, dir) => {
      import s.implicits._
      val base = Tables.load(s, dir, "embeddings")
      val n = base.count()
      val nc = math.max(8L, n / 24).toInt
      val emb = Similarity.clusterPull(base, "vec_id", "embedding",
        nc, 0.9)
      val minRecall = Scoped(emb) {
        val cb = Quantize.trainPq(emb, "vec_id", "embedding", m = 8,
          ksub = 32, iters = 3)
        val codes = Quantize.pqEncode(emb, "embedding", cb)
          .select("vec_id", "pq_code")
        // the four query ids are independent search+recall
        // measurements — run them concurrently (guide §2.6); per-qid
        // results and the min are unchanged
        Scoped(codes)(Par.map(Seq(0L, 3L, 7L, 11L)) { qid =>
          val qv = emb.filter(col("vec_id") === qid)
            .select("embedding").head().getSeq[Float](0)
          val exact = Similarity.topKCosine(emb, "vec_id", "embedding",
            qid, 10).collect().map(_.getLong(0)).toSet
          val got = Quantize.pqSearchRerank(emb, "vec_id", "embedding",
              codes, "pq_code", cb, qv, k = 10, shortlist = 100)
            .collect().map(_.getLong(0)).toSet
          (exact intersect got).size.toDouble / exact.size
        }).min
      }
      Seq((n, nc, if (minRecall >= 0.9) 1 else 0))
        .toDF("n_vectors", "n_clusters", "recall_ok")
    }, Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(greatest(8, count(*) // 24) AS INT) AS n_clusters,
         CAST(1 AS INT) AS recall_ok FROM embeddings""")),

    QueryDef("q_sdc_clustered", (s, dir) => {
      import s.implicits._
      val base = Tables.load(s, dir, "embeddings")
      val n = base.count()
      val nc = math.max(1L, n / 6).toInt
      val emb = Similarity.clusterPull(base, "vec_id", "embedding",
        nc, 0.9)
      val (recall, selfIn) = Scoped(emb)(sdcRecall(emb))
      Seq((n, nc, if (recall >= 0.7) 1 else 0,
          if (selfIn == 30) 1 else 0))
        .toDF("n_vectors", "n_clusters", "recall_ok", "self_in_top5_ok")
    }, Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(greatest(1, count(*) // 6) AS INT) AS n_clusters,
         CAST(1 AS INT) AS recall_ok, CAST(1 AS INT) AS self_in_top5_ok
         FROM embeddings""")),

    QueryDef("q_project_knn_clustered", (s, dir) => {
      import s.implicits._
      val base = Tables.load(s, dir, "embeddings")
      val n = base.count()
      val nc = math.max(1L, n / 6).toInt
      val emb = Similarity.clusterPull(base, "vec_id", "embedding",
        nc, 0.9)
      // overlap@5, self excluded (NOTES_r5.md, random projection: the
      // query ranks 1 in both spaces tautologically)
      def topNoSelf(qs: DataFrame, corpus: DataFrame, vc: String) =
        Similarity.knnJoin(qs, corpus, "vec_id", "vec_id", vc, k = 6)
          .filter(col("query_id") =!= col("neighbor_id"))
          .select("query_id", "neighbor_id", "rank")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          .groupBy(_._1).iterator.flatMap { case (_, rows) =>
            rows.sortBy(_._3).take(5).map(t => (t._1, t._2))
          }.toSet
      val pr = Similarity.randomProject(emb, "embedding", dim, 16)
        .select(col("vec_id"), col("proj"))
      // independent actions run concurrently (guide §2.6)
      val (exact, got) = Scoped(emb)(Scoped(pr)(Par.both(
        topNoSelf(emb.filter(col("vec_id") < 20), emb, "embedding"),
        topNoSelf(pr.filter(col("vec_id") < 20), pr, "proj"))))
      val overlap = (exact intersect got).size.toDouble / exact.size
      Seq((n, nc, if (overlap >= 0.9) 1 else 0))
        .toDF("n_vectors", "n_clusters", "overlap_ok")
    }, Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(greatest(1, count(*) // 6) AS INT) AS n_clusters,
         CAST(1 AS INT) AS overlap_ok FROM embeddings"""))
  )
}
