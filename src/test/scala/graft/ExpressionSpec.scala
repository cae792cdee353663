package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.CosineSimilarity
import graft.functions.Similarity
import graft.queries.Tables

class ExpressionSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder(cores = 4).getOrCreate()

  test("native cosine expression == HOF composition, bit for bit") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val both = emb.crossJoin(broadcast(q)).select(
      CosineSimilarity.cosine_native(col("embedding"), col("qv")).as("native"),
      Similarity.cosineHof(col("embedding"), col("qv")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.filter(col("native").isNull).count() == 0)
  }

  test("minhash: HOF row form == minhashSignature == compiled expression") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    // per-row signature must match the batch explode+groupBy family
    val sigBatch = graft.functions.Dedup
      .minhashSignature(docs, "text", "doc_id")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getString).toSeq).toMap
    val sigRow = (0 until 8).foldLeft(docs) { (d, i) =>
      d.withColumn(s"mh$i", graft.functions.Dedup
        .minhashComponentRow(col("text"), i))
    }.filter(col("mh0").isNotNull).orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        (0 until 8).map(i => r.getString(r.fieldIndex(s"mh$i"))).toSeq).toMap
    assert(sigRow == sigBatch)
    // the compiled one-pass expression is bit-identical to the same
    // family
    val sigExpr = docs.withColumn("mhs", graft.expressions
        .MinhashComponents.minhash_components(col("text"), 8, 3))
      .filter(element_at(col("mhs"), 1).isNotNull)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](r.fieldIndex("mhs")).toSeq)
      .toMap
    assert(sigExpr == sigBatch)
  }

  test("cosine_similarity is registered for SQL via GraftExtensions") {
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark) // suite order may reuse a session
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    emb.createOrReplaceTempView("emb_sql")
    val r = spark.sql(
      """SELECT cosine_similarity(a.embedding, b.embedding) AS cos
         FROM emb_sql a JOIN emb_sql b ON b.vec_id = 0 AND a.vec_id = 0""")
      .collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
  }

  test("int8_pack is registered for SQL and equals the Column API pack") {
    GraftExtensions.register(spark)
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    emb.createOrReplaceTempView("emb_sql_pack")
    def packKey(r: org.apache.spark.sql.Row)
        : (Long, (Seq[Byte], Double, Double)) = {
      val p = r.getStruct(1)
      r.getLong(0) ->
        ((p.getAs[Array[Byte]](0).toSeq, p.getDouble(1), p.getDouble(2)))
    }
    val viaSql = spark.sql(
      """SELECT vec_id, int8_pack(embedding) AS p FROM emb_sql_pack""")
      .collect().map(packKey).toMap
    val viaCol = emb.select(col("vec_id"),
        graft.expressions.Int8VecPack.int8_pack(col("embedding")).as("p"))
      .collect().map(packKey).toMap
    assert(viaSql == viaCol && viaSql.size == emb.count())
  }

  test("brute-force top-k plan runs inside whole-stage codegen (no join)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val plan = Similarity.topKCosine(emb, "vec_id", "embedding", 0L, 10)
      .queryExecution.executedPlan.toString
    // '*(n)' prefixes mark WholeStageCodegen stages in the compact form
    assert(plan.contains("*(1) Project"), s"project not codegen'd:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
  }

  test("null and zero-vector handling") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0f, 0.0f)), Some(Seq(1.0f, 0.0f))),
      (Some(Seq(0.0f, 0.0f)), Some(Seq(1.0f, 2.0f))),   // zero norm → null
      (None, Some(Seq(1.0f, 2.0f))))                    // null input → null
      .toDF("a", "b")
    val out = df.select(CosineSimilarity.cosine_native(col("a"), col("b")))
      .collect()
    assert(out(0).getDouble(0) == 1.0)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0))
  }

  test("tdigest_quantiles is callable from SQL") {
    GraftExtensions.register(spark)
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    li.createOrReplaceTempView("li_sql")
    val q = spark.sql(
      """SELECT tdigest_quantiles(CAST(l_quantity AS DOUBLE), 0.25, 0.5, 0.75) AS qs
         FROM li_sql""").collect().head.getSeq[Double](0)
    assert(q.length == 3 && q(0) <= q(1) && q(1) <= q(2))
    assert(q(0) >= 1.0 && q(2) <= 50.0) // l_quantity domain
  }

  test("mismatched lengths yield null, matching the HOF composition") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    val out = df.select(
      CosineSimilarity.cosine_native(col("a"), col("b")).as("native"),
      Similarity.cosineHof(col("a"), col("b")).as("hof")).collect().head
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("two cosine calls in one projection compile (fresh codegen locals)") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("a", "b")
    // duplicate 'double xv' declarations would fail Janino; with
    // fallback disabled that failure surfaces instead of silently
    // running the stage interpreted
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val r = df.select(
        CosineSimilarity.cosine_native(col("a"), col("b")).as("c1"),
        CosineSimilarity.cosine_native(col("a"), col("a")).as("c2"))
        .collect().head
      assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 1.0)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("the curation quality gate runs entirely in SQL and matches " +
      "the Scala column API row for row") {
    import graft.functions.{Curation, LineClean, Pii, TextAnalysis}
    GraftExtensions.register(spark)
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    d.createOrReplaceTempView("docs_sql")

    // the full qualityGate predicate, SQL-only (Config defaults)
    val viaSql = spark.sql(
      """SELECT doc_id FROM docs_sql
         WHERE ws_token_count(text) >= 5 AND punct_ratio(text) <= 0.2
           AND lang_id(text) = 'en'""")
      .collect().map(_.getLong(0)).toSet
    val viaScala = Curation.qualityGate(d, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaSql == viaScala && viaSql.nonEmpty)

    // scalar transforms: SQL name == Column expression, value for value
    val pairs = spark.sql(
      """SELECT normalize_text(text) AS n_sql, strip_html(text) AS h_sql,
           redact_pii(text) AS r_sql, quality_score(text) AS q_sql,
           token_entropy(text) AS e_sql, gopher_pass(text, 5) AS g_sql
         FROM docs_sql""")
    val cols = d.select(
      TextAnalysis.normalizeText(col("text")).as("n_col"),
      LineClean.stripHtml(col("text")).as("h_col"),
      Pii.redact(col("text")).as("r_col"),
      TextAnalysis.qualityScore(col("text")).as("q_col"),
      TextAnalysis.tokenEntropy(col("text")).as("e_col"),
      TextAnalysis.gopherPass(col("text"), 5).as("g_col"))
    assert(pairs.collect().map(_.toString).sorted
      .sameElements(cols.collect().map(_.toString).sorted))

    // arity errors are loud at analysis time
    assertThrows[Exception](spark.sql("SELECT lang_id()").collect())
  }
}
