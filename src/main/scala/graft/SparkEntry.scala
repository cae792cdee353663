package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the LLM-pipeline
  * extensions) is registered here as a named query with a DuckDB oracle.
  */
object SparkEntry {

  /** Query packs, one per operator family. */
  val packs: Seq[QueryPack] = Seq(
    CoreQueries, OpsQueries, SarPipelineQueries, LlmQueries, VectorQueries,
    GovernanceQueries, CorpusQueries)

  lazy val all: Seq[QueryDef] = packs.flatMap(_.queries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. (lazy val so
    * Bench's per-query lookups don't rebuild the map inside timing.) */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap

  /** The query names of a comma-separated selector, in its order — the
    * one parse behind the harness mains' name filters
    * (SPARK_GRAFT_BENCH_ONLY, Verify's third argument,
    * SPARK_GRAFT_SCALE_ONLY). A name that is not a declared query
    * (a typo, an empty entry) fails with every unknown name listed,
    * instead of silently selecting less — or nothing. */
  def selectQueries(csv: String): Seq[String] = {
    val names = csv.split(",", -1).toSeq
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, "unknown query name(s): " +
      unknown.map(n => s"'$n'").mkString(", "))
    names
  }
}
