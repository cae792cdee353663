package graft

import java.nio.file.{Files, Paths}

import graft.service.Json

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names for local iteration
    // (the correctness gate dumps the full set); diff the subset with
    // tools/local_verify.py --no-run --only=<names>
    val only: Option[Set[String]] =
      if (args.length > 2) Some(SparkEntry.selectQueries(args(2)).toSet)
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the canonical GraftSession config, so correctness runs exercise
    // the same plans (AQE, partition scaling, SQL functions) as users
    val spark = GraftSession.get(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json.render(SparkEntry.oracleSql))
    spark.stop()
  }
}
