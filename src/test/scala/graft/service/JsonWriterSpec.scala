package graft.service

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkEntry}

/** Artifacts written through `Json.render` read back equal, whatever
  * characters their strings carry. */
class JsonWriterSpec extends AnyFunSuite {

  private def roundTrips(m: scala.collection.Map[String, Any]): Unit = {
    val back = JsonParse.parse(Json.render(m))
      .asInstanceOf[ListMap[String, Any]]
    assert(back == m)
    assert(back.keys.toList == m.keys.toList)
  }

  test("Verify's oracle map survives control characters in SQL") {
    roundTrips(SparkEntry.oracleSql.updated("nasty",
      "SELECT '\t' AS tab,\r\n '\"q\"' AS quote, '\\' AS bs, " +
        "'\u0001' AS ctl"))
  }

  test("Bench's contract and summary lines escape the SF dir") {
    val sf = """C:\sf "x""""
    def run(wall: Double) = Bench.Run(wall, 0.25, wall - 0.25, 3, 4, 1.5,
      1024L, 2048L)
    val byPass = Seq(Map("q1" -> run(2.0), "q2" -> run(-1.0)),
      Map("q1" -> run(1.0), "q2" -> run(5.0)),
      Map("q1" -> run(3.0), "q2" -> run(4.0)))
    val (full, summary) = Bench.contract(Seq("q1", "q2"), byPass,
      Seq("commit" -> "abc-dirty", "dirty_paths" -> Seq("a \"b\".md")),
      sf, "out\\b.json")
    roundTrips(full)
    roundTrips(summary)
    assert(full("sf") == sf && summary("sf") == sf)
    assert(full.keys.toList == List("metric", "value", "unit", "n", "commit",
      "dirty_paths", "queries", "queries_min", "pass_totals", "passes",
      "profile", "sf"))
    assert(full("queries") == ListMap("q1" -> 2.0, "q2" -> -1.0))
    assert(full("queries_min") == ListMap("q1" -> 1.0, "q2" -> -1.0))
    assert(full("value") == 2.0 && full("pass_totals") == Seq(2.0, 6.0, 7.0))
    assert(full("profile") == ListMap("q1" -> ListMap("build_s" -> 0.25,
      "exec_s" -> 1.75, "jobs" -> 3, "stages" -> 4, "task_s" -> 1.5,
      "shuffle_read_bytes" -> 1024L, "shuffle_write_bytes" -> 2048L)))
    assert(summary.keys.toList == List("metric", "value", "unit", "n",
      "n_queries", "commit", "dirty_paths", "pass_totals", "queries_file",
      "sf"))
  }
}
