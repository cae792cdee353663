package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.SarTextParser
import graft.ops.SarOps
import graft.stats.DescribeStats

class SarOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val sar = {
    import spark.implicits._
    val path = getClass.getResource("/sar/sa_24h.txt").getPath
    SarTextParser.parse(spark, path).cache()
  }

  val cpuHeader = "%usr %nice %sys %iowait %steal %irq %soft %guest %gnice %idle"

  test("end-to-end: parse → selectHeader → toMetrics → wide frame → describe") {
    val section = SarOps.selectHeader(sar.toDF(), cpuHeader)
    assert(section.count() == 6)
    val metrics = SarOps.toMetrics(section, cpuHeader)
    assert(metrics.columns.contains("sub_device"))
    val all = SarOps.forDevice(metrics, "all")
    val wide = SarOps.createMetricsDf(all, cpuHeader)
    assert(wide.columns.toSeq ==
      "date" +: cpuHeader.split(" ").toSeq)
    val usr = wide.select("%usr").collect().map(_.getFloat(0)).sorted
    assert(usr.toSeq == Seq(1.23f, 2.0f))
    val stats = DescribeStats.describe(wide, Seq("%usr", "%idle")).collect()
    val usrRow = stats.find(_.getString(0) == "%usr").get
    assert(usrRow.getDouble(1) == 2.0)                 // count
    assert(math.abs(usrRow.getDouble(3) - 1.615) < 1e-6) // mean (float32 storage)
    assert(math.abs(usrRow.getDouble(7) - 1.615) < 1e-6)  // p50 linear interp
  }

  test("headerContains treats tokens as literals, not regex") {
    import spark.implicits._
    val df = Seq("a(b) stats", "ab stats", "plain").toDF("header")
    // unquoted, "a(b)" is a capturing group matching "ab"; quoted it
    // only matches itself
    val got = SarOps.headerContains(df, Seq("a(b)"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("a(b) stats"))
    // multi-token OR still works, and real SAR headers with % and / pass
    val sar2 = SarOps.headerContains(sar.toDF(),
      Seq("%usr", "proc/s")).select("header").distinct().collect()
    assert(sar2.length == 2)
  }

  test("device list: numeric sort, 'all' pinned first") {
    val metrics = SarOps.toMetrics(SarOps.selectHeader(sar.toDF(), cpuHeader), cpuHeader)
    val devices = SarOps.sortDevices(metrics.select("sub_device").distinct()
      .collect().map(_.getString(0)).toSeq)
    assert(devices == Seq("all", "0", "1"))
  }

  test("metricColumn + thresholdBand") {
    val metrics = SarOps.toMetrics(SarOps.selectHeader(sar.toDF(), cpuHeader), cpuHeader)
    val usr = SarOps.metricColumn(metrics, cpuHeader, "%usr")
    assert(usr.columns.toSeq == Seq("date", "device", "%usr"))
    // %usr >= 1.5: rows all@00:20(2.0), cpu0@00:10(1.5), cpu0@00:20(2.1), cpu1@00:20(1.9)
    val band = SarOps.thresholdBand(metrics, cpuHeader, 0, 1.5, 100.0)
    assert(band.count() == 4)
  }

  test("restart probes + zero-row insertion") {
    val restarts = SarOps.restartHeaders(sar.toDF())
    assert(restarts.length == 1 && restarts.head.endsWith("00:15:30"))
    val section = SarOps.selectHeader(sar.toDF(), "proc/s cswch/s")
    val wide = SarOps.createMetricsDf(
      SarOps.toMetrics(section, "proc/s cswch/s"), "proc/s cswch/s")
    val t = Timestamp.valueOf("2023-06-05 00:15:30")
    val withZeros = SarOps.insertRestartZeros(wide, "date", Seq(t))
    assert(withZeros.count() == 3)
    val zeroRow = withZeros.filter(s"date = timestamp'2023-06-05 00:15:30'").collect()
    assert(zeroRow.length == 1 && zeroRow.head.getFloat(1) == 0.0f)
    // collision: inserting at an existing sample shifts +1s
    val t2 = Timestamp.valueOf("2023-06-05 00:10:01")
    val shifted = SarOps.insertRestartZeros(wide, "date", Seq(t2))
    assert(shifted.filter(s"date = timestamp'2023-06-05 00:10:02'").count() == 1)
  }

  test("melt, hour ops, day overlay, stride") {
    val section = SarOps.selectHeader(sar.toDF(), "proc/s cswch/s")
    val wide = SarOps.createMetricsDf(
      SarOps.toMetrics(section, "proc/s cswch/s"), "proc/s cswch/s")
    val long = SarOps.melt(wide, Seq("date"), Seq("proc/s", "cswch/s"))
    assert(long.columns.toSeq == Seq("date", "metrics", "y"))
    assert(long.count() == 4)
    val grid = SarOps.hourGrid(wide)
    assert(grid.count() == 1)   // both samples inside hour 00
    val aligned = SarOps.dayOverlayAlign(wide, "date", "2000-01-01")
    assert(aligned.select("aligned").collect()
      .map(_.getTimestamp(0).toString).forall(_.startsWith("2000-01-01 00:")))
    val strided = SarOps.downsampleStride(wide, "date", 2)
    assert(strided.count() == 1)
  }

  test("stride on a digit-string column follows native (lexicographic) order") {
    import spark.implicits._
    // '10' < '2' lexicographically: cast-to-double bucketing would
    // disagree with orderBy(orderCol) here (ADVICE r4)
    val df = (1 to 30).map(_.toString).toDF("s").repartition(7)
    val expected = df.orderBy("s").collect().map(_.getString(0))
      .zipWithIndex.collect { case (v, i) if i % 3 == 0 => v }.toSeq
    val got = SarOps.downsampleStride(df, "s", 3)
      .collect().map(_.getString(0)).toSeq
    assert(got == expected)
  }

  test("restart timestamps resolve AM/PM (edge fixture, 12:15:30 AM → 00:15)") {
    import spark.implicits._
    val path = getClass.getResource("/sar/sa_edge.txt").getPath
    val edge = graft.ingest.SarTextParser.parse(spark, path).toDF()
    val rs = SarOps.parseRestartTimestamps(SarOps.restartHeaders(edge),
      SarOps.osDetails(edge))
    assert(rs.map(_.toString) == Seq("2023-06-05 00:15:30.0"))
  }

  test("describe on an empty slice: count 0, null_count 0, null stats") {
    val li = graft.queries.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .filter("l_quantity < 0")
    val r = DescribeStats.describe(li, Seq("l_quantity")).collect().head
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0)
    assert(r.isNullAt(3) && r.isNullAt(6)) // mean, p25 are SQL null
  }

  test("describe quantiles are bit-identical to Spark's exact percentile") {
    // pins the r14 distributed weighted-rank selection to the builtin
    // exact `percentile` aggregate it replaced: same values to the
    // LAST BIT (==, no tolerance) across sizes that exercise every
    // interpolation branch — single row (position 0), two rows
    // (fractional positions), heavy ties (equal lower/higher keys),
    // all-equal columns, negatives, nulls, and a size where the
    // range-sorted frame spans several partitions
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, lit, percentile}
    val rnd = new scala.util.Random(14)
    for (n <- Seq(1, 2, 3, 7, 1000)) {
      val vals: Seq[Option[Double]] = (0 until n).map { i =>
        if (n > 2 && i % 11 == 3) None // nulls are dropped by both paths
        else Some(rnd.nextInt(1 + n / 3).toDouble - 2.0 +
          (if (i % 2 == 0) 0.25 else 0.0))
      }
      val df = vals.toDF("x")
      val expect = df
        .agg(percentile(col("x"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("q"))
        .collect().head.getSeq[Double](0)
      val got = DescribeStats.describe(df, Seq("x")).collect().head
      for (i <- 0 until 3)
        assert(got.getDouble(6 + i) == expect(i),
          s"n=$n p${Seq(25, 50, 75)(i)}: ${got.getDouble(6 + i)} " +
            s"vs ${expect(i)}")
    }
    // all-equal column: every quantile is the value itself
    val eq = Seq.fill(50)(3.25).toDF("x")
    val r = DescribeStats.describe(eq, Seq("x")).collect().head
    assert((6 to 8).forall(r.getDouble(_) == 3.25))
  }

  test("dedup keep-first + argExtrema + minMaxMarkers") {
    val section = SarOps.selectHeader(sar.toDF(), cpuHeader)
    val metrics = SarOps.toMetrics(section, cpuHeader)
    val wide = SarOps.createMetricsDf(SarOps.forDevice(metrics, "all"), cpuHeader)
    val dup = wide.unionByName(wide)
    assert(SarOps.dropDuplicatesKeepFirst(dup, Seq("date"), Seq("date")).count() == 2)
    val ext = SarOps.argExtrema(wide, "%usr").collect().head
    assert(ext.getTimestamp(0).toString == "2023-06-05 00:10:01.0")
    assert(ext.getTimestamp(1).toString == "2023-06-05 00:20:01.0")
    val marked = SarOps.minMaxMarkers(wide, Seq("%usr"))
    assert(marked.filter(marked("`is_max_%usr`")).count() == 1)
  }
}
