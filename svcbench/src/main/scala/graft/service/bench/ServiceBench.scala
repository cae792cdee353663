package graft.service.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.service.{JsonParse, SarHttpServer, SarTenants}

/** End-to-end benchmark of the SAR service: `SarHttpServer` over
  * `SarTenants`, in this process, driven by closed-loop HTTP clients that
  * replay a fixed request mix and check every response against the
  * generator's ground truth.
  *
  *   --manifest <json>  inputs written by run.py (workload, clients, files)
  *   --seconds <s>      length of the measured loop
  *   --trace 0|1        0: end-to-end metrics; 1: the traced run, which
  *                      reports per-layer metrics and writes its spans
  *   --work <dir>       scratch directory for the tenants' storage
  *   --spans <file>     where the traced run writes its spans (JSON lines)
  *
  * Prints one JSON object as its last stdout line:
  * `{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}`.
  */
object ServiceBench {

  final case class Sample(route: String, ms: Double)

  final case class Manifest(workload: String, clients: Int,
      setup: Seq[InputFile], fresh: Seq[(InputFile, InputFile)])

  private def loadManifest(path: String): Manifest = {
    val m = Truth.obj(JsonParse.parse(
      new String(Files.readAllBytes(Paths.get(path)), UTF_8)))
    def file(v: Any): InputFile = {
      val f = Truth.obj(v)
      InputFile(f("tenant").toString, f("name").toString, f("path").toString,
        Truth.load(f("truth").toString))
    }
    Manifest(m("workload").toString,
      m("clients").asInstanceOf[java.lang.Number].intValue(),
      Truth.list(m("setup")).map(file),
      Truth.list(m("fresh")).map { p =>
        val pair = Truth.list(p)
        (file(pair(0)), file(pair(1)))
      })
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val man = loadManifest(opts("manifest"))
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val work = Paths.get(opts("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.get(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val result =
      try {
        if (trace) new TracedRun(spark, man, work, seconds,
          Paths.get(opts("spans"))).run()
        else new Run(spark, man, work, seconds).run()
      } finally spark.stop()
    println(result)
  }

  // ---- statistics ----------------------------------------------------

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Lower median: always one of the samples, so integer counts stay
    * integers and repeat exactly between runs. */
  def medianLow(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.length - 1) / 2)

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else xs.sorted.apply(math.max(0, math.ceil(p * xs.length).toInt - 1))

  /** Bytes of parquet data a stored file takes. */
  def parquetBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else scala.util.Using.resource(Files.walk(dir)) { w =>
      w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) scala.util.Using.resource(Files.walk(dir)) { w =>
      w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    }

  /** Spark storage memory held by cached frames, in MB. */
  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  def result(attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n":{"value":$value,"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$ms}}"""
  }

  // ---- the workloads' request mixes ---------------------------------

  /** A session on one file: open it, browse two sections as data,
    * statistics and charts (JSON and CSV), then the overview and a
    * comparison with another of the tenant's files. The steps follow the
    * reference UI's flows; how often each is taken is assumed, not
    * measured (no recorded UI traffic exists). Client `ci` always
    * browses the same two sections, so every session of a client is the
    * same request mix, whatever the seed and however many sessions fit. */
  def session(f: Stored, other: Stored, ci: Int): Seq[Op] = {
    val headers = f.truth.sections.keys.toSeq.sorted
    val a = headers((2 * ci) % headers.length)
    val b = headers((2 * ci + 1) % headers.length)
    val cpu = Op.OverviewHeaders.head
    def metric(h: String) = h.split(" ").head
    Seq(Info(f), Headers(f), Data(f, a, csv = false), Stats(f, a, csv = false),
      ChartSingle(f, a, metric(a)), Data(f, b, csv = true),
      Stats(f, b, csv = true), ChartSingle(f, b, metric(b)), Overview(f),
      Compare(f, other, cpu, metric(cpu)))
  }

  /** ingest_mixed's steps for one fresh file and its replacement, reading
    * client `ci`'s section. The overview is there so that every workload
    * measures every route group. */
  def ingestCycle(first: Stored, firstPath: String, second: Stored,
      secondPath: String, ci: Int): Seq[Op] = {
    val a = first.truth.sections.keys.toSeq.sorted.apply(ci)
    val m = a.split(" ").head
    Seq(Upload(first, firstPath), Headers(first), Stats(first, a, csv = false),
      ChartSingle(first, a, m), Overview(first), Upload(second, secondPath),
      Data(second, a, csv = false), Delete(second))
  }
}

/** The end-to-end run: set-up (repeated), warm-up, then the measured
  * closed loop. Nothing is traced and no listener is registered. */
final class Run(spark: SparkSession, man: ServiceBench.Manifest, work: Path,
    seconds: Double) {
  import ServiceBench._

  // set-up repetitions; setup_s is their median
  private val setups = 3

  private val samples = new ConcurrentLinkedQueue[Sample]()
  // (ms, SAR text bytes) of each upload; parquet bytes per upload
  private val uploads = new ConcurrentLinkedQueue[(Double, Long)]()
  private val parquetSizes = new ConcurrentLinkedQueue[(Long, Long)]()
  private val errors = new ConcurrentLinkedQueue[String]()
  // every request made, set-up and warm-up included, and those that failed
  private val attempted = new java.util.concurrent.atomic.AtomicLong()
  private val failed = new java.util.concurrent.atomic.AtomicLong()

  private def timed(c: Client, op: Op): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val (st, body) =
      try c.send(op) catch { case e: Exception => (0, e.toString) }
    val ms = (System.nanoTime() - t0) / 1e6
    val err = Validate(op, st, body)
    attempted.incrementAndGet()
    err.foreach { e => failed.incrementAndGet(); errors.add(e) }
    (ms, err)
  }

  private def stored(f: InputFile) = Stored(f.tenant, f.name, f.truth)

  def run(): String = {
    // set-up: fresh storage, server start and every upload, k times
    var server: SarHttpServer = null
    var port = 0
    var tenantsDir: Path = null
    val setupTimes = (0 until setups).map { rep =>
      if (server != null) {
        server.stop()
        deleteTree(tenantsDir)
        parquetSizes.clear()
      }
      val t0 = System.nanoTime()
      tenantsDir = work.resolve(s"setup$rep")
      server = new SarHttpServer(new SarTenants(spark, tenantsDir.toString))
      port = server.start()
      val c = new Client(port)
      man.setup.foreach { f =>
        val (ms, err) = timed(c, Upload(stored(f), f.path))
        // the first set-up warms the JVM; its uploads are not sampled
        if (err.isEmpty && rep > 0)
          uploads.add((ms, f.truth.textBytes))
        parquetSizes.add((parquetBytes(tenantsDir.resolve(s"${f.tenant}/${f.name}.parquet")),
          f.truth.textBytes))
      }
      (System.nanoTime() - t0) / 1e9
    }
    val setupUploads = uploads.asScala.toSeq
    uploads.clear()
    try measure(port, tenantsDir, setupTimes, setupUploads)
    finally { server.stop(); deleteTree(work) }
  }

  private def measure(port: Int, dir: Path,
      setupTimes: Seq[Double], setupUploads: Seq[(Double, Long)]): String = {
    val files = man.setup.map(stored)
    val client0 = new Client(port)
    // warm-up: the first read of each file fills the frame cache, and one
    // untimed round of the clients' loop compiles what the requests run
    files.foreach(f => timed(client0, Info(f)))
    val warm = (0 until man.clients).map { ci =>
      new Thread(() => clientLoop(ci, port, System.nanoTime(), dir, "w"))
    }
    warm.foreach(_.start())
    warm.foreach(_.join())
    samples.clear()
    uploads.clear()

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val threads = (0 until man.clients).map { ci =>
      new Thread(() => clientLoop(ci, port, deadline, dir, "c"))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val elapsed = (System.nanoTime() - t0) / 1e9

    val all = samples.asScala.toSeq
    val lat = all.map(_.ms)
    def p50(routes: String*) = median(all.filter(s => routes.contains(s.route)).map(_.ms))
    val ups = if (uploads.isEmpty) setupUploads else uploads.asScala.toSeq
    val st = parquetSizes.asScala.toSeq
    // printed, not gated: a run has too few requests for p90 to have ten
    // samples beyond it, and failures must be 0 (`failed` carries them)
    val p90 = pct(lat, 0.9)
    println(s"[svcbench] ${man.workload}: ${all.length} requests in " +
      f"$elapsed%.1f s; latency_p90_ms $p90%.1f ms " +
      s"(${lat.count(_ > p90)} samples above); failed_ratio " +
      s"${failed.get.toDouble / math.max(1L, attempted.get)} ratio; " +
      "requests per route: " + all.groupBy(_.route).toSeq.sortBy(_._1)
        .map { case (r, s) => s"$r=${s.length}" }.mkString(" "))
    errors.asScala.take(5).foreach(e => System.err.println(s"[svcbench] $e"))
    System.err.println("[svcbench] set-ups (s): " + setupTimes.mkString(" "))
    all.groupBy(_.route).toSeq.sortBy(_._1).foreach { case (r, ss) =>
      System.err.println(s"[svcbench] $r (ms): " +
        ss.map(x => "%.0f".format(x.ms)).mkString(" "))
    }
    result(attempted.get, failed.get, Seq(
      ("setup_s", median(setupTimes), "s"),
      ("throughput_rps", all.length / elapsed, "1/s"),
      ("latency_p50_ms", median(lat), "ms"),
      ("open_p50_ms", p50("info", "headers"), "ms"),
      ("data_p50_ms", p50("data_json", "data_csv"), "ms"),
      ("stats_p50_ms", p50("stats_json", "stats_csv"), "ms"),
      ("chart_p50_ms", p50("chart_single", "chart_compare"), "ms"),
      ("overview_p50_ms", p50("chart_overview"), "ms"),
      ("upload_p50_ms", median(ups.map(_._1)), "ms"),
      ("ingest_mb_s", ups.map(_._2).sum / 1e6 / (ups.map(_._1).sum / 1e3),
        "MB/s"),
      ("cache_mb", cacheMb(spark), "MB"),
      ("stored_bytes_ratio", st.map(_._1).sum.toDouble / st.map(_._2).sum,
        "ratio")))
  }

  /** Runs whole sessions (or ingest cycles) until the deadline, at least
    * one. Fresh uploads are named `<tag><client>-<cycle>-<file>`. */
  private def clientLoop(ci: Int, port: Int, deadline: Long,
      dir: Path, tag: String): Unit = {
    val c = new Client(port)
    def record(op: Op): Unit = {
      val (ms, err) = timed(c, op)
      samples.add(Sample(op.route, ms))
      op match {
        case Upload(f, _) if err.isEmpty =>
          uploads.add((ms, f.truth.textBytes))
          parquetSizes.add((parquetBytes(dir.resolve(s"${f.tenant}/${f.name}.parquet")),
            f.truth.textBytes))
        case _ =>
      }
    }
    if (man.workload == "ingest_mixed") {
      // one cycle at a time, never cut short: every cycle ends in DELETE
      val mine = man.fresh.indices.filter(_ % man.clients == ci)
      var i = 0
      while (i == 0 || System.nanoTime() < deadline) {
        val (a, b) = man.fresh(mine(i % mine.length))
        val name = s"$tag$ci-$i-${Paths.get(a.path).getFileName}"
        val tenant = s"u$ci"
        ServiceBench.ingestCycle(Stored(tenant, name, a.truth), a.path,
          Stored(tenant, name, b.truth), b.path, ci).foreach(record)
        i += 1
      }
    } else {
      val mine = man.setup.map(stored).filter(_.tenant == s"u${ci % 2}")
      var k = 0
      while (k == 0 || System.nanoTime() < deadline) {
        val f = mine(k % mine.length)
        val other = mine((k + 1) % mine.length)
        // whole sessions only, so every run has the same request mix
        ServiceBench.session(f, other, ci).foreach(record)
        k += 1
      }
    }
  }
}
