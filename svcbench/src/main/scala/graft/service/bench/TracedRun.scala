package graft.service.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.service.{SarHttpServer, SarTenants}

/** The traced run: one client, in sequence, makes each request of the
  * workload's mix three ways — decomposed into layer calls with spans
  * ([[Traced]]), as the direct in-process call the HTTP route makes
  * ([[Direct]]), and over HTTP — and checks all three responses. The
  * spans give each layer's self time, the listener's counters give each
  * layer's and each route's Spark work, and the differences between the
  * three latencies give the HTTP and tracing overheads. */
final class TracedRun(spark: SparkSession, man: ServiceBench.Manifest,
    work: Path, seconds: Double, spansOut: Path) {
  import ServiceBench._
  import TracedRun.Rec

  private val tracer = new Tracer(spark.sparkContext)
  private val counters = new JobCounters(spark.sparkContext)
  private val planPhases = new PlanPhases(spark)
  private var attempted = 0L
  private var failed = 0L

  private val recs = mutable.ArrayBuffer.empty[Rec]

  private def check(op: Op, r: (Int, String)): Unit = {
    attempted += 1
    Validate(op, r._1, r._2).foreach { e =>
      failed += 1
      System.err.println(s"[svcbench] traced: $e")
    }
  }

  /** A call that throws is a failed response, not a failed run. */
  private def attempt(call: => (Int, String)): (Int, String) =
    try call catch { case e: Exception => (0, e.toString) }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def run(): String = {
    val tenants = new SarTenants(spark, work.resolve("traced").toString)
    val server = new SarHttpServer(tenants)
    val client = new Client(server.start())
    def three(op: Op, http: Boolean = true): Unit = {
      val svc = tenants.forUser(op.tenant)
      val request = tracer.newRequest()
      val (c, cMs) = timed(attempt(new Traced(tracer, svc).call(op)))
      check(op, c)
      // sizes now: a later DELETE removes the files
      val fileBytes = Traced.filesOf(op).map(f => parquetBytes(
        work.resolve(s"traced/${f.tenant}/${f.name}.parquet")))
      tracer.newRequest()
      val (a, aMs) = timed(tracer.span("direct:" + op.route)(
        attempt(Direct.call(op, svc))))
      check(op, a)
      val direct = tracer.all.last
      val bMs = if (!http) Double.NaN else {
        val (b, ms) = timed(attempt(client.send(op)))
        check(op, b)
        ms
      }
      recs += Rec(op, request, direct, cMs, aMs, bMs, c._2.length, fileBytes)
    }
    try {
      val files = man.setup.map(f => Stored(f.tenant, f.name, f.truth))
      man.setup.zip(files).foreach { case (f, s) =>
        three(Upload(s, f.path), http = false)
      }
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      // at least one full round, so every route is measured
      while (i == 0 || System.nanoTime() < deadline) {
        if (man.workload == "ingest_mixed") {
          val (a, b) = man.fresh(i % man.fresh.length)
          val name = s"t$i-${java.nio.file.Paths.get(a.path).getFileName}"
          val first = Stored("u0", name, a.truth)
          val second = Stored("u0", name, b.truth)
          val cycle = ingestCycle(first, a.path, second, b.path, i % 2)
          val h = Op.OverviewHeaders.head
          // the cycle's reads, plus the routes it does not visit, before
          // its final DELETE (which only goes over HTTP)
          (cycle.init ++ Seq(Info(second), Data(second, h, csv = true),
            Stats(second, h, csv = true),
            Compare(second, files.head, h, h.split(" ").head)))
            .foreach(three(_))
          check(cycle.last, attempt(client.send(cycle.last)))
        } else {
          val mine = files.filter(_.tenant == "u0")
          session(mine(i % mine.length), mine((i + 1) % mine.length), i % 2)
            .foreach(three(_))
        }
        i += 1
      }
      report(spark)
    } finally {
      server.stop()
      deleteTree(work)
    }
  }

  private def mean(xs: Seq[Double]) = xs.sum / math.max(1, xs.length)

  private def report(spark: SparkSession): String = {
    counters.drain()
    val spans = tracer.all
    val jobsBy = tracer.jobsBySpan(counters.all)
    val self = tracer.selfMs
    val byRequest = spans.groupBy(_.request)
    Files.createDirectories(spansOut.getParent)
    Files.write(spansOut, tracer.jsonLines(jobsBy.map { case (k, v) =>
      k -> v.length }).mkString("", "\n", "\n").getBytes(UTF_8))

    val planBy = tracer.planMsBySpan(planPhases.all)
    def jobs(ss: Seq[Span]) = ss.flatMap(s => jobsBy.getOrElse(s.id, Nil))
    def named(r: Rec, prefix: String) =
      byRequest.getOrElse(r.request, Nil).filter(_.name.startsWith(prefix))
    def selfOf(r: Rec, prefix: String) = named(r, prefix).map(s => self(s.id)).sum
    def msOf(r: Rec, name: String) =
      named(r, name).filter(_.name == name).map(_.ms).sum
    def planOf(r: Rec, prefix: String) =
      named(r, prefix).map(s => planBy.getOrElse(s.id, 0.0)).sum
    def loaded(r: Rec) = byRequest.getOrElse(r.request, Nil)
      .filter(_.parent == 0).map(_.framesLoaded).sum
    // a frame loaded into the cache was filled by one scan of its parquet
    // files; the op's files are the same size, so count times their mean
    def scanned(r: Rec): Double =
      if (loaded(r) == 0) 0.0 else loaded(r) * mean(r.fileBytes.map(_.toDouble))
    // statisticsWithMeta resolves the section, then runs describe: its
    // jobs launched from DescribeStats are the stats layer's, the rest
    // (header and device probes) the meta layer's; describe's time runs
    // from its first job to the end of the call
    def isDescribe(j: JobWork) = j.site.contains("DescribeStats.scala")
    def describeMs(r: Rec): Double = named(r, "stats.statistics").map { s =>
      val starts = jobsBy.getOrElse(s.id, Nil).filter(isDescribe).map(_.startMs)
      if (starts.isEmpty) 0.0
      else math.min(s.ms, math.max(0.0, s.ms - (starts.min - s.startMs)))
    }.sum
    def metaMs(r: Rec) = selfOf(r, "meta.") +
      named(r, "stats.statistics").map(_.ms).sum - describeMs(r)
    def metaJobs(r: Rec) = jobs(named(r, "meta.")).length +
      jobs(named(r, "stats.statistics")).count(!isDescribe(_))
    def statsJobs(r: Rec) = jobs(named(r, "stats.statistics")).filter(isDescribe)

    // the traced request must launch the same Spark work as the direct
    // one; a cold traced request also pays for loading its frames
    val jobMismatches = recs.filter(r => loaded(r) == 0).flatMap { r =>
      val traced = jobs(byRequest(r.request)
        .filterNot(_.name == "cache.load")).length
      val direct = jobsBy.getOrElse(r.direct.id, Nil).length
      if (traced == direct) None
      else Some(s"${r.op.route}: traced request ran $traced Spark jobs, " +
        s"the direct call $direct")
    }
    jobMismatches.foreach(e => System.err.println(s"[svcbench] traced: $e"))
    failed += jobMismatches.length

    val ups = recs.filter(_.op.isInstanceOf[Upload]).toSeq
    val reads = recs.filterNot(_.op.isInstanceOf[Upload]).toSeq
    val stats = reads.filter(_.op.isInstanceOf[Stats])
    val withOps = reads.filter(r => named(r, "ops.").nonEmpty)
    // the call that first scanned a frame the cache did not hold
    val cold = reads.flatMap(r => byRequest(r.request).filter(s =>
      s.parent != 0 && s.name != "cache.load" && s.framesLoaded > 0))
    def textBytes(r: Rec) = r.op match {
      case Upload(f, _) => f.truth.textBytes
      case _ => 0L
    }

    val layer = Seq(
      ("ingest.read_ms", median(ups.map(msOf(_, "ingest.read"))), "ms"),
      ("ingest.parse_ms", median(ups.map(msOf(_, "ingest.parse"))), "ms"),
      ("ingest.rows", medianLow(ups.map(_.op match {
        case Upload(f, _) => f.truth.rows.toDouble
        case _ => 0.0
      })), "count"),
      ("ingest.parse_mb_s", median(ups.map(r =>
        textBytes(r) / 1e6 / (msOf(r, "ingest.parse") / 1e3))), "MB/s"),
      ("store.write_ms", median(ups.map(r => msOf(r, "store.upload") -
        msOf(r, "ingest.read") - msOf(r, "ingest.parse"))), "ms"),
      ("store.jobs", medianLow(ups.map(r =>
        jobs(named(r, "store.upload")).length.toDouble)), "count"),
      ("store.bytes_written", medianLow(ups.map(r =>
        jobs(named(r, "store.upload")).map(_.outputBytes).sum.toDouble)),
        "bytes"),
      ("cache.first_touch_ms", median(cold.map(_.ms)), "ms"),
      ("cache.scan_bytes_per_req",
        reads.map(scanned).sum / math.max(1, reads.length), "bytes"),
      ("cache.mb", cacheMb(spark), "MB"),
      ("meta.ms_per_req", median(reads.map(metaMs)), "ms"),
      ("meta.jobs_per_req", medianLow(reads.map(metaJobs(_).toDouble)),
        "count"),
      ("ops.plan_ms", median(withOps.map(planOf(_, "ops.exec"))), "ms"),
      ("ops.exec_ms", median(withOps.map(r =>
        selfOf(r, "ops.exec") - planOf(r, "ops.exec"))), "ms"),
      ("stats.describe_ms", median(stats.map(describeMs)), "ms"),
      ("stats.jobs", medianLow(stats.map(statsJobs(_).length.toDouble)),
        "count"),
      ("stats.shuffle_bytes", medianLow(stats.map(r =>
        statsJobs(r).map(_.shuffleBytes).sum.toDouble)), "bytes"),
      ("payload.render_ms", median(reads.map(selfOf(_, "payload."))), "ms"),
      ("payload.bytes_per_req", median(reads.map(_.bytes.toDouble)), "bytes"),
      ("http.overhead_ms", median(recs.filterNot(_.httpMs.isNaN)
        .map(r => r.httpMs - r.directMs).toSeq), "ms"),
      ("trace.overhead_ms", median(reads.filter(loaded(_) == 0)
        .map(r => r.tracedMs - r.directMs)), "ms"))

    val perRoute = Op.Routes.flatMap { route =>
      val ds = recs.filter(_.op.route == route).map(_.direct).toSeq
      def per(f: Seq[JobWork] => Double) =
        ds.map(s => f(jobsBy.getOrElse(s.id, Nil)))
      def gap(s: Span): Double = {
        // span time not covered by any of its jobs
        val iv = jobsBy.getOrElse(s.id, Nil).map(j =>
          (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
          .filter(x => x._2 > x._1).sortBy(_._1)
        var covered = 0L
        var end = Long.MinValue
        iv.foreach { case (a, b) =>
          val from = math.max(a, end)
          if (b > from) covered += b - from
          end = math.max(end, b)
        }
        math.max(0.0, s.ms - covered)
      }
      val p = s"spark.$route."
      Seq(
        (p + "jobs_per_req", medianLow(per(_.length.toDouble)), "count"),
        (p + "stages_per_req", medianLow(per(_.map(_.stages).sum.toDouble)),
          "count"),
        (p + "tasks_per_req", medianLow(per(_.map(_.tasks).sum.toDouble)),
          "count"),
        (p + "job_ms_per_req", median(per(_.map(j =>
          (j.endMs - j.startMs).toDouble).sum)), "ms"),
        (p + "driver_gap_ms", median(ds.map(gap)), "ms"),
        (p + "shuffle_bytes_per_req", medianLow(per(
          _.map(_.shuffleBytes).sum.toDouble)), "bytes"),
        (p + "input_bytes_per_req", medianLow(per(
          _.map(_.inputBytes).sum.toDouble)), "bytes"),
        (p + "spill_bytes", medianLow(per(_.map(_.spillBytes).sum.toDouble)),
          "bytes"),
        (p + "executor_cpu_ms", median(per(_.map(_.cpuNs).sum / 1e6)), "ms"))
    }
    System.err.println(s"[svcbench] traced ${man.workload}: ${recs.length} " +
      s"requests x3, ${spans.length} spans, ${counters.all.length} jobs, " +
      s"$failed failed; spans in $spansOut")
    counters.close()
    planPhases.close()
    result(attempted, failed, layer ++ perRoute)
  }
}

object TracedRun {
  /** One request, made three ways: the traced request id, the direct
    * span, the three latencies (traced, direct, HTTP; NaN if not made
    * over HTTP), the traced response's size and the parquet bytes of the
    * request's files just after the traced call. */
  final case class Rec(op: Op, request: Int, direct: Span, tracedMs: Double,
      directMs: Double, httpMs: Double, bytes: Int, fileBytes: Seq[Long])
}
