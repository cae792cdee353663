package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.immutable.ListMap

import org.apache.spark.GraftBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.service.Json

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is forced through the `noop` sink — a plain count() would
  * let Catalyst prune every column and skip the actual expressions. One
  * untimed pass over the selected queries absorbs JVM/codegen startup,
  * and every query then runs `runs` times with the median reported, so
  * round-over-round deltas are signal rather than JIT variance.
  *
  * Host-noise hardening: repetitions run as full SUITE passes with the
  * query order REVERSED on alternate passes (A,B,C / C,B,A / A,B,C), so
  * a single host-load spike lands on different queries in different
  * passes instead of poisoning all three back-to-back timings of one
  * query; and `queries_min` (best-of-runs) is reported alongside the
  * median so a spike that does slip through two passes is still visible
  * as median≫min rather than branding the query a code regression.
  *
  * Per-query profile (`"profile"`): every timed run is split into BUILD
  * (the QueryDef closure — includes any eager driver-side actions the
  * query performs while assembling its frame: counts, codebook
  * collects, calibration reads) and EXEC (the noop-sink write), and a
  * listener counts that run's jobs, stages, summed task seconds and
  * shuffle read/write bytes. The row reported is the median-wall run's
  * (a query that failed in any run has no row).
  * `task_s ≪ wall` points at driver-side overhead (planning, codegen,
  * job scheduling) rather than data-path work; the counts are
  * host-independent, so a plan-shape regression shows through host
  * drift.
  *
  * Environment: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_RUNS (passes, default 3), SPARK_GRAFT_BENCH_ONLY
  * (comma-separated query names), SPARK_GRAFT_BENCH_OUT (full-line
  * file, default BENCH_FULL.json).
  */
object Bench {

  /** One timed run: seconds (wall = build + exec; wall -1 marks a
    * failure) plus the listener's counts over exactly that run. */
  private[graft] final case class Run(wall: Double, build: Double,
      exec: Double, jobs: Int, stages: Int, taskSec: Double, shufRead: Long,
      shufWrite: Long)

  /** Job/stage/task/shuffle counters, reset and read around each timed
    * run. */
  private final class Profiler extends SparkListener {
    private val jobs = new AtomicInteger(0)
    private val stages = new AtomicInteger(0)
    private val taskTimeMs = new AtomicLong(0)
    private val shufRead = new AtomicLong(0)
    private val shufWrite = new AtomicLong(0)

    def reset(): Unit = {
      jobs.set(0); stages.set(0); taskTimeMs.set(0)
      shufRead.set(0); shufWrite.set(0)
    }
    def snapshot(wall: Double, build: Double, exec: Double): Run =
      Run(wall, build, exec, jobs.get, stages.get, taskTimeMs.get / 1e3,
        shufRead.get, shufWrite.get)

    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** The one timed run, shared by Bench (per query) and ScaleBench (per
    * chain and scale): build the frame, drain it to the noop sink, and
    * count that run's jobs, stages, task time and shuffle bytes. A run
    * that throws reports wall -1, never a timing. */
  private[graft] final class Timer(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val profiler = new Profiler
    sc.addSparkListener(profiler)

    /** `label` opens the failure line on stderr. */
    def run(label: String)(build: => DataFrame): Run = {
      // deterministic drain before resetting and before reading the
      // counters: block until every already-posted event is delivered,
      // so no late event of the previous run lands in this one (a
      // fixed sleep raced late events under load)
      GraftBusBridge.waitUntilListenerBusEmpty(sc)
      profiler.reset()
      val t0 = System.nanoTime()
      val (wall, b, ex) = try {
        val df = build
        val t1 = System.nanoTime()
        drain(df)
        val t2 = System.nanoTime()
        ((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"$label failed: ${e.getMessage}")
        (-1.0, -1.0, -1.0)
      } finally {
        // cold-run discipline: chains persist intermediates
        // deliberately (e.g. the spans trio's shared span frame) and
        // never unpersist them (the returned frame still reads them),
        // and CacheManager matches canonicalized plans ACROSS queries —
        // without a reset, later passes of a query time a cache read and
        // the artifact presents it as an engine timing. Disk-level
        // amortization (persisted indexes, cached codebooks) is
        // unaffected — those rows are declared amortized by name
        // (*_indexed / *_amortized).
        spark.catalog.clearCache()
      }
      GraftBusBridge.waitUntilListenerBusEmpty(sc)
      profiler.snapshot(wall, b, ex)
    }
  }

  /** Full execution without a collect (see the scaladoc): the noop
    * sink. */
  private def drain(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // optional comma-separated name filter for local iteration; the
    // full contract run leaves it unset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(SparkEntry.selectQueries(_).toSet)
    val names = SparkEntry.all
      .filter(q => only.forall(_.contains(q.name)))
      .map(_.name)
    // the canonical GraftSession config (AQE + scale-out initial
    // partition count) so the benched plans are the shipped plans
    val spark = GraftSession.get(cpus.toInt)
    val timer = new Timer(spark)

    def exec(name: String): Run = {
      val fn = SparkEntry.queries(name) // lookup outside the timed region
      timer.run(s"[bench] $name")(fn(spark, sfDir))
    }

    // warmup: one untimed pass, so no timed pass runs cold
    names.foreach(exec)

    // suite passes, alternating direction (see scaladoc)
    val byPass: Seq[Map[String, Run]] = (0 until runs).map { p =>
      val order = if (p % 2 == 0) names else names.reverse
      order.map(n => n -> exec(n)).toMap
    }

    // the single-line contract output is also written to a file: with
    // 120+ queries the line runs past typical log-capture tail windows
    // (the r6 driver artifact kept only the tail — head queries and the
    // queries_min stat were lost), and a file survives truncation
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "BENCH_FULL.json")
    val (full, summary) =
      contract(names, byPass, BenchUtil.commitFields(), sfDir, outPath)
    val line = Json.render(full)
    println(line)
    println(Json.render(summary))
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }

  /** The full contract line (also the `outPath` file) and the compact
    * final summary line, from the timed passes (`byPass`, one map per
    * pass; a wall of -1 marks a failed run).
    *
    * Failures stay visible per query as -1 but do not subtract from the
    * headline total; `profile` is the median-wall run's row (a query that
    * failed in any run has none). `pass_totals`/`passes` keep the raw
    * passes so a single outlier pass is machine-readable.
    *
    * The summary line exists because the full line runs ~20 KB with 130+
    * queries, and a log capture that keeps only a ~2000-char tail holds
    * a headless fragment of it. The summary is ≤300 chars and repeats
    * the headline fields; per-query medians/mins/passes/profile stay in
    * the full line and in the `queries_file` artifact. */
  private[graft] def contract(names: Seq[String],
      byPass: Seq[Map[String, Run]], commit: Seq[(String, Any)],
      sfDir: String, outPath: String)
      : (ListMap[String, Any], ListMap[String, Any]) = {
    val timings = names.map(n => n -> byPass.map(_(n)))
    def stat(rs: Seq[Run], pick: Seq[Double] => Double): Double =
      if (rs.exists(_.wall < 0)) -1.0 else pick(rs.map(_.wall))
    val medians = timings.map { case (n, rs) =>
      n -> stat(rs, s => s.sorted.apply(s.length / 2)) }
    val mins = timings.map { case (n, rs) => n -> stat(rs, _.min) }
    def round3(s: Double): Double = math.round(s * 1000) / 1000.0
    val profile = timings.collect { case (n, rs) if !rs.exists(_.wall < 0) =>
      val r = rs.sortBy(_.wall).apply(rs.length / 2)
      n -> ListMap("build_s" -> round3(r.build), "exec_s" -> round3(r.exec),
        "jobs" -> r.jobs, "stages" -> r.stages,
        "task_s" -> round3(r.taskSec), "shuffle_read_bytes" -> r.shufRead,
        "shuffle_write_bytes" -> r.shufWrite)
    }
    val total = medians.map(_._2).filter(_ >= 0).sum
    val passTotals = byPass.map(m => m.values.map(_.wall).filter(_ >= 0).sum)
    val head = Seq("metric" -> "total", "value" -> total, "unit" -> "sec",
      "n" -> byPass.length)
    val full = ListMap(head ++ commit ++ Seq(
      "queries" -> ListMap(medians: _*), "queries_min" -> ListMap(mins: _*),
      "pass_totals" -> passTotals,
      "passes" -> byPass.map(m => ListMap(names.map(n => n -> m(n).wall): _*)),
      "profile" -> ListMap(profile: _*), "sf" -> sfDir): _*)
    val summary = ListMap(head ++ Seq("n_queries" -> names.length) ++
      commit ++ Seq("pass_totals" -> passTotals, "queries_file" -> outPath,
        "sf" -> sfDir): _*)
    (full, summary)
  }
}
