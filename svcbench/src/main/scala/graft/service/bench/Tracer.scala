package graft.service.bench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work of one job, summed over its completed stages. Skipped
  * stages (reused shuffle output) never complete, so they add nothing.
  * `site` is Spark's call site of the job, e.g. "collect at
  * DescribeStats.scala:199": the first frame outside Spark and Scala. */
final class JobWork(val id: Int, val group: String, val site: String,
    val startMs: Long) {
  @volatile var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var shuffleBytes = 0L   // read + written
  var inputBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L     // memory + disk
  var cpuNs = 0L
}

/** The benchmark's own SparkListener: per-job structural counters. Read
  * them only after [[drain]], which waits for the listener bus. */
final class JobCounters(sc: SparkContext) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobWork]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)
      .getOrElse("")
    jobs.put(e.jobId, new JobWork(e.jobId, group, site, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j)))
      .foreach { j =>
        val m = info.taskMetrics
        j.synchronized {
          j.stages += 1
          j.tasks += info.numTasks
          if (m != null) {
            j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            j.inputBytes += m.inputMetrics.bytesRead
            j.outputBytes += m.outputMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            j.cpuNs += m.executorCpuTime
          }
        }
      }
  }

  def drain(): Unit = org.apache.spark.BenchListenerBus.drain(sc)

  def all: Seq[JobWork] = jobs.values().asScala.toSeq.sortBy(_.id)

  def close(): Unit = sc.removeSparkListener(this)
}

/** Driver planning of every query Spark executes: the analysis,
  * optimisation and physical-planning phases its QueryPlanningTracker
  * timed, as (start, end) wall-clock milliseconds. The listener runs on
  * Spark's listener bus, so read it after [[JobCounters.drain]]. */
final class PlanPhases(spark: SparkSession) extends QueryExecutionListener {
  private val phases = new ConcurrentLinkedQueue[(Long, Long)]()
  private val manager = spark.asInstanceOf[
    org.apache.spark.sql.classic.SparkSession].listenerManager
  manager.register(this)

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    qe.tracker.phases.values.foreach(p =>
      phases.add((p.startTimeMs, p.endTimeMs)))

  override def onFailure(funcName: String, qe: QueryExecution,
      e: Exception): Unit = ()

  def all: Seq[(Long, Long)] = phases.asScala.toSeq

  def close(): Unit = manager.unregister(this)
}

/** One span: a timed call into one layer, with the span that caused it
  * and the request it belongs to. Times are wall-clock nanoseconds
  * relative to the tracer's origin; `startMs`/`endMs` match Spark's job
  * timestamps. `framesLoaded` counts the cached frames whose memory grew
  * during the span: a frame not yet in the cache was filled by a scan of
  * its files. (Spark's input metric also counts reads of cached blocks,
  * so it cannot tell a cache hit from a file scan.) */
final case class Span(id: Int, name: String, parent: Int, request: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    framesLoaded: Int) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the single-threaded traced run. Each span
  * also sets a Spark job group (`bench:<span id>`), so the listener can
  * key the jobs it sees by span. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack =
    mutable.Stack.empty[(Int, String, Long, Long, Map[Int, Long])]
  private var nextId = 1
  private var request = 0
  private val origin = System.nanoTime()

  def newRequest(): Int = { request += 1; request }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    // the cache probe runs outside the span's own time, on both ends
    val before = cached()
    stack.push((id, name, System.nanoTime() - origin,
      System.currentTimeMillis(), before))
    sc.setJobGroup(s"bench:$id", name, interruptOnCancel = false)
    try body
    finally {
      val (_, _, s0, m0, b0) = stack.pop()
      spans += Span(id, name, parent, request, s0,
        System.nanoTime() - origin, m0, System.currentTimeMillis(),
        loaded(b0, cached()))
      stack.headOption match {
        case Some((pid, pname, _, _, _)) =>
          sc.setJobGroup(s"bench:$pid", pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Cached RDDs: id -> bytes in memory. */
  private def cached(): Map[Int, Long] =
    sc.getRDDStorageInfo.map(r => r.id -> r.memSize).toMap

  private def loaded(before: Map[Int, Long], after: Map[Int, Long]): Int =
    after.count { case (id, mem) => mem > before.getOrElse(id, 0L) }

  private def covers(s: Span, t: Long) = s.startMs - 1 <= t && t <= s.endMs + 1

  /** The innermost span running at wall-clock millisecond `t`. */
  def spanAt(t: Long): Option[Span] =
    spans.filter(covers(_, t)).sortBy(s => s.endNs - s.startNs).headOption

  /** Jobs keyed by the span that launched them. A job's group names its
    * span unless the job ran on a pooled thread that inherited a stale
    * group (Spark local properties are inherited at thread creation); a
    * job whose group span does not cover its start time goes to the
    * innermost span that does. */
  def jobsBySpan(jobs: Seq[JobWork]): Map[Int, Seq[JobWork]] = {
    val byId = spans.map(s => s.id -> s).toMap
    jobs.flatMap { j =>
      val named = j.group.stripPrefix("bench:").toIntOption
        .flatMap(byId.get).filter(covers(_, j.startMs))
      named.orElse(spanAt(j.startMs)).map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Planning milliseconds keyed by the span each phase started in. */
  def planMsBySpan(phases: Seq[(Long, Long)]): Map[Int, Double] =
    phases.flatMap { case (a, b) => spanAt(a).map(_.id -> (b - a).toDouble) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }

  /** Self time of each span: its duration minus its children's. */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Spans as JSON lines (one object per span), with the number of Spark
    * jobs each launched. */
  def jsonLines(jobs: Map[Int, Int]): Iterator[String] = spans.iterator.map {
    s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""request":${s.request},"start_ms":${s.startNs / 1e6}%.3f,""" +
        f""""end_ms":${s.endNs / 1e6}%.3f,"jobs":${jobs.getOrElse(s.id, 0)},""" +
        f""""frames_loaded":${s.framesLoaded}}"""
  }
}

