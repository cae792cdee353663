package graft

import java.util.concurrent.{CompletionException, Executors}

import scala.util.Try

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Independent driver actions run concurrently — the engine's one
  * concurrency helper. The first body runs on the caller's thread, the
  * others on one dedicated, demand-sized daemon pool (not Scala's global
  * pool; nested calls cannot deadlock). Each pool body runs under a clone
  * of the caller's Spark local properties (job group, JobLeg tag) and
  * active session via Spark's `SQLExecution.withThreadLocalCaptured`, so
  * its jobs are attributed like the caller's, never to a stale group a
  * pooled thread inherited. A call returns once every body finished and
  * rethrows the first failure in input order. */
object Par {

  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-par")
    t.setDaemon(true)
    t
  }

  /** `a` on the caller's thread and `b` on the pool, concurrently. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = map(Seq(() => a, () => b))(_())
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  /** `f` over `xs` concurrently; results in input order. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val spark = SparkSession.active.asInstanceOf[classic.SparkSession]
    val forks = xs.toVector.drop(1).map(x =>
      SQLExecution.withThreadLocalCaptured(spark, pool)(f(x)))
    val done = Try(xs.take(1).map(f)) +: forks.map(fu => Try(Seq(fu.join())))
    done.flatMap(_.fold({
      case e: CompletionException if e.getCause != null => throw e.getCause
      case e => throw e
    }, identity))
  }
}
