package graft.functions

import org.apache.spark.sql.SparkSession

/** Semantic job-leg tagging: the engine stamps the Spark job-group id
  * (thread-local, read by `SparkListenerJobStart.properties`) around
  * its internal training actions, so a listener can attribute jobs and
  * shuffle bytes to a SEMANTIC leg instead of counting jobs by
  * position — `train-coarse` (the flat Lloyd's loop), `train-split:rN`
  * (split-detection counts and round N's seed work), `train-fine` (the
  * fine Lloyd's loop + its sample exchange). [[graft.Par]] carries the
  * tag onto its pool threads.
  *
  * Uses the job-group LOCAL PROPERTY directly (not
  * `SparkContext.setJobGroup`, which also flips interrupt-on-cancel)
  * and restores the caller's value in a `finally`, so nesting works:
  * an outer tag survives the engine's inner training tags, and
  * whatever the engine does not claim stays attributed to the outer
  * leg. Tags are inert without a listener — one thread-local write per
  * tagged block. */
object JobLeg {
  /** Group-id prefix of every tagged leg; an optional `:qualifier`
    * suffix (e.g. `train-split:r2`) subdivides a leg. */
  val Prefix = "graft-leg-"

  private val GroupKey = "spark.jobGroup.id"

  /** Run `body` with Spark jobs submitted FROM THIS THREAD attributed
    * to `leg`; restores the caller's group id after. Lazy frames built
    * inside but materialized outside carry the OUTER tag — tag where
    * the action fires, not where the plan is assembled. */
  def tagged[T](spark: SparkSession, leg: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(GroupKey)
    sc.setLocalProperty(GroupKey, Prefix + leg)
    try body finally sc.setLocalProperty(GroupKey, prev)
  }
}
