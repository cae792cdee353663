package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct,
  GlobalLimit, Join, RepartitionOperation, Sort, Window}

/** Scale-adaptive input spreading for per-row-expensive stages.
  *
  * A production corpus scans as thousands of splits, and [[across]] is
  * then a no-op; the pathological regime is the SMALL end: a sub-128 MB
  * parquet file plans as ONE scan task, so a per-row-heavy map stage
  * (shingle explodes, per-token hashing, O(n²) pair scoring) runs on a
  * single core regardless of session width — the optimization guide's
  * "input skew: one small/unsplittable file" case (§2.5), measured on
  * the oracle corpora as taskSum ≈ wall on a 32-core session (e.g. the
  * exact cosine pair baseline: 6.0 s wall, 5.8 s summed task time, one
  * task). The remedy is the guide's — repartition right after the read
  * — applied ONLY when it buys real parallelism (≥ 4× more partitions
  * than the scan would yield), so at scale nothing is added: an
  * unconditional round-robin repartition would be a full extra shuffle
  * of the corpus.
  *
  * The decision reads the OPTIMIZED LOGICAL plan, never `Dataset.rdd`:
  * materializing the RDD of an adaptive plan executes its upstream
  * query stages eagerly (measured: a probe on a windowed frame ran the
  * whole upstream once for the probe and again in the real query). Two
  * rules:
  *  - a frame whose plan already contains a shuffle-inducing operator
  *    (aggregate/join/window/sort/distinct/repartition/limit) passes
  *    through untouched — its rows already landed on
  *    `spark.sql.shuffle.partitions` reducers;
  *  - otherwise (scan-shaped: leaf + filter/project/union/explode) the
  *    scan's task count is estimated from the plan's size statistics
  *    over `spark.sql.files.maxPartitionBytes`, and the frame spreads
  *    iff that estimate is under a quarter of the session's default
  *    parallelism.
  *
  * Determinism: round-robin repartition sorts rows within each input
  * partition before assigning them (`sortBeforeRepartition`, on since
  * SPARK-23207), so the row→partition mapping is a pure function of
  * the input and retries/reruns see identical layouts. Callers remain
  * responsible for spreading only stages whose RESULTS are partition-
  * independent — per-row projections, integer/min/max/count
  * aggregates, sorted collects, order-free count-map merges — never
  * ahead of a floating-point SUM or a mergeable sketch, whose
  * partial-merge order would become nondeterministic.
  */
object Spread {

  /** Bytes of estimated input per spread partition (r14 — VERDICT r13
    * item 3). r13 spread every firing frame to FULL session parallelism,
    * and the driver's 8-core scaling run beat the 32-core run on the
    * lightest spread queries: at oracle SF the per-partition data is
    * kilobytes, so a 32-way round-robin exchange buys parallelism worth
    * microseconds while paying ~32 driver-serialized task launches per
    * downstream stage (REPARTITION_BY_NUM is exempt from AQE
    * coalescing). Scaling the width with estimated bytes keeps the
    * task-count tax proportional to the data while heavy-per-row
    * stages retain enough lanes; the 4·scanTasks floor preserves a
    * real spread (≥4×) whenever the gate fires at all. The value is
    * measured at sf0.1 (see OPTIMIZATION_r14.md — the knee between
    * q_pii_redact-style per-row heavy winners and q_ppl_buckets-style
    * light chains). */
  private[graft] val bytesPerSpreadPartition: Long = 131072L

  /** `df` repartitioned for real parallelism when it is scan-shaped and
    * its estimated scan yields less than a quarter of the session's
    * default parallelism; `df` unchanged otherwise. The width is
    * `min(parallelism, max(4·scanTasks, bytes/bytesPerSpreadPartition))`
    * — capped by the session, floored at a genuine 4× spread, scaled by
    * estimated input bytes in between.
    *
    * `perRowCorpusScaled = true` is the caller's declaration that each
    * ROW's downstream cost grows with the CORPUS (a pair scan: every
    * probe row walks Θ(n) candidates — [[Dedup.cosineDupPairsExact]]'s
    * broadcast nested loop), so compute, not bytes, sizes the width:
    * such frames spread to full session parallelism as in r13
    * (measured at sf0.1: the exact pair baseline is 0.6 s at width 24
    * and 1.6 s at width 4, while every bytes-proportional per-row map
    * is flat-to-faster at the byte-scaled width). Purely plan-level —
    * runs no job. */
  def across(df: DataFrame, perRowCorpusScaled: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    val alreadyDistributed = plan.exists {
      case _: Aggregate | _: Join | _: Window | _: Sort | _: Distinct |
          _: RepartitionOperation | _: GlobalLimit => true
      case _ => false
    }
    if (alreadyDistributed) df
    else {
      val maxSplit = math.max(1L,
        spark.sessionState.conf.filesMaxPartitionBytes)
      spreadWidth(plan.stats.sizeInBytes, maxSplit, target,
          bytesPerSpreadPartition, perRowCorpusScaled)
        .fold(df)(df.repartition(_))
    }
  }

  /** The width decision alone, as a pure function (unit-testable —
    * the gate cannot fire at the test suite's local[4] where
    * scanTasks·4 ≥ 4 always): None = pass through; Some(w) =
    * repartition to w. Unknown stats default to Long.MaxValue-ish —
    * treated as huge, i.e. never spread (the conservative direction). */
  private[graft] def spreadWidth(bytes: BigInt, maxSplit: Long,
      target: Int, perPart: Long,
      perRowCorpusScaled: Boolean): Option[Int] = {
    val scanTasks = (bytes / math.max(1L, maxSplit))
      .min(BigInt(Int.MaxValue)).toLong.max(1L)
    if (scanTasks * 4 >= target) None
    else if (perRowCorpusScaled) Some(target)
    else {
      val byBytes = (bytes / math.max(1L, perPart))
        .min(BigInt(target)).toLong
      Some(math.min(target.toLong,
        math.max(4L * scanTasks, byBytes)).toInt)
    }
  }
}
