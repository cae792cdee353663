package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Knee-crossing measurement for the sharded two-level dedup (VERDICT
  * r7 item 2's "a measured row past the knee with α ≤ ~1.05"): times
  * `Dedup.cosineDupPairsTrainedInt8` — the API default, auto-dispatch
  * included — over embedding corpora that straddle its flat-codebook
  * knee, and reports the scaling exponent between the two largest
  * tiers plus which branch each tier dispatched to.
  *
  * `--tb=N` sets targetBucket — i.e. WHERE the knee sits (N · 65,536
  * vectors). The default 32 places it at 2.1M vectors so the crossing
  * fits a single host's scratch disk: the probe exchange ships
  * ~probes × n int8 packs of LIVE shuffle, and at the natural
  * 128-bucket knee (8.4M vectors, dim 256) that is ~60 GB of
  * near-incompressible codes — measured ENOSPC on this sandbox's 62 GB
  * free (the artifact of that attempt is the documented reason this
  * main exists). The knee POSITION is a configuration constant; the
  * code path that crosses it — count → dispatch → trainShardedCodebook
  * → CellTopK cell routing → the shared int8 pair engine — is
  * identical at any targetBucket, so a scaled-down knee measures the
  * real machinery. r10 crosses a SECOND geometry (tb=64, knee 4.19M —
  * tools/knee_protocol.sh): two geometries crossing at α ≈ 1 is the
  * strongest single-host evidence the superlinear term is dead rather
  * than relocated. On a cluster, scratch scales with executors and the
  * 128-bucket knee is crossed the same way.
  *
  * Timing discipline mirrors ScaleBench: noop sink, one warmup
  * (q-chain at the smallest tier), `SPARK_GRAFT_SCALE_RUNS` full
  * passes (default 2), min-of-runs, cache cleared + GC between execs.
  * Alphas use EMBEDDING row counts (this chain never reads documents).
  *
  * `--probes=N` (default 20) scales the probe budget — and with it the
  * single-host shuffle wall, which is ~probes × n int8 packs: the
  * NATURAL tb=128 knee (8.4M vectors) needs sharded tiers of 12M/24M
  * vectors, whose probes=20 exchange (~150 GB) no single-host scratch
  * here survives, but probes=5 quarters it into range. The α contract
  * is probes-invariant (same budget at every tier of a campaign; the
  * exponent measures how cost grows with n at FIXED per-vector work),
  * so a reduced-probes crossing is a valid exponent measurement — the
  * artifact records the budget so nobody mistakes it for the
  * production-recall configuration.
  *
  * `--reclaim=dir1[,dir2]` deletes a listed tier's table files right
  * after its LAST timed pass (r12): a tier is never read again once
  * its passes finish (row counts are taken up front), so on a
  * single-host scratch disk the measured-and-done small tier can make
  * room for the big tier's live shuffle — the r12 scout measured the
  * 12M tier's probes=5 exchange alone at ~40 GB live, which with both
  * tiers resident left the 24M pass no headroom. The top tier is
  * never reclaimed, and the artifact records what was freed.
  *
  *   runMain graft.KneeBench <outJson> [--tb=N] [--probes=N] [--reclaim=d1,d2] <dir1> <dir2> [... dirN]
  */
object KneeBench {
  def main(args: Array[String]): Unit = {
    val outJson = args(0)
    val targetBucket = args.drop(1).find(_.startsWith("--tb="))
      .map(_.stripPrefix("--tb=").toInt).getOrElse(32)
    val probes = args.drop(1).find(_.startsWith("--probes="))
      .map(_.stripPrefix("--probes=").toInt).getOrElse(20)
    val reclaim = args.drop(1).find(_.startsWith("--reclaim="))
      .map(_.stripPrefix("--reclaim=").split(",").toSet)
      .getOrElse(Set.empty[String])
    val dirs = args.drop(1).filterNot(_.startsWith("--")).toSeq
    // size first (r12 ADVICE: dirs.last on an empty list crashed with
    // NoSuchElementException before the intended message), then the
    // reclaim checks — a typo'd --reclaim entry must fail loudly, not
    // leave the tier resident and re-invite the ENOSPC the flag avoids
    require(dirs.size >= 2, "need at least two scale dirs")
    require(reclaim.subsetOf(dirs.toSet),
      s"--reclaim entries not among the scale dirs: " +
        s"${(reclaim -- dirs).toSeq.sorted.mkString(", ")}")
    require(!reclaim.contains(dirs.last),
      "the top tier is never reclaimed (it is the contract pair's big side)")
    require(targetBucket >= 1 && probes >= 1,
      "targetBucket and probes must be >= 1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt
    val spark = GraftSession.get()
    spark.sparkContext.setLogLevel("WARN")
    if (!sys.env.contains("SPARK_GRAFT_INITIAL_PARTITIONS"))
      spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", 256)

    val nVecs: Map[String, Long] = dirs.map { d =>
      d -> spark.read.parquet(s"$d/embeddings.parquet").count()
    }.toMap

    // stage-aggregated shuffle write bytes: wall time on a single host folds page-cache and
    // spill-I/O CONSTANTS into the exponent — the first r11 campaign
    // measured the same code at 4M in 910 s where r10's campaign took
    // 1133 s (the 8 M tier agreed to ±0.1%), a ±20% small-tier swing
    // that moves a ratio-2.0 alpha by ±0.3. Shuffle bytes are the
    // noise-free twin: they count what the ENGINE ships, so
    // bytes-alpha ≈ 1 mechanically separates "candidate volume grew
    // superlinearly" (an engine defect) from "the host's memory/IO
    // cliff priced the big tier's constant up" (a deployment fact a
    // cluster spreads away). Recorded per tier + as a top-pair alpha.
    //
    // executorCpuTime rides the same listener (r12 — VERDICT r11 item
    // 1: bytes-alpha alone is BLIND to a superlinear compute term at
    // constant shuffle — within-cell candidate growth under occupancy
    // skew grows pair comparisons quadratically in bucket size while
    // shipping zero extra bytes). CPU time excludes I/O wait and GC
    // stalls' wall component, so it is nearly as host-noise-free as
    // bytes; the contract gates on BOTH exponents.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val cpuNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    // Per-JOB byte attribution (r12) + SEMANTIC legs (r13 — VERDICT
    // r12 item 2): the aggregate bytes exponent cannot distinguish "a
    // bounded training step straddled the tier pair" from "the pair
    // engine ships superlinear candidates" — the exact ambiguity the
    // parked r12 campaign hit (bytes-α 1.189 with cpu-α 1.018). The
    // engine now stamps its internal training actions with
    // `graft.functions.JobLeg` job-group tags (train-coarse /
    // train-split:{detectN,rN} / train-fine), and this harness wraps
    // the timed chain in a `pair` tag — so the dispatch count, the
    // probe routing, and the pair-engine exchange (one fused noop-
    // write job, inseparable at job granularity and all
    // probes-dependent serve-path work) land in `pair`, while each
    // bounded training leg is its own series. The CONTRACT gates the
    // pair leg's bytes exponent (the term that must be linear at any
    // scale) plus cpu; training-leg bytes are reported per leg with
    // the observed split-round count, so a step is an explained
    // integer, not a silent 19 %.
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[
      Integer, Integer]()
    val jobGroup = new java.util.concurrent.ConcurrentHashMap[
      Integer, String]()
    val jobBytes = new java.util.concurrent.ConcurrentHashMap[
      Integer, java.util.concurrent.atomic.AtomicLong]()
    // bumped LAST per event: a settle loop that watches this stamp has
    // seen every counter of every drained event (r11 ADVICE: settling
    // on shuffleBytes alone let late spill/cpu events leak into the
    // next exec's before-snapshot)
    val eventStamp = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          j.stageIds.foreach(s => stageToJob.put(s, j.jobId))
          jobGroup.put(j.jobId, Option(j.properties)
            .map(_.getProperty("spark.jobGroup.id")).flatMap(Option(_))
            .getOrElse(""))
          eventStamp.incrementAndGet()
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          val bytes =
            s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          shuffleBytes.addAndGet(bytes)
          spillBytes.addAndGet(s.stageInfo.taskMetrics.diskBytesSpilled)
          cpuNanos.addAndGet(s.stageInfo.taskMetrics.executorCpuTime)
          jobBytes.computeIfAbsent(
              stageToJob.getOrDefault(s.stageInfo.stageId, -1),
              _ => new java.util.concurrent.atomic.AtomicLong(0L))
            .addAndGet(bytes)
          eventStamp.incrementAndGet()
        }
      })
    def jobBytesNow(): Map[Int, Long] = {
      import scala.jdk.CollectionConverters._
      jobBytes.asScala.map { case (k, v) => (k.intValue, v.get) }.toMap
    }

    // Every timed pass starts PAGE-CACHE COLD (r11 protocol fix): the
    // first r11 campaign ran its 4M tier over freshly-generated,
    // fully-cached parquet (910 s) where r10's campaign paid cold
    // reads (1133 s) — a ±20% small-tier swing that says nothing
    // about the engine and moves a ratio-2 alpha by ±0.3. The 8 M
    // tier's working set exceeds what the cache can hold either way
    // (its two campaigns agreed to ±0.1%), so cache luck
    // systematically flatters SMALL tiers and inflates measured
    // alpha noise in one direction. At 100 TB nothing is page-cached;
    // cold-per-tier is the deployment-relevant constant. Best-effort
    // (requires root), but the artifact's `page_cache_cold` stamp is
    // COMPUTED from the outcomes (r12 — the r11 ADVICE finding: the
    // stamp was a hardcoded `true`, so a non-root run would have
    // claimed a cold measurement it never made).
    def dropPageCache(): Boolean =
      try {
        val p = new ProcessBuilder("sh", "-c",
          "sync && echo 3 > /proc/sys/vm/drop_caches").start()
        val ok = p.waitFor() == 0
        if (!ok)
          System.err.println("[knee] drop_caches failed (non-root?) — " +
            "timed pass runs page-cache warm")
        ok
      } catch { case e: Exception =>
        System.err.println(s"[knee] drop_caches unavailable: $e")
        false
      }

    case class Pass(secs: Double, bytes: Long, spill: Long,
      cpuSecs: Double, cold: Boolean, failed: Boolean = false,
      jobs: Seq[(Int, Long)] = Seq.empty,
      legs: Map[String, Long] = Map.empty, splitRounds: Int = 0)
    def timed(dir: String): Pass = {
      val cold = dropPageCache()
      val beforeJobs = jobBytesNow()
      val (before, beforeSpill, beforeCpu) =
        (shuffleBytes.get(), spillBytes.get(), cpuNanos.get())
      val t0 = System.nanoTime()
      val (secs, ok) =
        try {
          // `pair` = everything the ENGINE's training tags don't claim:
          // the dispatch count, probe routing, and the pair exchange —
          // the serve-path whose bytes must be linear at any scale
          graft.functions.JobLeg.tagged(spark, "pair") {
            graft.functions.Dedup.cosineDupPairsTrainedInt8(
                spark.read.parquet(s"$dir/embeddings.parquet"),
                "vec_id", "embedding", threshold = 0.45, probes = probes,
                targetBucket = targetBucket)
              .write.mode("overwrite").format("noop").save()
          }
          ((System.nanoTime() - t0) / 1e9, true)
        } catch { case e: Throwable =>
          System.err.println(s"[knee] $dir failed: ${e.getMessage}")
          (-1.0, false)
        } finally {
          // settle on the shared event stamp (bumped after ALL counters
          // per event) in the finally, so a FAILED run also drains its
          // residual async stage events before the next exec snapshots
          // (r11 ADVICE: the old loop settled shuffleBytes only, and an
          // exception skipped settling entirely)
          var last = -1L
          var now = eventStamp.get()
          while (now != last) { last = now; Thread.sleep(300)
            now = eventStamp.get() }
          spark.catalog.clearCache()
          System.gc()
        }
      if (!ok) Pass(-1.0, 0L, 0L, 0.0, cold, failed = true)
      else {
        val jobs = jobBytesNow().map { case (j, b) =>
          (j, b - beforeJobs.getOrElse(j, 0L))
        }.filter(_._2 > 0).toSeq.sortBy(_._1)
        val groupsOf = jobs.map { case (j, b) =>
          (jobGroup.getOrDefault(j, ""), b) }
        val legs = groupsOf.groupBy { case (g, _) =>
          graft.functions.JobLeg.legOf(g).getOrElse("untagged") }
          .map { case (l, js) => l -> js.map(_._2).sum }
        val splitRounds = groupsOf.map(_._1)
          .filter(g =>
            graft.functions.JobLeg.legOf(g).contains("train-split"))
          .flatMap(g => graft.functions.JobLeg.qualifierOf(g))
          .filter(q => q.startsWith("r") && q.drop(1).forall(_.isDigit))
          .distinct.size
        Pass(secs, shuffleBytes.get() - before,
          spillBytes.get() - beforeSpill,
          (cpuNanos.get() - beforeCpu) / 1e9, cold, failed = false,
          jobs, legs, splitRounds)
      }
    }

    timed(dirs.head) // warmup: codegen + file listing, untimed
    val failedPass = Pass(-1.0, 0L, 0L, 0.0, cold = false, failed = true)
    val mins: Map[String, Pass] = dirs.map { d =>
      val ts = (0 until runs).map(_ => timed(d))
      // this tier is measured and will never be read again — free its
      // scratch for the bigger tiers' live shuffle if asked (scaladoc)
      if (reclaim.contains(d)) {
        println(s"[knee] reclaiming measured tier $d")
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
      // min wall time and ITS run's bytes (bytes are deterministic per
      // plan; runs differ only by noise in the counter's stage set);
      // coldness is the AND across the tier's timed passes — one warm
      // pass taints the tier's min
      d -> (if (ts.exists(_.secs < 0)) failedPass
            else ts.minBy(_.secs).copy(cold = ts.forall(_.cold)))
    }.toMap
    // warm counts only SUCCESSFUL tiers (r12 ADVICE: a failed tier was
    // mapped cold=false and inflated warm_tiers, misreporting the
    // cause); failures get their own field and always gate via NaN
    val failedTiers = mins.values.count(_.failed)
    val warmTiers = mins.values.count(p => !p.failed && !p.cold)
    val allCold = failedTiers == 0 && warmTiers == 0

    val (dSmall, dBig) = (dirs(dirs.size - 2), dirs.last)
    val ratio = nVecs(dBig).toDouble / nVecs(dSmall)
    def pairAlpha(small: Double, big: Double): Double =
      if (small <= 0 || big <= 0) Double.NaN
      else math.log(big / small) / math.log(ratio)
    val alpha = pairAlpha(mins(dSmall).secs, mins(dBig).secs)
    val bytesAlpha = pairAlpha(mins(dSmall).bytes.toDouble,
      mins(dBig).bytes.toDouble)
    val cpuAlpha = pairAlpha(mins(dSmall).cpuSecs, mins(dBig).cpuSecs)
    // per-leg bytes exponents over the top pair (r13): the `pair` leg
    // is the contract candidate; training legs are reported so a
    // bounded step (e.g. one extra split round at the big tier) is an
    // explained integer instead of an unattributable aggregate bump
    val legAlpha: Seq[(String, Double)] =
      (mins(dSmall).legs.keySet ++ mins(dBig).legs.keySet).toSeq.sorted
        .map(l => l -> pairAlpha(
          mins(dSmall).legs.getOrElse(l, 0L).toDouble,
          mins(dBig).legs.getOrElse(l, 0L).toDouble))
    val pairLegAlpha = legAlpha.toMap.getOrElse("pair", Double.NaN)
    // the knee predicate is Dedup's own (r8 advisor: a locally
    // recomputed constant would mislabel the branch if the dispatch
    // formula ever moved)
    val knee = graft.functions.Dedup.flatKneeVectors(targetBucket)
    def branch(d: String): String =
      if (nVecs(d) > knee) "sharded" else "flat"
    val rows = dirs.map { d =>
      val p = mins(d)
      println(f"[knee] ${nVecs(d)}%9d vecs (${branch(d)}%7s)  " +
        f"${p.secs}%8.2fs  ${p.cpuSecs}%9.2fs cpu" +
        f"  ${p.bytes / 1e9}%7.2f GB shuffle  ${p.spill / 1e9}%7.2f GB spill")
      s"""    "${nVecs(d)}": {"secs": ${f"${p.secs}%.3f"}, """ +
        s""""cpu_secs": ${f"${p.cpuSecs}%.3f"}, """ +
        s""""shuffle_write_bytes": ${p.bytes}, """ +
        s""""disk_spill_bytes": ${p.spill}, """ +
        s""""page_cache_cold": ${p.cold}, """ +
        // per-job bytes in job order: the leg-attribution raw data
        // (training actions first, the pair-engine job last)
        s""""job_shuffle_bytes": ${p.jobs.map(_._2)
          .mkString("[", ",", "]")}, """ +
        // semantic legs (r13): engine JobLeg tags aggregated per tier
        s""""leg_shuffle_bytes": ${p.legs.toSeq.sortBy(_._1)
          .map { case (l, b) => s""""$l": $b""" }
          .mkString("{", ", ", "}")}, """ +
        s""""split_rounds": ${p.splitRounds}, """ +
        s""""branch": "${branch(d)}"}"""
    }
    // The α-contract gate (VERDICT r8 item 1: the knee row must be
    // gate-checked, not eyeballed), r11 revision after two
    // page-cache-cold campaigns (SCALE_r11_knee_attempt{1,2}.log): the
    // ENGINE contract is the BYTES exponent, the wall exponent is
    // recorded and loudly disclosed when it exceeds the bound. r12
    // adds the CPU exponent as a second contract leg (VERDICT r11
    // item 1): bytes are blind to a superlinear compute term at
    // constant shuffle — within-cell candidate growth under occupancy
    // skew grows pair comparisons quadratically in bucket size while
    // shipping zero extra bytes — and executorCpuTime excludes the
    // I/O wait that makes single-host wall unusable, so the gate is
    // max(bytes-α, cpu-α) < contract.
    //
    // Why: wall time on a single host conflates the engine with the
    // host's RAM boundary. Measured, same code: the 8M tier costs
    // 2327 s page-cache warm and 2806 s cold (its ~82 GB of shuffle
    // cannot live in this host's ~60 GB of free RAM, so shuffle reads
    // hit physical disk and spill begins — 0 → 0.96 GB), while the 4M
    // tier's ~40 GB stays cache-resident either way (cold 1137.6 s ==
    // r10's 1133 s to 0.4%). So a cold 4M→8M WALL pair reads
    // α ≈ 1.30 even though the engine ships LINEAR bytes
    // (39.6 → 81.7 GB at 2.0× data, bytes-α 1.045) — and r10's green
    // wall-α 1.039 was the complementary accident (warm big tier).
    // What kills a 100 TB run is superlinear BYTES (every shipped
    // byte is shipped at every scale); the RAM boundary is a
    // deployment constant a 1000-executor cluster spreads 1000 ways.
    // A bytes-α breach is therefore a violation; a wall-α breach at
    // linear bytes is stamped `wall_alpha_exceeds_contract: true`
    // with per-tier bytes+spill so the single-host I/O story is
    // machine-readable, never hidden. NaN (a tier failed) is always a
    // violation: a knee artifact without its top pair proves nothing.
    // The contract is defined for a SAME-BRANCH pair only: a
    // flat→sharded top pair measures the knee-crossing constant, not
    // a growth term — recorded as `top_pair_crossing: true`, gated on
    // NaN alone, and check_artifacts.py refuses it without an
    // explicit waiver.
    // r13 contract revision (VERDICT r12 item 2, justified by the
    // parked r12 campaign — bytes-α 1.189 aggregate at cpu-α 1.018 and
    // the cause a bounded, probes-independent TRAINING step): the
    // bytes leg of the gate is the PAIR-ENGINE leg's exponent — the
    // serve-path bytes that must be linear at every scale, the term
    // the aggregate could not isolate. Aggregate bytes-α stays
    // recorded with a loud disclosure flag when it exceeds the bound
    // (like wall), and training legs ride per-leg with the observed
    // split-round count, so a bounded step is explained, never hidden.
    val crossing = branch(dSmall) != branch(dBig)
    val violations =
      if (alpha.isNaN || bytesAlpha.isNaN || cpuAlpha.isNaN ||
          pairLegAlpha.isNaN ||
          (!crossing && math.max(pairLegAlpha, cpuAlpha) >=
            ScaleBench.ContractAlpha))
        Seq("q_dedup_cosine_int8(sharded top pair)")
      else Seq.empty[String]
    val wallExceeds = !crossing && !alpha.isNaN &&
      alpha >= ScaleBench.ContractAlpha
    val bytesAggExceeds = !crossing && !bytesAlpha.isNaN &&
      bytesAlpha >= ScaleBench.ContractAlpha
    def num(v: Double): String = if (v.isNaN) "null" else f"$v%.3f"
    val json =
      s"""{
  ${BenchUtil.commitJsonFields()},
  "chain": "q_dedup_cosine_int8 (API default, targetBucket=$targetBucket, probes=$probes)",
  "probes": $probes,
  "page_cache_cold": $allCold,
  "warm_tiers": $warmTiers,
  "failed_tiers": $failedTiers,
  "reclaimed_tiers": ${reclaim.toSeq.sorted.map(d => s""""$d"""")
        .mkString("[", ",", "]")},
  "knee_vectors": $knee,
  "top_pair_ratio": ${f"$ratio%.2f"},
  "top_pair_crossing": $crossing,
  "tiers": {
${rows.mkString(",\n")}
  },
  "alpha_top_pair": ${num(alpha)},
  "bytes_alpha_top_pair": ${num(bytesAlpha)},
  "cpu_alpha_top_pair": ${num(cpuAlpha)},
  "leg_bytes_alpha_top_pair": ${legAlpha
        .map { case (l, a) => s""""$l": ${num(a)}""" }
        .mkString("{", ", ", "}")},
  "pair_leg_bytes_alpha": ${num(pairLegAlpha)},
  "contract_alpha": ${ScaleBench.ContractAlpha},
  "contract_on": "max(pair_leg_bytes_alpha, cpu_alpha_top_pair)",
  "wall_alpha_exceeds_contract": $wallExceeds,
  "bytes_alpha_exceeds_contract": $bytesAggExceeds,
  "contract_violations": ${violations.map(n => s""""$n"""")
        .mkString("[", ",", "]")}
}
"""
    Files.writeString(Paths.get(outJson), json)
    println(s"[knee] wrote $outJson; top pair wall-alpha=${num(alpha)} " +
      s"bytes-alpha=${num(bytesAlpha)} cpu-alpha=${num(cpuAlpha)} " +
      s"pair-leg-bytes-alpha=${num(pairLegAlpha)} cold=$allCold")
    if (violations.nonEmpty) {
      System.err.println(
        s"[knee] CONTRACT FAILURE: ${violations.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    spark.stop()
  }
}
