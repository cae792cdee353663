#!/usr/bin/env bash
# Knee-crossing measurement protocol (VERDICT r9 item 6: the tier /
# codec / memory / runs knobs used to live in NOTES command lines —
# this script IS the protocol, one command per phase, reproducible).
#
# Usage:
#   tools/knee_protocol.sh gen        # generate the tB=48 tiers (+ x500k)
#   tools/knee_protocol.sh run OUT    # run KneeBench -> OUT (e.g. SCALE_r11_knee.json)
#
# r11 note: the r10 knee artifact carried a dirty SHA stamp (docs-only
# dirt, but the gate couldn't prove that mechanically — VERDICT r10
# item 1), so the SAME protocol re-runs on a clean tree; artifacts now
# stamp the dirty path LIST and tools/check_artifacts.py distinguishes
# dirty-docs (pass) from dirty-engine (fail). Run campaigns from a
# clean committed tree anyway: a clean stamp needs no judgment call.
#
# Protocol (r10, targetBucket=48 — the second knee geometry; r9 ran the
# same code at tB=32 over x1m/x2p5m/x6m):
#   - tiers: x2p5m (2.5M vecs, FLAT side: 2.5M < 48*65536 = 3.15M),
#     x4m (4M vecs, sharded), x8m (8M vecs, sharded) — the top pair
#     is sharded->sharded at ratio 2.0, both past the knee.
#   - WHY NOT tB=64 with a 10M top tier (the first r10 attempt): one
#     pass of the probes=20 chain at 10M vectors holds >61 GB of live
#     shuffle (the probe exchange ships ~probes x n int8 packs, and
#     every stage's output stays on disk until the job completes) —
#     measured ENOSPC on this sandbox's 62 GB free
#     (/tmp/knee_tb64_enospc.log; the 2.5M/5M tiers completed at
#     608/924 s before the 10M tier died). 8M vectors peak ~50-56 GB,
#     which fits with margin once the unused tiers are deleted. The
#     knee POSITION is a configuration constant (tB x 65,536); the
#     crossing machinery is identical at any tB — see KneeBench's
#     scaladoc.
#   - SPARK_GRAFT_SHUFFLE_CODEC=zstd  (shuffle bytes are the single-host
#     wall; zstd cuts them ~25-40% vs lz4 — the r7 5M-tier protocol)
#   - SPARK_DRIVER_MEM=64g            (default 8g heap GC/spill-poisons
#     alphas — measured r7)
#   - SPARK_GRAFT_SCALE_RUNS=1        (single cold pass per tier; the
#     8M tier is ~25-30 min, and min-of-2 would double the campaign for
#     a statistic the top-pair alpha doesn't need at ratio 2.0)
#   - KneeBench --tb=48 applies the same alpha <= ScaleBench.ContractAlpha
#     gate as ScaleBench (exit 2 on breach; NaN = breach).
# Generation uses plain java over the compiled classes (no sbt lock,
# so it can run while sbt edits/compiles continue) — run `sbt compile`
# first if src changed. KneeBench itself runs under sbt: launch
# DETACHED (nohup setsid ... & disown) and never concurrently with
# another sbt/bench process (lock + CPU contention poisons timings).
set -euo pipefail
cd "$(dirname "$0")/.."

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
CP="target/scala-2.13/classes:/opt/spark/jars/*"

case "${1:-}" in
  gen-r13)
    # r13 re-generates ONLY x6m (reclaimed by the r12 campaign's
    # --reclaim); x12m and x500k are resident. Same sizes/seeds as
    # gen-r12, so the tier is bit-compatible with the r12 readings.
    java -Xmx24g $ADD_OPENS -Dspark.ui.enabled=false \
      -cp "$CP" graft.ScaleGen scale/x6m 600000 6000000 48
    ;;
  run-r13)
    # The r13 campaign: SAME geometry and protocol as run-r12 (tb=64,
    # 6M/12M, probes=4, cold, --reclaim=scale/x6m) re-run at the r13
    # engine, which (a) made trainShardedCodebook's split rounds ship
    # Θ(split-cell ids) instead of full vectors — the measured ~9.6 GB
    # step behind the r12 parked red bytes-alpha 1.189 — and (b) tags
    # every training action with JobLeg job groups so KneeBench gates
    # the PAIR-ENGINE leg's bytes exponent and reports training legs
    # with their split-round count (VERDICT r12 items 1+2).
    OUT="${2:?usage: knee_protocol.sh run-r13 OUT.json}"
    SPARK_GRAFT_SHUFFLE_CODEC=zstd SPARK_DRIVER_MEM=64g \
    SPARK_GRAFT_SCALE_RUNS=1 \
      sbt -batch "runMain graft.KneeBench $OUT --tb=64 --probes=4 --reclaim=scale/x6m scale/x500k scale/x6m scale/x12m"
    ;;
  gen-r12)
    # r12 tiers: x6m/x12m for the tb=64 campaign below (x12m was first
    # generated for the tb=128 attempt — see run-r12's WHY).
    java -Xmx24g $ADD_OPENS -Dspark.ui.enabled=false \
      -cp "$CP" graft.ScaleGen scale/x6m 600000 6000000 48
    java -Xmx24g $ADD_OPENS -Dspark.ui.enabled=false \
      -cp "$CP" graft.ScaleGen scale/x12m 1200000 12000000 96
    ;;
  run-r12)
    # The r12 campaign: tb=64 (knee 4.19M), tiers 6M/12M — both PAST
    # the knee, sharded->sharded top pair at ratio 2.0, probes=4,
    # measured-tier reclaim. The FOURTH measured geometry (tb=32 r9,
    # tb=48 r10+r11), now carrying the r12 cpu-alpha contract leg.
    #
    # WHY NOT the natural tb=128 knee (12M/24M) — two MEASURED
    # refutations this round, not an assumption:
    #   1. probes=5 scout (SCALE_r12_knee_scout_enospc.log): the probe
    #      budget maps to pCoarse=4 x pFine=ceil(p/4) = 8 bucket-probes;
    #      the 12M tier alone accumulated ~40 GB live shuffle and
    #      ENOSPC'd the 44 GB scratch => a 24M pass needs ~80 GB.
    #   2. probes=4 campaign attempt (killed mid-x12m): even at FOUR
    #      bucket-probes the 12M pass held ~36 GB live (blockmgr du) —
    #      the dominant exchange is the fine-training cell shuffle,
    #      which ships float vectors and is PROBES-INDEPENDENT. So no
    #      probe budget fits a 24M tier: live(24M) ~ 70+ GB vs at most
    #      ~56 GB free with every other tier reclaimed.
    # The natural-knee crossing needs a real cluster's scratch (where
    # it spreads over executors); on this host it stays design-
    # extrapolated, now with four measured geometries at alpha ~ 1.
    OUT="${2:?usage: knee_protocol.sh run-r12 OUT.json}"
    SPARK_GRAFT_SHUFFLE_CODEC=zstd SPARK_DRIVER_MEM=64g \
    SPARK_GRAFT_SCALE_RUNS=1 \
      sbt -batch "runMain graft.KneeBench $OUT --tb=64 --probes=4 --reclaim=scale/x6m scale/x500k scale/x6m scale/x12m"
    ;;
  gen)
    # docs tables are only warmup/ballast for KneeBench (it reads
    # embeddings alone) — sized n/10 like the r9 tiers
    java -Xmx24g $ADD_OPENS -Dspark.ui.enabled=false \
      -cp "$CP" graft.ScaleGen scale/x2p5m 250000 2500000 32
    java -Xmx24g $ADD_OPENS -Dspark.ui.enabled=false \
      -cp "$CP" graft.ScaleGen scale/x4m 400000 4000000 32
    java -Xmx24g $ADD_OPENS -Dspark.ui.enabled=false \
      -cp "$CP" graft.ScaleGen scale/x8m 800000 8000000 64
    # the x500k anchor tier (500k vectors) the run-top and run-r12/r13
    # campaigns read
    java -Xmx24g $ADD_OPENS -Dspark.ui.enabled=false \
      -cp "$CP" graft.ScaleGen scale/x500k 50000 500000 32
    ;;
  run)
    OUT="${2:?usage: knee_protocol.sh run OUT.json}"
    SPARK_GRAFT_SHUFFLE_CODEC=zstd SPARK_DRIVER_MEM=64g \
    SPARK_GRAFT_SCALE_RUNS=1 \
      sbt -batch "runMain graft.KneeBench $OUT --tb=48 scale/x2p5m scale/x4m scale/x8m"
    ;;
  run-top)
    # top-pair variant: the x500k anchor replaces the 21-minute x2p5m
    # flat tier as warmup+flat-branch witness (the full flat anchor's
    # cold numbers live in SCALE_r11_knee_attempt2.log); the contract
    # pair is unchanged (x4m -> x8m, both sharded).
    OUT="${2:?usage: knee_protocol.sh run-top OUT.json}"
    SPARK_GRAFT_SHUFFLE_CODEC=zstd SPARK_DRIVER_MEM=64g \
    SPARK_GRAFT_SCALE_RUNS=1 \
      sbt -batch "runMain graft.KneeBench $OUT --tb=48 scale/x500k scale/x4m scale/x8m"
    ;;
  *)
    echo "usage: $0 gen | run OUT.json | run-top OUT.json" >&2; exit 1;;
esac
