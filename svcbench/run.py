#!/usr/bin/env python3
"""Service benchmark: one workload, one seed, one result line.

    python3 svcbench/run.py --workload ui_session --seed 1 --seconds 20 --trace 0

Builds the engine and the load generator from source (sbt, in this
directory) on first use, generates the workload's SAR files from the seed,
runs `graft.service.bench.ServiceBench` in one JVM and prints its JSON
result as the last line of stdout. See README.md for the workloads.
"""

import argparse
import datetime
import json
import os
import shutil
import subprocess
import sys
import time

import gen_sar

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join(HERE, "..", "src", "main")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
OUT = os.path.join(HERE, "out")

# closed-loop clients. large_file is not in BENCHMARK.json (see
# README.md); it runs by hand.
WORKLOADS = {
    "ui_session": 2,
    "ingest_mixed": 2,
    "large_file": 1,
}

# C1 only: JIT compilation finishes within the warm-up round, so the short
# measured window sees compiled code instead of C2's compile schedule,
# which moved request latencies by 10-40 % between identical runs.
JVM = ["-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1",
       "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData"]

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[svcbench] " + msg, file=sys.stderr, flush=True)


def newest_mtime(*roots):
    newest = 0.0
    for root in roots:
        if os.path.isfile(root):
            newest = max(newest, os.path.getmtime(root))
        for d, _, files in os.walk(root):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile engine + load generator once; rebuild when a source is newer."""
    sources = newest_mtime(ENGINE_SRC, os.path.join(HERE, "src"),
                           os.path.join(HERE, "build.sbt"))
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources:
        return
    log("building (sbt writeClasspath) ...")
    os.makedirs(OUT, exist_ok=True)
    # offline resolution from the local caches, as the engine's own build
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx4g"]))
    with open(os.path.join(OUT, "build.log"), "w") as logf:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=logf, stderr=subprocess.STDOUT,
            timeout=850)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit("svcbench: build failed, see svcbench/out/build.log")


def day(i):
    return (datetime.date(2024, 1, 15) + datetime.timedelta(days=i)).isoformat()


def make_inputs(workload, seed, d):
    """Generate the workload's files; return the manifest."""
    def gen(sub, name, tenant, xz=False, **spec):
        path = os.path.join(d, name)
        text, truth = gen_sar.generate(seed * 7919 + sub, **spec)
        gen_sar.write(path, text, truth, xz=xz)
        return {"tenant": tenant, "name": name, "path": path,
                "truth": path + ".truth.json"}

    clients = WORKLOADS[workload]
    setup, fresh = [], []
    if workload == "ui_session":
        # 8 day files over 2 tenants: 2 hosts x 2 days each, some restarts
        for t in range(2):
            for j in range(4):
                host, dd = "host%d%d" % (t, j // 2), day(j % 2)
                setup.append(gen(
                    10 * t + j, "%s_%s.txt" % (host, dd), "u%d" % t,
                    host=host, day=dd, restarts=(j + t) % 3))
    elif workload == "large_file":
        # two high-resolution captures of 16 CPUs
        for j in range(2):
            host = "bighost%d" % j
            setup.append(gen(j, "%s_%s.txt" % (host, day(j)), "u0",
                             host=host, day=day(j), interval=30, cpus=16,
                             restarts=1 - j))
    else:
        for t in range(2):
            setup.append(gen(t, "resident%d.txt" % t, "u%d" % t,
                             host="resident%d" % t, restarts=1))
        # fresh files and their replacements: text and .xz alternate, and
        # a replacement has another interval, so a stale frame shows
        for k in range(12):
            xz = k % 2 == 1
            a = gen(100 + 2 * k, "fresh%02d.%s" % (k, "xz" if xz else "txt"),
                    "", xz=xz, host="fresh%02d" % k, day=day(k),
                    restarts=k % 2)
            b = gen(101 + 2 * k, "fresh%02db.%s" % (k, "txt" if xz else "xz"),
                    "", xz=not xz, host="fresh%02d" % k, day=day(k),
                    interval=300)
            fresh.append([a, b])
    return {"workload": workload, "clients": clients, "seed": seed,
            "setup": setup, "fresh": fresh}


def main():
    p = argparse.ArgumentParser(description="SAR service benchmark")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        sys.exit("svcbench: engine sources not found at src/main")
    build()

    work = os.path.join(HERE, ".work", "%s-%d-%d" % (a.workload, a.seed,
                                                     os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    try:
        t0 = time.time()
        manifest = make_inputs(a.workload, a.seed, work)
        with open(os.path.join(work, "manifest.json"), "w") as f:
            json.dump(manifest, f)
        log("inputs generated in %.1f s" % (time.time() - t0))
        with open(CLASSPATH) as f:
            cp = f.read().strip()
        opens = [x for o in ADD_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")]
        tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
        cmd = (["java"] + JVM + [
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                "-Dspark.ui.enabled=false",
                "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse")]
               + opens +
               ["-cp", cp, "graft.service.bench.ServiceBench",
                "--manifest", os.path.join(work, "manifest.json"),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", os.path.join(work, "store"),
                "--spans", os.path.join(OUT, tag + ".spans.jsonl")])
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True)
        try:
            out, _ = proc.communicate(timeout=170 - (time.time() - t0))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("svcbench: the benchmark JVM timed out")
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.exit("svcbench: the benchmark JVM failed (exit %d)"
                     % proc.returncode)
        print("\n".join(lines[:-1]))
        result = json.loads(lines[-1])
        with open(os.path.join(OUT, tag + ".json"), "w") as f:
            json.dump(result, f, indent=1)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
