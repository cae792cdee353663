#!/usr/bin/env python3
"""Compare two sets of service-benchmark results, one row per workload.

    python3 svcbench/diff.py <before> <after>

Each side is a directory of result files as run.py leaves them in
svcbench/out (`<workload>-seed<n>-trace<0|1>.json`), or a single such file.

- End-to-end timings (trace 0) are compared by median against the bounds
  in BENCHMARK.json. A side whose spread (interquartile range over median)
  is wider than the bound makes the metric "unresolved", unless every run
  of `after` reads better than every run of `before`.
- Structural counts (trace 1 metrics whose unit is `count`: Spark jobs,
  stages and tasks per request, rows) must be identical; any difference
  is listed.

Exits 1 when a timing regressed or a structural count changed.
"""

import glob
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"(?P<wl>[a-z_]+)-seed(?P<seed>\d+)-trace(?P<trace>[01])\.json$")


def load(side):
    """{(workload, trace): {metric: [values]}} plus units."""
    files = [side] if os.path.isfile(side) else sorted(
        glob.glob(os.path.join(side, "*.json")))
    runs, units = {}, {}
    for f in files:
        m = NAME.search(os.path.basename(f))
        if not m:
            continue
        with open(f) as fh:
            res = json.load(fh)
        key = (m["wl"], int(m["trace"]))
        for name, v in res["metrics"].items():
            if v["value"] is not None:
                runs.setdefault(key, {}).setdefault(name, []).append(v["value"])
            units[name] = v["unit"]
    return runs, units


def spread(vals):
    if len(vals) < 2:
        return 0.0
    q = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return (q[2] - q[0]) / med if med else 0.0


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    before, units = load(sys.argv[1])
    after, units2 = load(sys.argv[2])
    units.update(units2)
    bad = False
    workloads = sorted({wl for wl, _ in before} | {wl for wl, _ in after})
    print("%-14s %s" % ("workload", "end-to-end | structural"))
    for wl in workloads:
        verdicts, notes = {}, []
        b0, a0 = before.get((wl, 0), {}), after.get((wl, 0), {})
        for name, spec in e2e.items():
            if name not in b0 or name not in a0:
                continue
            bv, av = b0[name], a0[name]
            mb, ma = statistics.median(bv), statistics.median(av)
            sign = 1 if spec["better"] == "lower" else -1
            worse = sign * (ma - mb) / mb
            all_better = all(sign * (a - b) < 0 for a in av for b in bv)
            if max(spread(bv), spread(av)) > spec["bound"] and not all_better:
                v = "unresolved"
            elif worse > spec["bound"]:
                v, bad = "regressed", True
            elif all_better and len(av) > 1:
                v = "improved"
            else:
                v = "same"
            verdicts[v] = verdicts.get(v, 0) + 1
            if v != "same":
                notes.append("  %-22s %-10s %.4g -> %.4g %s (%+.1f%%, spread "
                             "%.3f/%.3f, bound %.2f)"
                             % (name, v, mb, ma, spec["unit"],
                                100 * (ma - mb) / mb, spread(bv), spread(av),
                                spec["bound"]))
        b1, a1 = before.get((wl, 1), {}), after.get((wl, 1), {})
        changed = []
        for name in sorted(set(b1) & set(a1)):
            if units.get(name) != "count":
                continue
            if sorted(set(b1[name])) != sorted(set(a1[name])):
                changed.append("  %-40s %s -> %s" % (name, sorted(set(b1[name])),
                                                      sorted(set(a1[name]))))
        if changed:
            bad = True
        struct = ("no traced runs" if not (b1 and a1) else
                  "%d counts changed" % len(changed) if changed else
                  "identical")
        print("%-14s %s | %s" % (wl, ", ".join(
            "%d %s" % (n, v) for v, n in sorted(verdicts.items())) or "no runs",
            struct))
        for line in notes + changed:
            print(line)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
