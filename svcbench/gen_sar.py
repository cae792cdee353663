"""Deterministic, seeded SAR-text generator with ground truth.

Writes sysstat `sar -A` style text in the layout of the engine's
`sa_24h.txt` fixture: an os_details line, then one block per section
(blank line, header line, samples, `Average:` lines), with optional
`LINUX RESTART` lines inside the first (CPU) section.

Every file comes with its ground truth, the answers the service must give:
rows per section, the devices of device-scoped sections, and per
(section, device, metric) count/min/max/sum of the values as printed.

    python3 gen_sar.py --seed 7 --out day.txt --interval 600 --cpus 8
"""

import argparse
import datetime
import json
import subprocess

import numpy as np

# (tag, metric tokens, value kind) — headers as sysstat prints them and as
# the engine's heading table knows them. kind picks the value range.
SECTIONS = [
    ("CPU", "%usr %nice %sys %iowait %steal %irq %soft %guest %gnice %idle",
     "pct"),
    (None, "proc/s cswch/s", "rate"),
    (None, "pswpin/s pswpout/s", "rate"),
    (None, "pgpgin/s pgpgout/s fault/s majflt/s pgfree/s pgscank/s "
           "pgscand/s pgsteal/s %vmeff", "rate"),
    (None, "tps rtps wtps bread/s bwrtn/s", "rate"),
    (None, "kbmemfree kbavail kbmemused %memused kbbuffers kbcached "
           "kbcommit %commit kbactive kbinact kbdirty kbanonpg kbslab "
           "kbkstack kbpgtbl kbvmused", "kb"),
    (None, "kbswpfree kbswpused %swpused kbswpcad %swpcad", "kb"),
    (None, "dentunusd file-nr inode-nr pty-nr", "count"),
    (None, "runq-sz plist-sz ldavg-1 ldavg-5 ldavg-15 blocked", "load"),
    ("DEV", "tps rkB/s wkB/s areq-sz aqu-sz await svctm %util", "rate"),
    ("IFACE", "rxpck/s txpck/s rxkB/s txkB/s rxcmp/s txcmp/s rxmcst/s "
              "%ifutil", "rate"),
]

def _values(rng, kind, metric, n):
    """n values of one metric, rounded the way sar prints them."""
    if kind == "pct" or metric.startswith("%"):
        return np.round(rng.uniform(0.0, 100.0, n), 2)
    if kind == "kb":
        # integers below 2**24 stay exact through the engine's Float32 cast
        return rng.integers(100_000, 16_000_000, n).astype(np.float64)
    if kind == "count":
        return rng.integers(0, 200_000, n).astype(np.float64)
    if kind == "load":
        return np.round(rng.uniform(0.0, 64.0, n), 2)
    return np.round(rng.uniform(0.0, 5000.0, n), 2)


def _hms(sec):
    return "%02d:%02d:%02d" % (sec // 3600, (sec // 60) % 60, sec % 60)


def generate(seed, host="host01", day="2024-01-15", interval=600, cpus=8,
             disks=4, ifaces=2, restarts=0):
    """Return (text, truth) for one day of samples of one host."""
    rng = np.random.default_rng(seed)
    times = list(range(1 + interval, 86400, interval))
    n = len(times)
    stamps = [_hms(t) for t in times]
    restart_secs = sorted(int(s) for s in rng.choice(
        np.arange(1, n - 1), size=restarts, replace=False)) if restarts else []
    # restart k falls halfway between samples k-1 and k
    restart_at = {k: times[k - 1] + max(1, interval // 2)
                  for k in restart_secs}

    out = ["Linux 5.14.21-150400.24.63-default (%s) \t%s \t_x86_64_\t(%d CPU)"
           % (host, day, cpus), ""]
    truth = {"host": host, "day": day, "interval": interval, "rows": 0,
             "sections": {}, "restarts": [
                 "%s %s" % (day, _hms(restart_at[k])) for k in restart_secs]}
    for tag, header, kind in SECTIONS:
        metrics = header.split()
        if tag == "CPU":
            devices = ["all"] + [str(i) for i in range(cpus)]
        elif tag == "DEV":
            devices = ["dev8-%d" % (16 * i) for i in range(disks)]
        elif tag == "IFACE":
            devices = ["eth%d" % i for i in range(ifaces)]
        else:
            devices = [None]
        nd = len(devices)
        # vals[d][m] : n samples
        vals = np.stack([np.stack([_values(rng, kind, m, n) for m in metrics])
                         for _ in devices])
        head_tok = ([tag] if tag else []) + metrics
        head_line = "%s %9s" % (_hms(1), " ".join("%9s" % t for t in head_tok))
        out.append(head_line)
        cells_fmt = ["%d" if kind in ("kb", "count") and not m.startswith("%")
                     else "%.2f" for m in metrics]
        fmt_vals = [[[cells_fmt[m] % v for v in vals[d][m]]
                     for m in range(len(metrics))] for d in range(nd)]
        for k in range(n):
            if k in restart_at and tag == "CPU":
                out.append("")
                out.append("%s       LINUX RESTART\t(%d CPU)"
                           % (_hms(restart_at[k]), cpus))
                out.append("")
                out.append(head_line)
            for d, dev in enumerate(devices):
                cells = [] if dev is None else ["%9s" % dev]
                cells += ["%9s" % fmt_vals[d][m][k] for m in range(len(metrics))]
                out.append(stamps[k] + " " + " ".join(cells))
        for d, dev in enumerate(devices):
            cells = [] if dev is None else ["%9s" % dev]
            cells += ["%9.2f" % vals[d][m].mean() for m in range(len(metrics))]
            out.append("Average: " + " ".join(cells))
        out.append("")
        sec = {"rows": n * nd, "device_scoped": tag is not None,
               "devices": [d for d in devices if d is not None],
               "metrics": {}}
        for d, dev in enumerate(devices):
            key = dev or ""
            sec["metrics"][key] = {
                m: {"count": n, "min": float(vals[d][i].min()),
                    "max": float(vals[d][i].max()),
                    "sum": float(vals[d][i].sum()),
                    "first": float(vals[d][i][0])}
                for i, m in enumerate(metrics)}
        truth["sections"][header] = sec
        truth["rows"] += n * nd
    truth["first_date"] = "%s %s" % (day, stamps[0])
    return "\n".join(out) + "\n", truth


def write(path, text, truth, xz=False):
    """Write text (xz-compressed through the `xz` binary when asked) and
    its truth beside it as <path>.truth.json; returns the bytes written."""
    data = text.encode()
    if xz:
        data = subprocess.run(["xz", "-c", "-1", "-T1"], input=data,
                              stdout=subprocess.PIPE, check=True).stdout
    with open(path, "wb") as f:
        f.write(data)
    truth = dict(truth, text_bytes=len(text.encode()), file_bytes=len(data))
    with open(path + ".truth.json", "w") as f:
        json.dump(truth, f)
    return len(data)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--host", default="host01")
    p.add_argument("--day", default="2024-01-15")
    p.add_argument("--interval", type=int, default=600)
    p.add_argument("--cpus", type=int, default=8)
    p.add_argument("--disks", type=int, default=4)
    p.add_argument("--ifaces", type=int, default=2)
    p.add_argument("--restarts", type=int, default=0)
    p.add_argument("--xz", action="store_true")
    a = p.parse_args()
    datetime.date.fromisoformat(a.day)
    text, truth = generate(a.seed, a.host, a.day, a.interval, a.cpus,
                           a.disks, a.ifaces, a.restarts)
    write(a.out, text, truth, a.xz)


if __name__ == "__main__":
    main()
