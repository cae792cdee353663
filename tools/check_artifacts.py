#!/usr/bin/env python3
"""Round-end artifact discipline gate (VERDICT r8 item 3): every
benchmark artifact of the current round must embed the git SHA it was
measured on, and no code THAT ARTIFACT'S MEASUREMENT DEPENDS ON may
have changed between that SHA and HEAD — an artifact measured on older
code is not evidence about the shipped code. Committing the artifact
itself (and docs/logs) naturally moves HEAD, so the gate checks the
measured-SHA..HEAD diff rather than literal SHA equality.

An artifact depends on the ENGINE (everything under src/ except the
top-level harness mains, plus build config) and on its PRODUCING main.
A change inside another main does not alter what the producing binary
measured, so it must not invalidate the artifact: kept mains that
produce no gated artifact map to no artifact at all, and a main
deleted since the stamp is no measured-code change. The knee
artifacts' producer is deleted; their top-pair and contract checks
below still read the committed history.

Dirty stamps (r11 — VERDICT r10 item 1): BenchUtil now embeds the
tracked-modified PATH LIST next to the `-dirty` SHA, so the gate can
distinguish dirty DOCS (notes/artifacts edited while a campaign ran —
harmless, the binary measured committed code) from dirty ENGINE (the
r8 failure mode). A `-dirty` commit passes iff `dirty_paths` is
present AND none of its paths is measured code for that artifact —
same path filter as the SHA-drift check. A `-dirty` commit WITHOUT
the list (pre-r11 stamp) still fails: unverifiable dirt is dirt.

The gate also fails any artifact that COMMITS a contract violation
(VERDICT r9 item 8), and — r11, the r10 ADVICE finding — any KNEE
artifact whose top pair CROSSES the flat/sharded boundary
(`top_pair_crossing: true`): a crossing pair skips the alpha contract
entirely, so such an artifact would pass while verifying nothing
about scaling. A deliberate crossing measurement must carry an
explicit `"crossing_waiver": "<why>"` field to pass.

Usage: tools/check_artifacts.py [glob ...]   (default: SCALE_r13*.json,
BENCH_FULL.json)
Exit 0 = every artifact's measured code state is HEAD's and its
contract is clean; 1 otherwise.
"""
import fnmatch
import glob
import json
import subprocess
import sys

DEFAULT = ["SCALE_r13*.json", "BENCH_FULL.json"]

# top-level harness mains: each affects only the artifacts it produces.
# ScaleGen is mapped to every SCALE_* artifact (r9 ADVICE: a generator
# change regenerates tiers, which changes what any scale run measured;
# tiers generated under an OLDER ScaleGen and never regenerated would
# false-fail here — regenerate or re-run by hand in that case).
MAINS = {
    "src/main/scala/graft/Bench.scala": ["BENCH_FULL.json", "BENCH_*.json"],
    # the SHA stamp itself: metadata on every artifact, input to none
    "src/main/scala/graft/BenchUtil.scala": [],
    "src/main/scala/graft/ScaleBench.scala": ["SCALE_r*_x5m.json",
                                              "SCALE_r*_sharded.json",
                                              "SCALE_r?.json"],
    "src/main/scala/graft/ScaleGen.scala": ["SCALE_r*.json"],
}
# kept mains that produce no gated artifact: plan printer, correctness
# dump
MAINS.update((f"src/main/scala/graft/{m}.scala", [])
             for m in ("Explain", "Verify"))


def run(*args):
    """Run a git command; any failure (bad SHA, not a repo, missing
    binary) raises instead of returning empty output — the r9 advisor
    found the gate FAILING OPEN: a fabricated/rebased-away SHA made
    `git diff` error out, the empty stdout read as 'no changes', and
    the artifact printed ok."""
    r = subprocess.run(args, capture_output=True, text=True)
    if r.returncode != 0:
        raise RuntimeError(
            f"{' '.join(args)} failed ({r.returncode}): {r.stderr.strip()}")
    return r.stdout


def sha_in_repo(sha):
    """True iff `sha` names a commit object present in this repo."""
    r = subprocess.run(["git", "cat-file", "-e", f"{sha}^{{commit}}"],
                       capture_output=True, text=True)
    return r.returncode == 0


def measured_code_paths(paths, artifact):
    """The subset of `paths` the artifact's measurement depends on:
    engine/build-config files, plus the artifact's own producing main
    (other producers' files are gate metadata, not inputs)."""
    bad = []
    for p in paths:
        if p in MAINS:
            if any(fnmatch.fnmatch(artifact, pat) for pat in MAINS[p]):
                bad.append(p)
        elif (p.startswith(("src/main/", "project/"))
              or p == "build.sbt"):  # tests can't change a measurement
            bad.append(p)
    return bad


def deleted_main(sha, path):
    """True iff `path` is a top-level harness main (a `def main(` file
    directly under src/main/scala/graft/) at `sha` that HEAD no longer
    has: deleting a main changes no other main's binary, and its own
    artifacts are history, so its removal measures nothing."""
    if path.count("/") != 4 or not path.startswith("src/main/scala/graft/"):
        return False
    if subprocess.run(["git", "cat-file", "-e", f"HEAD:{path}"],
                      capture_output=True).returncode == 0:
        return False
    return "def main(" in run("git", "show", f"{sha}:{path}")


def invalidating_changes(sha, artifact):
    out = run("git", "diff", "--name-only", f"{sha}..HEAD")
    return [p for p in measured_code_paths(out.splitlines(), artifact)
            if not deleted_main(sha, p)]


head = run("git", "rev-parse", "HEAD").strip()
paths = sorted(p for g in (sys.argv[1:] or DEFAULT) for p in glob.glob(g))
bad = []
for p in paths:
    try:
        doc = json.load(open(p))
        commit = doc.get("commit", "<absent>")
        violations = doc.get("contract_violations", [])
    except Exception as e:  # unparseable artifact is also a failure
        print(f"FAIL {p}: unreadable artifact: {e}")
        bad.append(p)
        continue
    dirty_note = ""
    if commit.endswith("-dirty"):
        dirty = doc.get("dirty_paths")
        if not isinstance(dirty, list):
            print(f"FAIL {p}: commit {commit!r} is dirty with no "
                  "dirty_paths list (pre-r11 stamp) — unverifiable dirt")
            bad.append(p)
            continue
        dirty_engine = measured_code_paths(dirty, p)
        if dirty_engine:
            print(f"FAIL {p}: dirty MEASURED code at stamp time: "
                  f"{', '.join(dirty_engine[:5])}")
            bad.append(p)
            continue
        dirty_note = (" [dirt outside measured code: "
                      f"{', '.join(dirty[:3])}"
                      f"{'…' if len(dirty) > 3 else ''}]")
        commit = commit[: -len("-dirty")]
    if not commit or not all(c in "0123456789abcdef" for c in commit):
        print(f"FAIL {p}: commit {commit!r} (malformed or missing)")
        bad.append(p)
        continue
    if not sha_in_repo(commit):
        print(f"FAIL {p}: commit {commit!r} is not a commit in this repo")
        bad.append(p)
        continue
    if violations:
        print(f"FAIL {p}: committed contract violations: {violations}")
        bad.append(p)
        continue
    if doc.get("top_pair_crossing") is True and \
            not isinstance(doc.get("crossing_waiver"), str):
        print(f"FAIL {p}: top pair crosses the flat/sharded boundary — "
              "the alpha contract was skipped, so this artifact verifies "
              "no scaling claim; add an explicit crossing_waiver or "
              "measure a same-branch pair")
        bad.append(p)
        continue
    try:
        changed = invalidating_changes(commit, p)
    except RuntimeError as e:
        print(f"FAIL {p}: git error: {e}")
        bad.append(p)
        continue
    if changed:
        print(f"FAIL {p}: measured-code change since {commit[:12]}: "
              f"{', '.join(changed[:5])}")
        bad.append(p)
    else:
        # r12 (r11 ADVICE): a wall-alpha overage at linear bytes/cpu is
        # a pass (single-host I/O constant, not an engine term) but must
        # be VISIBLE in gate output, not only inside the JSON
        warn = ""
        if doc.get("wall_alpha_exceeds_contract") is True:
            warn = (" [WARN: wall-alpha exceeds contract at in-contract "
                    "bytes/cpu alphas — single-host I/O overage, "
                    f"alpha_top_pair={doc.get('alpha_top_pair')}]")
        # r13: the knee contract gates the PAIR leg's bytes exponent;
        # an aggregate-bytes overage with the pair leg green means a
        # bounded training step straddled the pair — disclosed, like wall
        if doc.get("bytes_alpha_exceeds_contract") is True:
            warn += (" [WARN: aggregate bytes-alpha exceeds contract at "
                     "an in-contract pair leg — training-step overage, "
                     f"bytes_alpha={doc.get('bytes_alpha_top_pair')}, "
                     f"pair_leg={doc.get('pair_leg_bytes_alpha')}]")
        if doc.get("page_cache_cold") is False:
            warn += (" [WARN: not page-cache cold — "
                     f"warm_tiers={doc.get('warm_tiers')}, "
                     f"failed_tiers={doc.get('failed_tiers')}]")
        print(f"ok   {p}: {commit[:12]} (no measured-code change to HEAD, "
              f"contract clean){dirty_note}{warn}")
if not paths:
    print("FAIL: no artifacts matched", sys.argv[1:] or DEFAULT)
    sys.exit(1)
sys.exit(1 if bad else 0)
