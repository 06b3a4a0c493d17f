#!/usr/bin/env python3
"""Interleaved parent/change pairs of the repository benchmark.

    python3 tools/perf_pairs.py --base HEAD~1 --workload event_queries \\
        --seeds 21-30 [--seconds 28] [--trace 0] [--out pairs.json]

Runs `perfbench/run.py` once per seed on each side: the base side is the
git ref `--base`, checked out with `git worktree` under /tmp (removed at
the end), or an existing checkout named by `--base-dir`; the change side
is the working tree. The two sides alternate which runs first (base first
on the 1st, 3rd, ... seed), so drift over the session hits both alike.

Prints, per metric of the final result line: each side's median and
quartiles, the pairs the change wins, the median change relative to the
base median and, for BENCHMARK.json's end-to-end metrics, that change as
a fraction of the metric's bound (> 1 is a regression past the bound),
the median difference over the base's interquartile spread, and two
verdicts: `claim` when a gain could be claimed (the change wins at least
9 of 10 pairs and its median moved by more than the base's IQR) and
`in`/`OUT` for whether the median stays inside the bound.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds, trace):
    """One benchmark run; the parsed final JSON line, or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        print(f"  run failed in {checkout} (rc {p.returncode}): {p.stderr[-500:]}",
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(pairs, spec):
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    ok = [(b, c) for b, c in pairs if b and c]
    print(f"{len(ok)} complete pairs of {len(pairs)}")
    if not ok:
        return
    for side, i in (("base", 0), ("change", 1)):
        bad = sum(1 for p in pairs if not p[i] or not p[i]["correct"] or p[i]["failed"])
        print(f"{side}: {bad} run(s) failed, incorrect or with failed operations")
    print("%-28s %28s %28s %6s %8s %7s %7s  %s" % (
        "metric", "base q1/med/q3", "change q1/med/q3", "wins", "delta", "/bound", "/IQR",
        "verdict"))
    for name in ok[0][0]["metrics"]:
        b = [p[0]["metrics"][name]["value"] for p in ok]
        c = [p[1]["metrics"][name]["value"] for p in ok]
        sign = -1 if better.get(name, "lower") == "lower" else 1
        wins = sum(1 for x, y in zip(b, c) if sign * (y - x) > 0)
        bq, cq = quartiles(b), quartiles(c)
        diff = abs(cq[1] - bq[1])
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else (0.0 if not diff else float("nan"))
        iqr = bq[2] - bq[0]
        spread = diff / iqr if iqr else (0.0 if not diff else float("inf"))
        bound, verdict = "%7s" % "-", ""
        if name in bounds:
            past = -sign * delta / bounds[name]["bound"]
            claim = wins >= 0.9 * len(ok) and spread > 1
            bound = "%7.2f" % past
            verdict = "%s %s" % ("claim" if claim else "-", "OUT" if past > 1 else "in")
        print("%-28s %28s %28s %3d/%-2d %+7.1f%% %s %7.2f  %s" % (
            name, "%.4g/%.4g/%.4g" % bq, "%.4g/%.4g/%.4g" % cq,
            wins, len(ok), 100 * delta, bound, spread, verdict))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    side = ap.add_mutually_exclusive_group(required=True)
    side.add_argument("--base", help="git ref of the base side")
    side.add_argument("--base-dir", help="an existing checkout of the base side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 1,4,7")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write every run's result line here (JSON)")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or spec["run_seconds"]

    worktree = None
    if a.base:
        worktree = Path(tempfile.mkdtemp(prefix="perf_pairs_", dir="/tmp")) / "base"
        subprocess.run(["git", "-C", str(ROOT), "worktree", "add", "--detach",
                        str(worktree), a.base], check=True, capture_output=True)
    base = worktree or Path(a.base_dir).resolve()
    pairs = []
    try:
        for i, seed in enumerate(seeds(a.seeds)):
            order = [("base", base), ("change", ROOT)]
            if i % 2:
                order.reverse()
            got = {}
            for name, checkout in order:
                got[name] = run(checkout, a.workload, seed, seconds, a.trace)
                print(f"seed {seed} {name}: "
                      f"{json.dumps(got[name]['metrics']) if got[name] else 'FAILED'}",
                      flush=True)
            pairs.append((got["base"], got["change"]))
    finally:
        if worktree:
            subprocess.run(["git", "-C", str(ROOT), "worktree", "remove", "--force",
                            str(worktree)], capture_output=True)
            shutil.rmtree(worktree.parent, ignore_errors=True)
            subprocess.run(["git", "-C", str(ROOT), "worktree", "prune"],
                           capture_output=True)
    if a.out:
        Path(a.out).write_text(json.dumps(
            [{"seed": s, "base": b, "change": c}
             for s, (b, c) in zip(seeds(a.seeds), pairs)], indent=1) + "\n")
    report(pairs, spec)


if __name__ == "__main__":
    main()
