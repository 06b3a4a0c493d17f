#!/usr/bin/env python3
"""Compare per-query times across bench JSON lines (handles sbt [info]
prefixes and the driver's BENCH_r{N}.json wrapper). Co-tenant noise makes
single-run totals unreliable (PERF.md) — compare per-query medians.

Usage: python3 tools/bench_compare.py <bench.json>... [--top N]
"""
import json
import re
import statistics
import sys

KEY_RE = re.compile(
    r'"((?:scan|source|sink|sql|project|filter|drop|join|sort|topk|set|agg'
    r'|win|fn|evt|stream|llm|mm|sub|sample|scale|dq|flow|graph)_[a-z0-9_]+)"'
    r'\s*:\s*'
    r'([0-9]+(?:\.[0-9]+)?)')


def load(path):
    txt = open(path).read()
    for line in txt.splitlines():
        line = line.strip()
        if line.startswith("[info] "):
            line = line[len("[info] "):]
        if '"metric"' in line:
            try:
                d = json.loads(line)
                if "queries" in d:
                    return d["queries"]
            except json.JSONDecodeError:
                continue
    # driver wrapper ({"tail": "..."}, possibly truncated mid-json with
    # escaped quotes) or any other envelope: regex out the per-query pairs.
    pairs = {k: float(v) for k, v in KEY_RE.findall(txt.replace('\\"', '"'))}
    if pairs:
        return pairs
    raise SystemExit(f"no bench line found in {path}")


def main(paths, top):
    runs = {p: load(p) for p in paths}
    keys = sorted({k for qs in runs.values() for k in qs})
    rows = []
    for k in keys:
        vals = [qs[k] for qs in runs.values() if k in qs]
        rows.append((statistics.median(vals), min(vals), max(vals), len(vals), k))
    rows.sort(reverse=True)
    print(f"{'median':>8} {'min':>8} {'max':>8} {'n':>2}  query")
    for med, lo, hi, n, k in rows[:top]:
        print(f"{med:8.2f} {lo:8.2f} {hi:8.2f} {n:>2}  {k}")
    tot = [sum(qs.values()) for qs in runs.values()]
    print(f"\ntotals per run: {[round(t, 1) for t in tot]} "
          f"(median {statistics.median(tot):.1f})")


if __name__ == "__main__":
    argv = sys.argv[1:]
    top = 1000
    if "--top" in argv:
        i = argv.index("--top")
        top = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    main(argv, top)
