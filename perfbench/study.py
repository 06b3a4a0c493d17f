#!/usr/bin/env python3
"""Summarises benchmark runs into perfbench/study.json: per workload and
end-to-end metric, the median and the spread (interquartile distance as a
share of the median, from `statistics.quantiles(values, n=4)`) over the
untraced runs, and the tracing overhead (median traced value minus median
untraced value).

    python3 perfbench/study.py [results_dir]

Reads the run artifacts `perfbench/run.py` writes (default
`.bench_build/perfbench/results`). To make them: run.py ten times per
workload with --trace 0 and different seeds, and a few times with --trace 1.
"""
import glob
import json
import os
import statistics
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main(results):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [m["name"] for m in spec["end_to_end"]]
    out = {"results": os.path.relpath(results, ROOT), "workloads": {}}
    for w in [x["name"] for x in spec["workloads"]]:
        runs = {0: [], 1: []}
        for f in sorted(glob.glob(f"{results}/{w}-s*-t[01]-*.json")):
            a = json.loads(Path(f).read_text())
            runs[1 if a["trace"] else 0].append(a)
        if len(runs[0]) < 2:
            continue
        entry = {"runs": len(runs[0]), "traced_runs": len(runs[1]),
                 "correct": all(a["correct"] for a in runs[0] + runs[1]),
                 "failed": sum(a["failed"] for a in runs[0] + runs[1]),
                 "metrics": {}}
        for m in names:
            vals = [a["metrics"][m]["value"] for a in runs[0]]
            med = statistics.median(vals)
            row = {"median": med, "spread": round(spread(vals), 4),
                   "min": min(vals), "max": max(vals)}
            traced = [a["metrics"][m]["value"] for a in runs[1]]
            if traced:
                row["traced_median"] = statistics.median(traced)
                row["tracing_overhead"] = statistics.median(traced) - med
            entry["metrics"][m] = row
        for k in ("drain_eps", "backlog_first_third_max", "backlog_last_third_max"):
            vals = [a["detail"][k] for a in runs[0] if k in a["detail"]]
            if vals:
                entry[f"{k}_median"] = statistics.median(vals)
        out["workloads"][w] = entry
    (BENCH / "study.json").write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build" / "perfbench" / "results")
