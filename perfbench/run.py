#!/usr/bin/env python3
"""The repository's benchmark. One run = one fresh JVM at local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine plus the benchmark sources (perfbench/build.py) when they
changed, launches `perfbench.Main` directly with `java` (no sbt, so
`setup_s` measures the program), checks the outputs, prints one line per
metric and, last, one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 its per_layer list. The full artifact (every metric with its
sample count, the per-key detail, the check digests and, traced, the span
file) is written under .bench_build/perfbench/results/.

Input data: the read-only sf0.1 fixture listed in TESTDATA.md, unless
PERFBENCH_DATA names another directory.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import digest  # noqa: E402

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# A fixed heap and young generation under the throughput collector: with
# G1's adaptive sizing, VmHWM followed when the heap happened to grow, and
# run-to-run latency spread was wider (0.16-0.21 against 0.10-0.19 of the
# median over ten and six runs on 4 cores).
JVM_MEMORY = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn768m"]
# A run must end within 180 s: the JVM is killed past this, which leaves
# time for the output check.
JVM_LIMIT_S = 165
# Per-operation time budget inside the JVM (one query, one stream phase).
OP_BUDGET_S = 45


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload!r}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    data = build.fixture_dir()
    if not (data / "events.parquet").is_file():
        fail(f"input data not found at {data}")

    classes = build.build()

    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    run_dir = build.OUT / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    out = run_dir / "out"
    results = build.OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}"
    try:
        cores = len(os.sched_getaffinity(0))
        cp = os.pathsep.join([str(classes), str(build.jars_dir() / "*")])
        launch_ms = time.time() * 1000.0
        cmd = (["java"] + ADD_OPENS + JVM_MEMORY +
               [f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Dspark.ui.enabled=false",
                "-cp", cp, "perfbench.Main", "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", str(data), "--out", str(out), "--root", str(ROOT),
                "--cores", str(cores), "--launch-ms", str(int(launch_ms)),
                "--budget-s", str(OP_BUDGET_S)])
        with open(results / f"{name}.log", "w") as log:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log,
                                 start_new_session=True)
            try:
                rc = p.wait(timeout=JVM_LIMIT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"run exceeded {JVM_LIMIT_S} s; log: {results / f'{name}.log'}", 3)
        if rc != 0 or not (out / "result.json").is_file():
            tail = (results / f"{name}.log").read_text(errors="replace")[-3000:]
            fail(f"JVM exited with {rc} and no result\n{tail}", 4)
        res = json.loads((out / "result.json").read_text())
        if (out / "spans.jsonl").is_file():
            shutil.copy(out / "spans.jsonl", results / f"{name}.spans.jsonl")

        problems = list(res["problems"])
        digests = check_outputs(res["check_outputs"], problems)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    for k, m in res["metrics"].items():
        print("metric %-36s %16s %-8s n=%d" % (k, m["value"], m["unit"], m["n"]))

    final = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None:
            fail(f"metric {m['name']} was not measured", 5)
        if got["unit"] != m["unit"]:
            fail(f"metric {m['name']} measured in {got['unit']}, declared {m['unit']}", 5)
        final[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    line = {"correct": not problems, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": final}
    artifact = dict(res, problems=problems, digests=digests,
                    correct=not problems, log=f"{name}.log")
    (results / f"{name}.json").write_text(json.dumps(artifact, indent=1) + "\n")
    print(f"artifact {results / f'{name}.json'}")
    print(json.dumps(line, separators=(",", ":")))


def check_outputs(outputs, problems):
    """Digest every key's output and compare with the reference digest."""
    if not outputs:
        return {}
    refs = json.loads((BENCH / "refs.json").read_text())["digests"]
    con = digest.connect()
    got = {}
    try:
        for key, path in sorted(outputs.items()):
            got[key] = digest.digest_parquet_dir(con, path)
            if key not in refs:
                problems.append(f"{key}: no reference digest in perfbench/refs.json")
            elif got[key] != refs[key]:
                problems.append(f"{key}: output digest {got[key]} != reference {refs[key]}")
    finally:
        con.close()
    return got


if __name__ == "__main__":
    main()
