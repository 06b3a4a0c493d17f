#!/usr/bin/env python3
"""Counts the `chmod`, `readlink`, `ls` and `stat` processes a command starts.

    python3 tools/count_forks.py [--log FILE] <cmd...>

Runs the command with a shim directory first on PATH. The shim for each
tool appends one line (tool, then its arguments, tab-separated) to a log
and then execs the real tool, so the command behaves as it would without
the shim. The shim directory is a temporary one, removed at the end. Prints
one count per tool, then exits with the command's exit code.

Hadoop's local file system without native IO starts these tools for
permissions and links, so e.g.

    python3 tools/count_forks.py --log /tmp/forks.tsv \\
        python3 perfbench/run.py --workload gate_stream --seed 1 --seconds 28 --trace 0

counts what one benchmark run pays in process starts; the log's arguments
name the checkpoint or sink file each call was for.
"""
import argparse
import collections
import os
import shlex
import shutil
import subprocess
import sys
import tempfile

TOOLS = ("chmod", "readlink", "ls", "stat")
LOG_VAR = "COUNT_FORKS_LOG"


def write_shims(shim_dir, path):
    for tool in TOOLS:
        real = shutil.which(tool, path=path)
        if real is None:
            continue
        shim = os.path.join(shim_dir, tool)
        with open(shim, "w") as f:
            f.write("#!/bin/sh\n"
                    f"printf '%s\\t%s\\n' {tool} \"$*\" >> \"${LOG_VAR}\"\n"
                    f"exec {shlex.quote(real)} \"$@\"\n")
        os.chmod(shim, 0o755)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--log", help="copy every logged call to this file")
    ap.add_argument("cmd", nargs=argparse.REMAINDER, help="the command to run")
    a = ap.parse_args()
    if not a.cmd:
        ap.error("no command given")

    path = os.environ.get("PATH", os.defpath)
    with tempfile.TemporaryDirectory(prefix="count_forks_") as shim_dir:
        write_shims(shim_dir, path)
        log = os.path.join(shim_dir, "calls.tsv")
        open(log, "w").close()
        env = dict(os.environ, PATH=shim_dir + os.pathsep + path, **{LOG_VAR: log})
        code = subprocess.call(a.cmd, env=env)
        with open(log) as f:
            calls = f.read().splitlines()
        if a.log:
            shutil.copyfile(log, a.log)

    counts = collections.Counter(line.split("\t", 1)[0] for line in calls)
    for tool in TOOLS:
        print(f"count_forks: {tool} {counts[tool]}")
    sys.exit(code)


if __name__ == "__main__":
    main()
