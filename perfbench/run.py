#!/usr/bin/env python3
"""Benchmark entry point, run from the repository root:

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 10 --trace 0

Prepares the run environment (PYTHONPATH, 4 local cores, a driver heap
that fits a 15 GB box, one scratch root for every fixture, sink,
checkpoint and temp file), runs the workload in a child process group,
and on exit stops every process of that group and removes the scratch
root. The child prints the result as the last stdout line."""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

CHILD_TIMEOUT_S = 170
WORKLOADS = ("etl_sync", "lakehouse_read", "analytics")
HEAP = "2g"
SETTINGS = {
    "SPARK_GRAFT_CPUS": "4",
    "SPARK_GRAFT_DRIVER_MEM": HEAP,
}


def _group_pids(pgid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            out.append(int(name))
    return out


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the group; return once
    none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while _group_pids(pgid) and time.time() < deadline:
            time.sleep(0.1)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(repo, "forklift_spark", "__init__.py")):
        print(f"perfbench: no forklift_spark package under {repo}", file=sys.stderr)
        return 2
    root = os.path.join(repo, ".perfbench-scratch", f"run-{os.getpid()}")
    tmp = os.path.join(root, "tmp")
    for sub in ("tmp", "jvmtmp", "spark-local", "work"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    env = dict(os.environ)
    env.update(SETTINGS)
    env.update({
        # Python DataSource workers import forklift_spark by module path
        "PYTHONPATH": repo,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData -Djava.io.tmpdir="
                             + os.path.join(root, "jvmtmp"),
        # A fixed-size, pre-touched driver heap: the JVM's resident size
        # then does not depend on which heap regions the collector has used
        # so far. The first JIT tier only: on four cores the optimising
        # compiler's threads compete with the four task threads for most of
        # a one-minute run, which spread throughput ~20% between runs.
        "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "-Xms{HEAP} '
                               '-XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1" '
                               'pyspark-shell',
        "PERFBENCH_T0": repr(t0),
    })
    cmd = [sys.executable, "-m", "perfbench.harness",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", root]
    proc = subprocess.Popen(cmd, cwd=repo, env=env, start_new_session=True)
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        rc = 124
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass
    return rc


if __name__ == "__main__":
    sys.exit(main())
