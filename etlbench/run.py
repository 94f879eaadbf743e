"""Benchmark of record for the graft engine.

Usage, from the root of a checkout:

  python3 etlbench/run.py --heap 3g --workload etl_imputation --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark driver from source (etlbench/build.py),
then runs one workload in one JVM on Session.local(nproc) with a fixed heap.
Everything the run writes stays under .bench_build/etlbench/. The last line
of standard output is the result: {"correct", "attempted", "failed",
"metrics"}. The metrics are listed in etlbench/README.md.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("etl_imputation", "index_lifecycle")
# One deadline for the whole command, build included: a run must end within
# 180 s, and the first run of a checkout, which also builds, within 900 s.
RUN_DEADLINE_S = 170
BUILD_RUN_DEADLINE_S = 870


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--heap", default="3g")
    a = ap.parse_args()

    t0 = time.monotonic()
    classpath, archive = build.build(a.heap)
    deadline = t0 + (BUILD_RUN_DEADLINE_S if build.BUILT else RUN_DEADLINE_S)
    out = build.out_dir()
    work = out / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    env = build.java_env(work)
    cmd = build.java(work, a.heap, classpath, archive=archive) + [
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(len(os.sched_getaffinity(0))), "--heap", a.heap,
        "--work", str(work), "--trace-out", str(out / "trace"),
        "--launched-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"run: {a.workload} did not finish within "
                 f"{time.monotonic() - t0:.0f} s of the command's start")
    shutil.rmtree(work, ignore_errors=True)
    lines = stdout.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(stdout)
        sys.exit(f"run: {a.workload} exited with code {proc.returncode}")
    sys.stdout.write(stdout)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
