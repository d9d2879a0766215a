#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Pins the run environment, starts
``perfbench/worker.py`` in its own process group with every scratch
path (Spark local dirs, temp files, event log) inside
``.bench_work/`` of the checkout, waits for it, stops whatever it left
running, and relays its report. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it are a readable summary and the pinned environment. Exits
non-zero, printing no result, when the program is missing or the
worker fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import SF_DIR, WORKLOADS  # noqa: E402

# Every run must end within 180 s; leave the rest for cleanup.
WORKER_TIMEOUT_S = 165
STOP_TIMEOUT_S = 10


def pinned_env(work: str) -> dict[str, str]:
    """The environment every run uses, whatever the caller's shell has.

    PYTHONPATH is the checkout alone: Spark's Python workers import the
    program from it (they fail with ModuleNotFoundError otherwise), and
    no other copy of the program can shadow a missing one. The driver
    heap stays well below physical RAM (the program's 48g default
    exceeds many hosts). Every JVM, Spark's launcher included, keeps
    its temp files inside the run's work dir and writes no perf-data
    file to /tmp."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(4, int(ram_gb // 4)))}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
    )
    return env


def inputs_intact() -> bool:
    """Whether every input file matches its checksum in ``SHA256SUMS``,
    the sums of the seed=42 fixtures the inputs were copied from."""
    try:
        with open(os.path.join(SF_DIR, "SHA256SUMS")) as f:
            sums = [line.split() for line in f if line.strip()]
        for digest, name in sums:
            with open(os.path.join(SF_DIR, name), "rb") as data:
                if hashlib.sha256(data.read()).hexdigest() != digest:
                    print(f"perfbench: {name} differs from its checksum", file=sys.stderr)
                    return False
    except OSError as e:
        print(f"perfbench: inputs missing: {e}", file=sys.stderr)
        return False
    return True


def stop_group(pgid: int) -> None:
    """Stop every process of the worker's group (the JVM and Spark's
    Python daemons included) and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, STOP_TIMEOUT_S), (signal.SIGKILL, STOP_TIMEOUT_S)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)
    raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "eye_of_sauron_spark", "__init__.py")):
        print(f"perfbench: no program to run under {ROOT}", file=sys.stderr)
        return 2
    if not inputs_intact():
        return 2

    work = os.path.join(ROOT, ".bench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".bench_out")
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    log_path = os.path.join(out_dir, f"{tag}.log")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
        "--out", os.path.join(out_dir, f"{tag}.json"),
        "--spawned-at", repr(time.monotonic()),
    ]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                cmd,
                cwd=ROOT,
                env=pinned_env(work),
                stdout=subprocess.PIPE,
                stderr=log,
                text=True,
                start_new_session=True,
            )
            stdout = ""
            try:
                stdout, _ = proc.communicate(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"perfbench: worker timed out after {WORKER_TIMEOUT_S} s", file=sys.stderr)
            finally:
                # reap the worker first: its zombie would keep the group alive
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
                stop_group(proc.pid)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    lines = stdout.rstrip("\n").split("\n")
    try:
        record = json.loads(lines[-1])
        ok = proc.returncode == 0 and set(record) == {"correct", "attempted", "failed", "metrics"}
    except json.JSONDecodeError:
        ok = False
    if not ok:
        with open(log_path) as log:
            tail = log.read()[-4000:]
        print(f"perfbench: worker failed (exit {proc.returncode}); log {log_path}:\n{tail}", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
