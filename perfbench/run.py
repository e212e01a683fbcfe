"""Benchmark entry point: runs one workload in a fresh, isolated worker.

Usage, from the repository root:

    python3 perfbench/run.py --workload live_feed --seed 1 --seconds 12 --trace 0

The worker (``perfbench/worker.py``) runs in its own session with its own
working directory, ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and ``java.io.tmpdir``,
all under ``.perfbench_run/`` in the repository root, with the root on
``PYTHONPATH`` and ``SPARK_GRAFT_CPUS`` pinned to the visible CPU count.
This process is the subreaper of everything the worker starts (the JVM and
its Python workers): when the worker exits it kills what is left of the
worker's session, reaps every process, deletes the run directory and only
then prints the worker's result as the last line of standard output.

Exit status is 0 only when the worker produced a result.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: hard cap on one run, below the 180 s a run may take in total
WORKER_TIMEOUT_S = 165
_PR_SET_CHILD_SUBREAPER = 36


def _parse() -> argparse.Namespace:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        names = sorted(json.load(fh))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=names)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _reap_all(pgid: int) -> None:
    """Kill the worker's session and wait for every process in it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no children left, orphans included (we are subreaper)
        if pid == 0:
            time.sleep(0.05)


def main() -> int:
    args = _parse()
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: run from a checkout of the repository root", file=sys.stderr)
        return 2
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "cwd"):
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--out", out,
    ]
    # SIGTERM unwinds through the finally below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result, code, proc = None, None, None
    try:
        # the worker's stdout carries Spark chatter; only this process
        # writes the result line to stdout
        proc = subprocess.Popen(
            cmd,
            cwd=os.path.join(run_dir, "cwd"),
            env=env,
            stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
        if code == 0 and os.path.isfile(out):
            with open(out) as fh:
                result = json.load(fh)
    finally:
        if proc is not None:
            _reap_all(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    if result is None:
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
