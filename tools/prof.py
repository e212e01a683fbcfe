"""Time, explain and profile registry keys: the one timed loop of the tools.

Usage: python tools/prof.py [--runs N] [--explain-dir DIR] [key ...]

Per key (``__spark_entry__.queries()`` plus bench.py's retired keys):

- ``--explain-dir`` builds the DataFrame once and writes its
  ``explain("formatted")`` to ``DIR/<key>.txt``;
- ``--runs N`` (default 2) times N noop-sink executions with bench.py's
  method: ``clearCache``, build inside the timed region, noop overwrite,
  best of N.  ``--runs 0`` builds (and explains) without executing;
- a ``StreamingQueryListener`` itemizes the streaming queries the last
  run started: per query the batch count, the ``durationMs`` phase sums,
  the state operators' commit ms and partitions; per key the residue
  (wall − Σ ``triggerExecution``): session-side setup, batch jobs
  around the drain and query start/stop.

Naming no key runs every key, minus the ``streaming_*`` keys under
``--runs 0`` (building one drains it).  Prints one JSON line per key
(a failing key prints its error and the sweep goes on), then a summary
line; exits 1 if any key failed.  Reads ``$SPARK_GRAFT_SF_DIR`` (default
sf0.1) and ``$SPARK_GRAFT_CPUS`` like bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import __spark_entry__ as E
import bench
from telemetry_streaming_datalake_spark.session import get_spark

#: how long to wait after a run for the listener bus to deliver the
#: termination (and so every progress) event of the queries it started
SETTLE_S = 10.0


class _DrainListener(StreamingQueryListener):
    """Collects the progress of the streaming queries one run starts."""

    def __init__(self) -> None:
        self.started: set[str] = set()
        self.stopped: set[str] = set()
        self.progress: list[dict] = []
        self._done = threading.Condition()

    def reset(self) -> None:
        with self._done:
            self.started.clear()
            self.stopped.clear()
            self.progress.clear()

    def settle(self) -> None:
        with self._done:
            self._done.wait_for(lambda: self.started <= self.stopped, SETTLE_S)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        with self._done:
            self.started.add(str(event.id))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._done:
            self.progress.append(p)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._done:
            self.stopped.add(str(event.id))
            self._done.notify_all()

    def queries(self) -> list[dict]:
        by_id: dict[str, dict] = {}
        for p in self.progress:
            if p["id"] not in self.started:
                continue
            q = by_id.setdefault(p["id"], {
                "id": p["id"][:8],
                "sink": (p.get("sink") or {}).get("description", "")[:60],
                "batches": 0,
                "durationMs": {},
                "state_commit_ms": 0,
                "state_partitions": [],
            })
            q["batches"] += 1
            for k, v in (p.get("durationMs") or {}).items():
                q["durationMs"][k] = q["durationMs"].get(k, 0) + (v or 0)
            for so in p.get("stateOperators") or []:
                q["state_commit_ms"] += so.get("commitTimeMs") or 0
                parts = [so.get("operatorName"), so.get("numShufflePartitions"),
                         so.get("numStateStoreInstances")]
                if parts not in q["state_partitions"]:
                    q["state_partitions"].append(parts)
        return list(by_id.values())


def time_key(spark, fn, sf_dir: str, runs: int = 2) -> dict:
    """Best-of-``runs`` noop-sink wall of ``fn(spark, sf_dir)`` (bench.py's
    method: ``clearCache`` between runs so each re-does all data work,
    the build inside the timed region).  Returns ``best_s``, every run's
    wall (``runs_s``), the output ``rows`` (an Observation on the last
    run, no extra execution) and, when the last run started streaming
    queries, their ``queries`` records plus its ``wall_s`` and
    ``residue_s`` (wall − Σ ``triggerExecution``)."""
    if runs < 1:
        raise ValueError(f"runs must be >= 1, got {runs}")
    listener = _DrainListener()
    spark.streams.addListener(listener)
    walls = []
    try:
        for i in range(runs):
            listener.reset()
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if i == runs - 1:
                obs = Observation()
                df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            listener.settle()
    finally:
        spark.streams.removeListener(listener)
    rec = {
        "best_s": round(min(walls), 3),
        "runs_s": [round(w, 3) for w in walls],
        "rows": int(obs.get["rows"]),
    }
    queries = listener.queries()
    if queries:
        triggers = sum(q["durationMs"].get("triggerExecution", 0) for q in queries)
        rec["queries"] = queries
        rec["wall_s"] = round(walls[-1], 3)
        rec["residue_s"] = round(walls[-1] - triggers / 1000, 3)
    return rec


def run(spark, sf_dir: str, argv: list[str]) -> int:
    """The CLI body on a live session; returns the exit code."""
    ap = argparse.ArgumentParser(prog="prof.py")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--explain-dir")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args(argv)
    if args.runs < 0:
        ap.error("--runs must be >= 0")
    fns = E.queries() | bench._retired_bench()
    keys = args.keys or [
        k for k in fns if args.runs or not k.startswith("streaming_")
    ]
    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
    best: dict[str, float] = {}
    failed: list[str] = []
    for name in keys:
        rec: dict = {"key": name}
        try:
            fn = fns[name]
            if args.explain_dir or not args.runs:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                rec["build_s"] = round(time.perf_counter() - t0, 3)
                if args.explain_dir:
                    rec["plan"] = os.path.join(args.explain_dir, f"{name}.txt")
                    with open(rec["plan"], "w") as f:
                        f.write(df._sc._jvm.PythonSQLUtils.explainString(
                            df._jdf.queryExecution(), "formatted"))
            if args.runs:
                rec.update(time_key(spark, fn, sf_dir, args.runs))
                best[name] = rec["best_s"]
        except Exception as e:  # noqa: BLE001 — a sweep reports and goes on
            traceback.print_exc()
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            failed.append(name)
        print(json.dumps(rec), flush=True)
    print(json.dumps({
        "total": round(sum(best.values()), 3),
        "queries": best,
        "failed": failed,
    }), flush=True)
    return 1 if failed else 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("prof")
    bench._warmup(spark, sf_dir)
    code = run(spark, sf_dir, sys.argv[1:])
    spark.stop()
    sys.exit(code)


if __name__ == "__main__":
    main()
