"""One benchmark workload in one process (started by ``perfbench/run.py``).

Workloads (parameters and the key -> layer map in ``workloads.json``):

- ``live_feed``: the always-on four-hop topology (``streaming/runner.py``)
  fed by an open-loop generator, then closed-loop bursts.
- ``batch``: a first pass over registry keys, each key built and collected
  for the correctness check, then whole warm passes to the noop sink for at
  most ``--seconds`` seconds.

The worker times only calls into the package's public surface and writes
``{"correct", "attempted", "failed", "metrics"}`` to ``--out``.  Oracle
(DuckDB) time is kept out of every timing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

HOPS = ("bronze-hop", "silver-hop", "gold-hop", "serving-hop")
LAYER_STATS = {
    "wall_s": "s",
    "driver_s": "s",
    "task_s": "s",
    "offcpu_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "first_pass_s": "s",
}

#: end-to-end metrics (``--trace 0``): name -> unit
END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "wall_s": "s"}


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def per_layer_catalogue(spec: dict) -> dict[str, tuple[str, str]]:
    """Per-layer metrics (``--trace 1``): name -> (unit, better).  A run
    reports 0 for a layer its workload does not exercise."""
    cat = {
        "session.start_s": ("s", "lower"),
        "streaming.runner.start_s": ("s", "lower"),
        "streaming.runner.catchup_busy_ms": ("ms", "lower"),
        "streaming.runner.catchup_rows_per_s": ("1/s", "higher"),
        "ingest.bronze_state_commit_ms": ("ms", "lower"),
        "ingest.bronze_state_rows": ("count", "lower"),
        "ingest.dedup_dropped": ("count", "higher"),
        "streaming.sinks.apply_ms_p50": ("ms", "lower"),
        "generator.lag_ms_max": ("ms", "lower"),
        "spark.jobs": ("count", "lower"),
        "spark.stages": ("count", "lower"),
        "spark.spill_mb": ("MB", "lower"),
        "trace.scrape_s": ("s", "lower"),
        "trace.wall_s": ("s", "lower"),
        # end-to-end in kind, but too noisy across runs to gate on
        "latency_p90_s": ("s", "lower"),
        "cold_wall_s": ("s", "lower"),
    }
    for hop in HOPS:
        cat[f"streaming.runner.{hop}.batch_ms_p50"] = ("ms", "lower")
        cat[f"streaming.runner.{hop}.overhead_ms_p50"] = ("ms", "lower")
        cat[f"streaming.runner.{hop}.batches"] = ("count", "lower")
    batch_layers = {layer for w in spec.values() for layer in w.get("keys", {}).values()}
    for layer in sorted(batch_layers):
        for stat, unit in LAYER_STATS.items():
            cat[f"{layer}.{stat}"] = (unit, "lower")
    return cat


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def epoch_ms() -> float:
    return time.time() * 1000.0


class Run:
    """Counters and metrics of one run."""

    def __init__(self, args: argparse.Namespace, specs: dict) -> None:
        self.args = args
        self.specs = specs  # every workload's, for the per-layer catalogue
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.excluded_s = 0.0  # benchmark-side time inside the setup window
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.notes: list[str] = []
        # epoch-ms windows of the live_feed phases, for progress records
        self.open_window = (0.0, 0.0)
        self.burst_window = (0.0, 0.0)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def result(self) -> dict:
        for name, v in self.e2e.items():
            if v != v:  # NaN: the run failed before it could measure
                self.e2e[name] = 0.0
        if self.trace:
            self.layer["trace.wall_s"] = self.e2e["wall_s"]
            self.layer["latency_p90_s"] = self.e2e["latency_p90_s"]
            self.layer["cold_wall_s"] = self.e2e["cold_wall_s"]
            cat = per_layer_catalogue(self.specs)
            metrics = {
                n: {"value": float(self.layer.get(n, 0.0)), "unit": u}
                for n, (u, _) in cat.items()
            }
        else:
            metrics = {
                n: {"value": float(self.e2e[n]), "unit": u}
                for n, u in END_TO_END.items()
            }
        failed = min(self.failed, self.attempted)
        return {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": metrics,
        }


def duck(sf_dir: str, tables: dict | None = None):
    """DuckDB connection with one view per table file in ``sf_dir``;
    ``tables`` registers in-memory Arrow tables over those names."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        name = f.removesuffix(".parquet")
        if tables and name in tables:
            continue
        path = os.path.join(sf_dir, f)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    for name, tbl in (tables or {}).items():
        con.register(name, tbl)
    return con


# ---------------------------------------------------------------- batch


def run_batch(run: Run, spec: dict, sf_dir: str) -> None:
    import __spark_entry__ as E
    from telemetry_streaming_datalake_spark.session import get_spark

    from spark_trace import StatusTrace, layer_metrics

    t = time.perf_counter()
    spark = get_spark("perfbench")
    run.layer["session.start_s"] = time.perf_counter() - t
    # the first pass is the batch warm-up; it is timed as cold_wall_s
    run.e2e["setup_s"] = time.perf_counter() - T_START

    qs = E.queries()
    keys = list(spec["keys"])
    tracer = StatusTrace(spark) if run.trace else None
    run.attempted = len(keys)
    broken: set[str] = set()
    frames, cold = {}, {}
    for k in keys:
        t = time.perf_counter()
        try:
            frames[k] = qs[k](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — one key failing is a result
            broken.add(k)
            run.fail(f"{k}: {type(exc).__name__}: {exc}")
        cold[k] = time.perf_counter() - t
    if tracer:
        tracer.scrape()

    warm: dict[str, list[float]] = {k: [] for k in keys}
    windows: list[dict[str, tuple[float, float]]] = []
    t_win = time.perf_counter()
    # whole passes only: stop before a pass that would overrun the window
    while not windows or (
        time.perf_counter() - t_win
    ) * (len(windows) + 1) / len(windows) <= run.args.seconds:
        win = {}
        for k in keys:
            if k in broken:
                continue
            spark.catalog.clearCache()
            e0, t0 = epoch_ms(), time.perf_counter()
            try:
                qs[k](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                broken.add(k)
                run.fail(f"{k} (warm): {type(exc).__name__}: {exc}")
                continue
            warm[k].append(time.perf_counter() - t0)
            win[k] = (e0, epoch_ms())
        windows.append(win)
        if tracer:
            tracer.scrape()

    live = [k for k in keys if warm[k]]
    samples = [x for k in live for x in warm[k]]
    run.e2e["wall_s"] = sum(p50(warm[k]) for k in live) if live else 0.0
    run.e2e["cold_wall_s"] = sum(cold.values())
    run.e2e["latency_p50_s"] = p50(samples) if samples else 0.0
    run.e2e["latency_p90_s"] = p90(samples) if samples else 0.0
    print(
        f"perfbench: {len(windows)} warm passes; cold "
        + json.dumps({k: round(v, 3) for k, v in cold.items()})
        + " warm "
        + json.dumps({k: [round(x, 3) for x in v] for k, v in warm.items()}),
        file=sys.stderr,
        flush=True,
    )
    if tracer:
        run.layer.update(
            layer_metrics(tracer, spec["keys"], windows, warm, cold)
        )
        run.layer["trace.scrape_s"] = tracer.scrape_s
    spark.stop()
    check_batch(run, E, keys, frames, sf_dir, broken)


def check_batch(run: Run, E, keys, frames, sf_dir: str, broken: set[str]) -> None:
    from tools.crosscheck import compare_frames

    oracles = E.oracle_sql()
    con = duck(sf_dir)
    for k in keys:
        if k in broken:
            continue
        problems = compare_frames(frames[k], con.execute(oracles[k]).fetch_df())
        if problems:
            run.fail(f"{k}: " + "; ".join(problems))


# ------------------------------------------------------------ live_feed


class StoreWatcher(threading.Thread):
    """Polls the serving store's ``CURRENT`` pointer; reads the newest
    ``unix_ts`` of a version only when the pointer moves."""

    POLL_S = 0.01

    def __init__(self, store_dir: str) -> None:
        super().__init__(name="store-watcher", daemon=True)
        self.store_dir = store_dir
        self.history: list[tuple[float, float]] = []  # (seen at, max unix_ts)
        self.max_ts = float("-inf")
        self.cond = threading.Condition()
        self.halt = threading.Event()

    def run(self) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        ptr = os.path.join(self.store_dir, "CURRENT")
        last = None
        while not self.halt.is_set():
            try:
                with open(ptr) as fh:
                    version = fh.read().strip()
            except FileNotFoundError:
                version = None
            if version and version != last:
                seen = time.perf_counter()
                try:
                    col = pq.read_table(
                        os.path.join(self.store_dir, version), columns=["unix_ts"]
                    )["unix_ts"]
                except (OSError, ValueError):
                    # swept by a newer apply between pointer read and
                    # data read: the next poll sees the newer pointer
                    self.halt.wait(self.POLL_S)
                    continue
                newest = pc.max(col).as_py()
                last = version
                with self.cond:
                    self.history.append((seen, newest))
                    self.max_ts = max(self.max_ts, newest)
                    self.cond.notify_all()
            self.halt.wait(self.POLL_S)

    def served_at(self, target: int) -> float | None:
        """First time the store held a reading at least as new as ``target``."""
        return next((t for t, m in self.history if m >= target), None)

    def wait_for(self, target: int, timeout: float) -> float | None:
        with self.cond:
            self.cond.wait_for(lambda: self.max_ts >= target, timeout)
            return self.served_at(target)


def prepare_feed(run: Run, spec: dict, sf_dir: str, staging: str):
    """Drops in time order: warm-up, open loop (one per interval, each
    re-delivering a seed-chosen share of the previous drop), bursts.
    Returns the drop plan, the Arrow table of every original row and the
    event_id -> drop number map."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    events = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )
    n, w = spec["drop_rows"], spec["warmup_drops"]
    n_open = int(run.args.seconds / spec["drop_interval_s"])
    plan = []
    for i in range(w + n_open):
        plan.append({"phase": "warmup" if i < w else "open", "rows": events.slice(i * n, n)})
    half, per = events.num_rows // 2, spec["burst_rows"]
    for i in range(spec["bursts"]):
        plan.append({"phase": "burst", "rows": events.slice(half + i * per, per)})
    rng = random.Random(run.args.seed)
    os.makedirs(staging)
    for i, drop in enumerate(plan):
        tbl = drop["rows"]
        if drop["phase"] == "open":
            prev = plan[i - 1]["rows"]
            k = round(spec["redeliver_share"] * prev.num_rows)
            again = prev.take(sorted(rng.sample(range(prev.num_rows), k)))
            tbl = pa.concat_tables([tbl, again])
        drop["file"] = f"drop-{i:05d}.parquet"
        pq.write_table(tbl, os.path.join(staging, drop["file"]))
    originals = pa.concat_tables([d["rows"] for d in plan])
    drop_of = pa.table(
        {
            "event_id": originals["event_id"],
            "drop_no": pa.array(
                [i for i, d in enumerate(plan) for _ in range(d["rows"].num_rows)],
                pa.int64(),
            ),
        }
    )
    return plan, originals, drop_of


def live_oracle(sf_dir: str, plan: list[dict], originals, drop_of):
    """Per-drop target (newest gold ``unix_ts`` of the drop), the gold
    row count and the expected serving store, all on DuckDB."""
    from telemetry_streaming_datalake_spark.operators import temporal as T
    from telemetry_streaming_datalake_spark.streaming import runner as RN

    con = duck(sf_dir, {"events": originals, "drop_of": drop_of})
    gold = T.GOLD_ORACLE
    targets = dict(
        con.execute(
            f"SELECT d.drop_no, max(g.unix_ts) FROM ({gold}) g "
            "JOIN drop_of d USING (event_id) GROUP BY d.drop_no"
        ).fetchall()
    )
    for i, drop in enumerate(plan):
        drop["target"] = targets[i]  # every drop holds gold rows
    gold_rows = con.execute(f"SELECT count(*) FROM ({gold})").fetchone()[0]
    store = con.execute(RN.always_on_topology_oracle(gold)).fetch_df()
    return gold_rows, store


def run_live(run: Run, spec: dict, sf_dir: str) -> None:
    from telemetry_streaming_datalake_spark.session import get_spark
    from telemetry_streaming_datalake_spark.streaming import runner as RN
    from telemetry_streaming_datalake_spark.streaming import sinks

    work = os.path.abspath("live")
    staging = os.path.join(work, "staging")
    t = time.perf_counter()
    plan, originals, drop_of = prepare_feed(run, spec, sf_dir, staging)
    gold_rows, expected = live_oracle(sf_dir, plan, originals, drop_of)
    run.excluded_s += time.perf_counter() - t
    run.attempted = len(plan)

    apply_ms: list[float] = []
    if run.trace:
        inner = sinks.ParquetUpsertStore.apply_batch

        def traced_apply(self, batch_df, batch_id):
            t0 = time.perf_counter()
            try:
                return inner(self, batch_df, batch_id)
            finally:
                apply_ms.append((time.perf_counter() - t0) * 1000)

        sinks.ParquetUpsertStore.apply_batch = traced_apply

    t = time.perf_counter()
    spark = get_spark("perfbench")
    run.layer["session.start_s"] = time.perf_counter() - t
    runner = RN.AlwaysOnRunner(spark, sf_dir, os.path.join(work, "topology"), spec["trigger"])
    t = time.perf_counter()
    runner.start()
    run.layer["streaming.runner.start_s"] = time.perf_counter() - t
    watcher = StoreWatcher(runner.serving_dir)
    watcher.start()
    try:
        _drive(run, plan, runner, watcher, staging, spec["drop_interval_s"])
        if run.trace:
            _hop_metrics(run, runner, apply_ms)
    finally:
        watcher.halt.set()
        watcher.join()
        runner.stop()
    _check_live(run, spark, runner, gold_rows, expected)
    spark.stop()


def _publish(staging: str, landing: str, drop: dict) -> float:
    """Atomic producer publish: the file appears whole or not at all."""
    os.rename(os.path.join(staging, drop["file"]), os.path.join(landing, drop["file"]))
    return time.perf_counter()


def _drive(
    run: Run, plan, runner, watcher: StoreWatcher, staging: str, interval: float
) -> None:
    landing = runner.landing_dir
    warmups = [d for d in plan if d["phase"] == "warmup"]
    opens = [d for d in plan if d["phase"] == "open"]
    bursts = [d for d in plan if d["phase"] == "burst"]

    for i, drop in enumerate(warmups):  # closed loop
        sent = _publish(staging, landing, drop)
        served = watcher.wait_for(drop["target"], timeout=60)
        if served is None:
            raise RuntimeError(f"warm-up drop {i} not served within 60 s")
        if i == 0:
            run.e2e["cold_wall_s"] = served - sent
    run.e2e["setup_s"] = time.perf_counter() - T_START - run.excluded_s

    # open loop: one drop per interval, timed from its due time
    t_open = time.perf_counter() + 0.05
    run.open_window = (epoch_ms(), None)
    lags = []
    for i, drop in enumerate(opens):
        due = t_open + i * interval
        time.sleep(max(0.0, due - time.perf_counter()))
        drop["due"] = due
        lags.append(_publish(staging, landing, drop) - due)
    watcher.wait_for(opens[-1]["target"], timeout=60)
    fresh = []
    for i, drop in enumerate(opens):
        served = watcher.served_at(drop["target"])
        if served is None:
            run.fail(f"open drop {i} not served")
        else:
            fresh.append(served - drop["due"])
    run.open_window = (run.open_window[0], epoch_ms())
    run.layer["generator.lag_ms_max"] = max(lags) * 1000

    # bursts: large drops from the second half, closed loop
    catchups = []
    for drop in bursts:
        sent = _publish(staging, landing, drop)
        served = watcher.wait_for(drop["target"], timeout=60)
        if served is None:
            run.fail("burst drop not served")
        else:
            catchups.append(served - sent)
    run.burst_window = (run.open_window[1], epoch_ms())
    burst_rows = sum(d["rows"].num_rows for d in bursts)
    run.e2e["wall_s"] = p50(catchups) if catchups else float("nan")
    if catchups:
        run.layer["streaming.runner.catchup_rows_per_s"] = burst_rows / sum(catchups)
    run.e2e["latency_p50_s"] = p50(fresh) if fresh else float("nan")
    run.e2e["latency_p90_s"] = p90(fresh) if fresh else float("nan")
    print(
        "perfbench: freshness "
        + json.dumps([round(x, 3) for x in fresh])
        + f" lag_max_ms={max(lags) * 1000:.1f} catchup_s="
        + json.dumps([round(x, 3) for x in catchups]),
        file=sys.stderr,
        flush=True,
    )


def _progress_ms(p: dict) -> float:
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000


def _hop_metrics(run: Run, runner, apply_ms) -> None:
    """Per-hop micro-batch metrics from each query's ``recentProgress``."""
    t = time.perf_counter()
    o0, o1 = run.open_window
    b0, b1 = run.burst_window
    busy = 0.0
    for hop in HOPS:
        prog = [p for p in runner.queries[hop].recentProgress if p["numInputRows"] > 0]
        in_open = [p for p in prog if o0 <= _progress_ms(p) < o1]
        dur = [p["durationMs"] for p in in_open]
        trig = [d.get("triggerExecution", 0) for d in dur]
        over = [d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur]
        base = f"streaming.runner.{hop}"
        run.layer[f"{base}.batches"] = len(in_open)
        run.layer[f"{base}.batch_ms_p50"] = p50(trig) if trig else 0.0
        run.layer[f"{base}.overhead_ms_p50"] = p50(over) if over else 0.0
        busy += sum(
            p["durationMs"].get("triggerExecution", 0)
            for p in prog
            if b0 <= _progress_ms(p) < b1
        )
        if hop == "bronze-hop":
            allp = runner.queries[hop].recentProgress
            ops = [p["stateOperators"][0] for p in allp if p.get("stateOperators")]
            commits = [
                p["stateOperators"][0]["commitTimeMs"]
                for p in in_open
                if p.get("stateOperators")
            ]
            run.layer["ingest.bronze_state_commit_ms"] = p50(commits) if commits else 0.0
            run.layer["ingest.bronze_state_rows"] = ops[-1]["numRowsTotal"] if ops else 0
            run.layer["ingest.dedup_dropped"] = sum(
                op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
                + op.get("numRowsDroppedByWatermark", 0)
                for op in ops
            )
    run.layer["streaming.runner.catchup_busy_ms"] = busy
    run.layer["streaming.sinks.apply_ms_p50"] = p50(apply_ms) if apply_ms else 0.0
    run.layer["trace.scrape_s"] = time.perf_counter() - t


def _check_live(run: Run, spark, runner, gold_rows: int, expected) -> None:
    from telemetry_streaming_datalake_spark.streaming.sinks import ParquetUpsertStore

    from tools.crosscheck import compare_frames

    got_gold = spark.read.parquet(runner.gold_dir).count()
    if got_gold != gold_rows:
        run.fail(f"gold lake holds {got_gold} rows, oracle {gold_rows}")
    store = ParquetUpsertStore(spark, runner.serving_dir, key="id").read()
    problems = compare_frames(store.select(*expected.columns).toPandas(), expected)
    if problems:
        run.fail("serving store: " + "; ".join(problems))


# ----------------------------------------------------------------- main


def main() -> int:
    all_specs = load_spec()
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(all_specs))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    spec = all_specs[args.workload]
    sf_dir = os.path.join(HERE, "data", spec["data"])
    sys.path.insert(0, HERE)
    run = Run(args, all_specs)
    if args.workload == "live_feed":
        run_live(run, spec, sf_dir)
    else:
        run_batch(run, spec, sf_dir)
    res = run.result()
    with open(args.out, "w") as fh:
        json.dump(res, fh)
    write_side_file(args, run, res)
    return 0


def write_side_file(args: argparse.Namespace, run: Run, res: dict) -> None:
    """``.perfbench_out/<workload>-trace<n>.json``: every measurement of
    the run; a traced run adds its end-to-end overhead against the last
    untraced run of the same workload in this checkout."""
    os.makedirs(OUT_DIR, exist_ok=True)
    side = {"args": vars(args), "e2e": run.e2e, "layer": run.layer, "notes": run.notes, **res}
    untraced = os.path.join(OUT_DIR, f"{args.workload}-trace0.json")
    if args.trace and os.path.isfile(untraced):
        with open(untraced) as fh:
            base = json.load(fh)["e2e"]
        side["overhead_vs_untraced"] = {
            m: run.e2e[m] / base[m] - 1 for m in run.e2e if base.get(m)
        }
    with open(os.path.join(OUT_DIR, f"{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump(side, fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())
