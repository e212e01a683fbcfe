"""Stage metrics from Spark's status store, attributed to keys by time.

The status store is read through py4j and serialized to JSON on the JVM
side (one round trip per scrape).  Jobs are attributed to the key whose
timed window holds the job's submission time, so drains that run under
their own stream's job group are counted too.  Scrapes happen between
passes, outside every timed window.
"""

from __future__ import annotations

import json
import statistics
import time


class StatusTrace:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        self.scrape_s = 0.0

    def scrape(self) -> None:
        t = time.perf_counter()
        for job in json.loads(self._mapper.writeValueAsString(self._store.jobsList(None))):
            self.jobs[job["jobId"]] = job
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        for st in json.loads(self._mapper.writeValueAsString(stages)):
            if st["status"] != "SKIPPED":
                self.stages[(st["stageId"], st["attemptId"])] = st
        self.scrape_s += time.perf_counter() - t

    def window(self, start_ms: float, end_ms: float) -> dict[str, float]:
        """Totals over the jobs submitted inside ``[start_ms, end_ms]``."""
        jobs = [
            j for j in self.jobs.values()
            if j.get("submissionTime") and start_ms <= j["submissionTime"] <= end_ms
        ]
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [st for (sid, _), st in self.stages.items() if sid in ids]
        spans = sorted(
            (j["submissionTime"], min(j.get("completionTime") or end_ms, end_ms))
            for j in jobs
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in spans:  # union of job intervals
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        run_ms = sum(st["executorRunTime"] for st in stages)
        cpu_ms = sum(st["executorCpuTime"] for st in stages) / 1e6
        return {
            "busy_s": busy / 1000,
            "task_s": run_ms / 1000,
            "offcpu_s": max(0.0, run_ms - cpu_ms) / 1000,
            "gc_s": sum(st["jvmGcTime"] for st in stages) / 1000,
            "shuffle_mb": sum(st["shuffleReadBytes"] + st["shuffleWriteBytes"] for st in stages) / 1e6,
            "spill_mb": sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in stages) / 1e6,
            "jobs": len(jobs),
            "stages": len(stages),
        }


def layer_metrics(
    trace: StatusTrace,
    key_layer: dict[str, str],
    windows: list[dict[str, tuple[float, float]]],
    warm: dict[str, list[float]],
    cold: dict[str, float],
) -> dict[str, float]:
    """``<layer>.<stat>``: per key the median over warm passes, summed
    over the layer's keys; ``spark.*``: per-pass totals, median over
    passes."""
    per_key: dict[str, list[dict[str, float]]] = {k: [] for k in key_layer}
    for win in windows:
        for k, (s, e) in win.items():
            per_key[k].append(trace.window(s, e))
    out: dict[str, float] = {}
    for k, layer in key_layer.items():
        runs = per_key[k]
        if not runs:
            continue
        med = {f: statistics.median(r[f] for r in runs) for f in runs[0]}
        wall = statistics.median(warm[k])
        add = {
            "wall_s": wall,
            "driver_s": max(0.0, wall - med["busy_s"]),
            "task_s": med["task_s"],
            "offcpu_s": med["offcpu_s"],
            "gc_s": med["gc_s"],
            "shuffle_mb": med["shuffle_mb"],
            "first_pass_s": cold[k],
        }
        for stat, v in add.items():
            out[f"{layer}.{stat}"] = out.get(f"{layer}.{stat}", 0.0) + v
    passes = [
        [trace.window(s, e) for s, e in win.values()] for win in windows if win
    ]
    for f in ("jobs", "stages", "spill_mb"):
        out[f"spark.{f}"] = statistics.median(sum(r[f] for r in p) for p in passes)
    return out
