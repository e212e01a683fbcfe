"""tools/prof.py: the tools' one timed loop, its plan-only sweep and its
per-query streaming records."""

from __future__ import annotations

import json

import pytest

import __spark_entry__ as E
from tools import prof

SF = "/root/testdata/sf0.001"


def _job_ids(spark) -> set[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


def _records(capsys) -> list[dict]:
    return [json.loads(line) for line in capsys.readouterr().out.splitlines()]


def test_time_key_counts_rows_and_keeps_the_best_run(spark):
    fn = E.queries()["q1_pricing"]
    rec = prof.time_key(spark, fn, SF, runs=2)
    assert rec["rows"] == fn(spark, SF).count()
    assert len(rec["runs_s"]) == 2
    assert all(rec["best_s"] <= w for w in rec["runs_s"])
    assert "queries" not in rec  # a batch key starts no streaming query
    with pytest.raises(ValueError):
        prof.time_key(spark, fn, SF, runs=0)


def test_runs_zero_explains_without_executing(spark, tmp_path, capsys):
    fn = E.queries()["q1_pricing"]
    before = _job_ids(spark)
    fn(spark, SF)  # a bare build: only the parquet schema reads run jobs
    built = _job_ids(spark)
    code = prof.run(spark, SF, ["--runs", "0", "--explain-dir", str(tmp_path), "q1_pricing"])
    after = _job_ids(spark)
    assert code == 0
    assert len(after - built) == len(built - before)
    plan = (tmp_path / "q1_pricing.txt").read_text()
    assert "Physical Plan" in plan
    rec, summary = _records(capsys)
    assert rec["key"] == "q1_pricing" and "best_s" not in rec
    assert summary == {"total": 0, "queries": {}, "failed": []}


def test_streaming_key_records_its_queries(spark, capsys):
    code = prof.run(spark, SF, ["--runs", "1", "streaming_counter_rate", "no_such_key"])
    assert code == 1
    rec, missing, summary = _records(capsys)
    assert missing["key"] == "no_such_key" and missing["error"].startswith("KeyError")
    assert summary["failed"] == ["no_such_key"]
    triggers = [q["durationMs"].get("triggerExecution", 0) for q in rec["queries"]]
    assert max(triggers) > 0
    assert all(q["batches"] >= 1 for q in rec["queries"])
    assert rec["residue_s"] == pytest.approx(rec["wall_s"] - sum(triggers) / 1000, abs=2e-3)
