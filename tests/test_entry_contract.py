"""Driver-contract consistency checks (cheap, no data execution).

The correctness gate compares queries() against oracle_sql() by
column-name-sorted value hashes — so the failure modes this file
guards are structural: an oracle key without a query, duplicate or
mismatched column names, a query that doesn't even build its plan.
"""

import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def test_every_oracle_key_has_a_query():
    q, o = set(E.queries()), set(E.oracle_sql())
    assert o <= q, f"oracles without queries: {sorted(o - q)}"


def test_rows_only_entries_are_the_documented_ones():
    """Every registered query has a DuckDB oracle twin — zero
    rows-only keys since r8: even BPE merge LEARNING oracles through
    the fixed-depth loop unrolled into chained CTE rounds (general
    recursion isn't SQL, but compile-time-constant n_merges is just n
    relational rounds; pure-Python Sennrich parity stays pinned in
    tests/test_bpe.py)."""
    q, o = set(E.queries()), set(E.oracle_sql())
    assert q - o == set()


#: streaming entries execute sinks; they're covered by test_streaming
_PLAN_ONLY_SKIP = {"streaming_silver_dedup", "streaming_upsert", "streaming_stateful_latest"}


@pytest.fixture(scope="module")
def built(spark):
    out = {}
    for name, fn in E.queries().items():
        if name in _PLAN_ONLY_SKIP:
            continue
        out[name] = fn(spark, SF)
    return out


def test_all_query_plans_build_and_columns_are_unique(built):
    for name, df in built.items():
        cols = df.columns
        assert len(cols) == len(set(cols)), f"duplicate columns in {name}: {cols}"
        assert all(c == c.lower() for c in cols), f"non-lowercase column in {name}"


def test_no_query_shares_an_ambiguous_alias_with_its_oracle(built):
    """Oracle SQL must SELECT exactly the Spark column names (the
    driver sorts by name before hashing) — verify every Spark column
    name appears verbatim in the oracle text."""
    oracles = E.oracle_sql()
    for name, df in built.items():
        if name not in oracles:
            continue
        sql = oracles[name].lower()
        for c in df.columns:
            assert c.lower() in sql, f"{name}: column {c} not named in oracle SQL"


def test_no_query_ships_complex_typed_columns(built):
    """The driver's canonicalizer pandas-sorts every output column and
    crashes on unhashable list/dict cells (round-6 `ts_similarity` red
    row) — so no registered query may output array/map/struct columns;
    stringify them instead."""
    from tools.crosscheck import complex_cols

    for name, df in built.items():
        bad = complex_cols(df.schema)
        assert not bad, f"{name} ships driver-incompatible columns {bad}"


def test_crosscheck_guard_catches_synthetic_array_column(spark):
    """The local gate itself must reject an array-typed output (the
    r6 escape path: crosscheck normalized via repr() and passed what
    the driver could not hash)."""
    from tools.crosscheck import complex_cols
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.array(F.lit(1), F.lit(2)).alias("xs"))
    assert complex_cols(df.schema) == ["xs"]
    assert complex_cols(
        spark.range(1).select(F.lit("1,2").alias("xs")).schema
    ) == []


def test_bench_headline_keys_are_all_registered():
    """Every bench key resolves to a callable: a live registry key, or
    (for keys whose registry row retired to a survivor under §2b) a
    bench-only entry in _retired_bench() — the driver bench contract
    never drops or renames a key, so the retired batch operators stay
    timed there."""
    import bench

    qs = set(E.queries())
    retired = bench._retired_bench()
    missing = [k for k in bench.HEADLINE if k not in qs and k not in retired]
    assert not missing, missing
    # retired bench entries must not shadow live registry keys
    overlap = [k for k in retired if k in qs]
    assert not overlap, overlap


def test_rotation_helper_orders_stalest_first():
    """tools/rotate.py must cover every registered key exactly once,
    with never-driver-checked keys ahead of any key that has a green
    CORRECTNESS row."""
    import importlib

    rotate = importlib.import_module("tools.rotate")

    greens = rotate.last_green_rounds()
    keys = list(E.queries())
    order = sorted(
        range(len(keys)), key=lambda i: (greens.get(keys[i], -1), i)
    )
    ordered = [keys[i] for i in order]
    assert sorted(ordered) == sorted(keys)
    ranks = {k: r for r, k in enumerate(ordered)}
    never = [k for k in keys if k not in greens]
    checked = [k for k in keys if k in greens]
    if never and checked:
        assert max(ranks[k] for k in never) < min(ranks[k] for k in checked)


def test_registry_work_dirs_are_removed_at_exit(tmp_path):
    """Registry streaming keys and every build-once cache family
    (frontier split, media fixture, dedup index, text index, IVF
    index) run in work dirs under one per-process scratch root in
    TMPDIR: a process that ran them made exactly that one ``tsdl_*``
    root, and after it exits no ``tsdl_*`` entry is left."""
    import os
    import subprocess
    import sys

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    keys = (
        "streaming_grouping_sets", "streaming_freq_sketch",
        "streaming_url_frontier", "png_meta", "incremental_dedup",
        "bm25_indexed", "ann_ivf_indexed",
    )
    code = (
        "import os, tempfile\n"
        "import __spark_entry__ as E\n"
        "from telemetry_streaming_datalake_spark.session import get_spark\n"
        "s = get_spark('scratch-check')\n"
        f"for k in {keys!r}:\n"
        f"    assert E.queries()[k](s, {SF!r}).count() > 0, k\n"
        "roots = [n for n in os.listdir(tempfile.gettempdir()) if n.startswith('tsdl_')]\n"
        "assert len(roots) == 1, roots\n"
    )
    env = dict(
        os.environ, TMPDIR=str(tmp), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env,
        capture_output=True, text=True, timeout=900,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert [n for n in os.listdir(tmp) if n.startswith("tsdl_")] == []
