"""Structural guard: one stream-start primitive, one hop library, one
commit protocol, two sink primitives, one scratch owner, one timing
loop in the tools, no library code only tests reach.

Every library streaming query starts through
``streaming.pipeline.start_stream`` (``drain`` is its availableNow
form), the only place the session's shuffle-partition count changes at
runtime; every hop reads through ``streaming.pipeline.landing_stream`` and
dedups through ``bronze_dedup``;
every versioned store commits through
``streaming.sinks.publish_version``, which also owns the batch-id
record that makes the additive stores exactly-once; every
``foreachBatch`` body writes through ``streaming.sinks.land_batch``
(one ``batch=<id>`` dir per batch) or ``publish_frame`` (a whole
relation as a store version); every work dir
comes from ``session.scratch_dir`` and every build-once dir from
``session.scratch_cache``.  This test fails when a second
``writeStream`` chain, ``readStream``, watermarked dedup, conf window,
``CURRENT`` writer, batch-id ledger, marker-file commit, sink write
or batch-dir spelling outside ``sinks.py``, temp-dir
maker or module-level dir cache appears, when a tool outside
``tools/prof.py`` runs its own noop-sink timing loop, or when a library
def is reached from nothing but the tests.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "telemetry_streaming_datalake_spark"


def _owners(pred) -> set[tuple[str, str]]:
    """(module path, qualified def name) of every AST node matching
    ``pred`` anywhere in the library ("" for module level)."""
    hits = set()

    def walk(node, rel, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                walk(child, rel, scope + (child.name,))
                continue
            if pred(child):
                hits.add((rel, ".".join(scope)))
            walk(child, rel, scope)

    for path in sorted(PKG.rglob("*.py")):
        walk(ast.parse(path.read_text()), path.relative_to(PKG).as_posix(), ())
    return hits


def _attr(name):
    return lambda n: isinstance(n, ast.Attribute) and n.attr == name


def _const(*values):
    return lambda n: isinstance(n, ast.Constant) and n.value in values


def _imports(module):
    return lambda n: (
        isinstance(n, ast.Import) and any(a.name == module for a in n.names)
    ) or (isinstance(n, ast.ImportFrom) and n.module == module)


def _binds_name_ending(suffix):
    def pred(n):
        if isinstance(n, ast.Assign):
            targets = n.targets
        elif isinstance(n, ast.AnnAssign):
            targets = [n.target]
        else:
            return False
        return any(isinstance(t, ast.Name) and t.id.endswith(suffix) for t in targets)

    return pred


def test_one_stream_start_primitive():
    assert _owners(_attr("writeStream")) == {("streaming/pipeline.py", "start_stream")}
    assert _owners(_attr("awaitTermination")) == {
        ("streaming/pipeline.py", "drain"),
        ("streaming/runner.py", "AlwaysOnRunner.stop"),
    }


def test_one_hop_library():
    assert _owners(_attr("readStream")) == {("streaming/pipeline.py", "landing_stream")}
    assert _owners(_attr("dropDuplicatesWithinWatermark")) == {
        ("streaming/pipeline.py", "bronze_dedup"),
    }


def test_shuffle_partitions_set_only_by_the_primitive():
    # the session builder sets the initial value; only start_stream
    # changes it on a live session, and only around start()
    assert _owners(_const("spark.sql.shuffle.partitions")) == {
        ("session.py", "get_spark"),
        ("streaming/pipeline.py", "start_stream"),
    }


def test_current_pointer_written_only_by_publish():
    assert _owners(_const("CURRENT.tmp")) == {("streaming/sinks.py", "publish_version")}
    assert _owners(_const("CURRENT")) <= {
        ("streaming/sinks.py", "current_version_dir"),
        ("streaming/sinks.py", "publish_version"),
    }


def test_batch_id_commits_only_with_the_version():
    # the per-store ledgers and the seen store's marker-file commit are
    # gone; the one batch-id record belongs to publish_version's module
    assert _owners(_const("applied.json", "_SUCCESS", "compacted_v=")) == set()
    assert _owners(_const("_batch_id")) == {("streaming/sinks.py", "")}


def test_two_sink_primitives():
    # under streaming/ only sinks.py writes, plus the batch-side staging
    # that lays down a drain's input (never a foreachBatch body)
    writers = {o for o in _owners(_attr("write")) if o[0].startswith("streaming/")}
    assert {o for o in writers if o[0] != "streaming/sinks.py"} == {
        ("streaming/pipeline.py", "streaming_bronze_feed_b"),
        ("streaming/pipeline.py", "_stage_frontier_landing"),
        ("streaming/pipeline.py", "streaming_change_feed"),
        ("streaming/runner.py", "always_on_topology"),
    }
    # one spelling of a landed batch's dir, owned by the sinks
    assert {o[0] for o in _owners(_const("batch="))} == {"streaming/sinks.py"}
    assert _owners(_const("batch-")) == set()


def test_one_scratch_owner():
    # every library work dir comes from scratch_dir, every build-once
    # dir from scratch_cache; the expression cache is in-memory only
    assert _owners(_attr("mkdtemp")) == {("session.py", "scratch_dir")}
    assert _owners(_imports("tempfile")) == {("session.py", "")}
    assert _owners(_binds_name_ending("_CACHE")) == {("operators/exprcache.py", "")}


def test_registry_makes_no_temp_dirs_of_its_own():
    tree = ast.parse((REPO / "__spark_entry__.py").read_text())
    assert not [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "mkdtemp"
    ]


def test_one_timing_loop():
    # every tool times through tools/prof.py's time_key; the side
    # scripts it replaced stay gone
    tools = REPO / "tools"
    noop = {
        p.name
        for p in sorted(tools.glob("*.py"))
        for n in ast.walk(ast.parse(p.read_text()))
        if isinstance(n, ast.Constant) and n.value == "noop"
    }
    assert noop == {"prof.py"}
    for gone in ("qtime.py", "plansweep.py", "drainprof.py"):
        assert not (tools / gone).exists()


#: library defs nothing outside ``tests/`` reaches, kept on purpose:
#: each backs a README capability, is the reference a test compares a
#: reached operator against, or is a test fake
_TEXT_CONNECTOR = "README source connectors: JSON-lines and quoted CSV land identical bronze"
KEPT = {
    ("__init__.py", "__all__"): "the package's public-module list",
    ("operators/derived.py", "counter_rate"):
        "README derived signals: counter→rate; the batch twin of the streaming drain",
    ("operators/retention.py", "purge_rewrite"):
        "README operations: retention purge (partition-pruned)",
    ("operators/retention.py", "zorder_rewrite"): "README lakehouse: OPTIMIZE ZORDER analog",
    ("storage/stats.py", "prune_by_ts"): "README stats index: data-skipping pruning",
    ("operators/similarity.py", "extend_ivf_index"):
        "README persisted ANN index: incremental FAISS-style add",
    ("operators/text.py", "extend_text_index"):
        "README text index: incremental extend == rebuild",
    ("sources/textfeeds.py", "EVENT_WIRE_SCHEMA"): _TEXT_CONNECTOR,
    ("sources/textfeeds.py", "_wire_frame"): _TEXT_CONNECTOR,
    ("sources/textfeeds.py", "stage_events_jsonl"): _TEXT_CONNECTOR,
    ("sources/textfeeds.py", "read_events_jsonl"): _TEXT_CONNECTOR,
    ("sources/textfeeds.py", "bronze_from_jsonl"): _TEXT_CONNECTOR,
    ("sources/textfeeds.py", "stage_events_csv"): _TEXT_CONNECTOR,
    ("sources/textfeeds.py", "read_events_csv"): _TEXT_CONNECTOR,
    ("sources/textfeeds.py", "bronze_from_csv"): _TEXT_CONNECTOR,
    ("streaming/pipeline.py", "streaming_bronze_feed_b"):
        "README bronze: the array-of-records feed consumed as a text stream",
    ("streaming/sinks.py", "InMemoryKVServingStore"): "test fake of the serving-sink contract",
    ("operators/dedup.py", "bucket_truncation"):
        "the clip monitor bucket_pairs' hot-bucket cap documents; tests pin the cap with it",
    ("operators/derived.py", "cusum_changepoint"): "batch reference of streaming_cusum",
    ("operators/derived.py", "downsample_ohlc"): "batch reference of streaming_ohlc",
    ("operators/derived.py", "ewma_smooth"): "batch reference of streaming_ewma",
    ("operators/detect.py", "slo_burn_alerts"): "batch reference of streaming_slo_burn",
    ("operators/detect.py", "slo_hourly"): "the hourly stage of slo_burn_alerts",
    ("operators/merge.py", "cdc_apply"): "batch reference of streaming_cdc_apply",
    ("operators/rollup.py", "rollup_grouping_sets"):
        "batch reference of streaming_grouping_sets",
    ("operators/rollup.py", "rollup_hour"): "batch reference of incremental_rollup_hour",
    ("operators/text.py", "tokenize_bpe"):
        "README tokenizer: corpus tokenization via the trained segmentation",
}


def _names(node) -> set[str]:
    """Every identifier ``node`` uses: names, attributes and import
    aliases — never string constants."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            if n.asname:
                out.add(n.asname)
    return out


def test_every_library_def_is_reached():
    """A top-level library def, class or assigned name is reached when
    its name appears in a root — the registry, the bench, perfbench,
    the tools, or a library module's top-level statements — or in a
    reached def.  Whatever is left must be exactly ``KEPT``."""
    roots = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    roots += sorted((REPO / "perfbench").glob("*.py")) + sorted((REPO / "tools").glob("*.py"))
    reached = set().union(*(_names(ast.parse(p.read_text())) for p in roots))
    defs = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                bound = [st.name]
            elif isinstance(st, ast.Assign):
                bound = [t.id for t in st.targets if isinstance(t, ast.Name)]
            elif isinstance(st, ast.AnnAssign) and isinstance(st.target, ast.Name):
                bound = [st.target.id]
            else:
                bound = []
            if bound:
                defs.update({(rel, name): st for name in bound})
            else:
                reached |= _names(st)
    done: set = set()
    grew = True
    while grew:
        grew = False
        for key, node in defs.items():
            if key not in done and key[1] in reached:
                done.add(key)
                reached |= _names(node)
                grew = True
    assert set(defs) - done == set(KEPT)
