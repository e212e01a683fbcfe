"""Plan-shape regression tests: the scale guarantees SURVEY §4/§6
claims are asserted here so a refactor cannot silently reintroduce a
cartesian product, an unbroadcast dimension join, or a lost map-side
partial aggregate."""

import contextlib
import io

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _uncached_catalog(spark):
    """Plan pins assert the shape of the UNCACHED plan.  An
    InMemoryRelation persisted by an earlier test file keeps its full
    projection (e.g. the parse_bronze get_json_object columns) alive
    and defeats the very pruning these pins guard — the r8 suite ran
    312/313 because of exactly that leak.  Clearing the cache before
    every pin makes the module order-independent."""
    spark.catalog.clearCache()


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark):
    import __spark_entry__ as E

    # module-scoped fixtures instantiate BEFORE the function-scoped
    # autouse _uncached_catalog, so an InMemoryRelation left by a file
    # that ran earlier in THIS process (e.g. test_streaming's .cache()
    # parity frames under tools/partest.py's size-ordered buckets)
    # would bake InMemoryTableScan into every plan built here — clear
    # first
    spark.catalog.clearCache()
    qs = E.queries()
    names = [
        "gold_enrich",
        "custom_metric_sum",
        "orphan_usage",
        "dedup_minhash",
        "dedup_simhash",
        "dedup_embedding",
        "ann_lsh",
        "q3_shipping",
        "silver_explode",
        "bronze_feed_b",
        "doc_chunks",
        "gap_detect",
        "pii_redact",
        "asof_latest_order",
        "order_window_activity",
        "anomaly_zscore",
        "pivot_metrics",
        "top_ngrams",
        "label_centroids",
        "stratified_sample",
        "stage_delay_report",
        "bronze_feed_c",
        "q2_min_cost_supplier",
        "q8_market_share",
        "q9_product_profit",
        "q20_excess_shippers",
        "q21_waiting_supplier",
        "metric_rank_report",
        "compaction_plan",
        "event_transitions",
    ]
    out = {n: _plan(qs[n](spark, SF)) for n in names}
    # registry-retired keys (SURVEY §2b displacement): the operators
    # remain and their plan pins stay — build the frames directly
    from telemetry_streaming_datalake_spark.ingest import bronze as B
    from telemetry_streaming_datalake_spark.operators import derived as DV
    from telemetry_streaming_datalake_spark.session import load_table

    # rollup_grouping_sets' registry key retired r10 (identical oracle
    # via streaming_grouping_sets) — its plan pins stay, built direct
    from telemetry_streaming_datalake_spark.operators import rollup as R

    out["rollup_grouping_sets"] = _plan(
        R.rollup_grouping_sets(qs["gold_enrich"](spark, SF))
    )
    out["counter_rate"] = _plan(
        DV.counter_rate(B.dedup_exact(B.parse_bronze(load_table(spark, SF, "events"))))
    )
    # batch sessionize's key retired r11 (identical oracle via the
    # streaming_sessionize drain) — the operator + its plan pin stay
    from telemetry_streaming_datalake_spark.operators import sessions as SES

    out["sessionize"] = _plan(SES.sessionize(load_table(spark, SF, "events")))
    # latest_metric's key retired r13 (identical latest relation via
    # always_on_topology's oracle) — the operator + its plan pins stay
    from telemetry_streaming_datalake_spark.operators import latest as L

    out["latest_metric"] = _plan(L.latest_metric(qs["gold_enrich"](spark, SF)))
    return out


def test_no_cartesian_or_nested_loop_anywhere(plans):
    """LSH families must candidate-generate via bucket keys; the
    medallion joins are all equi-joins — a cross product anywhere is
    an automatic fail at 100 TB."""
    for name, p in plans.items():
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_dimension_joins_broadcast(plans):
    """History/mapping/dim joins must be BroadcastHashJoin — the fact
    side must never shuffle for a dimension lookup."""
    for name in ["gold_enrich", "custom_metric_sum", "orphan_usage", "q3_shipping"]:
        assert "BroadcastHashJoin" in plans[name], name
        assert "SortMergeJoin" not in plans[name], name


def test_rollups_have_partial_aggregation(plans):
    """Map-side combine: the shuffle carries partial aggregates, not
    raw rows."""
    # agg_hour retired from the registry (covered by the grouping-sets
    # rollup, whose Expand feeds the same partial aggregation)
    for name in ["rollup_grouping_sets", "latest_metric"]:
        assert "partial_" in plans[name], name


def test_sessionize_single_exchange(plans):
    """session_window = one hash exchange on the user key, then an
    in-partition interval merge — no window-function global sort."""
    p = plans["sessionize"]
    assert p.count("Exchange") <= 2  # key exchange (+ AQE read)
    assert "SessionWindow" in p or "session_window" in p


def test_silver_explode_broadcasts_mapping(plans):
    p = plans["silver_explode"]
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_silver_explode_prunes_from_json(plans):
    """The payload_k reading rides parse_bronze's get_json_object
    extraction (what the oracle reads too); the from_json struct stays
    on parse_bronze_payload's schema as the explicit-schema seam but
    must be PRUNED out of this plan — referencing payload.k instead of
    payload_k re-doubles the JSON parse (measured 2.2x on the key)."""
    assert "from_json" not in plans["silver_explode"]


def test_map_only_ops_have_no_exchange(plans):
    """Chunking and PII redaction are pure per-row transforms — any
    exchange in their plan is a regression."""
    for name in ["doc_chunks", "pii_redact"]:
        assert "Exchange" not in plans[name], name


def test_gap_detect_single_silver_execution(plans):
    """The global-latest scalar must come from a window over the
    aggregated frame, not a second silver branch: exactly one events
    scan in the plan."""
    import re

    scans = re.findall(r"Scan parquet\s+\((\d+)\)", plans["gap_detect"])
    assert len(set(scans)) == 1, scans


def test_decontaminate_broadcasts_benchmark_side(spark):
    # decontaminate's registry key retired r14 -> decontamination_overlap
    # composes its oracle verbatim; the broadcast-semi-join plan pin
    # stays on the operator directly
    from telemetry_streaming_datalake_spark.operators import corpus as CP
    from telemetry_streaming_datalake_spark.session import load_table

    p = _plan(CP.decontaminate(load_table(spark, SF, "documents")))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "SortMergeJoin" not in p


def test_ngram_jaccard_single_corpus_scan(spark):
    """The fingerprint-blocked Jaccard pass must scan `documents`
    exactly once: fingerprints + shingle sets come from one shared
    frame (eager localCheckpoint since the r9 leak fix — checkpoint
    blocks are ContextCleaner-reclaimed, unlike caller-unreleasable
    cache pins), candidates from bucket_pairs (no self-join
    re-execution).  The checkpoint materializes the ONE corpus scan up
    front, so the executed plan must contain ZERO parquet scans — all
    three consumers read the same checkpointed RDD, making a rescan
    structurally impossible (strictly stronger than the old
    one-InMemoryRelation pin)."""
    import re

    import __spark_entry__ as E

    df = E.queries()["dedup_ngram_jaccard"](spark, SF)
    p = _plan(df)
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", p))
    assert not scan_ids, f"corpus must come from the checkpoint, not a rescan: {scan_ids}"
    assert "ExistingRDD" in p


def test_scan_prunes_columns(spark):
    """Column pruning reaches the parquet scan: a 2-column projection
    must not read the whole documents schema (text is the wide col)."""
    from telemetry_streaming_datalake_spark.session import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    p = _plan(docs.select("doc_id").filter(F.col("doc_id") > 10))
    assert "text" not in p.split("ReadSchema")[-1]


def test_asof_join_has_no_join_operator(plans):
    """The union–sort as-of formulation must compile to window
    carry-forward, never a join — a join spelling explodes to
    |left|x|matching rights| rows at scale."""
    p = plans["asof_latest_order"]
    assert "Join" not in p
    assert "Window" in p


def test_anomaly_zscore_moments_broadcast(plans):
    """The 5-row moments aggregate broadcasts back; the fact stream
    must not shuffle for it."""
    assert "BroadcastHashJoin" in plans["anomaly_zscore"]
    assert "SortMergeJoin" not in plans["anomaly_zscore"]


def test_range_join_is_equi_keyed(plans):
    """The week-window activity join must carry the custkey equi-key
    (hash or sort-merge) with the time range as residual — never a
    nested-loop over the cross space."""
    p = plans["order_window_activity"]
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p)


def test_new_aggregates_are_partial(plans):
    """pivot / top_ngrams / label_centroids must show map-side partial
    aggregation before their exchange."""
    for name in ["pivot_metrics", "top_ngrams", "label_centroids"]:
        assert "partial" in plans[name].lower(), name


def test_stratified_sample_map_only(plans):
    """Hash-threshold sampling is a filter — zero exchanges."""
    assert "Exchange" not in plans["stratified_sample"]


def test_gapfill_generates_without_join(spark):
    """Gapfill emits fill rows from the owning observation — the plan
    must contain Generate (sequence explode) and zero joins."""
    import __spark_entry__ as E

    p = _plan(E.queries()["gapfill_hourly"](spark, SF))
    assert "Join" not in p
    assert "Generate" in p


def test_stage_delay_report_broadcasts_and_aggregates_partial(plans):
    """Each stage contributes a partial-agg shuffle; the provider-name
    attach is a broadcast join over the tiny aggregated frame."""
    p = plans["stage_delay_report"]
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert "partial_max" in p or "partial" in p.lower()


def test_feed_c_parse_is_map_only(spark):
    """The type-dispatched parse (from_json -> when ladder -> one
    explode) must add no exchange of its own: parsing a raw feed is a
    single map-only codegen stage regardless of the schema mix."""
    from telemetry_streaming_datalake_spark.ingest import feeds as FB

    raw = spark.createDataFrame(
        [('{"type":"reading","sn":"1","m":"x","eid":1,"ts":0,"val":1.0}',)],
        "raw string",
    )
    assert "Exchange" not in _plan(FB.parse_bronze_feed_c(raw))


def test_quarantine_router_is_map_only_with_broadcast_vocab(spark):
    """The dead-letter router must add no exchange: a when ladder over
    the scan plus a broadcast vocabulary join — same plan at any
    ingest rate."""
    from telemetry_streaming_datalake_spark import datamodel as dm
    from telemetry_streaming_datalake_spark.ingest import bronze as B
    from telemetry_streaming_datalake_spark.session import load_table

    p = _plan(
        B.bronze_quarantine(load_table(spark, SF, "events"), dm.metric_mapping(spark))
    )
    assert "hashpartitioning" not in p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_boilerplate_ngrams_two_compact_key_shuffles(spark):
    """Gram dedup happens map-side (array_distinct before the explode);
    the only exchanges are the gram-hash window and the doc aggregate —
    and there is no self-join back onto the corpus."""
    import __spark_entry__ as E

    import re

    p = _plan(E.queries()["boilerplate_ngrams"](spark, SF))
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2
    assert "Window" in p


def test_pack_sequences_single_ordering_window(spark):
    """Packing is one per-(lang, shard) ordering window over per-doc
    token counts — one hash exchange, no join, no global sort."""
    import __spark_entry__ as E

    import re

    # pack_sequences's registry key retired r14 -> packing_efficiency
    # composes its oracle verbatim; the plan pin stays on the operator
    from telemetry_streaming_datalake_spark.operators import corpus as CP
    from telemetry_streaming_datalake_spark.session import load_table

    p = _plan(CP.pack_sequences(load_table(spark, SF, "documents")))
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "rangepartitioning" not in p


def test_semantic_dedup_joins_on_cell_key_only(spark):
    """In-cell pairing must be an equi-join on the cell key — never a
    cartesian pair explosion."""
    import __spark_entry__ as E

    p = _plan(E.queries()["semantic_dedup"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_kmeans_refine_partial_aggregates(spark):
    """The centroid update must carry partial means through the
    (cell, dim) shuffle — map-side combine collapses the posexplode
    amplification before any exchange."""
    import __spark_entry__ as E

    p = _plan(E.queries()["kmeans_refine"](spark, SF))
    assert "partial_" in p
    assert "Join" not in p


def test_grouping_sets_rollup_single_expand_single_agg_exchange(spark):
    """The three grains must come from ONE scan: exactly one Expand
    (3 rows per gold row, one per grain) feeding a partial-aggregated
    shuffle — never three separate scans of gold."""
    import re

    import __spark_entry__ as E

    from telemetry_streaming_datalake_spark.operators import rollup as R

    p = _plan(R.rollup_grouping_sets(E.queries()["gold_enrich"](spark, SF)))
    assert len(re.findall(r"\(\d+\) Expand", p)) == 1
    assert "partial_" in p
    # gold's parquet source (events) is scanned once, not per-grain
    assert len(re.findall(r"events\.parquet", p)) == 1


def test_cohort_retention_single_fact_shuffle(spark):
    """The retention matrix must shuffle the events fact ONCE (on
    user_id); the day² matrix stages run on user-/day-cardinality
    frames.  No join against the fact, no second scan."""
    import re

    import __spark_entry__ as E

    p = _plan(E.queries()["cohort_retention"](spark, SF))
    assert len(re.findall(r"events\.parquet", p)) == 1
    assert "partial_" in p


def test_funnel_joins_user_cardinality_sides(spark):
    """Funnel conversion joins the user-cardinality entered relation to
    the step-b slice on user_id — equi-join only, no cartesian."""
    import __spark_entry__ as E

    p = _plan(E.queries()["funnel_conversion"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_value_histogram_bounds_broadcast(spark):
    """The metric-cardinality [min,max] bounds must broadcast back —
    the fact stream never shuffles for the bucket assignment."""
    import __spark_entry__ as E

    p = _plan(E.queries()["value_histogram"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_rolling_actives_single_activity_reduction(spark):
    """Single events scan: the observed-day spine rides the
    contribution aggregate as an offset-0 flag — no second branch, no
    persist (r5 leaked cached blocks), no spine join."""
    import re

    import __spark_entry__ as E

    p = _plan(E.queries()["rolling_active_users"](spark, SF))
    assert len(set(re.findall(r"Scan parquet\s+\((\d+)\)", p))) == 1
    assert "Join" not in p


def test_new_tpch_dims_broadcast(plans):
    """part/supplier/nation/region sides of the final TPC-H analogs
    must broadcast; a dim-side SortMergeJoin would shuffle the fact.
    (q21's two SMJs are the CORRECT big-big lineitem⋈orders and
    late-lines⋈per-order joins — only the dim joins are pinned.)"""
    for name in ["q2_min_cost_supplier", "q8_market_share", "q9_product_profit",
                 "q20_excess_shippers"]:
        assert "BroadcastHashJoin" in plans[name], name
        assert "SortMergeJoin" not in plans[name], name


def test_rank_report_and_transitions_no_joins(plans):
    """League table and transition matrix are window+agg shapes —
    zero join operators at any scale."""
    for name in ["metric_rank_report", "event_transitions", "compaction_plan"]:
        assert "Join" not in plans[name], name


def test_metric_correlation_single_aggregate_no_join(spark):
    """All pairwise co-moments compute in one aggregation over the
    pivot — no join, no per-pair re-scan; partial aggregation present."""
    import re

    import __spark_entry__ as E

    p = _plan(E.queries()["metric_correlation"](spark, SF))
    assert "Join" not in p
    assert "partial" in p.lower()
    assert len(re.findall(r"events\.parquet", p)) == 1


def test_ts_similarity_takeordered_no_global_sort(spark):
    """Top-k must execute as TakeOrdered (per-partition heap + driver
    merge of k rows) over the one series-keyed window shuffle — a
    global Sort of the scored frame is the anti-pattern."""
    import re

    import __spark_entry__ as E

    p = _plan(E.queries()["ts_similarity"](spark, SF))
    assert "TakeOrderedAndProject" in p
    assert len(re.findall(r"events\.parquet", p)) == 1


def test_latest_state_diff_single_gold_subtree(spark):
    """Both CDC states (pre-cutoff latest, all-data latest) must come
    out of ONE conditional aggregate over ONE gold subtree — the
    pre-r6 two-branch full-outer spelling scanned events+customer
    twice (VERDICT r5 item 3)."""
    import re

    import __spark_entry__ as E

    p = _plan(E.queries()["latest_state_diff"](spark, SF))
    assert len(re.findall(r"events\.parquet", p)) == 1
    assert len(re.findall(r"customer\.parquet", p)) == 1
    # the dim joins inside gold remain; the outer two-state diff join must not
    assert "FullOuter" not in p
    assert "partial" in p.lower()


def test_ann_ivf_indexed_partition_pruned_probe(spark):
    """The persisted-index probe must read ONLY the probed cell
    partitions: the cells/ scan carries a pushed partition filter on
    `cell`, and the corpus parquet is never rescanned for candidates
    (embeddings.parquet appears only for the tiny query-side reads)."""
    from telemetry_streaming_datalake_spark.operators import similarity as SIM

    df = SIM.ann_ivf_indexed(spark, SF, list(range(8)))
    p = _plan(df)
    assert "PartitionFilters" in p
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "cell" in m.group(1)


def test_ann_ivfpq_partition_pruned_probe(spark):
    """The quantized-index probe keeps the IVF pin's contract: the
    posting-list scan is partition-pruned on `cell`, and the scanned
    columns are the CODES (+scale), never a float embedding column —
    the 4x probe-I/O cut is the point of the layout."""
    import re

    from telemetry_streaming_datalake_spark.operators import similarity as SIM

    df = SIM.ann_ivfpq(spark, SF, list(range(8)))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in p
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "cell" in m.group(1)
    cells_scan = next(
        seg.split("\n")[0]
        for seg in p.split("FileScan")
        if "/cells" in seg.split("\n")[0]
    )
    assert "codes" in cells_scan and "embedding" not in cells_scan


def test_domain_cap_tail_never_shuffles(spark):
    """domain_cap_sample's scale contract: the corpus appears twice
    (tail anti-join branch + hot-domain window branch — the
    dimension-sized counts ride a localCheckpoint, not a third
    re-aggregation), the ONLY hash exchange is the over-cap window,
    and Spark's rank-limit pushdown (WindowGroupLimit) caps the sort."""
    from telemetry_streaming_datalake_spark.operators.corpus import (
        domain_cap_sample,
    )
    from telemetry_streaming_datalake_spark.session import load_table

    df = domain_cap_sample(load_table(spark, SF, "documents"))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("FileScan") <= 2
    assert p.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in p
    assert "WindowGroupLimit" in p


def test_incremental_dedup_prunes_index_sides(spark):
    """The corpus-cardinality index tables must never broadcast: the
    batch key sets broadcast INTO LeftSemi prunes of the index, and
    the only full-width joins run over the pruned (≤|batch|) frames.
    No SortMergeJoin, no cartesian."""
    import __spark_entry__ as E

    p = _plan(E.queries()["incremental_dedup"](spark, SF))
    assert "LeftSemi" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_zipf_fit_takeordered_not_global_sort(spark):
    """The top-N vocabulary cut must execute as TakeOrdered (bounded
    driver merge), never a global Sort of the vocabulary."""
    import __spark_entry__ as E

    p = _plan(E.queries()["zipf_fit"](spark, SF))
    assert "TakeOrderedAndProject" in p


def test_cusum_single_fact_shuffle_shared_sort(spark):
    """CUSUM's two window stages (integer cumsum, running min) must
    share ONE series-keyed exchange + sort; the per-metric moments ride
    a broadcast, never a fact-side shuffle."""
    from telemetry_streaming_datalake_spark.operators import derived as DV

    src = spark.createDataFrame(
        [("s", "m", 1, 1.0)], "serial string, metric string, unix_ts long, value double"
    )
    p = DV.cusum_changepoint(src)._jdf.queryExecution().executedPlan().toString()
    # two shuffles total: the fact's series key + the 5-row moments agg
    assert p.count("Exchange hashpartitioning") == 2
    assert "BroadcastHashJoin" in p
    # both Window operators present, ONE sort feeding them
    assert p.count("+- Window") == 2
    assert p.count("+- Sort") == 1


def test_ewma_single_series_shuffle(spark):
    """The EWMA fold is plan-time literals over one series-keyed
    window — exactly one exchange, no broadcast, no join."""
    from telemetry_streaming_datalake_spark.operators import derived as DV

    src = spark.createDataFrame(
        [("s", "m", 1, 1.0)], "serial string, metric string, unix_ts long, value double"
    )
    p = DV.ewma_smooth(src)._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_ohlc_single_partial_agg_no_window(spark):
    """OHLC is ONE partial-agg shuffle (struct min/max carry
    open/close) — no Window operator, no sort."""
    from telemetry_streaming_datalake_spark.operators import derived as DV

    src = spark.createDataFrame(
        [("s", "m", 1, 1.0)], "serial string, metric string, unix_ts long, value double"
    )
    p = DV.downsample_ohlc(src)._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1
    assert "partial_min_by" in p  # map-side combine present
    assert "HashAggregate" in p and "SortAggregate" not in p
    assert "Window" not in p and "+- Sort" not in p


def test_png_meta_map_only(spark):
    """Container synthesis + parse is a map-only pipeline — zero
    exchanges of any kind."""
    from telemetry_streaming_datalake_spark.operators import multimodal as MM

    docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    p = MM.png_meta(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p


def test_video_meta_map_only(spark):
    """AVI container synthesis + chunk-walk parse is a map-only
    pipeline — zero exchanges of any kind (the png_meta shape)."""
    from telemetry_streaming_datalake_spark.operators import multimodal as MM

    docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    p = MM.video_meta(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p


def test_png_pixels_map_only(spark):
    """Real-zlib synthesis (incl. the Adler-32 aggregates), inflate,
    unfilter, and featurize stay ONE map-only pipeline — zero
    exchanges; the decode-and-featurize stage shape at 100 TB."""
    from telemetry_streaming_datalake_spark.operators import multimodal as MM

    docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    p = MM.png_pixels(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p


def test_domain_quality_report_single_fact_shuffle(spark):
    """The domain dashboard pays ONE hash exchange over the fact table
    (the source-keyed aggregate, with map-side partials); the token
    total attaches as a broadcast 1-row scalar — no second fact
    shuffle, no sort-aggregate, no window."""
    from telemetry_streaming_datalake_spark.operators.curation import (
        domain_quality_report,
    )

    docs = spark.createDataFrame(
        [(1, "some text here", "en", "s1", 14)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    p = (
        domain_quality_report(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the corpus lineage is checkpointed away after the source-keyed
    # aggregate: the executed plan starts from the domain-cardinality
    # checkpoint RDD (no parquet scan, no fact exchange) and the
    # total attaches as a broadcast scalar — no window, no sort
    assert "Exchange hashpartitioning" not in p
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p
    assert "Window" not in p and "Scan parquet" not in p


def test_retrieval_quality_report_scans_corpus_once(spark):
    """The depth curve must NOT rescan the corpus per depth: the
    depth-max retriever lists and the k-sized truth list are eagerly
    checkpointed, so the final report plan reads only depth-sized
    checkpoint RDDs — zero corpus or embeddings file scans."""
    from telemetry_streaming_datalake_spark.operators import similarity as SIM
    from telemetry_streaming_datalake_spark.session import load_table

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    rep = SIM.retrieval_quality_report(docs, emb)
    p = rep._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in p
    assert "embeddings.parquet" not in p


def test_dedup_threshold_curve_scans_corpus_once(spark):
    """The threshold curve must NOT regenerate pairs per threshold:
    the loosest-threshold scored pairs are eagerly checkpointed, so
    the final plan reads only the pair-sized checkpoint RDD — zero
    corpus file scans."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD
    from telemetry_streaming_datalake_spark.session import load_table

    docs = load_table(spark, SF, "documents")
    p = (
        DD.dedup_threshold_curve(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "documents.parquet" not in p


def test_availability_report_single_shuffle(spark):
    """Lag window and aggregate share the (serial, datestamp) key —
    exactly one exchange."""
    from telemetry_streaming_datalake_spark.operators import detect as DT

    src = spark.createDataFrame(
        [("s", "2024-01-01", 1)], "serial string, datestamp string, unix_ts long"
    )
    p = DT.availability_report(src)._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_approx_percentile_audit_broadcasts_estimates(spark):
    """The group-cardinality estimate frame broadcasts back onto the
    fact; the fact shuffles on the group key for the two aggregates and
    never more."""
    from telemetry_streaming_datalake_spark.operators import derived as DV

    src = spark.createDataFrame(
        [("m", "2024-01-01", 1.0)], "metric string, datestamp string, value double"
    )
    p = DV.approx_percentile_audit(src)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p  # fact joins the estimates broadcast-side
    # the fact shuffles once here (the rank agg) — the estimate frame
    # is checkpoint-pinned, so its aggregate ran exactly once upstream
    # instead of once per consuming branch
    assert p.count("Exchange hashpartitioning") <= 2


def test_bm25_single_scan_single_shuffle(spark):
    """Literal query terms make BM25 one conditional aggregation: one
    corpus exchange (doc key), a 1-row broadcast of the stats, top-k as
    TakeOrdered — no SortMergeJoin, no global Sort."""
    from telemetry_streaming_datalake_spark.operators import text as TX

    docs = spark.createDataFrame([(1, "hash join")], "doc_id long, text string")
    p = TX.bm25_search(docs)._jdf.queryExecution().executedPlan().toString()
    # per_doc is checkpoint-pinned: its corpus aggregate ran once
    # upstream; the remaining plan reads the materialized frame
    assert p.count("Exchange hashpartitioning") == 0
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p  # 1-row stats
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_hybrid_search_fuses_tiny_frames(spark):
    """The fusion join runs over the two depth-row retriever outputs —
    no corpus-sized SortMergeJoin appears above the retrievers."""
    from telemetry_streaming_datalake_spark.operators import similarity as SIM

    docs = spark.createDataFrame([(0, "hash join")], "doc_id long, text string")
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.5, 0.5])], "vec_id long, embedding array<double>"
    )
    p = SIM.hybrid_search(docs, emb)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p


def test_hard_negatives_broadcasts_queries_never_shuffles_corpus(spark):
    """The query set broadcasts (BNLJ on the label-mismatch predicate,
    like cosine_topk's id-mismatch); the corpus's only exchange is the
    per-query top-k window."""
    from telemetry_streaming_datalake_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [0.0, 1.0], 2)],
        "vec_id long, embedding array<float>, label int",
    )
    p = SIM.hard_negatives(emb, [0])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in p  # tiny query side broadcast
    assert "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning") == 1  # top-k window only


def test_seasonal_baseline_broadcasts_moments(spark):
    """Moments are dimension-sized (metrics x 24) and broadcast back;
    the fact never SortMergeJoins."""
    from telemetry_streaming_datalake_spark.operators import detect as DT

    src = spark.createDataFrame(
        [("m", "2024-01-01 03", 1.0)],
        "metric string, hourstamp string, value double",
    )
    p = DT.seasonal_baseline(src)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_dup_spans_single_gram_shuffle_no_join(spark):
    """Pair expansion is bucket_pairs (cap + collect_list + local
    explode in ONE gram-keyed shuffle) — no join operator at all on
    the O(total chars) gram frame, no cartesian product; the only
    other exchanges are over the matches frame (runs + best-span
    windows)."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrstuvwxyz 0123456789 abcdefghijklmnopqrstuvwxyz",
          "en", "w", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    p = DD.dup_spans(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "Join" not in p  # no self-join: local per-bucket expansion


def test_bloom_prune_filters_below_the_join_exchange(spark):
    """The bloom membership filter must run in the probe-side scan
    stage, BEFORE that side's exchange into the (forced sort-merge)
    join — that ordering is the whole point: pruned rows never
    shuffle."""
    from pyspark.sql import functions as F

    from telemetry_streaming_datalake_spark.operators import skew as SK

    li = spark.createDataFrame([(1, 1.0, 0.0)],
                               "l_orderkey long, l_extendedprice double, l_discount double")
    od = spark.createDataFrame(
        [(1, "1995-03-02 00:00:00", "1-URGENT")],
        "o_orderkey long, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    p = SK.bloom_prune_join(li, od)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in p  # the non-broadcast regime being modeled
    # the tree prints top-down (join above, scans at the bottom), so a
    # filter that executes below the probe exchange appears AFTER it
    assert "shiftrightunsigned" in p
    assert p.index("shiftrightunsigned") > p.index("Exchange hashpartitioning")


def test_cdc_apply_single_shuffle_no_window(spark):
    """The changelog replay is ONE key-partitioned aggregate — no
    window sort, no join; max(struct) IS the replay."""
    from telemetry_streaming_datalake_spark.operators import merge as M

    src = spark.createDataFrame(
        [("s", "m", 1, 1, 1.0, 3)],
        "serial string, metric string, unix_ts long, event_id long,"
        " value double, payload_k long",
    )
    p = M.cdc_apply(src)._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1
    assert "Window" not in p and "Join" not in p


def test_slo_burn_single_fact_shuffle(spark):
    """The fact reduces to hourly grain in one hash shuffle; the
    rolling frames then run on the dimension-sized aggregate (the
    single-partition windows are BY DESIGN post-reduction)."""
    from telemetry_streaming_datalake_spark.operators import detect as DT

    src = spark.createDataFrame(
        [("s", "error", 1, "1970-01-01 00")],
        "serial string, metric string, unix_ts long, hourstamp string",
    )
    p = DT.slo_burn_alerts(src)._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1  # the hourly agg only
    assert "Join" not in p


def test_cms_sketch_shuffle_bounded_by_sketch(spark):
    """The CMS cell reduction must carry map-side partial counts —
    that is the property that caps every task's shuffle output at
    d*w cells regardless of event count — and the whole sketch must
    be ONE hash shuffle with no join or window."""
    from telemetry_streaming_datalake_spark.operators import rollup as R

    src = spark.createDataFrame([("s1",), ("s2",)], "serial string")
    p = R.cms_sketch(src)._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in p
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p and "Window" not in p


def test_cms_estimate_broadcasts_sketch(spark):
    """Point queries join the <=d*w-row sketch map-side: the probe
    frame must never shuffle for the lookup."""
    from telemetry_streaming_datalake_spark.operators import rollup as R

    src = spark.createDataFrame([("s1",), ("s2",)], "serial string")
    sk = R.cms_sketch(src)
    p = (
        R.cms_estimate(sk, src)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_dedup_exact_preserves_column_pruning(spark):
    """Catalyst must prune columns THROUGH dedup_exact: a narrow
    consumer's scan reads only its columns plus the key/order pair,
    and the pruned bronze expressions (the JSON payload extraction)
    must not survive in the plan.  This pin is why dedup_exact is the
    window form and not a min_by(whole-row) aggregate — the struct
    form reads all columns for any projection (measured +30-95% on
    narrow sf0.1 keys) even though it would gain map-side combine on
    replay-duplicated feeds."""
    from telemetry_streaming_datalake_spark.ingest import bronze as B
    from telemetry_streaming_datalake_spark.session import load_table

    src = B.parse_bronze(load_table(spark, SF, "events"))
    narrow = B.dedup_exact(src).select("serial", "metric", "unix_ts")
    p = narrow._jdf.queryExecution().executedPlan().toString()
    assert "get_json_object" not in p  # payload_k pruned away
    assert "props" not in p.split("ReadSchema")[1].split("\n")[0]
    assert p.count("Exchange hashpartitioning") == 1


def test_tfidf_single_corpus_lineage(spark):
    """df rides a term window over the compact tf frame, not a
    join-back: the executed plan scans documents once for tf and once
    for the 1-row N count — a third scan means the join-back (which
    re-executes the explode lineage for the probe side) crept back."""
    from telemetry_streaming_datalake_spark.operators import text as TX
    from telemetry_streaming_datalake_spark.session import load_table

    docs = load_table(spark, SF, "documents")
    p = TX.tfidf_top_terms(docs)._jdf.queryExecution().executedPlan().toString()
    assert p.count("FileScan") <= 2
    assert "Join" not in p.replace("BroadcastNestedLoopJoin", "")  # only the 1-row N attach


def test_simhash_weighted_single_corpus_lineage(spark):
    """The idf weight rides a token window over the exploded frame:
    one corpus scan for the fingerprint votes plus the 1-row N count —
    the former df join-back re-ran the explode."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD
    from telemetry_streaming_datalake_spark.session import load_table

    docs = load_table(spark, SF, "documents")
    p = DD.simhash_weighted(docs)._jdf.queryExecution().executedPlan().toString()
    assert p.count("FileScan") <= 2


def test_lm_perplexity_two_corpus_lineages(spark):
    """c(a,b) rides an (a,b) window over the bigram explode and V
    rides c(a) as a global window over the compact token table: the
    plan holds exactly two corpus lineages (bigram + unigram) — more
    means a count-table join-back or a vocab branch crept back."""
    from telemetry_streaming_datalake_spark.operators import text as TX
    from telemetry_streaming_datalake_spark.session import load_table

    docs = load_table(spark, SF, "documents")
    p = TX.lm_perplexity(docs)._jdf.queryExecution().executedPlan().toString()
    assert p.count("FileScan") <= 2


def test_html_extract_map_only_zero_exchanges(spark):
    """The web front door must be a pure scan→project pipeline: no
    exchange, no join, no Python — one Generate barrier (explode of a
    1-element array, the attach_png_payload pattern) is the only
    non-project node."""
    from telemetry_streaming_datalake_spark.operators import web as W
    from telemetry_streaming_datalake_spark.session import load_table

    p = _plan(W.html_extract(load_table(spark, SF, "documents")))
    assert "Exchange" not in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Generate" in p


def test_url_canonicalize_single_dedup_shuffle(spark):
    """Canonicalize + blocklist are map-only; the only exchange is the
    canonical-URL dedup window's hash partitioning."""
    from telemetry_streaming_datalake_spark.operators import web as W
    from telemetry_streaming_datalake_spark.session import load_table

    df = W.url_canonicalize(load_table(spark, SF, "documents"))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "CartesianProduct" not in p


def test_train_mix_materialize_broadcasts_plan(spark):
    """The source-cardinality plan broadcasts onto the corpus; the
    epoch fan-out is sequence+explode — no fact-side shuffle beyond
    the plan's own source aggregate."""
    from telemetry_streaming_datalake_spark.operators import corpus as CP
    from telemetry_streaming_datalake_spark.session import load_table

    p = _plan(CP.train_mix_materialize(load_table(spark, SF, "documents")))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "Generate" in p  # the explode


def test_paragraph_dedup_two_keyed_shuffles(spark):
    """The C4 rewrite is explode → chunk-keyed rank → doc-keyed
    reassembly: exactly the two keyed exchanges, no all-pairs."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD
    from telemetry_streaming_datalake_spark.session import load_table

    df = DD.paragraph_dedup(load_table(spark, SF, "documents"))
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    # chunk window + doc groupBy (partial agg on the reassembly side)
    assert 1 <= p.count("Exchange hashpartitioning") <= 3, p


def test_warc_extract_map_only_zero_exchanges(spark):
    """The WARC record walk is the pure-scan shape a 100 TB sweep
    needs: regexp extraction in one codegen stage — the only join is
    the synthesis-side URL attach (doc_id equi-join on the same scan),
    no exchange beyond it, no Python."""
    from telemetry_streaming_datalake_spark.operators import web as W
    from telemetry_streaming_datalake_spark.session import load_table

    p = _plan(W.warc_extract(load_table(spark, SF, "documents")))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_robots_gate_broadcast_rules_no_window_sort(spark):
    """The rule table rides a broadcast join; longest-match resolves
    via max(struct) partial aggregation — never a per-URL window
    sort."""
    from telemetry_streaming_datalake_spark.operators import web as W
    from telemetry_streaming_datalake_spark.session import load_table

    urls = W.url_canonicalize(load_table(spark, SF, "documents")).select(
        "doc_id", "canonical_url"
    )
    p = _plan(W.robots_gate(urls))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "Window" not in p  # longest-match is an aggregate, not a sort-rank
    # struct max is sort-based by construction; partial_max before the
    # exchange is the map-side combine that keeps it one shuffle
    assert "SortAggregate" in p or "HashAggregate" in p
    assert "partial_max" in p


def test_web_ingest_manifest_no_allpairs_bounded_exchanges(spark):
    """The capstone composes four stages through doc_id-co-keyed
    joins: no cartesian, the rule join broadcast, exchanges bounded by
    the stage count (dedup window + robots agg + the equi-join
    alignments), zero Python."""
    from telemetry_streaming_datalake_spark.operators import web as W
    from telemetry_streaming_datalake_spark.session import load_table

    p = _plan(W.web_ingest_manifest(load_table(spark, SF, "documents")))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Exchange hashpartitioning") <= 8, p


def test_host_politeness_scalar_total_broadcast(spark):
    """The corpus total attaches as a broadcast 1-row scalar — the
    share arithmetic never re-shuffles the per-host frame."""
    from telemetry_streaming_datalake_spark.operators import web as W
    from telemetry_streaming_datalake_spark.session import load_table

    p = _plan(W.host_politeness_report(load_table(spark, SF, "documents")))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


@pytest.mark.parametrize(
    "name, cte, schema",
    [
        (
            "metric_mapping",
            "METRIC_MAPPING_CTE",
            "raw_symbol string not null, metric_id bigint not null,"
            " provider_id bigint not null, agg_type string not null,"
            " category_id bigint not null, provider_name string not null",
        ),
        (
            "custom_metric_mapping",
            "CUSTOM_METRIC_CTE",
            "custom_metric_id bigint not null, mapping_metric_id bigint not null,"
            " mapping_type string not null",
        ),
    ],
)
def test_constant_dims_are_local_relations_equal_to_their_ctes(spark, name, cte, schema):
    """Each constant dimension is a LocalTableScan over the VALUES
    literal its DuckDB CTE holds: no Python-worker RDD scan per use,
    the exact column names/types/nullability, and the oracle's rows."""
    import duckdb
    from pyspark.sql.types import StructType

    from telemetry_streaming_datalake_spark import datamodel as dm

    df = getattr(dm, name)(spark)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in executed and "ExistingRDD" not in executed
    assert df.schema == StructType.fromDDL(schema)
    oracle = duckdb.connect().execute(
        f"WITH {getattr(dm, cte).strip()} SELECT * FROM {name}"
    ).fetchall()
    assert sorted(tuple(r) for r in df.collect()) == sorted(oracle)


def test_runner_hops_share_the_drain_plans(spark, tmp_path, monkeypatch):
    """One logical plan, two trigger policies: the always-on runner's
    bronze, silver and gold hops build the same optimized logical plan
    as their availableNow twins (``streaming_bronze``, the two-hop
    silver, the three-hop gold) — both come from the pipeline's hop
    builders, so only the source path differs (the sink is not part of
    the frame).  Nothing runs: the runner's ``start_stream`` and the
    pipeline's ``drain`` are replaced by recorders, and the drain
    recorder leaves an empty parquet file with the frame's schema where
    its sink would land, so the next hop's reader and the final
    read-back resolve."""
    import re

    from telemetry_streaming_datalake_spark.streaming import pipeline as SP
    from telemetry_streaming_datalake_spark.streaming import runner as RN

    started = {}
    monkeypatch.setattr(
        RN, "start_stream", lambda df, _ckpt, **kw: started.setdefault(kw["name"], df)
    )
    RN.AlwaysOnRunner(spark, SF, str(tmp_path / "run")).start()

    drained = []

    def record(df, _ckpt, **kw):
        drained.append(df)
        spark.createDataFrame([], df.schema).write.parquet(kw["path"])

    monkeypatch.setattr(SP, "drain", record)
    SP.streaming_gold_three_hop(spark, SF, str(tmp_path / "drain"))

    def plan(df, root: str) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(True)  # a streaming frame's plans come from explain
        text = buf.getvalue().split("== Optimized Logical Plan ==")[1]
        text = text.split("== Physical Plan ==")[0].replace(str(tmp_path / root), "<work>")
        text = re.sub(r"#\d+L?", "#", text)  # expression ids
        # the watermark node's per-build id
        return re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<id>", text)

    hops = (RN.BRONZE_QUERY, RN.SILVER_QUERY, RN.GOLD_QUERY)
    assert len(drained) == len(hops)
    for hop, twin in zip(hops, drained):
        assert "StreamingRelation" in plan(twin, "drain")
        assert plan(started[hop], "run") == plan(twin, "drain"), hop
