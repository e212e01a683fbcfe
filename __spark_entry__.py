"""Driver contract: entry() smoke, queries() + oracle_sql() correctness.

Each queries() key maps to an operator row in SURVEY.md §2; oracle_sql()
holds the DuckDB-ANSI twin the driver cross-checks at sf=0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.session import load_table, load_tables, scratch_dir
from telemetry_streaming_datalake_spark import datamodel as dm
from telemetry_streaming_datalake_spark.ingest import bronze as B
from telemetry_streaming_datalake_spark.ingest import feeds as FB
from telemetry_streaming_datalake_spark.ingest import silver as S
from telemetry_streaming_datalake_spark.operators import custom_metric as CM
from telemetry_streaming_datalake_spark.operators import detect as DT
from telemetry_streaming_datalake_spark.operators import latest as L
from telemetry_streaming_datalake_spark.operators import merge as M
from telemetry_streaming_datalake_spark.operators import retention as RT
from telemetry_streaming_datalake_spark.operators import rollup as R
from telemetry_streaming_datalake_spark.operators import scd as SCD
from telemetry_streaming_datalake_spark.operators import sessions as SES
from telemetry_streaming_datalake_spark.operators import skew as SKW
from telemetry_streaming_datalake_spark.operators import temporal as T
from telemetry_streaming_datalake_spark.operators import tseries as TS
from telemetry_streaming_datalake_spark.operators import cohort as CO
from telemetry_streaming_datalake_spark.operators import curation as CU
from telemetry_streaming_datalake_spark.operators import corpus as CP
from telemetry_streaming_datalake_spark.operators import dedup as DD
from telemetry_streaming_datalake_spark.operators import multimodal as MM
from telemetry_streaming_datalake_spark.operators import similarity as SIM
from telemetry_streaming_datalake_spark.operators import text as TX
from telemetry_streaming_datalake_spark.operators import web as WB
from telemetry_streaming_datalake_spark.operators import derived as DV
from telemetry_streaming_datalake_spark.queries import tpch as Q
from telemetry_streaming_datalake_spark.storage import stats as ST
from telemetry_streaming_datalake_spark.storage import bucketed as BK
from telemetry_streaming_datalake_spark.storage import versioned as VS
from telemetry_streaming_datalake_spark.streaming import pipeline as SP
from telemetry_streaming_datalake_spark.streaming import runner as RN

SF_SMOKE = "/root/testdata/sf0.001"

#: fixed query set for the similarity-search checks
ANN_QUERY_IDS = [0, 1, 2, 3, 4, 5, 6, 7]

PURGE_CUTOFF = "2024-01-15"
#: unix seconds of PURGE_CUTOFF — the MERGE demo's target/source split
MERGE_CUTOFF_UNIX = 1705276800
#: mid-hour cutoff so boundary buckets receive pre- AND post-cutoff rows
INCR_CUTOFF_UNIX = 1705278600

#: round-15 driver rotation (SURVEY §2b): the FULL stalest-first order
#: emitted by `python tools/rotate.py` at r15 open.  The r15 window
#: (first 50) = the complete 37-key r11 cohort at its 4-round deadline
#: (`custom_metric_sum` ... `adhoc_gold_slice`) + the 13 stalest r12
#: keys (`train_mix_materialize` ... `repetition_stats`) — per VERDICT
#: r14 #6: zero net-new keys this round (optimization round), so the
#: window is exactly rotate.py's first 50.  Budget arithmetic in
#: SURVEY §2b.
_R15_ORDER = [
    "custom_metric_sum",
    "custom_metric_join",
    "gap_detect",
    "serving_latest_monitor",
    "orphan_usage",
    "retention_purge",
    "scd2_current",
    "agg_consistency",
    "rolling_avg",
    "anomaly_zscore",
    "percentile_rollup",
    "pivot_metrics",
    "gapfill_hourly",
    "asof_latest_order",
    "order_window_activity",
    "partition_stats",
    "merge_upsert_latest",
    "incremental_rollup",
    "trend_report",
    "fuzzy_blocking_report",
    "bloom_prune_join",
    "fuzzy_join",
    "bm25_indexed",
    "hard_negatives",
    "seasonal_baseline",
    "dup_spans",
    "quality_classifier",
    "availability_report",
    "always_on_topology",
    "tokenize_fixed_vocab",
    "bpe_merges",
    "dup_clusters",
    "online_entities",
    "q1_pricing",
    "q3_shipping",
    "q5_supplier",
    "adhoc_gold_slice",
    "train_mix_materialize",
    "q6_forecast",
    "q10_returns",
    "q12_priority",
    "q14_promo",
    "q7_nation_volume",
    "q18_large_orders",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_embedding",
    "top_ngrams",
    "tfidf_top_terms",
    "repetition_stats",
    "char_entropy",
    "stratified_sample",
    "label_centroids",
    "centroid_confusion",
    "streaming_sliding_counts",
    "streaming_interval_join",
    "streaming_counter_rate",
    "streaming_silver_dedup",
    "streaming_upsert",
    "streaming_stateful_latest",
    "ann_cosine_topk",
    "ann_lsh",
    "text_quality",
    "token_count",
    "streaming_slo_burn",
    "streaming_cdc_apply",
    "streaming_freq_sketch",
    "ngram_lm",
    "badwords_filter",
    "ann_ivfpq",
    "domain_cap_sample",
    "semantic_decontaminate",
    "quality_percentile_gate",
    "doc_fingerprint",
    "multimodal_meta",
    "multimodal_features",
    "frame_sample",
    "multimodal_thumb",
    "pii_redact",
    "doc_chunks",
    "train_val_split",
    "corpus_stats",
    "warc_extract",
    "extraction_yield_report",
    "robots_gate",
    "web_ingest_manifest",
    "streaming_url_frontier",
    "streaming_web_ingest",
    "streaming_change_feed",
    "heavy_hitters",
    "quantize_embeddings",
    "dedup_minhash",
    "dedup_simhash",
    "stage_delay_report",
    "bronze_feed_c",
    "dedup_simhash_weighted",
    "q4_priority_check",
    "q13_order_distribution",
    "q16_supplier_variety",
    "q19_disjunctive_revenue",
    "q22_dormant_value",
    "boilerplate_ngrams",
    "semantic_dedup",
    "mixture_weights",
    "kmeans_refine",
    "streaming_quarantine_split",
    "table_profile",
    "token_budget_plan",
    "packing_efficiency",
    "ann_ivf_indexed",
    "audio_features",
    "curation_manifest",
    "incremental_dedup",
    "streaming_corpus_gate",
    "ann_recall_report",
    "corpus_drift",
    "lang_id_model",
    "video_meta",
    "retrieval_quality_report",
    "dup_keep_audit",
    "dedup_threshold_curve",
    "gate_rule_report",
    "decontamination_overlap",
    "zipf_fit",
    "embedding_drift",
    "length_trim",
    "anomaly_mad",
    "latest_state_diff",
    "q15_top_supplier",
    "q17_small_quantity",
    "streaming_paragraph_dedup",
    "host_politeness_report",
    "wet_emit",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_stock",
    "q20_excess_shippers",
    "q21_waiting_supplier",
    "cohort_retention",
    "funnel_conversion",
    "importance_sample",
    "source_reputation",
    "metric_rank_report",
    "time_travel_read",
    "compaction_plan",
    "value_histogram",
    "rolling_active_users",
    "zorder_layout",
    "event_transitions",
    "streaming_grouping_sets",
    "metric_correlation",
    "bucketed_join",
    "lm_perplexity",
    "canonical_docs",
    "rollup_restate",
    "cumulative_metric",
    "streaming_three_hop",
    "png_meta",
    "streaming_ewma",
    "streaming_ohlc",
    "streaming_approx_distinct",
    "streaming_cusum",
    "approx_percentile_audit",
    "hybrid_search",
    "approx_distinct_audit",
    "ts_similarity",
    "bronze_parse",
    "png_pixels",
    "streaming_sessionize",
    "tokenize_roundtrip",
    "dedup_index_incremental",
    "domain_quality_report",
    "leakage_safe_split",
    "dedup_containment",
    "perplexity_buckets",
    "silver_metrics",
    "silver_explode",
    "bronze_feed_b",
    "gold_enrich",
]


# ---------------------------------------------------------------- pipeline

def _bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    return B.parse_bronze(load_table(spark, sf_dir, "events"))


def _silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.to_silver(B.dedup_exact(_bronze(spark, sf_dir)), dm.metric_mapping(spark))


def _gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    history = dm.remote_history(spark, load_table(spark, sf_dir, "customer"))
    return T.enrich_gold(_silver(spark, sf_dir), history)


def _rollup_restate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored rollup AND the synthetic corrections both derive
    from the deduped bronze — pin it once (production reads the
    materialized silver for both; measured ~0.35 s at sf0.1)."""
    ded = B.dedup_exact(_bronze(spark, sf_dir)).localCheckpoint(eager=True)
    corrections = ded.filter((F.col("event_id") % 97) == 0).select(
        "event_id", (F.col("value") * 2).alias("new_value")
    )
    return R.rollup_restate(ded, corrections)


def _agg_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day and month rollups both consume gold; pin it once — in
    production both grains read the materialized gold table, so the
    registry's double lineage execution is an artifact (measured
    3.2 → 1.5 s at sf0.1)."""
    g = _gold(spark, sf_dir).localCheckpoint(eager=True)
    return DT.agg_consistency(R.rollup_day(g), R.rollup_month(g))


def _stage_delay_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In production the medallion stages are MATERIALIZED tables; the
    registry rebuilds them from events, so pin silver once and derive
    gold from the pin — otherwise the silver lineage (parse + dedup +
    normalize) executes twice, once for its own stage row and once
    under gold's enrich (measured ~0.6 s of the key's sf0.1 wall)."""
    silver = _silver(spark, sf_dir).localCheckpoint(eager=True)
    history = dm.remote_history(spark, load_table(spark, sf_dir, "customer"))
    gold = T.enrich_gold(silver, history)
    return DT.stage_delay_report(
        _bronze(spark, sf_dir), silver, gold, dm.metric_mapping(spark)
    )


def _in_scratch(run):
    """Registry entry for ``run(spark, sf_dir, work_dir)``: each call
    gets a fresh work dir, named after ``run``, under the process
    scratch root, which is removed when the process exits."""
    return lambda s, d: run(s, d, scratch_dir(f"{run.__name__}_"))


def _time_travel(spark: SparkSession, sf_dir: str, work: str) -> DataFrame:
    return VS.time_travel_demo(
        spark, B.dedup_exact(_bronze(spark, sf_dir)), work,
        MERGE_CUTOFF_UNIX, PURGE_CUTOFF,
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full telemetry pipeline (bronze→silver→gold→day rollup)."""
    return R.rollup_day(_gold(spark, SF_SMOKE))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Key ORDER is load-bearing: the driver oracle-checks the FIRST 50 keys.

    Rotation policy (SURVEY §2b): every round, keys with the stalest (or
    no) driver-green CORRECTNESS row come first; the registry holds 180
    keys against the 50-key window under a 4-round freshness bound, so
    net-new keys (≤10/round) displace a named identical-oracle
    survivor.  The dict below is grouped by topic for readability;
    `_R15_ORDER` (from `python tools/rotate.py`, minus the round's
    retirements) dictates the actual driver-visible order.  Keys added
    mid-round and absent from `_R15_ORDER` auto-prepend so they land
    inside the driver window immediately — as shipped, the r15 window
    is exactly the 37-key r11 cohort at its 4-round deadline + the 13
    stalest r12 keys, zero slack (ledger and budget arithmetic in §2b).
    """
    base = {
        # --- r11 additions (absent from _R15_ORDER -> auto-prepended
        # to the driver window), displacement-funded per SURVEY §2b ---
        # PNG as a full pixel citizen: the synthesizer now emits a REAL
        # zlib IDAT (stored deflate + column-computed Adler-32), the
        # decode path genuinely inflates + unfilters, and the shared
        # intensity-histogram featurizer runs over the decoded pixels
        # (closes VERDICT r10 #2 — the last guarded-seam capability gap)
        # media keys read the build-once payload fixture (the
        # persisted-index precedent) so the timed plan is
        # attach(scan)→parse→decode, not the ~10³-node synthesis tree
        "png_pixels": lambda s, d: MM.png_pixels(
            load_table(s, d, "documents"),
            payloads=MM.media_payload_fixture(s, d, "png"),
        ),
        # the one streaming twin that was still pytest-only (SURVEY row
        # 25c): `session_window` run as the stateful streaming session
        # operator, drained == batch pinned; funded by retiring the
        # batch `sessionize` key — the streaming drain runs the
        # IDENTICAL gaps-and-islands oracle (the slo_burn / cdc_apply /
        # cusum retirement precedent; batch operator + pytest remain)
        "streaming_sessionize": _in_scratch(SP.streaming_sessionize),
        # tokenizer round-trip auditor: decode(encode(x)) == x pinned
        # per language over the shipped fixed vocab, plus the OOV token
        # mass — pairs with lang_id_model's language axis (VERDICT r10
        # #8a)
        "tokenize_roundtrip": lambda s, d: TX.tokenize_roundtrip(
            load_table(s, d, "documents")
        ),
        # MinHash-index extend == rebuild as a driver key: the extended
        # index serves a probe whose oracle assumes a full-corpus
        # rebuild (the extend_ivf_index / text-index precedent;
        # VERDICT r10 #8b)
        "dedup_index_incremental": lambda s, d: DD.dedup_index_incremental(s, d),
        # per-domain dup-rate x quality x token-share knob-pricing
        # dashboard (VERDICT r10 #8c)
        "domain_quality_report": lambda s, d: CU.domain_quality_report(
            load_table(s, d, "documents")
        ),
        # train/val split CLOSED under near-duplication: every Jaccard
        # dup cluster rides one side, decided by the cluster rep's
        # content hash; `rescued` counts the leakage the naive split
        # WOULD have had (sixth r11 key, displaces one r8 fill slot)
        "leakage_safe_split": lambda s, d: CU.leakage_safe_split(
            load_table(s, d, "documents")
        ),
        # asymmetric containment |A∩B|/|A| — the doc-inside-doc
        # direction Jaccard is blind to (Broder resemblance vs
        # containment; seventh r11 key, displaces one r8 fill slot)
        "dedup_containment": lambda s, d: DD.containment_dedup(
            load_table(s, d, "documents")
        ),
        # CCNet head/middle/tail perplexity terciles PER LANGUAGE —
        # the published quality axis downstream mixtures sample from
        # (eighth r11 key, displaces one r8 fill slot)
        "perplexity_buckets": lambda s, d: TX.perplexity_buckets(
            load_table(s, d, "documents")
        ),
        # --- r12 additions (absent from _R15_ORDER -> auto-prepended
        # to the driver window, each displacing one r9 fill slot;
        # registry 177 -> 180 of the ~180 ceiling, inside the ≤3
        # net-new budget VERDICT r11 set) ---
        # --- r13 additions (absent from _R15_ORDER -> auto-prepended
        # to the driver window; VERDICT r12 #1/#3/#4 — the six
        # oracle-ready web-front-door registrations plus the two
        # end-to-end streaming keys, each funded by a NAMED
        # identical-oracle retirement; registry stays 180, net-new 8 ≤
        # the ≤10 cadence bound; full ledger in SURVEY §2b) ---
        # C4 §2.2 repeated-paragraph REWRITE at paragraph grain, AS A
        # STREAM: per-batch md5-keyed skew-safe winner agg + the
        # frontier's bucketed cross-batch chunk-hash store; drained
        # rewrite == the batch operator exactly (r14 — funded by
        # retiring `paragraph_dedup` -> this key, IDENTICAL oracle,
        # the gopher_filter->streaming_corpus_gate batch->stream
        # precedent; batch operator + path-equality pytests remain)
        "streaming_paragraph_dedup": _in_scratch(SP.streaming_paragraph_dedup),
        # WARC/1.0 record walk with octet-verified Content-Length
        # (funded by retiring `bronze_kafka` -> `bronze_parse`, whose
        # oracle it shared verbatim — the bronze_orc/csv/jsonl
        # connector-twin precedent)
        "warc_extract": lambda s, d: WB.warc_extract(
            load_table(s, d, "documents")
        ),
        # per-source extraction-yield dashboard (funded by retiring
        # `gopher_filter` -> `streaming_corpus_gate`, which runs the
        # IDENTICAL gopher_filter_oracle against the drained two-lake
        # gate — the counter_rate/silver_dedup batch->stream precedent;
        # the batch gate operator + its pytests remain and the r13
        # window re-greens the survivor)
        "extraction_yield_report": lambda s, d: WB.extraction_yield_report(
            load_table(s, d, "documents")
        ),
        # robots-exclusion gate, longest-match-wins (funded by retiring
        # `ann_ivf_incremental` -> `ann_ivf_indexed`: identical
        # ann_ivf_topk_oracle, extend==rebuild pinned at
        # tests/test_llm_ops.py `test_extend_ivf_index_equals_full_rebuild`)
        "robots_gate": lambda s, d: WB.robots_gate(
            WB.url_canonicalize(load_table(s, d, "documents")).select(
                "doc_id", "canonical_url"
            )
        ),
        # web-ingest manifest capstone — carries `html_extract` AND
        # `url_canonicalize` (incl. the exact dup_of attribution) as
        # verbatim CTEs of its oracle and verbatim compositions of its
        # plan, which funds BOTH retirements (the two r12 keys ride
        # this survivor; standalone operators + pytests remain)
        "web_ingest_manifest": lambda s, d: WB.web_ingest_manifest(
            load_table(s, d, "documents")
        ),
        # crawl frontier AS A STREAM: persisted cross-batch seen-store,
        # LEFT ANTI per batch (funded by retiring
        # `streaming_publish_jsonl` -> `streaming_silver_dedup`, whose
        # dedup oracle it shared verbatim)
        "streaming_url_frontier": _in_scratch(SP.streaming_url_frontier),
        # the WHOLE web front door drained as a stream: frontier ->
        # robots -> WARC parse -> extraction over the PARSED body ->
        # quality gate (VERDICT r12 #3; funded by retiring
        # `latest_metric` -> `always_on_topology`, whose oracle
        # composes latest_oracle verbatim under the serving id —
        # strictly stronger: the drained stop+restart topology; the
        # batch operator + pytests remain)
        "streaming_web_ingest": _in_scratch(SP.streaming_web_ingest),
        # silver hop driven FROM the versioned store's change feed —
        # the reference's startingVersion chaining run end-to-end
        # (VERDICT r12 #4; funded by retiring `html_extract` ->
        # `web_ingest_manifest` per the manifest note above)
        "streaming_change_feed": _in_scratch(SP.streaming_change_feed),
        # --- r14 registrations (VERDICT r13 #4): the two r13
        # pytest-only web extras get their standing driver rows.
        # Funded by retiring `pack_sequences` -> `packing_efficiency`
        # (whose oracle composes pack_sequences_oracle verbatim as its
        # packed CTE) and `decontaminate` -> `decontamination_overlap`
        # (whose oracle carries decontaminate_oracle verbatim as its
        # ngram-method CTE); both retired operators + pytests remain.
        # per-host fetch-budget pricing of the robots-allowed frontier
        "host_politeness_report": lambda s, d: WB.host_politeness_report(
            load_table(s, d, "documents")
        ),
        # warc_extract's write side: WET conversion records, octet-
        # exact Content-Length, Refers-To pinned to the source URL
        "wet_emit": lambda s, d: WB.wet_emit(load_table(s, d, "documents")),
        # training-mix MATERIALIZER — token_budget_plan executed into
        # the actual (doc, epoch) sample via deterministic md5
        # thresholds (VERDICT r11 #9a; third and last net-new key of
        # the ≤3 budget, registry at the ~180 ceiling).  target=40k
        # puts sf0.01 in the full+fractional regime and sf0.1 in the
        # frac-only regime, so the driver exercises both gate branches
        "train_mix_materialize": lambda s, d: CP.train_mix_materialize(
            load_table(s, d, "documents"), target_tokens=40_000
        ),
        # --- r10 additions (displacement-funded per SURVEY §2b) ---
        # model-based language ID with a shipped char-bigram log-odds
        # artifact (funded by retiring the stopword-heuristic `lang_id`
        # key — the tokenize_bpe -> tokenize_fixed_vocab
        # strictly-stronger-replacement precedent)
        "lang_id_model": lambda s, d: TX.lang_id_model(load_table(s, d, "documents")),
        # real RIFF/AVI container walk with verified idx1 seek index
        # (funded by retiring the batch `cusum_changepoint` key —
        # `streaming_cusum` runs the IDENTICAL oracle against the
        # drained stream, the counter_rate/silver_dedup precedent; the
        # batch operator, its plan pin, and the drained==batch pytest
        # all remain)
        "video_meta": lambda s, d: MM.video_meta(
            load_table(s, d, "documents"),
            payloads=MM.media_payload_fixture(s, d, "avi"),
        ),
        # retrieval-quality curve pricing the hybrid DEPTH knob
        # (funded by retiring the batch `slo_burn_alerts` key —
        # `streaming_slo_burn` runs the IDENTICAL oracle against the
        # drained stream; batch operator + pytest remain)
        "retrieval_quality_report": lambda s, d: SIM.retrieval_quality_report(
            load_table(s, d, "documents"), load_table(s, d, "embeddings")
        ),
        # per-cluster keep-rate audit (funded by retiring the batch
        # `freq_sketch_audit` key — `streaming_freq_sketch` audits the
        # drained CMS store through the identical relation and oracle)
        "dup_keep_audit": lambda s, d: CU.dup_keep_audit(
            load_table(s, d, "documents")
        ),
        # near-dup threshold sensitivity curve (funded by retiring the
        # batch `cdc_apply` key — `streaming_cdc_apply` runs the
        # IDENTICAL oracle against the drained stream; batch operator
        # + pytest remain)
        "dedup_threshold_curve": lambda s, d: DD.dedup_threshold_curve(
            load_table(s, d, "documents")
        ),
        # per-rule gate attribution (funded by retiring the batch
        # `rollup_grouping_sets` key — `streaming_grouping_sets` runs
        # the IDENTICAL oracle against its drained partials store,
        # and stays in the r10 forced window; batch operator + its
        # Expand/partial-agg plan pins remain)
        "gate_rule_report": lambda s, d: TX.gate_rule_report(
            load_table(s, d, "documents")
        ),
        # decontamination method-overlap audit (funded by retiring the
        # `bm25_search` key — `bm25_indexed` probes the persisted index
        # through the SAME shared scoring expressions and runs the
        # IDENTICAL oracle, with probe==scan pinned bit-for-bit in
        # pytest; the scan operator + its tests remain)
        "decontamination_overlap": lambda s, d: SIM.decontamination_overlap(
            load_table(s, d, "documents"), load_table(s, d, "embeddings")
        ),
        # --- r9 additions: the three formerly pytest-only streaming
        # twins (drained == batch parity is pinned in tests, so each
        # oracle is its batch twin's SQL verbatim) + the two new LLM
        # operators, displacement-funded per SURVEY §2b ---
        "streaming_slo_burn": _in_scratch(SP.streaming_slo_burn),
        "streaming_cdc_apply": _in_scratch(SP.streaming_cdc_apply),
        "streaming_freq_sketch": _in_scratch(SP.streaming_freq_sketch),
        # r9 third-continuation addition (funded by retiring
        # `bronze_jsonl`, whose oracle is BRONZE_PARSE_ORACLE verbatim
        # — the bronze_orc/bronze_csv connector-twin precedent; the
        # connector + its equality pytest remain in sources/ and
        # tests/test_sources.py): distributed stupid-backoff n-gram LM
        # estimation (Brants et al. 2007)
        "ngram_lm": lambda s, d: TX.ngram_lm(load_table(s, d, "documents")),
        # r9 third-continuation addition (funded by retiring
        # `silver_dedup` -> `streaming_silver_dedup`, identical oracle —
        # the counter_rate precedent: the streaming twin exercises the
        # same relation through a strictly-stronger drained path):
        # C4-style shipped-blocklist gate
        "badwords_filter": lambda s, d: CP.badwords_filter(load_table(s, d, "documents")),
        "ann_ivfpq": lambda s, d: SIM.ann_ivfpq(s, d, ANN_QUERY_IDS),
        "domain_cap_sample": lambda s, d: CP.domain_cap_sample(
            load_table(s, d, "documents")
        ),
        "semantic_decontaminate": lambda s, d: SIM.semantic_decontaminate(
            load_table(s, d, "embeddings")
        ),
        "quality_percentile_gate": lambda s, d: TX.quality_percentile_gate(
            load_table(s, d, "documents")
        ),
        # --- block A: never driver-checked before round 5 (11 keys) ---
        "top_ngrams": lambda s, d: TX.top_ngrams(load_table(s, d, "documents")),
        "tfidf_top_terms": lambda s, d: TX.tfidf_top_terms(load_table(s, d, "documents")),
        "repetition_stats": lambda s, d: TX.repetition_stats(load_table(s, d, "documents")),
        "char_entropy": lambda s, d: TX.char_entropy(load_table(s, d, "documents")),
        "stratified_sample": lambda s, d: CP.stratified_sample(
            load_table(s, d, "documents")
        ),
        "label_centroids": lambda s, d: SIM.label_centroids(
            load_table(s, d, "embeddings")
        ),
        "centroid_confusion": lambda s, d: SIM.centroid_confusion(
            load_table(s, d, "embeddings")
        ),
        "streaming_sliding_counts": _in_scratch(SP.streaming_sliding_counts),
        "streaming_interval_join": _in_scratch(SP.streaming_interval_join),
        "streaming_counter_rate": _in_scratch(SP.streaming_counter_rate),
        # --- block B: r2-stale streaming trio ---
        "streaming_silver_dedup": _in_scratch(SP.streaming_silver_dedup),
        "streaming_upsert": _in_scratch(SP.streaming_upsert_rollup),
        "streaming_stateful_latest": _in_scratch(SP.streaming_stateful_latest),
        # --- r8 continuation additions (now rotation-scheduled via
        # _R15_ORDER like every non-r11 key) ---
        "trend_report": lambda s, d: DV.trend_report(B.dedup_exact(_bronze(s, d))),
        "fuzzy_blocking_report": lambda s, d: DD.fuzzy_blocking_report(
            load_table(s, d, "documents")
        ),
        "bloom_prune_join": lambda s, d: SKW.bloom_prune_join(
            load_table(s, d, "lineitem"), load_table(s, d, "orders")
        ),
        "fuzzy_join": lambda s, d: DD.fuzzy_join(load_table(s, d, "documents")),
        "bm25_indexed": lambda s, d: TX.bm25_indexed(s, d),
        # --- block C: r3-only LLM-pipeline keys (18) ---
        "hard_negatives": lambda s, d: SIM.hard_negatives(
            load_table(s, d, "embeddings"), ANN_QUERY_IDS
        ),
        "seasonal_baseline": lambda s, d: DT.seasonal_baseline(
            B.dedup_exact(_bronze(s, d))
        ),
        "dup_spans": lambda s, d: DD.dup_spans(load_table(s, d, "documents")),
        "quality_classifier": lambda s, d: TX.quality_classifier(
            load_table(s, d, "documents")
        ),
        "ann_cosine_topk": lambda s, d: SIM.cosine_topk(
            load_table(s, d, "embeddings"), ANN_QUERY_IDS
        ),
        "ann_lsh": lambda s, d: SIM.ann_lsh_topk(
            load_table(s, d, "embeddings"), ANN_QUERY_IDS
        ),
        "text_quality": lambda s, d: TX.text_quality(load_table(s, d, "documents")),
        "token_count": lambda s, d: TX.token_count(load_table(s, d, "documents")),
        "doc_fingerprint": lambda s, d: TX.doc_fingerprint(load_table(s, d, "documents")),
        "multimodal_meta": lambda s, d: MM.multimodal_meta(load_table(s, d, "documents")),
        "multimodal_features": lambda s, d: MM.feature_histogram(
            MM.attach_image_payload(load_table(s, d, "documents"))
        ),
        "frame_sample": lambda s, d: MM.frame_sample(load_table(s, d, "documents")),
        "multimodal_thumb": lambda s, d: MM.thumbnail_digest(load_table(s, d, "documents")),
        "pii_redact": lambda s, d: CP.pii_redact(load_table(s, d, "documents")),
        "doc_chunks": lambda s, d: CP.chunk_documents(load_table(s, d, "documents")),
        "train_val_split": lambda s, d: CP.train_val_split(load_table(s, d, "documents")),
        "corpus_stats": lambda s, d: CP.corpus_stats(load_table(s, d, "documents")),
        "heavy_hitters": lambda s, d: CP.heavy_hitters(load_table(s, d, "documents")),
        "quantize_embeddings": lambda s, d: SIM.quantize_embeddings(
            load_table(s, d, "embeddings")
        ),
        # --- block D: new/upgraded round-5 keys ---
        "dedup_minhash": lambda s, d: DD.dedup_minhash(load_table(s, d, "documents")),
        "dedup_simhash": lambda s, d: DD.simhash_near_dups(load_table(s, d, "documents")),
        "stage_delay_report": _stage_delay_report,
        "bronze_feed_c": lambda s, d: FB.bronze_feed_c(load_table(s, d, "events")),
        "dedup_simhash_weighted": lambda s, d: DD.simhash_weighted_near_dups(
            load_table(s, d, "documents")
        ),
        "q4_priority_check": lambda s, d: Q.q4_priority_check(
            load_table(s, d, "orders"), load_table(s, d, "lineitem")
        ),
        "q13_order_distribution": lambda s, d: Q.q13_order_distribution(
            load_table(s, d, "customer"), load_table(s, d, "orders")
        ),
        "q16_supplier_variety": lambda s, d: Q.q16_supplier_variety(
            load_table(s, d, "lineitem"),
            load_table(s, d, "part"),
            load_table(s, d, "supplier"),
        ),
        "q19_disjunctive_revenue": lambda s, d: Q.q19_disjunctive_revenue(
            load_table(s, d, "lineitem"), load_table(s, d, "part")
        ),
        "q22_dormant_value": lambda s, d: Q.q22_dormant_value(
            load_table(s, d, "customer"), load_table(s, d, "orders")
        ),
        "boilerplate_ngrams": lambda s, d: CP.boilerplate_ngrams(
            load_table(s, d, "documents")
        ),
        "semantic_dedup": lambda s, d: SIM.semantic_dedup(
            load_table(s, d, "embeddings")
        ),
        "mixture_weights": lambda s, d: CP.mixture_weights(load_table(s, d, "documents")),
        "kmeans_refine": lambda s, d: SIM.kmeans_refine(load_table(s, d, "embeddings")),
        "streaming_quarantine_split": _in_scratch(SP.streaming_quarantine_split),
        "table_profile": lambda s, d: DT.table_profile(_bronze(s, d)),
        # --- block E: outside the round-5 window (driver row comes with
        # the round-6 rotation; locally crosscheck-green + pytest now) ---
        # round-6 additions (now rotation-scheduled via _R15_ORDER)
        "token_budget_plan": lambda s, d: CP.token_budget_plan(
            load_table(s, d, "documents")
        ),
        "packing_efficiency": lambda s, d: CP.packing_efficiency(
            load_table(s, d, "documents")
        ),
        # tokenize_fixed_vocab supersedes the rows-only tokenize_bpe
        # key (VERDICT r6 #6): same application machinery, shipped
        # rule list, full SQL oracle; the learned path stays pinned by
        # tests/test_bpe.py's Sennrich reference equality
        "tokenize_fixed_vocab": lambda s, d: TX.tokenize_fixed_vocab(
            load_table(s, d, "documents")
        ),
        "ann_ivf_indexed": lambda s, d: SIM.ann_ivf_indexed(
            s, d, ANN_QUERY_IDS
        ),
        "audio_features": lambda s, d: MM.audio_features(
            load_table(s, d, "documents")
        ),
        "curation_manifest": lambda s, d: CU.curation_manifest(
            load_table(s, d, "documents")
        ),
        "incremental_dedup": lambda s, d: DD.incremental_dedup(s, d),
        "streaming_corpus_gate": _in_scratch(SP.streaming_corpus_gate),
        "ann_recall_report": lambda s, d: SIM.ann_recall_report(
            load_table(s, d, "embeddings"), ANN_QUERY_IDS
        ),
        "corpus_drift": lambda s, d: CP.corpus_drift(
            load_table(s, d, "documents")
        ),
        "zipf_fit": lambda s, d: TX.zipf_fit(load_table(s, d, "documents")),
        "embedding_drift": lambda s, d: SIM.embedding_drift(
            load_table(s, d, "embeddings")
        ),
        "length_trim": lambda s, d: CP.length_trim(load_table(s, d, "documents")),
        "anomaly_mad": lambda s, d: DV.anomaly_mad(B.dedup_exact(_bronze(s, d))),
        "latest_state_diff": lambda s, d: M.latest_state_diff(
            _gold(s, d), MERGE_CUTOFF_UNIX
        ),
        "q15_top_supplier": lambda s, d: Q.q15_top_supplier(
            load_table(s, d, "lineitem"), load_table(s, d, "supplier")
        ),
        "q17_small_quantity": lambda s, d: Q.q17_small_quantity_revenue(
            load_table(s, d, "lineitem"), load_table(s, d, "part")
        ),
        "q2_min_cost_supplier": lambda s, d: Q.q2_min_cost_supplier(
            load_table(s, d, "part"), load_table(s, d, "supplier"),
            load_table(s, d, "nation"), load_table(s, d, "region"),
            load_table(s, d, "lineitem"),
        ),
        "q8_market_share": lambda s, d: Q.q8_market_share(
            load_table(s, d, "part"), load_table(s, d, "supplier"),
            load_table(s, d, "nation"), load_table(s, d, "region"),
            load_table(s, d, "customer"), load_table(s, d, "orders"),
            load_table(s, d, "lineitem"),
        ),
        "q9_product_profit": lambda s, d: Q.q9_product_profit(
            load_table(s, d, "part"), load_table(s, d, "supplier"),
            load_table(s, d, "nation"), load_table(s, d, "orders"),
            load_table(s, d, "lineitem"),
        ),
        "q11_important_stock": lambda s, d: Q.q11_important_stock(
            load_table(s, d, "supplier"), load_table(s, d, "nation"),
            load_table(s, d, "lineitem"),
        ),
        "q20_excess_shippers": lambda s, d: Q.q20_excess_shippers(
            load_table(s, d, "supplier"), load_table(s, d, "nation"),
            load_table(s, d, "part"), load_table(s, d, "lineitem"),
        ),
        "q21_waiting_supplier": lambda s, d: Q.q21_waiting_supplier(
            load_table(s, d, "supplier"), load_table(s, d, "nation"),
            load_table(s, d, "orders"), load_table(s, d, "lineitem"),
        ),
        "cohort_retention": lambda s, d: CO.cohort_retention(
            load_table(s, d, "events")
        ),
        "funnel_conversion": lambda s, d: CO.funnel_conversion(
            load_table(s, d, "events")
        ),
        "importance_sample": lambda s, d: CP.importance_sample(
            load_table(s, d, "documents")
        ),
        "source_reputation": lambda s, d: CP.source_reputation(
            load_table(s, d, "documents")
        ),
        "metric_rank_report": lambda s, d: DV.metric_rank_report(
            B.dedup_exact(_bronze(s, d))
        ),
        # approx_distinct_audit supersedes the rows-only
        # approx_distinct_rollup key (VERDICT r6 #6): the sketch
        # rollup's exact-count + within-tolerance relation IS
        # SQL-comparable, so the HLL accuracy contract gets a real
        # driver-green row; the sketch operator itself stays pinned by
        # tests/test_sketches.py
        "approx_distinct_audit": lambda s, d: R.approx_distinct_audit(
            B.dedup_exact(_bronze(s, d))
        ),
        "time_travel_read": _in_scratch(_time_travel),
        "compaction_plan": lambda s, d: RT.compaction_plan(
            B.dedup_exact(_bronze(s, d))
        ),
        "value_histogram": lambda s, d: DV.value_histogram(
            B.dedup_exact(_bronze(s, d))
        ),
        "rolling_active_users": lambda s, d: CO.rolling_active_users(
            load_table(s, d, "events")
        ),
        "zorder_layout": lambda s, d: RT.zorder_layout(
            B.dedup_exact(_bronze(s, d))
        ),
        "event_transitions": lambda s, d: CO.event_transitions(
            load_table(s, d, "events")
        ),
        "streaming_grouping_sets": _in_scratch(SP.streaming_grouping_sets),
        "bpe_merges": lambda s, d: TX.bpe_merges(load_table(s, d, "documents")),
        "metric_correlation": lambda s, d: DV.metric_correlation(
            B.dedup_exact(_bronze(s, d))
        ),
        "bucketed_join": BK.bucketed_join,
        "lm_perplexity": lambda s, d: TX.lm_perplexity(
            load_table(s, d, "documents")
        ),
        "ts_similarity": lambda s, d: TS.ts_similarity(
            B.dedup_exact(_bronze(s, d))
        ),
        "canonical_docs": lambda s, d: M.canonical_docs(
            load_table(s, d, "documents"),
            M.dup_clusters(DD.ngram_jaccard_dedup(load_table(s, d, "documents"))),
        ),
        "rollup_restate": _rollup_restate,
        # r7 additions (now rotation-scheduled via _R15_ORDER)
        "png_meta": lambda s, d: MM.png_meta(
            load_table(s, d, "documents"),
            payloads=MM.media_payload_fixture(s, d, "png"),
        ),
        "streaming_ewma": _in_scratch(SP.streaming_ewma),
        "streaming_ohlc": _in_scratch(SP.streaming_ohlc),
        "streaming_approx_distinct": _in_scratch(SP.streaming_approx_distinct),
        "streaming_cusum": _in_scratch(SP.streaming_cusum),
        "approx_percentile_audit": lambda s, d: DV.approx_percentile_audit(
            B.dedup_exact(_bronze(s, d))
        ),
        "availability_report": lambda s, d: DT.availability_report(
            B.dedup_exact(_bronze(s, d))
        ),
        "hybrid_search": lambda s, d: SIM.hybrid_search(
            load_table(s, d, "documents"), load_table(s, d, "embeddings")
        ),
        "cumulative_metric": lambda s, d: DV.cumulative_metric(
            B.dedup_exact(_bronze(s, d))
        ),
        "streaming_three_hop": _in_scratch(SP.streaming_gold_three_hop),
        # --- block E: r4-green tail (rotates back into the window next round) ---
        # --- medallion pipeline (SURVEY §2 #2-4, 7-15, 17-21, 23-25) ---
        "bronze_parse": _bronze,
        "silver_metrics": _silver,
        "silver_explode": lambda s, d: S.to_silver_exploded(
            B.dedup_exact(B.parse_bronze_payload(load_table(s, d, "events"))),
            dm.metric_mapping(s),
        ),
        "bronze_feed_b": lambda s, d: FB.bronze_feed_b(load_table(s, d, "events")),
        "gold_enrich": _gold,
        "custom_metric_sum": lambda s, d: CM.custom_metric_sum(
            _gold(s, d), dm.custom_metric_mapping(s)
        ),
        "custom_metric_join": lambda s, d: CM.custom_metric_join(
            _gold(s, d), dm.custom_metric_mapping(s)
        ),
        "always_on_topology": _in_scratch(RN.always_on_topology),
        "gap_detect": lambda s, d: DT.gap_detect(_silver(s, d)),
        "serving_latest_monitor": lambda s, d: DT.serving_latest_monitor(
            L.latest_metric(_gold(s, d))
        ),
        "orphan_usage": lambda s, d: DT.orphan_usage(
            B.dedup_exact(_bronze(s, d)),
            dm.remote_history(s, load_table(s, d, "customer")),
            dm.metric_mapping(s),
        ),
        "retention_purge": lambda s, d: RT.purge_keep(
            B.dedup_exact(_bronze(s, d)), PURGE_CUTOFF
        ),
        "scd2_current": lambda s, d: SCD.scd2_current(
            dm.remote_history(s, load_table(s, d, "customer"))
        ),
        # day AND month rollups consume gold — pin it once (in
        # production both read the materialized gold table; measured
        # 3.2 -> 1.5 s at sf0.1 when the lineage stops running twice)
        "agg_consistency": _agg_consistency,
        # --- derived-signal operators (rate / rolling / anomaly / pctl / pivot) ---
        "rolling_avg": lambda s, d: DV.rolling_avg(B.dedup_exact(_bronze(s, d))),
        "anomaly_zscore": lambda s, d: DV.anomaly_zscore(B.dedup_exact(_bronze(s, d))),
        "percentile_rollup": lambda s, d: DV.percentile_rollup(
            B.dedup_exact(_bronze(s, d))
        ),
        "pivot_metrics": lambda s, d: DV.pivot_metrics(B.dedup_exact(_bronze(s, d))),
        "gapfill_hourly": lambda s, d: DV.gapfill_hourly(B.dedup_exact(_bronze(s, d))),
        # --- big×big temporal joins + stats index ---
        "asof_latest_order": lambda s, d: T.asof_latest_order(
            load_table(s, d, "events"), load_table(s, d, "orders")
        ),
        "order_window_activity": lambda s, d: T.order_window_activity(
            load_table(s, d, "events"), load_table(s, d, "orders")
        ),
        "partition_stats": lambda s, d: ST.partition_stats(_bronze(s, d)),
        "merge_upsert_latest": lambda s, d: M.merge_upsert_latest(
            _gold(s, d), MERGE_CUTOFF_UNIX
        ),
        # base partials + delta both filter gold — pin it once (the
        # production shape reads the store for base; ~0.3 s at sf0.1)
        "incremental_rollup": lambda s, d: R.incremental_rollup_hour(
            _gold(s, d).localCheckpoint(eager=True), INCR_CUTOFF_UNIX
        ),
        "dup_clusters": lambda s, d: M.dup_clusters(
            DD.ngram_jaccard_dedup(load_table(s, d, "documents"))
        ),
        "online_entities": lambda s, d: DT.online_entities(_gold(s, d)),
        # --- ad-hoc query layer (#25) ---
        "q1_pricing": lambda s, d: Q.q1_pricing(load_table(s, d, "lineitem")),
        "q3_shipping": lambda s, d: Q.q3_shipping(
            load_table(s, d, "customer"),
            load_table(s, d, "orders"),
            load_table(s, d, "lineitem"),
        ),
        "q5_supplier": lambda s, d: Q.q5_supplier_volume(
            **load_tables(s, d, "region", "nation", "customer", "orders", "lineitem", "supplier")
        ),
        "adhoc_gold_slice": lambda s, d: Q.adhoc_gold_slice(_gold(s, d)),
        "q6_forecast": lambda s, d: Q.q6_forecast_revenue(load_table(s, d, "lineitem")),
        "q10_returns": lambda s, d: Q.q10_returned_items(
            load_table(s, d, "customer"),
            load_table(s, d, "orders"),
            load_table(s, d, "lineitem"),
            load_table(s, d, "nation"),
        ),
        "q12_priority": lambda s, d: Q.q12_priority_shipping(
            load_table(s, d, "orders"), load_table(s, d, "lineitem")
        ),
        "q14_promo": lambda s, d: Q.q14_promo_revenue(
            load_table(s, d, "lineitem"), load_table(s, d, "part")
        ),
        "q7_nation_volume": lambda s, d: Q.q7_nation_volume(
            **load_tables(s, d, "customer", "orders", "lineitem", "supplier", "nation")
        ),
        "q18_large_orders": lambda s, d: Q.q18_large_orders(
            load_table(s, d, "customer"),
            load_table(s, d, "orders"),
            load_table(s, d, "lineitem"),
        ),
        # --- LLM-data-pipeline operators (SURVEY §2 #26-36) ---
        "dedup_exact": lambda s, d: DD.dedup_exact_docs(load_table(s, d, "documents")),
        "dedup_ngram_jaccard": lambda s, d: DD.ngram_jaccard_dedup(
            load_table(s, d, "documents")
        ),
        "dedup_embedding": lambda s, d: SIM.embedding_near_dups(
            load_table(s, d, "embeddings")
        ),
    }
    fresh = {k: v for k, v in base.items() if k not in set(_R15_ORDER)}
    ordered = fresh | {k: base[k] for k in _R15_ORDER if k in base}
    # a typo'd rotation entry would silently fall out of the schedule
    # and its real key masquerade as "fresh" — fail loudly instead
    missing = set(_R15_ORDER) - set(base)
    assert not missing, f"_R15_ORDER names unknown keys: {sorted(missing)}"
    assert len(ordered) == len(base)
    return ordered


#: deduped-bronze CTE body shared by every oracle that starts from the
#: hash-key dedup (keep-lowest-event_id) stage
DEDUP_ORACLE = f"""
SELECT event_id, serial, metric, value, payload_k, unix_ts, datestamp,
       hourstamp, unique_hash_key
FROM (
    SELECT b.*, row_number() OVER (PARTITION BY unique_hash_key ORDER BY event_id) AS rn
    FROM ({B.BRONZE_PARSE_ORACLE}) b
) WHERE rn = 1
"""


def oracle_sql() -> dict[str, str]:
    silver = T.silver_oracle()
    gold = T.GOLD_ORACLE
    bucket_hour = "unix_ts - unix_ts % 3600"
    bucket_day = "unix_ts - unix_ts % 86400"
    return {
        "bronze_parse": B.BRONZE_PARSE_ORACLE,
        "silver_metrics": silver,
        "silver_explode": S.silver_explode_oracle(B.BRONZE_PAYLOAD_ORACLE),
        "bronze_feed_b": FB.BRONZE_FEED_B_ORACLE,
        "bronze_feed_c": FB.BRONZE_FEED_C_ORACLE,
        # text connectors must land byte-identical bronze to the parquet path
        "ngram_lm": TX.ngram_lm_oracle(),
        "badwords_filter": CP.badwords_filter_oracle(),
        "gold_enrich": gold,
        "custom_metric_sum": CM.custom_metric_sum_oracle(gold),
        "custom_metric_join": CM.custom_metric_join_oracle(gold),
        # incremental partial-merge must equal the from-scratch rollup
        "incremental_rollup": R.rollup_oracle(gold, bucket_hour, "bucket_ts"),
        # serving store after a drained 4-hop run with a mid-feed
        # stop+restart == batch latest (time-split monotone overwrite)
        "always_on_topology": RN.always_on_topology_oracle(gold),
        "gap_detect": DT.gap_detect_oracle(silver),
        "stage_delay_report": DT.stage_delay_report_oracle(
            B.BRONZE_PARSE_ORACLE, silver, gold
        ),
        "serving_latest_monitor": DT.serving_latest_monitor_oracle(L.latest_oracle(gold)),
        "orphan_usage": DT.orphan_usage_oracle(
            f"""
SELECT event_id, serial, metric, value, payload_k, unix_ts, datestamp,
       hourstamp, unique_hash_key
FROM (
    SELECT b.*, row_number() OVER (PARTITION BY unique_hash_key ORDER BY event_id) AS rn
    FROM ({B.BRONZE_PARSE_ORACLE}) b
) WHERE rn = 1
"""
        ),
        "retention_purge": RT.purge_oracle(
            f"""
SELECT event_id, serial, metric, value, payload_k, unix_ts, datestamp,
       hourstamp, unique_hash_key
FROM (
    SELECT b.*, row_number() OVER (PARTITION BY unique_hash_key ORDER BY event_id) AS rn
    FROM ({B.BRONZE_PARSE_ORACLE}) b
) WHERE rn = 1
""",
            PURGE_CUTOFF,
        ),
        "scd2_current": SCD.scd2_current_oracle(),
        "agg_consistency": DT.agg_consistency_oracle(
            R.rollup_oracle(gold, bucket_day, "bucket_ts"),
            R.rollup_oracle(gold, "substr(datestamp, 1, 7)", "bucket_month"),
        ),
        # batch `sessionize` registry-retired r11: the streaming twin
        # drains the same session_window plan and runs this identical
        # gaps-and-islands oracle (batch operator + pytest remain)
        "streaming_sessionize": SES.sessionize_oracle(),
        "tokenize_roundtrip": TX.tokenize_roundtrip_oracle(),
        # full-corpus twin: valid BECAUSE extend == rebuild (pytest
        # pins file-content identity of the two index dirs)
        "dedup_index_incremental": DD.dedup_index_incremental_oracle(),
        "domain_quality_report": CU.domain_quality_report_oracle(),
        # recursive-CTE clusters + the same rep-hash split arithmetic
        "leakage_safe_split": CU.leakage_safe_split_oracle(),
        "dedup_containment": DD.containment_dedup_oracle(),
        "perplexity_buckets": TX.perplexity_buckets_oracle(),
        # --- r13 additions: the six web-front-door registrations +
        # the two end-to-end streaming keys (VERDICT r12 #1/#3/#4);
        # retirement ledger in SURVEY §2b and beside each queries()
        # entry ---
        # C4 paragraph-grain rewrite: chunk-keyed first-wins rank +
        # doc-keyed reassembly, same arithmetic in DuckDB — IDENTICAL
        # oracle as the retired batch key (drained == batch pinned)
        "streaming_paragraph_dedup": DD.paragraph_dedup_oracle(),
        # every parsed WARC field rebuilt from the synthesis
        # arithmetic (the png_meta posture)
        "warc_extract": WB.warc_extract_oracle(),
        # extraction CTE verbatim + synthesized page lengths
        "extraction_yield_report": WB.extraction_yield_report_oracle(),
        # canonicalization CTE + VALUES rule table, longest-prefix/
        # allow-tie/default-allow
        "robots_gate": WB.robots_gate_oracle(),
        # all four stage oracles composed verbatim (this key is the
        # registry survivor carrying html_extract + url_canonicalize)
        "web_ingest_manifest": WB.web_ingest_manifest_oracle(),
        # canonicalize + robots CTEs verbatim, one host aggregate,
        # floor-rounded share/seconds (SURVEY §6)
        "host_politeness_report": WB.host_politeness_report_oracle(),
        # extraction + URL-synthesis CTEs, byte-exact record assembly
        "wet_emit": WB.wet_emit_oracle(),
        # drained cross-batch admissions == the batch keeper rows
        # (first-batch-wins == earliest-doc_id, pytest-pinned)
        "streaming_url_frontier": (
            "SELECT doc_id, source, url, canonical_url FROM ("
            + WB.url_canonicalize_oracle()
            + ") WHERE is_keeper"
        ),
        # drained front-door lake == the manifest's final_keep rows
        # joined to their extractions and page hashes
        "streaming_web_ingest": SP.streaming_web_ingest_oracle(),
        # drained feed-driven silver hop == batch silver post-cutoff
        "streaming_change_feed": SP.streaming_change_feed_oracle(
            B.BRONZE_PARSE_ORACLE
        ),
        # plan CTE verbatim + the same md5-uint32 epoch gate
        "train_mix_materialize": CP.train_mix_materialize_oracle(
            target_tokens=40_000
        ),
        "rolling_avg": DV.rolling_avg_oracle(DEDUP_ORACLE),
        "anomaly_zscore": DV.anomaly_zscore_oracle(DEDUP_ORACLE),
        "percentile_rollup": DV.percentile_rollup_oracle(DEDUP_ORACLE),
        "pivot_metrics": DV.pivot_metrics_oracle(DEDUP_ORACLE),
        "gapfill_hourly": DV.gapfill_hourly_oracle(DEDUP_ORACLE),
        "asof_latest_order": T.ASOF_LATEST_ORDER_ORACLE,
        "order_window_activity": T.ORDER_WINDOW_ACTIVITY_ORACLE,
        "partition_stats": ST.partition_stats_oracle(B.BRONZE_PARSE_ORACLE),
        "stratified_sample": CP.stratified_sample_oracle(),
        "merge_upsert_latest": M.merge_upsert_latest_oracle(gold, MERGE_CUTOFF_UNIX),
        "dup_clusters": M.dup_clusters_oracle(DD.ngram_jaccard_oracle()),
        "top_ngrams": TX.top_ngrams_oracle(),
        "tfidf_top_terms": TX.tfidf_top_terms_oracle(),
        "repetition_stats": TX.repetition_stats_oracle(),
        "char_entropy": TX.char_entropy_oracle(),
        "centroid_confusion": SIM.centroid_confusion_oracle(),
        "label_centroids": SIM.label_centroids_oracle(),
        "online_entities": DT.online_entities_oracle(gold),
        "q1_pricing": Q.Q1_ORACLE,
        "q3_shipping": Q.Q3_ORACLE,
        "q5_supplier": Q.Q5_ORACLE,
        "adhoc_gold_slice": Q.adhoc_gold_slice_oracle(gold),
        "q6_forecast": Q.Q6_ORACLE,
        "q10_returns": Q.Q10_ORACLE,
        "q12_priority": Q.Q12_ORACLE,
        "q14_promo": Q.Q14_ORACLE,
        "q7_nation_volume": Q.Q7_ORACLE,
        "q18_large_orders": Q.q18_oracle(),
        "q4_priority_check": Q.Q4_ORACLE,
        "q13_order_distribution": Q.Q13_ORACLE,
        "q16_supplier_variety": Q.Q16_ORACLE,
        "q19_disjunctive_revenue": Q.Q19_ORACLE,
        "q22_dormant_value": Q.Q22_ORACLE,
        "boilerplate_ngrams": CP.boilerplate_ngrams_oracle(),
        "semantic_dedup": SIM.semantic_dedup_oracle(),
        "mixture_weights": CP.mixture_weights_oracle(),
        "kmeans_refine": SIM.kmeans_refine_oracle(),
        # two-sink streaming split unioned back == the batch router
        "streaming_quarantine_split": B.bronze_quarantine_oracle(),
        "table_profile": DT.table_profile_oracle(B.BRONZE_PARSE_ORACLE),
        "length_trim": CP.length_trim_oracle(),
        "anomaly_mad": DV.anomaly_mad_oracle(DEDUP_ORACLE),
        "latest_state_diff": M.latest_state_diff_oracle(
            T.GOLD_ORACLE, MERGE_CUTOFF_UNIX
        ),
        "q15_top_supplier": Q.Q15_ORACLE,
        "q17_small_quantity": Q.Q17_ORACLE,
        "q2_min_cost_supplier": Q.Q2_ORACLE,
        "q8_market_share": Q.Q8_ORACLE,
        "q9_product_profit": Q.Q9_ORACLE,
        "q11_important_stock": Q.Q11_ORACLE,
        "q20_excess_shippers": Q.Q20_ORACLE,
        "q21_waiting_supplier": Q.Q21_ORACLE,
        "cohort_retention": CO.cohort_retention_oracle(),
        "funnel_conversion": CO.funnel_conversion_oracle(),
        "importance_sample": CP.importance_sample_oracle(),
        "source_reputation": CP.source_reputation_oracle(),
        "metric_rank_report": DV.metric_rank_report_oracle(DEDUP_ORACLE),
        "time_travel_read": VS.time_travel_demo_oracle(
            DEDUP_ORACLE, MERGE_CUTOFF_UNIX, PURGE_CUTOFF
        ),
        "compaction_plan": RT.compaction_plan_oracle(DEDUP_ORACLE),
        "value_histogram": DV.value_histogram_oracle(DEDUP_ORACLE),
        "rolling_active_users": CO.rolling_active_users_oracle(),
        "zorder_layout": RT.zorder_layout_oracle(DEDUP_ORACLE),
        "event_transitions": CO.event_transitions_oracle(),
        # incrementally-maintained partials store == the batch rollup
        "streaming_grouping_sets": R.rollup_grouping_sets_oracle(gold),
        "cumulative_metric": DV.cumulative_metric_oracle(DEDUP_ORACLE),
        # frozen limits + integer drift state: drained stream == batch
        "streaming_cusum": DV.cusum_changepoint_oracle(DEDUP_ORACLE),
        "png_meta": MM.png_meta_oracle(),
        # every decoded-pixel histogram count rebuilt from the md5 fill
        # arithmetic — one wrong inflated/unfiltered byte flips the hash
        "png_pixels": MM.PNG_PIXELS_ORACLE,
        "video_meta": MM.video_meta_oracle(),
        # bounded-horizon EWMA is the SAME semantics batch and stream,
        # so the drained stream shares the batch oracle
        "streaming_ewma": DV.ewma_smooth_oracle(DEDUP_ORACLE),
        # windowed min_by/max_by partials merge across micro-batches, so
        # the drained stream shares the batch OHLC oracle
        "streaming_ohlc": DV.downsample_ohlc_oracle(DEDUP_ORACLE),
        # audit-shaped: exact day-grain distincts + the in-contract claim
        "streaming_approx_distinct": f"""
WITH deduped AS ({DEDUP_ORACLE})
SELECT metric, datestamp AS bucket,
       count(DISTINCT serial) AS n_serials_exact,
       TRUE AS within_tol
FROM deduped GROUP BY metric, datestamp
""",
        "approx_percentile_audit": DV.approx_percentile_audit_oracle(DEDUP_ORACLE),
        "availability_report": DT.availability_report_oracle(DEDUP_ORACLE),
        "hybrid_search": SIM.hybrid_search_oracle(
            TX.bm25_search_oracle(k=SIM.HYBRID_DEPTH),
            SIM.cosine_topk_oracle([SIM.HYBRID_QUERY_VEC_ID], k=SIM.HYBRID_DEPTH),
        ),
        # per-depth fusion twins composed from the retrievers' own
        # oracle builders, truth = exact cosine top-k
        "retrieval_quality_report": SIM.retrieval_quality_report_oracle(
            lambda d: TX.bm25_search_oracle(k=d),
            lambda d: SIM.cosine_topk_oracle([SIM.HYBRID_QUERY_VEC_ID], k=d),
            SIM.cosine_topk_oracle([SIM.HYBRID_QUERY_VEC_ID], k=SIM.HYBRID_TOP_K),
        ),
        "dup_keep_audit": CU.dup_keep_audit_oracle(),
        "dedup_threshold_curve": DD.dedup_threshold_curve_oracle(),
        "gate_rule_report": TX.gate_rule_report_oracle(),
        "decontamination_overlap": SIM.decontamination_overlap_oracle(),
        "metric_correlation": DV.metric_correlation_oracle(DEDUP_ORACLE),
        "token_budget_plan": CP.token_budget_plan_oracle(),
        # persisted-index probe is result-identical to the in-session IVF
        "ann_ivf_indexed": SIM.ann_ivf_topk_oracle(ANN_QUERY_IDS),
        "audio_features": MM.audio_features_oracle(),
        "curation_manifest": CU.curation_manifest_oracle(),
        "incremental_dedup": DD.incremental_dedup_oracle(),
        # drained two-lake gate union == the batch Gopher gate
        "streaming_corpus_gate": TX.gopher_filter_oracle(),
        "ann_recall_report": SIM.ann_recall_report_oracle(ANN_QUERY_IDS),
        "corpus_drift": CP.corpus_drift_oracle(),
        "zipf_fit": TX.zipf_fit_oracle(),
        "embedding_drift": SIM.embedding_drift_oracle(),
        "packing_efficiency": CP.packing_efficiency_oracle(),
        # bpe_merges gained a full oracle in r8: the fixed-depth
        # training loop unrolled into chained CTE rounds (pair count →
        # argmax → greedy replace per rank) — no rows-only keys remain;
        # tests/test_bpe.py still pins the pure-Python Sennrich parity
        "bpe_merges": TX.bpe_merges_oracle(),
        "tokenize_fixed_vocab": TX.tokenize_fixed_vocab_oracle(),
        "approx_distinct_audit": R.approx_distinct_audit_oracle(DEDUP_ORACLE),
        "bucketed_join": BK.bucketed_join_oracle(),
        "ts_similarity": TS.ts_similarity_oracle(DEDUP_ORACLE),
        "lm_perplexity": TX.lm_perplexity_oracle(),
        "canonical_docs": M.canonical_docs_oracle(DD.ngram_jaccard_oracle()),
        "rollup_restate": R.rollup_restate_oracle(
            DEDUP_ORACLE,
            f"SELECT event_id, value * 2 AS new_value FROM ({DEDUP_ORACLE}) "
            "WHERE event_id % 97 = 0",
        ),
        # drained multi-hop lakes == the batch silver / gold relations
        "streaming_three_hop": (
            "SELECT event_id, serial, remote_id, unix_ts, datestamp, "
            "hourstamp, metric, metric_id, provider_id, category_id, "
            f"agg_type, value_double, value_string FROM ({gold})"
        ),
        # LLM ops
        "dedup_minhash": DD.dedup_minhash_oracle(),
        "dedup_simhash": DD.simhash_near_dups_oracle(),
        "dedup_simhash_weighted": DD.simhash_weighted_oracle(),
        "dedup_exact": DD.DEDUP_EXACT_ORACLE,
        "ann_lsh": SIM.ann_lsh_topk_oracle(ANN_QUERY_IDS),
        "multimodal_features": MM.feature_histogram_oracle(),
        "dedup_ngram_jaccard": DD.ngram_jaccard_oracle(),
        "dedup_embedding": SIM.embedding_near_dups_oracle(),
        "ann_cosine_topk": SIM.cosine_topk_oracle(ANN_QUERY_IDS),
        "hard_negatives": SIM.hard_negatives_oracle(ANN_QUERY_IDS),
        "seasonal_baseline": DT.seasonal_baseline_oracle(DEDUP_ORACLE),
        # streaming twins: availableNow drains are pinned == batch in
        # pytest, so each audits against its batch twin's oracle
        "streaming_slo_burn": DT.slo_burn_alerts_oracle(DEDUP_ORACLE),
        "streaming_cdc_apply": M.cdc_apply_oracle(DEDUP_ORACLE),
        "streaming_freq_sketch": R.freq_sketch_audit_oracle(DEDUP_ORACLE),
        "ann_ivfpq": SIM.ann_ivfpq_oracle(ANN_QUERY_IDS),
        "domain_cap_sample": CP.domain_cap_sample_oracle(),
        "semantic_decontaminate": SIM.semantic_decontaminate_oracle(),
        "quality_percentile_gate": TX.quality_percentile_gate_oracle(),
        "trend_report": DV.trend_report_oracle(DEDUP_ORACLE),
        "fuzzy_blocking_report": DD.fuzzy_blocking_report_oracle(),
        "bloom_prune_join": SKW.bloom_prune_join_oracle(),
        "fuzzy_join": DD.fuzzy_join_oracle(),
        # the persisted-index probe is bit-identical to bm25_search
        # (shared scoring expressions, identical integer inputs) —
        # one oracle covers both
        "bm25_indexed": TX.bm25_search_oracle(),
        "dup_spans": DD.dup_spans_oracle(),
        "quality_classifier": TX.quality_classifier_oracle(),
        "text_quality": TX.text_quality_oracle(),
        "token_count": TX.token_count_oracle(),
        "lang_id_model": TX.lang_id_model_oracle(),
        "doc_fingerprint": TX.doc_fingerprint_oracle(),
        "multimodal_meta": MM.MULTIMODAL_META_ORACLE,
        "frame_sample": MM.frame_sample_oracle(),
        "multimodal_thumb": MM.THUMBNAIL_ORACLE,
        "pii_redact": CP.PII_REDACT_ORACLE,
        "doc_chunks": CP.chunk_documents_oracle(),
        "train_val_split": CP.train_val_split_oracle(),
        "corpus_stats": CP.corpus_stats_oracle(),
        "heavy_hitters": CP.heavy_hitters_oracle(),
        "quantize_embeddings": SIM.quantize_embeddings_oracle(),
        # one-micro-batch complete-mode agg == the batch aggregate
        "streaming_upsert": f"""
WITH bronze AS ({B.BRONZE_PARSE_ORACLE})
SELECT metric || '|' || datestamp || '|' || hourstamp AS id,
       metric, datestamp, hourstamp,
       count(*) AS n_events,
       floor(sum(value) * 1000000.0 + 0.5) / 1000000.0 AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM bronze
GROUP BY metric, datestamp, hourstamp
""",
        # stateful applyInPandasWithState latest-view == batch aggregate
        "streaming_stateful_latest": SP.STREAMING_STATEFUL_ORACLE_TEMPLATE.format(
            bronze=B.BRONZE_PARSE_ORACLE
        ),
        # stateful rate over a drained availableNow feed == batch rate
        "streaming_counter_rate": DV.counter_rate_oracle(DEDUP_ORACLE),
        # fully drained sliding windows == batch double-bucket aggregate
        "streaming_sliding_counts": SP.STREAMING_SLIDING_ORACLE_TEMPLATE.format(
            bronze=B.BRONZE_PARSE_ORACLE
        ),
        # drained stream-stream interval join == batch inner range join
        "streaming_interval_join": SP.STREAMING_INTERVAL_JOIN_ORACLE,
        # streaming availableNow drain over a single-file feed is
        # deterministic and equals the batch dedup
        "streaming_silver_dedup": f"""
WITH bronze AS ({B.BRONZE_PARSE_ORACLE})
SELECT event_id, serial, metric, value, payload_k, unix_ts, datestamp,
       hourstamp, unique_hash_key
FROM (
    SELECT b.*, row_number() OVER (PARTITION BY unique_hash_key ORDER BY event_id) AS rn
    FROM bronze b
) WHERE rn = 1
""",
    }
