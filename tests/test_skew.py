"""Join-cost utilities: Bloom-filter pruning equals the plain join;
the broadcast hint is gated on the real row count."""

from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.operators import skew as SK


def test_bloom_prune_no_false_negatives(spark):
    """Every key in the build set must survive the prune (bloom
    membership has zero false negatives); the prune removes the bulk
    of a disjoint probe population; false positives are possible but
    the verify join must make the end result exactly the plain join."""
    build = spark.range(500).select((F.col("id") * 3).alias("k"))
    bitmap = SK.build_bloom(build, "k")
    assert len(bitmap) == SK.BLOOM_M_BITS // 64 and any(bitmap)
    probe = spark.range(20000).select(F.col("id").alias("k"))
    kept = SK.bloom_prune(probe, "k", bitmap)
    kept_keys = {r.k for r in kept.collect()}
    build_keys = {r.k for r in build.collect()}
    present = build_keys & {r.k for r in probe.collect()}
    assert present <= kept_keys                       # no false negatives
    # prune actually prunes: <5% of the disjoint 19.5k keys survive
    assert len(kept_keys - present) < 1000


def test_bloom_m_scales_with_key_count_holding_fpp(spark):
    """The bitmap is sized from the build cardinality, not fixed: at
    10x the old fixed bitmap's ~6.5k-key capacity the derived m keeps
    the measured false-positive rate at the 1% target (the fixed
    64 Kib bitmap read ~4% at 10k keys and saturated at 100x)."""
    import math

    # analytic bound: fpp(n, derived m) <= target across the range
    for n in (100, 6_500, 65_000, 300_000):
        m = SK.bloom_m_bits(n)
        k = SK.BLOOM_K
        fpp = (1.0 - math.exp(-k * n / m)) ** k
        assert fpp <= SK.BLOOM_TARGET_FPP, (n, m, fpp)
        assert m <= SK.BLOOM_MAX_M_BITS
    # measured: 65k build keys (10x), disjoint probes
    n = 65_000
    build = spark.range(n).select((F.col("id") * 2 + 1).alias("k"))
    bitmap = SK.build_bloom(build, "k")
    assert 64 * len(bitmap) == SK.bloom_m_bits(n) > SK.BLOOM_M_BITS
    probe = spark.range(40_000).select((F.col("id") * 2).alias("k"))  # all even: disjoint
    survivors = SK.bloom_prune(probe, "k", bitmap).count()
    assert survivors / 40_000 <= 2 * SK.BLOOM_TARGET_FPP  # sampling slack


def test_bloom_prune_join_equals_plain_join(spark, lineitem, orders):
    got = SK.bloom_prune_join(lineitem, orders)
    revenue = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    dim = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1995-03-01 00:00:00"))
        & (F.col("o_orderdate") < F.lit("1995-06-01 00:00:00"))
    )
    want = (
        lineitem.join(dim, lineitem["l_orderkey"] == dim["o_orderkey"])
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(F.sum(revenue), 2).cast("double").alias("revenue"),
        )
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_broadcast_if_small_gates_on_row_count(spark):
    """Below the gate the join plan broadcasts; above it the hint is
    withheld (shuffle join) and the OUTPUT is identical — the
    crawl-scale posture for pair-participant-cardinality frames
    (VERDICT r11: an unconditional hint on an O(corpus) cluster-label
    frame OOMs the driver exactly when dedup matters most)."""
    left = spark.range(200).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    labels = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("lbl")
    )

    # the gate controls the HINT (a command the planner must obey at
    # any size); whether the planner still picks a broadcast from its
    # own stats below autoBroadcastJoinThreshold is its business
    small = left.join(SK.broadcast_if_small(labels, max_rows=1000), "k", "left")
    assert "ResolvedHint" in small._jdf.queryExecution().analyzed().toString()

    big = left.join(SK.broadcast_if_small(labels, max_rows=10), "k", "left")
    assert "ResolvedHint" not in big._jdf.queryExecution().analyzed().toString()

    got = {(r.k, r.lbl) for r in big.collect()}
    want = {(r.k, r.lbl) for r in small.collect()}
    assert got == want


def test_canonical_docs_identical_above_broadcast_gate(spark, monkeypatch):
    """Force the big-side (shuffle) path in canonical_docs by dropping
    the gate to zero and assert the output matches the broadcast
    path row-for-row."""
    from telemetry_streaming_datalake_spark.operators import merge as MG

    docs = spark.createDataFrame(
        [(i, 10 + (i % 4)) for i in range(40)], "doc_id long, n_chars long"
    )
    clusters = spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "doc_id long, cluster_id long"
    )
    want = {tuple(r) for r in MG.canonical_docs(docs, clusters).collect()}
    monkeypatch.setattr(SK, "BROADCAST_ROW_GATE", 0)
    got = {tuple(r) for r in MG.canonical_docs(docs, clusters).collect()}
    assert got == want
