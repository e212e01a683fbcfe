"""Skew and join-cost utilities.

Layered strategy, in preference order (SURVEY §4):

1. **Broadcast** the small side — every dimension join in this engine
   (no fact shuffle at all, skew irrelevant); :func:`broadcast_if_small`
   gates the hint on the real row count, so a pair-participant-sized
   frame shuffle-joins instead of landing on the driver.
2. **AQE skew-join splitting** (`spark.sql.adaptive.skewJoin.enabled`,
   on in :func:`..session.get_spark`) — handles discovered skew in
   sort-merge joins at runtime.
3. **Bloom-filter pruning** (:func:`bloom_prune_join`) — for the join
   that must stay a shuffle join: the build side's keys fold into a
   bitmap shipped as an expression, so fact rows that cannot match
   are dropped map-side, below the exchange.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: rows above which broadcast_if_small refuses the hint.  1M rows of a
#: (doc_id, cluster_id)-shaped frame is ~100 MB driver-side after
#: deserialization overhead — near the comfortable ceiling for a
#: broadcast, far below the O(corpus) cluster-member frames a
#: crawl-scale dedup pass produces (30-50% of docs are pair
#: participants there, which MUST shuffle-join instead).
BROADCAST_ROW_GATE = 1_000_000


def broadcast_if_small(df: DataFrame, max_rows: int = BROADCAST_ROW_GATE) -> DataFrame:
    """Size-gated broadcast hint (VERDICT r11): hint only when the
    frame is actually small; above the gate return it un-hinted so the
    planner shuffle-joins (AQE may still promote at runtime if stats
    disagree with the count — that is fine, AQE sees real sizes).

    An explicit ``F.broadcast`` is a command, not a suggestion — the
    planner obeys it at any size, so an unconditional hint on a
    pair-participant-cardinality frame OOMs the driver exactly when
    dedup matters most.  The count that decides the gate runs over an
    eager ``localCheckpoint``, so the (possibly expensive) subtree is
    computed once and reused by the join itself; blocks are freed by
    the ContextCleaner when the result frame drops (the persist-leak
    discipline of ADVICE r5).
    """
    df = df.localCheckpoint(eager=True)
    if df.count() <= max_rows:
        return F.broadcast(df)
    return df


# --------------------------------------------------------------------------
# Bloom-filter join pruning (runtime row filter for non-broadcast joins)
# --------------------------------------------------------------------------

#: floor bitmap size in bits (power of two; 1024 int64 words).  At
#: k=5 probes this holds ~6.5k build keys at ~1% fpp.  The SHIPPED
#: size is derived per build from the key count via
#: :func:`bloom_m_bits` — this constant is only the floor.
BLOOM_M_BITS = 1 << 16
#: ceiling bitmap size: 1<<22 bits = 64 Ki int64 words.  The bitmap
#: ships to executors as a codegen array literal, so it must stay
#: expression-tree-sized; past this a Bloom is the wrong tool (use a
#: broadcast join or Spark's own runtime filters).
BLOOM_MAX_M_BITS = 1 << 22
#: default false-positive target for the derived size
BLOOM_TARGET_FPP = 0.01
#: number of hash probes per key
BLOOM_K = 5
#: per-probe xxhash64 seed base
BLOOM_SEED = 0xB100F


def bloom_m_bits(
    expected_keys: int,
    target_fpp: float = BLOOM_TARGET_FPP,
    k: int = BLOOM_K,
) -> int:
    """Smallest power-of-two bitmap (in bits) that holds
    ``expected_keys`` at ≤ ``target_fpp`` with ``k`` probes.

    fpp = (1 - e^(-k·n/m))^k  →  m ≥ -k·n / ln(1 - fpp^(1/k)).

    Clamped to [BLOOM_M_BITS, BLOOM_MAX_M_BITS]; at the ceiling
    (~550k keys at 1%) the fpp degrades as n grows — the prune stays
    CORRECT (verify join kills false positives) but stops paying, so
    production should switch join strategy there.
    """
    n = max(1, int(expected_keys))
    need = -k * n / math.log(1.0 - target_fpp ** (1.0 / k))
    m = 1 << max(0, math.ceil(math.log2(need)))
    return max(BLOOM_M_BITS, min(BLOOM_MAX_M_BITS, m))


def _bloom_positions(col, k: int = BLOOM_K, m: int = BLOOM_M_BITS):
    """k bit positions for a key — pure JVM expressions."""
    return [
        F.pmod(F.xxhash64(col, F.lit(BLOOM_SEED + i)), F.lit(m)) for i in range(k)
    ]


def build_bloom(keys: DataFrame, col: str, m: int | None = None) -> list[int]:
    """Aggregate the build side into a Bloom bitmap: explode each key's
    k bit positions, bucket them into 64-bit words, OR the masks per
    word.  One tiny shuffle (≤ m/64 groups); the collect is bounded by
    the bitmap size, NEVER by the key count — 10 keys and 10 billion
    keys both land ≤ m/64 rows on the driver.

    ``m=None`` derives the size from the build-side key count at the
    default fpp target (one count job over the dimension-sized build
    side — callers localCheckpoint it, so the scan isn't repeated).
    """
    if m is None:
        m = bloom_m_bits(keys.count())
    pos = F.explode(F.array(*_bloom_positions(F.col(col), m=m))).alias("pos")
    words = (
        keys.select(pos)
        .select(
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            # shiftleft's bit count must be a per-row value here, which
            # the python helper doesn't accept -> SQL expression
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
        .collect()
    )
    bitmap = [0] * (m // 64)
    for r in words:
        bitmap[r["word_idx"]] = r["word"]
    return bitmap


def bloom_prune(df: DataFrame, col: str, bitmap: list[int]) -> DataFrame:
    """Keep only rows whose ``col`` MIGHT be in the bloom: all k probed
    bits set.  Stays in whole-stage codegen (element_at over one array
    literal column + per-row shifts via SQL exprs); lands BELOW the
    join's exchange, so pruned fact rows never shuffle.  May pass
    false positives — callers must verify with the real join."""
    out = df.withColumn("__bloom", F.array(*[F.lit(w) for w in bitmap]))
    cond = F.lit(True)
    # m rides implicitly in the bitmap length: probe and build agree
    # on the modulus by construction, whatever size was derived
    for i, pos in enumerate(_bloom_positions(F.col(col), m=64 * len(bitmap))):
        out = out.withColumn(f"__bp{i}", pos)
        bit = F.expr(
            f"shiftrightunsigned(element_at(__bloom, CAST(__bp{i} / 64 AS INT) + 1),"
            f" CAST(__bp{i} % 64 AS INT)) & CAST(1 AS BIGINT)"
        )
        cond = cond & (bit == 1)
    return out.filter(cond).drop("__bloom", *[f"__bp{i}" for i in range(BLOOM_K)])


def bloom_prune_join(
    lineitem: DataFrame,
    orders: DataFrame,
    date_lo: str = "1995-03-01",
    date_hi: str = "1995-06-01",
    priority: str = "1-URGENT",
) -> DataFrame:
    """Daily revenue over urgent orders in a date window, with the fact
    side Bloom-pruned BEFORE the join shuffle — the regime where the
    dimension subset is too large to broadcast (forced sort-merge here
    to model it) but its key set still compresses into a tiny bitmap.

    Two-phase: (1) fold the filtered orders' keys into a Bloom bitmap
    sized from the key count at the 1% fpp target (driver-bounded,
    see :func:`build_bloom` / :func:`bloom_m_bits`); (2) filter
    lineitem map-side with :func:`bloom_might_contain` — at this
    window's ~1% key selectivity, ~99% of the 100 TB fact never enters
    the exchange — then verify with the real equi-join (false
    positives die here), aggregate per day.  Result is bitmap-
    independent: exactly the plain join's answer, which is what the
    oracle checks.  This is Spark's own runtime-filter idea surfaced
    as an explicit, cross-source-capable operator.
    """
    lo, hi = F.lit(f"{date_lo} 00:00:00"), F.lit(f"{date_hi} 00:00:00")
    dim = orders.filter(
        (F.col("o_orderpriority") == priority)
        & (F.col("o_orderdate") >= lo)
        & (F.col("o_orderdate") < hi)
    ).select("o_orderkey", "o_orderdate")
    # the filtered dim feeds BOTH the bloom build (a job) and the
    # verify join — localCheckpoint so the orders scan runs once
    # (persist() would pin cache-manager storage with no unpersist
    # hook on a lazily-returned result; checkpoint blocks are
    # reclaimed by the ContextCleaner once the result is dropped)
    dim = dim.localCheckpoint(eager=True)
    bitmap = build_bloom(dim, "o_orderkey")
    pruned = bloom_prune(lineitem, "l_orderkey", bitmap)
    # exact decimal sum (the q10 discipline): a double sum can land
    # either side of a cent boundary depending on partitioning/engine
    revenue = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)")
    )
    return (
        pruned.join(dim.hint("merge"), pruned["l_orderkey"] == dim["o_orderkey"])
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(F.sum(revenue), 2).cast("double").alias("revenue"),
        )
    )


def bloom_prune_join_oracle(
    date_lo: str = "1995-03-01",
    date_hi: str = "1995-06-01",
    priority: str = "1-URGENT",
) -> str:
    """The bloom is pure pruning — the oracle is the plain join."""
    return f"""
SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '{priority}'
  AND o_orderdate >= TIMESTAMP '{date_lo} 00:00:00'
  AND o_orderdate <  TIMESTAMP '{date_hi} 00:00:00'
GROUP BY ALL
"""
