"""Similarity search over embedding columns.

Two tiers, mirroring how a 100 TB pipeline actually runs ANN:

- :func:`cosine_topk` — brute-force exact top-k of a *small broadcast
  query set* against the full corpus.  The corpus side streams through
  map tasks (one broadcast join, no shuffle of the big side); per-pair
  cosine is a ``zip_with``/``aggregate`` JVM expression.
- :func:`ann_lsh_topk` — random-hyperplane LSH: each vector gets a
  signature from the signs of dot products with H fixed hyperplanes;
  candidates are corpus vectors sharing a signature band with the
  query; exact cosine is computed only within buckets.  The shuffle is
  keyed by (band, band-signature) — never all-pairs.

Hyperplanes are deterministic (hash-derived, seed fixed) so results
are reproducible and oracle-checkable.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.session import load_table, scratch_cache


def pair_cosine(x, y):
    """Arrow-batched exact cosine over two array columns: one numpy
    einsum per batch — the vectorized scoring path every top-k /
    near-dup operator shares.  ~100× the throughput of the interpreted
    `aggregate`/`zip_with` form on |pairs|-sized inputs.  (The udf is
    built per call: pandas_udf return-type parsing needs an active
    SparkSession, so it cannot be a module-level constant.)"""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _pair_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        mx = np.array(a.tolist(), dtype=np.float64)
        my = np.array(b.tolist(), dtype=np.float64)
        num = np.einsum("ij,ij->i", mx, my)
        den = np.linalg.norm(mx, axis=1) * np.linalg.norm(my, axis=1)
        return pd.Series(num / den)

    return _pair_cosine(x, y)


def _sign_bits_udf(planes: list[list[float]]):
    """Arrow-batched signature bits: one numpy matmul per batch against
    the closure-captured hyperplane matrix — the scale path for LSH
    signatures (a 64×16 matmul per row is ~1000 flops; doing it through
    interpreted per-element column lambdas costs ~100× more).

    Float note: numpy's summation order differs from a sequential SQL
    dot product, but the *sign* only disagrees when |dot| < ~1e-14 —
    measure-zero for continuous embeddings — so the banding stays
    reproducible against the sequential-sum oracle.
    """
    from pyspark.sql.functions import pandas_udf

    mat = np.array(planes, dtype=np.float64).T  # (dim, planes)

    @pandas_udf("array<int>")
    def sig(emb: pd.Series) -> pd.Series:
        m = np.array(emb.tolist(), dtype=np.float64)
        bits = (m @ mat >= 0).astype("int32")
        return pd.Series(bits.tolist())

    return sig


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """Exact top-k neighbours for each query vector.

    Cosine is rounded before ranking so ordering (and therefore the
    result set) is engine-stable; ties break on vec_id.
    """
    embeddings = embeddings.filter(F.col("embedding").isNotNull())
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    pairs = embeddings.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.round(pair_cosine(F.col("q_emb"), F.col("embedding")), round_to).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def hard_negatives(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: per
    query vector, the ``k`` most-similar vectors carrying a DIFFERENT
    label — the near-misses a trainer wants in the batch because easy
    (random) negatives stop contributing gradient early.

    Scale shape is :func:`cosine_topk`'s: the query set is
    dimension-sized and broadcasts; the corpus makes ONE scan with the
    label-mismatch predicate applied inside the broadcast join (before
    any scoring work), scoring runs through the shared Arrow-batched
    einsum, and per-query top-k is a partitioned window over the
    scored frame — the corpus never shuffles.  At 100 TB the IVF
    variant slots in exactly as it does for plain ANN (probe pruned
    cells, then apply the label filter); the brute-force form here is
    the recall baseline, like :func:`cosine_topk` is for search.
    """
    embeddings = embeddings.filter(F.col("embedding").isNotNull())
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("embedding").alias("q_emb"),
    )
    pairs = embeddings.join(
        F.broadcast(q), F.col("label") != F.col("query_label")
    )
    scored = pairs.select(
        "query_id",
        "query_label",
        "vec_id",
        F.col("label").alias("neg_label"),
        F.round(pair_cosine(F.col("q_emb"), F.col("embedding")), round_to).alias(
            "cosine"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "query_label", "vec_id", "neg_label", "cosine", "rank")
    )


def hard_negatives_oracle(
    query_ids: list[int], k: int = 5, round_to: int = 4
) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH q AS (
    SELECT vec_id AS query_id, label AS query_label, embedding AS q_emb
    FROM embeddings WHERE embedding IS NOT NULL AND vec_id IN ({ids})
),
scored AS (
    SELECT q.query_id, q.query_label, e.vec_id, e.label AS neg_label,
           round(
             list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))),
             {round_to}) AS cosine
    FROM embeddings e, q
    WHERE e.embedding IS NOT NULL AND e.label <> q.query_label
)
SELECT query_id, query_label, vec_id, neg_label, cosine, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id
    ) AS rank
    FROM scored
) WHERE rank <= {k}
"""


def cosine_topk_oracle(query_ids: list[int], k: int = 5, round_to: int = 4) -> str:
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
    WHERE embedding IS NOT NULL AND vec_id IN ({ids})
),
scored AS (
    SELECT q.query_id, e.vec_id,
           round(
             list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))),
             {round_to}) AS cosine
    FROM embeddings e, q
    WHERE e.embedding IS NOT NULL AND e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id
    ) AS rank
    FROM scored
) WHERE rank <= {k}
"""


# --------------------------------------------------------------------------
# LSH-bucketed ANN
# --------------------------------------------------------------------------

#: hyperplane count (signature bits) and banding
LSH_PLANES = 16
LSH_SIG_BANDS = 4


def _hyperplanes(dim: int, planes: int = LSH_PLANES, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (public trick:
    fixed-seed Gaussian)."""
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((planes, dim))
    return [[float(x) for x in row] for row in m]


def ann_lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k via banded hyperplane signatures.

    A corpus vector is a candidate if it matches the query on *any*
    signature band (multi-probe style recall).  Exact cosine + ranking
    happen only on candidates.  Band keys are plain bit-strings (no
    hash) so the DuckDB oracle can replicate the exact candidate set;
    candidate scoring is the shared Arrow-batched :func:`pair_cosine`.
    """
    embeddings = embeddings.filter(F.col("embedding").isNotNull())
    planes = _hyperplanes(dim)
    per_band = LSH_PLANES // LSH_SIG_BANDS
    sig = embeddings.select(
        "vec_id", "embedding", _sign_bits_udf(planes)(F.col("embedding")).alias("sig")
    )
    bits = [F.col("sig")[i] for i in range(LSH_PLANES)]
    bands = sig.select(
        "vec_id",
        "embedding",
        F.explode(
            F.array(*_band_keys(bits, LSH_SIG_BANDS, per_band))
        ).alias("band_key"),
    )
    q = bands.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "band_key",
    )
    cands = (
        bands.join(F.broadcast(q), "band_key")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "q_emb", "vec_id", "embedding")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        F.round(pair_cosine(F.col("q_emb"), F.col("embedding")), round_to).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def _band_key_sql(bits: list[str], bands: int, rows: int) -> str:
    """unnest-able list of '<band>:<bits>' key expressions."""
    return ", ".join(
        "concat('%d:', %s)" % (b, ", ".join(bits[b * rows + r] for r in range(rows)))
        for b in range(bands)
    )


def ann_lsh_topk_oracle(
    query_ids: list[int], k: int = 5, dim: int = 64, round_to: int = 4
) -> str:
    """DuckDB twin: identical hyperplanes → identical sign bits →
    identical bit-string band keys → identical candidate set → exact
    cosine + rank.  Only a sign decision at |dot| < ~1e-14 could
    diverge (measure-zero for continuous embeddings)."""
    planes = _hyperplanes(dim)
    per_band = LSH_PLANES // LSH_SIG_BANDS
    bits = [
        f"CASE WHEN list_dot_product(emb, {_plane_sql(p)}) >= 0 THEN 1 ELSE 0 END"
        for p in planes
    ]
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH n AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE embedding IS NOT NULL
),
banded AS (
    SELECT vec_id, emb,
           unnest([{_band_key_sql(bits, LSH_SIG_BANDS, per_band)}]) AS band_key
    FROM n
),
q AS (
    SELECT vec_id AS query_id, emb AS q_emb, band_key FROM banded
    WHERE vec_id IN ({ids})
),
cands AS (
    SELECT DISTINCT q.query_id, b.vec_id,
           round({_cosine_sql('q.q_emb', 'b.emb')}, {round_to}) AS cosine
    FROM banded b JOIN q ON b.band_key = q.band_key
    WHERE b.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id
    ) AS rank
    FROM cands
) WHERE rank <= {k}
"""


# --------------------------------------------------------------------------
# embedding-cosine near-dup (LSH-blocked, SQL-checkable)
# --------------------------------------------------------------------------

#: near-dup banding: 16 sign bits in 2 bands of 8 — 8-bit bands keep
#: buckets fine-grained (256 per band) so within-bucket pair counts
#: stay near-linear; band keys are plain bit-strings (no hash) so the
#: DuckDB oracle can replicate them exactly
NEARDUP_THRESHOLD = 0.45
NEARDUP_BANDS = 2
NEARDUP_ROWS = LSH_PLANES // NEARDUP_BANDS


def _band_keys(sig_bits: list, bands: int, rows: int):
    """Band key columns: '<band>:<bit><bit><bit><bit>' strings."""
    return [
        F.concat_ws(
            "", F.lit(f"{b}:"), *[sig_bits[b * rows + r].cast("string") for r in range(rows)]
        )
        for b in range(bands)
    ]


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    dim: int = 64,
    round_to: int = 4,
) -> DataFrame:
    """Near-duplicate vector pairs by cosine, LSH-blocked.

    Scale shape, in order: (1) signature bits via one Arrow-batched
    matmul; (2) the band self-join carries ONLY (vec_id, band_key) —
    vectors never enter the candidate shuffle; (3) pair ids are
    deduplicated BEFORE embeddings are re-joined, so each candidate's
    cosine is computed once, vectorized in numpy.  The band key is a
    uniform-ish 8-bit string — no crossJoin at any scale.  Banding is
    sign-deterministic, which is what lets the oracle SQL reproduce
    the same candidate set and therefore the same result rows.
    """
    embeddings = embeddings.filter(F.col("embedding").isNotNull())
    planes = _hyperplanes(dim)
    # fan the signature matmul out across the cluster; the pair-side
    # re-reads below use the RAW frame so they don't inherit this
    # exchange (they only feed small broadcast builds)
    spread = embeddings.repartition(
        embeddings.sparkSession.sparkContext.defaultParallelism, "vec_id"
    )
    sig = spread.select(
        "vec_id", _sign_bits_udf(planes)(F.col("embedding")).alias("sig")
    )
    bits = [F.col("sig")[i] for i in range(LSH_PLANES)]
    banded = sig.select(
        "vec_id",
        F.explode(F.array(*_band_keys(bits, NEARDUP_BANDS, NEARDUP_ROWS))).alias("band_key"),
    )
    from telemetry_streaming_datalake_spark.operators.dedup import bucket_pairs

    pairs = (
        bucket_pairs(banded, ["band_key"], ["vec_id"])
        .select(F.col("a_vec_id").alias("vec_a"), F.col("b_vec_id").alias("vec_b"))
        .distinct()
    )
    ea = embeddings.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = embeddings.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    scored = (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(pair_cosine(F.col("emb_a"), F.col("emb_b")), round_to).alias("cosine"),
        )
    )
    return scored.filter(F.col("cosine") >= threshold)


def _plane_sql(p: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in p) + "]"


def embedding_near_dups_oracle(
    threshold: float = NEARDUP_THRESHOLD, dim: int = 64, round_to: int = 4
) -> str:
    """DuckDB twin of :func:`embedding_near_dups`, modeling the
    engine's ``BUCKET_CAP`` hot-bucket bound (the
    `_banded_pairs_tail_sql` convention in ``dedup``): per band
    bucket, only the first ``cap`` vectors by vec_id enter pair
    expansion — exact even when near-identical vectors flood one
    band bucket past the cap."""
    from telemetry_streaming_datalake_spark.operators.dedup import BUCKET_CAP

    planes = _hyperplanes(dim)
    bits = [
        f"CASE WHEN list_dot_product(emb, {_plane_sql(p)}) >= 0 THEN 1 ELSE 0 END"
        for p in planes
    ]
    band_exprs = ", ".join(
        "concat('%d:', %s)" % (b, ", ".join(bits[b * NEARDUP_ROWS + r] for r in range(NEARDUP_ROWS)))
        for b in range(NEARDUP_BANDS)
    )
    return f"""
WITH n AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE embedding IS NOT NULL
),
banded AS (
    SELECT vec_id, emb, unnest([{band_exprs}]) AS band_key FROM n
),
capped AS (
    SELECT vec_id, emb, band_key FROM (
        SELECT *, row_number() OVER (
            PARTITION BY band_key ORDER BY vec_id) AS rn
        FROM banded
    ) WHERE rn <= {BUCKET_CAP}
),
pairs AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))), {round_to}) AS cosine
    FROM capped a JOIN capped b
      ON a.band_key = b.band_key AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= {threshold}
"""


# --------------------------------------------------------------------------
# IVF-style ANN (inverted-file cells, Pandas-UDF assignment)
# --------------------------------------------------------------------------

#: cell count and probe width for the IVF index
IVF_CELLS = 16
IVF_NPROBE = 4


def ivf_assign_cells(embeddings: DataFrame, n_cells: int = IVF_CELLS) -> DataFrame:
    """Assign every vector to its nearest cell centroid.

    Centroids are the vectors with the ``n_cells`` lowest vec_ids — a
    deterministic sample (random-projection-quality cells without an
    iterative k-means whose result would depend on partitioning).  The
    centroid matrix is tiny and broadcast inside an Arrow-batched
    pandas_udf; assignment is one numpy matmul per batch — the exact
    shape a 100 TB IVF build has (no shuffle, map-only).
    """
    embeddings = embeddings.filter(F.col("embedding").isNotNull())
    cent_norm = _centroid_matrix(embeddings, n_cells)
    return embeddings.withColumn("cell", _nearest_cell_udf(cent_norm)(F.col("embedding")))


def _centroid_matrix(embeddings: DataFrame, n_cells: int) -> np.ndarray:
    """Row-normalized centroid matrix (one bounded ``collect`` of
    ``n_cells`` rows — the only driver-side data in the IVF path)."""
    cents = (
        embeddings.filter(F.col("vec_id") < n_cells)
        .select("vec_id", "embedding")
        .collect()
    )
    if not cents:
        # empty corpus ⇒ no seed vectors; downstream assignment UDFs
        # never execute (no rows), so the shape only needs to exist
        return np.zeros((0, 1), dtype=np.float64)
    cent_mat = np.array(
        [r.embedding for r in sorted(cents, key=lambda r: r.vec_id)], dtype=np.float64
    )
    # norm floor: an all-zero seed vector assigns deterministically
    # (cos ≡ 0 against everything) instead of propagating NaN
    return cent_mat / np.maximum(
        np.linalg.norm(cent_mat, axis=1, keepdims=True), 1e-12
    )


def _nearest_cell_udf(cent_norm: np.ndarray):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def nearest_cell(emb: pd.Series) -> pd.Series:
        m = np.array(emb.tolist(), dtype=np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ cent_norm.T, axis=1).astype("int32"))

    return nearest_cell


def ann_ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    round_to: int = 4,
) -> DataFrame:
    """IVF probe: each query scans only its ``nprobe`` nearest cells.

    The (query, probe-cell) table is tiny and broadcast; the corpus is
    partitioned by cell, so the probe join touches ~nprobe/n_cells of
    the data — the IVF speedup — and exact cosine ranks candidates.
    """
    embeddings = embeddings.filter(F.col("embedding").isNotNull())
    cent_norm = _centroid_matrix(embeddings, n_cells)
    assigned = embeddings.withColumn(
        "cell", _nearest_cell_udf(cent_norm)(F.col("embedding"))
    )
    q_rows = embeddings.filter(F.col("vec_id").isin(query_ids)).select("vec_id", "embedding").collect()
    probe = []
    for r in q_rows:
        v = np.array(r.embedding, dtype=np.float64)
        v = v / max(np.linalg.norm(v), 1e-12)
        # stable sort: tied sims keep index order (lowest cell first),
        # matching the oracle's ORDER BY sim DESC, cell
        for cell in np.argsort(-(cent_norm @ v), kind="stable")[:nprobe]:
            probe.append((int(r.vec_id), int(cell)))
    spark = embeddings.sparkSession
    probe_df = spark.createDataFrame(probe, "query_id int, cell int")
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cands = (
        assigned.join(F.broadcast(probe_df), "cell")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        F.round(pair_cosine(F.col("q_emb"), F.col("embedding")), round_to).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ann_ivf_topk_oracle(
    query_ids: list[int],
    k: int = 5,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    round_to: int = 4,
) -> str:
    """DuckDB twin of the IVF probe: centroids are the ``n_cells``
    lowest vec_ids; assignment is argmax cosine vs centroids (ties →
    lowest cell, matching ``np.argmax``); each query probes its
    ``nprobe`` best cells; exact cosine ranks the probed candidates."""
    ids = ", ".join(str(i) for i in query_ids)
    cos = _cosine_sql("e.emb", "c.cvec")
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE embedding IS NOT NULL
),
c AS (
    SELECT vec_id AS cell, emb AS cvec FROM e WHERE vec_id < {n_cells}
),
sims AS (
    SELECT e.vec_id, e.emb, c.cell, {cos} AS sim
    FROM e CROSS JOIN c
),
assigned AS (
    SELECT vec_id, emb, cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, cell
        ) AS rn FROM sims
    ) WHERE rn = 1
),
probe AS (
    SELECT vec_id AS query_id, emb AS q_emb, cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, cell
        ) AS rn FROM sims WHERE vec_id IN ({ids})
    ) WHERE rn <= {nprobe}
),
scored AS (
    SELECT p.query_id, a.vec_id,
           round({_cosine_sql('p.q_emb', 'a.emb')}, {round_to}) AS cosine
    FROM probe p JOIN assigned a USING (cell)
    WHERE a.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id
    ) AS rank
    FROM scored
) WHERE rank <= {k}
"""


# --------------------------------------------------------------------------
# int8 embedding quantization (ANN storage path)
# --------------------------------------------------------------------------

#: guard for zero vectors (synthetic corpus has none; keeps the
#: formula total)
_QUANT_EPS = 1e-12


def quantize_embeddings(embeddings: DataFrame, round_to: int = 6) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = 127/max|v|``,
    ``q_i = floor(v_i*scale + 0.5)`` — the 4× storage cut every
    100 TB ANN index takes before sharding.

    One Arrow-batched numpy pass (map-only, no shuffle).  The rounding
    is written as ``floor(x+0.5)`` explicitly because numpy's
    ``round`` is half-to-even while SQL ``round`` is half-away — this
    formula computes identically everywhere.  Quantized codes are
    serialized to a joined string so the driver can canonicalize.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<scale: double, q_str: string>")
    def quant(emb: pd.Series) -> pd.DataFrame:
        m = np.array(emb.tolist(), dtype=np.float64)
        max_abs = np.maximum(np.abs(m).max(axis=1), _QUANT_EPS)
        scale = 127.0 / max_abs
        q = np.floor(m * scale[:, None] + 0.5).astype(np.int64)
        return pd.DataFrame(
            {
                "scale": scale,
                "q_str": ["|".join(str(int(x)) for x in row) for row in q],
            }
        )

    # NULL embeddings would reach np.array as None cells and crash the
    # Arrow batch — same input contract as every other vector op here
    s = embeddings.filter(F.col("embedding").isNotNull()).select(
        "vec_id", quant(F.col("embedding")).alias("s")
    )
    return s.select(
        "vec_id",
        F.round(F.col("s.scale"), round_to).alias("scale"),
        F.col("s.q_str").alias("q_str"),
    )


def quantize_embeddings_oracle(round_to: int = 6) -> str:
    return f"""
WITH n AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE embedding IS NOT NULL
),
s AS (
    SELECT vec_id, emb,
           127.0 / greatest(list_max(list_transform(emb, x -> abs(x))), {_QUANT_EPS}) AS sc
    FROM n
)
SELECT vec_id,
       round(sc, {round_to}) AS scale,
       array_to_string(
           list_transform(emb, x -> CAST(CAST(floor(x * sc + 0.5) AS BIGINT) AS VARCHAR)),
           '|') AS q_str
FROM s
"""


# --------------------------------------------------------------------------
# per-label embedding centroids (IVF-training / cluster-profile step)
# --------------------------------------------------------------------------


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Mean embedding per label, emitted long-form as (label, dim_idx,
    centroid_val, n_vecs) — the k-means-style centroid update that
    IVF cell training iterates, and the per-class profile report.

    ``posexplode`` turns each vector into (label, idx, component) rows
    — a codegen generate, no Python — and one partial-agg shuffle on
    (label, idx) averages them.  Long-form output (not arrays) keeps
    the result canonicalizable and the aggregate JVM-side; at 100 TB
    the explode's ×dim row amplification is offset by the map-side
    combine collapsing to |labels|×dim rows per task.  1-based
    ``dim_idx`` to match SQL array indexing.
    """
    ex = embeddings.select(
        "label", F.posexplode("embedding").alias("pos", "component")
    )
    return (
        ex.groupBy("label", (F.col("pos") + 1).alias("dim_idx"))
        .agg(
            F.round(F.avg("component"), 6).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
    )


def label_centroids_oracle() -> str:
    return """
WITH dims AS (
    SELECT max(len(embedding)) AS d FROM embeddings
),
ex AS (
    SELECT e.label, t.i AS dim_idx, e.embedding[t.i] AS component
    FROM embeddings e, dims, unnest(range(1, dims.d + 1)) AS t(i)
    WHERE e.embedding IS NOT NULL
)
SELECT label, dim_idx,
       round(avg(component), 6) AS centroid_val,
       count(*) AS n_vecs
FROM ex
GROUP BY label, dim_idx
"""


def centroid_confusion(embeddings: DataFrame) -> DataFrame:
    """Nearest-centroid classification audit: assign every vector to
    the closest label centroid (dot product over L2-normalized means)
    and count the (true label × assigned label) confusion cells — the
    embedding-space quality report of a labeled corpus.

    Two passes, both scale-safe: (1) the centroid build is
    :func:`label_centroids`' partial-agg shuffle, collapsed to a
    |labels|×dim literal and broadcast inside an Arrow pandas_udf
    (bounded: 10×64 floats); (2) assignment is one map-only matmul per
    batch — the corpus never shuffles; the confusion aggregate is
    |labels|² rows.  Ties break to the lowest label id (argmax on the
    reversed-negated score matrix — deterministic, oracle-replicable).
    """
    from pyspark.sql.functions import pandas_udf

    embeddings = embeddings.filter(F.col("embedding").isNotNull())
    cent_rows = (
        label_centroids(embeddings)
        .select("label", "dim_idx", "centroid_val")
        .collect()
    )
    labels = sorted({r.label for r in cent_rows})
    # empty corpus ⇒ no centroids and no rows to assign; keep the
    # output schema by running the (never-executed) plan with a
    # 1-label placeholder matrix
    dim = max((r.dim_idx for r in cent_rows), default=1)
    if not labels:
        labels = [0]
    C = np.zeros((len(labels), dim))
    lab_pos = {l: i for i, l in enumerate(labels)}
    for r in cent_rows:
        C[lab_pos[r.label], r.dim_idx - 1] = r.centroid_val
    # same 1e-12 floor as the vector side: an all-zero centroid (possible
    # after 6dp rounding) must score 0 everywhere, not NaN-argmax
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    lab_arr = np.array(labels)

    @pandas_udf("int")
    def assign(embs: pd.Series) -> pd.Series:
        # float64 to match the oracle's double arithmetic exactly
        X = np.vstack(embs.to_numpy()).astype(np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        scores = np.round(Xn @ Cn.T, 6)  # 6dp so ties are reproducible
        # lowest label wins ties: argmax scans left-to-right on ties
        best = np.argmax(scores, axis=1)
        return pd.Series(lab_arr[best])

    assigned = embeddings.select(
        "vec_id", "label", assign(F.col("embedding")).alias("assigned_label")
    )
    return (
        assigned.groupBy("label", "assigned_label")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def centroid_confusion_oracle() -> str:
    """DuckDB twin: same centroids (unnest+avg), same normalized dot
    product rounded to 6dp, same lowest-label tie-break (arg_max over
    (score, -label))."""
    return """
WITH dims AS (SELECT max(len(embedding)) AS d FROM embeddings),
ex AS (
    SELECT e.label, t.i AS dim_idx, e.embedding[t.i] AS component
    FROM embeddings e, dims, unnest(range(1, dims.d + 1)) AS t(i)
    WHERE e.embedding IS NOT NULL
),
cent AS (
    SELECT label, dim_idx, round(avg(component), 6) AS c
    FROM ex GROUP BY 1, 2
),
cent_norm AS (
    SELECT label, dim_idx,
           c / greatest(sqrt(sum(c * c) OVER (PARTITION BY label)), 1e-12) AS cn
    FROM cent
),
vec_norm AS (
    SELECT e.vec_id, e.label, t.i AS dim_idx,
           e.embedding[t.i] / greatest(
               sqrt(sum(e.embedding[t.i] * e.embedding[t.i])
                    OVER (PARTITION BY e.vec_id)), 1e-12) AS vn
    FROM embeddings e, dims, unnest(range(1, dims.d + 1)) AS t(i)
    WHERE e.embedding IS NOT NULL
),
scores AS (
    SELECT v.vec_id, v.label, c.label AS cand,
           round(sum(v.vn * c.cn), 6) AS score
    FROM vec_norm v JOIN cent_norm c USING (dim_idx)
    GROUP BY 1, 2, 3
),
assigned AS (
    SELECT vec_id, label, cand AS assigned_label
    FROM scores
    QUALIFY row_number() OVER (
        PARTITION BY vec_id ORDER BY score DESC, cand ASC) = 1
)
SELECT label, assigned_label, count(*) AS n_vecs
FROM assigned GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# semantic decontamination (embedding-level eval-set leakage check)
# --------------------------------------------------------------------------

#: default benchmark vector ids for the contamination check
SEMDECON_BENCH_IDS = tuple(range(16))
#: max-cosine at or above this flags a training vector as contaminated.
#: Production uses ~0.95+ (phi-style embedding decontamination); the
#: synthetic embeddings are near-orthogonal (max pair ≈ 0.51), so the
#: demo threshold sits where the operator has observable output.
SEMDECON_THRESHOLD = 0.42


def semantic_decontaminate(
    embeddings: DataFrame,
    bench_ids: tuple[int, ...] = SEMDECON_BENCH_IDS,
    threshold: float = SEMDECON_THRESHOLD,
    round_to: int = 4,
) -> DataFrame:
    """Embedding-level eval-set decontamination — the semantic twin of
    the n-gram :func:`..corpus.decontaminate`: n-gram overlap misses a
    PARAPHRASED benchmark item, so modern curation (phi-series,
    GPT-3-style fuzzy decontamination done right) also drops training
    docs whose embedding sits too close to any benchmark embedding.

    Per train vector: the max cosine against the whole benchmark set,
    plus the threshold flag.  The benchmark is dimension-sized by
    definition, so it broadcasts as a normalized numpy matrix inside
    one Arrow-batched map-only pass (matmul per batch, rowwise max) —
    NO shuffle, NO join, the whole corpus is touched exactly once; at
    100 TB this is the same scan shape as `quality_classifier`.  The
    flag compares the ROUNDED max (both engines), so the gate is
    boundary-stable.
    """
    from pyspark.sql.functions import pandas_udf

    emb = embeddings.filter(F.col("embedding").isNotNull())
    bench_rows = (
        emb.filter(F.col("vec_id").isin(list(bench_ids)))
        .select("vec_id", "embedding")
        .collect()
    )
    if not bench_rows:
        # no benchmark vectors present (ids absent or all NULL): nothing
        # can be contaminated, and an empty matrix would AxisError the
        # norm below — return the typed empty-max shape instead
        return (
            emb.filter(~F.col("vec_id").isin(list(bench_ids)))
            .select(
                "vec_id",
                F.lit(None).cast("double").alias("max_bench_cosine"),
                F.lit(False).alias("contaminated"),
            )
        )
    bmat = np.array(
        [r.embedding for r in sorted(bench_rows, key=lambda r: r.vec_id)],
        dtype=np.float64,
    )
    bnorm = bmat / np.maximum(np.linalg.norm(bmat, axis=1, keepdims=True), 1e-12)

    @pandas_udf("double")
    def max_bench_cos(col: pd.Series) -> pd.Series:
        m = np.array(col.tolist(), dtype=np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series((m @ bnorm.T).max(axis=1))

    train = emb.filter(~F.col("vec_id").isin(list(bench_ids)))
    scored = train.select(
        "vec_id",
        F.round(max_bench_cos(F.col("embedding")), round_to).alias(
            "max_bench_cosine"
        ),
    )
    return scored.withColumn(
        "contaminated", F.col("max_bench_cosine") >= threshold
    )


def semantic_decontaminate_oracle(
    bench_ids: tuple[int, ...] = SEMDECON_BENCH_IDS,
    threshold: float = SEMDECON_THRESHOLD,
    round_to: int = 4,
) -> str:
    ids = ", ".join(str(i) for i in bench_ids)
    cos = _cosine_sql("e.emb", "b.emb")
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE embedding IS NOT NULL
),
b AS (SELECT emb FROM e WHERE vec_id IN ({ids})),
s AS (
    SELECT e.vec_id, round(max({cos}), {round_to}) AS max_bench_cosine
    FROM e CROSS JOIN b
    WHERE e.vec_id NOT IN ({ids})
    GROUP BY e.vec_id
)
SELECT vec_id, max_bench_cosine,
       max_bench_cosine >= {threshold} AS contaminated
FROM s
"""


# --------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster-blocked in-cell cosine pairs)
# --------------------------------------------------------------------------

#: in-cell cosine at or above this marks a semantic duplicate pair.
#: Production corpora use ~0.95+; the synthetic test embeddings are
#: near-orthogonal (max pair ≈ 0.51), so the demo threshold sits where
#: the operator has observable output at test scale.
SEMDEDUP_THRESHOLD = 0.45


def semantic_dedup(
    embeddings: DataFrame,
    n_cells: int = IVF_CELLS,
    threshold: float = SEMDEDUP_THRESHOLD,
    round_to: int = 4,
) -> DataFrame:
    """Semantic dedup à la SemDeDup (Abbas et al. 2023, public): assign
    every vector to a centroid cell, then mark cosine-near pairs WITHIN
    each cell — keep the lowest vec_id of a pair, drop the other.

    This is the scale recipe for semantic (not lexical) duplication:
    clustering bounds the candidate set to in-cell pairs, so the
    quadratic term is (corpus/n_cells)² per cell instead of corpus² —
    with production cell counts (~100k) each cell is a few thousand
    vectors and the in-cell scoring is an Arrow numpy batch.  The
    cell assignment is the same map-only broadcast-centroid matmul the
    IVF index uses (`ivf_assign_cells`); the pair join shuffles both
    sides once on the cell key; cosine is scored inside the join
    projection (Arrow-batched), and the threshold filter runs before
    anything aggregates.  Differs from `embedding_near_dups` (LSH
    sign-bit blocking — lexical-strength recall on near-identical
    vectors) by recalling *semantically close but not near-identical*
    pairs that hash into different LSH buckets.
    """
    assigned = ivf_assign_cells(embeddings, n_cells).select("cell", "vec_id", "embedding")
    a = assigned.select(
        "cell", F.col("vec_id").alias("keep_id"), F.col("embedding").alias("emb_a")
    )
    b = assigned.select(
        "cell", F.col("vec_id").alias("drop_id"), F.col("embedding").alias("emb_b")
    )
    pairs = a.join(b, "cell").filter(F.col("keep_id") < F.col("drop_id"))
    scored = pairs.select(
        "cell",
        "keep_id",
        "drop_id",
        F.round(pair_cosine(F.col("emb_a"), F.col("emb_b")), round_to).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= threshold)


def semantic_dedup_oracle(
    n_cells: int = IVF_CELLS,
    threshold: float = SEMDEDUP_THRESHOLD,
    round_to: int = 4,
) -> str:
    """DuckDB twin: same first-`n_cells` centroids, same argmax-cosine
    assignment (ties → lowest cell, matching ``np.argmax``), exact
    in-cell pair cosine."""
    cos = _cosine_sql("e.emb", "c.cvec")
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE embedding IS NOT NULL
),
c AS (
    SELECT vec_id AS cell, emb AS cvec FROM e WHERE vec_id < {n_cells}
),
assigned AS (
    SELECT vec_id, emb, cell FROM (
        SELECT e.vec_id, e.emb, c.cell,
               row_number() OVER (
                   PARTITION BY e.vec_id ORDER BY {cos} DESC, c.cell
               ) AS rn
        FROM e CROSS JOIN c
    ) WHERE rn = 1
)
SELECT a.cell, a.vec_id AS keep_id, b.vec_id AS drop_id,
       round({_cosine_sql('a.emb', 'b.emb')}, {round_to}) AS cosine
FROM assigned a JOIN assigned b
  ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE round({_cosine_sql('a.emb', 'b.emb')}, {round_to}) >= {threshold}
"""


# --------------------------------------------------------------------------
# k-means refinement step (Lloyd iteration over the IVF cells)
# --------------------------------------------------------------------------


def kmeans_refine(embeddings: DataFrame, n_cells: int = IVF_CELLS) -> DataFrame:
    """One Lloyd's iteration over the IVF cell structure: assign every
    vector to its nearest seed centroid (the same map-only
    broadcast-centroid matmul the index uses), then recompute each
    cell's centroid as the member mean — the update step an IVF /
    k-means build iterates until assignment stabilizes.

    Output is long-form (cell, dim_idx, centroid_val, n_members).
    Shape: assignment adds no shuffle; the update is one
    ``posexplode`` + (cell, dim) partial-agg shuffle — identical cost
    profile per iteration at any scale, which is why the driver-side
    loop in a full build stays O(iterations) with no growing state
    (each pass reads the corpus once; lineage is cut by writing the
    new centroids, which are dimension-sized).
    """
    assigned = ivf_assign_cells(embeddings, n_cells)
    ex = assigned.select("cell", F.posexplode("embedding").alias("pos", "component"))
    return (
        ex.groupBy("cell", (F.col("pos") + 1).alias("dim_idx"))
        .agg(
            F.round(F.avg("component"), 6).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def kmeans_refine_oracle(n_cells: int = IVF_CELLS) -> str:
    """DuckDB twin: same first-`n_cells` seed centroids, same
    argmax-cosine assignment (ties → lowest cell), unnest means."""
    cos = _cosine_sql("e.emb", "c.cvec")
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE embedding IS NOT NULL
),
c AS (
    SELECT vec_id AS cell, emb AS cvec FROM e WHERE vec_id < {n_cells}
),
assigned AS (
    SELECT vec_id, emb, cell FROM (
        SELECT e.vec_id, e.emb, c.cell,
               row_number() OVER (
                   PARTITION BY e.vec_id ORDER BY {cos} DESC, c.cell
               ) AS rn
        FROM e CROSS JOIN c
    ) WHERE rn = 1
),
dims AS (SELECT max(len(emb)) AS d FROM e),
ex AS (
    SELECT a.cell, t.i AS dim_idx, a.emb[t.i] AS component
    FROM assigned a, dims, unnest(range(1, dims.d + 1)) AS t(i)
)
SELECT cell, dim_idx,
       round(avg(component), 6) AS centroid_val,
       count(*) AS n_members
FROM ex
GROUP BY cell, dim_idx
"""


# --------------------------------------------------------------------------
# persisted IVF index (build once, probe many)
# --------------------------------------------------------------------------

def build_ivf_index(
    embeddings: DataFrame, index_dir: str, n_cells: int = IVF_CELLS
) -> str:
    """Materialize the IVF index as a reusable artifact: the corpus
    partitioned BY CELL (``cells/``, one directory per posting list)
    plus the centroid table (``centroids/``).  The expensive pass —
    the broadcast-centroid Arrow matmul over every vector — runs once
    at build; every subsequent probe is a partition-pruned read of
    ``nprobe`` cell directories, never a rescan of the corpus.  This
    is the physical layout a 100 TB ANN serving path actually ships
    (FAISS IVF posting lists ≙ parquet cell partitions).
    """
    emb = embeddings.filter(F.col("embedding").isNotNull())
    cent_norm = _centroid_matrix(emb, n_cells)
    assigned = emb.withColumn("cell", _nearest_cell_udf(cent_norm)(F.col("embedding")))
    (
        assigned.write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(index_dir, "cells"))
    )
    spark = embeddings.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in cent_norm[i]]) for i in range(cent_norm.shape[0])],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "centroids"))
    return index_dir


def ann_ivf_indexed(
    spark: SparkSession,
    sf_dir: str,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    round_to: int = 4,
) -> DataFrame:
    """Probe the PERSISTED IVF index: centroids load as a bounded
    n_cells read, probe-cell selection is driver-side numpy over that
    tiny matrix, and the candidate scan reads ONLY the probed cell
    partitions (``cell IN (…)`` prunes at the parquet partition level
    — `tests/test_plans.py` pins the pushed partition filter).  Result
    is identical to :func:`ann_ivf_topk` (same deterministic seed
    centroids), so it shares that key's SQL oracle.  The index is
    built once per (n_cells, embeddings file identity) by
    ``session.scratch_cache``: rebuilding per call would hide the very
    amortization the index exists to demonstrate.
    """
    if query_ids is None:
        query_ids = list(range(8))
    embeddings = load_table(spark, sf_dir, "embeddings")
    index_dir = scratch_cache(
        f"ivfidx_{n_cells}",
        os.path.join(sf_dir, "embeddings.parquet"),
        lambda d: build_ivf_index(embeddings, d, n_cells),
    )
    return probe_ivf_index(
        spark, index_dir, embeddings, query_ids, k, nprobe, round_to
    )


def probe_ivf_index(
    spark: SparkSession,
    index_dir: str,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    round_to: int = 4,
) -> DataFrame:
    """Probe any persisted IVF index dir (see :func:`build_ivf_index`
    / :func:`extend_ivf_index`): bounded centroid read, driver-side
    probe-cell selection, partition-pruned posting-list scan."""
    cent_rows = (
        spark.read.parquet(os.path.join(index_dir, "centroids"))
        .orderBy("cell")
        .collect()
    )
    cent_norm = np.array([r.centroid for r in cent_rows], dtype=np.float64)
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probe = []
    for r in q.collect():
        v = np.array(r.q_emb, dtype=np.float64)
        v = v / max(np.linalg.norm(v), 1e-12)
        for cell in np.argsort(-(cent_norm @ v), kind="stable")[:nprobe]:
            probe.append((int(r.query_id), int(cell)))
    probe_df = spark.createDataFrame(probe, "query_id int, cell int")
    probe_cells = sorted({c for _, c in probe})
    cells = spark.read.parquet(os.path.join(index_dir, "cells")).filter(
        F.col("cell").isin(probe_cells)  # partition-pruned posting-list read
    )
    cands = (
        cells.join(F.broadcast(probe_df), "cell")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        F.round(pair_cosine(F.col("q_emb"), F.col("embedding")), round_to).alias(
            "cosine"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# --------------------------------------------------------------------------
# IVF + int8 quantized posting lists (FAISS IVF-PQ regime, SQ8 codes)
# --------------------------------------------------------------------------

#: the code→vector reconstruction an index is built for, stored in its
#: ``meta`` marker and checked by every probe
IVFPQ_ENCODING = "sq8"


def build_ivfpq_index(
    embeddings: DataFrame,
    index_dir: str,
    n_cells: int = IVF_CELLS,
) -> str:
    """Materialize the quantized IVF index: posting lists store int8
    CODES + a per-vector scale instead of the float vectors — the
    memory-bound regime FAISS IVFPQ targets at 100 TB, where the probe
    cost is dominated by reading posting lists and a 4× narrower code
    (tinyint vs float32) is a 4× probe-I/O cut before any CPU work.

    Codes are the symmetric per-vector int8 quantization of
    :func:`quantize_embeddings` (``scale = 127/max|v|``,
    ``q_i = floor(v_i*scale+0.5)``) — SCALAR quantization, not true PQ
    sub-space codebooks, deliberately: PQ codebooks come out of a
    k-means whose result depends on partitioning and seeding, so the
    probe would not be reproducible in ANSI SQL; the scalar code has
    the identical storage/IO shape and is bit-deterministic on both
    engines.

    Cell assignment stays FULL precision (the standard IVF coarse
    quantizer); the whole build is codegen expressions (abs/array_max/
    floor transforms) around the shared Arrow centroid matmul — one
    corpus pass, no extra shuffle beyond the partitioned write.
    """
    emb = embeddings.filter(F.col("embedding").isNotNull())
    cent_norm = _centroid_matrix(emb, n_cells)
    embd = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    assigned = (
        embd.withColumn("cell", _nearest_cell_udf(cent_norm)(F.col("emb")))
        .withColumn(
            "scale",
            F.lit(127.0)
            / F.greatest(F.array_max(F.transform("emb", F.abs)), F.lit(_QUANT_EPS)),
        )
        .withColumn(
            "codes",
            F.transform(
                "emb",
                lambda x: F.floor(x * F.col("scale") + F.lit(0.5)).cast("tinyint"),
            ),
        )
        .select("vec_id", "scale", "codes", "cell")
    )
    (
        assigned.write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(index_dir, "cells"))
    )
    spark = embeddings.sparkSession
    spark.createDataFrame(
        [(i, [float(x) for x in cent_norm[i]]) for i in range(cent_norm.shape[0])],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "centroids"))
    # encoding marker: any other code layout with the same codes/scale
    # columns (a trained-PQ index) is byte-compatible on disk, so a
    # probe reconstructing it as SQ8 would silently produce garbage —
    # the marker makes the mismatch a loud error instead
    spark.createDataFrame([(IVFPQ_ENCODING,)], "encoding string").write.mode(
        "overwrite"
    ).parquet(os.path.join(index_dir, "meta"))
    return index_dir


def probe_ivfpq_index(
    spark: SparkSession,
    index_dir: str,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = IVF_NPROBE,
    round_to: int = 4,
    rerank: int = 0,
) -> DataFrame:
    """Probe the quantized index: bounded centroid read, driver-side
    probe-cell selection over the tiny centroid matrix, then a
    partition-pruned read of ≤nprobe posting lists whose candidates
    are scored ASYMMETRICALLY (FAISS ADC): the full-precision query
    against the code-reconstructed candidate ``v̂_i = q_i/scale`` —
    reconstruction and cosine are pure codegen transforms, no Python
    in the per-candidate path except the shared Arrow cosine.

    ``rerank > 0`` adds the FAISS refine stage (IndexRefineFlat): the
    top-``rerank`` code-scored candidates per query are re-scored at
    FULL precision and the final top-k is taken from the exact
    cosines.  The refine set is (queries × rerank) rows — dimension-
    sized — so it broadcasts into a semi-probe of the full-vector
    table; the 100 TB shape is "codes decide who gets read, full
    vectors are touched only for ~rerank rows per query".  With
    ``rerank`` ≥ the probed-candidate count this EQUALS the
    full-precision IVF probe exactly (pytest-pinned), which is the
    correctness contract a refine stage must satisfy."""
    want = IVFPQ_ENCODING
    # ONLY a missing meta path (pre-marker index layout) may fall back
    # to trusting the caller — a corrupt/unreadable/empty marker must
    # stay loud, or the guard silently disables itself.  The check
    # rides Spark's own path resolution (NOT os.path, which returns
    # False for file:/hdfs:/s3: URI dirs and would disable the guard
    # exactly where production indexes live).
    from pyspark.errors import AnalysisException

    try:
        stored = spark.read.parquet(os.path.join(index_dir, "meta")).collect()[0][0]
    except AnalysisException as e:
        # error-class first (stable across Spark versions and message
        # rewording), message substrings as the pre-3.4 fallback
        cond = getattr(e, "getCondition", None) or getattr(
            e, "getErrorClass", None
        )
        if (cond is not None and cond() == "PATH_NOT_FOUND") or (
            "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e)
        ):
            stored = want  # pre-marker layout
        else:
            raise
    if stored != want:
        raise ValueError(
            f"index at {index_dir} was built with encoding {stored!r} but the "
            f"probe reconstructs {want!r} — reconstruction would be garbage"
        )
    cent_rows = (
        spark.read.parquet(os.path.join(index_dir, "centroids"))
        .orderBy("cell")
        .collect()
    )
    cent_norm = np.array([r.centroid for r in cent_rows], dtype=np.float64)
    q = embeddings.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probe = []
    for r in q.collect():
        v = np.array(r.q_emb, dtype=np.float64)
        v = v / max(np.linalg.norm(v), 1e-12)
        for cell in np.argsort(-(cent_norm @ v), kind="stable")[:nprobe]:
            probe.append((int(r.query_id), int(cell)))
    probe_df = spark.createDataFrame(probe, "query_id int, cell int")
    probe_cells = sorted({c for _, c in probe})
    cells = spark.read.parquet(os.path.join(index_dir, "cells")).filter(
        F.col("cell").isin(probe_cells)  # partition-pruned posting-list read
    )
    recon = cells.select(
        "vec_id",
        "cell",
        F.transform("codes", lambda c: c.cast("double") / F.col("scale")).alias("remb"),
    )
    cands = (
        recon.join(F.broadcast(probe_df), "cell")
        .join(F.broadcast(q), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = cands.select(
        "query_id",
        "vec_id",
        F.round(pair_cosine(F.col("q_emb"), F.col("remb")), round_to).alias(
            "cosine"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine", "rank")
        )
    # refine stage: exact re-score of the code-selected shortlist
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "vec_id")
    )
    refined = (
        embeddings.select("vec_id", "embedding")
        # shortlist is (queries x rerank) rows — broadcast it so the
        # full-vector table is semi-probed, never shuffled
        .join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                pair_cosine(F.col("q_emb"), F.col("embedding")), round_to
            ).alias("cosine"),
        )
    )
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ann_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    query_ids: list[int] | None = None,
    k: int = 5,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    round_to: int = 4,
) -> DataFrame:
    """Build-once/probe-many entry for the quantized IVF index (the
    `ann_ivf_indexed` pattern over int8 posting lists)."""
    if query_ids is None:
        query_ids = list(range(8))
    embeddings = load_table(spark, sf_dir, "embeddings")
    index_dir = scratch_cache(
        f"ivfpq_{n_cells}",
        os.path.join(sf_dir, "embeddings.parquet"),
        lambda d: build_ivfpq_index(embeddings, d, n_cells),
    )
    return probe_ivfpq_index(
        spark, index_dir, embeddings, query_ids, k, nprobe, round_to
    )


def ann_ivfpq_oracle(
    query_ids: list[int],
    k: int = 5,
    n_cells: int = IVF_CELLS,
    nprobe: int = IVF_NPROBE,
    round_to: int = 4,
) -> str:
    """DuckDB twin: identical IVF skeleton to `ann_ivf_topk_oracle`,
    but candidates are scored against the int8-code reconstruction
    (the exact `quantize_embeddings` formula — floor(x*scale+0.5),
    then /scale)."""
    ids = ", ".join(str(i) for i in query_ids)
    cos = _cosine_sql("e.emb", "c.cvec")
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    WHERE embedding IS NOT NULL
),
c AS (
    SELECT vec_id AS cell, emb AS cvec FROM e WHERE vec_id < {n_cells}
),
sims AS (
    SELECT e.vec_id, e.emb, c.cell, {cos} AS sim
    FROM e CROSS JOIN c
),
assigned AS (
    SELECT vec_id, emb, cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, cell
        ) AS rn FROM sims
    ) WHERE rn = 1
),
recon AS (
    SELECT a.vec_id, a.cell,
           list_transform(
               a.emb,
               x -> floor(x * (127.0 / greatest(
                        list_max(list_transform(a.emb, y -> abs(y))),
                        {_QUANT_EPS})) + 0.5)
                    / (127.0 / greatest(
                        list_max(list_transform(a.emb, y -> abs(y))),
                        {_QUANT_EPS}))
           ) AS remb
    FROM assigned a
),
probe AS (
    SELECT vec_id AS query_id, emb AS q_emb, cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, cell
        ) AS rn FROM sims WHERE vec_id IN ({ids})
    ) WHERE rn <= {nprobe}
),
scored AS (
    SELECT p.query_id, r.vec_id,
           round({_cosine_sql('p.q_emb', 'r.remb')}, {round_to}) AS cosine
    FROM probe p JOIN recon r USING (cell)
    WHERE r.vec_id <> p.query_id
)
SELECT query_id, vec_id, cosine, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id
    ) AS rank
    FROM scored
) WHERE rank <= {k}
"""


# --------------------------------------------------------------------------
# ANN recall report (index quality monitoring)
# --------------------------------------------------------------------------


def ann_recall_report(
    embeddings: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Recall@k of each approximate index (LSH, IVF) against the exact
    brute-force top-k — the quality dial a production ANN deployment
    monitors before trading more recall for probe cost (nprobe, band
    count).  One row per method: query count and mean recall@k.

    All three rankings are the engine's own operators composed in one
    plan; the hit join keys on (query_id, vec_id) — tiny frames (k ×
    queries), everything broadcastable.
    """
    exact = cosine_topk(embeddings, query_ids, k).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    approx = (
        ann_lsh_topk(embeddings, query_ids, k)
        .select(F.lit("lsh").alias("method"), "query_id", "vec_id")
        .unionByName(
            ann_ivf_topk(embeddings, query_ids, k).select(
                F.lit("ivf").alias("method"), "query_id", "vec_id"
            )
        )
    )
    return (
        approx.join(F.broadcast(exact), ["query_id", "vec_id"], "left")
        .groupBy("method")
        .agg(
            F.count_distinct("query_id").alias("n_queries"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0)))
                / (F.lit(k) * F.count_distinct("query_id")),
                6,
            ).alias("recall_at_k"),
        )
    )


def ann_recall_report_oracle(query_ids: list[int], k: int = 5) -> str:
    return f"""
WITH exact AS (
    SELECT query_id, vec_id, 1 AS hit FROM ({cosine_topk_oracle(query_ids, k)})
),
lsh AS (SELECT query_id, vec_id FROM ({ann_lsh_topk_oracle(query_ids, k)})),
ivf AS (SELECT query_id, vec_id FROM ({ann_ivf_topk_oracle(query_ids, k)})),
approx AS (
    SELECT 'lsh' AS method, query_id, vec_id FROM lsh
    UNION ALL
    SELECT 'ivf' AS method, query_id, vec_id FROM ivf
)
SELECT a.method,
       count(DISTINCT a.query_id) AS n_queries,
       round(sum(coalesce(e.hit, 0)) * 1.0
             / ({k} * count(DISTINCT a.query_id)), 6) AS recall_at_k
FROM approx a
LEFT JOIN exact e USING (query_id, vec_id)
GROUP BY 1
"""


# --------------------------------------------------------------------------
# embedding drift (centroid shift between snapshots)
# --------------------------------------------------------------------------


def embedding_drift(embeddings: DataFrame, round_to: int = 6) -> DataFrame:
    """Per-label centroid shift between two corpus snapshots — the
    embedding-space twin of :func:`..corpus.corpus_drift`: an encoder
    change, a scraper regression, or genuine distribution shift moves
    a class's mean vector, and ``1 − cos(centroid_ref, centroid_new)``
    is the standard alarm on it.

    Snapshot convention matches the drift family: even vec_ids are the
    reference snapshot, odd the new one.  Everything stays long-form
    JVM aggregation (the :func:`label_centroids` discipline): one
    posexplode → conditional per-(label, dim, slice) means (rounded
    like label_centroids, so both engines dot identical values) → one
    label-keyed sum for the dot/norms.  Labels present in only one
    snapshot are dropped (no centroid to compare); zero centroids
    yield NULL cosine rather than a division error.
    """
    ex = embeddings.filter(F.col("embedding").isNotNull()).select(
        (F.col("vec_id") % 2).alias("slc"),
        "label",
        F.posexplode("embedding").alias("pos", "component"),
    )
    cent = ex.groupBy("label", "pos").agg(
        F.round(
            F.avg(F.when(F.col("slc") == 0, F.col("component"))), round_to
        ).alias("c0"),
        F.round(
            F.avg(F.when(F.col("slc") == 1, F.col("component"))), round_to
        ).alias("c1"),
        F.sum(F.when(F.col("slc") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("slc") == 1, 1).otherwise(0)).alias("n1"),
    )
    agg = (
        cent.filter(F.col("c0").isNotNull() & F.col("c1").isNotNull())
        .groupBy("label")
        .agg(
            F.max("n0").alias("n_ref"),
            F.max("n1").alias("n_new"),
            F.sum(F.col("c0") * F.col("c1")).alias("dot"),
            F.sum(F.col("c0") * F.col("c0")).alias("sq0"),
            F.sum(F.col("c1") * F.col("c1")).alias("sq1"),
        )
    )
    cos = F.when(
        (F.col("sq0") > 0) & (F.col("sq1") > 0),
        F.round(
            F.col("dot") / (F.sqrt("sq0") * F.sqrt("sq1")), round_to
        ),
    )
    return agg.select(
        "label",
        "n_ref",
        "n_new",
        cos.alias("centroid_cosine"),
        F.round(1 - cos, round_to).alias("drift"),
    )


def embedding_drift_oracle(round_to: int = 6) -> str:
    return f"""
WITH dims AS (SELECT max(len(embedding)) AS d FROM embeddings),
ex AS (
    SELECT e.vec_id % 2 AS slc, e.label, t.i AS pos,
           CAST(e.embedding[t.i] AS DOUBLE) AS component
    FROM embeddings e, dims, unnest(range(1, dims.d + 1)) AS t(i)
    WHERE e.embedding IS NOT NULL
),
cent AS (
    SELECT label, pos,
           round(avg(CASE WHEN slc = 0 THEN component END), {round_to}) AS c0,
           round(avg(CASE WHEN slc = 1 THEN component END), {round_to}) AS c1,
           sum(CASE WHEN slc = 0 THEN 1 ELSE 0 END) AS n0,
           sum(CASE WHEN slc = 1 THEN 1 ELSE 0 END) AS n1
    FROM ex GROUP BY 1, 2
),
agg AS (
    SELECT label, max(n0) AS n_ref, max(n1) AS n_new,
           sum(c0 * c1) AS dot, sum(c0 * c0) AS sq0, sum(c1 * c1) AS sq1
    FROM cent WHERE c0 IS NOT NULL AND c1 IS NOT NULL
    GROUP BY 1
)
SELECT label, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_new AS BIGINT) AS n_new,
       CASE WHEN sq0 > 0 AND sq1 > 0
            THEN round(dot / (sqrt(sq0) * sqrt(sq1)), {round_to}) END
           AS centroid_cosine,
       round(1 - CASE WHEN sq0 > 0 AND sq1 > 0
            THEN round(dot / (sqrt(sq0) * sqrt(sq1)), {round_to}) END, {round_to})
           AS drift
FROM agg
"""


# --------------------------------------------------------------------------
# hybrid retrieval: BM25 × ANN with reciprocal-rank fusion
# --------------------------------------------------------------------------

#: RRF constant (Cormack et al. 2009 — 60 is the published default)
RRF_K = 60
HYBRID_DEPTH = 50
HYBRID_TOP_K = 25
HYBRID_QUERY_VEC_ID = 0


def hybrid_search(
    documents: DataFrame,
    embeddings: DataFrame,
    query_vec_id: int = HYBRID_QUERY_VEC_ID,
    terms: tuple[str, ...] | None = None,
    k: int = HYBRID_TOP_K,
    depth: int = HYBRID_DEPTH,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of the lexical (BM25) and semantic
    (exact cosine) retrievers — the standard hybrid-search recipe
    (RRF, Cormack et al. 2009): each candidate scores
    ``Σ 1/(rrf_k + rank_i)`` over the lists it appears in, which
    needs no score calibration between the two systems.

    Scale shape: each retriever already reduces the corpus to a
    ``depth``-row frame (one scan + TakeOrdered each, per their own
    entries), so the fusion itself is a full-outer join of two tiny
    frames + one ranking — nothing corpus-sized moves.  vec_id and
    doc_id share the id space by construction of the test lake (the
    embedding of document i is row i of ``embeddings``).
    """
    from pyspark.sql import Window

    from telemetry_streaming_datalake_spark.operators.text import bm25_search

    lex = bm25_search(documents, terms, depth) if terms else bm25_search(
        documents, k=depth
    )
    wl = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex = lex.select(
        "doc_id", F.row_number().over(wl).alias("lex_rank")
    )
    sem = cosine_topk(embeddings, [query_vec_id], k=depth).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("sem_rank")
    )
    return _rrf_fuse(lex, sem, k, rrf_k)


def _rrf_fuse(lex: DataFrame, sem: DataFrame, k: int, rrf_k: int) -> DataFrame:
    """The fusion step shared by :func:`hybrid_search` and
    :func:`retrieval_quality_report`'s per-depth curve: full-outer
    join of two (doc_id, rank) lists, Σ 1/(rrf_k + rank_i), 6dp round,
    deterministic top-k."""
    fused = lex.join(sem, "doc_id", "full_outer")
    rrf = (
        F.when(
            F.col("lex_rank").isNotNull(),
            1.0 / (F.lit(rrf_k) + F.col("lex_rank")),
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("sem_rank").isNotNull(),
            1.0 / (F.lit(rrf_k) + F.col("sem_rank")),
        ).otherwise(F.lit(0.0))
    )
    return (
        fused.select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.round(rrf, 6).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(k)
    )


def hybrid_search_oracle(
    bm25_sql: str,
    cosine_sql: str,
    k: int = HYBRID_TOP_K,
    rrf_k: int = RRF_K,
) -> str:
    """Fusion twin composing the two retrievers' own oracles: re-rank
    the BM25 list (row_number over its deterministic ordering), take
    the cosine list's ranks, full-outer join, RRF, top-k."""
    return f"""
WITH lex AS (
    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
    FROM ({bm25_sql})
),
sem AS (
    SELECT vec_id AS doc_id, rank AS sem_rank FROM ({cosine_sql})
),
fused AS (
    SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank,
           round(
               coalesce(1.0 / ({rrf_k} + l.lex_rank), 0.0)
               + coalesce(1.0 / ({rrf_k} + s.sem_rank), 0.0), 6) AS rrf_score
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {k}
"""


# --------------------------------------------------------------------------
# incremental IVF index maintenance
# --------------------------------------------------------------------------

def extend_ivf_index(spark: SparkSession, index_dir: str, new_embeddings: DataFrame) -> str:
    """Add a batch of vectors to a persisted IVF index WITHOUT
    rebuilding: assign against the FROZEN centroid table (the standard
    FAISS `add` semantics — centroids never retrain on add) and append
    the assigned rows into their cell partitions.  Cost is
    O(increment): one broadcast-centroid Arrow matmul over the batch
    plus partition-local appends; the existing posting lists are never
    read, and probes see the union immediately.  This is what turns
    100 TB ANN serving into an ingestion loop — the similarity-side
    twin of :func:`..dedup.build_dedup_index`'s incremental story."""
    cent_rows = (
        spark.read.parquet(os.path.join(index_dir, "centroids"))
        .orderBy("cell")
        .collect()
    )
    cent_norm = np.array([r.centroid for r in cent_rows], dtype=np.float64)
    assigned = new_embeddings.filter(F.col("embedding").isNotNull()).withColumn(
        "cell", _nearest_cell_udf(cent_norm)(F.col("embedding"))
    )
    (
        assigned.write.mode("append")
        .partitionBy("cell")
        .parquet(os.path.join(index_dir, "cells"))
    )
    return index_dir


# --------------------------------------------------------------------------
# retrieval-quality report: nDCG@k / recall@k vs exact, pricing RRF depth
# --------------------------------------------------------------------------

#: retriever depths the report prices — how deep each retriever's
#: candidate list must be before fusion quality saturates
RETRIEVAL_EVAL_DEPTHS = (5, 10, 25, 50)


def _dcg_weights_micro(k: int) -> list[int]:
    """DCG position weights 1/log2(i+1), quantized to integer
    micro-units at PLAN time so both engines sum EXACT integers in any
    order (a float DCG sum would be accumulation-order-sensitive —
    the trend_report/CUSUM exact-integer discipline)."""
    import math

    return [int(round(1_000_000 / math.log2(i + 1))) for i in range(1, k + 1)]


def retrieval_quality_report(
    documents: DataFrame,
    embeddings: DataFrame,
    query_vec_id: int = HYBRID_QUERY_VEC_ID,
    k: int = HYBRID_TOP_K,
    depths: tuple[int, ...] = RETRIEVAL_EVAL_DEPTHS,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Quality-vs-cost curve for the hybrid retriever's DEPTH knob
    (the `ann_recall_report` posture applied to fusion): for each
    retriever depth, recall@k and binary-relevance nDCG@k of
    :func:`hybrid_search`'s top-k against the exact-cosine top-k
    ground truth.  Deeper candidate lists cost each retriever more
    (BM25 heap size, cosine scan width) — this report shows where the
    fused ranking stops improving, which is what prices the knob.

    Scale shape — ONE corpus pass per retriever, not one per depth:
    a depth-d ranked list is a RANK PREFIX of the depth-max list (the
    scoring is depth-independent; only the heap size changes), so the
    corpus-scale work runs once at max(depths) and every per-depth
    fusion is a rank filter over the two depth-max lists, eagerly
    localCheckpointed at depth-max cardinality.  The per-depth fusion
    + truth join + 1-row aggregate are all k/depth-sized and the
    truth join broadcasts.  nDCG sums integer micro-unit weights
    (exact in any accumulation order) and divides once by the
    plan-time ideal-DCG literal; recall divides two exact integers —
    both floor-rounded at the edge only.  The oracle deliberately
    stays the per-depth composed form (the reference semantics); this
    prefix-sharing plan must hash-match it exactly.
    """
    from pyspark.sql import Window

    from telemetry_streaming_datalake_spark.operators.derived import floor_round
    from telemetry_streaming_datalake_spark.operators.text import bm25_search

    w_micro = _dcg_weights_micro(k)
    idcg = sum(w_micro)
    wts = F.array(*[F.lit(w) for w in w_micro])
    truth = (
        cosine_topk(embeddings, [query_vec_id], k)
        .select(F.col("vec_id").alias("doc_id"), F.lit(1).alias("rel"))
        .localCheckpoint(eager=True)  # k-sized; joined once per depth
    )
    max_d = max(depths)
    wl = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex_all = (
        bm25_search(documents, k=max_d)
        .select("doc_id", F.row_number().over(wl).alias("lex_rank"))
        .localCheckpoint(eager=True)
    )
    sem_all = (
        cosine_topk(embeddings, [query_vec_id], k=max_d)
        .select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("sem_rank"))
        .localCheckpoint(eager=True)
    )
    # r14 opt (guide §2.4): the per-depth loop fused, ranked, joined
    # and aggregated once PER depth (~24 Exchange nodes of k-sized
    # data).  A depth-d fusion is a function of (lex_rank, sem_rank,
    # d) alone, so ONE full-outer join + a depth explode + ONE window
    # partitioned by depth + ONE grouped aggregate replicate every
    # per-depth list exactly: presence at depth d is rank<=d on either
    # side (NULL ranks fail the test, same as the filtered join's
    # missing side), the score adds the same two when() terms in the
    # same order before the same 6dp round, and row_number over
    # (score desc, doc_id) within a depth equals the old
    # orderBy+limit(k) prefix because the order is total.
    fused = lex_all.join(sem_all, "doc_id", "full_outer")
    per = fused.select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.explode(F.array(*[F.lit(int(d)) for d in depths])).alias("depth"),
    ).filter(
        (F.col("lex_rank") <= F.col("depth"))
        | (F.col("sem_rank") <= F.col("depth"))
    )
    term = lambda rank_col: F.when(
        F.col(rank_col) <= F.col("depth"),
        1.0 / (F.lit(rrf_k) + F.col(rank_col)),
    ).otherwise(F.lit(0.0))
    per = per.select(
        "depth",
        "doc_id",
        F.round(term("lex_rank") + term("sem_rank"), 6).alias("rrf_score"),
    )
    wd = Window.partitionBy("depth").orderBy(
        F.col("rrf_score").desc(), "doc_id"
    )
    ranked = per.select(
        "depth", "doc_id", F.row_number().over(wd).alias("rnk")
    ).filter(F.col("rnk") <= k)
    scored = ranked.join(F.broadcast(truth), "doc_id", "left").select(
        "depth", "rnk", F.coalesce("rel", F.lit(0)).alias("rel")
    )
    return (
        scored.groupBy("depth")
        .agg(
            F.sum("rel").alias("hits"),
            F.sum(
                F.col("rel") * F.element_at(wts, F.col("rnk")).cast("bigint")
            ).alias("dcg_micro"),
        )
        .select(
            "depth",
            F.lit(k).alias("k"),
            F.col("hits").cast("int").alias("truth_hits"),
            floor_round(F.col("hits") / F.lit(k), 6).alias("recall_at_k"),
            floor_round(F.col("dcg_micro") / F.lit(idcg), 6).alias("ndcg_at_k"),
        )
        .orderBy("depth")
    )


def retrieval_quality_report_oracle(
    bm25_sql_by_depth,
    cosine_sql_by_depth,
    truth_sql: str,
    k: int = HYBRID_TOP_K,
    depths: tuple[int, ...] = RETRIEVAL_EVAL_DEPTHS,
    rrf_k: int = RRF_K,
) -> str:
    """Composes the per-depth hybrid fusion oracles (each built from
    the two retrievers' own oracle SQL at that depth) against the
    exact-cosine truth, with the identical micro-unit DCG arithmetic.
    ``bm25_sql_by_depth`` / ``cosine_sql_by_depth`` are callables
    depth -> SQL (the entry composes them from the retrievers' own
    oracle builders, exactly like `hybrid_search`'s entry does)."""
    w_micro = _dcg_weights_micro(k)
    idcg = sum(w_micro)
    wlist = "[" + ", ".join(str(w) for w in w_micro) + "]"
    floor6 = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"
    ctes = [f"truth AS (SELECT vec_id AS doc_id FROM ({truth_sql}))"]
    selects = []
    for d in depths:
        hybrid = hybrid_search_oracle(
            bm25_sql_by_depth(d), cosine_sql_by_depth(d), k=k, rrf_k=rrf_k
        )
        ctes.append(
            f"""r{d} AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rnk
    FROM ({hybrid}))"""
        )
        selects.append(
            f"""SELECT {d} AS depth, {k} AS k,
       CAST(count(t.doc_id) AS INTEGER) AS truth_hits,
       {floor6(f"count(t.doc_id) / {k}")} AS recall_at_k,
       {floor6(
           f"coalesce(sum(CASE WHEN t.doc_id IS NOT NULL "
           f"THEN list_extract({wlist}, r.rnk) END), 0) / {idcg}"
       )} AS ndcg_at_k
FROM r{d} r LEFT JOIN truth t USING (doc_id)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY depth"
    )


# --------------------------------------------------------------------------
# decontamination method-overlap report (n-gram vs semantic agreement)
# --------------------------------------------------------------------------


def decontamination_overlap(
    documents: DataFrame,
    embeddings: DataFrame,
    bench_ids: tuple[int, ...] | None = None,
    threshold: float = SEMDECON_THRESHOLD,
) -> DataFrame:
    """Agreement audit between the two decontamination methods the
    engine ships — exact n-gram overlap (`corpus.decontaminate`) and
    embedding cosine (`semantic_decontaminate`) — run against the SAME
    benchmark set: how many docs each flags, the intersection, each
    method's unique catch, and the flag-set Jaccard.  The unique
    columns are the decision data: `n_only_semantic` is the paraphrase
    mass n-grams miss; `n_only_ngram` is the verbatim-overlap mass a
    cosine threshold at this setting passes.  The `dup_keep_audit`
    composition-audit posture applied to decontamination.

    Scale shape: both flag legs are the operators' own plans (each one
    corpus/embedding pass, benchmark broadcast); the overlap is a
    full-outer join of two FLAGGED-subset frames + one global
    aggregate — nothing corpus-sized moves beyond the legs themselves.
    """
    from telemetry_streaming_datalake_spark.operators.corpus import (
        BENCH_DOC_IDS,
        decontaminate,
    )
    from telemetry_streaming_datalake_spark.operators.derived import floor_round

    if bench_ids is None:
        bench_ids = BENCH_DOC_IDS
    ng = decontaminate(documents, bench_ids).select(
        F.col("doc_id").alias("id"), F.lit(True).alias("f_ng")
    )
    sem = (
        semantic_decontaminate(embeddings, bench_ids, threshold)
        .filter(F.col("contaminated"))
        .select(F.col("vec_id").alias("id"), F.lit(True).alias("f_sem"))
    )
    flags = ng.join(sem, "id", "full_outer").select(
        F.coalesce("f_ng", F.lit(False)).alias("f_ng"),
        F.coalesce("f_sem", F.lit(False)).alias("f_sem"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_union"),
        F.coalesce(F.sum(F.col("f_ng").cast("int")), F.lit(0)).alias("n_ngram"),
        F.coalesce(F.sum(F.col("f_sem").cast("int")), F.lit(0)).alias("n_semantic"),
        F.coalesce(
            F.sum((F.col("f_ng") & F.col("f_sem")).cast("int")), F.lit(0)
        ).alias("n_both"),
    )
    return agg.select(
        F.col("n_ngram").cast("int").alias("n_ngram"),
        F.col("n_semantic").cast("int").alias("n_semantic"),
        F.col("n_both").cast("int").alias("n_both"),
        (F.col("n_ngram") - F.col("n_both")).cast("int").alias("n_only_ngram"),
        (F.col("n_semantic") - F.col("n_both")).cast("int").alias(
            "n_only_semantic"
        ),
        F.col("n_union").cast("int").alias("n_union"),
        F.when(
            F.col("n_union") > 0,
            floor_round(F.col("n_both") / F.col("n_union"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("overlap_jaccard"),
    )


def decontamination_overlap_oracle(
    bench_ids: tuple[int, ...] | None = None,
    threshold: float = SEMDECON_THRESHOLD,
) -> str:
    """Composed twin: both method oracles at the shared benchmark set,
    the same full-outer flag join and aggregate."""
    from telemetry_streaming_datalake_spark.operators.corpus import (
        BENCH_DOC_IDS,
        decontaminate_oracle,
    )

    if bench_ids is None:
        bench_ids = BENCH_DOC_IDS
    floor6 = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"
    return f"""
WITH ng AS ({decontaminate_oracle(bench_ids)}),
sem AS ({semantic_decontaminate_oracle(bench_ids, threshold)}),
semf AS (SELECT vec_id FROM sem WHERE contaminated),
flags AS (
    SELECT n.doc_id IS NOT NULL AS f_ng, s.vec_id IS NOT NULL AS f_sem
    FROM ng n FULL OUTER JOIN semf s ON n.doc_id = s.vec_id
),
a AS (
    SELECT count(*) AS n_union,
           coalesce(sum(CASE WHEN f_ng THEN 1 ELSE 0 END), 0) AS n_ngram,
           coalesce(sum(CASE WHEN f_sem THEN 1 ELSE 0 END), 0) AS n_semantic,
           coalesce(sum(CASE WHEN f_ng AND f_sem THEN 1 ELSE 0 END), 0) AS n_both
    FROM flags
)
SELECT CAST(n_ngram AS INTEGER) AS n_ngram,
       CAST(n_semantic AS INTEGER) AS n_semantic,
       CAST(n_both AS INTEGER) AS n_both,
       CAST(n_ngram - n_both AS INTEGER) AS n_only_ngram,
       CAST(n_semantic - n_both AS INTEGER) AS n_only_semantic,
       CAST(n_union AS INTEGER) AS n_union,
       CASE WHEN n_union > 0 THEN {floor6("n_both / n_union")}
            ELSE 0.0 END AS overlap_jaccard
FROM a
"""
