"""Document deduplication family: exact, MinHash+LSH, SimHash.

These are the LLM-training-data operators a 100 TB pipeline needs on
top of the reference's telemetry surface.  Design rules at scale:

- **Never all-pairs.**  Candidate generation is always a bucket join
  (same-band groupBy for MinHash, same-signature groupBy for SimHash),
  so the shuffle is keyed by band/signature and the cross product only
  happens *within* a bucket (collision sets, tiny by construction).
- **JVM-side hashing.**  Shingling and the k hash functions are
  ``explode``/``xxhash64`` column expressions — no Python in the
  per-row path.
- **Codegen, not lambdas.**  Spark's higher-order functions
  (``transform``/``aggregate``) are CodegenFallback — every lambda
  element-eval is interpreted.  The k-permutation min-hash is therefore
  computed as ``explode(shingles) → groupBy(doc).agg(k × min(...))``:
  the permutations are plain arithmetic inside whole-stage codegen with
  map-side partial aggregation, ~20× faster than k ``transform`` passes
  and the same shape at 100 TB (shuffle carries only the k-long partial
  mins per doc, never the shingles).
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.operators.derived import floor_round
from telemetry_streaming_datalake_spark.session import load_table, scratch_cache

# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def normalize_text(col):
    """Whitespace-collapse + lowercase; the canonical form hashed for
    exact dedup (and the shingle source for near-dup)."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def dedup_exact_docs(documents: DataFrame) -> DataFrame:
    """Group identical normalized texts; keep the lowest doc_id.

    One hash-partitioned aggregation on the md5 key — the same shape
    at 500 rows and at 100 TB (md5 keys are uniform, skew-free).
    """
    h = documents.withColumn("content_hash", F.md5(normalize_text(F.col("text"))))
    return h.groupBy("content_hash").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


DEDUP_EXACT_ORACLE = r"""
SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*)    AS n_copies
FROM documents
GROUP BY ALL
"""

# --------------------------------------------------------------------------
# MinHash + LSH banding
# --------------------------------------------------------------------------

#: signature length and banding (16 bands × 8 rows → catches J≳0.75)
MINHASH_K = 128
LSH_BANDS = 16


def exploded_shingles(documents: DataFrame, n: int = 5) -> DataFrame:
    """(doc_id, shingle) rows via ``explode(sequence) → substring`` —
    every expression codegen-friendly, no per-element lambda eval.
    Shingles are NOT deduplicated here: min-hash is duplicate-immune,
    and set consumers apply ``collect_set``/``distinct`` themselves.
    """
    norm = normalize_text(F.col("text"))
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length("norm") - (n - 1), F.lit(1)))
    )
    # The generate stage multiplies CPU work ~300× (one row per char),
    # so parallelism must be set BEFORE the explode.  A corpus read
    # from few/compact files would otherwise expand on a handful of
    # cores; repartitioning the raw docs first is a tiny keyed shuffle
    # (docs are small pre-explosion) that buys full-cluster fan-out.
    # NULL text must DROP the doc (the simhash precedent, re-found for
    # minhash by the r11 two-NULL-doc fuzz corpus): xxhash64(NULL)
    # degenerates to the seed, so two NULL docs would share an
    # identical signature and band-pair in the engine while the exact
    # all-pairs oracle never pairs them
    spread = (
        documents.select("doc_id", norm.alias("norm"))
        .filter(F.col("norm").isNotNull())
        .repartition(
            documents.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
    )
    return spread.select("doc_id", "norm", pos.alias("i")).select(
        "doc_id", F.col("norm").substr(F.col("i"), F.lit(n)).alias("s")
    )


#: per-bucket membership cap for pair expansion.  A mass-duplicated
#: boilerplate doc shares ALL its bands, so without a cap one hot bucket
#: concentrates |bucket|²/2 pairs in a single task and the collect_list
#: array can exceed Spark's 2 GB single-value limit.  256 members still
#: yields 32k pairs per bucket — far beyond any banding-design bucket —
#: while bounding task memory.  Identical docs should be removed by
#: exact dedup upstream (dedup_exact_docs); the cap is the backstop.
BUCKET_CAP = 256


def bucket_pairs(
    banded: DataFrame,
    key_cols: list[str],
    payload: list[str],
    cap: int = BUCKET_CAP,
) -> DataFrame:
    """Unordered within-bucket pairs: cap → groupBy(bucket) →
    collect_list → double explode, filtered to ``first payload col:
    a < b``.

    Why not a self-join on the bucket key: both join branches would
    re-execute the whole upstream plan (signature computations — Spark
    does not reuse exchanges across pandas-udf/generate subtrees), and
    the bucket contents would shuffle twice.  This shape evaluates the
    signatures ONCE, shuffles each row once, and expands pairs locally
    per bucket.

    Hot-bucket bound: members beyond ``cap`` per bucket (deterministic
    ``row_number`` order on the first payload col) do not enter pair
    expansion, so the collected array is ≤ cap structs regardless of
    corpus pathology (10k identical docs land in ONE bucket otherwise).
    The row_number window itself is safe — WindowExec spills its
    partition buffer to disk, unlike a collect_list value.  Use
    :func:`bucket_truncation` to monitor how much a corpus clips.
    Output columns: ``a_<col>`` / ``b_<col>`` for each payload col.

    The cap order is the FULL payload tuple: for consumers whose first
    payload col is unique per bucket (every pre-r8 caller) this is the
    original order, and for multi-occurrence payloads (``dup_spans``:
    several positions of one doc under one gram) it makes the clipped
    set deterministic instead of tie-arbitrary.
    """
    w = Window.partitionBy(*key_cols).orderBy(*payload)
    capped = (
        banded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )
    st = F.struct(*[F.col(c) for c in payload])
    g = capped.groupBy(*key_cols).agg(F.collect_list(st).alias("items"))
    p1 = g.select("items", F.explode("items").alias("x"))
    p2 = p1.select("x", F.explode("items").alias("y"))
    out = p2.filter(F.col(f"x.{payload[0]}") < F.col(f"y.{payload[0]}")).select(
        *[F.col(f"x.{c}").alias(f"a_{c}") for c in payload],
        *[F.col(f"y.{c}").alias(f"b_{c}") for c in payload],
    )
    return out


def bucket_truncation(
    banded: DataFrame, key_cols: list[str], cap: int = BUCKET_CAP
) -> DataFrame:
    """Truncation metric for :func:`bucket_pairs`: one row with the
    number of over-cap buckets and the members clipped from pairing.
    Evaluate alongside the dedup job (it is a cheap keyed count, the
    same shuffle key as the pair expansion) and alert when
    ``clipped_members`` is non-zero — it means near-dup recall is being
    traded for bounded task memory on a pathological corpus."""
    sizes = banded.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.sum(F.when(F.col("n") > cap, 1).otherwise(0)).alias("hot_buckets"),
        F.sum(
            F.when(F.col("n") > cap, F.col("n") - cap).otherwise(0)
        ).alias("clipped_members"),
    )


#: modulus for the permutation family (Mersenne prime 2^31-1); keeps
#: a*h+b < 2^62, safe under ANSI long arithmetic (no overflow error)
MINHASH_PRIME = 2_147_483_647


def _perm_params(k: int, seed: int = 0x5EED) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutation
    family h_i(x) = (a_i*x + b_i) mod p — the classic MinHash form."""
    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, MINHASH_PRIME), rnd.randrange(0, MINHASH_PRIME))
        for _ in range(k)
    ]


def lsh_candidate_pairs(signatures: DataFrame, bands: int = LSH_BANDS) -> DataFrame:
    """Banded LSH: docs sharing any band hash become a candidate pair.

    explode(bands) → groupBy(band_idx, band_hash) → within-bucket join.
    The shuffle key is the band hash (uniform); no crossJoin anywhere —
    this is the scale path the all-pairs approach cannot take.
    """
    rows = MINHASH_K // bands
    band_arr = F.array(
        *[
            F.xxhash64(*[F.col("signature")[b * rows + r] for r in range(rows)])
            for b in range(bands)
        ]
    )
    banded = (
        signatures.select("doc_id", F.posexplode(band_arr).alias("band_idx", "band_hash"))
    )
    return (
        bucket_pairs(banded, ["band_idx", "band_hash"], ["doc_id"])
        .select(F.col("a_doc_id").alias("doc_a"), F.col("b_doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_minhash(documents: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Full near-dup pass: signatures → banded candidates → verified
    pairs above the Jaccard threshold.

    The hashed shingle sets and the signatures are computed ONCE and
    checkpointed: they feed the banded candidates and both Jaccard
    verification joins.  Without that, the three plan branches
    (signatures, pair-side A, pair-side B) would each re-run the
    shingle explode — at 100 TB, three full corpus scans instead of
    one.  The held form is the compact long-array set (~8
    bytes/shingle) plus k longs per doc.
    """
    # sets AND signatures come out of ONE groupBy over the exploded
    # shingles: collect_set rides with the 128 codegen min-aggregates,
    # so the corpus is scanned once, shuffled once, and no Python
    # worker is involved anywhere in this operator
    params = _perm_params(MINHASH_K)
    h = F.pmod(F.xxhash64("s"), F.lit(MINHASH_PRIME))
    mins = [
        F.min(F.pmod(h * F.lit(a) + F.lit(b), F.lit(MINHASH_PRIME))).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    # localCheckpoint (not persist): the fused frame feeds three
    # subtrees, but cacheManager-pinned blocks would outlive every
    # call with no unpersist path for the caller (the ADVICE-r5 leak
    # class); checkpoint blocks are released by the ContextCleaner
    # once the result frame is dropped
    fused = (
        exploded_shingles(documents)
        .groupBy("doc_id")
        .agg(F.collect_set(F.xxhash64("s")).alias("sh"), *mins)
        .localCheckpoint(eager=True)
    )
    sets = fused.select("doc_id", "sh")
    sigs = fused.select(
        "doc_id",
        F.array(*[F.col(f"m{i}") for i in range(MINHASH_K)]).alias("signature"),
    )
    cands = lsh_candidate_pairs(sigs)
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .select("doc_a", "doc_b", "jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

#: fingerprint width.  60 (not 64) because the token hash is the first
#: 15 hex chars of md5 — a hash BOTH Spark (conv/substring/md5) and
#: DuckDB ('0x'||substr(md5)::BIGINT) compute bit-identically, which is
#: what makes the whole operator oracle-checkable end-to-end (xxhash64
#: has no DuckDB twin).  60 bits split evenly into 4 × 15-bit chunks.
SIMHASH_BITS = 60


def _md5_60(col):
    """First 60 bits of md5 as a non-negative long — the cross-engine
    token hash (Spark conv(hex,16,10) == DuckDB '0x'||hex cast)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(documents: DataFrame) -> DataFrame:
    """60-bit SimHash over word tokens — shuffle-free.

    For each bit b: sum over tokens of ±1 according to bit b of
    the token hash; sign of the sum is the fingerprint bit.  Tokens
    are hashed JVM-side (``transform`` + md5 — interpreted HOF,
    but hashing is a trivial fraction of the work), then one Arrow
    batch per partition reaches a pandas_udf that unpacks the hash
    bits into an (n_tokens × 64) matrix and reduces it with numpy —
    the whole operator is MAP-ONLY: no explode, no groupBy, no
    exchange at any scale.  This replaced an explode + 64-wide codegen
    aggregate (one shuffle of 64 partial sums per doc): measured 4-5×
    faster at sf0.1, and strictly better at 100 TB because the shuffle
    disappears entirely.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def fp64(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=np.int64)
        for i, arr in enumerate(hashes):
            if arr is None or len(arr) == 0:
                out[i] = 0
                continue
            h = np.asarray(arr, dtype=np.int64).view(np.uint64)
            # bit matrix (n_tokens, 64), little-endian bit order ==
            # shiftright(h, b) & 1
            bits = np.unpackbits(
                h.view(np.uint8).reshape(len(h), 8), axis=1, bitorder="little"
            )
            s = bits.sum(axis=0, dtype=np.int64) * 2 - len(h)
            fp = np.uint64(0)
            for b in np.nonzero(s > 0)[0]:
                fp |= np.uint64(1) << np.uint64(b)
            out[i] = fp.view(np.int64)
        return pd.Series(out)

    toks = F.array_distinct(F.split(normalize_text(F.col("text")), " "))
    # NULL text must DROP the doc (the oracle's unnest emits no token
    # rows for it) — without this the map-only path would keep it with
    # fingerprint 0, and two NULL-text docs would pair at hamming 0
    documents = documents.filter(F.col("text").isNotNull())
    spread = documents.select("doc_id", toks.alias("toks")).repartition(
        documents.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    hashed = spread.select(
        "doc_id", F.transform("toks", lambda t: _md5_60(t)).alias("h")
    )
    return hashed.select("doc_id", fp64("h").alias("simhash"))


#: 60-bit fingerprint blocked as 4 × 15-bit chunks; pairs within
#: hamming ≤ 3 are guaranteed found (pigeonhole: 3 flipped bits cannot
#: touch all 4 chunks)
SIMHASH_CHUNKS = 4
HAMMING_MAX = 3


def simhash_near_dups(
    documents: DataFrame,
    chunks: int = SIMHASH_CHUNKS,
    hamming_max: int = HAMMING_MAX,
) -> DataFrame:
    """Near-dup pairs: share ≥1 of the 4 fingerprint chunks AND full
    Hamming distance ≤ ``hamming_max`` (the Manku/Google dedup recipe).

    The chunk value is the shuffle key — never all-pairs.  Caveat the
    docstring owes the 100 TB reader: unweighted SimHash bits over
    same-language corpora are correlated (common tokens dominate every
    doc), so chunk buckets skew; production systems decorrelate with
    tf-idf token weights before hashing.  The hamming filter runs
    inside the join stage, so the skewed candidate intermediates are
    filtered before any further shuffle, and AQE skew-join splitting
    handles the oversized buckets.
    """
    # the banded result is provably EQUAL to all-pairs hamming <= 3
    # (pigeonhole over the 4 chunks), and the md5-based fingerprint is
    # engine-portable — so the whole operator has an exact DuckDB twin
    # (simhash_near_dups_oracle) despite never going all-pairs itself
    return _hamming_block_pairs(simhash(documents), chunks, hamming_max)


def _hamming_block_pairs(
    fp: DataFrame, chunks: int = SIMHASH_CHUNKS, hamming_max: int = HAMMING_MAX
) -> DataFrame:
    """Chunk-block a (doc_id, simhash) frame and return all pairs with
    full-fingerprint hamming <= ``hamming_max`` — shared by the
    unweighted and idf-weighted SimHash variants."""
    chunk_bits = SIMHASH_BITS // chunks
    mask = (1 << chunk_bits) - 1
    chunk_arr = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), c * chunk_bits).bitwiseAND(F.lit(mask))
            for c in range(chunks)
        ]
    )
    banded = fp.select("doc_id", "simhash", F.posexplode(chunk_arr).alias("band_idx", "chunk"))
    return (
        bucket_pairs(banded, ["band_idx", "chunk"], ["doc_id", "simhash"])
        .select(
            F.col("a_doc_id").alias("doc_a"),
            F.col("b_doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a_simhash").bitwiseXOR(F.col("b_simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_max)
        .distinct()
    )


#: idf weights are quantized to integers (round(ln(N/df)*1000)) so the
#: per-bit vote sums are exact integer arithmetic — order-independent
#: and bit-identical across engines (double sums are neither)
IDF_SCALE = 1000


def simhash_weighted(documents: DataFrame) -> DataFrame:
    """Idf-weighted 60-bit SimHash — the production decorrelation of
    the unweighted variant's known skew (common tokens dominate every
    same-language doc, correlating fingerprint bits and fattening
    chunk buckets; Manku et al. weight by significance for this
    reason).

    Each distinct token votes ±idf_w on every bit instead of ±1, where
    ``idf_w = round(ln(n_docs/df) * 1000)`` — integer-quantized so the
    vote sums are exact (no float-order nondeterminism) and the DuckDB
    twin matches bit-for-bit.  A token in every doc gets weight 0:
    stopwords vanish from the fingerprint entirely.

    Scale shape: ONE corpus scan feeds the token explode, and df rides
    a token-partitioned window COUNT over the exploded frame itself —
    no df-table join-back, so the explode lineage executes once and
    the token key shuffles once (the join form re-ran the explode for
    the probe side and added the df-agg exchange; window form measured
    value-identical and ~10% faster at sf0.1).  The 60 bit-vote sums
    then ride ONE doc-keyed partial-agg shuffle.  The ln() ulp caveat:
    a weight flips only if 1000*ln(N/df) lands within an ulp of x.5,
    ~1e-12 probability per distinct token — negligible, and flagged
    here rather than hidden.
    """
    from functools import reduce
    from operator import add

    from pyspark.sql import Window

    toks = documents.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(normalize_text(F.col("text")), " "))
        ).alias("tok"),
    )
    total = documents.select(F.count(F.lit(1)).alias("n_docs"))
    wtok = Window.partitionBy("tok")
    voted = (
        toks.withColumn("df", F.count(F.lit(1)).over(wtok))
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            _md5_60(F.col("tok")).alias("th"),
            F.round(F.log(F.col("n_docs") / F.col("df")) * IDF_SCALE)
            .cast("long")
            .alias("w"),
        )
    )
    # vote-sum algebra: the signed sum s_b = Σ ±w rewrites as
    # 2·A_b − W with A_b = Σ w·bit_b and W = Σ w — branch-free codegen
    # (bit extract × weight, no per-bit CASE), and the 60 conditional
    # buffers collapse to 60 multiply-adds + ONE shared W sum.  Exact
    # integer arithmetic throughout, so fingerprints are bit-identical
    # to the ±w spelling (2× measured agg speedup at sf0.1).
    bits = [
        F.sum(
            F.shiftrightunsigned("th", b).bitwiseAND(F.lit(1)) * F.col("w")
        ).alias(f"a{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = voted.groupBy("doc_id").agg(F.sum("w").alias("tw"), *bits)
    fp = reduce(
        add,
        [
            F.when(F.col(f"a{b}") * 2 > F.col("tw"), F.lit(1 << b)).otherwise(
                F.lit(0)
            )
            for b in range(SIMHASH_BITS)
        ],
    )
    return agg.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_weighted_near_dups(
    documents: DataFrame,
    chunks: int = SIMHASH_CHUNKS,
    hamming_max: int = HAMMING_MAX,
) -> DataFrame:
    """Near-dup pairs over the idf-weighted fingerprint — same chunk
    blocking and exact-equality contract as :func:`simhash_near_dups`
    (the oracle recomputes weighted fingerprints and goes all-pairs)."""
    return _hamming_block_pairs(simhash_weighted(documents), chunks, hamming_max)


def _banded_pairs_tail_sql(hamming_max: int) -> str:
    """Shared oracle tail replicating the ENGINE's chunk banding + the
    BUCKET_CAP hot-bucket bound over an ``fp(doc_id, f)`` CTE.

    Until r9 the oracles closed with uncapped ALL-PAIRS hamming — a
    completeness proof of the pigeonhole banding, but only equal to
    the engine while the cap is slack (true at the sf0.01 gate; at
    sf0.1 the synthetic corpus has ~700-doc near-dup clusters and the
    cap binds: 3,699 members clipped, measured).  Modeling the cap
    makes the contract exact at ANY scale — the same choice
    ``dup_spans_oracle`` already makes — while pigeonhole completeness
    is pinned separately in pytest against brute force on a cap-slack
    corpus (tests/test_llm_ops.py).  Cap order matches bucket_pairs:
    the full payload tuple (doc_id, simhash)."""
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    mask = (1 << chunk_bits) - 1
    return f"""
banded AS (
    SELECT doc_id, f, b.b AS band_idx,
           (f >> (b.b * {chunk_bits})) & {mask} AS chunk
    FROM fp, unnest(range(0, {SIMHASH_CHUNKS})) AS b(b)
),
capped AS (
    SELECT band_idx, chunk, doc_id, f FROM (
        SELECT *, row_number() OVER (
            PARTITION BY band_idx, chunk ORDER BY doc_id, f) AS rn
        FROM banded
    ) WHERE rn <= {BUCKET_CAP}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.f, b.f))::INT AS hamming
FROM capped a JOIN capped b
  ON a.band_idx = b.band_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.f, b.f)) <= {hamming_max}
"""


def simhash_weighted_oracle(hamming_max: int = HAMMING_MAX) -> str:
    """DuckDB twin of :func:`simhash_weighted_near_dups`: identical
    integer idf weights, identical vote sums, all-pairs hamming."""
    return f"""
WITH norm AS (
    SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
    FROM documents
),
toks AS (
    SELECT DISTINCT doc_id, unnest(list_distinct(string_split(t, ' '))) AS tok
    FROM norm
),
df AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
n AS (SELECT count(*) AS nd FROM documents),
w AS (
    SELECT tok,
           CAST(round(ln(nd::DOUBLE / c) * {IDF_SCALE}) AS BIGINT) AS w
    FROM df, n
),
v AS (
    SELECT t.doc_id,
           ('0x' || substr(md5(t.tok), 1, 15))::BIGINT AS th,
           w.w
    FROM toks t JOIN w USING (tok)
),
votes AS (
    SELECT doc_id, b.b AS b,
           sum(CASE WHEN (th >> b.b) & 1 = 1 THEN w ELSE -w END) AS s
    FROM v, unnest(range(0, {SIMHASH_BITS})) AS b(b)
    GROUP BY 1, 2
),
fp AS (
    SELECT doc_id,
           sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS f
    FROM votes GROUP BY 1
),
{_banded_pairs_tail_sql(hamming_max)}
"""


def simhash_near_dups_oracle(hamming_max: int = HAMMING_MAX) -> str:
    """Exact DuckDB twin of :func:`simhash_near_dups`: recompute the
    60-bit md5-token SimHash per doc (same normalize → distinct tokens
    → ±1 bit votes → sign), then ALL-PAIRS ``bit_count(xor) <= h``.

    The engine never goes all-pairs — chunk blocking guarantees it
    finds exactly this set (pigeonhole) — so the oracle checks BOTH the
    fingerprint math and the completeness of the banding in one
    equality.  All-pairs is affordable oracle-side at sf0.01 (500
    docs = 125k pairs)."""
    return f"""
WITH norm AS (
    SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
    FROM documents
),
toks AS (
    SELECT doc_id, unnest(list_distinct(string_split(t, ' '))) AS tok FROM norm
),
h AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th FROM toks
),
votes AS (
    SELECT doc_id, b.b AS b,
           sum(CASE WHEN (th >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
    FROM h, unnest(range(0, 60)) AS b(b)
    GROUP BY 1, 2
),
fp AS (
    SELECT doc_id,
           sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS f
    FROM votes GROUP BY 1
),
{_banded_pairs_tail_sql(hamming_max)}
"""


def dedup_minhash_oracle(threshold: float = 0.7) -> str:
    """DuckDB twin of :func:`dedup_minhash`: exact all-pairs Jaccard
    over distinct normalized 5-gram shingles, thresholded.

    This is a strict precision AND recall check: the engine's emitted
    ``jaccard`` is already computed from the true shingle sets (banding
    only *generates candidates*), so precision is structural; equality
    with this oracle additionally proves the banding missed nothing.
    Banding recall is deterministic here — the permutation family is
    seeded, and every above-threshold pair in the test corpora has
    J >= 0.92, where a 16-band/8-row miss has probability ~2e-5 per
    pair (verified exact at sf0.001 and sf0.01).  All-pairs is
    oracle-side only; the engine never does it.

    Deliberate boundary: unlike the md5-keyed simhash/ngram/embedding
    oracles, this one CANNOT model the engine's ``BUCKET_CAP`` — the
    band keys are xxhash64 folds with no DuckDB twin — so it asserts
    the cap-slack regime.  The cap binds only when >256 docs share a
    band hash (post-exact-dedup, that means 257+ DISTINCT docs with
    identical 8-permutation minima — a corpus `bucket_truncation`
    flags loudly); at both gate scales the cap is measured slack."""
    return f"""
WITH norm AS (
    SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
    FROM documents
),
ex AS (
    SELECT DISTINCT doc_id, substr(t, i, 5) AS s
    FROM norm, unnest(range(1, greatest(len(t) - 4, 1) + 1)) AS u(i)
),
sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE i * 1.0 / (sa.n + sb.n - i) >= {threshold}
"""


# --------------------------------------------------------------------------
# n-gram Jaccard dedup (fingerprint-blocked, SQL-checkable)
# --------------------------------------------------------------------------


def _fingerprint_and_shingle_sets(
    documents: DataFrame, window: int = 16, n: int = 5
) -> DataFrame:
    """Per-doc (fingerprint, hashed 5-gram set) from ONE corpus scan.

    A single explode over shingle positions feeds both derivations:
    position ``i`` emits the ``window``-gram md5 (while in range — min
    ignores nulls) and the ``n``-gram xxhash64; one groupBy reduces to
    ``min(md5)`` (the winnowing fingerprint, identical to
    ``text.doc_fingerprint``) and ``collect_set(xxhash)`` (the compact
    Jaccard set).  At 100 TB that's one scan + one doc-keyed shuffle
    where separate fingerprint/shingle passes would cost two of each.
    """
    norm = normalize_text(F.col("text"))
    # NULL-text docs carry no shingles and must not pair: without this
    # filter two NULL docs share fingerprint NULL through groupBy
    # (which groups NULL keys) and sh [xxhash64-seed], pairing in the
    # ENGINE while every oracle's `a.f = b.f` equi-join drops NULL —
    # the r9 "latent with the current parquet" divergence class,
    # re-found by the r11 review (empty-string docs are consistent on
    # both sides and stay)
    spread = (
        documents.select("doc_id", norm.alias("norm"))
        .filter(F.col("norm").isNotNull())
        .repartition(
            documents.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
    )
    n_short = F.greatest(F.length("norm") - (n - 1), F.lit(1))
    n_long = F.greatest(F.length("norm") - (window - 1), F.lit(1))
    ex = spread.select(
        "doc_id",
        "norm",
        n_long.alias("n_long"),
        F.explode(F.sequence(F.lit(1), n_short)).alias("i"),
    )
    both = ex.select(
        "doc_id",
        F.when(
            F.col("i") <= F.col("n_long"),
            F.md5(F.col("norm").substr(F.col("i"), F.lit(window))),
        ).alias("mh"),
        F.xxhash64(F.col("norm").substr(F.col("i"), F.lit(n))).alias("xx"),
    )
    return both.groupBy("doc_id").agg(
        F.min("mh").alias("fingerprint"),
        F.collect_set("xx").alias("sh"),
    )


def ngram_jaccard_dedup(
    documents: DataFrame,
    threshold: float = 0.3,
    base: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard, blocked on the document
    fingerprint.

    Blocking key = the winnowing fingerprint (min 16-gram hash) — a
    1-permutation MinHash band, so near-identical docs collide with
    high probability while the expected block size stays ~1.  Exact
    5-gram Jaccard verifies each candidate.  Unlike the MinHash path
    this is fully SQL-expressible, giving the family an oracle-checked
    member.

    Cost shape (mirrors :func:`dedup_minhash`): fingerprints and
    shingle sets come from one persisted single-scan frame; candidates
    route through :func:`bucket_pairs` on the fingerprint (uniform md5
    strings, no skew, no self-join re-execution); the verify joins
    read the same cached frame.  Exactly ONE scan of the corpus —
    pinned by ``tests/test_plans.py``.
    """
    # ``base=``: a caller composing SEVERAL pair pipelines over
    # overlapping document sets (dup_keep_audit: full corpus + gate
    # survivors) passes ONE checkpointed `_fingerprint_and_shingle_sets`
    # frame, pre-restricted to exactly `documents`'s rows — per-doc
    # fingerprints/shingles are corpus-independent and the BUCKET_CAP
    # applies after the restriction, so the pairs are identical to
    # recomputing from scratch while the text explode+hash pass (the
    # family's dominant cost) runs once instead of per composition
    # (r14 opt, guide §1.2 distributed-algorithm first).
    if base is None:
        # localCheckpoint (not persist) — same leak-class reasoning as
        # dedup_minhash: no caller-side unpersist exists, so cache pins
        # would accumulate across calls; checkpoint blocks are reclaimed
        base = _fingerprint_and_shingle_sets(documents).localCheckpoint(
            eager=True
        )
    pairs = (
        bucket_pairs(base.select("doc_id", "fingerprint"), ["fingerprint"], ["doc_id"])
        .select(F.col("a_doc_id").alias("doc_a"), F.col("b_doc_id").alias("doc_b"))
    )
    a = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .select("doc_a", "doc_b", "jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


def _capped_shingle_cte(src: str = "documents", window: int = 16, n: int = 5) -> str:
    """The shared oracle CTE block for the fingerprint-blocked shingle
    family — normalize, winnowing fingerprint, distinct n-gram set,
    per-bucket BUCKET_CAP (the `_banded_pairs_tail_sql` convention).
    ONE definition serves `ngram_jaccard_oracle` AND
    `containment_dedup_oracle`, so a future blocking change cannot
    silently de-sync one driver contract from the other."""
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""d AS (
    SELECT doc_id, {norm} AS norm FROM {src}
),
fp AS (
    SELECT doc_id, norm,
           list_min([md5(substr(norm, CAST(i AS INTEGER), {window}))
                     for i in range(1, greatest(length(norm) - {window - 1}, 1) + 1)]) AS f
    FROM d
),
sh AS (
    SELECT doc_id, f,
           list_distinct([substr(norm, CAST(i AS INTEGER), {n})
                          for i in range(1, greatest(length(norm) - {n - 1}, 1) + 1)]) AS s
    FROM fp
),
capped AS (
    SELECT doc_id, f, s FROM (
        SELECT *, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
        FROM sh
    ) WHERE rn <= {BUCKET_CAP}
)"""


def ngram_jaccard_oracle(
    threshold: float = 0.3, window: int = 16, n: int = 5, src: str = "documents"
) -> str:
    """DuckDB twin of :func:`ngram_jaccard_dedup`, modeling the
    engine's :data:`BUCKET_CAP` hot-bucket bound (the
    `_banded_pairs_tail_sql` convention): per fingerprint bucket, only
    the first ``cap`` docs by doc_id enter pair expansion, so the
    contract stays exact even on a corpus where the cap binds.
    Pigeonhole/recall completeness is pinned separately in pytest on a
    cap-slack corpus."""
    return f"""
WITH {_capped_shingle_cte(src, window, n)},
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.s, b.s)) AS inter,
           len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS uni
    FROM capped a JOIN capped b ON a.f = b.f AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM (
    SELECT doc_a, doc_b, round(inter * 1.0 / uni, 6) AS jaccard FROM pairs
) WHERE jaccard >= {threshold}
"""


#: minimum shingle-containment for a doc to count as contained in another
CONTAINMENT_THRESHOLD = 0.8


def containment_dedup(
    documents: DataFrame, threshold: float = CONTAINMENT_THRESHOLD
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    ``|A∩B| / |A|`` — the direction Jaccard is blind to.  A short doc
    quoted or embedded verbatim inside a much longer page has Jaccard
    ≈ |A|/|B| (arbitrarily small) but containment ≈ 1; dedup policies
    that only look at symmetric similarity keep both copies and leak
    the contained text twice into training (Broder's resemblance-vs-
    containment distinction — the classic web-dedup pairing).

    One row per directed containment: ``(contained_doc,
    container_doc, containment ≥ threshold)`` — byte-identical dups
    appear in both directions (containment 1.0 each way), which is the
    honest reading.  Cost shape is :func:`ngram_jaccard_dedup`'s
    verbatim: ONE corpus scan into the checkpointed fingerprint+
    shingle frame, candidates through the capped ``bucket_pairs``
    blocking, verify joins on the same frame; the oracle mirrors the
    identical blocking (the SHARED :func:`_capped_shingle_cte`), so
    the driver contract is exact.  Blocking recall note: the winnowing
    fingerprint is the min gram over the WHOLE doc, so a containing
    pair collides when the container's global minimum gram falls
    inside the contained region — near-1 for substantial containment,
    the regime the threshold targets (precision vs an unblocked
    quadratic pass pinned in pytest).
    """
    base = _fingerprint_and_shingle_sets(documents).localCheckpoint(eager=True)
    pairs = bucket_pairs(
        base.select("doc_id", "fingerprint"), ["fingerprint"], ["doc_id"]
    ).select(F.col("a_doc_id").alias("doc_a"), F.col("b_doc_id").alias("doc_b"))
    a = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    scored = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # floor-form rounding (derived.floor_round): F.round and
            # DuckDB round disagree on decimal midpoints, and c_ab/c_ba
            # GATE row membership at `threshold` — the SURVEY §6
            # convention for division-derived gating values
            floor_round(inter / F.size("sh_a"), 6).alias("c_ab"),
            floor_round(inter / F.size("sh_b"), 6).alias("c_ba"),
        )
        # scored once, filtered twice — pair generation never re-runs
        .localCheckpoint(eager=True)
    )
    fwd = scored.filter(F.col("c_ab") >= threshold).select(
        F.col("doc_a").alias("contained_doc"),
        F.col("doc_b").alias("container_doc"),
        F.col("c_ab").alias("containment"),
    )
    rev = scored.filter(F.col("c_ba") >= threshold).select(
        F.col("doc_b").alias("contained_doc"),
        F.col("doc_a").alias("container_doc"),
        F.col("c_ba").alias("containment"),
    )
    return fwd.unionByName(rev)


def containment_dedup_oracle(
    threshold: float = CONTAINMENT_THRESHOLD, src: str = "documents"
) -> str:
    """DuckDB twin — the SHARED :func:`_capped_shingle_cte` blocking
    with the directional containment formula and both orientations
    emitted.  No window/n overrides: the engine side hard-codes the
    family defaults, so the oracle must too."""
    return f"""
WITH {_capped_shingle_cte(src)},
scored AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           floor((len(list_intersect(a.s, b.s)) * 1.0 / len(a.s)) * 1000000.0 + 0.5)
               / 1000000.0 AS c_ab,
           floor((len(list_intersect(a.s, b.s)) * 1.0 / len(b.s)) * 1000000.0 + 0.5)
               / 1000000.0 AS c_ba
    FROM capped a JOIN capped b ON a.f = b.f AND a.doc_id < b.doc_id
)
SELECT doc_a AS contained_doc, doc_b AS container_doc, c_ab AS containment
FROM scored WHERE c_ab >= {threshold}
UNION ALL
SELECT doc_b, doc_a, c_ba FROM scored WHERE c_ba >= {threshold}
"""


# --------------------------------------------------------------------------
# incremental dedup: new batch vs a persisted corpus index
# --------------------------------------------------------------------------

def build_dedup_index(
    documents: DataFrame, index_dir: str, fp_cap: int = BUCKET_CAP
) -> str:
    """Materialize the corpus dedup index as TWO tables — everything an
    incoming batch needs to dedup AGAINST the corpus without
    rescanning it (one corpus scan at build; the 100 TB ingestion loop
    then touches only each day's increment):

    - ``hashes/``: (doc_id, content_hash), FULL — exact dedup must see
      every doc;
    - ``fingerprints/``: (doc_id, fingerprint, sh), CAPPED at
      ``fp_cap`` members per fingerprint (deterministic lowest
      doc_ids).  Without the cap a boilerplate fingerprint hot on both
      sides turns the probe equi-join into |batch|×|bucket| row
      explosion — the same pathology :func:`bucket_pairs` caps, capped
      HERE at build time so every probe reads the bounded table for
      free.  Beyond-cap members can only cost near-dup recall on
      pathological corpora (exact dedup is unaffected — it reads
      ``hashes/``), the trade :data:`BUCKET_CAP` already documents.
    """
    base = _fingerprint_and_shingle_sets(documents)
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    (
        base.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= fp_cap)
        .drop("__rn")
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "fingerprints"))
    )
    documents.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("content_hash")
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "hashes"))
    return index_dir


def extend_dedup_index(
    spark, index_dir: str, new_docs: DataFrame, fp_cap: int = BUCKET_CAP
) -> str:
    """FAISS-``add`` for the dedup index (the :func:`..similarity.
    extend_ivf_index` posture): append the increment WITHOUT touching
    what is already indexed.  Hash rows append unconditionally;
    fingerprint rows fill only the per-fingerprint budget the existing
    posting lists leave under ``fp_cap``.  Because production ids are
    monotone (new docs get new ids), the capped union is EXACTLY what
    a from-scratch :func:`build_dedup_index` over the full corpus
    keeps — extend == rebuild, file-content-identical (pytest-pinned,
    and the `dedup_index_incremental` driver key rides a full-corpus
    oracle that assumes it).

    Cost is O(increment): the existing index is only read for the
    per-fingerprint COUNTS of the fingerprints the increment actually
    touches (semi-join pruned, increment-cardinality output) — posting
    lists are never rewritten, shingle sets never recomputed.

    Failure/retry contract (ADVICE r11): both increments are computed
    into a STAGING dir first (the live index is only read during that
    phase), then committed by moving part files into the live tables —
    so a failed Spark job leaves the index untouched and is safely
    retryable.  The staging dir is ``_stage_<tag>`` inside
    ``index_dir`` (readers never list ``_``-prefixed paths), so the
    commit is directory-local renames on one filesystem; only a crash
    INSIDE that window (machine-level, not job-level) can leave a
    half-applied extend, in which case rebuild from source — do NOT
    re-run extend, appends are not idempotent."""
    import glob as _glob
    import shutil
    import uuid

    base = _fingerprint_and_shingle_sets(new_docs)
    idx_fp = spark.read.parquet(os.path.join(index_dir, "fingerprints"))
    touched = base.select("fingerprint").distinct()
    existing = (
        idx_fp.join(F.broadcast(touched), "fingerprint", "left_semi")
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("__have"))
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    # one uuid tags the whole extend so a forensic read can attribute
    # rows to the operation
    tag = uuid.uuid4().hex
    stage = os.path.join(index_dir, f"_stage_{tag}")
    (
        base.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(existing), "fingerprint", "left")
        .filter(F.col("__rn") + F.coalesce(F.col("__have"), F.lit(0)) <= fp_cap)
        .drop("__rn", "__have")
        .select("doc_id", "fingerprint", "sh")
        .write.mode("overwrite")
        .parquet(os.path.join(stage, "fingerprints"))
    )
    (
        new_docs.select(
            "doc_id", F.md5(normalize_text(F.col("text"))).alias("content_hash")
        )
        .write.mode("overwrite")
        .parquet(os.path.join(stage, "hashes"))
    )
    # commit: rename staged part files into the live tables (parquet
    # readers take any non-underscore file)
    for sub in ("fingerprints", "hashes"):
        parts = sorted(_glob.glob(os.path.join(stage, sub, "*.parquet")))
        for i, p in enumerate(parts):
            os.replace(
                p, os.path.join(index_dir, sub, f"part-ext-{tag}-{i:05d}.parquet")
            )
    shutil.rmtree(stage, ignore_errors=True)
    return index_dir


def incremental_dedup_against(
    spark, index_dir: str, incoming: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """Dedup an incoming batch against the persisted index AND within
    itself, without recomputing anything for the existing corpus.

    Semantics: every indexed doc counts as "earlier" than every
    incoming doc (it was ingested first, regardless of id); within the
    batch, lower doc_id is earlier.  Per incoming doc:

    - ``exact_dup_of``: the earliest earlier doc with the same
      normalized content hash (NULL if first);
    - ``near_dup_of``: the earliest earlier doc with 5-gram Jaccard ≥
      ``threshold`` (fingerprint-blocked candidates, exact verify —
      the same recall contract as :func:`ngram_jaccard_dedup`);
    - ``is_new``: both NULL — the rows the corpus actually ingests.

    Cost: ONE scan of the incoming batch (shared shingle frame),
    fingerprint-keyed equi-join against the index (never index×index),
    plus the in-batch bucket-pair expansion.  The index side reads only
    (fingerprint, sh, content_hash) columns.
    """
    from pyspark.sql import Window

    idx_fp = spark.read.parquet(os.path.join(index_dir, "fingerprints"))
    idx_hash = spark.read.parquet(os.path.join(index_dir, "hashes"))
    # localCheckpoint (not persist): the batch's shingle frame is
    # shared by four subtrees, but cacheManager-pinned blocks would
    # outlive every call (the ADVICE-r5 leak class); checkpoint blocks
    # are released by the ContextCleaner once the result frame is
    # dropped
    inc_base = _fingerprint_and_shingle_sets(incoming).localCheckpoint(eager=True)
    inc_hash = incoming.select(
        "doc_id", F.md5(normalize_text(F.col("text"))).alias("content_hash")
    )
    # ---- exact: earliest indexed doc per hash, or earlier in-batch doc.
    # The index's hash table is CORPUS-cardinality — never broadcast it.
    # Instead the tiny batch key set broadcasts INTO a semi-join that
    # prunes the corpus side map-side; the surviving ≤|batch| rows are
    # then legitimately broadcastable back onto the batch.
    needed = inc_hash.select("content_hash").distinct()
    min_even = (
        idx_hash.join(F.broadcast(needed), "content_hash", "left_semi")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("min_indexed"))
    )
    w_prev = (
        Window.partitionBy("content_hash")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    exact = (
        inc_hash.withColumn("prev_batch", F.min("doc_id").over(w_prev))
        .join(F.broadcast(min_even), "content_hash", "left")
        .select(
            "doc_id",
            # least() ignores NULLs, so either source alone wins
            F.least("min_indexed", "prev_batch").alias("exact_dup_of"),
        )
    )
    # ---- near: batch×index equi-join on the blocking fingerprint
    inter = F.size(F.array_intersect("sh_i", "sh_j"))
    union = F.size("sh_i") + F.size("sh_j") - inter
    jac = F.round(inter / union, 6)
    # same pruning discipline on the posting lists: only cells the
    # batch actually probes leave the index scan
    inc_fps = inc_base.select("fingerprint").distinct()
    idx_fp_pruned = idx_fp.join(F.broadcast(inc_fps), "fingerprint", "left_semi")
    cand_idx = (
        inc_base.select("fingerprint", F.col("doc_id").alias("i"), F.col("sh").alias("sh_i"))
        .join(
            idx_fp_pruned.select(
                "fingerprint", F.col("doc_id").alias("j"), F.col("sh").alias("sh_j")
            ),
            "fingerprint",
        )
        .filter(jac >= threshold)
        .select("i", "j")
    )
    # ---- near: within-batch (a < b ⇒ b is the later doc)
    p2 = bucket_pairs(
        inc_base.select("doc_id", "fingerprint"), ["fingerprint"], ["doc_id"]
    )
    sh_a = inc_base.select(F.col("doc_id").alias("a_doc_id"), F.col("sh").alias("sh_i"))
    sh_b = inc_base.select(F.col("doc_id").alias("b_doc_id"), F.col("sh").alias("sh_j"))
    cand_batch = (
        p2.join(sh_b, "b_doc_id")
        .join(sh_a, "a_doc_id")
        .filter(jac >= threshold)
        .select(F.col("b_doc_id").alias("i"), F.col("a_doc_id").alias("j"))
    )
    near = (
        cand_idx.unionByName(cand_batch)
        .groupBy("i")
        .agg(F.min("j").alias("near_dup_of"))
        .withColumnRenamed("i", "doc_id")
    )
    return (
        exact.join(near, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup_of",
            "near_dup_of",
            (
                F.col("exact_dup_of").isNull() & F.col("near_dup_of").isNull()
            ).alias("is_new"),
        )
    )


def incremental_dedup(spark, sf_dir: str, threshold: float = 0.3) -> DataFrame:
    """Driver-checkable instantiation: even doc_ids are the indexed
    corpus, odd doc_ids the incoming batch."""
    docs = load_table(spark, sf_dir, "documents")
    index_dir = scratch_cache(
        "dedupidx",
        os.path.join(sf_dir, "documents.parquet"),
        lambda d: build_dedup_index(docs.filter(F.col("doc_id") % 2 == 0), d),
    )
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_dedup_against(spark, index_dir, incoming, threshold)


def dedup_index_incremental(spark, sf_dir: str, threshold: float = 0.3) -> DataFrame:
    """Driver-checkable build-then-extend == rebuild, probed by a
    later batch: the index builds on ``doc_id <= H`` (H = max id / 2
    — yesterday's corpus), the even ids above H arrive later as the
    :func:`extend_dedup_index` increment (today's accepted docs), and
    the odd ids above H are the incoming batch deduped against the
    EXTENDED index.  Because increment ids all exceed the build's, the
    extended index is content-identical to a from-scratch build over
    the full indexed set (pinned in pytest), so the probe rides a
    full-corpus oracle — one SQL relation certifies the extend path
    AND the probe in a single driver row (the `extend_ivf_index` /
    text-index extend==rebuild precedent)."""
    docs = load_table(spark, sf_dir, "documents")
    # one bounded 1-row agg for the split point (an empty corpus yields
    # None — split at 0, everything lands in the batch)
    half = (docs.agg(F.max("doc_id")).first()[0] or 0) // 2

    def build(d: str) -> None:
        build_dedup_index(docs.filter(F.col("doc_id") <= half), d)
        extend_dedup_index(
            spark,
            d,
            docs.filter((F.col("doc_id") > half) & (F.col("doc_id") % 2 == 0)),
        )

    index_dir = scratch_cache(
        "dedupext", os.path.join(sf_dir, "documents.parquet"), build
    )
    incoming = docs.filter((F.col("doc_id") > half) & (F.col("doc_id") % 2 == 1))
    return incremental_dedup_against(spark, index_dir, incoming, threshold)


def dedup_index_incremental_oracle(threshold: float = 0.3) -> str:
    """Full-corpus twin of :func:`dedup_index_incremental`: indexed =
    build slice ∪ extend increment (valid BECAUSE extend == rebuild);
    batch = the odd tail.  H is a scalar subquery so one SQL string
    serves every scale factor."""
    h = "(SELECT max(doc_id) // 2 FROM documents)"
    return incremental_dedup_oracle(
        threshold,
        indexed_pred=f"(doc_id <= {h} OR doc_id % 2 = 0)",
        batch_pred=f"(doc_id > {h} AND doc_id % 2 = 1)",
    )


def incremental_dedup_oracle(
    threshold: float = 0.3,
    window: int = 16,
    n: int = 5,
    cap: int = BUCKET_CAP,
    indexed_pred: str = "doc_id % 2 = 0",
    batch_pred: str = "doc_id % 2 = 1",
) -> str:
    """Twin restricted to (incoming i, earlier j): j indexed (even —
    always earlier) or j in-batch with j < i.  Candidates mirror the
    engine's fingerprint blocking (the family contract, same as
    :func:`ngram_jaccard_oracle`): equal winnowing fingerprint, then
    exact 5-gram Jaccard ≥ threshold.

    The engine's hot-bucket caps are mirrored too (ADVICE r6): the
    index posting list keeps only the ``cap`` lowest even doc_ids per
    fingerprint (:func:`build_dedup_index`'s ``fp_cap``), and in-batch
    pairs form only among the first ``cap`` odd docs per fingerprint
    (:func:`bucket_pairs`) — so engine and oracle share the same
    recall contract on corpora with a fingerprint hotter than the cap,
    instead of the oracle reporting near-dups the engine deliberately
    clips.
    """
    big = 9223372036854775807
    return f"""
WITH norm AS (
    SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
    FROM documents
),
hash AS (SELECT doc_id, md5(t) AS ch FROM norm),
min_even AS (
    SELECT ch, min(doc_id) AS min_indexed FROM hash WHERE {indexed_pred} GROUP BY 1
),
prev_odd AS (
    SELECT doc_id, ch,
           min(doc_id) OVER (
               PARTITION BY ch ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_batch
    FROM hash WHERE {batch_pred}
),
fps AS (
    SELECT doc_id,
           list_min([md5(substr(t, CAST(i AS INTEGER), {window}))
                     for i in range(1, greatest(length(t) - {window - 1}, 1) + 1)]) AS f,
           list_distinct([substr(t, CAST(i AS INTEGER), {n})
                          for i in range(1, greatest(length(t) - {n - 1}, 1) + 1)]) AS s
    FROM norm
),
evens AS (
    SELECT doc_id, f, s FROM fps WHERE {indexed_pred}
    QUALIFY row_number() OVER (PARTITION BY f ORDER BY doc_id) <= {cap}
),
odds AS (
    SELECT doc_id, f, s,
           row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
    FROM fps WHERE {batch_pred}
),
near AS (
    SELECT i AS doc_id, min(j) AS near_dup_of FROM (
        SELECT a.doc_id AS i, b.doc_id AS j,
               round(len(list_intersect(a.s, b.s)) * 1.0
                     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
                   AS jaccard
        FROM odds a JOIN evens b ON a.f = b.f
        UNION ALL
        SELECT a.doc_id AS i, b.doc_id AS j,
               round(len(list_intersect(a.s, b.s)) * 1.0
                     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6)
                   AS jaccard
        FROM odds a JOIN odds b ON a.f = b.f
        WHERE b.doc_id < a.doc_id AND a.rn <= {cap} AND b.rn <= {cap}
    ) WHERE jaccard >= {threshold}
    GROUP BY 1
)
SELECT p.doc_id,
       NULLIF(least(coalesce(m.min_indexed, {big}),
                    coalesce(p.prev_batch, {big})), {big}) AS exact_dup_of,
       nr.near_dup_of,
       (m.min_indexed IS NULL AND p.prev_batch IS NULL
        AND nr.near_dup_of IS NULL) AS is_new
FROM prev_odd p
LEFT JOIN min_even m USING (ch)
LEFT JOIN near nr USING (doc_id)
"""


#: rolling-hash base (odd => invertible mod 2^64) and its inverse
_RH_P = 1099511628211
_RH_PINV = pow(_RH_P, -1, 1 << 64)


def _rolling_gram_hashes_udf(n: int):
    """Arrow-batched O(len) polynomial gram hashes per doc.

    The r7 form hashed every stride-1 gram as
    ``xxhash64(substr(norm, i, n))`` — pure codegen, but it allocates
    one n-char UTF8String per position, and the quiet-window A/B
    measured that allocation at ~90% of decontaminate's wall (2.05 s
    of 2.3 s at sf0.1, 2.13x the DuckDB baseline).  This replaces it
    with the prefix-sum rolling hash over the doc's CODEPOINT array
    (utf-32-le reinterpret -> uint32, so semantics stay per-CHAR, not
    per-byte): with p_j = P^-j mod 2^64 and T the wrapping cumsum of
    b[j]*p_j, every window hash is (T[i+n]-T[i])*P^{i+n-1} — three
    vector ops per doc, ~3x the codegen form's throughput (0.68 s for
    the same frame).  uint64 wraparound IS the mod-2^64 arithmetic.

    Hashes only ever stand in for gram strings as join keys (both
    sides use THIS function), so the collision contract is unchanged
    from the xxhash64 form and the string-joining oracle still
    verifies the result.  (Built per call: pandas_udf return-type
    parsing needs an active SparkSession.)
    """
    from pyspark.sql.functions import pandas_udf

    def make_pows(length):
        pw = np.empty(length, dtype=np.uint64)
        piv = np.empty(length, dtype=np.uint64)
        pw[0] = piv[0] = 1
        for i in range(1, length):
            pw[i] = pw[i - 1] * np.uint64(_RH_P)
            piv[i] = piv[i - 1] * np.uint64(_RH_PINV)
        return pw, piv

    state = {"pw": None, "piv": None, "cap": 0}

    def pows(need):
        if need > state["cap"]:
            cap = max(4096, 1 << (need - 1).bit_length())
            state["pw"], state["piv"] = make_pows(cap)
            state["cap"] = cap
        return state["pw"], state["piv"]

    @pandas_udf("array<long>")
    def gram_hashes(norm: pd.Series) -> pd.Series:
        out = []
        for s in norm:
            if s is None:
                # null text: no grams (the replaced substr+xxhash64
                # codegen form was null-safe — a null norm emitted
                # zero rows — so a null cell must not kill the job)
                out.append(np.empty(0, dtype=np.int64))
                continue
            b = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
                np.uint64
            )
            length = len(b)
            pw, piv = pows(length + n)
            if length >= n:
                t = np.zeros(length + 1, dtype=np.uint64)
                np.cumsum(b * piv[:length], dtype=np.uint64, out=t[1:])
                m = length - n + 1
                h = (t[n:] - t[:m]) * pw[n - 1 : length]
            elif length:
                # short doc: one gram over all chars (the substr-clamp
                # semantics of the codegen form)
                h = np.array(
                    [(b * pw[length - 1 :: -1]).sum(dtype=np.uint64)],
                    dtype=np.uint64,
                )
            else:
                h = np.zeros(1, dtype=np.uint64)  # empty doc: one "" gram
            out.append(h.astype(np.int64))
        return pd.Series(out)

    return gram_hashes


# --------------------------------------------------------------------------
# exact-substring span dedup (Lee et al. 2022 style)
# --------------------------------------------------------------------------

#: span shingle width (chars of normalized text)
SPAN_W = 24
#: minimum reported span length
SPAN_MIN = 40
#: per-gram occurrence cap (boilerplate suppression)
SPAN_GRAM_CAP = 8


def dup_spans(
    documents: DataFrame,
    w: int = SPAN_W,
    min_len: int = SPAN_MIN,
    cap: int = SPAN_GRAM_CAP,
) -> DataFrame:
    """Cross-document EXACT substring overlaps ≥ ``min_len`` chars —
    the span-level dedup of "Deduplicating Training Data Makes
    Language Models Better" (Lee et al. 2022): whole-doc dedup misses
    a boilerplate header or a quoted paragraph shared between
    otherwise-different docs, and those repeated spans are what LLMs
    memorize.  Per (doc_i < doc_j) pair, the LONGEST shared span with
    its start offsets (1-based, in normalized text).

    Spark-first shape (a suffix array is a single-machine index; this
    is the distributed equivalent):

    - stride-1 ``w``-char gram hashes per doc — O(total chars) skinny
      rows, the same explode cost class as ``decontaminate`` /
      ``doc_fingerprint``;
    - ONE gram-keyed shuffle (:func:`bucket_pairs`) caps each bucket
      at the ``cap`` lowest (doc_id, pos) occurrences and expands
      cross-doc occurrence pairs locally — pairs are bounded at
      ``cap²`` per gram, and dropped occurrences can only cost recall
      on grams hotter than the cap, which are boilerplate by
      definition (Lee et al. likewise drop ubiquitous grams);
    - matched positions merge into maximal runs via the
      gaps-and-islands trick per (pair, diagonal): consecutive pos_i
      minus row_number is constant within a run, so one window + one
      aggregate recovers every maximal span of length run + w - 1.

    Matching is on xxhash64 of the gram (8-byte join keys); the oracle
    joins the gram STRINGS — equal modulo hash collisions, the
    documented contract of the whole Jaccard/minhash family here.
    """
    norm = normalize_text(F.col("text"))
    # repartition BEFORE the ~(len-w)x generate stage (the
    # exploded_shingles rule — full-cluster fan-out for the explode)
    base = (
        documents.select("doc_id", norm.alias("norm"))
        .filter(F.length("norm") >= w)
        .repartition(
            documents.sparkSession.sparkContext.defaultParallelism, "doc_id"
        )
    )
    # O(len) rolling gram hashes (the decontaminate optimization — the
    # substr+xxhash64 codegen form spends ~90% of its wall allocating
    # one w-char UTF8String per position); posexplode recovers the
    # 1-based positions the island merge needs
    grams = base.select(
        "doc_id",
        F.posexplode(_rolling_gram_hashes_udf(w)(F.col("norm"))).alias(
            "pos0", "g"
        ),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    # ONE gram-keyed shuffle does cap + pair expansion: bucket_pairs
    # caps each gram bucket at the `cap` lowest (doc_id, pos)
    # occurrences inside the same partitioning its collect_list uses,
    # then expands cross-doc occurrence pairs locally — replacing the
    # first-cut self-join, which shuffled the O(total chars) frame two
    # extra times and needed a localCheckpoint to stop the explode
    # re-running per join branch
    matches = bucket_pairs(grams, ["g"], ["doc_id", "pos"], cap).select(
        F.col("a_doc_id").alias("doc_i"),
        F.col("b_doc_id").alias("doc_j"),
        F.col("a_pos").alias("pos_i"),
        F.col("b_pos").alias("pos_j"),
    )
    wrun = Window.partitionBy(
        "doc_i", "doc_j", F.col("pos_i") - F.col("pos_j")
    ).orderBy("pos_i")
    runs = (
        matches.withColumn(
            "diag", F.col("pos_i") - F.col("pos_j")
        )
        .withColumn("grp", F.col("pos_i") - F.row_number().over(wrun))
        .groupBy("doc_i", "doc_j", "diag", "grp")
        .agg(
            F.min("pos_i").alias("start_i"),
            F.min("pos_j").alias("start_j"),
            (F.count(F.lit(1)) + (w - 1)).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
    )
    wbest = Window.partitionBy("doc_i", "doc_j").orderBy(
        F.col("span_len").desc(), "start_i", "start_j"
    )
    return (
        runs.withColumn("__rk", F.row_number().over(wbest))
        .filter(F.col("__rk") == 1)
        .select(
            "doc_i",
            "doc_j",
            # sequence() positions are int32; the relation contract is
            # BIGINT offsets like every other id/offset column here
            F.col("start_i").cast("long").alias("start_i"),
            F.col("start_j").cast("long").alias("start_j"),
            F.col("span_len").cast("long").alias("span_len"),
        )
    )


def dup_spans_oracle(
    w: int = SPAN_W, min_len: int = SPAN_MIN, cap: int = SPAN_GRAM_CAP
) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH d AS (
    SELECT doc_id, {norm} AS nrm FROM documents
    WHERE length({norm}) >= {w}
),
grams AS (
    SELECT doc_id, i AS pos, substr(nrm, CAST(i AS INTEGER), {w}) AS gs
    FROM (SELECT doc_id, nrm,
                 unnest(generate_series(1, length(nrm) - {w - 1})) AS i
          FROM d)
),
capped AS (
    SELECT doc_id, pos, gs FROM (
        SELECT doc_id, pos, gs,
               row_number() OVER (PARTITION BY gs ORDER BY doc_id, pos) AS rn
        FROM grams
    ) WHERE rn <= {cap}
),
m AS (
    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
           a.pos AS pos_i, b.pos AS pos_j
    FROM capped a JOIN capped b ON a.gs = b.gs AND a.doc_id < b.doc_id
),
runs AS (
    SELECT doc_i, doc_j, pos_i - pos_j AS diag, pos_i, pos_j,
           pos_i - row_number() OVER (
               PARTITION BY doc_i, doc_j, pos_i - pos_j ORDER BY pos_i
           ) AS grp
    FROM m
),
spans AS (
    SELECT doc_i, doc_j,
           CAST(min(pos_i) AS BIGINT) AS start_i,
           CAST(min(pos_j) AS BIGINT) AS start_j,
           CAST(count(*) + {w - 1} AS BIGINT) AS span_len
    FROM runs GROUP BY doc_i, doc_j, diag, grp
    HAVING count(*) + {w - 1} >= {min_len}
)
SELECT doc_i, doc_j, start_i, start_j, span_len FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_i, doc_j
        ORDER BY span_len DESC, start_i, start_j
    ) AS rk FROM spans
) WHERE rk = 1
"""


# --------------------------------------------------------------------------
# paragraph-grain dedup rewrite (C4 repeated-paragraph drop)
# --------------------------------------------------------------------------

#: words per paragraph-analog chunk.  The corpus has no newline/sentence
#: delimiters, so the C4 "three-sentence span" grain maps to fixed
#: word-windows; production text swaps the chunker for a
#: split-on-blank-line (same downstream plan).
PARA_CHUNK_WORDS = 10


def paragraph_dedup(
    documents: DataFrame,
    chunk_words: int = PARA_CHUNK_WORDS,
    dedup_via_agg: bool = False,
    key_by_hash: bool = False,
) -> DataFrame:
    """The C4 §2.2 repeated-paragraph DROP, as a REWRITE (VERDICT r11
    #9b): every document's text re-emitted with corpus-duplicated
    chunks removed — the first occurrence (lowest (doc_id, idx))
    survives, later occurrences are cut out of their documents.  This
    is the step past `dup_spans` (which only REPORTS cross-doc spans):
    the output is a drop-in cleaned ``text`` column.

    Shape — exactly the C4 MapReduce job: one scan explodes docs into
    (chunk, doc, idx) rows (map-only arithmetic chunking of the
    normalized word array); ONE shuffle keyed by chunk text ranks
    occurrences (row_number, no all-pairs); one doc-keyed shuffle
    reassembles kept chunks in order.  Docs whose normalized text is
    empty emit no row (the `decontaminate` convention); NULL text
    likewise.

    A boilerplate chunk repeated across millions of documents is a
    VIRAL key, and AQE cannot split a skewed WINDOW partition (it
    splits skewed joins only) — the row_number form's 100 TB failure
    mode is a single-task straggler.  ``dedup_via_agg=True`` computes
    the winner as ``min(struct(doc_id, idx))`` per chunk instead:
    partial aggregation collapses the hot chunk map-side and the join
    back is AQE-skew-splittable (the `url_canonicalize` A/B,
    BASELINE.md r13; row-identical, equality pytest-pinned — struct
    ordering is lexicographic (doc_id, idx), exactly the window's
    sort).  A production corpus run should use the agg path; add
    ``key_by_hash=True`` to key BOTH the winner agg and the join back
    by ``md5(chunk)`` instead of the raw chunk text (the C4 hash-dedup
    posture): shuffle rows then carry a fixed 32-byte key instead of
    the full chunk string, which matters when chunks are paragraphs.
    Results are identical up to md5 collisions (~2^-64 per pair);
    equality pytest-pinned against both other paths.
    """
    chunks = para_chunk_rows(documents, chunk_words)
    if dedup_via_agg:
        # key_by_hash: the winner shuffle + join back ride a fixed
        # 32-byte md5 instead of the raw chunk text — the chunk string
        # itself never crosses the winner exchange
        key = "__ck" if key_by_hash else "chunk"
        if key_by_hash:
            chunks = chunks.withColumn("__ck", F.md5("chunk"))
        winners = chunks.groupBy(key).agg(
            F.min(F.struct("doc_id", "idx")).alias("__w")
        )
        ranked = chunks.join(winners, key).withColumn(
            "__keep",
            (F.col("doc_id") == F.col("__w.doc_id"))
            & (F.col("idx") == F.col("__w.idx")),
        )
    else:
        w = Window.partitionBy("chunk").orderBy("doc_id", "idx")
        ranked = chunks.withColumn("__keep", F.row_number().over(w) == 1)
    return para_reassemble(ranked)


def para_chunk_rows(
    documents: DataFrame, chunk_words: int = PARA_CHUNK_WORDS
) -> DataFrame:
    """Map-only arithmetic chunking shared by :func:`paragraph_dedup`
    and its streaming twin: docs explode into (doc_id, idx, chunk)
    rows over the normalized word array; empty/NULL text emits no
    row."""
    words = F.filter(
        F.split(F.trim(normalize_text(F.col("text"))), " "),
        lambda w: F.length(w) > 0,
    )
    n_chunks = F.ceil(F.size("__ws") / F.lit(chunk_words)).cast("int")
    return (
        documents.filter(F.col("text").isNotNull())
        .select("doc_id", words.alias("__ws"))
        .filter(F.size("__ws") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(
                            F.col("__ws"),
                            i * chunk_words + 1,
                            chunk_words,
                        ),
                        " ",
                    ),
                )
            ).alias("idx", "chunk"),
        )
    )


def para_reassemble(ranked: DataFrame) -> DataFrame:
    """In-order document reassembly shared by :func:`paragraph_dedup`
    and its streaming twin: one doc-keyed shuffle collects (idx,
    __keep, chunk) structs, kept chunks re-join in idx order."""
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("idx", "__keep", "chunk"))
            ).alias("__cs")
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.filter(F.col("__cs"), lambda s: s["__keep"]),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
            F.size("__cs").cast("int").alias("n_chunks"),
            F.size(F.filter(F.col("__cs"), lambda s: ~s["__keep"]))
            .cast("int")
            .alias("n_dropped"),
        )
    )


def paragraph_dedup_oracle(
    chunk_words: int = PARA_CHUNK_WORDS, src: str = "documents"
) -> str:
    """Same chunk arithmetic (1-based inclusive list slice == Spark
    slice(start, length)), same first-occurrence row_number rank, same
    in-order reassembly via string_agg ORDER BY idx."""
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    cw = chunk_words
    return f"""
WITH d AS (
    SELECT doc_id,
           list_filter(string_split(trim({norm}), ' '),
                       w -> length(w) > 0) AS ws
    FROM {src} WHERE text IS NOT NULL
),
nz AS (SELECT * FROM d WHERE len(ws) > 0),
c AS (
    SELECT doc_id, CAST(i AS INTEGER) AS idx,
           array_to_string(ws[(i * {cw} + 1):(i * {cw} + {cw})], ' ') AS chunk
    FROM nz,
         unnest(generate_series(
             0, CAST(ceil(len(ws) * 1.0 / {cw}) AS INTEGER) - 1)) t(i)
),
r AS (
    SELECT *, row_number() OVER (
               PARTITION BY chunk ORDER BY doc_id, idx) = 1 AS keep
    FROM c
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY idx),
                '') AS clean_text,
       CAST(count(*) AS INTEGER) AS n_chunks,
       CAST(count(*) FILTER (WHERE NOT keep) AS INTEGER) AS n_dropped
FROM r GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# edit-distance (levenshtein) similarity join — PassJoin-style blocking
# --------------------------------------------------------------------------

#: fixed width of the normalized title key the join runs on
FUZZY_W = 24
#: maximum levenshtein distance considered a match
FUZZY_K = 4
#: hot-bucket cap for the (segment, gram) pair expansion — far above
#: any bucket this corpus produces (pinned in pytest); the
#: bucket_truncation monitor reports clipping if a pathological corpus
#: ever reaches it
FUZZY_CAP = 1024


def _fuzzy_segments(w: int = FUZZY_W, k: int = FUZZY_K) -> list[tuple[int, int, int]]:
    """(segment_idx, start_1based, length) for the k+1 even partition
    of a width-``w`` key — all compile-time constants."""
    base, rem = divmod(w, k + 1)
    segs, start = [], 1
    for i in range(k + 1):
        ln = base + (1 if i < rem else 0)
        segs.append((i, start, ln))
        start += ln
    return segs


def fuzzy_key(col, w: int = FUZZY_W):
    """The join key: whitespace-normalized text, truncated to ``w``
    chars and padded with a sentinel (chr 1 — can't appear in
    normalized text) so every key is EXACTLY ``w`` chars.  Fixing the
    width is what makes the segment starts compile-time constants."""
    return F.rpad(F.substring(normalize_text(col), 1, w), w, "\x01")


def fuzzy_grams(keyed: DataFrame, k: int = FUZZY_K) -> DataFrame:
    """The blocking emission: one row per (doc, segment, gram) with an
    ``is_seg`` marker on the doc's own exact segment.  Substring
    windows span ±⌊k/2⌋ around each segment start — NOT ±k: the keys
    are padded to EQUAL length, so every alignment has #insertions =
    #deletions, and a segment's displacement |ins_before − del_before|
    ≤ max(ins, del) ≤ ⌊k/2⌋.  Halving the window roughly halves every
    bucket on prefix-colliding corpora.
    """
    half = k // 2
    emit = []
    w = FUZZY_W
    for i, start, ln in _fuzzy_segments(w, k):
        for s in range(max(1, start - half), min(w - ln + 1, start + half) + 1):
            emit.append(
                F.struct(
                    F.lit(i).alias("seg"),
                    F.substring("tkey", s, ln).alias("gram"),
                    F.lit(s == start).alias("is_seg"),
                )
            )
    g = keyed.select("doc_id", "tkey", F.explode(F.array(*emit)).alias("g")).select(
        "doc_id",
        "tkey",
        F.col("g.seg").alias("seg"),
        F.col("g.gram").alias("gram"),
        F.col("g.is_seg").alias("is_seg"),
    )
    # one row per (doc, seg, gram); a window substring that happens to
    # equal the doc's own exact segment keeps the seg marker
    return g.groupBy("seg", "gram", "doc_id", "tkey").agg(
        F.max("is_seg").alias("is_seg")
    )


def fuzzy_join(documents: DataFrame, k: int = FUZZY_K) -> DataFrame:
    """All document pairs whose title keys are within levenshtein
    distance ``k`` — record-linkage near-dup detection at typo
    granularity, the gap between exact dedup (distance 0 only) and the
    shingle/simhash family (token-level, blind to single-char edits).

    Blocking is PassJoin's pigeonhole (Li et al., VLDB 2011): partition
    each key into k+1 segments; any pair within distance k has SOME
    segment of one side appearing VERBATIM in the other, displaced by
    at most ⌊k/2⌋ (equal-length keys force #ins = #del — see
    :func:`fuzzy_grams`).  Candidates meet in (segment, gram) buckets:
    LOSSLESS, never all-pairs, the same band-bucket shuffle discipline
    as MinHash, and the pigeonhole witness always pairs an EXACT
    segment with a window substring, so sub×sub bucket pairs are
    discarded before the expensive stages (``is_seg`` filter — on
    prefix-colliding corpora most of a hot bucket is window rows).
    Survivors verify with the BANDED JVM levenshtein (threshold form:
    O(k·w) per pair, −1 beyond k).

    Scale: emitted rows = 21×|corpus| at (w=24, k=4) — boundary
    clamping trims the edge-segment windows — all constant-
    position substrings in one codegen pass; one gram-keyed shuffle
    (the ``bucket_pairs`` collect-explode — signatures computed once,
    no self-join re-execution); the cap bounds any pathological gram
    at ``FUZZY_CAP``² expansions with ``bucket_truncation`` reporting
    clipping.  Nothing corpus-sized is ever collected or crossed.
    Measured at sf0.1: 11.2M → ~3M candidate expansions vs the naive
    ±k all-role blocking, and the quadratic ground truth is already
    ~12.5M verifies at 5k docs — the gap widens quadratically from
    there.
    """
    keyed = documents.select("doc_id", fuzzy_key(F.col("text")).alias("tkey"))
    grams = fuzzy_grams(keyed, k)
    pairs = bucket_pairs(
        grams, ["seg", "gram"], ["doc_id", "tkey", "is_seg"], cap=FUZZY_CAP
    )
    cand = (
        pairs.filter(F.col("a_is_seg") | F.col("b_is_seg"))
        .select("a_doc_id", "a_tkey", "b_doc_id", "b_tkey")
        .distinct()
    )
    dist = F.levenshtein(F.col("a_tkey"), F.col("b_tkey"), k)
    return cand.withColumn("__d", dist).filter(F.col("__d") >= 0).select(
        F.col("a_doc_id").alias("doc_a"),
        F.col("b_doc_id").alias("doc_b"),
        F.col("__d").cast("bigint").alias("edit_distance"),
    )


def fuzzy_join_oracle(k: int = FUZZY_K, w: int = FUZZY_W) -> str:
    """Ground truth is the quadratic join — fine at the driver's sf,
    and exactly what the lossless blocking must reproduce.

    Deliberate boundary (the `dedup_minhash_oracle` stance): this
    oracle asserts the ``FUZZY_CAP``-slack regime ON PURPOSE — its
    whole value is proving the pigeonhole blocking misses nothing, so
    modeling the engine's hot-gram clip would hollow the check out.
    The cap binds only when >``FUZZY_CAP`` keys share one (seg, gram)
    bucket — `bucket_truncation` reports it, and
    `fuzzy_blocking_report` is the registry's auditable face of the
    same budget."""
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    tkey = f"rpad(substr({norm}, 1, {w}), {w}, chr(1))"
    return f"""
WITH keyed AS (SELECT doc_id, {tkey} AS tkey FROM documents)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.tkey, b.tkey) AS BIGINT) AS edit_distance
FROM keyed a JOIN keyed b ON a.doc_id < b.doc_id
WHERE levenshtein(a.tkey, b.tkey) <= {k}
"""


def fuzzy_blocking_report(
    documents: DataFrame, k: int = FUZZY_K, cap: int = FUZZY_CAP
) -> DataFrame:
    """Blocking-quality audit for :func:`fuzzy_join` — the "no silent
    caps" discipline as a first-class relation: gram-emission volume,
    bucket count, the hottest bucket, the candidate-expansion total
    the pair stage will pay (Σ n·(n−1)/2), and how much the hot-bucket
    cap would clip (`hot_buckets` / `clipped_members` non-zero means
    near-dup recall is being traded for bounded task memory — alert).
    Run it next to the join: it is the same single gram-keyed shuffle
    shape, on a frame the join already computes.
    """
    keyed = documents.select("doc_id", fuzzy_key(F.col("text")).alias("tkey"))
    sizes = fuzzy_grams(keyed, k).groupBy("seg", "gram").agg(
        F.count(F.lit(1)).alias("n")
    )
    return sizes.agg(
        F.sum("n").cast("bigint").alias("n_gram_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("n").cast("bigint").alias("max_bucket"),
        (F.sum(F.col("n") * (F.col("n") - 1)) / 2)
        .cast("bigint")
        .alias("candidate_expansions"),
        F.sum(F.when(F.col("n") > cap, 1).otherwise(0))
        .cast("bigint")
        .alias("hot_buckets"),
        F.sum(F.when(F.col("n") > cap, F.col("n") - cap).otherwise(0))
        .cast("bigint")
        .alias("clipped_members"),
    )


def fuzzy_blocking_report_oracle(
    k: int = FUZZY_K, w: int = FUZZY_W, cap: int = FUZZY_CAP
) -> str:
    """The emission is deterministic constant-position substrings, so
    the oracle replays it as a LATERAL VALUES table of (segment,
    substr) expressions — the same grams, engine-independently."""
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    tkey = f"rpad(substr({norm}, 1, {w}), {w}, chr(1))"
    half = k // 2
    cells = []
    for i, start, ln in _fuzzy_segments(w, k):
        for s in range(max(1, start - half), min(w - ln + 1, start + half) + 1):
            cells.append(f"({i}, substr(tkey, {s}, {ln}))")
    values = ", ".join(cells)
    return f"""
WITH keyed AS (SELECT doc_id, {tkey} AS tkey FROM documents),
grams AS (
    SELECT DISTINCT doc_id, v.seg, v.gram
    FROM keyed, LATERAL (SELECT * FROM (VALUES {values}) t(seg, gram)) v
),
sizes AS (
    SELECT seg, gram, count(*) AS n FROM grams GROUP BY seg, gram
)
SELECT CAST(sum(n) AS BIGINT) AS n_gram_rows,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(n) AS BIGINT) AS max_bucket,
       CAST(sum(n * (n - 1)) / 2 AS BIGINT) AS candidate_expansions,
       CAST(sum(CASE WHEN n > {cap} THEN 1 ELSE 0 END) AS BIGINT) AS hot_buckets,
       CAST(sum(CASE WHEN n > {cap} THEN n - {cap} ELSE 0 END) AS BIGINT)
           AS clipped_members
FROM sizes
"""


# --------------------------------------------------------------------------
# near-dup threshold sensitivity curve (prices the jaccard knob)
# --------------------------------------------------------------------------

#: thresholds the curve prices, loosest first — the loosest bound is
#: the ONE pair-generation pass everything else filters
DEDUP_CURVE_THRESHOLDS = (0.1, 0.3, 0.5, 0.7, 0.9)


def dedup_threshold_curve(
    documents: DataFrame,
    thresholds: tuple[float, ...] = DEDUP_CURVE_THRESHOLDS,
) -> DataFrame:
    """Sensitivity of the near-dup decision to the Jaccard threshold —
    the knob-pricing report for the dedup family (the
    `retrieval_quality_report` posture): per threshold, how many pairs
    survive, how many DOCS are implicated, what fraction of the corpus
    that is, and the surviving pairs' mean jaccard.  Curation teams
    read this curve to place the cut where the pair mass stops being
    boilerplate and starts being content.

    Scale shape — ONE pair-generation pass, not one per threshold: a
    threshold-t pair set is a FILTER of the loosest threshold's scored
    pair set (scoring is threshold-independent), so
    :func:`ngram_jaccard_dedup` runs once at min(thresholds), the
    scored pairs are eagerly checkpointed at pair cardinality, and
    each curve row is two tiny aggregates over that frame.  The mean
    rides exact integer micro-units (jaccard is already 6dp, so
    ``round(jaccard*1e6)`` is lossless) — accumulation-order-proof on
    both engines, divided once at the edge.
    """
    from telemetry_streaming_datalake_spark.operators.derived import floor_round

    pairs = ngram_jaccard_dedup(documents, threshold=min(thresholds)).localCheckpoint(
        eager=True
    )
    n_corpus = documents.count()  # 1 scalar, the broadcast-dim posture
    # r14 opt (guide §2.4): the per-threshold loop used to issue two
    # aggregates + a crossJoin PER threshold (≈40 Exchange nodes, ~21
    # tiny jobs over the checkpointed pair frame).  Every per-threshold
    # number is a CONDITIONAL aggregate of the same frame, so all
    # thresholds ride TWO aggregates total (pair stats; distinct
    # implicated docs over one explode), and the wide single row
    # explodes back into curve rows map-side.  Values are identical:
    # sum(when(keep,1)) == count of the filter, count_distinct of a
    # when() counts distinct non-NULLs == distinct survivors, and the
    # empty-threshold NULL/0 conventions match the filtered forms.
    ts = sorted(thresholds)
    micro = F.round(F.col("jaccard") * 1e6).cast("long")
    pair_aggs = []
    for i, t in enumerate(ts):
        keep = F.col("jaccard") >= t
        pair_aggs.append(F.sum(F.when(keep, 1).otherwise(0)).alias(f"np_{i}"))
        pair_aggs.append(F.sum(F.when(keep, micro)).alias(f"sm_{i}"))
    pa = pairs.agg(*pair_aggs)
    exploded = pairs.select(
        "jaccard", F.explode(F.array("doc_a", "doc_b")).alias("d")
    )
    da = exploded.agg(
        *[
            F.count_distinct(
                F.when(F.col("jaccard") >= t, F.col("d"))
            ).alias(f"nd_{i}")
            for i, t in enumerate(ts)
        ]
    )
    rows = pa.crossJoin(da).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(t)).alias("threshold"),
                        F.col(f"np_{i}").alias("n_pairs"),
                        F.col(f"nd_{i}").alias("n_docs"),
                        F.col(f"sm_{i}").alias("sum_micro"),
                    )
                    for i, t in enumerate(ts)
                ]
            )
        ).alias("r")
    )
    return rows.select(
        F.col("r.threshold").alias("threshold"),
        F.col("r.n_pairs").cast("int").alias("n_pairs"),
        F.col("r.n_docs").cast("int").alias("n_docs"),
        floor_round(F.col("r.n_docs") / F.lit(n_corpus), 6).alias(
            "dup_doc_frac"
        ),
        F.when(
            F.col("r.n_pairs") > 0,
            floor_round(
                F.col("r.sum_micro") / F.col("r.n_pairs") / F.lit(1e6), 6
            ),
        ).alias("mean_jaccard"),
    ).orderBy("threshold")


def dedup_threshold_curve_oracle(
    thresholds: tuple[float, ...] = DEDUP_CURVE_THRESHOLDS,
) -> str:
    """Composed twin: the ngram-jaccard pair oracle ONCE at the
    loosest threshold, per-threshold filtered aggregates, identical
    micro-unit mean arithmetic."""
    floor6 = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"
    selects = []
    for t in sorted(thresholds):
        selects.append(
            f"""SELECT CAST({t} AS DOUBLE) AS threshold,
       CAST((SELECT count(*) FROM pairs WHERE jaccard >= {t}) AS INTEGER)
           AS n_pairs,
       CAST((SELECT count(DISTINCT d) FROM (
                 SELECT doc_a AS d FROM pairs WHERE jaccard >= {t}
                 UNION ALL
                 SELECT doc_b AS d FROM pairs WHERE jaccard >= {t})) AS INTEGER)
           AS n_docs,
       {floor6(
           f"(SELECT count(DISTINCT d) FROM ("
           f"SELECT doc_a AS d FROM pairs WHERE jaccard >= {t} "
           f"UNION ALL SELECT doc_b AS d FROM pairs WHERE jaccard >= {t})) "
           f"/ (SELECT count(*) FROM documents)"
       )} AS dup_doc_frac,
       CASE WHEN (SELECT count(*) FROM pairs WHERE jaccard >= {t}) > 0 THEN
           {floor6(
               f"(SELECT sum(CAST(round(jaccard * 1000000.0) AS BIGINT)) "
               f"FROM pairs WHERE jaccard >= {t}) "
               f"/ (SELECT count(*) FROM pairs WHERE jaccard >= {t}) / 1000000.0"
           )}
       END AS mean_jaccard"""
        )
    return (
        f"WITH pairs AS ({ngram_jaccard_oracle(threshold=min(thresholds))})\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY threshold"
    )
