"""Corpus-preparation operators a large-scale training-data pipeline
needs beyond dedup/similarity: PII redaction, document chunking,
deterministic train/val splitting, corpus accounting, and benchmark
decontamination.

Scale rules as everywhere in this engine: JVM built-ins in the row
path (regex/slice/explode are codegen), the only shuffles are the
aggregations that semantically require one, and the eval side of the
decontamination join is dimension-sized and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.operators.derived import floor_round

from telemetry_streaming_datalake_spark.operators.dedup import (
    _rolling_gram_hashes_udf,
    normalize_text,
)

# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

#: patterns chosen to parse identically under Java regex (Spark) and
#: RE2 (DuckDB): explicit classes, no lookaround
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_REGEX = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"


def pii_redact(documents: DataFrame) -> DataFrame:
    """Replace email/phone shapes with typed placeholder tokens and
    count the redactions per doc.  Map-only regex — one codegen scan,
    no shuffle, the same plan at any corpus size."""
    email_hits = F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_REGEX), F.lit(0)))
    no_email = F.regexp_replace(F.col("text"), EMAIL_REGEX, "<EMAIL>")
    phone_hits = F.size(F.regexp_extract_all(no_email, F.lit(PHONE_REGEX), F.lit(0)))
    clean = F.regexp_replace(no_email, PHONE_REGEX, "<PHONE>")
    return documents.select(
        "doc_id",
        clean.alias("text_redacted"),
        email_hits.alias("n_emails"),
        phone_hits.alias("n_phones"),
        (email_hits + phone_hits > 0).alias("had_pii"),
    )


PII_REDACT_ORACLE = f"""
WITH s1 AS (
    SELECT doc_id, text,
           len(regexp_extract_all(text, '{EMAIL_REGEX}')) AS n_emails,
           regexp_replace(text, '{EMAIL_REGEX}', '<EMAIL>', 'g') AS t1
    FROM documents
)
SELECT doc_id,
       regexp_replace(t1, '{PHONE_REGEX}', '<PHONE>', 'g') AS text_redacted,
       n_emails,
       len(regexp_extract_all(t1, '{PHONE_REGEX}')) AS n_phones,
       (n_emails + len(regexp_extract_all(t1, '{PHONE_REGEX}'))) > 0 AS had_pii
FROM s1
"""

# --------------------------------------------------------------------------
# document chunking (context-window packing prep)
# --------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


def chunk_documents(
    documents: DataFrame, chunk_tokens: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Split each doc's whitespace tokens into fixed-size overlapping
    chunks — the pre-tokenization packing step of an LLM data pipeline.

    ``explode(sequence)`` generates chunk starts and ``slice`` +
    ``array_join`` materializes each chunk: all codegen collection
    expressions, map-only (rows out = chunks, no shuffle).  Short docs
    yield exactly one chunk.
    """
    toks = F.split(F.trim(normalize_text(F.col("text"))), " ")
    base = documents.select("doc_id", toks.alias("toks"), F.size(toks).alias("n_toks"))
    # chunk starts: 1, 1+stride, ... while start <= n_toks (1-indexed);
    # the last chunk may be short but is never empty
    n_chunks = F.greatest(
        F.ceil((F.col("n_toks") - chunk_tokens) / stride) + 1, F.lit(1)
    ).cast("int")
    ex = base.select(
        "doc_id",
        "toks",
        "n_toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * stride + 1
    return ex.select(
        "doc_id",
        "chunk_idx",
        "n_toks",
        F.array_join(F.slice("toks", start, chunk_tokens), " ").alias("chunk_text"),
        F.least(F.lit(chunk_tokens), F.col("n_toks") - F.col("chunk_idx") * stride).alias(
            "chunk_len"
        ),
    )


def chunk_documents_oracle(
    chunk_tokens: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH d AS (
    SELECT doc_id, string_split(trim({norm}), ' ') AS toks FROM documents
),
n AS (
    SELECT doc_id, toks, len(toks) AS n_toks,
           greatest(CAST(ceil((len(toks) - {chunk_tokens}) / {stride}.0) AS INTEGER) + 1, 1) AS n_chunks
    FROM d
),
ex AS (
    SELECT doc_id, toks, n_toks, unnest(range(n_chunks)) AS chunk_idx FROM n
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx, n_toks,
       array_to_string(toks[(chunk_idx * {stride} + 1):(chunk_idx * {stride} + {chunk_tokens})], ' ')
           AS chunk_text,
       least({chunk_tokens}, n_toks - chunk_idx * {stride}) AS chunk_len
FROM ex
"""


# --------------------------------------------------------------------------
# deterministic train/val split
# --------------------------------------------------------------------------

#: md5-prefix threshold for the validation slice: 4 hex chars cover
#: 65536 buckets; '0ccc' ≈ 5% — content-keyed, so duplicate texts land
#: in the same split (no train/val leakage via dup docs)
VAL_THRESHOLD_HEX = "0ccc"


def train_val_split(documents: DataFrame, threshold_hex: str = VAL_THRESHOLD_HEX) -> DataFrame:
    """Assign each doc to train/val by the md5 of its normalized text.

    Content-keyed hashing (not doc_id) keeps byte-identical duplicates
    in one split.  Hex-prefix comparison replicates bit-exactly in any
    engine; map-only."""
    h = F.md5(normalize_text(F.col("text")))
    return documents.select(
        "doc_id",
        h.alias("content_hash"),
        F.when(F.substring(h, 1, 4) < threshold_hex, "val").otherwise("train").alias("split"),
    )


def train_val_split_oracle(threshold_hex: str = VAL_THRESHOLD_HEX) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
SELECT doc_id,
       md5({norm}) AS content_hash,
       CASE WHEN substr(md5({norm}), 1, 4) < '{threshold_hex}'
            THEN 'val' ELSE 'train' END AS split
FROM documents
"""


# --------------------------------------------------------------------------
# corpus accounting
# --------------------------------------------------------------------------


def corpus_stats(documents: DataFrame) -> DataFrame:
    """Token/byte budget per (lang, source) — the corpus-mixture
    accounting every training run starts from.  One partial-agg
    shuffle over per-doc scalars."""
    norm = normalize_text(F.col("text"))
    per_doc = documents.select(
        "lang",
        "source",
        F.size(F.split(F.trim(norm), " ")).alias("n_toks"),
        F.length(F.encode(norm, "UTF-8")).alias("n_bytes"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.sum("n_bytes").alias("total_bytes"),
        floor_round(F.avg("n_toks"), 6).alias("avg_tokens"),
    )


def corpus_stats_oracle() -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(len(string_split(trim({norm}), ' '))) AS BIGINT) AS total_tokens,
       CAST(sum(octet_length(encode({norm}))) AS BIGINT) AS total_bytes,
       floor(avg(len(string_split(trim({norm}), ' '))) * 1000000.0 + 0.5)
           / 1000000.0 AS avg_tokens
FROM documents
GROUP BY ALL
"""


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------

#: the held-out "benchmark" set: a fixed deterministic doc_id slice
BENCH_DOC_IDS = tuple(range(0, 500, 50))
#: contamination n-gram width (chars of normalized text)
CONTAM_NGRAM = 16


def _contam_grams(documents: DataFrame, n: int) -> DataFrame:
    """(doc_id, gram-hash) rows via the O(len) rolling hash (see
    :func:`..dedup._rolling_gram_hashes_udf`).  Hashes stand in for
    the gram strings on the Spark side (8-byte join keys); the oracle
    joins the strings themselves, equal modulo hash collisions like
    the whole Jaccard family."""
    norm = normalize_text(F.col("text"))
    # repartition BEFORE the ~300x generate stage (the
    # exploded_shingles rule): a corpus read from few compact files
    # would otherwise expand on a handful of cores
    base = documents.select("doc_id", norm.alias("norm")).repartition(
        documents.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    return base.select(
        "doc_id",
        F.explode(_rolling_gram_hashes_udf(n)(F.col("norm"))).alias("g"),
    )


def decontaminate(
    documents: DataFrame,
    bench_ids: tuple[int, ...] = BENCH_DOC_IDS,
    n: int = CONTAM_NGRAM,
) -> DataFrame:
    """Flag training docs sharing any ``n``-gram with a held-out
    benchmark set (the standard n-gram decontamination pass).

    The benchmark side is dimension-sized: its distinct gram hashes
    broadcast, and the training side explodes through a codegen
    ``left_semi`` broadcast join — the corpus never shuffles; the only
    exchange is the final distinct on contaminated doc_ids.
    """
    grams = _contam_grams(documents, n)
    bench = (
        grams.filter(F.col("doc_id").isin(list(bench_ids))).select("g").distinct()
    )
    train = grams.filter(~F.col("doc_id").isin(list(bench_ids)))
    hits = train.join(F.broadcast(bench), "g", "left_semi")
    return (
        hits.select("doc_id").distinct().withColumn("contaminated", F.lit(True))
    )


def decontaminate_oracle(
    bench_ids: tuple[int, ...] = BENCH_DOC_IDS, n: int = CONTAM_NGRAM
) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    ids = ", ".join(str(i) for i in bench_ids)
    return f"""
WITH d AS (
    SELECT doc_id, {norm} AS nrm FROM documents
),
grams AS (
    SELECT doc_id,
           unnest([substr(nrm, CAST(i AS INTEGER), {n})
                   for i in range(1, greatest(length(nrm) - {n - 1}, 1) + 1)]) AS g
    FROM d
),
bench AS (
    SELECT DISTINCT g FROM grams WHERE doc_id IN ({ids})
)
SELECT DISTINCT doc_id, true AS contaminated
FROM grams
WHERE doc_id NOT IN ({ids}) AND g IN (SELECT g FROM bench)
"""


# --------------------------------------------------------------------------
# stratified sampling
# --------------------------------------------------------------------------

#: per-language md5-prefix keep thresholds (hex, 16-bit space).  The
#: mixture knob of corpus curation: downsample over-represented
#: languages harder.  'ffff' ≈ keep-all for the long tail.
STRATA_THRESHOLDS = {"en": "4000", "de": "8000"}
STRATA_DEFAULT = "c000"


def stratified_sample(
    documents: DataFrame,
    thresholds: dict[str, str] | None = None,
    default_hex: str = STRATA_DEFAULT,
) -> DataFrame:
    """Deterministic per-language downsampling by content-hash prefix.

    Same hash discipline as :func:`train_val_split`: the keep decision
    is a pure function of the normalized text, so duplicate documents
    are kept or dropped together, reruns are reproducible, and no RNG
    state needs coordinating across executors (``F.rand`` is neither
    rerun- nor partitioning-stable).  Map-only — a filter over a
    codegen md5, no shuffle, trivially correct at any scale.
    """
    th = thresholds if thresholds is not None else STRATA_THRESHOLDS
    h = F.md5(normalize_text(F.col("text")))
    cut = F.lit(default_hex)
    for lang, hexv in sorted(th.items()):
        cut = F.when(F.col("lang") == lang, F.lit(hexv)).otherwise(cut)
    return (
        documents.select(
            "doc_id", "lang", "source", h.alias("content_hash"), cut.alias("keep_below")
        )
        .filter(F.substring("content_hash", 1, 4) < F.col("keep_below"))
    )


def stratified_sample_oracle(
    thresholds: dict[str, str] | None = None, default_hex: str = STRATA_DEFAULT
) -> str:
    th = thresholds if thresholds is not None else STRATA_THRESHOLDS
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN '{hexv}'" for lang, hexv in sorted(th.items())
    )
    return f"""
WITH h AS (
    SELECT doc_id, lang, source,
           md5({norm}) AS content_hash,
           CASE {cases} ELSE '{default_hex}' END AS keep_below
    FROM documents
)
SELECT doc_id, lang, source, content_hash, keep_below
FROM h WHERE substr(content_hash, 1, 4) < keep_below
"""


# --------------------------------------------------------------------------
# per-source heavy hitters
# --------------------------------------------------------------------------

HEAVY_K = 5


def heavy_hitters(documents: DataFrame, k: int = HEAVY_K) -> DataFrame:
    """Top-``k`` longest docs per source (token count, ties on
    doc_id) — the per-shard outlier report a corpus curation pass
    reads before truncation decisions.  One hash partition per source
    with an in-partition top-k sort; no global sort."""
    from pyspark.sql import Window

    norm = normalize_text(F.col("text"))
    per_doc = documents.select(
        "doc_id", "source", F.size(F.split(F.trim(norm), " ")).alias("n_toks")
    )
    w = Window.partitionBy("source").orderBy(F.col("n_toks").desc(), "doc_id")
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("source", "rank", "doc_id", "n_toks")
    )


def heavy_hitters_oracle(k: int = HEAVY_K) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
SELECT source, rank, doc_id, n_toks FROM (
    SELECT source, doc_id,
           len(string_split(trim({norm}), ' ')) AS n_toks,
           row_number() OVER (
               PARTITION BY source
               ORDER BY len(string_split(trim({norm}), ' ')) DESC, doc_id
           ) AS rank
    FROM documents
) WHERE rank <= {k}
"""


# --------------------------------------------------------------------------
# per-domain frequency cap (web-curation downsampling)
# --------------------------------------------------------------------------

#: max documents any single domain may contribute downstream
DOMAIN_CAP = 18


def domain_cap_sample(documents: DataFrame, cap: int = DOMAIN_CAP) -> DataFrame:
    """Per-domain document cap — the web-curation downsampler (C4 /
    RefinedWeb posture): a handful of mega-domains otherwise dominate
    a crawl-derived training mix, so any domain contributing more than
    ``cap`` docs is cut to exactly ``cap``.

    Survivor selection is a DETERMINISTIC hash rank, not RNG:
    ``md5(doc_id)`` lexicographic order within the domain (ties on
    doc_id) — reruns, restatements, and both engines pick the same
    survivor set with no seed state, and the hash order is uniform
    within a domain so the kept subset is an unbiased sample.

    Skew-aware two-phase shape for the 100 TB crawl: the domain
    counts aggregate is one map-side-combined shuffle to
    dimension-sized output; UNDER-cap domains (the long tail — almost
    all rows) pass through with a broadcast-semi-join membership test
    and are NEVER sorted; only the few over-cap hot domains pay the
    per-domain rank window.  A single global window over every domain
    would sort the whole crawl to keep rows the tail keeps anyway.
    """
    from pyspark.sql import Window

    # the domain-count aggregate feeds THREE consumers (the anti-join
    # tail filter, the semi-join hot-domain filter, and the final
    # n_domain attach); it is dimension-sized, so localCheckpoint it
    # once instead of re-running the full-corpus aggregate per branch
    # (measured: 5 corpus scans -> 3, the bloom_prune_join dim rule)
    counts = (
        documents.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_domain"))
        .localCheckpoint(eager=True)
    )
    over = counts.filter(F.col("n_domain") > cap)  # dimension-sized
    under_kept = documents.join(
        F.broadcast(over.select("source")), "source", "left_anti"
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    over_kept = (
        documents.join(F.broadcast(over.select("source")), "source", "left_semi")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )
    kept = under_kept.unionByName(over_kept)
    return (
        kept.join(F.broadcast(counts), "source")
        .select(
            "doc_id",
            "source",
            "n_domain",
            F.least(F.col("n_domain"), F.lit(cap).cast("bigint")).alias("n_kept"),
        )
    )


def domain_cap_sample_oracle(cap: int = DOMAIN_CAP) -> str:
    return f"""
WITH counts AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_domain
    FROM documents GROUP BY source
),
ranked AS (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rk
    FROM documents
)
SELECT r.doc_id, r.source, c.n_domain,
       least(c.n_domain, {cap}) AS n_kept
FROM ranked r JOIN counts c USING (source)
WHERE c.n_domain <= {cap} OR r.rk <= {cap}
"""


# --------------------------------------------------------------------------
# cross-document boilerplate n-grams (MassiveText/C4-style dup-span signal)
# --------------------------------------------------------------------------

#: word-window width for the cross-doc duplicate-span check
BOILER_NGRAM_WORDS = 8
#: a gram present in at least this many distinct docs is boilerplate
BOILER_MIN_DOCS = 2


def boilerplate_ngrams(
    documents: DataFrame,
    n_words: int = BOILER_NGRAM_WORDS,
    min_docs: int = BOILER_MIN_DOCS,
) -> DataFrame:
    """Per-doc fraction of word ``n``-grams that also occur in other
    docs — the cross-document duplicate-span quality signal corpus
    curation uses to strip shared boilerplate (nav menus, license
    headers, templated spans) that per-doc dedup cannot see.

    Shape: the gram list is built AND deduped map-side
    (``array_distinct`` over a codegen ``transform``/``slice``
    expression — one row per doc until the explode), so the document
    frequency of a gram is a plain partition count.  Two shuffles
    total, both on compact keys: an 8-byte ``xxhash64`` gram key for
    the frequency window, then doc_id for the per-doc aggregate.  No
    join-back, no second corpus scan.  Docs shorter than ``n`` words
    contribute their whole text as one gram (same convention as the
    decontamination pass).
    """
    from pyspark.sql import Window

    norm = normalize_text(F.col("text"))
    # NULL text emits zero rows (the decontaminate/dup_spans convention);
    # without the filter the NULL-token chain survives as one phantom
    # NULL gram (size(NULL) is NULL, greatest skips it → sequence(1,1))
    base = documents.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split(norm, " ").alias("toks")
    )
    grams_arr = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size(toks) - {n_words - 1}, 1)), "
            f"i -> array_join(slice(toks, i, {n_words}), ' '))"
        )
    )
    grams = base.select("doc_id", F.explode(grams_arr).alias("ngram"))
    w = Window.partitionBy(F.xxhash64("ngram"))
    flagged = grams.select(
        "doc_id", (F.count(F.lit(1)).over(w) >= min_docs).alias("is_boiler")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.col("is_boiler").cast("long")).alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_boiler",
            floor_round(F.col("n_boiler") / F.col("n_ngrams"), 6).alias("boiler_frac"),
        )
    )


def boilerplate_ngrams_oracle(
    n_words: int = BOILER_NGRAM_WORDS, min_docs: int = BOILER_MIN_DOCS
) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH d AS (
    SELECT doc_id, string_split({norm}, ' ') AS t FROM documents
),
grams AS (
    SELECT doc_id,
           unnest(list_distinct(
               [array_to_string(t[i:i + {n_words - 1}], ' ')
                for i in range(1, greatest(len(t) - {n_words - 1}, 1) + 1)]
           )) AS g
    FROM d
),
freq AS (SELECT g, count(*) AS df FROM grams GROUP BY g)
SELECT doc_id,
       count(*) AS n_ngrams,
       CAST(sum(CASE WHEN df >= {min_docs} THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       floor(CAST(sum(CASE WHEN df >= {min_docs} THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 1000000.0 + 0.5) / 1000000.0 AS boiler_frac
FROM grams JOIN freq USING (g)
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# sequence packing (concat-and-chunk into fixed context windows)
# --------------------------------------------------------------------------

#: tokens per packed training sequence (context-window budget)
PACK_BUDGET = 512
#: shard fan-out — one hex char of md5(doc_id) = 16 deterministic shards
PACK_SHARDS_HEXCHARS = 1


def pack_sequences(documents: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Assign every doc its position in packed fixed-size training
    sequences — the concat-and-chunk step that turns a curated corpus
    into context-window-sized training rows.

    Docs are deterministically sharded by an md5 character of doc_id
    (so packing is reproducible AND the ordering window never sees one
    giant partition — per-(lang, shard) state is 1/16th of a language,
    and the shard count is the scale knob), then laid head-to-tail in
    doc_id order within the shard; each doc's start offset in that
    token stream places it in bin ``start // budget``.  A doc whose
    span crosses a bin boundary is flagged (`spans_bins`) — those are
    the sequences a loader splits.  One shuffle (the per-shard
    ordering window); token counts are codegen whitespace splits.
    """
    from pyspark.sql import Window

    norm = normalize_text(F.col("text"))
    per_doc = documents.select(
        "doc_id",
        "lang",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, PACK_SHARDS_HEXCHARS).alias("shard"),
        F.size(F.split(F.trim(norm), " ")).alias("n_tokens"),
    )
    w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    return (
        per_doc.withColumn("start_offset", cum - F.col("n_tokens"))
        .select(
            "doc_id",
            "lang",
            "shard",
            "n_tokens",
            "start_offset",
            F.floor(F.col("start_offset") / budget).alias("bin_id"),
            (
                F.floor(F.col("start_offset") / budget)
                != F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / budget)
            ).alias("spans_bins"),
        )
    )


def pack_sequences_oracle(budget: int = PACK_BUDGET) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH per_doc AS (
    SELECT doc_id, lang,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, {PACK_SHARDS_HEXCHARS}) AS shard,
           len(string_split(trim({norm}), ' ')) AS n_tokens
    FROM documents
),
placed AS (
    SELECT doc_id, lang, shard, n_tokens,
           sum(n_tokens) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - n_tokens AS start_offset
    FROM per_doc
)
SELECT doc_id, lang, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(floor(start_offset / {budget}) AS BIGINT) AS bin_id,
       floor(start_offset / {budget})
           <> floor((start_offset + n_tokens - 1) / {budget}) AS spans_bins
FROM placed
"""


# --------------------------------------------------------------------------
# temperature-scaled source mixture weights
# --------------------------------------------------------------------------

#: mixture temperature — alpha < 1 upsamples the tail (the multilingual
#: sampling exponent of large-corpus training recipes)
MIXTURE_ALPHA = 0.7


def mixture_weights(documents: DataFrame, alpha: float = MIXTURE_ALPHA) -> DataFrame:
    """Per-source sampling weights for corpus mixing: raw token share
    and the temperature-scaled share ∝ tokens^alpha (alpha < 1 flattens
    the source distribution so low-resource sources are upsampled).

    One partial-agg shuffle to per-source totals (the only pass over
    the corpus), then the normalizing sums are window totals over the
    handful of source rows — driver never sees data, and the corpus is
    scanned exactly once.
    """
    from pyspark.sql import Window

    norm = normalize_text(F.col("text"))
    per_source = (
        documents.select(
            "source", F.size(F.split(F.trim(norm), " ")).alias("n_tokens")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
    )
    w = Window.partitionBy()
    raw_share = F.col("n_tokens") / F.sum("n_tokens").over(w)
    temp = F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
    temp_share = temp / F.sum(temp).over(w)
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        floor_round(raw_share, 6).alias("raw_share"),
        floor_round(temp_share, 6).alias("temp_share"),
    )


def mixture_weights_oracle(alpha: float = MIXTURE_ALPHA) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH per_source AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(len(string_split(trim({norm}), ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens,
       floor(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ()
             * 1000000.0 + 0.5) / 1000000.0 AS raw_share,
       floor(pow(n_tokens, {alpha}) / sum(pow(n_tokens, {alpha})) OVER ()
             * 1000000.0 + 0.5) / 1000000.0 AS temp_share
FROM per_source
"""


# --------------------------------------------------------------------------
# percentile length trim (winsorized corpus-length filter)
# --------------------------------------------------------------------------

#: docs outside [p_lo, p_hi] of the token-length distribution are trimmed
TRIM_LO = 0.01
TRIM_HI = 0.99


def length_trim(
    documents: DataFrame, p_lo: float = TRIM_LO, p_hi: float = TRIM_HI
) -> DataFrame:
    """Flag docs whose token length falls outside the corpus's
    [p_lo, p_hi] percentile band — the winsorized length filter that
    strips truncated fragments and runaway concatenations before
    training.

    The two exact percentiles are ONE 1-row global aggregate broadcast
    back over the corpus (scalar-subquery crossJoin shape — the fact
    never re-shuffles); the per-doc token count is a codegen split.
    At 100 TB the stated swap-in is `approx_percentile` on the same
    aggregate — identical plan, sketch-merge instead of exact sort.
    """
    norm = normalize_text(F.col("text"))
    per_doc = documents.select(
        "doc_id", F.size(F.split(F.trim(norm), " ")).alias("n_tokens")
    )
    bounds = per_doc.agg(
        F.percentile("n_tokens", F.lit(p_lo)).alias("lo"),
        F.percentile("n_tokens", F.lit(p_hi)).alias("hi"),
    )
    return (
        per_doc.crossJoin(F.broadcast(bounds))
        .select(
            "doc_id",
            "n_tokens",
            floor_round(F.col("lo"), 6).alias("p_lo_tokens"),
            floor_round(F.col("hi"), 6).alias("p_hi_tokens"),
            ((F.col("n_tokens") < F.col("lo")) | (F.col("n_tokens") > F.col("hi"))).alias(
                "trimmed"
            ),
        )
    )


def length_trim_oracle(p_lo: float = TRIM_LO, p_hi: float = TRIM_HI) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH per_doc AS (
    SELECT doc_id, len(string_split(trim({norm}), ' ')) AS n_tokens
    FROM documents
),
bounds AS (
    SELECT quantile_cont(n_tokens, {p_lo}) AS lo,
           quantile_cont(n_tokens, {p_hi}) AS hi
    FROM per_doc
)
SELECT doc_id, n_tokens,
       floor(lo * 1000000.0 + 0.5) / 1000000.0 AS p_lo_tokens,
       floor(hi * 1000000.0 + 0.5) / 1000000.0 AS p_hi_tokens,
       (n_tokens < lo OR n_tokens > hi) AS trimmed
FROM per_doc, bounds
"""


# --------------------------------------------------------------------------
# weighted importance sampling
# --------------------------------------------------------------------------

IMPORTANCE_BASE_RATE = 0.5
IMPORTANCE_PIVOT_CHARS = 1000


def importance_sample(
    documents: DataFrame,
    base_rate: float = IMPORTANCE_BASE_RATE,
    pivot_chars: int = IMPORTANCE_PIVOT_CHARS,
) -> DataFrame:
    """Length-weighted importance sampling: keep each doc with
    probability ``base_rate * min(1, n_chars/pivot_chars)`` — the
    token-weighted downsampling a training-mix builder uses so that
    sampling by documents does not under-represent long documents.

    Determinism discipline (same as :func:`stratified_sample` /
    :func:`train_val_split`): the per-doc uniform is the first 8 hex
    digits of ``md5(normalized text)`` scaled to [0,1) — a pure
    function of content, so duplicates sample together, reruns are
    stable under any partitioning, and no RNG state exists.  Map-only:
    a filter over codegen expressions, zero exchanges at any scale.
    """
    u = (
        F.conv(F.substring(F.md5(normalize_text(F.col("text"))), 1, 8), 16, 10)
        .cast("double")
        / F.lit(4294967296.0)
    )
    w = F.least(F.lit(1.0), F.col("n_chars") / F.lit(float(pivot_chars)))
    p = F.lit(base_rate) * w
    return (
        documents.select(
            "doc_id", "lang", "source", "n_chars",
            u.alias("sample_u"), p.alias("keep_prob"),
        )
        .filter(F.col("sample_u") < F.col("keep_prob"))
    )


def importance_sample_oracle(
    base_rate: float = IMPORTANCE_BASE_RATE,
    pivot_chars: int = IMPORTANCE_PIVOT_CHARS,
) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH h AS (
    SELECT doc_id, lang, source, n_chars,
           CAST(CAST('0x' || substr(md5({norm}), 1, 8) AS BIGINT) AS DOUBLE)
               / 4294967296.0 AS sample_u,
           {base_rate} * least(1.0, n_chars / {float(pivot_chars)}) AS keep_prob
    FROM documents
)
SELECT doc_id, lang, source, n_chars, sample_u, keep_prob
FROM h WHERE sample_u < keep_prob
"""


# --------------------------------------------------------------------------
# per-source reputation dashboard
# --------------------------------------------------------------------------


def source_reputation(documents: DataFrame) -> DataFrame:
    """Per-source curation dashboard: volume, length profile, language
    spread, and exact-duplicate rate — the table a corpus owner reads
    to decide which shards to re-crawl, cap, or drop.

    Shape: ONE aggregation keyed on ``source`` (low cardinality but
    the multi-DISTINCT expands map-side and combines partially; at
    100 TB the two exact DISTINCTs swap for ``approx_count_distinct``
    without changing the output contract shape).
    """
    h = F.md5(normalize_text(F.col("text")))
    return (
        documents.select("source", "lang", "n_chars", h.alias("content_hash"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            floor_round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.count_distinct("lang").alias("n_langs"),
            F.count_distinct(F.col("content_hash")).alias("n_unique"),
            floor_round(
                1.0 - F.count_distinct(F.col("content_hash")) / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
        )
    )


def source_reputation_oracle() -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
SELECT source,
       count(*)                           AS n_docs,
       CAST(sum(n_chars) AS BIGINT)       AS total_chars,
       floor(avg(n_chars) * 1000000.0 + 0.5) / 1000000.0 AS avg_chars,
       count(DISTINCT lang)               AS n_langs,
       count(DISTINCT md5({norm}))        AS n_unique,
       floor((1.0 - count(DISTINCT md5({norm})) * 1.0 / count(*))
             * 1000000.0 + 0.5) / 1000000.0 AS dup_rate
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------------
# token-budget allocation plan (mixture execution)
# --------------------------------------------------------------------------

#: default training-run token budget the plan allocates
BUDGET_TARGET_TOKENS = 1_000_000
#: repetition ceiling — sources asked for more than this many epochs are
#: capped (data-constrained-LM practice: repeating past ~4 epochs stops
#: helping, cf. Muennighoff et al. 2023, "Scaling Data-Constrained
#: Language Models")
BUDGET_EPOCH_CAP = 4.0


def token_budget_plan(
    documents: DataFrame,
    target_tokens: int = BUDGET_TARGET_TOKENS,
    alpha: float = MIXTURE_ALPHA,
    epoch_cap: float = BUDGET_EPOCH_CAP,
) -> DataFrame:
    """Turn the temperature-scaled mixture into an executable sampling
    plan: each source's token allocation out of ``target_tokens``, the
    epochs (repeat factor) that allocation implies over its available
    tokens, and the capped plan after the repetition ceiling.

    This is the step between :func:`mixture_weights` (shares) and a
    training loader (concrete per-source repeat factors): share ∝
    tokens^alpha, planned = share·target, epochs = planned/available,
    capped at ``epoch_cap`` with the achieved token count reported so
    the gap to target is visible (capped sources under-deliver; the
    loader re-normalizes or accepts the shortfall — reported, not
    hidden).

    Scale shape: identical to :func:`mixture_weights` — ONE corpus
    scan to source-cardinality totals, window normalization over the
    handful of source rows.
    """
    from pyspark.sql import Window

    norm = normalize_text(F.col("text"))
    per_source = (
        documents.select(
            "source", F.size(F.split(F.trim(norm), " ")).alias("n_tokens")
        )
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("avail_tokens"))
    )
    w = Window.partitionBy()
    temp = F.pow(F.col("avail_tokens").cast("double"), F.lit(alpha))
    share = temp / F.sum(temp).over(w)
    planned = share * target_tokens
    epochs = planned / F.col("avail_tokens")
    capped = F.least(epochs, F.lit(epoch_cap))
    return per_source.select(
        "source",
        "avail_tokens",
        floor_round(share, 6).alias("temp_share"),
        floor_round(planned, 2).alias("planned_tokens"),
        floor_round(epochs, 6).alias("epochs"),
        floor_round(capped, 6).alias("capped_epochs"),
        floor_round(capped * F.col("avail_tokens"), 2).alias("achieved_tokens"),
    )


def token_budget_plan_oracle(
    target_tokens: int = BUDGET_TARGET_TOKENS,
    alpha: float = MIXTURE_ALPHA,
    epoch_cap: float = BUDGET_EPOCH_CAP,
) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH per_source AS (
    SELECT source,
           CAST(sum(len(string_split(trim({norm}), ' '))) AS BIGINT) AS avail_tokens
    FROM documents GROUP BY source
),
shared AS (
    SELECT source, avail_tokens,
           pow(avail_tokens, {alpha}) / sum(pow(avail_tokens, {alpha})) OVER () AS share
    FROM per_source
)
SELECT source, avail_tokens,
       floor(share * 1000000.0 + 0.5) / 1000000.0 AS temp_share,
       floor(share * {target_tokens} * 100.0 + 0.5) / 100.0 AS planned_tokens,
       floor(share * {target_tokens} / avail_tokens * 1000000.0 + 0.5)
           / 1000000.0 AS epochs,
       floor(least(share * {target_tokens} / avail_tokens, {epoch_cap})
             * 1000000.0 + 0.5) / 1000000.0 AS capped_epochs,
       floor(least(share * {target_tokens} / avail_tokens, {epoch_cap})
             * avail_tokens * 100.0 + 0.5) / 100.0 AS achieved_tokens
FROM shared
"""


def train_mix_materialize(
    documents: DataFrame,
    target_tokens: int = BUDGET_TARGET_TOKENS,
    alpha: float = MIXTURE_ALPHA,
    epoch_cap: float = BUDGET_EPOCH_CAP,
) -> DataFrame:
    """EXECUTE :func:`token_budget_plan` into the actual sampled
    corpus (VERDICT r11 #9a) — the step after the plan: one output row
    per (doc, epoch) the training loader reads.  Every doc of a source
    repeats ``floor(capped_epochs)`` times (epochs ``0..floor-1``);
    the fractional remainder epoch admits each doc with probability
    ``frac`` via the deterministic md5-threshold rule (the
    `stratified_sample` discipline — no RNG, rerun- and
    partitioning-stable: the first 8 hex chars of
    ``md5(source|doc_id)`` as a uint32 compared against
    ``frac·2^32``).  ``frac`` comes off the plan's floor-rounded
    ``capped_epochs`` column, so both engines gate on bit-identical
    doubles (the SURVEY §6 division-gating convention).

    Scale shape: the plan is source-cardinality and broadcasts; the
    epoch fan-out is a ``sequence``+``explode`` over ≤⌈cap⌉+1 ints per
    doc — map-only after the broadcast join, no shuffle, output
    bounded by cap·|corpus|."""
    plan = token_budget_plan(documents, target_tokens, alpha, epoch_cap).select(
        "source", "capped_epochs"
    )
    full = F.floor("capped_epochs").cast("int")
    frac = F.col("capped_epochs") - F.floor("capped_epochs")
    hv = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("source"), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
    )
    j = (
        documents.filter(F.col("text").isNotNull())
        .select("doc_id", "source")
        .join(F.broadcast(plan), "source")
        .select(
            "doc_id",
            "source",
            full.alias("__full"),
            frac.alias("__frac"),
            hv.alias("__hv"),
        )
    )
    return (
        j.select(
            "doc_id",
            "source",
            "__full",
            "__frac",
            "__hv",
            F.explode(F.sequence(F.lit(0), F.col("__full"))).alias("epoch"),
        )
        .filter(
            (F.col("epoch") < F.col("__full"))
            | (F.col("__hv") < F.col("__frac") * F.lit(4294967296.0))
        )
        .select("doc_id", "source", F.col("epoch").cast("int").alias("epoch"))
    )


def train_mix_materialize_oracle(
    target_tokens: int = BUDGET_TARGET_TOKENS,
    alpha: float = MIXTURE_ALPHA,
    epoch_cap: float = BUDGET_EPOCH_CAP,
) -> str:
    """Composed oracle: the plan CTE verbatim, the same md5-uint32
    nibble arithmetic (the `png_meta` strpos pattern — DuckDB has no
    hex-string CAST), the same inclusive epoch series and gate."""
    hexd = "'0123456789abcdef'"
    h = "md5(source || '|' || doc_id)"
    hv = " + ".join(
        f"(strpos({hexd}, substr({h}, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"""
WITH plan AS ({token_budget_plan_oracle(target_tokens, alpha, epoch_cap)}),
j AS (
    SELECT d.doc_id, d.source,
           CAST(floor(p.capped_epochs) AS INTEGER) AS f,
           p.capped_epochs - floor(p.capped_epochs) AS frac,
           {hv} AS hv
    FROM documents d JOIN plan p USING (source)
    WHERE d.text IS NOT NULL
),
e AS (
    SELECT doc_id, source, f, frac, hv,
           unnest(generate_series(0, f)) AS epoch
    FROM j
)
SELECT doc_id, source, CAST(epoch AS INTEGER) AS epoch
FROM e
WHERE epoch < f OR hv < frac * 4294967296.0
"""


# --------------------------------------------------------------------------
# packing-efficiency report
# --------------------------------------------------------------------------


def packing_efficiency(documents: DataFrame, budget: int = PACK_BUDGET) -> DataFrame:
    """Context-window utilization audit over :func:`pack_sequences`'
    layout: per (lang, shard) stream — bins consumed, fill rate of the
    consumed bins, and how many docs span a bin boundary (the rows a
    loader must split).  The tail bin of every stream is partially
    full by construction; fill_rate prices exactly that waste plus
    boundary effects, which is the number that decides whether the
    shard count / budget choice is leaving GPU-hours on the table.

    Derivation is pure aggregate algebra over the packing frame: the
    stream is contiguous, so ``bins_used = ceil(total_tokens/budget)``
    — no distinct-count over bin ids needed (a doc spanning three bins
    leaves the middle bin start-free; a distinct count would miss it).
    One corpus scan + the packing window + a (lang, shard)-keyed
    partial agg.
    """
    packed = pack_sequences(documents, budget)
    return (
        packed.groupBy("lang", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(F.when(F.col("spans_bins"), 1).otherwise(0)).alias("n_spanning"),
        )
        .select(
            "lang",
            "shard",
            "n_docs",
            "total_tokens",
            F.ceil(F.col("total_tokens") / budget).alias("bins_used"),
            floor_round(
                F.col("total_tokens")
                / (F.ceil(F.col("total_tokens") / budget) * budget),
                6,
            ).alias("fill_rate"),
            "n_spanning",
        )
    )


def packing_efficiency_oracle(budget: int = PACK_BUDGET) -> str:
    return f"""
WITH packed AS ({pack_sequences_oracle(budget)})
SELECT lang, shard, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(ceil(sum(n_tokens) * 1.0 / {budget}) AS BIGINT) AS bins_used,
       floor(sum(n_tokens) * 1.0
             / (ceil(sum(n_tokens) * 1.0 / {budget}) * {budget})
             * 1000000.0 + 0.5) / 1000000.0 AS fill_rate,
       CAST(sum(CASE WHEN spans_bins THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
FROM packed
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# corpus drift monitor (distribution shift between snapshots)
# --------------------------------------------------------------------------


def corpus_drift(documents: DataFrame) -> DataFrame:
    """Jensen–Shannon divergence between the token distributions of
    two corpus snapshots — the drift alarm a continuously-ingesting
    training pipeline watches (a jump means the crawl mix changed:
    new domain, encoding regression, spam flood) before the damage
    reaches a training run.

    Snapshot convention matches :func:`..dedup.incremental_dedup`:
    even doc_ids are the reference snapshot, odd the new one.  JS is
    computed exactly over the full shared vocabulary: one corpus scan
    to token counts (one shuffle, vocabulary cardinality), totals as a
    1-row broadcast aggregate, the KL terms map-side, one final 1-row
    sum.  Output: one row — token/vocab volumes, overlap, and
    ``js_divergence`` in bits (0 = identical mix, 1 = disjoint).
    """
    toks = documents.select(
        (F.col("doc_id") % 2).alias("slice"),
        F.explode(F.split(F.trim(normalize_text(F.col("text"))), " ")).alias("tok"),
    ).filter(F.length("tok") > 0)
    # the vocabulary-cardinality counts feed BOTH the totals scalar and
    # the KL terms; localCheckpoint materializes the corpus reduction
    # once so the corpus is scanned exactly once (not once per branch)
    counts = (
        toks.groupBy("tok")
        .agg(
            F.sum(F.when(F.col("slice") == 0, 1).otherwise(0)).alias("c_ref"),
            F.sum(F.when(F.col("slice") == 1, 1).otherwise(0)).alias("c_new"),
        )
        .localCheckpoint(eager=True)
    )
    totals = counts.agg(
        F.sum("c_ref").alias("t_ref"), F.sum("c_new").alias("t_new")
    )
    # try_divide, not `/`: under ANSI mode (default in Spark 4) a plain
    # division against an empty slice's zero total throws DIVIDE_BY_ZERO
    # inside the sum() even though the outer F.when guards the projected
    # scalar — the per-row KL terms still execute.  NULL terms collapse
    # to the guarded NULL js_divergence the degenerate-input contract
    # promises.
    p = F.try_divide(F.col("c_ref"), F.col("t_ref"))
    q = F.try_divide(F.col("c_new"), F.col("t_new"))
    m = (p + q) / 2
    term_p = F.when(F.col("c_ref") > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
    term_q = F.when(F.col("c_new") > 0, q * F.log2(q / m)).otherwise(F.lit(0.0))
    return (
        counts.crossJoin(F.broadcast(totals))
        .agg(
            F.max("t_ref").alias("n_ref_tokens"),
            F.max("t_new").alias("n_new_tokens"),
            F.sum(F.when(F.col("c_ref") > 0, 1).otherwise(0)).alias("vocab_ref"),
            F.sum(F.when(F.col("c_new") > 0, 1).otherwise(0)).alias("vocab_new"),
            F.sum(
                F.when((F.col("c_ref") > 0) & (F.col("c_new") > 0), 1).otherwise(0)
            ).alias("vocab_shared"),
            # degenerate snapshot (an empty slice) yields NULL, not a
            # divide-by-zero crash — a monitor must tolerate exactly
            # this input (ANSI mode errors on x/0)
            F.when(
                (F.max("t_ref") > 0) & (F.max("t_new") > 0),
                floor_round(0.5 * F.sum(term_p) + 0.5 * F.sum(term_q), 6),
            ).alias("js_divergence"),
        )
    )


def corpus_drift_oracle() -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH toks AS (
    SELECT doc_id % 2 AS slc,
           unnest(string_split(trim({norm}), ' ')) AS tok
    FROM documents
),
counts AS (
    SELECT tok,
           sum(CASE WHEN slc = 0 THEN 1 ELSE 0 END) AS c_ref,
           sum(CASE WHEN slc = 1 THEN 1 ELSE 0 END) AS c_new
    FROM toks WHERE length(tok) > 0 GROUP BY 1
),
tot AS (SELECT sum(c_ref) AS t_ref, sum(c_new) AS t_new FROM counts)
SELECT CAST(max(t.t_ref) AS BIGINT) AS n_ref_tokens,
       CAST(max(t.t_new) AS BIGINT) AS n_new_tokens,
       CAST(sum(CASE WHEN c_ref > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_ref,
       CAST(sum(CASE WHEN c_new > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_new,
       CAST(sum(CASE WHEN c_ref > 0 AND c_new > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS vocab_shared,
       CASE WHEN max(t.t_ref) > 0 AND max(t.t_new) > 0 THEN
       floor((0.5 * sum(CASE WHEN c_ref > 0 THEN
                 (c_ref * 1.0 / t.t_ref)
                 * log2((c_ref * 1.0 / t.t_ref)
                        / (((c_ref * 1.0 / t.t_ref) + (c_new * 1.0 / t.t_new)) / 2))
                 ELSE 0 END)
           + 0.5 * sum(CASE WHEN c_new > 0 THEN
                 (c_new * 1.0 / t.t_new)
                 * log2((c_new * 1.0 / t.t_new)
                        / (((c_ref * 1.0 / t.t_ref) + (c_new * 1.0 / t.t_new)) / 2))
                 ELSE 0 END)) * 1000000.0 + 0.5) / 1000000.0 END AS js_divergence
FROM counts, tot t
"""


# --------------------------------------------------------------------------
# shipped-blocklist gate (C4-style badwords filter)
# --------------------------------------------------------------------------

#: the deploy-time blocklist artifact (C4 §2.2 filters documents whose
#: tokens hit a published word list — the list itself is an input, like
#: the shipped BPE vocab and classifier weights; these placeholders hit
#: the synthetic corpus so both branches of the gate are exercised)
BLOCKLIST_TERMS = ("slow", "spam", "xxx")


def badwords_filter(documents: DataFrame, terms: tuple = BLOCKLIST_TERMS) -> DataFrame:
    """Blocklist token gate — the C4 badwords stage: a document is
    dropped when ANY normalized token matches the shipped list, and
    the decision is auditable per doc (matched count, first matched
    term, matched fraction).

    Scale shape: the list is a literal IN predicate inside one
    codegen ``filter`` over the token array — map-only, zero shuffles,
    zero joins (a blocklist of thousands would broadcast-join the
    exploded tokens instead; the literal form is the small-list fast
    path).  NULL text emits no row (the decontaminate convention).
    Zero-length tokens are dropped before counting (the ``ngram_lm``
    convention — r10, ADVICE r9: an empty/whitespace-only doc has
    n_words=0 and a NULL blocked_frac, not a phantom empty token).
    """
    toks = F.filter(
        F.split(F.trim(normalize_text(F.col("text"))), " "),
        lambda w: F.length(w) > 0,
    )
    blocked = F.filter(toks, lambda w: w.isin(*terms))
    return documents.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.size(blocked).alias("n_blocked"),
        # F.get is out-of-bounds-NULL under ANSI (element_at throws)
        F.get(blocked, 0).alias("first_blocked"),
        F.when(
            F.size(toks) > 0, floor_round(F.size(blocked) / F.size(toks), 6)
        ).alias("blocked_frac"),
        (F.size(blocked) == 0).alias("keep"),
    )


def badwords_filter_oracle(terms: tuple = BLOCKLIST_TERMS) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    lst = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH g AS (
    SELECT doc_id,
           list_filter(string_split(trim({norm}), ' '),
                       x -> length(x) > 0) AS t,
           list_filter(string_split(trim({norm}), ' '),
                       x -> length(x) > 0 AND x IN ({lst})) AS bl
    FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(len(t) AS INTEGER)  AS n_words,
       CAST(len(bl) AS INTEGER) AS n_blocked,
       bl[1] AS first_blocked,
       CASE WHEN len(t) > 0 THEN
           floor(len(bl) * 1.0 / len(t) * 1000000.0 + 0.5) / 1000000.0
       END AS blocked_frac,
       len(bl) = 0 AS keep
FROM g
"""
