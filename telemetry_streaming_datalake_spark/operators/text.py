"""Text analysis: token/quality statistics, language ID, fingerprints.

All pure built-in column expressions (codegen, zero Python in the row
path) so the same code that handles 500 test docs handles a 100 TB
crawl shard.  Counting tricks (replace-based substring counts) are
chosen so the DuckDB oracle computes *identical* integers.
"""

from __future__ import annotations

import operator
import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.operators.dedup import normalize_text
from telemetry_streaming_datalake_spark.operators.derived import floor_round
from telemetry_streaming_datalake_spark.session import load_table, scratch_cache


def _count_occurrences(col, needle: str):
    """Occurrences of ``needle`` via length differencing (identical
    semantics in every SQL engine, unlike regex dialects)."""
    return (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit("")))) / len(needle)


# English marker stopwords behind the quality gates' stop-hit feature
# (padded with spaces so only whole words count)
STOPWORD_MARKERS = [" the ", " a ", " and ", " of "]


def _doc_features() -> dict:
    """The shared C4/Gopher document-feature expressions (ONE
    definition): normalized text, word list, word/char/space counts,
    mean word length, alphabetic-word fraction, and English stopword
    hits.  `text_quality`, `gopher_filter`, and `quality_classifier`
    all derive from this dict — a feature change lands once instead of
    drifting across three copies (and three oracle twins, via
    :func:`_doc_features_sql`).  Cached as an unresolved-Column dict
    (`exprcache`): the gate rides every crawl-ingest micro-batch, so
    the stop-hit `replace` chain's construction cost is per-batch."""
    from telemetry_streaming_datalake_spark.operators.exprcache import (
        cached_cols,
    )

    return cached_cols("text.doc_features", _doc_features_build)


def _doc_features_build() -> dict:
    norm = normalize_text(F.col("text"))
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    words = F.split(F.trim(norm), " ")
    n_words = F.size(words)
    n_chars = F.length(norm)
    n_spaces = n_chars - F.length(F.replace(norm, F.lit(" "), F.lit("")))
    stop_hits = None
    for m in STOPWORD_MARKERS:
        c = _count_occurrences(padded, m)
        stop_hits = c if stop_hits is None else stop_hits + c
    return {
        "norm": norm,
        "padded": padded,
        "words": words,
        "n_words": n_words,
        "n_chars": n_chars,
        "n_spaces": n_spaces,
        "mean_word_len": (n_chars - n_spaces) / n_words,
        "alpha_frac": F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
        / n_words,
        "stop_hits": stop_hits,
    }


def _doc_features_sql() -> dict:
    """DuckDB twin of :func:`_doc_features` (same one-definition
    discipline for the oracle side)."""
    norm = _NORM_SQL
    padded = f"(' ' || {norm} || ' ')"
    words = f"string_split(trim({norm}), ' ')"
    n_words = f"len({words})"
    n_chars = f"length({norm})"
    n_spaces = f"(length({norm}) - length(replace({norm}, ' ', '')))"
    return {
        "norm": norm,
        "padded": padded,
        "words": words,
        "n_words": n_words,
        "n_chars": n_chars,
        "n_spaces": n_spaces,
        "mean_word_len": f"(({n_chars} - {n_spaces}) * 1.0 / {n_words})",
        "alpha_frac": (
            f"(len(list_filter({words}, w -> regexp_matches(w, '[a-z]')))"
            f" * 1.0 / {n_words})"
        ),
        "stop_hits": "("
        + " + ".join(_count_sql(padded, m) for m in STOPWORD_MARKERS)
        + ")",
    }


def _floor6_sql(expr: str) -> str:
    """Floor-form 6dp rounding (SURVEY §6) as oracle SQL."""
    return f"floor(({expr}) * 1000000.0 + 0.5) / 1000000.0"


def text_quality(documents: DataFrame) -> DataFrame:
    """Token count, char stats, alpha/space ratios, quality score.

    Mirrors the length/punctuation/stopword quality filters used by
    public LLM-corpus pipelines (C4/Gopher-style rules).
    """
    ft = _doc_features()
    n_tokens, stop_hits = ft["n_words"], ft["stop_hits"]
    # floor_round (SURVEY §6): every output here is division-derived,
    # and quality_score additionally gates row membership downstream
    # (quality_percentile_gate) — the worst midpoint-flip class
    return documents.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.alias("n_tokens"),
        ft["n_chars"].alias("n_chars_norm"),
        floor_round(ft["mean_word_len"], 6).alias("avg_token_len"),
        floor_round(stop_hits / n_tokens, 6).alias("stopword_ratio"),
        floor_round(
            F.least(n_tokens / 100.0, F.lit(1.0)) * 0.5
            + F.least(stop_hits / n_tokens * 5.0, F.lit(1.0)) * 0.5,
            6,
        ).alias("quality_score"),
    )


# --------------------------------------------------------------------------
# model-based language ID (shipped char-bigram log-odds model)
# --------------------------------------------------------------------------

#: per-language seed text the shipped model is trained from at import
#: time: the language's highest-frequency function words (the classic
#: stopword-profile signal — public frequency-list knowledge), space
#: joined so the padded bigrams capture word boundaries.  Function
#: words are the strongest short-context discriminator a char-n-gram
#: model can learn (Cavnar & Trenkle 1994); a single-sentence seed
#: (the first cut of this operator) generalized too poorly — common
#: words that never appeared in the sentence scored zero.  In
#: production this seed is replaced by a real training corpus; the
#: TRAINING procedure below (Laplace log-odds over padded character
#: bigrams) and the APPLY path are what this operator ships — the
#: langid.py / fastText char-n-gram posture reduced to its
#: deterministic core.
_LANGID_SEED = {
    "en": (
        "the of and to in is was he for it with as his on be at by i "
        "this had not are but from or have an they which one you were "
        "her all she there would their we him been has when who will "
        "more no if out so said what up its about into than them can "
        "only other new some could time these two may then do first any "
        "my now such like our over man me even most made after also did "
        "many before must through back years where much your way well"
    ),
    "de": (
        "der die und in den von zu das mit sich des auf für ist im dem "
        "nicht ein eine als auch es an werden aus er hat dass sie nach "
        "wird bei einer um am sind noch wie einem über einen so zum war "
        "haben nur oder aber vor zur bis mehr durch man sein wurde sei "
        "schon wenn haben seine ihre dann unter wir soll ich jahr zwei "
        "diese wieder uhr allem während können müssen sagte machen"
    ),
    "fr": (
        "de la le et les des en un du une est que dans qui par pour sur "
        "se plus pas au sont avec ne son ses mais comme il aux ce cette "
        "ont être fait été aussi leur bien où sans peut cela ces deux "
        "nous comme mais pouvoir autre après votre notre toujours entre "
        "encore tous jamais très quand même faire voir donner chez"
    ),
    "es": (
        "de la que el en y a los se del las un por con no una su para "
        "es al lo como más pero sus le ya o este sí porque esta entre "
        "cuando muy sin sobre también me hasta hay donde quien desde "
        "todo nos durante todos uno les ni contra otros ese eso ante "
        "ellos e esto mí antes algunos qué unos yo otro otras otra él"
    ),
    "zh": (
        "的 一 是 了 我 不 人 在 他 有 这 个 上 们 来 到 时 大 地 为 子 "
        "中 你 说 生 国 年 着 就 那 和 要 她 出 也 得 里 后 自 以 会 家 "
        "可 下 而 过 天 去 能 对 小 多 然 于 心 学 么 之 都 好 看 起 发 "
        "当 没 成 只 如 事 把 还 用 第 样 道 想 作 种 开"
    ),
}

#: grams kept per language — big enough to separate the Romance pair
#: (fr/es share many bigrams; 32 bigram-only left fr→es errors on the
#: validation snippets, 40 mixed-order is clean), small enough that
#: the apply stays a bounded codegen expression (5×40 = 200 count
#: terms in one projection)
LANGID_TOP_K = 40

#: char-gram orders pooled into one feature space: unigrams for the
#: script regimes (a single CJK char is near-proof of Chinese, whose
#: space-joined seed would otherwise only yield space-flanked bigrams
#: that never fire inside real unspaced Chinese text; accented
#: unigrams é ü ñ split the European pairs), bigrams for volume,
#: trigrams for word-shape (les/des/que vs los/del/qué)
LANGID_ORDERS = (1, 2, 3)


def _train_langid(
    seed: dict[str, str] = _LANGID_SEED,
    top_k: int = LANGID_TOP_K,
    orders: tuple[int, ...] = LANGID_ORDERS,
) -> dict[str, dict[str, float]]:
    """Train the shipped model: per-language padded-char n-gram counts
    (orders pooled into one feature space) → Laplace-smoothed log-odds
    vs the pooled background → keep the ``top_k`` most discriminative
    positive-weight grams per language, weights rounded to 6dp so both
    engines apply identical literals.  Pure deterministic Python at
    import time (no RNG, no I/O)."""
    import math
    from collections import Counter

    per: dict[str, Counter] = {}
    bg: Counter = Counter()
    for lang, txt in seed.items():
        padded = f" {txt} "
        c: Counter = Counter()
        for o in orders:
            if o == 1:
                c.update(ch for ch in padded if ch != " ")
            else:
                c.update(padded[i : i + o] for i in range(len(padded) - o + 1))
        per[lang] = c
        bg.update(c)
    vocab = len(bg)
    n_bg = sum(bg.values())
    model: dict[str, dict[str, float]] = {}
    for lang, c in per.items():
        n = sum(c.values())
        scored = {
            g: round(
                math.log((k + 1) / (n + vocab)) - math.log((bg[g] + 1) / (n_bg + vocab)),
                6,
            )
            for g, k in c.items()
        }
        # tie-break: shorter gram first — at equal evidence the more
        # general feature (a bare CJK char vs the same char flanked by
        # the seed's artificial spaces) fires on more real text
        top = sorted(
            ((g, w) for g, w in scored.items() if w > 0),
            key=lambda kv: (-kv[1], len(kv[0]), kv[0]),
        )[:top_k]
        # gram-sorted insertion order → both engines build the score
        # sum in the same syntactic (hence IEEE-identical) order
        model[lang] = dict(sorted(top))
    return model


#: the shipped artifact: {lang: {bigram: 6dp log-odds weight}}
LANGID_NGRAM_WEIGHTS = _train_langid()


def lang_id_model(documents: DataFrame) -> DataFrame:
    """Model-based language ID with a SHIPPED character-bigram
    log-odds model — the fastText/langid.py posture: score(lang) =
    Σ count(g)·w(lang,g) over the model's bigrams, argmax with
    deterministic first-wins tie-break, NULL/empty text → 'und'.

    Scale shape: map-only — the model is literal weights inside ONE
    codegen projection (replace-based substring counts, the
    `_count_occurrences` trick), zero shuffles, zero joins, zero
    Python in the row path.  A model with 10⁵+ grams would switch to
    gram-explode + broadcast weight join; at this artifact size the
    literal form is strictly cheaper (no explode blow-up of the 100 TB
    corpus).  Engine parity: counts are exact integers, weights are
    6dp literals, and both engines sum in the same syntactic order —
    bit-identical scores, and — belt over the suspenders — the argmax
    and margin are decided on the floor-rounded 6dp scores (the exact
    values both engines EMIT), so pred/margin parity no longer rests
    on bit-identical raw sums: any future constant-folding or FMA
    drift that survives the 6dp quantization cannot flip the decision.
    """
    from telemetry_streaming_datalake_spark.operators.exprcache import (
        cached_cols,
    )

    # ~1,000-node tree (200 count expressions + argmax CASE chains);
    # built once per process (`exprcache`) — construction alone is a
    # measurable slice of every timed run of this key
    score_cols, out_cols = cached_cols("text.langid", _lang_id_cols)
    base = documents.select(
        "doc_id",
        "lang",
        F.concat(F.lit(" "), normalize_text(F.col("text")), F.lit(" ")).alias(
            "padded"
        ),
    )
    scored = base.select("doc_id", "lang", *score_cols)
    return scored.select("doc_id", "lang", *out_cols)


def _lang_id_cols():
    scores = {}
    for lang, grams in LANGID_NGRAM_WEIGHTS.items():
        s = F.lit(0.0)
        for g, w in grams.items():
            s = s + _count_occurrences(F.col("padded"), g) * F.lit(w)
        # quantize BEFORE the argmax: the decision rides the emitted
        # representation, not the raw accumulation
        scores[lang] = floor_round(s, 6)
    score_cols = [scores[lang].alias(f"s_{lang}") for lang in scores]
    cols = {lang: F.col(f"s_{lang}") for lang in LANGID_NGRAM_WEIGHTS}
    best = F.greatest(*cols.values())
    undetermined = F.col("s_en").isNull() | (best == 0.0)
    pred = F.when(undetermined, F.lit("und"))
    margin = F.when(undetermined, F.lit(None).cast("double"))
    langs = list(cols)
    for lang in langs:  # insertion order = tie-break priority
        others = [cols[o] for o in langs if o != lang]
        pred = pred.when(cols[lang] == best, F.lit(lang))
        margin = margin.when(cols[lang] == best, best - F.greatest(*others))
    out_cols = [
        *[cols[lang].alias(f"score_{lang}") for lang in langs],
        pred.alias("lang_pred"),
        floor_round(margin, 6).alias("margin"),
        (pred == F.col("lang")).alias("matches_label"),
    ]
    return score_cols, out_cols


def lang_id_model_oracle() -> str:
    norm = _NORM_SQL
    padded = "padded"
    score_sql = {}
    for lang, grams in LANGID_NGRAM_WEIGHTS.items():
        terms = " + ".join(f"{_count_sql(padded, g)} * {w}" for g, w in grams.items())
        # quantize BEFORE the argmax — mirrors the Spark side exactly
        score_sql[lang] = _floor6_sql(f"(0.0 + {terms})")
    langs = list(LANGID_NGRAM_WEIGHTS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    und = f"(s_en IS NULL OR {best} = 0.0)"
    pred_cases = " ".join(f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs)
    margin_cases = " ".join(
        f"WHEN s_{lang} = {best} THEN {best} - greatest("
        + ", ".join(f"s_{o}" for o in langs if o != lang)
        + ")"
        for lang in langs
    )
    score_cols = ", ".join(f"s_{lang} AS score_{lang}" for lang in langs)
    return f"""
WITH g AS (
    SELECT doc_id, lang, (' ' || {norm} || ' ') AS padded FROM documents
),
c AS (
    SELECT doc_id, lang,
           {", ".join(f"{score_sql[lang]} AS s_{lang}" for lang in langs)}
    FROM g
)
SELECT doc_id, lang, {score_cols},
       CASE WHEN {und} THEN 'und' {pred_cases} END AS lang_pred,
       {_floor6_sql(f"CASE WHEN {und} THEN NULL {margin_cases} END")} AS margin,
       (CASE WHEN {und} THEN 'und' {pred_cases} END) = lang AS matches_label
FROM c
"""


def doc_fingerprint(documents: DataFrame, window: int = 16) -> DataFrame:
    """Winnowing-style fingerprint: the minimum md5 over all
    ``window``-char shingles of the normalized text, plus the content
    hash.  Two near-identical docs share fingerprints with high
    probability; used as a cheap pre-cluster key."""
    norm = normalize_text(F.col("text"))
    n_shingles = F.greatest(F.length(norm) - (window - 1), F.lit(1))
    # explode + min-aggregate rather than transform/array_min: Spark's
    # higher-order functions are CodegenFallback (interpreted per
    # element), while this shape keeps md5 + min inside whole-stage
    # codegen with map-side partial aggregation — the shuffle carries
    # one row per doc, not per shingle.
    base = documents.select(
        "doc_id",
        norm.alias("norm"),
        F.md5(norm).alias("content_hash"),
        n_shingles.alias("n_shingles"),
    ).repartition(documents.sparkSession.sparkContext.defaultParallelism, "doc_id")
    ex = base.select(
        "doc_id",
        "content_hash",
        "n_shingles",
        "norm",
        F.explode(F.sequence(F.lit(1), F.col("n_shingles"))).alias("i"),
    ).select(
        "doc_id",
        "content_hash",
        "n_shingles",
        F.md5(F.col("norm").substr(F.col("i"), F.lit(window))).alias("mh"),
    )
    return ex.groupBy("doc_id").agg(
        F.min("mh").alias("fingerprint"),
        F.max("content_hash").alias("content_hash"),
        F.max("n_shingles").alias("n_shingles"),
    ).select("doc_id", "fingerprint", "content_hash", "n_shingles")


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def _count_sql(padded_sql: str, needle: str) -> str:
    n = needle.replace("'", "''")
    return f"(length({padded_sql}) - length(replace({padded_sql}, '{n}', ''))) / {len(needle)}"


def text_quality_oracle() -> str:
    ft = _doc_features_sql()
    n_tokens, stop = ft["n_words"], ft["stop_hits"]
    score = (
        f"least({n_tokens} / 100.0, 1.0) * 0.5"
        f" + least({stop} / {n_tokens} * 5.0, 1.0) * 0.5"
    )
    return f"""
SELECT doc_id, lang, source,
       {n_tokens} AS n_tokens,
       {ft["n_chars"]} AS n_chars_norm,
       {_floor6_sql(ft["mean_word_len"])} AS avg_token_len,
       {_floor6_sql(f"{stop} * 1.0 / {n_tokens}")} AS stopword_ratio,
       {_floor6_sql(score)} AS quality_score
FROM documents
"""


#: default keep fraction for the percentile gate (keep the top half)
QUALITY_GATE_Q = 0.5


def quality_percentile_gate(documents: DataFrame, q: float = QUALITY_GATE_Q) -> DataFrame:
    """Per-language percentile quality gate — the curation stage that
    keeps the top ``(1-q)`` quality fraction of EACH language instead
    of one global cutoff (a global threshold starves low-resource
    languages whose score distribution sits lower; per-language
    percentile gating is the CC-net / fineweb posture).

    Two map-friendly passes, NO per-row rank window: (1) the per-lang
    threshold is one exact interpolated percentile aggregate over the
    6dp-rounded scores — language cardinality output, broadcast back;
    (2) the gate is a map-only filter against the broadcast threshold.
    A percent_rank window would shuffle-and-sort the whole corpus into
    |languages| partitions (catastrophic skew at 2-20 languages); the
    aggregate form keeps map-side partials and never sorts the corpus.
    At 100 TB swap `percentile` for `percentile_approx` — same plan
    shape, documented epsilon.
    """
    tq = text_quality(documents).select("doc_id", "lang", "quality_score")
    # floor_round, not F.round: the threshold is INTERPOLATION-derived
    # (midpoints of 6dp scores are reachable) and it gates row
    # membership — the exact SURVEY §6 midpoint-lottery class
    thr = tq.groupBy("lang").agg(
        floor_round(F.expr(f"percentile(quality_score, {q})"), 6).alias(
            "lang_threshold"
        )
    )
    return (
        tq.join(F.broadcast(thr), "lang")
        .filter(F.col("quality_score") >= F.col("lang_threshold"))
        .select("doc_id", "lang", "quality_score", "lang_threshold")
    )


def quality_percentile_gate_oracle(q: float = QUALITY_GATE_Q) -> str:
    return f"""
WITH tq AS ({text_quality_oracle()}),
thr AS (
    SELECT lang,
           floor(quantile_cont(quality_score, {q}) * 1000000.0 + 0.5)
               / 1000000.0 AS lang_threshold
    FROM tq GROUP BY lang
)
SELECT tq.doc_id, tq.lang, tq.quality_score, thr.lang_threshold
FROM tq JOIN thr USING (lang)
WHERE tq.quality_score >= thr.lang_threshold
"""


def doc_fingerprint_oracle(window: int = 16) -> str:
    norm = _NORM_SQL
    n_shingles = f"greatest(length({norm}) - {window - 1}, 1)"
    return f"""
SELECT doc_id,
       list_min([md5(substr({norm}, CAST(i AS INTEGER), {window}))
                 for i in range(1, {n_shingles} + 1)]) AS fingerprint,
       md5({norm}) AS content_hash,
       {n_shingles} AS n_shingles
FROM documents
"""


# --------------------------------------------------------------------------
# token counting (whitespace + BPE-ish regex)
# --------------------------------------------------------------------------

#: pre-tokenizer pattern: word runs OR single non-word-non-space marks —
#: the ASCII-safe core of GPT-2-style pre-tokenization, written with
#: explicit classes so the Java (Spark) and RE2 (DuckDB) dialects agree
TOKEN_REGEX = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace and regex token counts + UTF-8 byte size per doc.

    All JVM built-ins (split/regexp_extract_all/encode) — one codegen
    scan, no shuffle; the per-doc counts feed corpus token budgeting.
    """
    norm = normalize_text(F.col("text"))
    return documents.select(
        "doc_id",
        F.size(F.split(F.trim(norm), " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit(TOKEN_REGEX), F.lit(0))).alias("n_re_tokens"),
        F.length(F.encode(norm, "UTF-8")).alias("n_bytes_utf8"),
        F.length(norm).alias("n_chars"),
    )


def token_count_oracle() -> str:
    norm = _NORM_SQL
    return f"""
SELECT doc_id,
       len(string_split(trim({norm}), ' '))                       AS n_ws_tokens,
       len(regexp_extract_all({norm}, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS n_re_tokens,
       octet_length(encode({norm}))                               AS n_bytes_utf8,
       length({norm})                                             AS n_chars
FROM documents
"""


# --------------------------------------------------------------------------
# per-language top bigrams (corpus vocabulary profile)
# --------------------------------------------------------------------------

TOP_NGRAMS_K = 5


def top_ngrams(documents: DataFrame, k: int = TOP_NGRAMS_K) -> DataFrame:
    """Top-``k`` word bigrams per language (count desc, bigram asc) —
    the vocabulary profile a corpus-mixture report prints per stratum.

    Bigram generation is ``explode(sequence)`` + ``element_at`` —
    pure codegen collection expressions, no interpreted higher-order
    functions in the per-token path (the engine-wide rule from the
    dedup family).  Shape: map-side explode → one partial-agg count
    shuffle on (lang, bigram) → per-lang top-k via an in-partition
    window over the (small) distinct-bigram aggregate, not the corpus.
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(normalize_text(F.col("text"))), " ")
    base = documents.select("lang", toks.alias("toks"), F.size(toks).alias("n"))
    pos = F.explode(F.sequence(F.lit(1), F.col("n") - 1))
    grams = base.filter(F.col("n") >= 2).select(
        "lang",
        pos.alias("i"),
        "toks",
    ).select(
        "lang",
        F.concat_ws(" ", F.element_at("toks", F.col("i")), F.element_at("toks", F.col("i") + 1)).alias("bigram"),
    )
    counts = grams.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n_occurrences"))
    w = Window.partitionBy("lang").orderBy(F.col("n_occurrences").desc(), "bigram")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("lang", "rank", "bigram", "n_occurrences")
    )


def top_ngrams_oracle(k: int = TOP_NGRAMS_K) -> str:
    norm = _NORM_SQL
    return f"""
WITH d AS (
    SELECT lang, string_split(trim({norm}), ' ') AS toks FROM documents
),
grams AS (
    SELECT lang,
           toks[i] || ' ' || toks[i + 1] AS bigram
    FROM d, unnest(range(1, len(toks))) AS t(i)
    WHERE len(toks) >= 2
),
counts AS (
    SELECT lang, bigram, count(*) AS n_occurrences FROM grams GROUP BY 1, 2
)
SELECT lang, rank, bigram, n_occurrences FROM (
    SELECT lang, bigram, n_occurrences,
           row_number() OVER (PARTITION BY lang
                              ORDER BY n_occurrences DESC, bigram) AS rank
    FROM counts
) WHERE rank <= {k}
"""


# --------------------------------------------------------------------------
# TF-IDF top terms per document
# --------------------------------------------------------------------------

TFIDF_K = 3


def tfidf_top_terms(documents: DataFrame, k: int = TFIDF_K) -> DataFrame:
    """Top-``k`` characteristic terms per doc by smoothed TF-IDF
    (``tf * ln((N+1)/(df+1))``) — the keyword profile a corpus browser
    or near-dup explainer shows next to each document.

    One explode feeds BOTH frequency tables: tf = the (doc, term)
    count aggregate, df = a term-partitioned window COUNT over that
    compact result — IN PLACE, never a join-back (the join form
    re-executed tf's whole lineage for the probe side: the executed
    plan showed three corpus scans and zero ReusedExchange; the window
    form scans once for tf + once for the 1-row N count).  The corpus
    size N joins in as a broadcast 1-row aggregate (a single-row
    nested-loop broadcast is the correct scale shape for attaching a
    global scalar — the alternative, a global window, serializes on
    one partition).  Final per-doc top-k is a window over the compact
    (doc, term, score) frame, hash-partitioned by doc_id.
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(normalize_text(F.col("text"))), " ")
    terms = documents.select("doc_id", F.explode(toks).alias("term")).filter(
        F.length("term") > 0
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = documents.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df", "score")
    )


def tfidf_top_terms_oracle(k: int = TFIDF_K) -> str:
    norm = _NORM_SQL
    return f"""
WITH terms AS (
    SELECT doc_id, t.term
    FROM (SELECT doc_id, string_split(trim({norm}), ' ') AS toks FROM documents),
         unnest(toks) AS t(term)
    WHERE length(t.term) > 0
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
),
df AS (
    SELECT term, count(*) AS df FROM tf GROUP BY 1
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, rank, term, tf, df, score FROM (
    SELECT doc_id, term, tf, df, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, term) AS rank
    FROM scored
) WHERE rank <= {k}
"""


# --------------------------------------------------------------------------
# intra-document repetition (Gopher-style dup-line quality signal)
# --------------------------------------------------------------------------


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Duplicate-line fraction per doc — the repetition quality filter
    of large-corpus curation (docs dominated by repeated lines/menus/
    boilerplate score high and get dropped).

    Lines are split JVM-side, exploded, counted per (doc, line); the
    per-doc aggregate computes total vs distinct to yield the repeated
    fraction.  Two partial-agg shuffles over compact (doc_id, hash)
    rows; token-level and char-level variants would be the same shape.

    Contract: docs with NO non-empty lines (empty/whitespace-only/NULL
    text) are ABSENT from the output — both engines drop them at the
    line filter, there is no zero-row to divide.  A consumer that must
    see every doc left-joins on doc_id and coalesces dup_line_frac to
    0.0; emitting those rows here would cost a corpus-wide join for a
    degenerate case the Gopher gate already rejects on length.
    """
    lines = documents.select(
        "doc_id",
        F.explode(F.split(F.col("text"), r"\n")).alias("line"),
    ).select("doc_id", F.trim(F.lower(F.col("line"))).alias("line"))
    lines = lines.filter(F.length("line") > 0)
    per_line = lines.groupBy("doc_id", "line").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_line.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_lines"),
            F.count(F.lit(1)).alias("n_distinct_lines"),
            F.sum(F.col("n") - 1).alias("n_repeated_lines"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_distinct_lines",
            F.round(
                F.col("n_repeated_lines") / F.col("n_lines"), 6
            ).alias("dup_line_frac"),
        )
    )


def repetition_stats_oracle() -> str:
    return r"""
WITH lines AS (
    SELECT doc_id, trim(lower(l.line)) AS line
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
         unnest(ls) AS l(line)
),
nonempty AS (SELECT * FROM lines WHERE length(line) > 0),
per_line AS (
    SELECT doc_id, line, count(*) AS n FROM nonempty GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_lines,
       count(*) AS n_distinct_lines,
       round(CAST(sum(n - 1) AS DOUBLE) / sum(n), 6) AS dup_line_frac
FROM per_line GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# character-entropy score (perplexity proxy)
# --------------------------------------------------------------------------


def char_entropy(documents: DataFrame) -> DataFrame:
    """Shannon entropy of each doc's character distribution (bits) — a
    cheap perplexity proxy: gibberish/low-diversity docs sit at the
    extremes and get filtered.

    Chars explode JVM-side (``split`` on the empty-match regex) into
    (doc, char) counts, then one aggregate computes
    ``log2(N) - sum(n·log2(n))/N`` — the algebraic form that needs
    only per-char counts, no per-char probabilities (keeps the
    arithmetic associative for the partial agg).
    """
    # regexp_extract_all('(?s).') yields CODE POINTS (a zero-width
    # split pattern breaks astral-plane chars into lone surrogate
    # halves — the DuckDB oracle counts codepoints, so emoji/CJK-ext
    # text would diverge)
    chars = documents.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.col("text"), F.lit("(?s)."), 0)).alias("ch"),
    ).filter(F.length("ch") > 0)
    per_char = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_char.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_chars"),
            F.sum(F.col("n") * F.log2("n")).alias("sum_nlogn"),
        )
        .select(
            "doc_id",
            "n_chars",
            F.round(
                F.log2("n_chars") - F.col("sum_nlogn") / F.col("n_chars"), 6
            ).alias("entropy_bits"),
        )
    )


def char_entropy_oracle() -> str:
    return """
WITH chars AS (
    SELECT doc_id, c.ch
    FROM (SELECT doc_id, string_split_regex(text, '') AS cs FROM documents),
         unnest(cs) AS c(ch)
    WHERE length(c.ch) > 0
),
per_char AS (
    SELECT doc_id, ch, count(*) AS n FROM chars GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_chars,
       round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6) AS entropy_bits
FROM per_char GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# distributed BPE merge learning (tokenizer training)
# --------------------------------------------------------------------------

BPE_N_MERGES = 8


def bpe_merges(
    documents: DataFrame,
    n_merges: int = BPE_N_MERGES,
    max_vocab: int | None = None,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules over the corpus —
    the tokenizer-training step of an LLM data pipeline (Sennrich et
    al. 2016, "Neural Machine Translation of Rare Words with Subword
    Units"), distributed Spark-first:

    - ONE corpus scan reduces events to the word-frequency table
      (vocabulary cardinality — everything after this iterates over
      the tiny frame, never the corpus);
    - each round counts adjacent symbol pairs weighted by word
      frequency (a ``slice``+``arrays_zip`` explode over the vocab
      frame, one partial-agg shuffle), picks the argmax (1-row bounded
      collect — the same driver contract as dup_clusters' convergence
      count), and applies the merge map-side with a JVM ``aggregate``
      fold (pending-symbol state machine → greedy left-to-right
      non-overlapping replacement, exactly reference BPE) — no Python
      UDF anywhere;
    - per-round ``localCheckpoint`` truncates the growing lineage
      (dup_clusters discipline).

    ``max_vocab`` caps the word-frequency table to the top-V words
    (freq desc, word asc — deterministic) before iterating: at 100 TB
    the raw distinct-word count includes a long typo tail that
    standard BPE trainers truncate the same way; the cap bounds every
    iteration's frame at V rows regardless of corpus size.

    Ties break on (count desc, left, right) — fully deterministic.
    Output: one row per learned rule (merge_rank, left, right, merged,
    pair_count).  The oracle (:func:`bpe_merges_oracle`) UNROLLS the
    fixed-depth training loop into chained CTEs — one
    pair-count/argmax/apply block per merge rank — so the learned
    rules themselves are driver-hash-checked (general recursion is not
    SQL-expressible, but a compile-time-constant ``n_merges`` is just
    n chained relational rounds); ``tests/test_bpe.py`` additionally
    pins the rules against a pure-Python Sennrich reference.
    """
    learned, _vocab = _bpe_learn(documents, n_merges, max_vocab)
    return documents.sparkSession.createDataFrame(
        learned,
        "merge_rank long, left string, right string, merged string, pair_count long",
    )


def bpe_merges_oracle(n_merges: int = BPE_N_MERGES) -> str:
    """DuckDB twin of :func:`bpe_merges`: the training loop unrolled
    into ``n_merges`` chained CTE rounds.  Each round re-splits the
    tab-delimited segmentation (the :func:`tokenize_fixed_vocab_oracle`
    encoding — collision-free because normalization collapses all
    whitespace before the word split), counts OVERLAPPING adjacent
    pairs positionally (``toks[i], toks[i+1]`` over a generate_series
    unnest — a string-count would miss overlaps in runs like "aaa"),
    takes the same (count desc, left, right) argmax, and applies the
    merge as one plain replace (greedy left-to-right non-overlapping —
    exactly ``apply_merge``'s state machine).  Integer aggregates are
    CAST to BIGINT per the repo-wide no-HUGEINT oracle contract."""
    T = "\t"
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    seg_expr = (
        f"'{T}' || left(regexp_replace(word, '(.)', '\\1{T}{T}', 'g'), -1)"
    )
    parts = [
        f"""w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
    SELECT unnest(string_split(trim({norm}), ' ')) AS word FROM documents
  ) WHERE length(word) > 0 GROUP BY word
),
seg0 AS (SELECT freq, {seg_expr} AS s FROM w)"""
    ]
    for r in range(n_merges):
        parts.append(
            f"""t{r} AS (
  SELECT freq, string_split(trim(s, '{T}'), '{T}{T}') AS toks FROM seg{r}
),
p{r} AS (
  SELECT toks[i] AS l, toks[i+1] AS r, CAST(sum(freq) AS BIGINT) AS c
  FROM (SELECT freq, toks, unnest(generate_series(1, len(toks)-1)) AS i
        FROM t{r} WHERE len(toks) >= 2)
  GROUP BY 1, 2
),
top{r} AS (SELECT l, r, c FROM p{r} ORDER BY c DESC, l, r LIMIT 1),
seg{r + 1} AS (
  SELECT freq,
         replace(s, '{T}' || t.l || '{T}{T}' || t.r || '{T}',
                 '{T}' || t.l || t.r || '{T}') AS s
  FROM seg{r}, top{r} t
)"""
        )
    union = "\nUNION ALL\n".join(
        f'SELECT CAST({r} AS BIGINT) AS merge_rank, l AS "left", '
        f'r AS "right", l || r AS merged, c AS pair_count FROM top{r}'
        for r in range(n_merges)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


def _bpe_learn(
    documents: DataFrame, n_merges: int, max_vocab: int | None
) -> tuple[list[tuple], DataFrame]:
    """Shared learn loop: returns (merge rules, final vocab frame).

    The final vocab frame (word, syms, freq) is the fully-merged
    segmentation of every vocabulary word — i.e. training's last state
    IS the tokenizer applied to the vocab, which :func:`tokenize_bpe`
    joins back onto the corpus instead of re-running the merge fold.
    """
    norm = normalize_text(F.col("text"))
    words = (
        documents.select(F.explode(F.split(F.trim(norm), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("word", "freq")
    )
    if max_vocab is not None:
        from pyspark.sql import Window

        w = Window.orderBy(F.col("freq").desc(), "word")
        words = (
            words.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= max_vocab)
            .drop("__rk")
        )
    words = words.select(
        "word",
        # codepoint-true symbol alphabet (see char_entropy: a
        # zero-width split would break surrogate pairs)
        F.regexp_extract_all("word", F.lit("(?s)."), 0).alias("syms"),
        "freq",
    )
    vocab = words.localCheckpoint(eager=True)
    learned: list[tuple] = []
    for rank in range(n_merges):
        n = F.size("syms")
        pairs = (
            vocab.filter(n >= 2)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.slice("syms", 1, n - 1).alias("l"),
                        F.slice("syms", 2, n - 1).alias("r"),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("pair_count"))
        )
        top = pairs.orderBy(
            F.col("pair_count").desc(), F.col("l"), F.col("r")
        ).limit(1).collect()
        if not top:
            break
        a, b, cnt = top[0].l, top[0].r, top[0].pair_count
        learned.append((rank, a, b, a + b, cnt))
        vocab = vocab.select(
            "word", apply_merge(F.col("syms"), a, b).alias("syms"), "freq"
        ).localCheckpoint(eager=True)
    return learned, vocab


def apply_merge(syms_col, a: str, b: str):
    """One BPE merge rule applied to a symbol array column: greedy
    left-to-right non-overlapping replacement of adjacent (a, b) with
    a+b, as a JVM ``aggregate`` fold with a pending-symbol state
    machine — exactly reference BPE application, no Python in the row
    path.  Shared by the learn loop (which derives each rule from the
    pair argmax) and :func:`tokenize_fixed_vocab` (which applies a
    shipped rule list)."""
    al, bl, ml = F.lit(a), F.lit(b), F.lit(a + b)
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pending"),
    )

    def step(acc, x):
        return (
            F.when(
                acc["pending"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("pending")),
            )
            .when(
                (acc["pending"] == al) & (x == bl),
                F.struct(
                    F.concat(acc["out"], F.array(ml)).alias("out"),
                    F.lit(None).cast("string").alias("pending"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pending"])).alias("out"),
                    x.alias("pending"),
                )
            )
        )

    finish = lambda acc: F.when(  # noqa: E731
        acc["pending"].isNull(), acc["out"]
    ).otherwise(F.concat(acc["out"], F.array(acc["pending"])))
    return F.aggregate(syms_col, acc0, step, finish)


def tokenize_bpe(
    documents: DataFrame,
    n_merges: int = BPE_N_MERGES,
    max_vocab: int | None = None,
) -> DataFrame:
    """Apply the corpus-learned BPE tokenizer back over the corpus —
    the tokenizer-APPLICATION half of the Sennrich pipeline (learn:
    :func:`bpe_merges`): per doc, word count, BPE token count, and
    tokens-per-word — the number that decides whether n_merges is
    sized right before a full training-data tokenization run.

    Scale shape: training's final vocab state already holds every
    vocabulary word fully segmented (``_bpe_learn`` keeps the word
    key), so application is a corpus explode + ONE word-keyed equi-
    join against the vocabulary-cardinality segmentation frame (AQE
    broadcasts it when small) + a doc-keyed partial agg — the corpus
    is never re-folded.  With ``max_vocab`` set, out-of-vocab words
    fall back to character segmentation (coalesce on the join), the
    same behavior a capped trainer exhibits; counts stay exact.

    Rows-only correctness (the merge learning inside is iterative,
    not SQL); ``tests/test_bpe.py`` pins per-doc token counts against
    the pure-Python Sennrich reference.
    """
    _learned, vocab = _bpe_learn(documents, n_merges, max_vocab)
    seg = vocab.select(
        "word", F.size("syms").alias("word_tokens")
    )
    norm = normalize_text(F.col("text"))
    doc_words = documents.select(
        "doc_id", F.explode(F.split(F.trim(norm), " ")).alias("word")
    ).filter(F.length("word") > 0)
    joined = doc_words.join(seg, "word", "left").select(
        "doc_id",
        # OOV under a vocab cap: character segmentation fallback
        F.col("word_tokens").isNull().alias("oov"),
        F.coalesce("word_tokens", F.length("word")).alias("word_tokens"),
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("word_tokens").alias("n_bpe_tokens"),
        floor_round(F.sum("word_tokens") / F.count(F.lit(1)), 6).alias(
            "tokens_per_word"
        ),
        # the char-fallback approximation made visible (ADVICE r6): how
        # many words fell out of the capped vocab, and what share of
        # the token count the fallback contributes — consumers can see
        # how much of tokens_per_word is approximation, instead of a
        # silent overestimate
        F.sum(F.when(F.col("oov"), 1).otherwise(0)).alias("n_oov_words"),
        F.round(
            F.sum(F.when(F.col("oov"), F.col("word_tokens")).otherwise(0))
            / F.sum("word_tokens"),
            6,
        ).alias("oov_token_share"),
    )


#: a shipped tokenizer vocabulary: the fixed merge-rule list a
#: production pipeline trains ONCE (``bpe_merges``) and then applies
#: everywhere — common English subword merges, applied in list order
FIXED_BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("e", "n"), ("a", "t"), ("o", "r"),
    ("e", "s"), ("s", "t"), ("a", "r"), ("a", "l"), ("in", "g"),
    ("an", "d"), ("o", "u"), ("i", "t"), ("i", "s"), ("o", "f"),
]


def tokenize_fixed_vocab(
    documents: DataFrame,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Apply a SHIPPED merge-rule list over the corpus — the
    tokenizer-application half of the BPE pipeline in its production
    shape (train once with :func:`bpe_merges`, freeze the vocab, apply
    to every corpus after): per doc, word count, token count under the
    fixed vocab, and tokens-per-word.

    Scale shape is :func:`tokenize_bpe`'s: the merge folds run over
    the DISTINCT-word frame (vocabulary cardinality, one shuffle), and
    the corpus pays one word-keyed equi-join — never a per-corpus-row
    fold.  Because the rule list is data-independent, the application
    is fully SQL-expressible (each merge is one greedy left-to-right
    replace in rank order — rules apply in order and a merged pair of
    ORIGINAL tokens can never become adjacent again, so chained
    replaces are exactly reference BPE application), which makes this
    the driver-green gate twin of the rows-only learned path.
    """
    rules = FIXED_BPE_MERGES if merges is None else merges
    norm = normalize_text(F.col("text"))
    doc_words = documents.select(
        "doc_id", F.explode(F.split(F.trim(norm), " ")).alias("word")
    ).filter(F.length("word") > 0)
    if merges is None:
        # the shipped-rule fast path rides the process-cached composed
        # chain (construction is per-plan cost in bench/driver runs)
        from telemetry_streaming_datalake_spark.operators.exprcache import (
            cached_cols,
        )

        seg = (
            doc_words.select("word")
            .distinct()
            .select(
                "word",
                cached_cols(
                    "text.fixed_merge_chain", _fixed_merge_chain_col
                ).alias("syms"),
            )
        )
    else:
        seg = (
            doc_words.select("word")
            .distinct()
            .select(
                "word",
                # codepoint-true symbols (see char_entropy)
                F.regexp_extract_all("word", F.lit("(?s)."), 0).alias("syms"),
            )
        )
        for a, b in rules:
            seg = seg.select(
                "word", apply_merge(F.col("syms"), a, b).alias("syms")
            )
    seg = seg.select("word", F.size("syms").alias("word_tokens"))
    joined = doc_words.join(seg, "word")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("word_tokens").alias("n_bpe_tokens"),
        floor_round(F.sum("word_tokens") / F.count(F.lit(1)), 6).alias(
            "tokens_per_word"
        ),
    )


def tokenize_fixed_vocab_oracle(
    merges: list[tuple[str, str]] | None = None,
) -> str:
    """DuckDB twin: each word becomes a tab-delimited token string
    ("\\tt\\t\\th\\t\\te\\t"), each merge rule one plain (non-regex)
    replace in rank order, token count = inter-token "\\t\\t"
    separators + 1.  Tabs cannot survive inside a normalized word
    (``\\s+`` collapses to single spaces in BOTH engines before the
    word split), so the delimiter is collision-free by construction."""
    rules = FIXED_BPE_MERGES if merges is None else merges
    T = "\t"
    expr = (
        f"'{T}' || left(regexp_replace(word, '(.)', '\\1{T}{T}', 'g'), -1)"
    )
    for a, b in rules:
        expr = f"replace({expr}, '{T}{a}{T}{T}{b}{T}', '{T}{a}{b}{T}')"
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH doc_words AS (
    SELECT doc_id, unnest(string_split(trim({norm}), ' ')) AS word
    FROM documents
),
nonempty AS (SELECT * FROM doc_words WHERE length(word) > 0),
seg AS (
    SELECT word,
           (length(s) - length(replace(s, '{T}{T}', '{T}'))) + 1 AS word_tokens
    FROM (SELECT word, {expr} AS s FROM (SELECT DISTINCT word FROM nonempty))
)
SELECT doc_id,
       count(*) AS n_words,
       CAST(sum(word_tokens) AS BIGINT) AS n_bpe_tokens,
       floor(sum(word_tokens) * 1.0 / count(*) * 1000000.0 + 0.5) / 1000000.0 AS tokens_per_word
FROM nonempty JOIN seg USING (word)
GROUP BY doc_id
"""


#: the shipped tokenizer's closed vocabulary: the 26 base letters plus
#: every merge product of FIXED_BPE_MERGES — a token outside this set
#: (digits, punctuation, non-ASCII) is out-of-vocabulary, exactly the
#: byte/char-fallback mass a production tokenizer meters per corpus
FIXED_VOCAB: tuple[str, ...] = tuple(
    sorted({chr(c) for c in range(ord("a"), ord("z") + 1)}
           | {a + b for a, b in FIXED_BPE_MERGES})
)


def _fixed_merge_chain_col():
    """The full FIXED_BPE_MERGES application as ONE composed column
    over ``word`` — built once per process (`exprcache`): each
    `apply_merge` is a sizeable aggregate-fold expression and the r13
    shape re-constructed all 20 per plan (the 20 stacked Projects
    collapse to this exact composition in the optimizer anyway)."""
    col = F.regexp_extract_all("word", F.lit("(?s)."), 0)
    for a, b in FIXED_BPE_MERGES:
        col = apply_merge(col, a, b)
    return col


def tokenize_roundtrip(documents: DataFrame) -> DataFrame:
    """Tokenizer round-trip auditor over the shipped fixed vocab
    (pairs with :func:`lang_id_model`'s language axis): encode every
    word with :data:`FIXED_BPE_MERGES`, decode by concatenation, and
    certify per LANGUAGE that decode(encode(x)) == x — the lossless-
    identity contract a tokenizer must satisfy before a training run —
    plus the OOV token mass (:data:`FIXED_VOCAB` misses), the number
    that decides whether the vocab fits the corpus mix or starves a
    language into byte-fallback.

    ``roundtrip_ok`` is ENGINE-VERIFIED (``concat_ws(syms) == word``
    checked for every distinct word; the oracle emits the contract as
    literal TRUE — the `crc_ok`/`index_ok` audit pattern).  Scale
    shape is :func:`tokenize_fixed_vocab`'s: merge folds run on the
    distinct-word frame, the corpus pays one word-keyed equi-join and
    one language-keyed partial agg — two compact-key shuffles."""
    norm = normalize_text(F.col("text"))
    doc_words = documents.select(
        "doc_id", "lang", F.explode(F.split(F.trim(norm), " ")).alias("word")
    ).filter(F.length("word") > 0)
    from telemetry_streaming_datalake_spark.operators.exprcache import (
        cached_cols,
    )

    seg = (
        doc_words.select("word")
        .distinct()
        .select(
            "word",
            cached_cols(
                "text.fixed_merge_chain", _fixed_merge_chain_col
            ).alias("syms"),
        )
    )
    vocab_arr = F.array(*[F.lit(v) for v in FIXED_VOCAB])
    seg = seg.select(
        "word",
        F.size("syms").alias("word_tokens"),
        F.size(
            F.filter("syms", lambda s: ~F.array_contains(vocab_arr, s))
        ).alias("word_oov"),
        (F.concat_ws("", F.col("syms")) == F.col("word")).alias("decode_ok"),
    )
    return (
        doc_words.join(seg, "word")
        .groupBy("lang")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("word_tokens").alias("n_tokens"),
            F.sum("word_oov").alias("n_oov_tokens"),
            floor_round(F.sum("word_oov") / F.sum("word_tokens"), 6).alias(
                "oov_token_share"
            ),
            F.bool_and("decode_ok").alias("roundtrip_ok"),
        )
    )


def tokenize_roundtrip_oracle() -> str:
    """DuckDB twin riding :func:`tokenize_fixed_vocab_oracle`'s
    tab-string segmentation: tokens = the double-tab-separated pieces,
    OOV = pieces outside the literal vocab list, decode = strip every
    tab and compare to the word (genuinely recomputed here, though it
    is TRUE by BPE construction — merges only ever concatenate)."""
    T = "\t"
    expr = f"'{T}' || left(regexp_replace(word, '(.)', '\\1{T}{T}', 'g'), -1)"
    for a, b in FIXED_BPE_MERGES:
        expr = f"replace({expr}, '{T}{a}{T}{T}{b}{T}', '{T}{a}{b}{T}')"
    vocab = "[" + ", ".join(f"'{v}'" for v in FIXED_VOCAB) + "]"
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH doc_words AS (
    SELECT doc_id, lang, unnest(string_split(trim({norm}), ' ')) AS word
    FROM documents
),
nonempty AS (SELECT * FROM doc_words WHERE length(word) > 0),
seg AS (
    SELECT word,
           (length(s) - length(replace(s, '{T}{T}', '{T}'))) + 1 AS word_tokens,
           len(list_filter(string_split(trim(s, '{T}'), '{T}{T}'),
                           x -> NOT list_contains({vocab}, x))) AS word_oov,
           replace(s, '{T}', '') = word AS decode_ok
    FROM (SELECT word, {expr} AS s FROM (SELECT DISTINCT word FROM nonempty))
)
SELECT lang,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_words,
       CAST(sum(word_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(word_oov) AS BIGINT) AS n_oov_tokens,
       floor(sum(word_oov) * 1.0 / sum(word_tokens) * 1000000.0 + 0.5)
           / 1000000.0 AS oov_token_share,
       bool_and(decode_ok) AS roundtrip_ok
FROM nonempty JOIN seg USING (word)
GROUP BY lang
"""


# --------------------------------------------------------------------------
# bigram LM perplexity scoring
# --------------------------------------------------------------------------

LM_SMOOTH_K = 1.0


def lm_perplexity(documents: DataFrame, k: float = LM_SMOOTH_K) -> DataFrame:
    """Per-document bigram language-model perplexity, with the LM
    trained on the corpus itself — the statistical quality signal
    public curation pipelines (CCNet-style) threshold on: gibberish
    and boilerplate score high-perplexity / low-perplexity outliers
    against the corpus distribution.

    Model: Laplace-smoothed bigram LM, ``P(b|a) = (c(a,b) + k) /
    (c(a) + k·V)``; score = ``2^(-avg log2 P)`` over the doc's
    bigrams (docs with < 2 tokens are excluded — no bigram evidence).

    Shape: TWO corpus lineages total — the bigram explode (scored in
    place: c(a,b) is a (a,b)-partitioned window COUNT over the
    exploded frame, never a join-back that would re-execute the
    explode for the probe side) and the unigram explode feeding the
    token-cardinality c(a) table; V is c(a)'s own row count (distinct
    tokens — no third pass) riding c(a) as a global window over that
    COMPACT frame, and c(a)+V attach by one compact-table join.
    Everything stays in codegen;
    exact integer counts make P identical cross-engine, and the 6dp
    round absorbs log/avg accumulation residue.
    """
    from pyspark.sql import Window
    norm = normalize_text(F.col("text"))
    toks = documents.select(
        "doc_id", F.split(F.trim(norm), " ").alias("ts")
    ).filter(F.size("ts") >= 2)
    n = F.size("ts")
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ts", 1, n - 1).alias("a"),
                F.slice("ts", 2, n - 1).alias("b"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    unigrams = documents.select(
        F.explode(F.split(F.trim(norm), " ")).alias("w")
    ).filter(F.length("w") > 0)
    # V rides c1 itself as a GLOBAL window count — c1 is consumed once
    # (no vocab branch re-running the unigram explode, no pin); the
    # single-partition window is safe precisely because c1 is the
    # token-cardinality frame, not the corpus
    c1 = (
        unigrams.groupBy(F.col("w").alias("a"))
        .agg(F.count(F.lit(1)).alias("c_a"))
        .withColumn("v", F.count(F.lit(1)).over(Window.partitionBy()))
    )
    scored = (
        bigrams.withColumn(
            "c_ab", F.count(F.lit(1)).over(Window.partitionBy("a", "b"))
        )
        .join(c1, "a")
        .select(
            "doc_id",
            ((F.col("c_ab") + F.lit(k)) / (F.col("c_a") + F.lit(k) * F.col("v"))).alias("p"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.pow(F.lit(2.0), -F.avg(F.log2("p"))), 6).alias("perplexity"),
        )
    )


def lm_perplexity_oracle(k: float = LM_SMOOTH_K) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH toks AS (
    SELECT doc_id, string_split(trim({norm}), ' ') AS ts
    FROM documents
    WHERE len(string_split(trim({norm}), ' ')) >= 2
),
bigrams AS (
    SELECT doc_id, ts[i] AS a, ts[i + 1] AS b
    FROM toks, unnest(range(1, len(ts))) AS t(i)
),
c2 AS (SELECT a, b, count(*) AS c_ab FROM bigrams GROUP BY 1, 2),
unigrams AS (
    SELECT unnest(string_split(trim({norm}), ' ')) AS w FROM documents
),
uni AS (SELECT w FROM unigrams WHERE length(w) > 0),
c1 AS (SELECT w AS a, count(*) AS c_a FROM uni GROUP BY 1),
vocab AS (SELECT count(DISTINCT w) AS v FROM uni),
prob AS (
    SELECT a, b, (c_ab + {k}) / (c_a + {k} * v) AS p
    FROM c2 JOIN c1 USING (a), vocab
)
SELECT doc_id,
       count(*) AS n_bigrams,
       round(pow(2.0, -avg(log2(p))), 6) AS perplexity
FROM bigrams JOIN prob USING (a, b)
GROUP BY 1
"""


#: tercile boundaries for the CCNet-style perplexity bucketing — the
#: literal strings are shared VERBATIM with the oracle so both engines
#: interpolate with bit-identical q
_PPL_Q_HEAD = "0.3333333333333333"
_PPL_Q_MIDDLE = "0.6666666666666666"


def perplexity_buckets(documents: DataFrame) -> DataFrame:
    """CCNet §4.3 perplexity bucketing: per LANGUAGE, split the corpus
    into head / middle / tail terciles of bigram-LM perplexity (head =
    lowest perplexity = most fluent) — the bucketing CCNet publishes
    as its quality axis, which downstream mixtures sample from at
    different rates instead of hard-filtering.  Per-language terciles,
    not global: a language whose perplexity distribution sits higher
    (less training data for the LM) would otherwise land wholesale in
    the tail — the `quality_percentile_gate` starvation argument.

    Shape: :func:`lm_perplexity`'s two corpus lineages, one doc-keyed
    join to attach ``lang``, then the gate idiom — per-lang thresholds
    as ONE exact interpolated percentile aggregate (language-
    cardinality output, broadcast back, NO rank window / corpus sort;
    `percentile_approx` is the 100 TB swap-in), bucket assignment
    map-only.  Thresholds floor-round (interpolation-derived values
    gate row membership — the SURVEY §6 midpoint class) and ship in
    the output so the knob is auditable per row."""
    lm = lm_perplexity(documents)
    scored = lm.join(documents.select("doc_id", "lang"), "doc_id")
    thr = scored.groupBy("lang").agg(
        floor_round(F.expr(f"percentile(perplexity, {_PPL_Q_HEAD})"), 6).alias(
            "t_head"
        ),
        floor_round(
            F.expr(f"percentile(perplexity, {_PPL_Q_MIDDLE})"), 6
        ).alias("t_middle"),
    )
    return (
        scored.join(F.broadcast(thr), "lang")
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "perplexity",
            F.when(F.col("perplexity") <= F.col("t_head"), "head")
            .when(F.col("perplexity") <= F.col("t_middle"), "middle")
            .otherwise("tail")
            .alias("bucket"),
            "t_head",
            "t_middle",
        )
    )


def perplexity_buckets_oracle() -> str:
    floor6 = lambda e: f"floor(({e}) * 1000000.0 + 0.5) / 1000000.0"
    return f"""
WITH lm AS ({lm_perplexity_oracle()}),
scored AS (
    SELECT lm.doc_id, d.lang, lm.n_bigrams, lm.perplexity
    FROM lm JOIN documents d USING (doc_id)
),
thr AS (
    SELECT lang,
           {floor6(f"quantile_cont(perplexity, {_PPL_Q_HEAD})")} AS t_head,
           {floor6(f"quantile_cont(perplexity, {_PPL_Q_MIDDLE})")} AS t_middle
    FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.n_bigrams, s.perplexity,
       CASE WHEN s.perplexity <= t.t_head THEN 'head'
            WHEN s.perplexity <= t.t_middle THEN 'middle'
            ELSE 'tail' END AS bucket,
       t.t_head, t.t_middle
FROM scored s JOIN thr t USING (lang)
"""


# --------------------------------------------------------------------------
# Gopher-rules quality GATE (pass/fail filter with reasons)
# --------------------------------------------------------------------------

#: Gopher §A.2 thresholds (Rae et al. 2021), adapted to this corpus's
#: whitespace tokenization — the GATE companion to text_quality's scores
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 2.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2


def gopher_filter(documents: DataFrame, extra_cols: list | None = None) -> DataFrame:
    """Per-doc Gopher filtering rules as explicit pass/fail gates —
    the KEEP decision curation pipelines actually apply, next to
    :func:`text_quality`'s continuous scores: word-count bounds, mean
    word length bounds, alphabetic-word fraction, and minimum stopword
    evidence (Rae et al. 2021 §A.2; C4 applies the same families).
    Every rule's measured value AND boolean ship in the output, so a
    downstream `filter(keep)` is auditable per document.

    Map-only: one normalize + split per doc, all rules in the same
    codegen stage, zero shuffles — the 100 TB shape of a gate that
    runs before anything expensive.
    """
    ft = _doc_features()
    n_words, stop_hits = ft["n_words"], ft["stop_hits"]
    mean_word_len, alpha_frac = ft["mean_word_len"], ft["alpha_frac"]
    # the GATES compare the UNROUNDED divisions (bit-identical IEEE on
    # both engines); only the reported columns round — floor-form per
    # SURVEY §6 since both are division-derived
    r_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r_wlen = (mean_word_len >= GOPHER_MIN_MEAN_WORD_LEN) & (
        mean_word_len <= GOPHER_MAX_MEAN_WORD_LEN
    )
    r_alpha = alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC
    r_stop = stop_hits >= GOPHER_MIN_STOP_HITS
    return documents.select(
        "doc_id",
        "source",
        n_words.cast("long").alias("n_words"),
        floor_round(mean_word_len, 6).alias("mean_word_len"),
        floor_round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stop_hits"),
        r_words.alias("pass_word_count"),
        r_wlen.alias("pass_word_len"),
        r_alpha.alias("pass_alpha_frac"),
        r_stop.alias("pass_stopwords"),
        (r_words & r_wlen & r_alpha & r_stop).alias("keep"),
        # callers composing further map-only derivations (e.g. the
        # curation manifest's content hash) append them HERE so the
        # whole gate stays one scan/projection
        *(extra_cols or []),
    )


def gopher_filter_oracle(src: str = "documents") -> str:
    ft = _doc_features_sql()
    stop, n_words = ft["stop_hits"], ft["n_words"]
    mean_wlen, alpha_frac = ft["mean_word_len"], ft["alpha_frac"]
    return f"""
SELECT doc_id, source,
       CAST({n_words} AS BIGINT) AS n_words,
       {_floor6_sql(mean_wlen)} AS mean_word_len,
       {_floor6_sql(alpha_frac)} AS alpha_word_frac,
       CAST({stop} AS BIGINT) AS stop_hits,
       {n_words} BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
           AS pass_word_count,
       {mean_wlen} BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
           AS pass_word_len,
       {alpha_frac} >= {GOPHER_MIN_ALPHA_WORD_FRAC} AS pass_alpha_frac,
       {stop} >= {GOPHER_MIN_STOP_HITS} AS pass_stopwords,
       ({n_words} BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
           AND ({mean_wlen} BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN})
           AND ({alpha_frac} >= {GOPHER_MIN_ALPHA_WORD_FRAC})
           AND ({stop} >= {GOPHER_MIN_STOP_HITS}) AS keep
FROM {src}
"""


#: shipped quality-classifier weights — the "train once, apply
#: everywhere" artifact of model-based corpus filtering (the
#: fastText-classifier stage of DCLM / FineWeb-Edu pipelines, reduced
#: to its deterministic apply half): a logistic model over the same
#: interpretable features the rule gates measure.  Like
#: FIXED_BPE_MERGES, the weights are a fixed production artifact, so
#: application is pure arithmetic and fully oracle-checkable.
QUALITY_CLF_WEIGHTS = {
    "bias": -3.5,
    "ln_words": 0.55,       # longer docs score higher, saturating
    "mean_word_len": -0.12, # very long tokens suggest code/garbage
    "alpha_frac": 1.5,      # alphabetic words dominate real prose
    "stop_density": 9.0,    # stopword evidence is the strongest signal
}


def quality_classifier(documents: DataFrame) -> DataFrame:
    """Model-based quality scoring with a SHIPPED logistic model —
    the classifier stage curation pipelines run next to the rule
    gates (:func:`gopher_filter`): score = sigmoid(w·x) over
    interpretable per-doc features, keep = score ≥ threshold.

    Map-only, one codegen scan, zero shuffles — like every gate that
    runs before anything expensive.  Engine parity: the linear term z
    rounds to 6dp BEFORE the sigmoid, and the keep decision tests z ≥
    logit(threshold) = 0 directly (never the exp output), so the only
    cross-engine float surface is one exp on an identical 6dp input.
    """
    w = QUALITY_CLF_WEIGHTS
    ft = _doc_features()
    n_words = ft["n_words"]
    stop_density = ft["stop_hits"] / n_words
    # floor_round per SURVEY §6: the logit mixes division-derived
    # features and the ROUNDED z both gates `keep` and feeds the
    # sigmoid, so the rounding form must be engine-identical
    z = floor_round(
        F.lit(w["bias"])
        + F.lit(w["ln_words"]) * F.log(n_words.cast("double"))
        + F.lit(w["mean_word_len"]) * ft["mean_word_len"]
        + F.lit(w["alpha_frac"]) * ft["alpha_frac"]
        + F.lit(w["stop_density"]) * stop_density,
        6,
    )
    score = floor_round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return documents.select(
        "doc_id",
        "source",
        z.alias("logit"),
        score.alias("quality_prob"),
        (z >= 0.0).alias("keep"),
    )


def quality_classifier_oracle() -> str:
    w = QUALITY_CLF_WEIGHTS
    ft = _doc_features_sql()
    n_words, stop = ft["n_words"], ft["stop_hits"]
    z = _floor6_sql(
        f"{w['bias']} + {w['ln_words']} * ln({n_words}) "
        f"+ {w['mean_word_len']} * {ft['mean_word_len']} "
        f"+ {w['alpha_frac']} * {ft['alpha_frac']} "
        f"+ {w['stop_density']} * ({stop} * 1.0 / {n_words})"
    )
    return f"""
SELECT doc_id, source,
       {z} AS logit,
       {_floor6_sql(f"1.0 / (1.0 + exp(-({z})))")} AS quality_prob,
       {z} >= 0.0 AS keep
FROM documents
"""


# --------------------------------------------------------------------------
# Zipf-law fit (corpus-health statistic)
# --------------------------------------------------------------------------

ZIPF_TOP_N = 1000


def zipf_fit(documents: DataFrame, top_n: int = ZIPF_TOP_N) -> DataFrame:
    """Least-squares fit of ln(freq) ~ ln(rank) over the top-N tokens —
    the Zipf-law health check for a text corpus: natural language sits
    near slope −1; spam floods, boilerplate, or synthetic/template
    text bend the rank-frequency curve, so the slope (and its R²) is a
    cheap corpus-mix alarm next to :func:`..corpus.corpus_drift`.

    Scale shape: one vocabulary-cardinality count shuffle; the top-N
    cut executes as TakeOrdered (per-partition heaps + a driver merge
    of N rows — never a global sort, pinned in `tests/test_plans.py`);
    ranking and the closed-form regression run over the N-row frame.
    Ties rank deterministically (freq desc, token asc) so both engines
    fit identical points.
    """
    from pyspark.sql import Window

    counts = (
        documents.select(
            F.explode(
                F.split(F.trim(normalize_text(F.col("text"))), " ")
            ).alias("tok")
        )
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.desc("c"), "tok").limit(top_n)
    # N rows: the single-partition window is bounded by top_n, not vocab
    ranked = top.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("c"), "tok"))
    )
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("c").cast("double"))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    # a degenerate fit frame (<2 points, or zero variance) yields NULL
    # stats instead of a divide-by-zero crash under ANSI mode
    return agg.select(
        F.col("n").alias("n_tokens_fit"),
        F.when(varx != 0, F.round(cov / varx, 6)).alias("zipf_slope"),
        F.when(
            varx != 0,
            F.round((F.col("sy") - (cov / varx) * F.col("sx")) / n, 6),
        ).alias("zipf_intercept"),
        F.when(
            (varx != 0) & (vary != 0),
            F.round((cov * cov) / (varx * vary), 6),
        ).alias("r_squared"),
    )


def zipf_fit_oracle(top_n: int = ZIPF_TOP_N) -> str:
    norm = _NORM_SQL
    return f"""
WITH counts AS (
    SELECT tok, count(*) AS c FROM (
        SELECT unnest(string_split(trim({norm}), ' ')) AS tok FROM documents
    ) WHERE length(tok) > 0 GROUP BY 1
),
ranked AS (
    SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
    FROM counts ORDER BY c DESC, tok LIMIT {top_n}
),
s AS (
    SELECT count(*)::DOUBLE AS n,
           sum(ln(r)) AS sx, sum(ln(c)) AS sy,
           sum(ln(r) * ln(c)) AS sxy,
           sum(ln(r) * ln(r)) AS sxx,
           sum(ln(c) * ln(c)) AS syy
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_tokens_fit,
       round((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)) * sx) / n, 6)
           AS zipf_intercept,
       round(pow(n * sxy - sx * sy, 2)
             / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6) AS r_squared
FROM s
"""


# --------------------------------------------------------------------------
# BM25 keyword retrieval
# --------------------------------------------------------------------------

#: fixed demo query over the synthetic corpus vocabulary
BM25_QUERY_TERMS = ("hash", "join", "vector", "scan")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 50


def bm25_search(
    documents: DataFrame,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOP_K,
) -> DataFrame:
    """Okapi BM25 top-``k`` retrieval for a fixed query — the lexical
    search primitive a corpus platform serves next to the ANN index
    (and the classic hybrid-retrieval partner to it).

    Spark-first shape — the query terms are KNOWN literals, so the
    whole computation is ONE corpus scan + ONE doc-keyed partial-agg
    shuffle (the pivot_metrics trick): per-doc length and per-term
    term frequencies come from one conditional aggregation, corpus
    stats (N, avgdl, per-term document frequencies) reduce to a 1-row
    broadcast, and the BM25 sum is plan-time arithmetic.  No token
    index materializes and no join touches the corpus; top-k executes
    as TakeOrdered (per-partition heap), never a global sort.

    Determinism: scores round to 6dp before ranking, ties break on
    doc_id — identical ranking in both engines.
    """
    norm = normalize_text(F.col("text"))
    toks = documents.select(
        "doc_id", F.explode(F.split(F.trim(norm), " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    # materialize the doc-cardinality frame ONCE: it feeds both the
    # corpus-stats reduction and the scoring join, and without the pin
    # each branch re-runs the corpus explode + aggregation
    per_doc = (
        toks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum(F.when(F.col("tok") == t, 1).otherwise(0)).alias(f"tf_{i}")
                for i, t in enumerate(terms)
            ],
        )
        .localCheckpoint(eager=True)
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    return _bm25_rank(scored, len(terms), k)


def _bm25_rank(scored: DataFrame, n_terms: int, k: int) -> DataFrame:
    """Okapi scoring + top-k over a frame carrying ``dl``, per-term
    ``tf_i``, 1-row-broadcast ``n_docs``/``avgdl``/``df_i``.  Shared
    verbatim by :func:`bm25_search` and the persisted-index probe
    (:func:`bm25_from_index`) so both sum the per-term doubles in the
    SAME fixed order — bit-identical scores, one shared oracle."""
    score = None
    matched = None
    for i in range(n_terms):
        tf = F.col(f"tf_{i}")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        norm_len = 1.0 - BM25_B + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
        term_score = F.when(
            tf > 0,
            idf * tf * (BM25_K1 + 1.0) / (tf + F.lit(BM25_K1) * norm_len),
        ).otherwise(F.lit(0.0))
        hit = F.when(tf > 0, 1).otherwise(0)
        score = term_score if score is None else score + term_score
        matched = hit if matched is None else matched + hit
    return (
        scored.select(
            "doc_id",
            F.col("dl").alias("doc_len"),
            matched.alias("n_terms_matched"),
            F.round(score, 6).alias("bm25"),
        )
        .filter(F.col("n_terms_matched") > 0)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )


def bm25_search_oracle(
    terms: tuple[str, ...] = BM25_QUERY_TERMS, k: int = BM25_TOP_K
) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    tf_cols = ", ".join(
        f"sum(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    score_terms = " + ".join(
        f"CASE WHEN tf_{i} > 0 THEN "
        f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0) * tf_{i} * {BM25_K1 + 1.0!r} "
        f"/ (tf_{i} + {BM25_K1!r} * (1.0 - {BM25_B!r} + {BM25_B!r} * dl / avgdl)) "
        f"ELSE 0.0 END"
        for i in range(len(terms))
    )
    match_terms = " + ".join(
        f"CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END" for i in range(len(terms))
    )
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(trim({norm}), ' ')) AS tok
    FROM documents
),
per_doc AS (
    SELECT doc_id, count(*) AS dl, {tf_cols}
    FROM toks WHERE length(tok) > 0 GROUP BY doc_id
),
stats AS (
    SELECT count(*) AS n_docs, avg(dl) AS avgdl, {df_cols} FROM per_doc
)
SELECT doc_id, dl AS doc_len,
       ({match_terms}) AS n_terms_matched,
       round({score_terms}, 6) AS bm25
FROM per_doc, stats
WHERE ({match_terms}) > 0
ORDER BY bm25 DESC, doc_id
LIMIT {k}
"""


# --------------------------------------------------------------------------
# persisted inverted index (build-once / probe-many BM25)
# --------------------------------------------------------------------------

#: term-hash partition count for the postings layout — the lexical
#: analog of the IVF cell count: probes prune to the query terms'
#: buckets, so the knob trades partition count against bucket width
TEXT_INDEX_BUCKETS = 64


def _postings(documents: DataFrame) -> DataFrame:
    """(doc_id, tok, tf, dl, bucket) posting rows — tf from one
    (doc, term)-keyed partial agg, dl denormalized onto every posting
    via a window SUM over the already-compact frame (sum of a doc's
    tfs IS its token count), bucket = pmod(xxhash64(tok)) for the
    partition layout.  Denormalizing dl is the load-bearing choice:
    probes never join a doc-stats table — a stopword posting list
    scores without touching anything doc-cardinality."""
    from pyspark.sql import Window

    norm = normalize_text(F.col("text"))
    toks = documents.select(
        "doc_id", F.explode(F.split(F.trim(norm), " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    return tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id"))
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("tok"), F.lit(TEXT_INDEX_BUCKETS)).cast("int")
    )


def build_text_index(documents: DataFrame, index_dir: str) -> str:
    """Materialize the BM25 inverted index as a reusable artifact —
    the lexical twin of :func:`~…similarity.build_ivf_index`'s
    build-once/probe-many posting lists.  Layout:

    - ``postings/bucket=<b>/`` — posting rows partitioned by term
      hash, so a probe for k query terms is a partition-pruned read of
      ≤k buckets (``PushedFilters``/partition pruning does the work the
      corpus rescan in :func:`bm25_search` does not need an index for);
    - ``stats/`` — append-only 1-row ``(n_docs, sum_dl)`` partials;
      probe-time N and avgdl are their sums, so incremental extends
      never rewrite global state.

    Per-term document frequencies are deliberately NOT stored: a probe
    counts df from the pruned posting rows it reads anyway, which
    keeps df/N/avgdl consistent with index content under appends —
    the reason ``extend == rebuild`` holds exactly (pytest-pinned).
    """
    # pinned so the partitioned write and the stats partial share one
    # materialization (the extend path's discipline) — and so stats
    # come from the same frame that landed, without a read-back that
    # fails on a zero-posting corpus (an empty partitionBy dir carries
    # no schema)
    p = _postings(documents).localCheckpoint(eager=True)
    p.write.mode("overwrite").partitionBy("bucket").parquet(
        os.path.join(index_dir, "postings")
    )
    stats = p.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("tf").alias("sum_dl"),
    )
    stats.write.mode("overwrite").parquet(os.path.join(index_dir, "stats"))
    return index_dir


def extend_text_index(index_dir: str, new_docs: DataFrame) -> str:
    """Incremental index maintenance (the FAISS-``add`` posture of
    ``extend_ivf_index``, lexical side): new docs' posting rows APPEND
    into their term buckets and one new ``(n_docs, sum_dl)`` partial
    row appends to ``stats/`` — O(increment), existing posting lists
    are never read or rewritten.  Because every probe-time quantity is
    append-additive (tf/dl ride the posting rows, df counts pruned
    rows, N/avgdl sum the partials), the extended index answers
    queries EXACTLY like a from-scratch rebuild over the union —
    pinned in ``tests/test_text_index.py``.

    The increment's posting reduction is localCheckpoint-pinned so the
    partitioned write and the stats partial both read the SAME
    materialization — without the pin the tokenize/explode/groupBy
    lineage would execute twice (once per sink)."""
    p = _postings(new_docs).localCheckpoint(eager=True)
    p.write.mode("append").partitionBy("bucket").parquet(
        os.path.join(index_dir, "postings")
    )
    p.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("tf").alias("sum_dl"),
    ).write.mode("append").parquet(os.path.join(index_dir, "stats"))
    return index_dir


def _probe_pruned(
    spark: "SparkSession", index_dir: str, terms: tuple[str, ...]
) -> DataFrame:
    """The probe's postings read: bucket literals from one bounded
    collect of a ``len(terms)``-row frame (the driver-side hash
    evaluation the IVF probe does over its centroid table), then a
    scan filtered to those buckets — the bucket predicate lands in the
    scan's ``PartitionFilters`` (plan-pinned in tests/test_plans.py),
    so only ≤|query| of the ``TEXT_INDEX_BUCKETS`` partitions read."""
    bucket_rows = spark.createDataFrame(
        [(t,) for t in terms], "tok string"
    ).select(
        F.pmod(F.xxhash64("tok"), F.lit(TEXT_INDEX_BUCKETS)).cast("int").alias("b")
    ).collect()
    buckets = sorted({r.b for r in bucket_rows})
    return spark.read.parquet(os.path.join(index_dir, "postings")).filter(
        F.col("bucket").isin(buckets) & F.col("tok").isin(list(terms))
    )


def bm25_from_index(
    spark: "SparkSession",
    index_dir: str,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOP_K,
) -> DataFrame:
    """Probe the persisted index: read ONLY the query terms' bucket
    partitions (partition-pruned — the corpus of posting lists never
    scans), reduce them to the same per-doc ``(dl, tf_i…)`` frame
    :func:`bm25_search` builds from raw text, and score through the
    SHARED :func:`_bm25_rank` expressions — tf/dl/df/N/avgdl are
    identical integers and the doubles add in the same order, so the
    result equals :func:`bm25_search` bit-for-bit and shares its SQL
    oracle verbatim.

    The bucket literals for pruning come from one bounded collect of a
    ``len(terms)``-row frame (the same driver-side hash evaluation the
    IVF probe does over its centroid table)."""
    pruned = _probe_pruned(spark, index_dir, terms).localCheckpoint(
        # the pruned frame feeds BOTH the df reduction and the scoring
        # agg; pin it so the bucket read doesn't run per branch
        eager=True
    )
    per_doc = pruned.groupBy("doc_id").agg(
        F.max("dl").alias("dl"),
        *[
            F.sum(F.when(F.col("tok") == t, F.col("tf")).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    df_frame = pruned.agg(
        *[
            F.sum(F.when(F.col("tok") == t, 1).otherwise(0)).alias(f"df_{i}")
            for i, t in enumerate(terms)
        ]
    )
    totals = spark.read.parquet(os.path.join(index_dir, "stats")).agg(
        F.sum("n_docs").alias("n_docs"),
        F.sum("sum_dl").alias("sum_dl"),
    ).select("n_docs", (F.col("sum_dl") / F.col("n_docs")).alias("avgdl"))
    scored = per_doc.crossJoin(F.broadcast(df_frame)).crossJoin(F.broadcast(totals))
    return _bm25_rank(scored, len(terms), k)


def bm25_indexed(
    spark: "SparkSession",
    sf_dir: str,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = BM25_TOP_K,
) -> DataFrame:
    """Registry entry: build the persisted index once per corpus file
    identity (``session.scratch_cache``, exactly
    :func:`…similarity.ann_ivf_indexed`'s caching posture), then answer
    through :func:`bm25_from_index`.
    Result is bit-identical to :func:`bm25_search`, so the key shares
    that oracle."""
    index_dir = scratch_cache(
        "txtidx",
        os.path.join(sf_dir, "documents.parquet"),
        lambda d: build_text_index(load_table(spark, sf_dir, "documents"), d),
    )
    return bm25_from_index(spark, index_dir, terms, k)


# --------------------------------------------------------------------------
# distributed n-gram language-model estimation (stupid backoff)
# --------------------------------------------------------------------------

#: Brants et al. 2007 backoff weight ("Large Language Models in
#: Machine Translation" §4 — fixed alpha = 0.4, no normalization:
#: at web scale relative frequencies + a constant backoff beat
#: Kneser-Ney trained on less data)
LM_BACKOFF_ALPHA = 0.4
#: how many of the most frequent bigram contexts the report scores
LM_TOP_CONTEXTS = 20
#: continuations kept per context
LM_TOP_K = 5


def _all_order_grams():
    """One map-side emission of every order-1/2/3 gram per document —
    the Brants map step: a single corpus scan feeds ONE gram-keyed
    partial-agg shuffle for all orders at once (never one scan per
    order).  1-based element_at everywhere so the DuckDB oracle's
    list indexing matches positionally; the CASE-to-NULL + filter
    construction sidesteps sequence()'s descending-range trap for
    docs shorter than the gram order."""
    g1 = "transform(t, w -> struct(1 as order, w as gram))"
    g2 = (
        "filter(transform(sequence(1, size(t)), i -> CASE WHEN i + 1 <= size(t) "
        "THEN struct(2 as order, concat_ws(' ', element_at(t, i), element_at(t, i + 1)) as gram) END), "
        "x -> x IS NOT NULL)"
    )
    g3 = (
        "filter(transform(sequence(1, size(t)), i -> CASE WHEN i + 2 <= size(t) "
        "THEN struct(3 as order, concat_ws(' ', element_at(t, i), element_at(t, i + 1), "
        "element_at(t, i + 2)) as gram) END), x -> x IS NOT NULL)"
    )
    return f"concat({g1}, {g2}, {g3})"


def ngram_lm(
    documents: DataFrame,
    top_contexts: int = LM_TOP_CONTEXTS,
    top_k: int = LM_TOP_K,
    alpha: float = LM_BACKOFF_ALPHA,
) -> DataFrame:
    """Corpus-trained stupid-backoff n-gram LM, reported as the top-k
    continuations of the most frequent bigram contexts — the
    distributed LM-estimation workload of Brants et al. 2007 (the
    MapReduce job that trained the original web-scale MT language
    models), Spark-first:

    - ONE corpus scan emits all order-1/2/3 grams map-side and ONE
      gram-keyed partial-agg shuffle counts them (the canonical
      map-side-combine job — gram keys are near-uniform, skew-free);
      everything after operates on the VOCAB-cardinality counts frame,
      never the corpus (`localCheckpoint` per the dup_clusters
      discipline, since four branches consume it).
    - Scoring is the paper's exact recurrence: ``S(w|a,b) =
      c(abw)/c(ab)`` when the trigram was seen, else ``alpha *
      c(bw)/c(b)`` (tier 2; the constant ``alpha^2 * c(w)/N`` tail can
      never enter a top-k while >=k observed continuations exist, so
      the relation reports observed-continuation tiers — documented
      contract, not a silent cap).
    - Counts are exact integers, scores single IEEE divisions of
      identical operands → bit-identical cross-engine; floor-form 6dp
      per SURVEY §6.

    Output: (context, word, score, level) — top_k rows per context,
    fully deterministic (ties: score desc, word asc; contexts: count
    desc, context asc).
    """
    from pyspark.sql import Window

    norm = normalize_text(F.col("text"))
    base = (
        documents.filter(F.col("text").isNotNull())
        .select(
            F.filter(
                F.split(F.trim(norm), " "), lambda t: F.length(t) > 0
            ).alias("t")
        )
        .filter(F.size("t") >= 1)
    )
    grams = base.select(F.explode(F.expr(_all_order_grams())).alias("g")).select(
        F.col("g.order").alias("order"), F.col("g.gram").alias("gram")
    )
    counts = (
        grams.groupBy("order", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    sp = F.split("gram", " ")
    uni = counts.filter(F.col("order") == 1).select(
        F.col("gram").alias("w"), F.col("c").alias("c_w")
    )
    big = counts.filter(F.col("order") == 2).select(
        sp.getItem(0).alias("a"), sp.getItem(1).alias("b"), F.col("c").alias("c_ab")
    )
    tri = counts.filter(F.col("order") == 3).select(
        sp.getItem(0).alias("a"),
        sp.getItem(1).alias("b"),
        sp.getItem(2).alias("w"),
        F.col("c").alias("c_abw"),
    )
    # top contexts: global window over the VOCAB-cardinality bigram
    # frame (the lm_perplexity c1 precedent — compact by construction)
    wc = Window.orderBy(F.col("c_ab").desc(), "a", "b")
    contexts = (
        big.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") <= top_contexts)
        .select("a", "b", "c_ab", F.concat_ws(" ", "a", "b").alias("context"))
    )
    tier1 = tri.join(F.broadcast(contexts), ["a", "b"]).select(
        "context",
        "w",
        (F.col("c_abw") / F.col("c_ab")).alias("score"),
        F.lit(1).alias("level"),
    )
    # tier 2: continuations OF b (bigrams starting with b), backed off
    cont_b = big.select(
        F.col("a").alias("b"), F.col("b").alias("w"), F.col("c_ab").alias("c_bw")
    )
    tier2 = (
        cont_b.join(F.broadcast(contexts.select("b", "context")), "b")
        .join(uni.withColumnRenamed("w", "b"), "b")
        .select(
            "context",
            "w",
            (F.lit(alpha) * F.col("c_bw") / F.col("c_w")).alias("score"),
            F.lit(2).alias("level"),
        )
        .join(tier1.select("context", "w"), ["context", "w"], "left_anti")
    )
    wk = Window.partitionBy("context").orderBy(F.col("score").desc(), "w")
    return (
        tier1.unionByName(tier2)
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= top_k)
        .select(
            "context",
            F.col("w").alias("word"),
            floor_round(F.col("score"), 6).alias("score"),
            "level",
        )
    )


def ngram_lm_oracle(
    top_contexts: int = LM_TOP_CONTEXTS,
    top_k: int = LM_TOP_K,
    alpha: float = LM_BACKOFF_ALPHA,
) -> str:
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    return f"""
WITH d AS (
    SELECT list_filter(string_split(trim({norm}), ' '), x -> len(x) > 0) AS t
    FROM documents WHERE text IS NOT NULL
),
d2 AS (SELECT t FROM d WHERE len(t) >= 1),
uni AS (
    SELECT u.x AS w, count(*) AS c_w FROM d2, unnest(t) AS u(x) GROUP BY 1
),
big AS (
    SELECT t[i] AS a, t[i + 1] AS b, count(*) AS c_ab
    FROM d2, unnest(range(1, len(t))) AS r(i)
    GROUP BY 1, 2
),
tri AS (
    SELECT t[i] AS a, t[i + 1] AS b, t[i + 2] AS w, count(*) AS c_abw
    FROM d2, unnest(range(1, len(t) - 1)) AS r(i)
    GROUP BY 1, 2, 3
),
contexts AS (
    SELECT a, b, c_ab, a || ' ' || b AS context
    FROM big
    QUALIFY row_number() OVER (ORDER BY c_ab DESC, a, b) <= {top_contexts}
),
tier1 AS (
    SELECT ctx.context, t.w, t.c_abw * 1.0 / ctx.c_ab AS score, 1 AS level
    FROM tri t JOIN contexts ctx ON t.a = ctx.a AND t.b = ctx.b
),
tier2 AS (
    SELECT ctx.context, bg.b AS w, {alpha} * bg.c_ab / u.c_w AS score, 2 AS level
    FROM big bg
    JOIN contexts ctx ON bg.a = ctx.b
    JOIN uni u ON u.w = ctx.b
    WHERE NOT EXISTS (
        SELECT 1 FROM tier1 t1 WHERE t1.context = ctx.context AND t1.w = bg.b
    )
),
unioned AS (SELECT * FROM tier1 UNION ALL SELECT * FROM tier2)
SELECT context, w AS word,
       floor(score * 1000000.0 + 0.5) / 1000000.0 AS score,
       level
FROM unioned
QUALIFY row_number() OVER (PARTITION BY context ORDER BY score DESC, w) <= {top_k}
"""


# --------------------------------------------------------------------------
# gate-rule attribution report (prices each Gopher rule)
# --------------------------------------------------------------------------

#: the gate's rule columns, in gate order
GOPHER_RULES = ("word_count", "word_len", "alpha_frac", "stopwords")


def gate_rule_report(documents: DataFrame) -> DataFrame:
    """Per-RULE drop attribution for the Gopher gate — the knob-
    pricing report for quality filtering (the `dedup_threshold_curve`
    posture): for each rule, how many docs fail it at all, how many
    fail ONLY it (the docs that rule alone removes — relaxing it
    recovers exactly these), and both as corpus fractions.  Overlap-
    heavy rules are redundant; unique-heavy rules carry the gate.

    Scale shape: :func:`gopher_filter` is one map-only projection;
    the report is ONE global aggregate over its booleans (map-side
    partials reduce every task to a handful of counters) and the
    4-row output is carved from that single 1-row frame — one corpus
    scan, one count-sized shuffle, nothing else.
    """
    from telemetry_streaming_datalake_spark.operators.derived import floor_round

    g = gopher_filter(documents)
    pass_cols = {r: F.col(f"pass_{r}") for r in GOPHER_RULES}
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for r in GOPHER_RULES:
        others = [pass_cols[o] for o in GOPHER_RULES if o != r]
        all_others = reduce(operator.and_, others)
        aggs.append(F.sum((~pass_cols[r]).cast("int")).alias(f"fail_{r}"))
        aggs.append(
            F.sum((~pass_cols[r] & all_others).cast("int")).alias(f"uniq_{r}")
        )
    one = g.agg(*aggs).localCheckpoint(eager=True)  # 1 row, reused 4x
    parts = [
        one.select(
            F.lit(r).alias("rule"),
            F.col(f"fail_{r}").cast("int").alias("n_fail"),
            F.col(f"uniq_{r}").cast("int").alias("n_unique_fail"),
            floor_round(F.col(f"fail_{r}") / F.col("n_docs"), 6).alias("fail_frac"),
            floor_round(F.col(f"uniq_{r}") / F.col("n_docs"), 6).alias(
                "unique_fail_frac"
            ),
        )
        for r in GOPHER_RULES
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("rule")


def gate_rule_report_oracle() -> str:
    """Composed twin: the gopher oracle's boolean columns, one
    aggregate CTE, the same 4-row carve."""
    selects = []
    for r in GOPHER_RULES:
        others = [o for o in GOPHER_RULES if o != r]
        sel = (
            f"SELECT '{r}' AS rule,\n"
            f"       CAST(fail_{r} AS INTEGER) AS n_fail,\n"
            f"       CAST(uniq_{r} AS INTEGER) AS n_unique_fail,\n"
            f"       {_floor6_sql(f'fail_{r} / n_docs')} AS fail_frac,\n"
            f"       {_floor6_sql(f'uniq_{r} / n_docs')} AS unique_fail_frac\n"
            f"FROM agg"
        )
        selects.append(sel)
    fail_sums = []
    for r in GOPHER_RULES:
        others = [o for o in GOPHER_RULES if o != r]
        all_others = " AND ".join(f"pass_{o}" for o in others)
        fail_sums.append(
            f"sum(CASE WHEN NOT pass_{r} THEN 1 ELSE 0 END) AS fail_{r}"
        )
        fail_sums.append(
            f"sum(CASE WHEN NOT pass_{r} AND {all_others} THEN 1 ELSE 0 END)"
            f" AS uniq_{r}"
        )
    return f"""
WITH g AS ({gopher_filter_oracle()}),
agg AS (
    SELECT count(*) AS n_docs, {", ".join(fail_sums)} FROM g
)
{chr(10).join(s + (chr(10) + "UNION ALL") for s in selects[:-1])}
{selects[-1]}
ORDER BY rule
"""
