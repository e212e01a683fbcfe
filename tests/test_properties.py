"""Property-based tests (hypothesis): operators vs brute-force Python
references on arbitrary small inputs.  These catch boundary semantics
unit examples miss (gap ties, empty/one-element groups, duplicate
timestamps, unicode)."""

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.operators import dedup as DD
from telemetry_streaming_datalake_spark.operators import sessions as SES

GAP = SES.SESSION_GAP_S

#: (user_id, unix_ts) event streams; timestamps clustered so sessions
#: actually merge and split around the gap boundary
_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),
        st.integers(min_value=0, max_value=5 * GAP),
    ),
    min_size=1,
    max_size=30,
)


def _brute_force_sessions(rows):
    """Reference implementation: sort each user's timestamps, split on
    gap > GAP (session_window's inclusive merge boundary)."""
    out = []
    by_user = {}
    for u, ts in rows:
        by_user.setdefault(u, []).append(ts)
    for u, tss in by_user.items():
        tss.sort()
        start = prev = tss[0]
        n = 1
        for ts in tss[1:]:
            if ts - prev > GAP:
                out.append((u, start, prev, prev - start, n))
                start, n = ts, 0
            n += 1
            prev = ts
        out.append((u, start, prev, prev - start, n))
    return sorted(out)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(_events_strategy)
def test_sessionize_matches_brute_force(spark, rows):
    data = [
        (i, u, datetime.datetime.fromtimestamp(ts, datetime.timezone.utc).replace(tzinfo=None))
        for i, (u, ts) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "event_id long, user_id long, ts timestamp")
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.duration_s, r.n_events)
        for r in SES.sessionize(df).collect()
    )
    assert got == _brute_force_sessions(rows)


# ASCII-printable only: Java regex \s / trim / lower are ASCII-scoped
# while Python's are unicode-aware, so a wider alphabet would test the
# two *references'* unicode tables against each other, not the operator
_texts_strategy = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
        max_size=40,
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_texts_strategy)
def test_exact_dedup_partitions_by_normalized_text(spark, texts):
    """Exact dedup groups exactly the docs whose normalized text is
    equal; group sizes sum to the corpus size."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    groups = DD.dedup_exact_docs(docs).collect()
    import re

    norm = {i: re.sub(r"\s+", " ", t).strip().lower() for i, t in enumerate(texts)}
    from collections import Counter

    want_sizes = Counter(norm.values())
    assert sorted(g.n_copies for g in groups) == sorted(want_sizes.values())
    assert sum(g.n_copies for g in groups) == len(texts)
    # keeper is the minimum doc_id of its group
    for g in groups:
        members = [i for i, n in norm.items() if n == norm[g.keep_doc_id]]
        assert g.keep_doc_id == min(members)


def test_sessionize_empty_frame(spark):
    df = spark.createDataFrame([], "event_id long, user_id long, ts timestamp")
    assert SES.sessionize(df).count() == 0


def test_round5_ops_are_partitioning_invariant(spark, documents):
    """Window- and aggregation-based operators must return identical
    results regardless of input partitioning — the rerun-stability a
    cluster recompute (different task layout) depends on."""
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    for fn in (CP.boilerplate_ngrams, CP.pack_sequences, CP.mixture_weights):
        a = fn(documents)
        b = fn(documents.repartition(7))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, fn.__name__


@given(
    st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(min_codepoint=97, max_codepoint=122),
                min_size=1,
                max_size=20,
            ),
            st.integers(min_value=1, max_value=3000),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_importance_sample_is_content_deterministic(spark, docs):
    """Duplicate texts with equal length must sample identically (the
    dup-coherence contract), the kept set is a subset of the input,
    and keep_prob never exceeds the base rate."""
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    rows = [
        (i, text, "en", "src", n_chars)
        for i, (text, n_chars) in enumerate(docs * 2)  # every text twice
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    kept = CP.importance_sample(df).collect()
    assert all(r.keep_prob <= CP.IMPORTANCE_BASE_RATE + 1e-12 for r in kept)
    # group kept doc_ids by (text, n_chars) identity: each content pair
    # must keep either both copies or neither
    n = len(docs)
    kept_ids = {r.doc_id for r in kept}
    for i in range(n):
        assert (i in kept_ids) == (i + n in kept_ids)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_zorder_interleave_is_injective_and_bounded(spark, pairs):
    """Morton interleave: distinct (a, b) → distinct z, z within
    2^(2·bits), and de-interleaving recovers the inputs."""
    from telemetry_streaming_datalake_spark.operators.retention import zorder_value

    df = spark.createDataFrame(pairs, "a long, b long").withColumn(
        "z", zorder_value(F.col("a"), F.col("b"), 16)
    )
    got = df.collect()
    assert len({r.z for r in got}) == len(pairs)
    for r in got:
        assert 0 <= r.z < (1 << 32)
        a = sum(((r.z >> (2 * i)) & 1) << i for i in range(16))
        b = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (a, b) == (r.a, r.b)


@given(
    st.dictionaries(
        st.text(
            alphabet=st.characters(min_codepoint=97, max_codepoint=100),
            min_size=1,
            max_size=6,
        ),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_bpe_matches_python_reference_on_random_corpora(spark, word_freq):
    """Distributed BPE == the pure-Python Sennrich reference for
    arbitrary tiny vocabularies (tie-heavy alphabets stress the
    deterministic argmax ordering)."""
    from telemetry_streaming_datalake_spark.operators import text as TX
    from tests.test_bpe import _python_bpe

    text = " ".join(w for w, f in sorted(word_freq.items()) for _ in range(f))
    docs = spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in TX.bpe_merges(docs, n_merges=4).orderBy("merge_rank").collect()
    ]
    assert got == _python_bpe(word_freq, 4)


# --------------------------------------------------------------------------
# round-6 operator properties
# --------------------------------------------------------------------------


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=64
        ),
        min_size=1,
        max_size=4,
    )
)
def test_wav_build_decode_roundtrip(spark, sample_lists):
    """Arbitrary int16 PCM: header build + chunk-walk decode is the
    identity on samples and sample rate."""
    import numpy as np

    from telemetry_streaming_datalake_spark.operators import multimodal as MM

    for samples in sample_lists:
        arr = np.array(samples, dtype="<i2")
        payload = MM._wav_header(len(arr), 8000) + arr.tobytes()
        rate, out = MM.decode_wav(payload)
        assert rate == 8000
        assert out.tolist() == samples


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["src_a", "src_b", "src_c"]),
            st.integers(min_value=1, max_value=40),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_token_budget_plan_invariants(spark, docs_spec):
    """Allocation plan: temp shares sum to 1, epochs never exceed the
    cap, achieved == capped_epochs × available."""
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    rows = [
        (i, " ".join(f"w{j}" for j in range(n)), src)
        for i, (src, n) in enumerate(docs_spec)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = CP.token_budget_plan(docs, target_tokens=10_000).collect()
    assert abs(sum(r.temp_share for r in out) - 1.0) < 1e-4
    for r in out:
        assert r.capped_epochs <= CP.BUDGET_EPOCH_CAP + 1e-9
        assert r.capped_epochs <= r.epochs + 1e-9
        assert abs(r.achieved_tokens - round(r.capped_epochs * r.avail_tokens, 2)) < 0.51


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=1, max_value=200), min_size=1, max_size=15
    )
)
def test_packing_efficiency_invariants(spark, doc_lens):
    """Fill rate ∈ (0, 1]; bins_used = ceil(total/budget) per stream;
    doc and token totals conserved."""
    import math

    from telemetry_streaming_datalake_spark.operators import corpus as CP

    rows = [
        (i, " ".join(f"w{j}" for j in range(n)), "en")
        for i, n in enumerate(doc_lens)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = CP.packing_efficiency(docs, budget=64).collect()
    assert sum(r.n_docs for r in out) == len(doc_lens)
    assert sum(r.total_tokens for r in out) == sum(doc_lens)
    for r in out:
        assert 0 < r.fill_rate <= 1.0
        assert r.bins_used == math.ceil(r.total_tokens / 64)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=60),
        min_size=1,
        max_size=8,
    )
)
def test_gopher_filter_keep_is_conjunction(spark, texts):
    """keep must equal the AND of the four per-rule booleans on
    arbitrary (incl. empty/whitespace) inputs."""
    from telemetry_streaming_datalake_spark.operators import text as TX

    rows = [(i, t, "s") for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for r in TX.gopher_filter(docs).collect():
        assert r.keep == (
            r.pass_word_count
            and r.pass_word_len
            and r.pass_alpha_frac
            and r.pass_stopwords
        )


#: per-series value streams for the smoothing/change-point properties
_series_strategy = st.lists(
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    min_size=1,
    max_size=40,
)


def _bronze_series(spark, vals):
    rows = [
        (i, datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i), 1, "m", float(v), "{}")
        for i, v in enumerate(vals)
    ]
    from telemetry_streaming_datalake_spark.ingest import bronze as B

    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    return B.dedup_exact(B.parse_bronze(df))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_series_strategy)
def test_ewma_matches_reference_recursion(spark, vals):
    """Finite-horizon EWMA == the adjust=False recursion wherever the
    horizon covers the series prefix (always true for short series)."""
    from telemetry_streaming_datalake_spark.operators import derived as DV

    assume_short = vals[: DV.EWMA_HORIZON]
    ded = _bronze_series(spark, assume_short)
    got = [
        r.ewma
        for r in sorted(DV.ewma_smooth(ded).collect(), key=lambda r: r.unix_ts)
    ]
    e = None
    for g, v in zip(got, assume_short):
        e = v if e is None else DV.EWMA_ALPHA * v + (1 - DV.EWMA_ALPHA) * e
        assert abs(g - e) < 1e-5


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_series_strategy)
def test_cusum_matches_reference_recursion(spark, vals):
    """Prefix-sum CUSUM == the textbook max(0, ·) recursion on
    arbitrary series (moments self-computed, 1e-7 quantization)."""
    import statistics

    from telemetry_streaming_datalake_spark.operators import derived as DV

    ded = _bronze_series(spark, vals)
    out = sorted(DV.cusum_changepoint(ded).collect(), key=lambda r: r.unix_ts)
    mu = round(statistics.mean(vals), 6)
    sd = round(statistics.stdev(vals), 6) if len(vals) > 1 else None
    if sd is None:
        # single reading: stddev_samp is NULL -> cusum columns NULL
        assert out[0].cusum_pos is None and out[0].cusum_neg is None
        return
    sp = sn = 0.0
    for r, v in zip(out, vals):
        sp = max(0.0, sp + (v - mu - DV.CUSUM_K * sd))
        sn = max(0.0, sn + (mu - v - DV.CUSUM_K * sd))
        assert abs(r.cusum_pos - sp) < 1e-5 and abs(r.cusum_neg - sn) < 1e-5


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _py_fuzzy_key(text: str) -> str:
    import re as _re

    norm = _re.sub(r"\s+", " ", text).strip().lower()[: DD.FUZZY_W]
    return norm + "\x01" * (DD.FUZZY_W - len(norm))


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),            # edit kind: sub/del/ins
            st.integers(0, 23),           # position
            st.sampled_from("abcdefgh"),  # replacement char
        ),
        min_size=0,
        max_size=2 * DD.FUZZY_K,
    )
)
def test_fuzzy_join_matches_brute_force_on_random_edits(spark, edits):
    """PassJoin completeness under RANDOM edit scripts: apply an
    arbitrary sequence of single-char edits to a base title and demand
    the blocked join agree EXACTLY with a pure-python levenshtein on
    the fixed-width keys — both for pairs within k (must be found:
    pigeonhole holds for every edit pattern, not just curated cases)
    and beyond k (must be absent)."""
    base = "the quick brown fox jumps over the lazy dog"
    s = base
    for kind, pos, ch in edits:
        pos = pos % max(1, len(s))
        if kind == 0:
            s = s[:pos] + ch + s[pos + 1 :]
        elif kind == 1 and len(s) > 1:
            s = s[:pos] + s[pos + 1 :]
        else:
            s = s[:pos] + ch + s[pos:]
    df = spark.createDataFrame([(1, base), (2, s)], "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.edit_distance for r in DD.fuzzy_join(df).collect()}
    d = _py_lev(_py_fuzzy_key(base), _py_fuzzy_key(s))
    if d <= DD.FUZZY_K:
        assert got == {(1, 2): d}
    else:
        assert got == {}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),      # key selector (serial)
            st.integers(0, 999),    # unix_ts
            st.integers(0, 20),     # payload_k (k%7==0 -> tombstone)
            st.floats(0, 100, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_cdc_apply_matches_python_replay(spark, ops):
    """Random changelogs vs a literal python replay: sort by
    (unix_ts, event_id), apply ops in order, drop keys whose final op
    is a tombstone — the aggregate fold must agree exactly, including
    duplicate-timestamp ties (event_id breaks them) and
    delete-then-resurrect sequences."""
    from telemetry_streaming_datalake_spark.operators import merge as M

    rows = [
        (f"s{k}", "m", ts, eid, float(v), pk)
        for eid, (k, ts, pk, v) in enumerate(ops)
    ]
    df = spark.createDataFrame(
        rows,
        "serial string, metric string, unix_ts long, event_id long,"
        " value double, payload_k long",
    )
    state, audit = {}, {}
    for serial, metric, ts, eid, v, pk in sorted(rows, key=lambda r: (r[2], r[3])):
        key = (serial, metric)
        n, d = audit.get(key, (0, 0))
        is_del = pk % M.CDC_DELETE_MOD == 0
        audit[key] = (n + 1, d + (1 if is_del else 0))
        state[key] = None if is_del else (ts, v)
    want = sorted(
        (k[0], k[1], s[0], s[1], audit[k][0], audit[k][1])
        for k, s in state.items()
        if s is not None
    )
    got = sorted(tuple(r) for r in M.cdc_apply(df).collect())
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 47),      # hour index (2-day horizon)
            st.booleans(),           # is error
        ),
        min_size=1,
        max_size=60,
    )
)
def test_slo_burn_matches_python_rolling(spark, events):
    """Random hourly error streams vs a python rolling-window
    reference: RANGE semantics (silent hours age the window), burn
    ratios, and both alert gates."""
    from telemetry_streaming_datalake_spark.operators import detect as DT

    day0 = 1704067200
    rows = [
        ("s", "error" if err else "view", day0 + h * 3600 + i,
         f"2024-01-0{1 + h // 24} {h % 24:02d}")
        for i, (h, err) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "serial string, metric string, unix_ts long, hourstamp string"
    )
    per_hour = {}
    for _, m, ts, hs in rows:
        h = (ts - day0) // 3600
        tot, err = per_hour.get(h, (0, 0))
        per_hour[h] = (tot + 1, err + (1 if m == "error" else 0))
    want = {}
    for h, (tot, err) in per_hour.items():
        def roll(width):
            t = sum(per_hour[x][0] for x in per_hour if h - width < x <= h)
            e = sum(per_hour[x][1] for x in per_hour if h - width < x <= h)
            return round(e / t / DT.SLO_ERROR_BUDGET, 6)
        b1, b6, b24 = roll(1), roll(6), roll(24)
        want[f"2024-01-0{1 + h // 24} {h % 24:02d}"] = (
            tot, err, b1, b6, b24,
            b1 >= DT.SLO_PAGE_FACTOR and b6 >= DT.SLO_PAGE_FACTOR,
            b6 >= DT.SLO_TICKET_FACTOR and b24 >= DT.SLO_TICKET_FACTOR,
        )
    got = {
        r.hourstamp: (r.n_1h, r.err_1h, r.burn_1h, r.burn_6h, r.burn_24h,
                      r.page, r.ticket)
        for r in DT.slo_burn_alerts(df).collect()
    }
    assert got == want


# --------------------------------------------------------------------------
# count-min sketch: one-sidedness + mergeability on random key multisets
# --------------------------------------------------------------------------

_keys_strategy = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=4),
    min_size=1,
    max_size=120,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_keys_strategy)
def test_cms_one_sided_and_merge_equals_direct(spark, keys):
    """For EVERY key of a random multiset: estimate >= exact (the CMS
    deterministic guarantee, independent of hash luck), and the
    cell-wise merge of two split-half sketches equals the sketch of
    the whole — the property that lets serving stores fold partials."""
    from collections import Counter

    from telemetry_streaming_datalake_spark.operators import rollup as R

    df = spark.createDataFrame([(k,) for k in keys], "serial string")
    exact = Counter(keys)
    probes = spark.createDataFrame(
        [(k,) for k in set(keys)], "serial string"
    )
    est = {
        r.serial: r.cms_estimate
        for r in R.cms_estimate(R.cms_sketch(df), probes).collect()
    }
    for k, n in exact.items():
        assert est[k] >= n, (k, est[k], n)

    half_a = spark.createDataFrame(
        [(k,) for k in keys[: len(keys) // 2]] or [("__none__",)],
        "serial string",
    )
    half_b = spark.createDataFrame(
        [(k,) for k in keys[len(keys) // 2 :]] or [("__none__",)],
        "serial string",
    )
    merged = (
        R.cms_sketch(half_a)
        .unionAll(R.cms_sketch(half_b))
        .groupBy("row_idx", "col_idx")
        .agg(F.sum("cell_count").alias("cell_count"))
    )
    direct = R.cms_sketch(
        half_a.unionAll(half_b)
    )
    m = {(r.row_idx, r.col_idx): r.cell_count for r in merged.collect()}
    d = {(r.row_idx, r.col_idx): r.cell_count for r in direct.collect()}
    assert m == d


# --------------------------------------------------------------------------
# text index: extend == rebuild on random corpus splits
# --------------------------------------------------------------------------


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        # suffix guarantees every doc tokenizes to >=1 term — an
        # all-whitespace draw would make a zero-posting corpus slice,
        # which is not the property under test
        st.text(alphabet="xyzq ", min_size=3, max_size=40).map(
            lambda t: t + " q"
        ),
        min_size=2,
        max_size=24,
    ),
    st.integers(min_value=1, max_value=23),
)
def test_text_index_extend_equals_rebuild_random_split(spark, texts, cut):
    """Random corpus, random split point: an index built on the prefix
    then extended with the suffix must answer a probe EXACTLY like a
    from-scratch build over everything (append-additive tf/dl/df/N)."""
    import os
    import tempfile

    from telemetry_streaming_datalake_spark.operators import text as TX

    cut = min(cut, len(texts) - 1)
    rows = [(i, t, "s") for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    terms = ("x", "yz")

    # per example, not per test: tmp_path would be shared by every
    # Hypothesis example
    with tempfile.TemporaryDirectory() as tmp:
        inc, full = os.path.join(tmp, "i"), os.path.join(tmp, "f")
        TX.build_text_index(docs.filter(F.col("doc_id") < cut), inc)
        TX.extend_text_index(inc, docs.filter(F.col("doc_id") >= cut))
        TX.build_text_index(docs, full)

        got = [
            tuple(r)
            for r in TX.bm25_from_index(spark, inc, terms=terms, k=10).collect()
        ]
        want = [
            tuple(r)
            for r in TX.bm25_from_index(spark, full, terms=terms, k=10).collect()
        ]
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),          # doc_id pool
            st.sampled_from(["a", "b", "c", "hot"]),             # domain
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=8),                       # cap
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_domain_cap_sample_matches_brute_force(spark, rows, cap):
    """Random corpora: every domain keeps exactly min(n_domain, cap)
    docs, survivors are the brute-force md5-rank winners, and the
    result is invariant to input partitioning (rerun stability)."""
    import hashlib

    from telemetry_streaming_datalake_spark.operators.corpus import (
        domain_cap_sample,
    )

    data = [(i, f"t{i}", "en", dom, 1) for i, dom in rows]
    docs = spark.createDataFrame(
        data, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {(r.doc_id, r.source, r.n_domain, r.n_kept)
           for r in domain_cap_sample(docs, cap=cap).collect()}
    # brute force
    by_dom = {}
    for i, dom in rows:
        by_dom.setdefault(dom, []).append(i)
    want = set()
    for dom, ids in by_dom.items():
        keep = sorted(ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:cap]
        for i in keep:
            want.add((i, dom, len(ids), min(len(ids), cap)))
    assert got == want
    got2 = {(r.doc_id, r.source, r.n_domain, r.n_kept)
            for r in domain_cap_sample(docs.repartition(5), cap=cap).collect()}
    assert got2 == want


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=300, unique=True),
    st.lists(st.integers(min_value=2**41, max_value=2**42), min_size=1, max_size=300, unique=True),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_bloom_never_false_negative_random_keys(spark, build_keys, probe_extra):
    """Bloom membership over random disjoint key ranges: every build
    key survives the prune (zero false negatives — the correctness
    half of the contract; fp rate is the sized-m test's job)."""
    from telemetry_streaming_datalake_spark.operators import skew as SK

    build = spark.createDataFrame([(k,) for k in build_keys], "k long")
    bitmap = SK.build_bloom(build, "k")
    probe = spark.createDataFrame(
        [(k,) for k in build_keys + probe_extra], "k long"
    )
    kept = {r.k for r in SK.bloom_prune(probe, "k", bitmap).collect()}
    assert set(build_keys) <= kept
