"""LLM-data-pipeline operator tests: dedup family, similarity, text,
multimodal."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.operators import dedup as DD
from telemetry_streaming_datalake_spark.operators import multimodal as MM
from telemetry_streaming_datalake_spark.operators import similarity as SIM
from telemetry_streaming_datalake_spark.operators import text as TX


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_normalized_copies(spark):
    docs = _docs(
        spark,
        [
            (1, "Hello   World"),
            (2, "hello world"),       # same after normalization
            (3, "something else"),
        ],
    )
    out = {r.keep_doc_id: r.n_copies for r in DD.dedup_exact_docs(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_near_duplicates_not_distinct_docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely different content about spark dataframes and shuffles " * 5
    docs = _docs(spark, [(1, base), (2, near), (3, other)])
    pairs = {(r.doc_a, r.doc_b) for r in DD.dedup_minhash(docs, threshold=0.6).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_minhash_plan_has_no_cartesian_product(spark, documents):
    spark.catalog.clearCache()  # plan pin: assert the uncached shape
    plan = DD.dedup_minhash(documents)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_banding_complete_vs_brute_force(spark, documents):
    """Pigeonhole completeness where the cap is slack: chunk-blocked
    candidate generation finds EXACTLY the all-pairs hamming<=3 set on
    the sf0.001 corpus (since r9 the ORACLE models BUCKET_CAP — the
    exact-at-any-scale contract — so this pin carries the completeness
    proof the uncapped oracle used to)."""
    import itertools

    fps = {r.doc_id: r.simhash for r in DD.simhash(documents).collect()}
    want = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= DD.HAMMING_MAX
    }
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in DD.simhash_near_dups(documents).collect()
    }
    assert got == want


def test_simhash_hamming_small_for_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    near = base.replace("kappa", "lambda")
    docs = _docs(spark, [(1, base), (2, near)])
    fps = {r.doc_id: r.simhash for r in DD.simhash(docs).collect()}
    ham = bin(fps[1] ^ fps[2]).count("1")
    assert ham <= 12  # near-identical token sets → close fingerprints


def test_simhash_banding_complete_vs_allpairs(spark, documents):
    """Chunk blocking must find EXACTLY the all-pairs hamming<=3 set
    (pigeonhole: 3 flipped bits cannot touch all 4 chunks) — the same
    equality the DuckDB oracle asserts, checked engine-side."""
    fp = DD.simhash(documents)
    a = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fa"))
    b = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fb"))
    allpairs = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= DD.HAMMING_MAX)
    )
    want = sorted(tuple(r) for r in allpairs.collect())
    got = sorted(tuple(r) for r in DD.simhash_near_dups(documents).collect())
    assert got == want


def test_weighted_simhash_decorrelates_stopword_skeleton(spark):
    """Docs sharing a large common-token skeleton but with distinct
    content tokens: unweighted SimHash false-positives them (common
    tokens dominate every bit vote), idf weighting zeroes the
    ubiquitous tokens so the distinct content drives the fingerprint."""
    stop = " ".join(f"common{j}" for j in range(40))
    rows = [(i, stop + f" rare{i}a rare{i}b") for i in range(12)]
    docs = _docs(spark, rows)
    assert DD.simhash_near_dups(docs).count() > 0       # correlated FPs
    assert DD.simhash_weighted_near_dups(docs).count() == 0


def test_weighted_simhash_still_pairs_true_dups(spark):
    """Near-identical docs must still pair under weighting."""
    base = " ".join(f"word{j}" for j in range(60))
    docs = _docs(spark, [(1, base), (2, base + " tail"), (3, "entirely different content here")])
    got = {(r.doc_a, r.doc_b) for r in DD.simhash_weighted_near_dups(docs).collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_bucket_pairs_hot_bucket_bounded(spark):
    """10k identical docs share every band — without the cap this is
    ONE bucket whose collect_list array and quadratic explode run in a
    single task (the 100 TB boilerplate pathology).  The cap must bound
    pair output to C(cap, 2) and the truncation metric must report the
    clipped mass."""
    n, cap = 10_000, DD.BUCKET_CAP
    banded = spark.range(n).select(
        F.lit(0).alias("band_idx"),
        F.lit(12345).alias("chunk"),
        F.col("id").alias("doc_id"),
    )
    pairs = DD.bucket_pairs(banded, ["band_idx", "chunk"], ["doc_id"])
    assert pairs.count() == cap * (cap - 1) // 2  # not n*(n-1)/2 ≈ 50M
    trunc = DD.bucket_truncation(banded, ["band_idx", "chunk"]).collect()[0]
    assert trunc.hot_buckets == 1
    assert trunc.clipped_members == n - cap


def test_minhash_identical_corpus_bounded(spark):
    """dedup_minhash over a mass-duplicated corpus completes with
    bounded pair output (every emitted pair is jaccard 1.0)."""
    docs = spark.range(2_000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate paragraph repeated everywhere").alias("text"),
    )
    out = DD.dedup_minhash(docs)
    cnt = out.count()
    assert 0 < cnt <= DD.BUCKET_CAP * (DD.BUCKET_CAP - 1) // 2
    assert out.filter(F.col("jaccard") < 1.0).count() == 0


def test_cosine_topk_exact_neighbors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # farthest from 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = SIM.cosine_topk(emb, [0], k=3).orderBy("rank").collect()
    assert [r.vec_id for r in out] == [1, 2, 3]
    assert out[0].cosine == pytest.approx(0.9939, abs=1e-4)


def test_ann_lsh_recall_vs_bruteforce(spark, embeddings):
    queries = [0, 1, 2, 3]
    exact = SIM.cosine_topk(embeddings, queries, k=5).collect()
    approx = SIM.ann_lsh_topk(embeddings, queries, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    hit = sum(
        1 for r in approx if r.vec_id in exact_sets.get(r.query_id, set())
    )
    # hyperplane LSH with multi-band probing: expect reasonable recall
    assert hit >= len(approx) * 0.4
    assert len(approx) > 0


def test_text_quality_token_math(spark):
    docs = spark.createDataFrame(
        [(1, "The cat and the dog", "en", "s", 19)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    row = TX.text_quality(docs).collect()[0]
    assert row.n_tokens == 5
    assert row.n_chars_norm == 19
    # marker hits: 'the'×2 (one capitalized, lowercased by normalize) + 'and'×1
    assert row.stopword_ratio == pytest.approx(0.6, abs=1e-6)


def test_lang_id_model_fidelity_all_five_languages(spark):
    """The shipped char-n-gram log-odds model must classify held-out
    snippets (none appear in the function-word seed) in all five
    corpus languages, return 'und' for signal-free text, and carry a
    positive margin on every correct call."""
    snippets = [
        (1, "she said that they would have been there by now if the train was late", "en"),
        (2, "die regierung hat gestern eine neue verordnung für daten beschlossen", "de"),
        (3, "il ne pouvait pas comprendre pourquoi elle était encore en retard", "fr"),
        (4, "los resultados de este estudio son muy interesantes para la ciencia", "es"),
        (5, "他不明白为什么她又一次上班迟到了", "zh"),
        (6, "0192 3847 5650", "en"),  # no model gram fires -> und
        (7, None, "en"),  # NULL text -> und
    ]
    docs = spark.createDataFrame(
        [(i, t, lg, "s", 1) for i, t, lg in snippets],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r.doc_id: r for r in TX.lang_id_model(docs).collect()}
    for i, _, lg in snippets[:5]:
        assert rows[i].lang_pred == lg, f"doc {i}: {rows[i].lang_pred} != {lg}"
        assert rows[i].margin > 0
        assert rows[i].matches_label
    assert rows[6].lang_pred == "und" and rows[6].margin is None
    assert rows[7].lang_pred == "und" and rows[7].margin is None


def test_lang_id_model_artifact_shape():
    """The shipped artifact is bounded (top_k per language), 6dp
    literal weights, positive, and covers all five corpus languages —
    the contract that keeps the apply a fixed-size codegen projection
    on both engines."""
    W = TX.LANGID_NGRAM_WEIGHTS
    assert set(W) == {"en", "de", "fr", "es", "zh"}
    for lang, grams in W.items():
        assert 0 < len(grams) <= TX.LANGID_TOP_K
        for g, w in grams.items():
            assert 1 <= len(g) <= max(TX.LANGID_ORDERS)
            assert w > 0
            assert w == round(w, 6)
            assert "'" not in g and "\\" not in g  # SQL-literal safe


def test_fingerprint_stable_under_whitespace(spark):
    docs = spark.createDataFrame(
        [(1, "some  document   text here", "en", "s", 1),
         (2, "some document text here", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fps = [r.fingerprint for r in TX.doc_fingerprint(docs).collect()]
    assert fps[0] == fps[1]


def test_multimodal_decode_and_features_real(spark, documents):
    """The synthesized payload is a REAL P6 PPM; the feature stage
    decodes it and histograms actual pixel bytes."""
    import hashlib

    payloads = MM.attach_image_payload(documents.limit(20))
    rows = payloads.collect()
    for r in rows:
        img = MM.decode_image(r.payload)
        assert img.shape == (MM.IMG_H, MM.IMG_W, 3)
        # pixel bytes are exactly unhex(repeat(md5(text), 48))
    one = rows[0]
    doc_text = {d.doc_id: d.text for d in documents.limit(20).collect()}[one.doc_id]
    want_hex = hashlib.md5(doc_text.encode()).hexdigest() * MM._MD5_REPS
    assert bytes(MM.decode_image(one.payload).reshape(-1)).hex() == want_hex

    feats = MM.feature_histogram(payloads).collect()
    assert len(feats) == 20 * MM.FEATURE_BINS
    per_doc = {}
    for r in feats:
        per_doc.setdefault(r.doc_id, 0)
        per_doc[r.doc_id] += r.bin_count
    # histogram covers every pixel byte of the 16x16 RGB image
    assert all(v == MM.IMG_W * MM.IMG_H * 3 for v in per_doc.values())


def test_decode_ppm_header_variants():
    """Real parser: comments and multi-whitespace per the netpbm spec."""
    pixels = bytes(range(12))  # 2x2 RGB
    img = MM.decode_image(b"P6\n# a comment\n 2  2 \n255\n" + pixels)
    assert img.shape == (2, 2, 3)
    assert bytes(img.reshape(-1)) == pixels
    with pytest.raises(ValueError):
        MM.decode_image(b"P6\n2 2\n255\n" + pixels[:-1])  # truncated


def test_decode_bmp_bottom_up_bgr():
    """Real BMP decode: bottom-up rows, BGR order, 4-byte row pad."""
    import struct

    w, h = 2, 2
    stride = (w * 3 + 3) & ~3  # 8 bytes with 2 pad
    # rows stored bottom-up: file row 0 is IMAGE row 1
    img_rows = [
        [(255, 0, 0), (0, 255, 0)],   # image top:    red, green
        [(0, 0, 255), (10, 20, 30)],  # image bottom: blue, misc
    ]
    data = b""
    for r in reversed(img_rows):
        row = b"".join(bytes((b, g, rr)) for (rr, g, b) in r)
        data += row + b"\x00" * (stride - len(row))
    header = (
        b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 0, 0, 0, 0)
    )
    img = MM.decode_image(header + data)
    assert img.shape == (2, 2, 3)
    assert tuple(img[0, 0]) == (255, 0, 0)
    assert tuple(img[0, 1]) == (0, 255, 0)
    assert tuple(img[1, 0]) == (0, 0, 255)
    assert tuple(img[1, 1]) == (10, 20, 30)


def test_decode_compressed_formats_still_gated():
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"\x89PN")  # truncated magic: no decoder


def _build_png(w, h, rows, filters, bit_depth=8, color_type=2, interlace=0):
    """Hand-build a PNG (real zlib.compress stream) with an arbitrary
    per-row filter list — the decoder must undo every filter type."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = b""
    prev = [0] * (w * 3)
    for r, ftype in zip(rows, filters):
        cur = list(r)
        if ftype == 0:
            enc = cur
        elif ftype == 1:  # Sub
            enc = [(cur[x] - (cur[x - 3] if x >= 3 else 0)) % 256 for x in range(len(cur))]
        elif ftype == 2:  # Up
            enc = [(cur[x] - prev[x]) % 256 for x in range(len(cur))]
        elif ftype == 3:  # Average
            enc = [
                (cur[x] - ((cur[x - 3] if x >= 3 else 0) + prev[x]) // 2) % 256
                for x in range(len(cur))
            ]
        else:  # Paeth
            enc = []
            for x in range(len(cur)):
                a = cur[x - 3] if x >= 3 else 0
                b = prev[x]
                c = prev[x - 3] if x >= 3 else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc.append((cur[x] - pred) % 256)
        raw += bytes([ftype]) + bytes(enc)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_png_decode_unfilters_all_five_filter_types():
    """A dynamic-Huffman zlib stream with one scanline per PNG filter
    type (None/Sub/Up/Average/Paeth) decodes back to the exact pixels
    — the unfilter path is real, not synthesizer-shaped."""
    rng = np.random.default_rng(7)
    w, h = 5, 5
    rows = [list(rng.integers(0, 256, w * 3)) for _ in range(h)]
    payload = _build_png(w, h, rows, filters=[0, 1, 2, 3, 4])
    img = MM.decode_image(payload)
    assert img.shape == (h, w, 3)
    assert [list(r) for r in img.reshape(h, w * 3)] == rows


def test_png_decode_seams_and_tamper():
    """16-bit / interlaced / non-RGB stay behind the codec seam; a
    tampered zlib stream (bad Adler-32) and a tampered chunk CRC both
    fail loudly instead of returning garbage pixels."""
    import zlib

    rows = [[10, 20, 30]]
    good = _build_png(1, 1, rows, [0])
    assert MM.decode_image(good).tolist() == [[[10, 20, 30]]]
    for kw in ({"bit_depth": 16}, {"color_type": 6}, {"interlace": 1}):
        with pytest.raises(NotImplementedError):
            MM.decode_image(_build_png(1, 1, rows, [0], **kw))
    # corrupt the zlib payload but re-seal the chunk CRC: the inflate
    # layer itself must catch it (Adler-32 / framing)
    import struct

    idat_pos = good.index(b"IDAT")
    (dlen,) = struct.unpack(">I", good[idat_pos - 4 : idat_pos])
    data = bytearray(good[idat_pos + 4 : idat_pos + 4 + dlen])
    data[-1] ^= 0xFF
    resealed = (
        good[: idat_pos - 4]
        + struct.pack(">I", dlen)
        + b"IDAT"
        + bytes(data)
        + struct.pack(">I", zlib.crc32(b"IDAT" + bytes(data)) & 0xFFFFFFFF)
        + good[idat_pos + 8 + dlen :]
    )
    with pytest.raises(Exception):
        MM.decode_image(resealed)
    # plain chunk-CRC tamper is caught before inflate
    bad = bytearray(good)
    bad[idat_pos + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        MM.decode_image(bytes(bad))


def test_png_pixels_histogram_matches_numpy(spark):
    """png_pixels == numpy bincount over the genuinely decoded pixel
    plane, for every doc and every bin (zero bins included)."""
    import hashlib

    texts = [(1, "alpha doc"), (2, "some other text"), (3, "z")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.doc_id, r.bin): (r.bin_count, r.width, r.height)
        for r in MM.png_pixels(docs).collect()
    }
    assert len(got) == len(texts) * 16
    for doc_id, text in texts:
        h = hashlib.md5(text.encode()).hexdigest()
        w, ht = int(h[0], 16) + 1, int(h[1], 16) + 1
        plane = (bytes.fromhex(h) * 48)[: 3 * w * ht]
        counts = np.bincount(np.frombuffer(plane, np.uint8) // 16, minlength=16)
        for b in range(16):
            assert got[(doc_id, b)] == (counts[b], w, ht)


def test_ngram_jaccard_blocks_and_verifies(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    docs = _docs(spark, [(1, base), (2, base + "extra tail"), (3, "unrelated words entirely")])
    out = {(r.doc_a, r.doc_b): r.jaccard for r in DD.ngram_jaccard_dedup(docs).collect()}
    assert (1, 2) in out and out[(1, 2)] > 0.8
    assert all(3 not in k for k in out)


def test_containment_catches_doc_inside_doc_jaccard_misses(spark):
    """The asymmetric case containment exists for: a short doc embedded
    verbatim in a much longer page has low Jaccard (below the near-dup
    threshold) but containment ≈ 1 — only the contained→container
    direction fires, byte-identical dups fire BOTH directions, and
    unrelated docs never pair."""
    quote = "the quick brown fox jumps over the lazy dog again today "
    page = ("completely different page framing text here " * 10
            + quote * 3
            + "and a long trailing section about something else entirely " * 10)
    docs = _docs(
        spark,
        [
            (1, quote * 3),          # the contained doc
            (2, page),               # the container
            (3, quote * 3),          # byte-identical to 1
            (4, "unrelated words entirely about databases " * 8),
        ],
    )
    jac = {(r.doc_a, r.doc_b) for r in DD.ngram_jaccard_dedup(docs, 0.8).collect()}
    assert (1, 2) not in jac  # symmetric similarity misses the embed
    out = {
        (r.contained_doc, r.container_doc): r.containment
        for r in DD.containment_dedup(docs).collect()
    }
    assert out[(1, 2)] > 0.95 and (2, 1) not in out  # directional
    assert out[(1, 3)] == 1.0 and out[(3, 1)] == 1.0  # exact dup: both ways
    assert all(4 not in k for k in out)


def test_containment_sound_vs_quadratic_truth(spark):
    """Every emitted containment is confirmed by the unblocked
    quadratic ground truth with the exact score (PRECISION is
    unconditional — the verify join computes true containment), and
    the planted embed pair is found.  Recall through the
    1-permutation fingerprint block is the family's documented trade
    (the oracle mirrors the identical blocking, so the driver contract
    is exact regardless)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (1, base),
        (2, "intro words " + base + " outro words"),
        (3, base + " small suffix"),
        (4, "other content with different words entirely " * 5),
    ]
    docs = _docs(spark, rows)
    got = {
        (r.contained_doc, r.container_doc): r.containment
        for r in DD.containment_dedup(docs).collect()
    }
    # quadratic ground truth over normalized 5-gram sets
    import re

    def sh(t):
        t = re.sub(r"\s+", " ", t.strip()).lower()
        return {t[i : i + 5] for i in range(max(len(t) - 4, 1))}

    shs = {i: sh(t) for i, t in rows}
    want = {
        (a, b): round(len(shs[a] & shs[b]) / len(shs[a]), 6)
        for a in shs
        for b in shs
        if a != b and len(shs[a] & shs[b]) / len(shs[a]) >= 0.8
    }
    assert (1, 2) in got  # the planted embed
    for pair, c in got.items():
        assert pair in want and abs(c - want[pair]) < 2e-6, pair


def test_perplexity_buckets_per_language_terciles(spark):
    """Buckets are assigned per LANGUAGE: a language whose perplexity
    distribution sits wholesale above another still gets its own
    head/middle/tail split (the starvation argument); head holds the
    lowest-perplexity docs; thresholds are ordered and shipped."""
    # lang 'aa': repetitive fluent-ish docs; lang 'bb': shuffled word
    # soup (higher perplexity under the corpus LM) — both must split
    fluent = [
        "the cat sat on the mat and the cat sat again " * 3,
        "the cat sat on the mat and the dog sat again " * 3,
        "the cat sat on the mat and the cat ran again " * 3,
        "the cat sat on the mat then the cat sat again " * 3,
        "the cat sat on a mat and the cat sat again " * 3,
        "the cat sat on the mat and one cat sat again " * 3,
    ]
    soup = [
        "mat again ran the dog on cat a sat then one and " * 3,
        "again cat the on sat mat dog ran one a and then " * 3,
        "on the a and mat cat again sat dog then ran one " * 3,
        "sat dog a on again and ran the one mat then cat " * 3,
        "a then on and again one sat ran cat dog mat the " * 3,
        "ran one mat sat the a again then cat and dog on " * 3,
    ]
    rows = [(i, t, "aa") for i, t in enumerate(fluent)]
    rows += [(100 + i, t, "bb") for i, t in enumerate(soup)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = TX.perplexity_buckets(docs).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang in ("aa", "bb"):
        rs = by_lang[lang]
        assert len(rs) == 6
        buckets = {b: [r for r in rs if r.bucket == b] for b in ("head", "middle", "tail")}
        # every tercile populated within the language
        assert all(buckets[b] for b in buckets), lang
        # head strictly the lowest-perplexity stratum
        assert max(r.perplexity for r in buckets["head"]) <= min(
            r.perplexity for r in buckets["tail"]
        )
        # shipped thresholds ordered
        assert rs[0].t_head <= rs[0].t_middle


def test_embedding_near_dups_finds_planted_pair(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal(64)
    near = base + rng.standard_normal(64) * 0.05
    far = rng.standard_normal(64)
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in near]),
            (2, [float(x) for x in far])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r.vec_a, r.vec_b): r.cosine for r in
             SIM.embedding_near_dups(emb, threshold=0.9).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.97
    assert all(2 not in k for k in pairs)


def test_ann_ivf_matches_bruteforce_for_in_cell_hits(spark, embeddings):
    """IVF probes nprobe cells; its hits must be a subset of the exact
    brute-force ranking and every hit's cosine must agree."""
    qids = [0, 1, 2, 3]
    exact = {(r.query_id, r.vec_id): r.cosine
             for r in SIM.cosine_topk(embeddings, qids, k=50).collect()}
    approx = SIM.ann_ivf_topk(embeddings, qids).collect()
    assert len(approx) > 0
    for r in approx:
        assert exact.get((r.query_id, r.vec_id)) == r.cosine


def test_token_count_basic(spark):
    docs = _docs(spark, [(1, "Hello, world! it's 42")])
    r = TX.token_count(docs).collect()[0]
    # normalized: "hello, world! it's 42"
    assert r.n_ws_tokens == 4
    # hello , world ! it ' s 42  → 8 regex tokens
    assert r.n_re_tokens == 8
    assert r.n_chars == 21


def test_frame_sample_strided_scanlines(spark):
    """Frames are every 2nd SCANLINE of the decoded 16x16 image, in
    top-down order, digested as md5 of the row's lowercase pixel hex."""
    import hashlib

    docs = _docs(spark, [(1, "hello world")])
    r = MM.frame_sample(docs).collect()[0]
    assert r.n_frames_total == MM.IMG_H
    hashes = r.frame_hashes.split("|")
    assert len(hashes) == MM.IMG_H // MM.FRAME_STRIDE
    hx = hashlib.md5(b"hello world").hexdigest() * MM._MD5_REPS
    row_hex = MM.IMG_W * 3 * 2
    for out_i, row in enumerate(range(0, MM.IMG_H, MM.FRAME_STRIDE)):
        want = hashlib.md5(hx[row * row_hex : (row + 1) * row_hex].encode()).hexdigest()
        assert hashes[out_i] == want


# --------------------------------------------------------------------------
# corpus-preparation operators
# --------------------------------------------------------------------------


def test_pii_redact_replaces_and_counts(spark):
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    docs = _docs(
        spark,
        [
            (1, "mail me at jane.doe@example.com or call +1 (555) 123-4567 ok"),
            (2, "no pii here at all"),
        ],
    )
    out = {r.doc_id: r for r in CP.pii_redact(docs).collect()}
    assert out[1].n_emails == 1 and out[1].n_phones == 1 and out[1].had_pii
    assert "<EMAIL>" in out[1].text_redacted and "<PHONE>" in out[1].text_redacted
    assert "example.com" not in out[1].text_redacted
    assert out[2].n_emails == 0 and not out[2].had_pii
    assert out[2].text_redacted == "no pii here at all"


def test_chunking_overlap_and_coverage(spark):
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    toks = [f"w{i}" for i in range(100)]
    docs = _docs(spark, [(1, " ".join(toks)), (2, "tiny doc")])
    rows = {(r.doc_id, r.chunk_idx): r for r in CP.chunk_documents(docs).collect()}
    # 100 tokens, chunk 64 stride 48 → ceil((100-64)/48)+1 = 2 chunks
    assert {k for k in rows} == {(1, 0), (1, 1), (2, 0)}
    c0, c1 = rows[(1, 0)].chunk_text.split(" "), rows[(1, 1)].chunk_text.split(" ")
    assert c0 == toks[0:64]
    assert c1 == toks[48:100]
    assert rows[(1, 1)].chunk_len == 52
    # overlap region is shared verbatim
    assert c0[48:] == c1[:16]
    assert rows[(2, 0)].chunk_text == "tiny doc"


def test_train_val_split_is_content_keyed(spark):
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    docs = _docs(spark, [(1, "Some   Text"), (2, "some text"), (3, "other")])
    out = {r.doc_id: r for r in CP.train_val_split(docs).collect()}
    # normalized duplicates share hash and therefore split
    assert out[1].content_hash == out[2].content_hash
    assert out[1].split == out[2].split
    assert all(r.split in ("train", "val") for r in out.values())


def test_decontaminate_flags_ngram_overlap(spark):
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    bench_text = "the secret benchmark passage that must never leak into training"
    docs = _docs(
        spark,
        [
            (0, bench_text),                                # benchmark doc
            (10, "prefix " + bench_text + " suffix"),       # contaminated
            (20, "a completely unrelated clean document"),  # clean
        ],
    )
    out = {r.doc_id for r in CP.decontaminate(docs, bench_ids=(0,)).collect()}
    assert out == {10}


def test_decontaminate_and_dup_spans_survive_null_text(spark):
    """A null text cell must not kill the job: the rolling-hash UDF
    emits zero grams for None (the replaced substr+xxhash64 codegen
    form was null-safe the same way), so null docs simply contribute
    no rows anywhere downstream."""
    from telemetry_streaming_datalake_spark.operators import corpus as CP
    from telemetry_streaming_datalake_spark.operators import dedup as DD

    rows = [
        (0, "the secret benchmark passage that must never leak", "en", "s", 1),
        (10, "prefix the secret benchmark passage that must never leak", "en", "s", 1),
        (20, None, "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.doc_id for r in CP.decontaminate(docs, bench_ids=(0,)).collect()}
    assert out == {10}
    spans = DD.dup_spans(docs, w=8, min_len=10).collect()
    assert all(r.doc_i != 20 and r.doc_j != 20 for r in spans)


def test_quantization_roundtrip_error_bounded(spark, embeddings):
    """int8 symmetric quantization must reconstruct every component
    within half a quantization step (scale is per-vector)."""
    import numpy as np

    from telemetry_streaming_datalake_spark.operators import similarity as S2

    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in embeddings.limit(50).collect()}
    q = {r.vec_id: (r.scale, np.array([int(x) for x in r.q_str.split("|")]))
         for r in S2.quantize_embeddings(embeddings.limit(50)).collect()}
    assert set(q) == set(orig)
    for vid, (scale, codes) in q.items():
        assert np.abs(codes).max() <= 127
        recon = codes / scale
        assert np.abs(recon - orig[vid]).max() <= (0.5 / scale) + 1e-9


def test_heavy_hitters_rank_order(spark):
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    docs = spark.createDataFrame(
        [(1, "a b c", "en", "s1", 1), (2, "a b", "en", "s1", 1),
         (3, "a b c d e", "en", "s1", 1), (4, "x", "en", "s2", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = [(r.source, r.rank, r.doc_id) for r in
           CP.heavy_hitters(docs, k=2).orderBy("source", "rank").collect()]
    assert out == [("s1", 1, 3), ("s1", 2, 1), ("s2", 1, 4)]


def test_repetition_stats_literal(spark):
    from pyspark.sql import Row

    from telemetry_streaming_datalake_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a\nb\na\nA "),   # 'a' ×3 after trim/lower
            Row(doc_id=2, text="x\ny"),
        ]
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rows[1].n_lines == 4 and rows[1].n_distinct_lines == 2
    assert rows[1].dup_line_frac == 0.5
    assert rows[2].dup_line_frac == 0.0


def test_char_entropy_extremes(spark):
    from pyspark.sql import Row

    from telemetry_streaming_datalake_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [Row(doc_id=1, text="aaaa"), Row(doc_id=2, text="abcd")]
    )
    rows = {r.doc_id: r for r in char_entropy(df).collect()}
    assert rows[1].entropy_bits == 0.0          # single symbol: zero entropy
    assert rows[2].entropy_bits == 2.0          # 4 equiprobable symbols: 2 bits


def test_centroid_confusion_total(spark, embeddings):
    from pyspark.sql import functions as F

    from telemetry_streaming_datalake_spark.operators.similarity import (
        centroid_confusion,
    )

    conf = centroid_confusion(embeddings).cache()
    assert conf.agg(F.sum("n_vecs")).first()[0] == embeddings.count()
    # centroids are class means: diagonal mass must clearly beat the
    # uniform-random 1/n_labels floor (the synthetic embeddings are
    # only weakly clustered, so exact accuracy is data-dependent)
    n_labels = conf.select("label").distinct().count()
    diag = conf.filter(F.col("label") == F.col("assigned_label")).agg(
        F.sum("n_vecs")
    ).first()[0]
    assert diag > 2 * embeddings.count() / n_labels


# --------------------------------------------------------------------------
# cross-doc boilerplate n-grams + semantic dedup (round 5)
# --------------------------------------------------------------------------


def test_boilerplate_ngrams_flags_shared_spans_only(spark):
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    shared = "one two three four five six seven eight"          # exactly 8 words
    docs = _docs(
        spark,
        [
            (1, shared + " unique tail alpha beta gamma delta epsilon zeta"),
            (2, shared + " other ending words here now then soon later"),
            (3, "totally different text with no overlap at all whatsoever kept"),
        ],
    )
    out = {r.doc_id: r for r in CP.boilerplate_ngrams(docs).collect()}
    # docs 1 and 2 share exactly the leading 8-word gram; doc 3 shares none
    assert out[1].n_boiler == 1 and out[2].n_boiler == 1
    assert out[3].n_boiler == 0 and out[3].boiler_frac == 0.0
    assert 0 < out[1].boiler_frac < 1


def test_boilerplate_ngrams_short_doc_whole_text_gram(spark):
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    docs = _docs(spark, [(1, "tiny doc"), (2, "tiny doc"), (3, "lone short")])
    out = {r.doc_id: r for r in CP.boilerplate_ngrams(docs).collect()}
    # <8-word docs collapse to a single whole-text gram; identical short
    # docs therefore flag each other, a lone one doesn't
    assert out[1].n_ngrams == 1 and out[1].n_boiler == 1
    assert out[2].n_boiler == 1
    assert out[3].n_boiler == 0


def test_semantic_dedup_pairs_in_same_cell_only(spark, embeddings):
    pairs = SIM.semantic_dedup(embeddings).collect()
    assigned = {
        r.vec_id: r.cell for r in SIM.ivf_assign_cells(embeddings).collect()
    }
    for r in pairs:
        assert r.keep_id < r.drop_id
        assert assigned[r.keep_id] == r.cell == assigned[r.drop_id]
        assert r.cosine >= SIM.SEMDEDUP_THRESHOLD


def test_semantic_dedup_finds_planted_duplicate(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 16)).astype(float)
    vecs = [(i, [float(x) for x in base[i]], 0) for i in range(20)]
    # plant a near-copy of vector 5 (tiny perturbation, cosine ≈ 1)
    vecs.append((20, [float(x) for x in base[5] * 1.01 + 0.001], 0))
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label int"
    )
    pairs = {(r.keep_id, r.drop_id) for r in SIM.semantic_dedup(df, n_cells=4).collect()}
    assert (5, 20) in pairs


def test_pack_sequences_offsets_are_contiguous_per_shard(spark, documents):
    from collections import defaultdict

    from telemetry_streaming_datalake_spark.operators import corpus as CP

    rows = CP.pack_sequences(documents).collect()
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[(r.lang, r.shard)].append(r)
    assert len(by_shard) > 1
    for group in by_shard.values():
        group.sort(key=lambda r: r.doc_id)
        expect = 0
        for r in group:
            assert r.start_offset == expect
            assert r.bin_id == r.start_offset // CP.PACK_BUDGET
            assert r.spans_bins == (
                r.start_offset // CP.PACK_BUDGET
                != (r.start_offset + r.n_tokens - 1) // CP.PACK_BUDGET
            )
            expect = r.start_offset + r.n_tokens


def test_mixture_weights_temperature_flattens_shares(spark, documents):
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    rows = CP.mixture_weights(documents).collect()
    assert abs(sum(r.raw_share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 1e-4
    smallest = min(rows, key=lambda r: r.n_tokens)
    biggest = max(rows, key=lambda r: r.n_tokens)
    # alpha < 1 upsamples the tail and downsamples the head
    assert smallest.temp_share > smallest.raw_share
    assert biggest.temp_share < biggest.raw_share


def test_kmeans_refine_moves_centroid_to_member_mean(spark):
    # two obvious clusters; seeds = vec_ids 0 and 1 (one in each)
    vecs = [
        (0, [0.0, 1.0], 0), (2, [0.1, 0.9], 0), (3, [-0.1, 1.1], 0),
        (1, [1.0, 0.0], 0), (4, [0.9, 0.1], 0), (5, [1.1, -0.1], 0),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>, label int")
    out = {(r.cell, r.dim_idx): r for r in SIM.kmeans_refine(df, n_cells=2).collect()}
    assert out[(0, 1)].n_members == 3 and out[(1, 1)].n_members == 3
    assert abs(out[(0, 1)].centroid_val - 0.0) < 0.1   # mean of 0, .1, -.1
    assert abs(out[(0, 2)].centroid_val - 1.0) < 0.1
    assert abs(out[(1, 1)].centroid_val - 1.0) < 0.1
    assert abs(out[(1, 2)].centroid_val - 0.0) < 0.1


def test_operators_survive_empty_inputs(spark):
    """A filtered-to-empty corpus (common in per-partition reruns and
    backfills) must yield empty results, not driver-side crashes in
    the centroid collects."""
    from telemetry_streaming_datalake_spark.operators import corpus as CP
    from telemetry_streaming_datalake_spark.operators import merge as M

    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    empties = [
        DD.dedup_minhash(docs),
        DD.ngram_jaccard_dedup(docs),
        M.dup_clusters(DD.ngram_jaccard_dedup(docs)),
        CP.boilerplate_ngrams(docs),
        CP.pack_sequences(docs),
        CP.mixture_weights(docs),
        TX.tfidf_top_terms(docs),
        SIM.semantic_dedup(emb),
        SIM.kmeans_refine(emb),
        SIM.ann_ivf_topk(emb, [0]),
        SIM.ann_lsh_topk(emb, [0]),
        SIM.cosine_topk(emb, [0]),
        SIM.centroid_confusion(emb),
        SIM.embedding_near_dups(emb),
    ]
    for df in empties:
        assert df.count() == 0


def test_length_trim_flags_only_tail_docs(spark, documents):
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    rows = CP.length_trim(documents).collect()
    trimmed = [r for r in rows if r.trimmed]
    kept = [r for r in rows if not r.trimmed]
    # p01..p99 band keeps the bulk and every kept doc sits inside it
    assert len(trimmed) <= 0.05 * len(rows)
    lo, hi = rows[0].p_lo_tokens, rows[0].p_hi_tokens
    assert all(lo <= r.n_tokens <= hi for r in kept)
    assert all(r.n_tokens < lo or r.n_tokens > hi for r in trimmed)


def test_similarity_operators_skip_null_vectors(spark):
    """NULL embedding rows (inevitable at corpus scale) are excluded at
    operator entry — SQL-aggregate NULL semantics, not worker crashes."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 1), (2, None, 0)],
        "vec_id long, embedding array<double>, label int",
    )
    assert SIM.cosine_topk(emb, [0]).count() == 1          # null row not a neighbour
    assert SIM.kmeans_refine(emb, n_cells=2).count() == 4  # 2 cells × 2 dims
    conf = {r.label: r for r in SIM.centroid_confusion(emb).collect()}
    assert sum(r.n_vecs for r in conf.values()) == 2       # null row not classified
    for df in [
        SIM.semantic_dedup(emb, n_cells=2),
        SIM.ann_lsh_topk(emb, [0], dim=2),
        SIM.ann_ivf_topk(emb, [0], n_cells=2, nprobe=1),
        SIM.embedding_near_dups(emb, dim=2),
    ]:
        df.count()  # must not raise


def test_lm_perplexity_separates_typical_from_gibberish(spark):
    """A doc repeating the corpus's dominant bigrams must score lower
    perplexity than a doc of one-off bigrams."""
    from telemetry_streaming_datalake_spark.operators import text as TX

    corpus = [
        (0, "the cat sat the cat sat the cat sat", "en", "s", 35),
        (1, "the cat sat on the mat", "en", "s", 22),
        (2, "zq xv wk jp qz vx", "en", "s", 17),
    ]
    docs = spark.createDataFrame(
        corpus, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.doc_id: r for r in TX.lm_perplexity(docs).collect()}
    assert set(out) == {0, 1, 2}
    assert out[0].perplexity < out[2].perplexity
    assert out[0].n_bigrams == 8
    # single-token doc excluded
    one = spark.createDataFrame(
        [(9, "word", "en", "s", 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    assert TX.lm_perplexity(one).count() == 0


def test_ivf_zero_vector_assigns_deterministically(spark):
    """A zero embedding must assign to a real cell (cos ≡ 0 against
    every centroid → argmax picks cell 0), never NaN-propagate — the
    norm floor on both the centroid and the vector side."""
    import math

    from telemetry_streaming_datalake_spark.operators import similarity as SIM

    rows = [
        (0, [0.0, 0.0, 0.0], "a"),
        (1, [1.0, 0.0, 0.0], "a"),
        (2, [0.0, 1.0, 0.0], "b"),
        (3, [0.5, 0.5, 0.0], "b"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = {r.vec_id: r.cell for r in SIM.ivf_assign_cells(emb, n_cells=2).collect()}
    assert out[0] == 0  # zero vector: all sims 0.0, argmax ties to cell 0
    assert all(not math.isnan(c) for c in out.values())
    # centroid 0 IS the zero vector (lowest vec_id seed) — a vector
    # with positive sim to centroid 1 still assigns there, not NaN
    assert out[3] == 1


def test_wav_decoder_parses_real_wav_structure(spark):
    """decode_wav must parse a genuine RIFF layout (including chunk
    walking past an inserted LIST chunk) and reject non-PCM."""
    import struct

    import numpy as np
    import pytest

    from telemetry_streaming_datalake_spark.operators import multimodal as MM

    samples = np.array([0, 1000, -1000, 32767, -32768], dtype="<i2")
    data = samples.tobytes()
    fmt = struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"  # chunk to walk past
    payload = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 16 + 12 + 8 + len(data)) + b"WAVE"
        + b"fmt " + fmt + extra + b"data" + struct.pack("<I", len(data)) + data
    )
    rate, out = MM.decode_wav(payload)
    assert rate == 8000
    assert out.tolist() == samples.tolist()
    # stereo is rejected by the guarded seam, not silently mis-decoded
    fmt2 = struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
    bad = (
        b"RIFF" + struct.pack("<I", 4 + 8 + 16 + 8 + len(data)) + b"WAVE"
        + b"fmt " + fmt2 + b"data" + struct.pack("<I", len(data)) + data
    )
    with pytest.raises(NotImplementedError):
        MM.decode_wav(bad)


def test_audio_features_statistics(spark):
    """Waveform stats over the synthesized WAV payloads: geometry
    fixed, stats match a direct numpy recomputation for a sample doc."""
    import numpy as np

    from telemetry_streaming_datalake_spark.operators import multimodal as MM
    from telemetry_streaming_datalake_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(5)
    rows = {r.doc_id: r for r in MM.audio_features(docs).collect()}
    payloads = {r.doc_id: bytes(r.payload) for r in MM.attach_audio_payload(docs).collect()}
    assert len(rows) == 5
    for doc_id, r in rows.items():
        assert (r.sample_rate, r.n_samples, r.duration_ms) == (8000, 256, 32)
        _, s = MM.decode_wav(payloads[doc_id])
        s64 = s.astype("int64")
        assert r.peak_abs == int(np.abs(s64).max())
        assert r.rms == round(float(np.sqrt((s64 * s64).sum() / 256)), 6)
        assert r.zero_crossings == int(((s64[1:] >= 0) != (s64[:-1] >= 0)).sum())


def test_retrieval_quality_report_matches_textbook_ndcg(spark, documents, embeddings):
    """The micro-unit-quantized nDCG must agree with a textbook float
    recomputation (from the engine's own ranked list + truth set) to
    within the quantization bound, recall must be the exact hit
    fraction, and every metric must lie in [0, 1] with the full depth
    curve present."""
    import math

    depths = (5, 50)  # endpoints; the full curve runs in the registry key
    out = {
        r.depth: r
        for r in SIM.retrieval_quality_report(
            documents, embeddings, depths=depths
        ).collect()
    }
    assert sorted(out) == sorted(depths)

    k = SIM.HYBRID_TOP_K
    truth = {
        r.vec_id
        for r in SIM.cosine_topk(embeddings, [SIM.HYBRID_QUERY_VEC_ID], k).collect()
    }
    idcg = sum(1 / math.log2(i + 1) for i in range(1, k + 1))
    for depth, r in out.items():
        ranked = SIM.hybrid_search(
            documents, embeddings, SIM.HYBRID_QUERY_VEC_ID, None, k, depth
        ).collect()
        hits = [i + 1 for i, row in enumerate(ranked) if row.doc_id in truth]
        want_recall = len(hits) / k
        want_ndcg = sum(1 / math.log2(i + 1) for i in hits) / idcg
        assert r.truth_hits == len(hits)
        assert abs(r.recall_at_k - want_recall) < 1e-6
        assert abs(r.ndcg_at_k - want_ndcg) < 1e-4  # micro-unit quantization
        assert 0.0 <= r.ndcg_at_k <= 1.0 and 0.0 <= r.recall_at_k <= 1.0


def test_dup_keep_audit_cluster_fates(spark):
    """Three engineered cluster fates: a cluster whose content-
    canonical copy (largest n_chars) is dropped as an exact dup while
    a lesser copy survives (canonical_survived False, not fully
    dropped); a cluster entirely gate-dropped (fully_dropped True);
    and a healthy cluster whose canonical survives.  Singletons never
    appear."""
    from telemetry_streaming_datalake_spark.operators import curation as CU

    base_a = "the cat and the dog of a mat sat on the hat with a bat near the rat"
    base_c = "it was the best of times and it was the worst of times in the old city"
    rows = [
        # cluster 20: 20/21 exact copies (21 has LARGER n_chars so it
        # is the content canonical, but the exact keeper is the lower
        # doc_id 20), 22 a near-dup that loses the canonical window
        (20, base_a + " alpha beta gamma", "en", "s", 100),
        (21, base_a + " alpha beta gamma", "en", "s", 120),
        (22, base_a + " alpha beta delta", "en", "s", 50),
        # cluster 30: both copies fail the gate (word count < 10)
        (30, "zz qq ww zz qq", "en", "s", 15),
        (31, "zz qq ww zz qq", "en", "s", 14),
        # cluster 40: healthy near-dup pair, canonical survives
        (40, base_c + " tail one two", "en", "s", 90),
        (41, base_c + " tail one three", "en", "s", 50),
        # singleton: passes everything, must not appear in the audit
        (50, "a fine day for the walk and the sun of summer warms all of us", "en", "s", 60),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.cluster_id: r for r in CU.dup_keep_audit(docs).collect()}
    assert sorted(out) == [20, 30, 40]

    a = out[20]
    assert (a.cluster_size, a.n_kept) == (3, 1)
    assert a.content_canonical_id == 21
    assert (a.n_gate_dropped, a.n_exact_dup_dropped, a.n_near_dup_dropped) == (0, 1, 1)
    assert not a.fully_dropped and not a.canonical_survived
    assert a.keep_rate == pytest.approx(1 / 3, abs=1e-6)

    b = out[30]
    assert (b.cluster_size, b.n_kept, b.n_gate_dropped) == (2, 0, 2)
    assert b.fully_dropped and not b.canonical_survived

    c = out[40]
    assert (c.cluster_size, c.n_kept) == (2, 1)
    assert c.content_canonical_id == 40
    assert c.canonical_survived and not c.fully_dropped
    assert c.keep_rate == pytest.approx(0.5, abs=1e-6)


def test_decontamination_overlap_attributes_methods(spark):
    """Engineered contamination: one train doc shares a verbatim
    16-gram with the benchmark (n-gram catch, orthogonal embedding)
    and another is a PARAPHRASE (no shared 16-gram, near-identical
    embedding — the catch only the semantic method makes).  The
    overlap report attributes each uniquely."""
    import numpy as np

    bench_text = " ".join(f"w{i}" for i in range(30))
    rows = [
        (0, bench_text, "en", "s", 1),                       # benchmark doc
        (1, bench_text + " plus a verbatim tail", "en", "s", 1),  # n-gram hit
        (2, "totally different words rephrasing the same idea entirely", "en", "s", 1),  # paraphrase
        (3, "clean unrelated content about other things", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    rng = np.random.default_rng(7)
    e0 = rng.standard_normal(16)
    e2 = e0 + rng.standard_normal(16) * 0.05          # paraphrase: cos ~1
    e1, e3 = rng.standard_normal(16), rng.standard_normal(16)  # unrelated
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate((e0, e1, e2, e3))],
        "vec_id long, embedding array<float>, label int",
    )
    row = SIM.decontamination_overlap(docs, emb, bench_ids=(0,)).collect()[0]
    assert row.n_ngram == 1 and row.n_semantic == 1
    assert row.n_both == 0 and row.n_union == 2
    assert row.n_only_ngram == 1 and row.n_only_semantic == 1
    assert row.overlap_jaccard == 0.0


def test_gate_rule_report_unique_attribution(spark):
    """Engineered corpus where each failure mode is isolated: a doc
    failing ONLY word count, one failing ONLY stopwords, one failing
    both (overlap — unique for neither), and clean docs.  Unique
    counts attribute exactly; n_fail counts every failure."""
    stop = "the cat and the dog of a mat sat on the hat with a bat near it"
    rows = [
        (1, stop, "en", "s", 1),                      # passes everything
        (2, stop + " still fine words here", "en", "s", 1),   # passes
        (3, "the of and a", "en", "s", 1),            # ONLY word count fails
        (4, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu", "en", "s", 1),  # ONLY stopwords fails
        (5, "zz qq", "en", "s", 1),                   # word count AND stopwords fail
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.rule: r for r in TX.gate_rule_report(docs).collect()}
    assert sorted(out) == sorted(TX.GOPHER_RULES)
    assert out["word_count"].n_fail == 2          # docs 3, 5
    assert out["word_count"].n_unique_fail == 1   # doc 3
    assert out["stopwords"].n_fail == 2           # docs 4, 5
    assert out["stopwords"].n_unique_fail == 1    # doc 4
    assert out["alpha_frac"].n_fail == 0
    assert out["word_len"].n_fail == 0
    assert out["word_count"].fail_frac == pytest.approx(0.4, abs=1e-6)
    assert out["word_count"].unique_fail_frac == pytest.approx(0.2, abs=1e-6)


def test_dedup_threshold_curve_counts_and_monotonicity(spark):
    """Engineered corpus: an identical pair (jaccard 1.0) and a
    half-overlap pair — the curve's pair/doc counts at each threshold
    are exact, monotone non-increasing in the threshold, and the mean
    matches the hand arithmetic."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    rows = [
        (1, base, "en", "s", 1),
        (2, base, "en", "s", 1),  # exact dup of 1 -> jaccard 1.0
        (3, base + " tail words here now", "en", "s", 1),  # high-overlap of 1/2
        (4, "completely different content with nothing shared at all", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    curve = {r.threshold: r for r in DD.dedup_threshold_curve(docs).collect()}
    assert sorted(curve) == sorted(DD.DEDUP_CURVE_THRESHOLDS)
    pair_counts = [curve[t].n_pairs for t in sorted(curve)]
    assert pair_counts == sorted(pair_counts, reverse=True)  # monotone
    # at 0.9 only the exact pair survives; docs 1,2 implicated
    assert curve[0.9].n_pairs == 1 and curve[0.9].n_docs == 2
    assert curve[0.9].mean_jaccard == pytest.approx(1.0, abs=1e-6)
    assert curve[0.9].dup_doc_frac == pytest.approx(0.5, abs=1e-6)
    # at 0.1 all three near-dup pairs (1-2, 1-3, 2-3) survive
    assert curve[0.1].n_pairs == 3 and curve[0.1].n_docs == 3


def test_curation_manifest_precedence_and_composition(spark):
    """The end-to-end manifest: gate failures outrank dup reasons, an
    exact-dup group keeps exactly its lowest doc_id, and final_keep
    matches the AND of the three stages."""
    from telemetry_streaming_datalake_spark.operators import curation as CU

    stop = "the cat and the dog of a mat sat on the hat with a bat near the rat"
    rows = [
        (0, stop + " unique zero content here today", "en", "s", 1),
        (1, stop + " unique zero content here today", "en", "s", 1),  # exact dup of 0
        (2, "zz qq ww", "en", "s", 1),          # fails gate (short, no stopwords)
        (3, stop + " completely different tail words now", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.doc_id: r for r in CU.curation_manifest(docs).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[0].final_keep and out[0].drop_reason is None
    assert not out[1].is_exact_keeper and out[1].drop_reason in ("exact_dup", "near_dup")
    assert out[1].drop_reason == "exact_dup"  # precedence: exact before near
    assert not out[2].gate_keep and out[2].drop_reason == "gate"
    assert out[3].split in ("train", "val")
    for r in out.values():
        assert r.final_keep == (r.gate_keep and r.is_exact_keeper and r.is_canonical)


def test_curation_manifest_gate_failing_canonical_does_not_sink_content(spark):
    """Stage ordering (r9 review): near-dup clustering must run over
    GATE SURVIVORS.  A near-dup cluster whose longest member (the
    n_chars-DESC canonical pick) FAILS the gate used to erase the
    content entirely: the long copy dropped as `gate`, every clean
    near-dup copy as `near_dup`.  (The analogous exact-dup scenario is
    impossible by construction — identical normalized text implies an
    identical gate verdict — so the near-dup leg is where the ordering
    bites.)"""
    from telemetry_streaming_datalake_spark.operators import curation as CU

    stop = (
        "the cat and the dog of a mat sat on the hat with a bat near the "
        "rat and the fox ran to the den of the owl in a tree by the lake"
    )
    # doc 1: clean copy (all-alpha, stopword-rich) — passes the gate
    # doc 0: the SAME text plus a numeric tail — longer (old canonical
    # pick) but alpha_word_frac < 0.8 fails the gate
    numeric_tail = " ".join(str(1000 + i) for i in range(14))
    rows = [
        (0, stop + " " + numeric_tail, "en", "s", 1),
        (1, stop, "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.doc_id: r for r in CU.curation_manifest(docs).collect()}
    assert out[0].drop_reason == "gate" and not out[0].gate_keep
    # the clean near-dup copy SURVIVES as its own canonical
    assert out[1].final_keep and out[1].drop_reason is None
    assert sum(1 for r in out.values() if r.final_keep) == 1


def test_incremental_dedup_against_index(spark, tmp_path):
    """Incoming batch dedups against a persisted corpus index: exact
    dups of indexed docs flagged regardless of id ordering, in-batch
    dups keep the earliest, genuinely new docs pass."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD

    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog " * 4),
            (12, "unrelated existing content about databases " * 4),
        ],
        "doc_id long, text string",
    )
    idx_dir = str(tmp_path / "idx")
    DD.build_dedup_index(corpus, idx_dir)
    incoming = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 4),  # exact dup of 10 (higher id!)
            (3, "entirely novel text with fresh words here " * 4),
            (5, "entirely novel text with fresh words here " * 4),     # in-batch dup of 3
            (7, "the quick brown fox jumps over the sleepy dog " * 4), # near dup of 10
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in DD.incremental_dedup_against(spark, idx_dir, incoming).collect()}
    assert out[1].exact_dup_of == 10 and not out[1].is_new
    assert out[3].exact_dup_of is None and out[3].is_new
    assert out[5].exact_dup_of == 3 and not out[5].is_new
    assert out[7].exact_dup_of is None
    # matches BOTH the indexed doc 10 and its in-batch copy doc 1;
    # min(j) picks the lowest id among earlier partners
    assert out[7].near_dup_of == 1 and not out[7].is_new


def test_extend_dedup_index_equals_rebuild(spark, tmp_path):
    """extend_dedup_index over a monotone-id increment produces an
    index CONTENT-identical to a from-scratch rebuild over the union —
    including the per-fingerprint cap boundary (a bucket already full
    at build admits no increment rows; a partial bucket fills in
    doc_id order)."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD

    hot = "shared boilerplate fingerprint text here " * 4
    initial = spark.createDataFrame(
        [(i, hot) for i in range(6)]
        + [(6, "unique early content about databases " * 4)],
        "doc_id long, text string",
    )
    increment = spark.createDataFrame(
        [(i, hot) for i in range(10, 16)]  # hot bucket: over the cap
        + [(16, "unique late content about telemetry " * 4)],
        "doc_id long, text string",
    )
    ext_dir, reb_dir = str(tmp_path / "ext"), str(tmp_path / "reb")
    DD.build_dedup_index(initial, ext_dir, fp_cap=8)
    DD.extend_dedup_index(spark, ext_dir, increment, fp_cap=8)
    DD.build_dedup_index(initial.unionByName(increment), reb_dir, fp_cap=8)
    for table in ("hashes", "fingerprints"):
        ext = spark.read.parquet(f"{ext_dir}/{table}")
        reb = spark.read.parquet(f"{reb_dir}/{table}")
        cols = [c for c in ext.columns if c != "sh"] + (
            [F.sort_array("sh").cast("string").alias("sh")]
            if "sh" in ext.columns
            else []
        )
        e = {tuple(r) for r in ext.select(*cols).collect()}
        r = {tuple(r) for r in reb.select(*cols).collect()}
        assert e == r, table
    # the hot bucket holds exactly cap members: 6 initial + 2 increment
    fps = spark.read.parquet(f"{ext_dir}/fingerprints")
    hot_bucket = (
        fps.groupBy("fingerprint").count().orderBy(F.desc("count")).first()
    )
    assert hot_bucket["count"] == 8


def test_tokenize_roundtrip_audit(spark):
    """Per-language round-trip certification: decode == original for
    every word (engine-verified), OOV mass counts exactly the tokens
    outside the shipped vocab (digits/punctuation), and a pure-letter
    corpus has zero OOV."""
    docs = spark.createDataFrame(
        [
            (1, "the thing is here", "en"),
            (2, "abc123 def!", "xx"),  # digits + '!' are OOV tokens
            (3, "ingot and another thing", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.lang: r for r in TX.tokenize_roundtrip(docs).collect()}
    assert out["en"].roundtrip_ok and out["xx"].roundtrip_ok
    assert out["en"].n_oov_tokens == 0
    assert out["en"].n_docs == 2
    # "abc123": a,b,c in vocab; 1,2,3 OOV. "def!": d,e,f in vocab, ! OOV
    assert out["xx"].n_oov_tokens == 4
    assert out["xx"].n_tokens == 10
    assert abs(out["xx"].oov_token_share - 0.4) < 1e-9


def test_domain_quality_report_prices_all_three_knobs(spark):
    """One domain over the cap with duplicates and gate failures: the
    report prices cap loss, dup rate, and gate pass rate per source,
    and token shares sum to 1."""
    from telemetry_streaming_datalake_spark.operators.curation import (
        domain_quality_report,
    )

    good = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the green fields all day with great joy " * 3
    )
    rows = [(i, good + f" marker {i}", "en", "hot", 100) for i in range(5)]
    rows += [(10, good, "en", "hot", 100), (11, good, "en", "hot", 100)]  # dups
    rows += [(20, "x y", "en", "cold", 3)]  # fails the word-count gate
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r.source: r for r in domain_quality_report(docs, cap=6).collect()}
    hot, cold = out["hot"], out["cold"]
    assert hot.n_docs == 7 and hot.cap_excess_docs == 1
    assert abs(hot.cap_loss_rate - round(1 / 7, 6)) < 2e-6
    # 7 docs, 6 distinct contents (10 and 11 share one hash)
    assert abs(hot.dup_rate - round(1 - 6 / 7, 6)) < 2e-6
    assert hot.gate_pass_rate == 1.0
    assert cold.gate_pass_rate == 0.0 and cold.cap_excess_docs == 0
    assert abs(hot.token_share + cold.token_share - 1.0) < 2e-6


def test_dedup_ingest_loop_converges_to_one_shot(spark, tmp_path):
    """The production ingestion loop — for each arriving increment,
    dedup against the persisted index THEN extend the index with the
    increment — must converge to the one-shot earliest-earlier
    relation over the whole corpus: for every doc, exact_dup_of /
    near_dup_of is the EARLIEST earlier doc regardless of which
    increment boundary separated them (caps not binding here).  This
    is the composition contract `extend == rebuild` exists to serve."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD

    base = "the quick brown fox jumps over the lazy dog and runs away "
    texts = {
        0: base * 4,                    # first copy
        1: "unrelated content about databases and queries " * 4,
        2: base * 4,                    # exact dup of 0 (same increment)
        3: base * 4 + "tail",           # near dup of 0
        4: "fresh novel text with completely new words here " * 4,
        5: base * 4,                    # exact dup of 0 (later increment)
        6: "unrelated content about databases and queries " * 4,  # dup of 1
        7: base * 4 + "another tail",   # near dup of 0 (later increment)
        8: "fresh novel text with completely new words here " * 4,  # dup of 4
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    idx = str(tmp_path / "loopidx")
    DD.build_dedup_index(docs.filter("doc_id < 0"), idx)  # empty index
    outs = []
    for lo, hi in ((0, 3), (3, 6), (6, 9)):  # three arriving increments
        inc = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        outs.append(DD.incremental_dedup_against(spark, idx, inc))
        DD.extend_dedup_index(spark, idx, inc)
    looped = {r.doc_id: r for df in outs for r in df.collect()}
    assert set(looped) == set(texts)
    expect = {  # (exact_dup_of, near_dup_of, is_new) — an exact dup is
        # also its earliest partner's near-dup (identical shingle sets)
        0: (None, None, True),
        1: (None, None, True),
        2: (0, 0, False),
        3: (None, 0, False),
        4: (None, None, True),
        5: (0, 0, False),
        6: (1, 1, False),
        7: (None, 0, False),
        8: (4, 4, False),
    }
    for d, (ex, near, new) in expect.items():
        r = looped[d]
        assert (r.exact_dup_of, r.near_dup_of, r.is_new) == (ex, near, new), d


def test_leakage_safe_split_closes_near_dup_clusters(spark):
    """A near-dup pair the naive content-hash split separates must be
    pulled onto ONE side (the rep's side); singletons keep their naive
    assignment; every group is split-homogeneous."""
    from telemetry_streaming_datalake_spark.operators.curation import (
        leakage_safe_split,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 5
    docs = spark.createDataFrame(
        [
            (1, base),                       # cluster rep (min id)
            (2, base + " tail edit"),        # near-dup of 1
            # append-only edits keep every base gram, so the winnowing
            # fingerprint (min 16-gram) provably collides with doc 1
            (3, base + " another small suffix change"),
            (10, "entirely unrelated content about databases " * 6),
            (11, None),                      # NULL text -> train, singleton
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in leakage_safe_split(docs).collect()}
    # the cluster is homogeneous and keyed by the rep (doc 1)
    assert out[1].group_id == out[2].group_id == out[3].group_id == 1
    assert out[1].split == out[2].split == out[3].split
    # members whose own hash would have landed elsewhere are rescued
    for d in (2, 3):
        assert out[d].rescued == (out[d].naive_split != out[1].split)
    # the rep itself always keeps its naive side (it IS the decider)
    assert out[1].split == out[1].naive_split and not out[1].rescued
    # singletons: group = self, split = naive, never rescued
    for d in (10, 11):
        assert out[d].group_id == d
        assert out[d].split == out[d].naive_split and not out[d].rescued


def test_incremental_dedup_hot_fingerprint_bounded(spark, tmp_path):
    """Mass-duplicated boilerplate on BOTH sides: the capped
    fingerprint table bounds the probe join while exact dedup (full
    hashes table) still flags every incoming copy."""
    from pyspark.sql import functions as F

    from telemetry_streaming_datalake_spark.operators import dedup as DD

    text = "the same boilerplate paragraph repeated everywhere always"
    corpus = spark.range(1000).select(
        (F.col("id") * 2).alias("doc_id"), F.lit(text).alias("text")
    )
    idx_dir = str(tmp_path / "hotidx")
    DD.build_dedup_index(corpus, idx_dir)
    import os

    fp_rows = spark.read.parquet(os.path.join(idx_dir, "fingerprints")).count()
    assert fp_rows == DD.BUCKET_CAP  # one hot fingerprint, capped
    incoming = spark.range(500).select(
        (F.col("id") * 2 + 1).alias("doc_id"), F.lit(text).alias("text")
    )
    out = DD.incremental_dedup_against(spark, idx_dir, incoming)
    rows = out.collect()
    assert len(rows) == 500
    # exact dedup saw the FULL corpus: every copy points at doc 0
    assert all(r.exact_dup_of == 0 and not r.is_new for r in rows)


#: six docs sharing one winnowing fingerprint (the 16-char anchor's md5
#: is the min window hash in every doc — verified at construction) but
#: with pairwise 5-gram Jaccard 0.206 (probe vs fillers, below the 0.3
#: threshold) / 0.837 (probe vs near-copy, above it)
_ANCHOR = "anchor0000033413"


def _anchored(tag: str) -> str:
    return _ANCHOR + " " + " ".join(f"{tag}w0x{j}" for j in range(12))


def test_incremental_dedup_oracle_mirrors_fp_cap(spark, tmp_path):
    """ADVICE r6: a fingerprint bucket hotter than the cap must clip
    the SAME members in engine and oracle.  Here the probe's only real
    near-dup (even doc 8) sits beyond a cap of 4 in its posting list;
    the engine misses it BY CONTRACT, and the capped oracle must agree
    (the uncapped oracle would report it — asserted too, so this test
    bites)."""
    import duckdb
    import pandas as pd

    from telemetry_streaming_datalake_spark.operators import dedup as DD

    fillers = [_anchored(f"filler{i}") for i in range(4)]
    probe = _anchored("probe")
    near_copy = probe.rsplit(" ", 1)[0] + " nearcopyend"
    rows = [(2 * i, t) for i, t in enumerate(fillers)] + [(8, near_copy), (9, probe)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # all six share the fingerprint (the construction's invariant)
    fps = DD._fingerprint_and_shingle_sets(docs).select("fingerprint").distinct()
    assert fps.count() == 1

    idx_dir = str(tmp_path / "capidx")
    DD.build_dedup_index(docs.filter(F.col("doc_id") % 2 == 0), idx_dir, fp_cap=4)
    out = {
        r.doc_id: r
        for r in DD.incremental_dedup_against(
            spark, idx_dir, docs.filter(F.col("doc_id") % 2 == 1)
        ).collect()
    }
    assert out[9].near_dup_of is None and out[9].is_new

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    capped = con.execute(DD.incremental_dedup_oracle(cap=4)).fetchdf()
    assert capped.set_index("doc_id").loc[9, "near_dup_of"] is None or pd.isna(
        capped.set_index("doc_id").loc[9, "near_dup_of"]
    )
    uncapped = con.execute(DD.incremental_dedup_oracle(cap=10_000)).fetchdf()
    assert int(uncapped.set_index("doc_id").loc[9, "near_dup_of"]) == 8


def test_corpus_drift_js_properties(spark):
    """JS = 0 for identical slices; = 1 bit for disjoint vocabularies;
    strictly between for partial overlap."""
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    same = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma")],
        "doc_id long, text string",
    )
    r = CP.corpus_drift(same).collect()[0]
    assert r.js_divergence == 0.0
    assert r.vocab_shared == 3

    disjoint = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    r = CP.corpus_drift(disjoint).collect()[0]
    assert r.js_divergence == 1.0
    assert r.vocab_shared == 0

    partial = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha zeta")], "doc_id long, text string"
    )
    r = CP.corpus_drift(partial).collect()[0]
    assert 0.0 < r.js_divergence < 1.0


def test_corpus_drift_empty_slice_yields_null_not_crash(spark):
    """All-odd doc_ids → reference slice empty → NULL js_divergence,
    per the degenerate-input contract.  Under ANSI mode a plain
    division inside the KL terms would throw DIVIDE_BY_ZERO here
    (ADVICE r6 medium)."""
    from telemetry_streaming_datalake_spark.operators import corpus as CP

    all_odd = spark.createDataFrame(
        [(1, "alpha beta"), (3, "gamma delta")], "doc_id long, text string"
    )
    r = CP.corpus_drift(all_odd).collect()[0]
    assert r.js_divergence is None
    assert r.n_ref_tokens == 0 and r.n_new_tokens == 4


def test_zipf_fit_recovers_known_slope(spark):
    """A synthetic corpus with exact freq = 1000 / rank token counts
    must fit slope ≈ -1 with r² ≈ 1."""
    from telemetry_streaming_datalake_spark.operators import text as TX

    words = []
    for rank in range(1, 51):
        words += [f"tok{rank:03d}"] * (1000 // rank)
    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    r = TX.zipf_fit(docs, top_n=50).collect()[0]
    assert r.n_tokens_fit == 50
    assert abs(r.zipf_slope + 1.0) < 0.02
    assert r.r_squared > 0.999


def test_embedding_drift_endpoints(spark):
    """Identical snapshots drift 0; an orthogonally-moved class drifts
    to 1; a label missing from one snapshot is dropped."""
    from telemetry_streaming_datalake_spark.operators import similarity as SIM

    rows = [
        # label 0: identical centroid both slices
        (0, [1.0, 0.0], 0), (1, [1.0, 0.0], 0),
        (2, [0.0, 2.0], 0), (3, [0.0, 2.0], 0),
        # label 1: ref on x-axis, new on y-axis → cosine 0, drift 1
        (4, [3.0, 0.0], 1), (5, [0.0, 3.0], 1),
        # label 2: only in the reference slice → dropped
        (6, [1.0, 1.0], 2),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r.label: r for r in SIM.embedding_drift(emb).collect()}
    assert set(out) == {0, 1}
    assert out[0].drift == 0.0 and out[0].centroid_cosine == 1.0
    assert out[1].drift == 1.0 and out[1].centroid_cosine == 0.0
    assert out[0].n_ref == 2 and out[0].n_new == 2


def test_bm25_matches_python_reference(spark):
    """BM25 scores must equal the textbook Okapi formula computed in
    pure Python over a tiny corpus, with deterministic ranking."""
    import math

    from telemetry_streaming_datalake_spark.operators import text as TX

    corpus = {
        1: "hash join hash join scan",
        2: "vector scan vector index build",
        3: "sort merge join over the wire",
        4: "completely unrelated words here",
    }
    docs = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    terms = ("hash", "join", "vector", "scan")
    out = {r.doc_id: r for r in TX.bm25_search(docs, terms=terms, k=10).collect()}

    toks = {d: t.split() for d, t in corpus.items()}
    N = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / N
    dfs = {t: sum(1 for tk in toks.values() if t in tk) for t in terms}
    for d, tk in toks.items():
        score = 0.0
        matched = 0
        for t in terms:
            tf = tk.count(t)
            if tf == 0:
                continue
            matched += 1
            idf = math.log((N - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            score += idf * tf * (TX.BM25_K1 + 1) / (
                tf + TX.BM25_K1 * (1 - TX.BM25_B + TX.BM25_B * len(tk) / avgdl)
            )
        if matched == 0:
            assert d not in out  # non-matching docs excluded
            continue
        assert out[d].n_terms_matched == matched
        assert abs(out[d].bm25 - score) < 1e-5
    # doc 1 (two query terms, high tf) must outrank doc 3 (one term)
    assert out[1].bm25 > out[3].bm25


def test_hybrid_search_rrf_properties(spark):
    """A doc high on BOTH lists must outrank docs on one list only;
    single-list docs carry exactly their one RRF term."""
    from telemetry_streaming_datalake_spark.operators import similarity as SIM

    docs = spark.createDataFrame(
        [
            (0, "query anchor text"),            # the query vector's own doc
            (1, "hash join hash join scan"),      # lexical + semantic hit
            (2, "hash join scan vector"),         # lexical hit
            (3, "nothing lexical here at all"),   # semantic-only candidate
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.99, 0.1]),   # nearest to query 0
            (2, [0.0, 1.0]),
            (3, [0.9, 0.2]),    # second nearest
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.doc_id: r
        for r in SIM.hybrid_search(docs, emb, query_vec_id=0, k=4).collect()
    }
    assert out[1].lex_rank is not None and out[1].sem_rank is not None
    # doc 1 is on both lists -> highest fused score
    top = max(out.values(), key=lambda r: (r.rrf_score, -r.doc_id))
    assert top.doc_id == 1
    # single-list docs: score equals their one reciprocal term
    for d in out.values():
        expect = 0.0
        if d.lex_rank is not None:
            expect += 1.0 / (SIM.RRF_K + d.lex_rank)
        if d.sem_rank is not None:
            expect += 1.0 / (SIM.RRF_K + d.sem_rank)
        assert abs(d.rrf_score - round(expect, 6)) < 1e-9


def test_ivfpq_codes_int8_reconstruction_bounded(spark, tmp_path, embeddings):
    """The persisted posting lists hold tinyint codes + one scale, and
    the ADC reconstruction error is the scalar-quantization bound:
    |v_i - q_i/scale| <= max|v|/254 per component (half a step)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, ByteType

    idx = str(tmp_path / "pq")
    SIM.build_ivfpq_index(embeddings, idx, SIM.IVF_CELLS)
    cells = spark.read.parquet(idx + "/cells")
    codes_field = cells.schema["codes"].dataType
    assert isinstance(codes_field, ArrayType) and isinstance(
        codes_field.elementType, ByteType
    )
    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in embeddings.limit(50).collect()}
    for r in cells.filter(F.col("vec_id").isin(list(orig))).collect():
        v = orig[r.vec_id]
        recon = np.array(r.codes, dtype=np.float64) / r.scale
        assert np.all(np.abs(v - recon) <= np.abs(v).max() / 254 + 1e-12)


def test_ivfpq_ranking_tracks_full_precision_ivf(spark, embeddings, tmp_path):
    """Asymmetric int8 scoring is an approximation of the exact-cosine
    IVF probe over the SAME cells — recall@5 against it stays high
    (int8 perturbs cosines by ~1e-3; only near-ties can reorder)."""
    qids = list(range(8))
    exact = {
        (r.query_id, r.vec_id)
        for r in SIM.ann_ivf_topk(embeddings, qids, k=5).collect()
    }
    idx = str(tmp_path)
    SIM.build_ivfpq_index(embeddings, idx, SIM.IVF_CELLS)
    approx = {
        (r.query_id, r.vec_id)
        for r in SIM.probe_ivfpq_index(spark, idx, embeddings, qids, k=5).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.8


def test_ivfpq_rerank_equals_full_precision_ivf(spark, embeddings, tmp_path):
    """The refine stage's correctness contract: with rerank >= the
    probed-candidate count, exact re-scoring of the code-selected
    shortlist must equal the full-precision IVF probe row-for-row
    (same cells, same exact cosine, same tie-break)."""
    qids = list(range(8))
    idx = str(tmp_path)
    SIM.build_ivfpq_index(embeddings, idx, SIM.IVF_CELLS)
    got = sorted(
        tuple(r)
        for r in SIM.probe_ivfpq_index(
            spark, idx, embeddings, qids, k=5, rerank=10**6
        ).collect()
    )
    want = sorted(
        tuple(r) for r in SIM.ann_ivf_topk(embeddings, qids, k=5).collect()
    )
    assert got == want


def test_ivfpq_encoding_marker_rejects_mode_mismatch(spark, embeddings, tmp_path):
    """Any other code layout (a trained-PQ index) is byte-compatible
    with SQ8 on disk, so reconstructing it as SQ8 would silently return
    garbage — the persisted encoding marker must make the probe fail
    loudly on any tag but ``sq8``."""
    qids = [0, 1]
    idx = str(tmp_path)
    SIM.build_ivfpq_index(embeddings, idx, SIM.IVF_CELLS)
    assert SIM.probe_ivfpq_index(spark, idx, embeddings, qids).count() > 0
    spark.createDataFrame([("pq:0123abcd",)], "encoding string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "meta"))
    with pytest.raises(ValueError, match="encoding"):
        SIM.probe_ivfpq_index(spark, idx, embeddings, qids)


def test_domain_cap_sample_caps_hot_domain_deterministically(spark):
    """Over-cap domains are cut to exactly cap by md5 hash rank; the
    long tail passes through untouched; survivor choice is a pure
    function of doc_id (no RNG) so reruns agree."""
    from telemetry_streaming_datalake_spark.operators.corpus import (
        domain_cap_sample,
    )

    rows = [(i, f"text {i}", "en", "hot", 10) for i in range(30)]
    rows += [(100 + i, f"t {i}", "en", f"tail{i % 4}", 5) for i in range(12)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out1 = {(r.doc_id, r.source, r.n_domain, r.n_kept)
            for r in domain_cap_sample(docs, cap=10).collect()}
    out2 = {(r.doc_id, r.source, r.n_domain, r.n_kept)
            for r in domain_cap_sample(docs, cap=10).collect()}
    assert out1 == out2  # deterministic
    hot = [t for t in out1 if t[1] == "hot"]
    assert len(hot) == 10 and all(t[2] == 30 and t[3] == 10 for t in hot)
    assert all(0 <= t[0] < 30 for t in hot)  # survivors from the domain
    tail = [t for t in out1 if t[1] != "hot"]
    assert len(tail) == 12 and all(t[2] == 3 and t[3] == 3 for t in tail)


def test_semantic_decontaminate_flags_paraphrase_neighbors(spark):
    """A train vector pointing (nearly) the same way as a benchmark
    vector is flagged; an orthogonal one is not; bench vectors are
    excluded from the output; the score column is the max over the
    WHOLE bench set."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),   # bench
        (1, [0.0, 1.0, 0.0, 0.0], 0),   # bench
        (100, [0.9, 0.1, 0.0, 0.0], 1),  # near bench 0 -> contaminated
        (200, [0.0, 0.0, 1.0, 0.0], 1),  # orthogonal -> clean
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {
        r.vec_id: (r.max_bench_cosine, r.contaminated)
        for r in SIM.semantic_decontaminate(
            emb, bench_ids=(0, 1), threshold=0.9
        ).collect()
    }
    assert set(out) == {100, 200}
    assert out[100][1] is True and out[100][0] > 0.99  # 0.9/|v| vs e_0
    assert out[200][1] is False and abs(out[200][0]) < 1e-9


def test_semantic_decontaminate_is_map_only(spark, embeddings):
    """The bench matrix broadcasts inside the Arrow scorer: the plan
    has NO exchange and NO join — one corpus scan, period."""
    spark.catalog.clearCache()  # plan pin: assert the uncached shape
    p = (
        SIM.semantic_decontaminate(embeddings)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in p and "Join" not in p
    assert p.count("FileScan") == 1


def test_quality_percentile_gate_per_lang_threshold(spark):
    """Each language is gated at ITS OWN percentile: a low-scoring
    language keeps its top half even though every one of its docs
    scores below the other language's threshold."""
    from telemetry_streaming_datalake_spark.operators.text import (
        quality_percentile_gate,
        text_quality,
    )

    # lang A: rich stopword-y docs; lang B: terse docs (lower scores)
    rows = [(i, "the of and to in " * (5 + i), "en", "s", 1) for i in range(4)]
    rows += [(100 + i, "zz qq " * (1 + i), "xx", "s", 1) for i in range(4)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    kept = quality_percentile_gate(docs, q=0.5).collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r.lang, set()).add(r.doc_id)
    # both langs keep rows despite B's scores all being under A's cut
    assert by_lang.get("xx"), "low-scoring language starved by the gate"
    scores = {
        r.doc_id: r.quality_score for r in text_quality(docs).collect()
    }
    for lang, ids in by_lang.items():
        lang_ids = [d for d in scores if (d < 100) == (lang == "en")]
        dropped = set(lang_ids) - ids
        # every kept doc scores >= every dropped doc within its lang
        if dropped:
            assert min(scores[d] for d in ids) >= max(scores[d] for d in dropped)


def test_quality_percentile_gate_no_corpus_sort(spark, documents):
    """The gate never rank-windows the corpus: the threshold is a
    lang-cardinality aggregate broadcast back — no Window, no
    SortMergeJoin in the plan."""
    from telemetry_streaming_datalake_spark.operators.text import (
        quality_percentile_gate,
    )

    spark.catalog.clearCache()  # plan pin: assert the uncached shape
    p = (
        quality_percentile_gate(documents)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in p and "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_extend_ivf_index_equals_full_rebuild(spark, tmp_path, embeddings):
    """Frozen-centroid add: building on a prefix then extending with
    the rest must produce probe results identical to a from-scratch
    build over everything (FAISS `add` semantics), at O(increment)
    cost — the existing posting lists are never read."""
    import os as _os

    n_cells = SIM.IVF_CELLS
    full_dir = str(tmp_path / "full")
    incr_dir = str(tmp_path / "incr")
    SIM.build_ivf_index(embeddings, full_dir, n_cells)
    initial = embeddings.filter(
        (F.col("vec_id") < n_cells) | (F.col("vec_id") % 2 == 0)
    )
    increment = embeddings.filter(
        (F.col("vec_id") >= n_cells) & (F.col("vec_id") % 2 == 1)
    )
    SIM.build_ivf_index(initial, incr_dir, n_cells)
    n_files_before = sum(
        len(fs) for _r, _d, fs in _os.walk(_os.path.join(incr_dir, "cells"))
    )
    SIM.extend_ivf_index(spark, incr_dir, increment)
    qids = [0, 1, 2, 3]
    got = sorted(
        tuple(r)
        for r in SIM.probe_ivf_index(spark, incr_dir, embeddings, qids).collect()
    )
    want = sorted(
        tuple(r)
        for r in SIM.probe_ivf_index(spark, full_dir, embeddings, qids).collect()
    )
    assert got == want
    # the extend appended files; it did not rewrite the index
    n_files_after = sum(
        len(fs) for _r, _d, fs in _os.walk(_os.path.join(incr_dir, "cells"))
    )
    assert n_files_after > n_files_before


def test_hard_negatives_labels_always_differ(spark, embeddings):
    """Every mined negative must carry a label different from its
    query's, ranks must be dense 1..k, and the top negative must be
    the true most-similar cross-label vector (checked via numpy)."""
    import numpy as np

    from telemetry_streaming_datalake_spark.operators import similarity as SIM

    out = SIM.hard_negatives(embeddings, [0, 1], k=5).collect()
    assert len(out) == 10
    by_q = {}
    for r in out:
        assert r.neg_label != r.query_label
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert sorted(x.rank for x in rs) == [1, 2, 3, 4, 5]
    rows = embeddings.collect()
    vecs = {r.vec_id: (np.array(r.embedding, dtype=np.float64), r.label) for r in rows}
    for q in (0, 1):
        qv, ql = vecs[q]
        best, best_c = None, -2.0
        for vid, (v, lb) in vecs.items():
            if lb == ql:
                continue
            c = round(float(qv @ v / (np.linalg.norm(qv) * np.linalg.norm(v))), 4)
            # same tie-break as the operator: cosine desc, vec_id asc
            if c > best_c or (c == best_c and vid < best):
                best, best_c = vid, c
        got = [r for r in by_q[q] if r.rank == 1][0]
        assert got.vec_id == best


def test_dup_spans_finds_exact_shared_substring(spark):
    """Two docs sharing one long verbatim paragraph: the reported span
    must have the exact length and 1-based offsets of the shared text
    in NORMALIZED form; unrelated docs produce no row."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD

    shared = "the quick brown fox jumps over the lazy dog near the river bank today"
    d1 = "intro text one. " + shared + " and then doc one continues alone."
    d2 = "a totally different opening here --- " + shared + " closing words two."
    d3 = "no overlap with anything else at all in this one, just filler prose."
    docs = spark.createDataFrame(
        [(1, d1, "en", "w", len(d1)), (2, d2, "en", "w", len(d2)),
         (3, d3, "en", "w", len(d3))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = DD.dup_spans(docs, w=24, min_len=40)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_i, r.doc_j) == (1, 2)
    # offsets are 1-based into the normalized (ws-collapsed, lowered) text
    n1 = " ".join(d1.lower().split())
    n2 = " ".join(d2.lower().split())
    assert n1[r.start_i - 1 : r.start_i - 1 + r.span_len] == \
           n2[r.start_j - 1 : r.start_j - 1 + r.span_len]
    assert shared in n1[r.start_i - 1 : r.start_i - 1 + r.span_len]


def test_dup_spans_gram_cap_suppresses_boilerplate(spark):
    """A gram shared by MORE docs than the cap keeps only the first
    `cap` occurrences — with cap=2 a 3-doc boilerplate still pairs the
    two lowest doc_ids but cannot explode into all 3 pairs."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD

    boiler = "standard legal disclaimer footer text appended to every document here"
    docs = spark.createDataFrame(
        [(i, f"unique lead-in number {i} distinct words . " + boiler, "en", "w", 1)
         for i in range(1, 4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = DD.dup_spans(docs, w=24, min_len=40, cap=2).collect()
    pairs = {(r.doc_i, r.doc_j) for r in rows}
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)


def test_quality_classifier_monotone_in_stopword_evidence(spark):
    """Real English prose must outscore stopword-free gibberish of the
    same length, the keep flag must equal logit >= 0, and the score
    must be the sigmoid of the rounded logit."""
    import math

    from telemetry_streaming_datalake_spark.operators import text as TX

    good = ("the cat sat on the mat and the dog lay by the door of the "
            "house while the rain fell on the roof above them all day")
    bad = "zxqv ploo wrrk vnns " * 7
    docs = spark.createDataFrame(
        [(1, good, "en", "w", len(good)), (2, bad, "en", "w", len(bad))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.doc_id: r for r in TX.quality_classifier(docs).collect()}
    assert out[1].quality_prob > out[2].quality_prob
    for r in out.values():
        assert r.keep == (r.logit >= 0.0)
        assert abs(r.quality_prob - round(1 / (1 + math.exp(-r.logit)), 6)) < 1e-9
    assert out[1].keep and not out[2].keep


def test_fuzzy_join_blocking_complete_vs_allpairs(spark, documents):
    """PassJoin segment blocking must find EXACTLY the all-pairs
    levenshtein<=k set on the real corpus (pigeonhole: k edits cannot
    touch all k+1 segments)."""
    keyed = documents.select("doc_id", DD.fuzzy_key(F.col("text")).alias("tkey"))
    a = keyed.select(F.col("doc_id").alias("doc_a"), F.col("tkey").alias("ka"))
    b = keyed.select(F.col("doc_id").alias("doc_b"), F.col("tkey").alias("kb"))
    allpairs = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ka", "kb").cast("bigint").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= DD.FUZZY_K)
    )
    want = sorted(tuple(r) for r in allpairs.collect())
    got = sorted(tuple(r) for r in DD.fuzzy_join(documents).collect())
    assert got == want and len(got) > 0


def test_fuzzy_join_catches_shifting_edits(spark):
    """A deletion near the head shifts every later char — the case
    position-aligned (hamming-style) blocking misses and PassJoin's
    ±k displacement window exists for."""
    base = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, base),
        (2, base[1:]),              # head deletion: everything shifts left
        (3, "x" + base),            # head insertion: everything shifts right
        (4, base[:10] + "zz" + base[12:]),  # two interior substitutions
        (5, "completely unrelated text about spark plans"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.edit_distance for r in DD.fuzzy_join(df).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 1      # shift-left pair found
    assert (1, 3) in got and (2, 3) in got
    assert got[(1, 4)] == 2
    assert not any(5 in p for p in got)


def test_fuzzy_join_bucket_cap_not_binding(spark, documents):
    """Oracle parity at the driver's sf depends on the hot-bucket cap
    never clipping — pin truncation == 0 on the test corpus."""
    keyed = documents.select("doc_id", DD.fuzzy_key(F.col("text")).alias("tkey"))
    grams = DD.fuzzy_grams(keyed)
    t = DD.bucket_truncation(grams, ["seg", "gram"], cap=DD.FUZZY_CAP).collect()[0]
    assert t.hot_buckets == 0 and t.clipped_members == 0


def test_fuzzy_blocking_report_counts_known_structure(spark):
    """Three identical docs + one disjoint: the shared doc's 25 grams
    form 25 three-member buckets (75 expansions) and the disjoint doc
    contributes singleton buckets only."""
    same = "the quick brown fox jumps far"
    other = "zzzz qqqq wwww kkkk jjjj xxxx"
    df = spark.createDataFrame(
        [(1, same), (2, same), (3, same), (4, other)],
        "doc_id long, text string",
    )

    def py_grams(text):
        key = text.lower()[: DD.FUZZY_W]
        key = key + "\x01" * (DD.FUZZY_W - len(key))
        half = DD.FUZZY_K // 2
        out = set()
        for i, start, ln in DD._fuzzy_segments():
            for s in range(max(1, start - half),
                           min(DD.FUZZY_W - ln + 1, start + half) + 1):
                out.add((i, key[s - 1 : s - 1 + ln]))
        return out

    g_same, g_other = py_grams(same), py_grams(other)
    assert not (g_same & g_other)  # disjoint corpora -> disjoint buckets
    r = DD.fuzzy_blocking_report(df).collect()[0]
    # identical docs share every bucket (size 3); doc 4 adds singletons
    assert r.n_gram_rows == 3 * len(g_same) + len(g_other)
    assert r.n_buckets == len(g_same) + len(g_other)
    assert r.max_bucket == 3
    assert r.candidate_expansions == 3 * len(g_same)  # C(3,2) per shared bucket
    assert r.hot_buckets == 0 and r.clipped_members == 0


def test_ngram_lm_stupid_backoff_hand_computed(spark):
    """Brants-recurrence check on a corpus small enough to score by
    hand: trigram tier S(w|a,b) = c(abw)/c(ab); unseen-trigram
    continuations back off to alpha * c(bw)/c(b); a context whose
    words never continue emits nothing (no invented mass)."""
    from telemetry_streaming_datalake_spark.operators.text import ngram_lm

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b c"), (4, "a b d"), (5, "x b e")],
        "doc_id long, text string",
    )
    # contexts: (a b) c_ab=4, then (b c) c=3; top_k wide enough for all
    out = ngram_lm(docs, top_contexts=2, top_k=5).collect()
    rows = {(r.context, r.word): (r.score, r.level) for r in out}
    # tier 1: c(abc)=3 / c(ab)=4 ; c(abd)=1 / 4
    assert rows[("a b", "c")] == (0.75, 1)
    assert rows[("a b", "d")] == (0.25, 1)
    # tier 2: e continues b (c(be)=1, c(b)=5) -> 0.4 * 1/5 = 0.08
    assert rows[("a b", "e")] == (0.08, 2)
    # context "b c": no trigram starts (b, c), no bigram starts with c
    assert all(ctx != "b c" for ctx, _ in rows)
    assert len(rows) == 3


def test_badwords_filter_gate_and_audit_columns(spark):
    """C4 blocklist gate: any token hit drops the doc; the audit
    columns report count, first match, and fraction; NULL text emits
    no row (decontaminate convention)."""
    from telemetry_streaming_datalake_spark.operators.corpus import badwords_filter

    docs = spark.createDataFrame(
        [
            (1, "fast query plan"),
            (2, "the slow join is slow"),
            (3, "SPAM  and  more Spam"),
            (4, None),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in badwords_filter(docs).collect()}
    assert 4 not in out and len(out) == 4
    assert out[1].keep and out[1].n_blocked == 0 and out[1].first_blocked is None
    # normalization lowercases, so SPAM/Spam both match; whitespace collapses
    assert not out[2].keep and out[2].n_blocked == 2 and out[2].first_blocked == "slow"
    assert out[2].blocked_frac == 0.4  # 2 of 5 tokens
    assert not out[3].keep and out[3].n_blocked == 2 and out[3].first_blocked == "spam"
    # r10: zero-length tokens filtered (ngram_lm convention) — an empty
    # doc has no words and an undefined blocked fraction, but keeps
    assert out[5].keep and out[5].n_words == 0 and out[5].blocked_frac is None


def test_train_mix_materialize_executes_the_plan(spark):
    """The materialized (doc, epoch) rows implement token_budget_plan
    exactly: every doc of a source appears floor(capped_epochs) times
    unconditionally, the fractional epoch admits by the deterministic
    md5 threshold (rerun-stable, duplicate calls identical), and the
    realized token mass per source tracks achieved_tokens."""
    import math

    from telemetry_streaming_datalake_spark.operators import corpus as CP

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(20)), f"src{i % 3}") for i in range(90)],
        "doc_id long, text string, source string",
    )
    target = 4000  # 1800 avail tokens total -> fractional epochs
    plan = {r.source: r for r in CP.token_budget_plan(docs, target).collect()}
    out = CP.train_mix_materialize(docs, target).collect()
    again = CP.train_mix_materialize(docs, target).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))  # deterministic

    per_doc: dict[int, set] = {}
    for r in out:
        per_doc.setdefault(r.doc_id, set()).add(r.epoch)
    by_source: dict[str, list] = {}
    for r in docs.select("doc_id", "source").collect():
        by_source.setdefault(r.source, []).append(r.doc_id)
    for src, ids in by_source.items():
        full = math.floor(plan[src].capped_epochs)
        frac = plan[src].capped_epochs - full
        for d in ids:
            eps = per_doc.get(d, set())
            # full epochs are unconditional and contiguous from 0
            assert set(range(full)) <= eps
            # at most one fractional copy, and only at epoch == full
            assert eps - set(range(full)) <= {full}
        if frac > 0:
            n_frac = sum(1 for d in ids if full in per_doc.get(d, set()))
            # the md5 thresholding realizes ~frac of the source
            # (30 docs/source: allow wide but meaningful bounds)
            assert 0 <= n_frac <= len(ids)
            realized = (len(ids) * full + n_frac) * 20
            assert abs(realized - plan[src].achieved_tokens) <= 20 * len(ids) * 0.35


def test_paragraph_dedup_drops_repeats_keeps_first(spark):
    """C4 repeated-paragraph rewrite: the first occurrence of a
    duplicated chunk (lowest doc_id, then idx) survives; later
    occurrences — cross-doc AND intra-doc — are cut out of the
    rewritten text; unique docs pass through verbatim."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD

    boiler = " ".join(f"b{i}" for i in range(10))  # one exact chunk
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_c = " ".join(f"c{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {uniq_a}"),          # first occurrence: kept
            (2, f"{uniq_c} {boiler}"),          # cross-doc repeat: cut
            (3, f"{boiler} {boiler}"),          # intra-doc repeat: cut
            (4, "totally unique words only"),
            (5, None),
            (6, "   "),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in DD.paragraph_dedup(docs).collect()}
    assert got[1].clean_text == f"{boiler} {uniq_a}"
    assert got[1].n_dropped == 0
    assert got[2].clean_text == uniq_c and got[2].n_dropped == 1
    assert got[3].clean_text == "" and got[3].n_dropped == 2
    assert got[4].clean_text == "totally unique words only"
    assert 5 not in got and 6 not in got  # NULL / empty emit no row


def test_paragraph_dedup_agg_path_equals_window_path(spark):
    """The skew-safe min(struct) dedup path is row-identical to the
    row_number window — including intra-doc repeats and cross-doc
    boilerplate (the viral-chunk case the agg path exists for)."""
    from telemetry_streaming_datalake_spark.operators import dedup as DD

    boiler = "subscribe to our newsletter for updates every day now"
    rows = [
        (1, "s", f"alpha beta gamma delta epsilon zeta eta theta {boiler}"),
        (2, "s", f"{boiler} one two three four five six seven eight"),
        (3, "s", f"{boiler} {boiler} nine ten eleven twelve thirteen x"),
        (4, "s", None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = {(r.doc_id, r.clean_text) for r in DD.paragraph_dedup(docs).collect()}
    b = {
        (r.doc_id, r.clean_text)
        for r in DD.paragraph_dedup(docs, dedup_via_agg=True).collect()
    }
    assert a == b and len(a) == 3
    # the md5(chunk)-keyed production variant (fixed-width shuffle key)
    # is row-identical too
    c = {
        (r.doc_id, r.clean_text)
        for r in DD.paragraph_dedup(
            docs, dedup_via_agg=True, key_by_hash=True
        ).collect()
    }
    assert a == c
