"""Persisted BM25 inverted index: probe == corpus-scan search
bit-for-bit, incremental extend == from-scratch rebuild, and the probe
plan prunes to the query terms' bucket partitions."""

from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.operators import text as TX
from telemetry_streaming_datalake_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_indexed_probe_equals_corpus_scan_search(spark, tmp_path):
    docs = load_table(spark, SF, "documents")
    idx = str(tmp_path)
    TX.build_text_index(docs, idx)
    got = _rows(TX.bm25_from_index(spark, idx))
    want = _rows(TX.bm25_search(docs))
    assert got == want  # same order, same doubles — shared scoring exprs


def test_extend_equals_rebuild(spark, tmp_path):
    """Index built on half the corpus then extended with the other half
    answers EXACTLY like a from-scratch build over everything: tf/dl
    ride the appended posting rows, df counts pruned rows, N/avgdl sum
    the append-only stats partials — every probe quantity is
    append-additive."""
    docs = load_table(spark, SF, "documents")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    inc, full = str(tmp_path / "i"), str(tmp_path / "f")
    TX.build_text_index(first, inc)
    TX.extend_text_index(inc, second)
    TX.build_text_index(docs, full)
    assert _rows(TX.bm25_from_index(spark, inc)) == _rows(
        TX.bm25_from_index(spark, full)
    )


def test_probe_reads_only_query_buckets(spark, tmp_path):
    """The probe's postings scan carries a partition filter on the term
    buckets — the index exists so a probe never scans the full posting
    store."""
    docs = load_table(spark, SF, "documents")
    idx = str(tmp_path)
    TX.build_text_index(docs, idx)
    spark.catalog.clearCache()  # plan pin: assert the uncached shape
    pruned = TX._probe_pruned(spark, idx, TX.BM25_QUERY_TERMS)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the bucket predicate must land in PartitionFilters (directory
    # pruning), not as a post-scan row filter
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "bucket" in pf.group(1)
