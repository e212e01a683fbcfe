"""Build-once indexes follow their source table: an indexed key called
again after its table was rewritten at the same path answers over the
new rows, exactly like the scan path does."""

import pytest
from pyspark.sql import functions as F

from telemetry_streaming_datalake_spark.operators import similarity as SIM
from telemetry_streaming_datalake_spark.operators import text as TX
from telemetry_streaming_datalake_spark.session import load_table

SF = "/root/testdata/sf0.001"

CASES = {
    "bm25_indexed": (
        "documents",
        "doc_id",
        lambda s, d: TX.bm25_indexed(s, d),
        lambda s, d: TX.bm25_search(load_table(s, d, "documents")),
    ),
    "ann_ivf_indexed": (
        "embeddings",
        "vec_id",
        lambda s, d: SIM.ann_ivf_indexed(s, d),
        lambda s, d: SIM.ann_ivf_topk(load_table(s, d, "embeddings"), list(range(8))),
    ),
}


@pytest.mark.parametrize("key", sorted(CASES))
def test_indexed_key_rebuilds_after_its_table_is_rewritten(spark, tmp_path, key):
    table, id_col, indexed, scan = CASES[key]
    src = load_table(spark, SF, table)
    path = str(tmp_path / f"{table}.parquet")
    for half in (0, 1):
        src.filter(F.col(id_col) % 2 == half).write.mode("overwrite").parquet(path)
        got = sorted(tuple(r) for r in indexed(spark, str(tmp_path)).collect())
    assert got and got == sorted(tuple(r) for r in scan(spark, str(tmp_path)).collect())
