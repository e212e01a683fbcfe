"""SparkSession factory, table loaders, scratch dirs and build-once
caches.

Scale notes
-----------
The configs below are tuned for the local[32] test harness but the
*shape* is what matters at cluster scale: AQE on (runtime re-plan,
skew-join splitting, shuffle coalescing), broadcast threshold generous
enough that every dimension table in this engine broadcasts, and Arrow
enabled for the few Pandas-UDF paths (multimodal feature extraction).

The driver-generated test parquet stores timestamps as
TIMESTAMP(NANOS), which vanilla Spark refuses to read
(PARQUET_TYPE_ILLEGAL). ``spark.sql.legacy.parquet.nanosAsLong`` maps
them to LongType nanoseconds; :func:`load_table` then converts to
proper TimestampType via exact integer division (no float path, so
second/micro boundaries are never off by one).

Every library work dir is a :func:`scratch_dir` under one per-process
root that is removed at exit; every build-once artifact (index,
fixture, staged split) is a :func:`scratch_cache` dir, keyed by the
file identity of the table it was built from.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables that exist in every /root/testdata/sf*/ directory.
TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Columns stored as TIMESTAMP(NANOS) in the test parquet, per table.
_NANO_TS_COLUMNS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def get_spark(app_name: str = "telemetry-streaming-datalake") -> SparkSession:
    """Build (or reuse) a session with the engine's standard tuning."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    _ensure_confs(spark)
    return spark


_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh work dir under this process's scratch root: one
    ``tsdl_*`` dir in ``tempfile.gettempdir()`` (so ``TMPDIR`` is
    honoured), made on first use and removed with everything under it
    when the process exits."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix=f"tsdl_{os.getpid()}_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _src_fingerprint(src: str) -> tuple:
    """Zero-job identity of a parquet source (file or directory):
    realpath + per-file (name, size, mtime_ns) — changes whenever the
    data does."""
    if os.path.isfile(src):
        st = os.stat(src)
        return (os.path.realpath(src), st.st_size, st.st_mtime_ns)
    parts = []
    for root, _dirs, names in os.walk(src):
        for n in sorted(names):
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(root, n))
                parts.append((n, st.st_size, st.st_mtime_ns))
    return (os.path.realpath(src), tuple(parts))


#: (key, source fingerprint) → scratch dir a build filled
_SCRATCH_BUILT: dict[tuple, str] = {}


def scratch_cache(key: str, src: str, build: Callable[[str], object]) -> str:
    """Build-once work dir for an artifact derived from the parquet
    source ``src`` (an index, a fixture, a staged split): the first
    call for ``(key, src's file identity)`` runs ``build(d)`` into a
    fresh :func:`scratch_dir` and later calls return that dir.  A
    source rewritten in place has a new identity, so it rebuilds
    instead of probing a stale artifact.  The dir is recorded only
    after ``build`` returns: a build that raises is retried."""
    k = (key, _src_fingerprint(src))
    d = _SCRATCH_BUILT.get(k)
    if d is None or not os.path.isdir(d):
        d = scratch_dir(f"{key}_")
        build(d)
        _SCRATCH_BUILT[k] = d
    return d


def _ensure_confs(spark: SparkSession) -> None:
    """Apply must-have runtime confs to a session we did not build.

    The correctness driver owns its own SparkSession; these are all
    dynamic SQL confs, so setting them here works either way.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def normalize_nano_ts(df: DataFrame, *cols: str) -> DataFrame:
    """Normalize TIMESTAMP(NANOS)-sourced columns to plain timestamps.

    Spark's reading of parquet nano timestamps is version-dependent:
    with ``nanosAsLong`` honored they surface as LongType nanoseconds
    (→ exact integer division to micros, no float path); newer readers
    surface them natively as TIMESTAMP_NTZ (already micros).  Guarding
    on the observed dtype makes every caller — batch loader and
    streaming sources alike — agree bit-for-bit either way.
    """
    dtypes = dict(df.dtypes)
    for col in cols:
        if col not in dtypes:
            continue
        if dtypes[col] == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif dtypes[col].startswith("timestamp_ntz"):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table, normalizing nano-timestamp columns.

    Nano columns are converted to proper TimestampType under the
    original name so downstream code sees conventional types.
    """
    _ensure_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_nano_ts(df, *_NANO_TS_COLUMNS.get(name, ()))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; all of them when ``names`` is empty."""
    use = names or TABLE_NAMES
    return {n: load_table(spark, sf_dir, n) for n in use}
