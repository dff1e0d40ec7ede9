"""Fixture-table access.

One parquet file per table at ``{sf_dir}/{name}.parquet`` (TESTDATA.md).
Loading goes through here so every operator reads with the same scan
settings and so a future cluster deployment can swap the path scheme
(e.g. HDFS, partitioned directories) in one place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col, expr, timestamp_micros
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch-read one fixture table.

    Column pruning and predicate pushdown happen automatically because
    callers express projections/filters declaratively on the returned
    DataFrame (verify with ``.explain()`` -> ``PushedFilters``).

    ``events.ts`` is stored as TIMESTAMP(NANOS) parquet. How Spark
    surfaces that has changed across releases — older readers reject it
    unless the legacy ``nanosAsLong`` conf maps it to raw ns longs;
    Spark >= 4.1 reads it natively as TIMESTAMP_NTZ truncated to us
    (and ignores the legacy conf). ``_normalize_ts`` branches on the
    type the reader actually produced and lands every path on a plain
    ``TimestampType`` (us instants) so downstream code — ``window()``,
    watermarks, ``unix_micros`` — sees ONE timestamp type regardless of
    the runtime. With the session TZ pinned UTC (registry/session) the
    NTZ->LTZ cast is value-exact and agrees with the DuckDB oracle.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # Pre-4.1 readers REJECT TIMESTAMP(NANOS) parquet outright
        # unless the legacy conf maps it to raw ns longs. The setting
        # cannot be scoped to this one read — execution is lazy, and
        # the conf is captured when the scan RDD materializes, not
        # here — so on those runtimes it is a deliberate session-wide
        # fallback. On >= 4.1 the conf is ignored for NANOS columns
        # (native NTZ read); skip it there so an events read never
        # leaks legacy int64-ns semantics into the caller's session
        # for OTHER nanos parquet files.
        if _spark_version_tuple(spark) < (4, 1):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _normalize_ts(spark.read.parquet(table_path(sf_dir, name)))
    return spark.read.parquet(table_path(sf_dir, name))


def _spark_version_tuple(spark: SparkSession) -> tuple[int, int]:
    try:
        major, minor = spark.version.split(".")[:2]
        return (int(major), int(minor))
    except (ValueError, AttributeError):
        return (0, 0)  # unparseable -> assume old, keep the fallback


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Land ``ts`` on TimestampType whatever the reader delivered.

    Guarded by tests/test_canary.py: every read path must yield
    2024-range instants — a silent 1970 collapse under a runtime bump
    is the failure mode this exists to prevent.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        # legacy nanosAsLong path: raw ns since epoch, us-aligned fixture
        return df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        # Spark 4.1+ native ns read: NTZ us — exact LTZ cast under UTC
        return df.withColumn("ts", col("ts").cast(TimestampType()))
    return df


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition iff the scan under-splits the available cores.

    CPU-heavy per-row expressions (md5 signatures, simhash folds) are
    only as parallel as their input partitioning, and a small parquet
    file arrives as ONE split regardless of cluster size. At real scale
    the source is thousands of splits and this is a no-op; when the
    input collapses below the session's parallelism, one narrow shuffle
    spreads the hash work across every core.
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    target = sc.defaultParallelism
    # File count alone does NOT lower-bound splits: FilePartition
    # bin-packing can merge small files below the parallelism target
    # (measured here: 40 tiny files -> 20 splits on local[32]). But
    # packing is itself bounded — one bin holds at most
    # maxPartitionBytes / openCostInBytes files — so a file count of
    # cap x target PROVES splits >= target, and that driver-side
    # FileIndex lookup short-circuits the at-scale case (thousands of
    # files) without converting the plan to an RDD. Only the ambiguous
    # small case pays the accurate df.rdd partition probe.
    try:
        jutils = sc._jvm.org.apache.spark.util.Utils
        maxpb = jutils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        opencost = jutils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
        )
        per_bin_cap = max(1, int(maxpb) // max(1, int(opencost)))
    except Exception:
        per_bin_cap = 32  # 128 MB / 4 MB defaults
    if len(df.inputFiles()) >= per_bin_cap * target:
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def _dir_fingerprint(sf_dir: str) -> tuple:
    """Cheap identity of the fixture files under ``sf_dir``: (size,
    mtime_ns) per table path — 10 stat calls, no parquet I/O. A temp
    view pins the file listing resolved at registration time, so a
    caller that REWRITES fixtures in place under the same path must be
    able to invalidate the memo (ADVICE r4); comparing this fingerprint
    does that without re-reading any footers.
    """
    out = []
    for name in TABLES:
        try:
            st = os.stat(table_path(sf_dir, name))
            out.append((name, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((name, None, None))
    return tuple(out)


def register_views(spark: SparkSession, sf_dir: str, force: bool = False) -> None:
    """Register every fixture table as a temp view for the SQL entry point.

    Memoized on the LAST registered (sf_dir, file fingerprint) per live
    session: every golden/SQL query calls this, and re-registering costs
    10 driver-side parquet footer reads per call (~130 redundant reads
    per full registry sweep). The views are global to the session, so a
    re-register happens only on a CHANGE of sf_dir, a change of the
    files under it (size/mtime fingerprint), or ``force=True``.
    """
    from .memo import memo_key

    key = memo_key(sf_dir)
    if not force and getattr(spark, "_views_registered_for", None) == key:
        # The memo can go stale if a caller drops or shadows one of the
        # views; a cheap catalog existence check catches that without
        # re-reading any parquet footers. (A view REPLACED with other
        # content at the same name is the caller's deliberate act and
        # stays theirs to manage.)
        if all(spark.catalog.tableExists(name) for name in TABLES):
            return
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
    spark._views_registered_for = key
