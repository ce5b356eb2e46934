"""Batch table sources over the driver's parquet testdata.

The reference's sources are Kafka topics + MySQL CDC/JDBC lookups
(``MyKafkaUtil.java:25-148``, ``MySqlUtil.java:5-26``); its batch-equivalent
in this engine is a plain columnar scan. Reading parquet through
``spark.read`` gives predicate pushdown + column pruning for free — at 100 TB
the scan only materializes the columns and row groups a query touches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# Timestamp columns whose physical parquet encoding has drifted across
# driver testdata generations: INT64 TIMESTAMP(NANOS) in early rounds,
# timestamp[us] (Spark: TIMESTAMP_NTZ) now. Loading is type-adaptive —
# we keep spark.sql.legacy.parquet.nanosAsLong on (it only affects
# NANOS-annotated INT64 columns, a no-op for micros) and branch on the
# dtype Spark actually inferred:
#   LongType       -> raw nanos; `timestamp_micros(c div 1000)` matches
#                     DuckDB's nanos->micros truncation exactly.
#   TIMESTAMP_NTZ  -> cast("timestamp"); value-identical under the UTC
#                     session TZ pinned in session.py, and keeps schema
#                     parity with the DuckDB oracle reading the same file.
TS_COLUMNS = {
    "events": ("ts",),
}

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

# Dimension-sized tables: always below the broadcast threshold relative to the
# fact tables even at full scale (they grow ~linearly but stay orders of
# magnitude smaller than lineitem/events); joins against them should never
# shuffle the fact side.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

# path -> ((mtime_ns, size), inferred StructType); see _schema. Keyed on the
# full path so different sf_dirs can never cross-talk, and stamped so a
# table rewritten in place is re-inferred.
_SCHEMA_CACHE: dict = {}


def _schema(spark: SparkSession, path: str):
    """Parquet schema of ``path``, inferred once per (path, mtime, size).

    Without an explicit schema every load_table call runs a footer-read JOB
    at query CONSTRUCTION — one per table per build. The schema is
    metadata, not data: caching it changes no result and every run still
    computes from the parquet bytes. A path that cannot be stat'ed (absent,
    or not on the local filesystem) is inferred by Spark every time, which
    also lets Spark report a missing path itself."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path).schema
    stamp = (st.st_mtime_ns, st.st_size)
    cached = _SCHEMA_CACHE.get(path)
    if cached is None or cached[0] != stamp:
        cached = _SCHEMA_CACHE[path] = (stamp, spark.read.parquet(path).schema)
    return cached[1]


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Scan one testdata table. Filters/projections applied by the caller are
    pushed into this scan by Catalyst.

    ``fan_out=True`` redistributes the scan across all cores before the
    caller's compute. Use it when the downstream work per row dwarfs the scan
    (candidate-pair generation, per-token hashing, vector math): a single
    parquet row group yields one input split, and no amount of
    ``maxPartitionBytes`` tuning can split it — the standard cluster pattern
    is an explicit repartition between ingest and a compute-bound stage. The
    shuffle moves only the scanned columns, which is negligible relative to
    the compute it parallelizes.
    """
    if name in TS_COLUMNS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_schema(spark, path)).parquet(path)
    for c in TS_COLUMNS.get(name, ()):
        dt = df.schema[c].dataType
        if isinstance(dt, LongType):
            # INT64 TIMESTAMP(NANOS) read as raw nanos via nanosAsLong.
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        else:
            # timestamp[us] arrives as TIMESTAMP_NTZ; exact under UTC session.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    if fan_out:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view so pipelines can use spark.sql."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files sized
    ~target_file_bytes (the tail maintenance job every streaming warehouse
    needs — micro-batch sinks leave thousands of KB-scale files that wreck
    scan planning at 100 TB). File count is derived from the SOURCE byte
    size, so the rewrite is one job with no count() pre-pass over rows;
    repartition (round-robin) keeps output sizes even regardless of input
    skew. Returns the number of files written."""
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, (total + target_file_bytes - 1) // target_file_bytes)
    spark.read.parquet(src).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(dest)
    return sum(
        1
        for _, _, files in os.walk(dest)
        for f in files
        if f.endswith(".parquet")
    )


def export_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    sort_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Write a table clustered for downstream scans: rows hash-partitioned
    by `cluster_col` (each key's rows land in one file) and sorted by
    `sort_cols` within each file. Sorted files give parquet tight per-
    row-group min/max statistics, so point/range predicates on the sort
    columns skip row groups at scan time — the layout lever that makes a
    100 TB fact table cheap to probe without an index. The sort is
    per-partition (sortWithinPartitions), NOT a global orderBy: no
    all-to-one range shuffle."""
    out = df.repartition(n_files, F.col(cluster_col)) if n_files else df.repartition(
        F.col(cluster_col)
    )
    out.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)
