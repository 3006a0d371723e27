"""Parquet table loader for the events, documents and embeddings tables.

``spark.read.parquet`` gives Catalyst full pushdown: filters and column
pruning reach the scan (verify with ``df.explain``: ``PushedFilters`` /
``ReadSchema``). At 100 TB the fact tables (events, documents) arrive
partitioned; the loader takes any directory layout parquet supports.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

# A scan task decodes whole parquet ROW GROUPS, and Spark plans at most
# one task per file SPLIT (``FilePartition.maxSplitBytes``: the split
# is ``min(maxPartitionBytes, max(openCostInBytes, total / leaf
# parallelism))``, where total counts every file plus its open cost).
# A file smaller than the 4 MB open-cost floor is therefore ONE task
# however many row groups it has, and a file with one row group is one
# task however many splits it gets. Either way the scan — and every
# narrow operator above it (regex scoring, shingle explode + md5,
# embedding dgemm batches) — runs on fewer cores than the session has.
# The optimization guide's input-skew rule ("one huge unsplittable
# file: repartition immediately after the read") applies;
# `spread_narrow_scan` does it ADAPTIVELY: only when the source's
# decode units (Σ over files of min(row groups, planned splits), from
# footer metadata and file sizes, no Spark job) are below the
# session's default parallelism. On a layout that already gives every
# core a task it is a no-op, so no extra exchange is paid; filters and
# column pruning still push through the Repartition node
# (PushPredicateThroughNonJoin handles Repartition), so PushedFilters
# reach the scan either way. Disable per session via SPREAD_CONF.
SPREAD_CONF = "spark.llm_map_reduce_summarizer.spreadNarrowScans"


@functools.lru_cache(maxsize=256)
def _decode_units_cached(
    path: str,
    mtime_ns: int,
    size: int,
    max_partition_bytes: int,
    open_cost: int,
    min_partitions: int,
) -> int:
    """Σ over the parquet files under ``path`` of min(row groups,
    planned splits) — footer metadata and file sizes only (no data
    pages read). Cached on (path, mtime, size) and the scan confs, so
    repeated query-plan builds don't re-open footers; a rewritten table
    or a changed conf invalidates itself (this caches file LAYOUT,
    never query results). Spark may pack several small splits into one
    task, but only down to about the leaf parallelism, so the packing
    is left out."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
    else:
        files = [path]
    sizes = [os.path.getsize(f) for f in files]
    total = sum(n + open_cost for n in sizes)
    split = min(max_partition_bytes, max(open_cost, total // min_partitions))
    units = 0
    for f, n in zip(files, sizes):
        try:
            groups = pq.ParquetFile(f).metadata.num_row_groups
        except Exception:
            groups = 1  # unreadable footer: assume one unit
        units += min(groups, -(-n // split))
    return units


def _decode_units(spark: SparkSession, path: str) -> int:
    try:
        st = os.stat(path)
    except OSError:
        return 1
    js = spark._jsparkSession
    conf = js.sessionState().conf()
    min_partitions = conf.filesMinPartitionNum()
    return _decode_units_cached(
        path,
        st.st_mtime_ns,
        st.st_size,
        conf.filesMaxPartitionBytes(),
        conf.filesOpenCostInBytes(),
        min_partitions.get()
        if min_partitions.isDefined()
        else js.leafNodeDefaultParallelism(),
    )


def spread_narrow_scan(df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition to the session parallelism when the
    parquet layout under ``path`` has fewer decode units than cores —
    restoring the post-scan parallelism a splittable layout would give
    (see SPREAD_CONF comment above). No-op when the layout already
    parallelizes or the conf disables it."""
    spark = df.sparkSession
    if str(spark.conf.get(SPREAD_CONF, "true")).lower() != "true":
        return df
    par = spark.sparkContext.defaultParallelism
    if _decode_units(spark, path) >= par:
        return df
    return df.repartition(par)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read ``<sf_dir>/<name>.parquet``. ``events.ts`` comes back as a
    session-tz timestamp; ``spread`` opts into ``spread_narrow_scan``."""
    if name == "events":
        # Older testdata generations stored ts as TIMESTAMP(NANOS), which
        # vanilla Spark rejects (PARQUET_TYPE_ILLEGAL). Surface nanos as
        # long here — at the read site, not in session construction — so
        # the table is loadable under ANY SparkSession (drivers/notebooks
        # build their own). Runtime conf set is idempotent.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_events_ts(df)
    if spread:
        # opt-in at compute-heavy call sites (shingle/md5 explodes,
        # regex cleaning, dgemm batches) where a coarse decode layout
        # would serialize the narrow work above the scan
        df = spread_narrow_scan(df, path)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-tz TimestampType, whatever
    physical type the parquet writer used.

    Seen in the wild across testdata generations:

    * ``TIMESTAMP(NANOS)`` — surfaced as long nanos via
      ``spark.sql.legacy.parquet.nanosAsLong`` (Spark has no nanos type);
      convert with integer div (float division loses precision ~1e18 ns).
    * ``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` — surfaced as
      TIMESTAMP_NTZ by Spark 3.4+; cast to timestamp. The session tz is
      UTC (session.py), so the cast is value-preserving, and downstream
      ``unix_micros``/watermarks (which reject NTZ) resolve.
    * plain ``TIMESTAMP`` — already what we want.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
