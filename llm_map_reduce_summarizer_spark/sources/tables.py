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

# A parquet ROW GROUP is the unit of decode parallelism: Spark assigns
# each row group to exactly one scan task, so a table written as one
# file with one row group (the local testdata layout) decodes — and
# runs every narrow operator above the scan (regex cleaning, shingle
# explode + md5, embedding dgemm batches) — on ONE core, however many
# byte-range splits the scheduler makes. The optimization guide's
# input-skew rule ("one huge unsplittable file: repartition immediately
# after the read") applies; `spread_narrow_scan` does it ADAPTIVELY:
# only when the source's decode-unit count (Σ row groups across files,
# a footer-metadata read) is below the session's default parallelism.
# On any real at-scale layout (row groups ≥ cores) it is a no-op, so
# no extra exchange is paid where the scan already parallelizes;
# filters/column pruning still push through the Repartition node
# (PushPredicateThroughNonJoin handles Repartition), so PushedFilters
# reach the scan either way. Disable per session via SPREAD_CONF.
SPREAD_CONF = "spark.llm_map_reduce_summarizer.spreadNarrowScans"


@functools.lru_cache(maxsize=256)
def _decode_units_cached(path: str, mtime_ns: int, size: int) -> int:
    """Σ parquet row groups under ``path`` — footer metadata only (no
    data pages read). Cached on (path, mtime, size) so repeated
    query-plan builds don't re-open footers; the mtime/size key means a
    rewritten table invalidates itself (this caches file LAYOUT, never
    query results)."""
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
    units = 0
    for f in files:
        try:
            units += pq.ParquetFile(f).metadata.num_row_groups
        except Exception:
            units += 1  # unreadable footer: assume one unit
    return units


def _decode_units(path: str) -> int:
    try:
        st = os.stat(path)
    except OSError:
        return 1
    return _decode_units_cached(path, st.st_mtime_ns, st.st_size)


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
    if _decode_units(path) >= par:
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
