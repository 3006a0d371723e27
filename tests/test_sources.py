"""Table sources: events.ts normalization and narrow-scan spreading."""

from __future__ import annotations

import os

from llm_map_reduce_summarizer_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_events_ts_schema_canary(spark):
    """Schema-drift canary (round-4 incident): whatever physical type
    the testdata generator used for events.ts — long nanos,
    TIMESTAMP_NTZ micros, or plain TIMESTAMP — the loader must
    normalize to a session-tz TimestampType and ``unix_micros`` must
    resolve. Red on either drift mode without the normalization."""
    import glob

    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    sf_dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert sf_dirs, "no testdata dirs found"
    for sf in sf_dirs:
        ev = load_table(spark, sf, "events")
        assert isinstance(ev.schema["ts"].dataType, TimestampType), sf
        # triggers analysis only; raises on TIMESTAMP_NTZ / long
        ev.select(F.unix_micros("ts")).schema


def test_normalize_events_ts_all_physical_types(spark):
    """normalize_events_ts must map every observed physical encoding of
    the same instant to the identical TimestampType value."""
    import datetime

    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql.types import TimestampType
    from llm_map_reduce_summarizer_spark.sources.tables import (
        normalize_events_ts,
    )

    instant = datetime.datetime(2024, 1, 1, 0, 9, 58, 778549)
    epoch_us = int(instant.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)

    as_nanos = spark.createDataFrame([(epoch_us * 1000,)], "ts long")
    as_ntz = spark.createDataFrame([(instant,)], "ts timestamp_ntz")
    as_ts = spark.createDataFrame([(instant,)], "ts timestamp")

    outs = []
    for df in (as_nanos, as_ntz, as_ts):
        norm = normalize_events_ts(df)
        assert isinstance(norm.schema["ts"].dataType, TimestampType)
        outs.append(norm.select(F.unix_micros("ts")).collect()[0][0])
    assert outs == [epoch_us] * 3


def test_spread_narrow_scan_adapts_to_decode_units(spark, tmp_path):
    """spread_narrow_scan repartitions ONLY when the scan would plan
    fewer decode units (min of row groups and file splits) than the
    session parallelism, never changes results, and stays a no-op when
    the layout already parallelizes or the conf disables it. Three
    layouts: (i) one file, one row group (the local testdata shape);
    (ii) one file under the 4 MB open-cost floor with ``par`` row
    groups — Spark plans it as ONE split, so one task decodes every
    row group; (iii) ``par`` files, one task each."""
    import pyarrow.parquet as pq

    from llm_map_reduce_summarizer_spark.sources.tables import (
        SPREAD_CONF,
        _decode_units,
        spread_narrow_scan,
    )

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF, "documents")
    path = os.path.join(SF, "documents.parquet")

    # (i) the local testdata layout is one row group per table
    assert _decode_units(spark, path) < par

    spread = spread_narrow_scan(docs, path)
    assert spread.rdd.getNumPartitions() == par
    # results identical (round-robin repartition is semantics-free)
    assert sorted(r["doc_id"] for r in spread.collect()) == sorted(
        r["doc_id"] for r in docs.collect()
    )

    # (ii) many row groups in one small file still scan as one task
    table = pq.read_table(path)
    small = os.path.join(str(tmp_path), "docs_small_many_rowgroups.parquet")
    pq.write_table(table, small, row_group_size=-(-table.num_rows // par))
    assert pq.ParquetFile(small).metadata.num_row_groups >= par
    assert os.path.getsize(small) < 4 << 20
    one_split = spark.read.parquet(small)
    assert one_split.rdd.getNumPartitions() == 1
    assert _decode_units(spark, small) == 1
    spread_small = spread_narrow_scan(one_split, small)
    assert spread_small.rdd.getNumPartitions() == par
    assert spread_small.count() == table.num_rows

    # (iii) a layout with >= par decode units must NOT pay the exchange
    out = os.path.join(str(tmp_path), "docs_many_rowgroups")
    docs.repartition(par).write.mode("overwrite").parquet(out)
    many = spark.read.parquet(out)
    assert _decode_units(spark, out) >= par
    assert spread_narrow_scan(many, out) is many

    # conf off -> no-op regardless of layout
    spark.conf.set(SPREAD_CONF, "false")
    try:
        assert spread_narrow_scan(docs, path) is docs
    finally:
        spark.conf.set(SPREAD_CONF, "true")


def test_load_table_spread_opt_in(spark):
    """load_table(spread=True) restores post-scan parallelism on the
    coarse local layout; default load stays untouched (no surprise
    exchange for metadata-count callers)."""
    par = spark.sparkContext.defaultParallelism
    plain = load_table(spark, SF, "documents")
    spread = load_table(spark, SF, "documents", spread=True)
    assert plain.rdd.getNumPartitions() < par
    assert spread.rdd.getNumPartitions() == par
    assert spread.count() == plain.count()
