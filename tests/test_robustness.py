"""Degenerate-input robustness: empty inputs flow through every
pipeline operator without errors (the reference returns an error dict
for no chunks — result_aggregator.py:74-77; distributed operators must
simply produce empty results)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from llm_map_reduce_summarizer_spark.operators.aggregator import (
    hierarchical_reduce,
    reduce_level,
)
from llm_map_reduce_summarizer_spark.operators.chunker import (
    assign_chunks,
    chunk_stats,
    split_oversized,
)
from llm_map_reduce_summarizer_spark.operators.preprocess import (
    aggregate_by_interval,
    merge_same_speaker,
    preprocess_segments,
)

SEG_SCHEMA = "seg_id long, start double, end double, speaker string, text string"


def _empty_segments(spark):
    return spark.createDataFrame([], SEG_SCHEMA)


def test_empty_segments_through_pipeline(spark):
    segs = preprocess_segments(_empty_segments(spark))
    assert segs.count() == 0
    assert merge_same_speaker(segs).count() == 0
    assert aggregate_by_interval(segs).count() == 0
    chunked = assign_chunks(segs)
    assert chunked.count() == 0
    assert chunk_stats(chunked).count() == 0
    assert split_oversized(segs).count() == 0


def test_empty_summaries_reduce(spark):
    df = spark.createDataFrame([], "chunk_id long, summary string")
    assert reduce_level(df).count() == 0
    # hierarchical on empty input: nothing to reduce, zero rows out
    assert hierarchical_reduce(df).count() == 0


def test_whitespace_only_segments_dropped(spark):
    segs = spark.createDataFrame(
        [(0, 0.0, 1.0, "A", "   "), (1, 1.0, 2.0, "A", "\t\n"),
         (2, 2.0, 3.0, "A", "real text")],
        SEG_SCHEMA,
    )
    out = preprocess_segments(segs)
    assert out.count() == 1
    assert out.collect()[0]["text"] == "real text"


def test_partition_pruning_on_partitioned_layout(spark, tmp_path):
    """Hive-partitioned layout: an equality filter on the partition key
    must reach the scan as a PartitionFilter (pruned directories), not
    a row filter."""
    import contextlib
    import io

    from llm_map_reduce_summarizer_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = os.path.join(str(tmp_path), "events_part")
    ev.write.partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "view")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in pf
    expected = ev.filter(F.col("event_type") == "view").count()
    assert back.count() == expected


def test_connected_components_empty_and_selfloop(spark):
    from llm_map_reduce_summarizer_spark.operators.dedup import (
        connected_components,
    )

    empty = spark.createDataFrame([], "da long, db long")
    assert connected_components(empty).count() == 0
    # a self-loop must not spin the propagation loop
    loop = spark.createDataFrame([(5, 5)], "da long, db long")
    out = connected_components(loop).collect()
    assert [(r["id"], r["component"]) for r in out] == [(5, 5)]
