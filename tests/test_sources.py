"""Source/sink round-trips (SURVEY.md §2.8)."""

from __future__ import annotations

import os

from llm_map_reduce_summarizer_spark.sources.files import (
    read_csv,
    read_jsonl,
    write_csv,
    write_jsonl,
    write_parquet,
)
from llm_map_reduce_summarizer_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_parquet_partitioned_roundtrip(spark, tmp_path):
    ev = load_table(spark, SF, "events")
    out = os.path.join(str(tmp_path), "events_by_type")
    write_parquet(ev, out, partition_by=["event_type"])
    # hive-style layout gives partition pruning on the key
    assert any(d.startswith("event_type=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    one_type = back.filter(back.event_type == "view")
    assert 0 < one_type.count() < ev.count()


def test_csv_roundtrip(spark, tmp_path):
    docs = load_table(spark, SF, "documents").select("doc_id", "lang", "source")
    out = os.path.join(str(tmp_path), "docs_csv")
    write_csv(docs, out)
    back = read_csv(spark, out, schema=docs.schema)
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)


def test_jsonl_roundtrip(spark, tmp_path):
    docs = load_table(spark, SF, "documents").select("doc_id", "n_chars")
    out = os.path.join(str(tmp_path), "docs_jsonl")
    write_jsonl(docs, out)
    back = read_jsonl(spark, out, schema=docs.schema)
    assert back.count() == docs.count()
    assert back.agg({"n_chars": "sum"}).collect()[0][0] == docs.agg(
        {"n_chars": "sum"}
    ).collect()[0][0]


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    from llm_map_reduce_summarizer_spark.sources.files import (
        read_orc,
        write_orc,
    )
    from llm_map_reduce_summarizer_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = str(tmp_path / "docs_orc")
    write_orc(docs, out, partition_by=["lang"])
    back = read_orc(spark, out)
    assert back.count() == docs.count()
    # partition pruning on the hive layout
    import contextlib
    import io

    from pyspark.sql import functions as F

    pruned = back.filter(F.col("lang") == "en")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(mode="formatted")
    assert "lang" in buf.getvalue().split("PartitionFilters: [", 1)[1].split("]")[0]
    assert pruned.count() == docs.filter(F.col("lang") == "en").count()


def test_text_and_binary_file_sources(spark, tmp_path):
    from llm_map_reduce_summarizer_spark.sources.files import (
        read_binary_files,
        read_text_files,
    )

    p = tmp_path / "corpus"
    p.mkdir()
    (p / "a.txt").write_text("line one\nline two\n", encoding="utf-8")
    (p / "b.txt").write_text("line three\n", encoding="utf-8")
    lines = read_text_files(spark, str(p))
    assert lines.count() == 3

    blobs = read_binary_files(spark, str(p / "*.txt"))
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in blobs.collect()}
    assert set(rows) == {"a.txt", "b.txt"}
    assert bytes(rows["a.txt"]["content"]).startswith(b"line one")
    assert rows["b.txt"]["length"] == len("line three\n")


def test_training_shards_sink(spark, tmp_path):
    from llm_map_reduce_summarizer_spark.functions.hashing import (
        shuffle_sort_key,
    )
    from llm_map_reduce_summarizer_spark.sources.shards import (
        read_manifest,
        read_training_shards,
        write_training_shards,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents").select("doc_id", "n_chars")
    out = os.path.join(str(tmp_path), "shards")
    manifest = write_training_shards(docs, out, n_shards=4, seed="epoch0")

    n_docs = docs.count()
    assert manifest["total_rows"] == n_docs
    assert sum(manifest["rows_per_shard"].values()) == n_docs
    assert set(manifest["rows_per_shard"]) == {"0", "1", "2", "3"}
    assert read_manifest(out) == manifest

    # one directory and exactly one data file per shard
    shard_dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert shard_dirs == [f"shard={i}" for i in range(4)]
    for d in shard_dirs:
        parts = [
            f for f in os.listdir(os.path.join(out, d))
            if f.endswith(".parquet")
        ]
        assert len(parts) == 1

    # read-back: same ids, per-shard counts match the manifest
    back = read_training_shards(spark, out)
    assert back.count() == n_docs
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
    got = {
        str(r["shard"]): r["n"]
        for r in back.groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    assert got == manifest["rows_per_shard"]

    # within a shard, file order IS the seeded shuffle order
    one = spark.read.parquet(os.path.join(out, "shard=0")).select("doc_id")
    ids = [r["doc_id"] for r in one.collect()]
    keyed = one.withColumn(
        "k", shuffle_sort_key(F.col("doc_id"), "epoch0")
    ).collect()
    expect = [
        r["doc_id"] for r in sorted(keyed, key=lambda r: (r["k"], r["doc_id"]))
    ]
    assert ids == expect

    # deterministic: a second write reproduces the identical manifest
    out2 = os.path.join(str(tmp_path), "shards2")
    assert write_training_shards(docs, out2, n_shards=4) == manifest


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


def test_stream_to_training_shards(spark, tmp_path):
    """Streaming shard intake must place every row in the SAME shard
    as the batch sink (stable incremental growth), cover all rows
    across micro-batches, and rebuild an accurate manifest."""
    from llm_map_reduce_summarizer_spark.functions.hashing import knuth_shard
    from llm_map_reduce_summarizer_spark.sources.shards import (
        read_manifest,
        stream_to_training_shards,
    )
    from llm_map_reduce_summarizer_spark.streaming.stream_ops import (
        read_documents_stream,
    )
    from pyspark.sql import functions as F

    out = os.path.join(str(tmp_path), "stream_shards")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    stream = read_documents_stream(spark, SF).select("doc_id", "n_chars")
    manifest = stream_to_training_shards(stream, out, n_shards=4, checkpoint=ckpt)

    batch = load_table(spark, SF, "documents").select("doc_id", "n_chars")
    assert manifest["total_rows"] == batch.count()
    assert read_manifest(out) == manifest

    back = spark.read.parquet(out)
    # every row present exactly once, in its deterministic shard
    expect = {
        (r["doc_id"], int(r["shard"]))
        for r in batch.withColumn(
            "shard", knuth_shard(F.col("doc_id"), 4)
        ).collect()
    }
    got = {(r["doc_id"], int(r["shard"])) for r in back.collect()}
    assert got == expect
    got_counts = {
        str(r["shard"]): r["n"]
        for r in back.groupBy("shard").agg(F.count("*").alias("n")).collect()
    }
    assert got_counts == manifest["rows_per_shard"]


def test_stream_shard_intake_retry_is_exactly_once(spark, tmp_path):
    """A micro-batch retried after a failure mid-write must REPLACE its
    own batch_id partitions, not append duplicates (foreachBatch is
    at-least-once; the sink must make it exactly-once)."""
    from llm_map_reduce_summarizer_spark.sources.shards import (
        write_shard_batch,
    )

    out = os.path.join(str(tmp_path), "retry_shards")
    docs = load_table(spark, SF, "documents").select("doc_id", "n_chars")
    first = write_shard_batch(docs.limit(50), 0, out, n_shards=4)
    # simulated retry of the SAME batch (same batch_id, same rows)
    second = write_shard_batch(docs.limit(50), 0, out, n_shards=4)
    assert first == second
    back = spark.read.parquet(out)
    assert back.count() == 50
    assert back.select("doc_id").distinct().count() == 50
    # a DIFFERENT batch accumulates alongside, untouched by the retry
    write_shard_batch(docs.limit(80).subtract(docs.limit(50)), 1, out, 4)
    assert spark.read.parquet(out).count() == 80


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
