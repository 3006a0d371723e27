"""Streaming-vs-batch parity (SURVEY.md §5.4): draining the events
parquet through the streaming plans must reproduce the batch results
exactly on static input."""

from __future__ import annotations

import pytest

from llm_map_reduce_summarizer_spark.plans.events import (
    events_hourly,
    events_sessionize,
)
from llm_map_reduce_summarizer_spark.plans.streams import (
    stream_hourly,
    stream_sessionize,
)
from .oracle_utils import compare_frames

SF = "/root/testdata/sf0.001"


def test_stream_hourly_matches_batch(spark):
    stream = stream_hourly(spark, SF).toPandas()
    batch = events_hourly(spark, SF).toPandas()
    assert len(stream) > 0
    assert compare_frames(stream, batch) == []


def test_stream_sessionize_matches_batch(spark):
    stream = stream_sessionize(spark, SF).toPandas()
    batch = events_sessionize(spark, SF).toPandas()
    assert len(stream) > 0
    assert compare_frames(stream, batch) == []


def test_stream_parquet_file_sink(spark, tmp_path):
    """availableNow drain into a parquet file sink; read-back equals
    the batch aggregation (append mode emits only watermark-closed
    windows, so compare against the batch result minus the last open
    hour)."""
    import os

    from pyspark.sql import functions as F

    from llm_map_reduce_summarizer_spark.streaming.stream_ops import (
        hourly_counts,
        read_events_stream,
    )

    ev = read_events_stream(spark, SF)
    out = os.path.join(str(tmp_path), "hourly_parquet")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    q = (
        hourly_counts(ev)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    batch = events_hourly(spark, SF)
    # append mode emits a window once the watermark (max event time -
    # 1h) passes its END: hour + 1h <= max_ts - 1h
    from llm_map_reduce_summarizer_spark.sources.tables import load_table

    max_ts = (
        load_table(spark, SF, "events").agg(F.max("ts")).collect()[0][0]
    )
    closed = batch.filter(
        F.col("hour") + F.expr("INTERVAL 2 HOURS") <= F.lit(max_ts)
    )
    assert back.count() == closed.count()
    assert compare_frames(back.toPandas(), closed.toPandas()) == []


def test_stream_value_histogram_accumulates_across_batches(spark, tmp_path):
    """Two micro-batches hitting the same (type, bucket) cell must
    produce ONE accumulated row in complete mode — counts summed,
    min/max widened across batches."""
    import pandas as pd

    from llm_map_reduce_summarizer_spark.plans.events import HIST_WIDTH
    from llm_map_reduce_summarizer_spark.streaming.stream_ops import (
        EVENTS_SCHEMA,
        run_available_now,
    )
    from pyspark.sql import functions as F

    us = 1_000_000
    lo = 0.25 * HIST_WIDTH
    hi = 0.75 * HIST_WIDTH
    rows = [
        dict(event_id=1, ts=10 * us * 1000, user_id=1,
             event_type="view", value=lo, props="{}"),
    ]
    rows2 = [
        dict(event_id=2, ts=20 * us * 1000, user_id=2,
             event_type="view", value=hi, props="{}"),
        dict(event_id=3, ts=21 * us * 1000, user_id=3,
             event_type="click", value=lo, props="{}"),
    ]
    src = tmp_path / "events_hist"
    src.mkdir()
    pd.DataFrame(rows).to_parquet(src / "part-000.parquet")
    pd.DataFrame(rows2).to_parquet(src / "part-001.parquet")

    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(str(src))
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    bucket = F.floor(F.col("value") / F.lit(HIST_WIDTH)).cast("long")
    hist = (
        raw.withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )
    out = (
        run_available_now(hist, output_mode="complete")
        .toPandas()
        .set_index(["event_type", "bucket"])
        .sort_index()
    )
    assert len(out) == 2
    view = out.loc[("view", 0)]
    assert view["n_events"] == 2  # both batches folded into one cell
    assert view["min_value"] == round(lo, 2)
    assert view["max_value"] == round(hi, 2)
    assert out.loc[("click", 0)]["n_events"] == 1


def test_stream_events_ts_schema_canary(spark):
    """Streaming twin of the batch schema-drift canary: the stream
    reader must surface ts as TimestampType (watermarks reject NTZ)
    and its first event time must equal the batch loader's — catching
    both the AnalysisException drift mode and the silent /1000
    value-corruption mode (streamed timestamps landing in 1970)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from llm_map_reduce_summarizer_spark.sources.tables import load_table
    from llm_map_reduce_summarizer_spark.streaming.stream_ops import (
        read_events_stream,
        run_available_now,
    )

    ev = read_events_stream(spark, SF)
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    ev.withWatermark("ts", "1 hour")  # analysis-time check

    streamed_min = run_available_now(
        ev.groupBy().agg(F.min("ts").alias("min_ts")), output_mode="complete"
    ).collect()[0]["min_ts"]
    batch_min = (
        load_table(spark, SF, "events").agg(F.min("ts")).collect()[0][0]
    )
    assert streamed_min == batch_min


def test_stream_round_half_up_matches_spark(spark):
    """_round2 must agree with F.round on .xx5 boundaries where
    Python's banker's rounding diverges."""
    from pyspark.sql import functions as F

    from llm_map_reduce_summarizer_spark.streaming.stream_ops import _round2

    vals = [2.675, 2.665, 0.125, 0.135, 1.005, 2.5, -2.675, -0.125, 3.14159, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    expected = [
        r["r"] for r in df.select(F.round("v", 2).alias("r")).collect()
    ]
    got = [_round2(v) for v in vals]
    assert got == expected
    # the builtin would disagree on at least one of these
    assert any(round(v, 2) != e for v, e in zip(vals, expected))


def test_stream_folds_round_boundary_values(spark, tmp_path):
    """End-to-end .xx5 boundary through the stateful sessionize fold: a
    session whose value sums to 0.125 must come out as 0.13 (Spark
    HALF_UP), not Python round()'s 0.12."""
    import pandas as pd
    from pyspark.sql import functions as F

    from llm_map_reduce_summarizer_spark.streaming.stream_ops import (
        EVENTS_SCHEMA,
        run_available_now,
        sessionize_stream,
    )

    us = 1_000_000
    rows = [
        dict(event_id=1, ts=10 * us * 1000, user_id=1,
             event_type="view", value=0.125, props="{}"),
        # > 30 min later: forces a second single-event session
        dict(event_id=2, ts=(10 + 31 * 60) * us * 1000, user_id=1,
             event_type="click", value=0.125, props="{}"),
    ]
    src = tmp_path / "events_round"
    src.mkdir()
    pd.DataFrame(rows).to_parquet(src / "part-000.parquet")
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    sess = run_available_now(
        sessionize_stream(raw), output_mode="update"
    ).toPandas()
    # 0.125 + 0.125 = 0.25 exactly; sessions split at the 30-min gap,
    # so each single-event session carries 0.125 -> rounds to 0.13
    assert sorted(sess["session_value"]) == [0.13, 0.13]


def _sessionize_oracle(rows):
    """Independent pure-Python sessionization oracle: per-user 30-min
    gap rule over (ts, event_id) order; values are exact binary
    fractions in the generator so summation order can't matter."""
    from llm_map_reduce_summarizer_spark.streaming.stream_ops import (
        SESSION_GAP_US,
        _round2,
    )

    sessions = {}
    cursor = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts_us"], r["event_id"])):
        u = r["user_id"]
        st = cursor.setdefault(u, {"sid": 0, "last": None})
        if st["last"] is None or r["ts_us"] - st["last"] > SESSION_GAP_US:
            st["sid"] += 1
            sessions[(u, st["sid"])] = dict(
                n=0, start=r["ts_us"], end=r["ts_us"], val=0.0
            )
        s = sessions[(u, st["sid"])]
        s["n"] += 1
        s["end"] = r["ts_us"]
        s["val"] += r["value"]
        st["last"] = r["ts_us"]
    return {
        (u, sid, s["n"], s["start"], s["end"], _round2(s["val"]),
         s["end"] - s["start"])
        for (u, sid), s in sessions.items()
    }


@pytest.mark.slow
def test_stream_parity_on_randomized_micro_batch_splits(spark, tmp_path_factory):
    """Property test (round-4 advice #8): for ANY time-contiguous split
    of an event log into 2-4 micro-batch files — with rows arbitrarily
    shuffled inside each file — sessionize_stream must reproduce the
    independent batch oracle exactly. The streaming contract requires
    per-user event-time order ACROSS micro-batches (the usual
    log-stream property), so splits are contiguous cuts of the
    time-sorted log; within a file order is free because the fold
    re-sorts per batch."""
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from llm_map_reduce_summarizer_spark.streaming.stream_ops import (
        EVENTS_SCHEMA,
        latest_sessions,
        run_available_now,
        sessionize_stream,
    )
    from pyspark.sql import functions as F

    raw_events = st.lists(
        st.tuples(
            st.integers(1, 4),                      # user_id
            st.integers(0, 3 * 3600),               # ts seconds in [0, 3h]
            st.sampled_from(["view", "click", "purchase"]),
            st.integers(0, 40),                     # value = q * 0.25 (exact)
        ),
        min_size=4,
        max_size=32,
    )

    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(data=st.data())
    def run(data):
        tuples = data.draw(raw_events)
        rows = [
            dict(event_id=i, ts_us=t * 1_000_000, user_id=u,
                 event_type=e, value=q * 0.25)
            for i, (u, t, e, q) in enumerate(tuples)
        ]
        # split order must match the fold's in-batch sort so any
        # contiguous cut is a valid arrival order
        ordered = sorted(rows, key=lambda r: (r["ts_us"], r["event_id"]))
        n_files = data.draw(st.integers(2, 4))
        cuts = sorted(
            data.draw(
                st.lists(
                    st.integers(1, max(1, len(ordered) - 1)),
                    min_size=n_files - 1,
                    max_size=n_files - 1,
                    unique=True,
                )
            )
        )
        chunks = []
        prev = 0
        for c in cuts + [len(ordered)]:
            chunk = ordered[prev:c]
            prev = c
            if chunk:
                # shuffled row order inside the file
                chunk = data.draw(st.permutations(chunk))
                chunks.append(chunk)

        src = tmp_path_factory.mktemp("rand_split")
        for i, chunk in enumerate(chunks):
            pdf = pd.DataFrame(chunk)
            pdf["ts"] = pdf["ts_us"] * 1000  # long nanos file
            pdf["props"] = "{}"
            pdf[["event_id", "ts", "user_id", "event_type", "value",
                 "props"]].to_parquet(src / f"part-{i:03d}.parquet")

        def read():
            return (
                spark.readStream.schema(EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .option("latestFirst", "false")
                .parquet(str(src))
                .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            )

        sess = latest_sessions(
            run_available_now(sessionize_stream(read()), output_mode="update")
        ).toPandas()
        got_sessions = {
            tuple(r)
            for r in sess[
                ["user_id", "session_id", "n_events", "start_us",
                 "end_us", "session_value", "duration_us"]
            ].itertuples(index=False)
        }
        assert got_sessions == _sessionize_oracle(rows)

    run()


def test_stream_dau_equals_batch_sketch(spark):
    """HLL register-max merge is order-independent, so the streamed
    sketch must equal the batch sketch BIT-FOR-BIT on static input —
    not just within error bounds. The catalog entries wrap the raw
    sketch in the exact-tier bound check, so the raw pin runs against
    stream_dau_sketch and an identical batch aggregation; the catalog
    shapes are compared too."""
    from pyspark.sql import functions as F

    from llm_map_reduce_summarizer_spark.plans.events import (
        DAU_RSD,
        events_dau_approx,
    )
    from llm_map_reduce_summarizer_spark.plans.streams import (
        stream_dau,
        stream_dau_sketch,
    )
    from llm_map_reduce_summarizer_spark.sources.tables import load_table

    raw_stream = stream_dau_sketch(spark, SF).toPandas()
    raw_batch = (
        load_table(spark, SF, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.approx_count_distinct("user_id", rsd=DAU_RSD).alias(
                "dau_approx"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .toPandas()
    )
    assert len(raw_stream) > 0
    assert compare_frames(raw_stream, raw_batch) == []

    stream = stream_dau(spark, SF).toPandas()
    batch = events_dau_approx(spark, SF).toPandas()
    assert compare_frames(stream, batch) == []
    assert stream["sketch_within_3rsd"].all()


def test_stream_value_quantiles_invariant_and_exact_columns(spark):
    """The streamed quantile sketch must satisfy the rank-tolerance
    invariant on every type, and the entry's quantile columns must
    equal the exact batch tier's (they ARE the exact values; the
    sketch is certified by the boolean)."""
    from llm_map_reduce_summarizer_spark.plans.events import (
        events_value_quantiles,
    )
    from llm_map_reduce_summarizer_spark.plans.streams import (
        stream_value_quantiles,
    )

    got = (
        stream_value_quantiles(spark, SF)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    exact = (
        events_value_quantiles(spark, SF)
        .toPandas()
        .set_index("event_type")
        .sort_index()
    )
    assert got["sketch_within_rank_tol"].all()
    for col in ("p25", "p5", "p9", "p99", "n_events"):
        assert (got[col] == exact[col]).all(), col


@pytest.mark.slow
def test_stream_user_paths_parity_on_randomized_splits(spark, tmp_path_factory):
    """user_paths_stream must emit every (prev→next) transition exactly
    once for ANY contiguous micro-batch split of the time-sorted log,
    with rows shuffled inside each file — multiset parity against a
    pandas mirror of the batch lag semantics."""
    import collections

    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from llm_map_reduce_summarizer_spark.streaming.stream_ops import (
        EVENTS_SCHEMA,
        run_available_now,
        user_paths_stream,
    )
    from pyspark.sql import functions as F

    raw_events = st.lists(
        st.tuples(
            st.integers(1, 4),
            st.integers(0, 3 * 3600),
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=4,
        max_size=32,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(data=st.data())
    def run(data):
        tuples = data.draw(raw_events)
        rows = [
            dict(event_id=i, ts_us=t * 1_000_000, user_id=u,
                 event_type=e, value=0.0)
            for i, (u, t, e) in enumerate(tuples)
        ]
        ordered = sorted(rows, key=lambda r: (r["ts_us"], r["event_id"]))
        n_files = data.draw(st.integers(2, 4))
        cuts = sorted(
            data.draw(
                st.lists(
                    st.integers(1, max(1, len(ordered) - 1)),
                    min_size=n_files - 1,
                    max_size=n_files - 1,
                    unique=True,
                )
            )
        )
        chunks, prev = [], 0
        for c in cuts + [len(ordered)]:
            chunk = ordered[prev:c]
            prev = c
            if chunk:
                chunks.append(data.draw(st.permutations(chunk)))

        src = tmp_path_factory.mktemp("paths_split")
        for i, chunk in enumerate(chunks):
            pdf = pd.DataFrame(chunk)
            pdf["ts"] = pdf["ts_us"] * 1000
            pdf["props"] = "{}"
            pdf[["event_id", "ts", "user_id", "event_type", "value",
                 "props"]].to_parquet(src / f"part-{i:03d}.parquet")

        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(str(src))
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
        got = collections.Counter(
            (r.src, r.dst)
            for r in run_available_now(
                user_paths_stream(stream), output_mode="update"
            ).collect()
        )
        expect = collections.Counter()
        by_user = {}
        for r in ordered:
            u = r["user_id"]
            if u in by_user:
                expect[(by_user[u], r["event_type"])] += 1
            by_user[u] = r["event_type"]
        assert got == expect

    run()
