"""Structured Streaming operators (SURVEY.md §2.3 rows 28-29).

Batch analytics in ``plans/events.py`` re-expressed incrementally:

* ``hourly_counts`` — tumbling 1-hour windowed agg with a watermark.
  Complete output mode over an ``availableNow`` run reproduces the
  batch ``events_hourly`` result exactly, so the driver can hold it to
  the same SQL oracle.
* ``sessionize_stream`` — custom stateful sessionization via
  ``applyInPandasWithState``: per-user state carries (open-session id,
  last event time, running aggregates) across micro-batches; every
  batch emits the updated stats of each session it touched. The
  *latest* update per (user_id, session_id) equals the batch
  gaps-and-islands result, whatever the micro-batch boundaries were.

Scale notes: the windowed agg is a streaming partial-agg (state keyed
by (window, event_type), tiny). Sessionization state is one row per
active user — hash-partitioned by user_id, so 1e9 users spread over
the cluster; the watermark-driven timeout (GroupStateTimeout) is how
state gets evicted in a real continuous run.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes, matches plans/events.py


def _round2(x):
    """Half-up rounding identical to Spark's ``F.round(col, 2)``.

    Spark rounds a double via ``BigDecimal.valueOf(x)`` (the shortest
    decimal repr — same string Python's ``repr`` produces) with
    HALF_UP. Python's builtin ``round()`` is banker's rounding and
    disagrees on .xx5 values, which would make stream results hash-
    mismatch their batch/oracle twins.
    """
    from decimal import ROUND_HALF_UP, Decimal

    if x is None:
        return None
    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
    )


def _events_schema(ts_type) -> StructType:
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


# legacy long-nanos shape: tests that synthesize nanos files use it
EVENTS_SCHEMA = _events_schema(LongType())


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the events parquet.

    Streaming sources need an explicit schema (no inference), and that
    schema must match what the parquet writer actually stored — the
    testdata has drifted between TIMESTAMP(NANOS) (read as long) and
    TIMESTAMP_NTZ(MICROS) generations. Declaring the wrong one silently
    corrupts values (a micros column read under a nanos assumption lands
    in January 1970). So: peek at the file's batch schema (one footer
    read, works on any filesystem Spark can reach), declare the stream
    schema to match, and normalize to a session-tz timestamp exactly
    like the batch loader (sources/tables.py), so stream and batch
    plans share semantics.
    """
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_ts_type = spark.read.parquet(path).schema["ts"].dataType
    if isinstance(raw_ts_type, LongType):
        # legacy nanos-as-long: integer div keeps precision at ~1e18 ns
        conv = F.expr("timestamp_micros(ts div 1000)")
    else:
        # TIMESTAMP_NTZ or TIMESTAMP: cast is value-preserving (UTC session)
        conv = F.col("ts").cast("timestamp")
    raw = (
        spark.readStream.schema(_events_schema(raw_ts_type))
        .option("maxFilesPerTrigger", "1")
        # the source is a single parquet FILE; a glob makes the stream
        # source take the parent directory as base path (a bare file
        # path fails partition inference inside FileStreamSource)
        .parquet(path + "*")
    )
    return raw.withColumn("ts", conv)


def hourly_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1h window agg; late rows beyond the watermark drop."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


SESSION_STATE_SCHEMA = StructType(
    [
        StructField("session_id", LongType()),
        StructField("last_ts_us", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("session_value", DoubleType()),
    ]
)

SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("session_value", DoubleType()),
        StructField("duration_us", LongType()),
    ]
)


def _make_sessionize_fn(evict: bool):
    """Build the per-user state-fold function.

    Emits the updated running stats of every session touched in the
    batch (update semantics — downstream keeps the latest per key).
    """

    def _fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            state.remove()
            return

        if state.exists:
            sess_id, last_ts, n_ev, start_us, end_us, val = state.get
        else:
            sess_id, last_ts, n_ev, start_us, end_us, val = 0, None, 0, 0, 0, 0.0

        touched: dict[int, list] = {}
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for ts_us, value in zip(pdf["ts_us"], pdf["value"]):
                ts_us = int(ts_us)
                if last_ts is None or ts_us - last_ts > SESSION_GAP_US:
                    sess_id += 1
                    n_ev, start_us, end_us, val = 0, ts_us, ts_us, 0.0
                n_ev += 1
                end_us = ts_us
                val += float(value)
                last_ts = ts_us
                touched[sess_id] = [n_ev, start_us, end_us, val]

        state.update((sess_id, last_ts, n_ev, start_us, end_us, val))
        if evict:
            state.setTimeoutDuration(2 * SESSION_GAP_US // 1000)  # ms

        if touched:
            yield pd.DataFrame(
                [
                    {
                        "user_id": user_id,
                        "session_id": sid,
                        "n_events": s[0],
                        "start_us": s[1],
                        "end_us": s[2],
                        "session_value": _round2(s[3]),
                        "duration_us": s[2] - s[1],
                    }
                    for sid, s in touched.items()
                ]
            )

    return _fn


def sessionize_stream(events: DataFrame, evict_state: bool = False) -> DataFrame:
    """Incremental 30-min-gap sessionization keyed by user.

    ``evict_state=True`` arms a processing-time timeout that drops
    idle users' state — required for an unbounded continuous run, but
    it keeps an ``availableNow`` drain alive until the timers fire, so
    the default (bounded drain, tests, driver checks) runs without it.
    """
    with_us = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        _make_sessionize_fn(evict_state),
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if evict_state
            else GroupStateTimeout.NoTimeout
        ),
    )


DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the documents parquet."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(sf_dir, "documents.parquet*"))
    )


EMB_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based streaming source over the embeddings parquet —
    extends the streaming tier to the vector table (norm/health
    monitors at ingest)."""
    return (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(sf_dir, "embeddings.parquet*"))
    )


def run_available_now(
    sdf: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Drain all available input through a streaming DataFrame into a
    memory sink and return the sink table (driver/test harness path)."""
    spark = sdf.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    ckpt = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ckpt_{name}"
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def latest_sessions(updates: DataFrame) -> DataFrame:
    """Collapse update-mode session rows to the final state per session.

    ``n_events`` only grows within a session, so the row with the max
    event count is the latest update.
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("user_id", "session_id")
        .orderBy(F.col("n_events").desc())
    )
    return (
        updates.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


PATHS_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("last_event_id", LongType()),
        StructField("last_type", StringType()),
    ]
)

PATHS_OUT_SCHEMA = StructType(
    [
        StructField("src", StringType()),
        StructField("dst", StringType()),
    ]
)


def user_paths_stream(events: DataFrame) -> DataFrame:
    """Incremental behavioral-transition emission keyed by user:
    state = the user's LAST event (3 scalars — never the history);
    each micro-batch emits only the transitions it completes, so the
    drained sink holds every (prev_type → next_type) step exactly
    once under any micro-batch split. Same per-user event-time-order
    contract as ``sessionize_stream``."""

    def _fn(key, pdfs, state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_ts, last_id, last_type = state.get
        else:
            last_ts, last_id, last_type = None, None, None
        out_src: list = []
        out_dst: list = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for ts_us, eid, et in zip(
                pdf["ts_us"], pdf["event_id"], pdf["event_type"]
            ):
                if last_type is not None:
                    out_src.append(last_type)
                    out_dst.append(et)
                last_ts, last_id, last_type = int(ts_us), int(eid), et
        state.update((last_ts, last_id, last_type))
        if out_src:
            yield pd.DataFrame({"src": out_src, "dst": out_dst})

    with_us = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    return with_us.groupBy("user_id").applyInPandasWithState(
        _fn,
        outputStructType=PATHS_OUT_SCHEMA,
        stateStructType=PATHS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
