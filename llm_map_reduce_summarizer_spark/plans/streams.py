"""Streaming queries (SURVEY.md §2.3 rows 28-29), driver-runnable.

Each callable drains the events parquet through a Structured Streaming
plan with an ``availableNow`` trigger and returns the sink table. On
static input the streaming results equal their batch twins, so BOTH
carry full SQL oracles (stronger than the rows-only check SURVEY
originally planned):

* ``stream_hourly``  — complete-mode windowed agg == batch hourly agg.
* ``stream_sessionize`` — latest update per (user, session) from the
  stateful operator == batch gaps-and-islands sessionization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..streaming.stream_ops import (
    hourly_counts,
    latest_sessions,
    read_documents_stream,
    read_events_stream,
    run_available_now,
    sessionize_stream,
)
from .documents import ORACLE as _DOCS_ORACLE
from .events import ORACLE as _EVENTS_ORACLE


def stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    return run_available_now(hourly_counts(ev), output_mode="complete")


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    updates = run_available_now(sessionize_stream(ev), output_mode="update")
    return latest_sessions(updates)


def stream_langid_injection_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming langid ground-truth monitor: the foreign-language
    probes plant and score AT INGEST (both stateless narrow maps),
    the verdicts accumulating into 5-strata × 2 cells — detection
    quality is continuously measured on the live intake, not just in
    offline evals. Drain == batch `langid_injection_eval`, whose
    oracle it shares."""
    from .documents import langid_eval_cells, langid_eval_from_cells

    docs = read_documents_stream(spark, sf_dir)
    snap = run_available_now(
        langid_eval_cells(docs), output_mode="complete"
    )
    return langid_eval_from_cells(snap)


def stream_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time PII redaction: the stateless streaming
    transform case — three JVM regex passes per arriving doc with
    append semantics, no state at all. Scrubbing AT ingest (before
    anything lands) is the shape privacy reviews actually require
    of a corpus intake; the drained static input equals the batch
    `doc_pii_scrub`, whose oracle it shares."""
    from .documents import pii_scrub_of

    docs = read_documents_stream(spark, sf_dir)
    return run_available_now(
        pii_scrub_of(docs), output_mode="append"
    )


def stream_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time token accounting: stateless per-doc token /
    word / char counters with append semantics (the billing and
    budget meters a streaming intake stamps on every doc before
    packing). Drain == batch `doc_tokens`, whose oracle it shares."""
    from .documents import doc_tokens_of

    docs = read_documents_stream(spark, sf_dir)
    return run_available_now(
        doc_tokens_of(docs), output_mode="append"
    )


def stream_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming fixed-width value histogram per event type — the
    bounded-state monitoring agg: state is (type, bucket) cells, sized
    by the value range, never by stream length. On the drained static
    input it equals the batch ``events_value_histogram`` and shares
    its oracle.
    """
    from pyspark.sql import functions as F

    from .events import HIST_WIDTH

    ev = read_events_stream(spark, sf_dir)
    bucket = F.floor(F.col("value") / F.lit(HIST_WIDTH)).cast("long")
    hist = (
        ev.withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )
    return run_available_now(hist, output_mode="complete")


def stream_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-5 users by total value within each event type.

    The streaming half is a complete-mode (event_type, user_id)
    aggregation — state is one cell per active (type, user), hash-
    partitioned across executors, bounded by user count not stream
    length. The top-k ranking runs AFTER the drain on the sink
    snapshot (a batch window per event_type): ranking inside the
    stream would force complete-mode recomputation of every rank per
    trigger, while ranking the drained snapshot is one tiny window
    over k-ish candidates per type. On static input this equals the
    batch ``events_topk_users`` and shares its oracle.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ev = read_events_stream(spark, sf_dir)
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 2).alias("user_value")
    )
    sink = run_available_now(per_user, output_mode="complete")
    w = Window.partitionBy("event_type").orderBy(
        F.col("user_value").desc(), F.col("user_id")
    )
    return sink.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= 5)


def stream_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming training-mix monitor: docs/tokens/token-share per
    (lang, source) stratum over the document intake — how a corpus
    operator watches mix drift DURING ingestion instead of auditing
    after the fact.

    The streaming half is a complete-mode (lang, source) aggregation —
    state is one cell per stratum, bounded by the mix's cardinality,
    never stream length. The share normalization runs post-drain on
    the stratum snapshot (a 1-row total crossJoin on ~100 rows);
    normalizing in-stream would need agg-of-agg, which streaming
    forbids in one query. Drain of static input equals the batch
    ``corpus_mix_report`` and shares its oracle.
    """
    from pyspark.sql import functions as F

    from ..functions.text import quantize, token_count

    docs = read_documents_stream(spark, sf_dir)
    per = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("long")).alias("n_tokens"),
    )
    sink = run_available_now(per, output_mode="complete")
    total = sink.agg(F.sum("n_tokens").alias("corpus_tokens"))
    return sink.crossJoin(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        quantize(F.col("n_tokens") / F.col("corpus_tokens"), 6).alias(
            "token_share"
        ),
    )


def stream_dau_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw streamed HLL sketch per day (day, dau_approx, n_events) —
    the mergeable aggregate itself; the catalog entry wraps it in the
    exact-tier bound check. Bit-equal to the batch sketch on static
    input (register-max merge is order-independent; pinned in tests).
    """
    from pyspark.sql import functions as F

    from .events import DAU_RSD

    ev = read_events_stream(spark, sf_dir)
    dau = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.approx_count_distinct("user_id", rsd=DAU_RSD).alias("dau_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return run_available_now(dau, output_mode="complete")


def stream_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily-active-users via HyperLogLog++ — the sketch
    aggregate is WHY this works: exact count_distinct is unsupported
    in streaming (unbounded per-key distinct state), but HLL state is
    fixed-size and register-max merge is order-independent, so
    micro-batches fold in deterministically.

    VALUE-checked like the batch tier: the drained stream estimate
    (30-ish day rows) joins the exact batch DAU and the catalog emits
    the ``sketch_within_3rsd`` invariant — TRUE per day in the oracle
    — so a hash match certifies the STREAMED sketch hit its error
    bound. The post-drain join touches only day-count rows (the
    bounded sink table), never the stream itself.
    """
    from pyspark.sql import functions as F

    from ..sources.tables import load_table
    from .events import DAU_RSD

    drained = stream_dau_sketch(spark, sf_dir)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count_distinct("user_id").alias("dau"))
    )
    return drained.join(exact, "day").select(
        "day",
        "dau",
        "n_events",
        (
            F.abs(F.col("dau_approx") - F.col("dau"))
            <= 3 * DAU_RSD * F.col("dau")
        ).alias("sketch_within_3rsd"),
    )


def stream_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-type value quantiles via the mergeable
    approx_percentile sketch — like ``stream_dau``, the sketch is WHY
    this works in streaming (an exact quantile needs the full sorted
    group; the sketch folds micro-batches in bounded memory).

    VALUE-checked with the batch tier's rank invariant: the drained
    sketch elements (one k-row table) join the exact batch quantiles,
    and each element's true rank must sit within n/accuracy + 1 of its
    target — TRUE per type in the oracle. Post-drain work touches only
    type-count rows plus one batch scan for the rank counts.
    """
    from pyspark.sql import functions as F

    from ..sources.tables import load_table
    from .events import _QUANTILES, QUANTILE_ACCURACY

    ev = read_events_stream(spark, sf_dir)
    sketch = ev.groupBy("event_type").agg(
        *[
            F.expr(
                f"approx_percentile(value, {q}, {QUANTILE_ACCURACY})"
            ).alias(f"a{i}")
            for i, q in enumerate(_QUANTILES)
        ],
        F.count(F.lit(1)).alias("n_events"),
    )
    drained = run_available_now(sketch, output_mode="complete")

    batch = load_table(spark, sf_dir, "events")
    exact = batch.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 4).alias(
                f"p{str(q).replace('0.', '')}"
            )
            for q in _QUANTILES
        ]
    )
    ranks = (
        batch.select("event_type", "value")
        .join(F.broadcast(drained), "event_type")
        .groupBy("event_type")
        .agg(
            *[
                F.sum(
                    (F.col("value") < F.col(f"a{i}")).cast("long")
                ).alias(f"lt{i}")
                for i in range(len(_QUANTILES))
            ],
            *[
                F.sum(
                    (F.col("value") <= F.col(f"a{i}")).cast("long")
                ).alias(f"le{i}")
                for i in range(len(_QUANTILES))
            ],
        )
    )
    n = F.col("n_events").cast("double")
    tol = n / QUANTILE_ACCURACY + 1
    within = None
    for i, q in enumerate(_QUANTILES):
        ok = (F.col(f"lt{i}") <= q * n + tol) & (
            F.col(f"le{i}") >= q * n - tol
        )
        within = ok if within is None else (within & ok)
    return (
        drained.join(exact, "event_type")
        .join(ranks, "event_type")
        .select(
            "event_type",
            *[f"p{str(q).replace('0.', '')}" for q in _QUANTILES],
            "n_events",
            within.alias("sketch_within_rank_tol"),
        )
    )


def stream_topk_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters with TRULY bounded state: the count-min
    cells aggregate in complete mode holds d*w integers NO MATTER the
    key cardinality or stream length (contrast `stream_topk_users`,
    whose per-user state grows with the entity count). The top-k probe
    runs post-drain against the drained cell table (k-ish rows on the
    driver session — the established post-drain ranking pattern), with
    the exact audit column from the static table. Drain of the static
    corpus equals the batch `events_topk_cms`, whose oracle it shares.
    """
    from ..sources.tables import load_table
    from .events import cms_cells, cms_hashed, cms_topk_probe

    ev = read_events_stream(spark, sf_dir).select("user_id")
    cells = run_available_now(
        cms_cells(cms_hashed(ev)), output_mode="complete"
    )
    hashed = cms_hashed(
        load_table(spark, sf_dir, "events").select("user_id")
    )
    return cms_topk_probe(hashed, cells)


def stream_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming latest-event-per-entity snapshot — the SCD/upsert
    collapse running AT INGEST: complete-mode struct-max per user, so
    state is ONE struct per active entity (hash-partitioned, bounded
    by entity count, never stream length) and the max-merge is
    order-independent — the drain equals batch ``events_latest_state``
    for ANY micro-batching, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    ev = read_events_stream(spark, sf_dir)
    us = F.unix_micros(F.col("ts"))
    picked = (
        ev.select(
            "user_id",
            F.struct(
                us.alias("ts_us"),
                F.col("event_id").alias("event_id"),
                F.col("event_type").alias("event_type"),
                F.col("value").alias("value"),
            ).alias("st"),
        )
        .groupBy("user_id")
        .agg(F.max("st").alias("st"))
    )
    drained = run_available_now(picked, output_mode="complete")
    return drained.select(
        "user_id",
        F.col("st.event_id").alias("event_id"),
        F.col("st.ts_us").alias("ts_us"),
        F.col("st.event_type").alias("event_type"),
        F.col("st.value").alias("value"),
    )


def stream_hour_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hour-of-day concentration: the same ingest-time
    hourly state, re-binned post-drain to the 24-hour clock (hourly
    cells partition events exactly, so summing counts by hour-of-day
    equals the batch per-event histogram bit-for-bit) and summarized
    with the shared entropy/argmax scan. Drain == batch
    `events_hour_concentration`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from ..streaming.stream_ops import hourly_counts
    from .events import hour_concentration_from_hist

    ev = read_events_stream(spark, sf_dir)
    snap = run_available_now(hourly_counts(ev), output_mode="complete")
    hist = snap.groupBy(
        "event_type", F.hour("hour").cast("long").alias("hod")
    ).agg(F.sum("n_events").cast("long").alias("cnt"))
    return hour_concentration_from_hist(hist)


def stream_forecast_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming forecast scorecard: the one-row MAE/MAPE/bias
    rollup over `stream_forecast_hourly`'s drained backtest. Drain ==
    batch `events_forecast_scorecard`, whose oracle it shares.
    """
    from .events import scorecard_from_backtest

    return scorecard_from_backtest(stream_forecast_hourly(spark, sf_dir))


def stream_ab_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming experiment-design readout: the MDE scan over
    `stream_conversion_ztest`'s drained four-integer count table
    (per-user 2-minima state). Drain == batch `events_ab_design`,
    whose oracle it shares.
    """
    from .events import ab_design_from_counts

    return ab_design_from_counts(stream_conversion_ztest(spark, sf_dir))


def stream_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sample-ratio-mismatch gate: users dedup AT INGEST
    (one counter per user — mergeable) and the χ²(1) parity check
    runs post-drain. Drain == batch `events_ab_srm`, whose oracle it
    shares.
    """
    from pyspark.sql import functions as F

    from .events import srm_from_users

    ev = read_events_stream(spark, sf_dir)
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    snap = run_available_now(users, output_mode="complete")
    return srm_from_users(snap.select("user_id"))


def stream_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trailing-window anomaly screen: the per-(type, hour)
    tumbling state accumulates AT INGEST and the 24-hour trailing
    z-score runs post-drain on the bounded snapshot. Drain == batch
    `events_hourly_anomaly`, whose oracle it shares.
    """
    from ..streaming.stream_ops import hourly_counts
    from .events import trailing_anomaly_from_hourly

    ev = read_events_stream(spark, sf_dir)
    snap = run_available_now(hourly_counts(ev), output_mode="complete")
    return trailing_anomaly_from_hourly(
        snap.select("event_type", "hour", "n_events")
    )


def stream_forecast_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming seasonal-naive backtest: (day, hour-of-day) count
    cells accumulate AT INGEST (calendar-bounded mergeable state) and
    the train/test split + hod-mean forecast run post-drain
    (`events.forecast_from_cells`). Drain == batch
    `events_forecast_hourly`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from .events import forecast_from_cells

    ev = read_events_stream(spark, sf_dir)
    cells = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.hour("ts").cast("bigint").alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    snap = run_available_now(cells, output_mode="complete")
    return forecast_from_cells(snap)


def stream_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming semi-structured rollup: the per-type min/max/avg/
    count aggregates over the extracted JSON prop accumulate AT
    INGEST (state = one aggregate row per type — every component
    mergeable). Drain == batch `events_json_props`, whose oracle it
    shares.
    """
    from pyspark.sql import functions as F

    ev = read_events_stream(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    agg = ev.withColumn("k", k).groupBy("event_type").agg(
        F.round(F.avg("k"), 4).alias("avg_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return run_available_now(agg, output_mode="complete")


def stream_retention_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hour-over-hour retention: activity dedups to (hour,
    user) pair state AT INGEST (bounded by hourly actives × calendar,
    mergeable ⇒ split-invariant) and the cohort/next-hour scan runs
    post-drain. Drain == batch `events_retention_hourly`, whose
    oracle it shares.
    """
    from pyspark.sql import functions as F

    from .events import retention_from_pairs

    ev = read_events_stream(spark, sf_dir)
    hu = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    snap = run_available_now(hu, output_mode="complete")
    return retention_from_pairs(snap.select("hour", "user_id"))


def stream_user_activity_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming entity-activity quantiles: per-user counters
    accumulate AT INGEST (entity-bounded state) and
    the exact percentile scan runs post-drain on the users-bounded
    snapshot. Drain == batch `events_user_activity_quantiles`, whose
    oracle it shares.
    """
    from pyspark.sql import functions as F

    from .events import activity_quantiles_from_counts

    ev = read_events_stream(spark, sf_dir)
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    snap = run_available_now(per, output_mode="complete")
    return activity_quantiles_from_counts(snap)


def stream_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming absorption probabilities: same exactly-once
    transition emissions as `stream_user_paths`, with the
    K²-bounded minimal-fixed-point solve post-drain
    (`events.absorption_from_pairs`). Drain == batch
    `events_absorption`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from ..streaming.stream_ops import user_paths_stream
    from .events import absorption_from_pairs

    ev = read_events_stream(spark, sf_dir)
    steps = run_available_now(
        user_paths_stream(ev), output_mode="update"
    )
    pairs = steps.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n")
    )
    return absorption_from_pairs(pairs)


def stream_dp_user_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming user-level-DP totals: the per-(user, type) count
    state accumulates at ingest (the `stream_dau` entity bound) and
    the clip + Laplace release runs post-drain via the exact batch
    computation (`events.dp_user_release_from_counts`). Drain ==
    batch `events_dp_user_total`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from .events import dp_user_release_from_counts

    ev = read_events_stream(spark, sf_dir)
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    snap = run_available_now(per_user, output_mode="complete")
    return dp_user_release_from_counts(snap)


def stream_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming acquisition split: activity dedups to (day, user)
    pair state AT INGEST and the new-vs-returning scan runs
    post-drain. Drain == batch `events_new_vs_returning`, whose oracle
    it shares.
    """
    from pyspark.sql import functions as F

    from .events import new_vs_returning_from_pairs

    ev = read_events_stream(spark, sf_dir)
    pairs = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    snap = run_available_now(pairs, output_mode="complete")
    return new_vs_returning_from_pairs(snap.select("day", "user_id"))


def stream_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hour-of-day seasonality profile: the per-(type,
    hour) tumbling state accumulates AT INGEST and the 24×types
    profile collapse runs post-drain. Drain == batch
    `events_hourly_profile`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from ..streaming.stream_ops import hourly_counts
    from .events import profile_from_hourly

    ev = read_events_stream(spark, sf_dir)
    snap = run_available_now(hourly_counts(ev), output_mode="complete")
    return profile_from_hourly(
        snap.select("hour", "event_type", F.col("n_events").alias("n"))
    )


def stream_concurrency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming concurrency gauge: sessions form AT INGEST (the
    `stream_sessionize` per-user state) and the interval→hour overlap
    scan runs post-drain on the sessions-bounded snapshot
    (`events.concurrency_from_sessions`). Drain == batch
    `events_concurrency_curve`, whose oracle it shares.
    """
    from .events import concurrency_from_sessions

    return concurrency_from_sessions(stream_sessionize(spark, sf_dir))


def stream_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming behavioral-transition mining: per-user last-event
    state (3 scalars per active user — never the history) emits each
    (prev_type → next_type) step exactly once AT INGEST
    (`stream_ops.user_paths_stream`); the corpus-wide pair count +
    top-20 runs post-drain on the emitted-steps sink. Drain == batch
    `events_user_paths`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from ..streaming.stream_ops import user_paths_stream
    from .events import PATHS_TOPK

    ev = read_events_stream(spark, sf_dir)
    steps = run_available_now(
        user_paths_stream(ev), output_mode="update"
    )
    pairs = steps.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("n")
    )
    return pairs.orderBy(
        F.col("n").desc(), F.col("src"), F.col("dst")
    ).limit(PATHS_TOPK)


def stream_type_share_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming daily mix-trend monitor: (day, type) counts
    accumulate AT INGEST (state = calendar days × types, never
    stream length; counts are mergeable so any micro-batch split
    drains identically) and the share scan runs post-drain on the
    bounded snapshot. Drain == batch `events_type_share_trend`,
    whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from .events import type_share_from_cells

    ev = read_events_stream(spark, sf_dir)
    per = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    snap = run_available_now(per, output_mode="complete")
    return type_share_from_cells(snap)


def stream_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Theil–Sen trend: the hourly count series accumulates
    AT INGEST (the `stream_hourly` calendar-bounded tumbling state,
    type cells summed to the overall series post-drain — exact) and
    the median-of-pairwise-slopes evaluates on the hours-bounded
    snapshot via the exact batch computation
    (`events.sen_from_hourly`). Drain == batch `events_sen_slope`,
    whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from ..streaming.stream_ops import hourly_counts
    from .events import sen_from_hourly

    ev = read_events_stream(spark, sf_dir)
    snap = run_available_now(hourly_counts(ev), output_mode="complete")
    hourly = snap.groupBy("hour").agg(
        F.sum("n_events").cast("long").alias("n")
    )
    return sen_from_hourly(hourly)


def stream_emb_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding-health monitor — the streaming tier's
    first VECTOR-table op: (dim, quantized-norm) cell counts
    accumulate AT INGEST (the value-grid state class, exact
    integers ⇒ split-invariant) and the one-row audit (incl. the
    exact weighted median) evaluates post-drain via the batch fold
    (`documents.emb_norm_audit_from_cells`). Drain == batch
    `emb_norm_audit`, whose oracle it shares."""
    from ..streaming.stream_ops import read_embeddings_stream
    from .documents import emb_norm_audit_from_cells, emb_norm_cells

    emb = read_embeddings_stream(spark, sf_dir)
    snap = run_available_now(
        emb_norm_cells(emb), output_mode="complete"
    )
    return emb_norm_audit_from_cells(snap)


def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session-shape distribution: the incremental
    sessionizer's per-session state (n_events, duration_us) IS the
    per-session table — the drain collapses update rows to final
    states (sessions-bounded) and runs the exact batch rollup
    (`events.session_stats_from_per`). Drain == batch
    `events_session_stats`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from ..streaming.stream_ops import latest_sessions, sessionize_stream
    from .events import session_stats_from_per

    ev = read_events_stream(spark, sf_dir)
    updates = run_available_now(sessionize_stream(ev), output_mode="update")
    per = latest_sessions(updates).select(
        "n_events", F.col("duration_us").alias("dur_us")
    )
    return session_stats_from_per(per)


def stream_shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HRW shard routing: the assignment is a pure function
    of doc_id (S+1 md5 draws + one array argmax), so the streaming
    form is a STATELESS append transform, which is exactly why rendezvous routing works at intake
    time with nothing to checkpoint but offsets. Drain == batch
    `corpus_shard_rendezvous`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from .documents import HRW_SHARDS, _hrw_key

    docs = read_documents_stream(spark, sf_dir)
    doc = F.col("doc_id")
    keys = [_hrw_key(doc, s) for s in range(HRW_SHARDS + 1)]
    best = F.array_max(
        F.array(
            *[
                F.struct(keys[s].alias("k"), F.lit(s).alias("s"))
                for s in range(HRW_SHARDS)
            ]
        )
    )
    routed = docs.select(
        "doc_id",
        best["s"].cast("long").alias("shard"),
        (keys[HRW_SHARDS] > best["k"]).alias("moves_on_scale_out"),
    )
    return run_available_now(routed, output_mode="append")


def stream_dp_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming differentially-private hourly release: the count
    state is the plain (hour, event_type) cell table — bounded by
    calendar × types, mergeable across micro-batches — and the
    Laplace noise is a pure function of the cell key, so the release
    applies post-drain via the exact batch computation
    (`events.dp_release_from_cells`). Drain == batch
    `events_dp_hourly`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from .events import dp_release_from_cells

    ev = read_events_stream(spark, sf_dir)
    cells = (
        ev.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("hour", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    snap = run_available_now(cells, output_mode="complete")
    return dp_release_from_cells(snap)


def stream_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming two-proportion z-test on fast activation: the
    per-user state is TWO mergeable minima accumulated AT INGEST —
    first event ts and first PURCHASE ts (state = users × 2
    timestamps, never stream length, the `stream_dau` bound) — and
    "any purchase within 24 h of the first event" is exactly "the
    EARLIEST purchase is within 24 h", so the conversion bit falls
    out of the drained minima; the four-integer-count z-test then
    evaluates via the exact batch computation
    (`events.conversion_ztest_from_users`). Drain == batch
    `events_conversion_ztest`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from .events import conversion_ztest_from_users

    ev = read_events_stream(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    snap = run_available_now(per_user, output_mode="complete")
    bits = snap.select(
        "user_id",
        F.when(
            F.col("first_purchase").isNotNull()
            & F.expr("first_purchase < first_ts + INTERVAL 24 HOURS"),
            1,
        )
        .otherwise(0)
        .alias("conv"),
    )
    return conversion_ztest_from_users(bits)


def stream_cross_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming held-out LM quality scoring: the (source, is_train,
    term) token counts accumulate AT INGEST — state bounded by the
    corpus VOCABULARY × strata (the content domain, like the
    value-grid class; never stream length) — and the add-one unigram
    cross-entropy evaluates post-drain via the exact batch
    computation (`documents.cross_perplexity_from_cells`). Drain ==
    batch `corpus_cross_perplexity`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from ..functions.hashing import DRAW_MOD, KNUTH, words
    from .documents import SPLIT_TRAIN, cross_perplexity_from_cells

    docs = read_documents_stream(spark, sf_dir)
    draw = ((F.col("doc_id") * KNUTH) % DRAW_MOD) / float(DRAW_MOD)
    cells = (
        docs.select(
            "source",
            (draw < SPLIT_TRAIN).alias("is_train"),
            F.explode(words(F.col("text"))).alias("term"),
        )
        .groupBy("source", "is_train", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    snap = run_available_now(cells, output_mode="complete")
    return cross_perplexity_from_cells(snap)


def stream_dsir_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DSIR importance model: the hashed n-gram feature
    counts accumulate AT INGEST per (source, bucket) — state bounded
    by sources × the FIXED ``DSIR_BUCKETS`` feature space, never
    stream length — and the smoothed log-likelihood-ratio model
    evaluates post-drain via the exact batch computation
    (`documents.dsir_model_from_cells`). Drain == batch
    `corpus_dsir_model`, whose oracle it shares."""
    from pyspark.sql import functions as F

    from .documents import dsir_featurize, dsir_model_from_cells

    docs = read_documents_stream(spark, sf_dir)
    cells = (
        dsir_featurize(docs)
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    snap = run_available_now(cells, output_mode="complete")
    return dsir_model_from_cells(snap)


def stream_kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Kneser–Ney bigram LM: the (w1, w2) pair counts
    accumulate AT INGEST (the `stream_ngrams_topk` vocabulary-bounded
    mergeable count-state class) and the discount/continuation
    smoothing evaluates post-drain via the exact batch computation
    (`documents.kn_from_pair_counts`). Drain == batch
    `corpus_kn_bigram_lm`, whose oracle it shares."""
    from .documents import kn_bigram_counts, kn_from_pair_counts

    docs = read_documents_stream(spark, sf_dir)
    snap = run_available_now(
        kn_bigram_counts(docs), output_mode="complete"
    )
    return kn_from_pair_counts(snap)


def stream_bpe_pair_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming BPE merge census: (term, tf) occurrence counts
    accumulate AT INGEST (the vocabulary-bounded count-state class)
    and the pair explode / symbol totals evaluate post-drain via the
    exact batch computation
    (`documents.bpe_census_from_term_counts`). Drain == batch
    `corpus_bpe_pair_census`, whose oracle it shares."""
    from .documents import bpe_census_from_term_counts, term_counts

    docs = read_documents_stream(spark, sf_dir)
    snap = run_available_now(
        term_counts(docs), output_mode="complete"
    )
    return bpe_census_from_term_counts(snap)


def stream_charclass_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming character-class hygiene monitor: the five per-doc
    counter expressions are a stateless ingest map collapsing into a
    languages-bounded mergeable-sum aggregation (state = langs × 6
    integers), and the share report evaluates post-drain via the
    exact batch computation (`documents.charclass_report`). Drain ==
    batch `doc_charclass_mix`, whose oracle it shares.
    """
    from .documents import charclass_cells, charclass_report

    docs = read_documents_stream(spark, sf_dir)
    snap = run_available_now(
        charclass_cells(docs), output_mode="complete"
    )
    return charclass_report(snap)


def stream_quality_length_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming confounder audit: the per-lang correlation moments
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate AT INGEST — state =
    langs × 6 numbers, the strata-bounded mergeable-moments shape —
    and the per-lang + ALL Pearson rows evaluate post-drain via the
    exact batch computation (`documents.corr_from_moments`). Drain ==
    batch `corpus_quality_length_corr`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from .documents import (
        corr_from_moments,
        corr_moment_aggs,
        quality_score_col,
    )

    docs = read_documents_stream(spark, sf_dir)
    base = docs.select(
        "lang",
        F.col("n_chars").cast("long").alias("x"),
        F.round(quality_score_col() * 10000).cast("long").alias("y"),
    )
    agg = base.groupBy("lang").agg(*corr_moment_aggs())
    g = run_available_now(agg, output_mode="complete")
    return corr_from_moments(g)


def stream_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stratification audit: the lang × source contingency
    cells accumulate AT INGEST (state = the DIMS-bounded L×S cell
    grid — a dimension product, never stream length) and the
    chi²/Cramér's V evaluate post-drain via the exact batch
    computation (`documents.chi2_from_obs`). Drain == batch
    `corpus_chi2_independence`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from .documents import chi2_from_obs

    docs = read_documents_stream(spark, sf_dir)
    agg = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    obs = run_available_now(agg, output_mode="complete")
    return chi2_from_obs(obs)


def stream_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming doc-length histogram: per-bucket count/min/max cells
    accumulate AT INGEST (state bounded by the length range over the
    bucket width — all three aggregates mergeable ⇒ split-invariant)
    and the bucket projection runs post-drain. Drain == batch
    `corpus_token_histogram`, whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from ..functions.text import token_count
    from .documents import TOKEN_HIST_WIDTH, token_hist_report

    docs = read_documents_stream(spark, sf_dir)
    n = token_count(F.col("text")).cast("long")
    cells = docs.select(
        F.floor(n / F.lit(TOKEN_HIST_WIDTH)).cast("long").alias("bucket"),
        n.alias("n_tokens"),
    ).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )
    snap = run_available_now(cells, output_mode="complete")
    return token_hist_report(snap)


def stream_ngrams_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vocabulary sweep: per-shingle document frequencies
    accumulate AT INGEST (within-doc dedup is map-side in
    `doc_shingles`, so the state is the distinct-shingle count table —
    vocab-bounded, mergeable) and the window-free top-K rank scan
    runs post-drain. Drain == batch `corpus_ngrams_topk`, whose
    oracle it shares.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import doc_shingles
    from .documents import ngrams_topk_from_counts

    docs = read_documents_stream(spark, sf_dir)
    counts = doc_shingles(docs).groupBy("s").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    snap = run_available_now(counts, output_mode="complete")
    return ngrams_topk_from_counts(snap)


def stream_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming richness monitor: (source, term) frequencies
    accumulate AT INGEST (vocab×strata-bounded mergeable counts, the
    `stream_cross_perplexity` state class) and the length-invariant
    K/D rollup runs post-drain. Drain == batch `corpus_yule_k`,
    whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from ..functions.hashing import words
    from .documents import yule_from_vocab

    docs = read_documents_stream(spark, sf_dir)
    vocab = docs.select(
        "source", F.explode(words(F.col("text"))).alias("term")
    ).groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    snap = run_available_now(vocab, output_mode="complete")
    return yule_from_vocab(snap)


def stream_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hapax profile: (lang, term) frequencies accumulate
    AT INGEST (vocab×langs-bounded mergeable counts) and the hapax
    rollup runs post-drain. Drain == batch `corpus_hapax`, whose
    oracle it shares.
    """
    from pyspark.sql import functions as F

    from ..functions.hashing import words
    from .documents import hapax_from_vocab

    docs = read_documents_stream(spark, sf_dir)
    lt = docs.select(
        "lang", F.explode(words(F.col("text"))).alias("term")
    ).groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    snap = run_available_now(lt, output_mode="complete")
    return hapax_from_vocab(snap)


def stream_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming token-mass Gini: per-doc token counts are a
    stateless map at ingest and collapse into the counts-of-counts
    histogram (state bounded by MAX DOC LENGTH, never stream length);
    the exact Gini evaluates post-drain via the batch computation
    (`documents.gini_from_hist`). Drain == batch `corpus_token_gini`,
    whose oracle it shares.
    """
    from pyspark.sql import functions as F

    from ..functions.text import token_count
    from .documents import gini_from_hist

    docs = read_documents_stream(spark, sf_dir)
    agg = docs.select(
        token_count(F.col("text")).cast("long").alias("n_tokens")
    ).groupBy("n_tokens").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    hist = run_available_now(agg, output_mode="complete")
    return gini_from_hist(hist)


QUERIES = {
    "stream_dp_hourly": stream_dp_hourly,
    "stream_absorption": stream_absorption,
    "stream_dp_user_total": stream_dp_user_total,
    "stream_shard_rendezvous": stream_shard_rendezvous,
    "stream_token_histogram": stream_token_histogram,
    "stream_ngrams_topk": stream_ngrams_topk,
    "stream_yule_k": stream_yule_k,
    "stream_hapax": stream_hapax,
    "stream_token_gini": stream_token_gini,
    "stream_chi2_independence": stream_chi2_independence,
    "stream_quality_length_corr": stream_quality_length_corr,
    "stream_cross_perplexity": stream_cross_perplexity,
    "stream_dsir_model": stream_dsir_model,
    "stream_kn_bigram_lm": stream_kn_bigram_lm,
    "stream_bpe_pair_census": stream_bpe_pair_census,
    "stream_charclass_mix": stream_charclass_mix,
    "stream_conversion_ztest": stream_conversion_ztest,
    "stream_session_stats": stream_session_stats,
    "stream_forecast_scorecard": stream_forecast_scorecard,
    "stream_ab_design": stream_ab_design,
    "stream_ab_srm": stream_ab_srm,
    "stream_hourly_anomaly": stream_hourly_anomaly,
    "stream_forecast_hourly": stream_forecast_hourly,
    "stream_json_props": stream_json_props,
    "stream_retention_hourly": stream_retention_hourly,
    "stream_user_activity_quantiles":
        stream_user_activity_quantiles,
    "stream_new_vs_returning": stream_new_vs_returning,
    "stream_hourly_profile": stream_hourly_profile,
    "stream_concurrency_curve": stream_concurrency_curve,
    "stream_user_paths": stream_user_paths,
    "stream_type_share_trend": stream_type_share_trend,
    "stream_emb_norm_audit": stream_emb_norm_audit,
    "stream_hour_concentration": stream_hour_concentration,
    "stream_sen_slope": stream_sen_slope,
    "stream_hourly": stream_hourly,
    "stream_sessionize": stream_sessionize,
    "stream_pii_scrub": stream_pii_scrub,
    "stream_doc_tokens": stream_doc_tokens,
    "stream_langid_injection_eval": stream_langid_injection_eval,
    "stream_value_histogram": stream_value_histogram,
    "stream_topk_users": stream_topk_users,
    "stream_mix_report": stream_mix_report,
    "stream_dau": stream_dau,
    "stream_value_quantiles": stream_value_quantiles,
    "stream_latest_state": stream_latest_state,
    "stream_topk_cms": stream_topk_cms,
}

ORACLE = {
    "stream_dp_hourly": _EVENTS_ORACLE["events_dp_hourly"],
    "stream_absorption": _EVENTS_ORACLE["events_absorption"],
    "stream_dp_user_total": _EVENTS_ORACLE["events_dp_user_total"],
    "stream_shard_rendezvous":
        _DOCS_ORACLE["corpus_shard_rendezvous"],
    "stream_forecast_scorecard":
        _EVENTS_ORACLE["events_forecast_scorecard"],
    "stream_ab_design": _EVENTS_ORACLE["events_ab_design"],
    "stream_ab_srm": _EVENTS_ORACLE["events_ab_srm"],
    "stream_hourly_anomaly":
        _EVENTS_ORACLE["events_hourly_anomaly"],
    "stream_forecast_hourly":
        _EVENTS_ORACLE["events_forecast_hourly"],
    "stream_json_props":
        _EVENTS_ORACLE["events_json_props"],
    "stream_retention_hourly":
        _EVENTS_ORACLE["events_retention_hourly"],
    "stream_user_activity_quantiles":
        _EVENTS_ORACLE["events_user_activity_quantiles"],
    "stream_new_vs_returning":
        _EVENTS_ORACLE["events_new_vs_returning"],
    "stream_hourly_profile":
        _EVENTS_ORACLE["events_hourly_profile"],
    "stream_concurrency_curve":
        _EVENTS_ORACLE["events_concurrency_curve"],
    "stream_user_paths": _EVENTS_ORACLE["events_user_paths"],
    "stream_type_share_trend":
        _EVENTS_ORACLE["events_type_share_trend"],
    "stream_emb_norm_audit": _DOCS_ORACLE["emb_norm_audit"],
    "stream_hour_concentration":
        _EVENTS_ORACLE["events_hour_concentration"],
    "stream_sen_slope": _EVENTS_ORACLE["events_sen_slope"],
    "stream_session_stats": _EVENTS_ORACLE["events_session_stats"],
    "stream_conversion_ztest": _EVENTS_ORACLE["events_conversion_ztest"],
    "stream_quality_length_corr": _DOCS_ORACLE["corpus_quality_length_corr"],
    "stream_cross_perplexity": _DOCS_ORACLE["corpus_cross_perplexity"],
    "stream_dsir_model": _DOCS_ORACLE["corpus_dsir_model"],
    "stream_kn_bigram_lm": _DOCS_ORACLE["corpus_kn_bigram_lm"],
    "stream_bpe_pair_census": _DOCS_ORACLE["corpus_bpe_pair_census"],
    "stream_token_histogram":
        _DOCS_ORACLE["corpus_token_histogram"],
    "stream_ngrams_topk": _DOCS_ORACLE["corpus_ngrams_topk"],
    "stream_yule_k": _DOCS_ORACLE["corpus_yule_k"],
    "stream_hapax": _DOCS_ORACLE["corpus_hapax"],
    "stream_charclass_mix": _DOCS_ORACLE["doc_charclass_mix"],
    "stream_chi2_independence": _DOCS_ORACLE["corpus_chi2_independence"],
    "stream_token_gini": _DOCS_ORACLE["corpus_token_gini"],
    "stream_hourly": _EVENTS_ORACLE["events_hourly"],
    "stream_sessionize": _EVENTS_ORACLE["events_sessionize"],
    "stream_pii_scrub": _DOCS_ORACLE["doc_pii_scrub"],
    "stream_doc_tokens": _DOCS_ORACLE["doc_tokens"],
    "stream_langid_injection_eval":
        _DOCS_ORACLE["langid_injection_eval"],
    "stream_value_histogram": _EVENTS_ORACLE["events_value_histogram"],
    "stream_topk_users": _EVENTS_ORACLE["events_topk_users"],
    "stream_mix_report": _DOCS_ORACLE["corpus_mix_report"],
    # same invariant oracle as the batch sketch tier: TRUE per day
    "stream_dau": _EVENTS_ORACLE["events_dau_approx"],
    "stream_value_quantiles": _EVENTS_ORACLE["events_value_quantiles_approx"],
    "stream_latest_state": _DOCS_ORACLE["events_latest_state"],
    # cell-sum mergeability makes the drained sketch equal the batch
    # sketch regardless of micro-batching
    "stream_topk_cms": _EVENTS_ORACLE["events_topk_cms"],
}
