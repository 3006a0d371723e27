"""Event-stream analytics (batch side).

Time comparisons use exact integer microseconds (``unix_micros`` /
DuckDB ``epoch_us``) so both engines agree bit-for-bit — no float
epoch arithmetic.

Scale notes: every query here is a single shuffle on its natural key
(user_id or event_type). Sessionization is the gaps-and-islands window
pattern — one sort-shuffle per user partition, no iteration; the same
semantics run incrementally in streaming/ via applyInPandasWithState.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import quantize, sql_quantize
from ..sources.tables import load_table

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed counts/sums per event type."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events annotated with a per-user session id (30-min gap rule)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    is_new = (
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("is_new")
    )
    return ev.withColumn("is_new", is_new).withColumn(
        "session_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session stats from gap-based sessionization."""
    return (
        sessionized(spark, sf_dir)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .withColumn("duration_us", F.col("end_us") - F.col("start_us"))
    )


def events_concurrency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency gauge: per hour, how many sessions were ACTIVE
    (interval-overlapping the hour) and how many distinct users they
    belonged to — the capacity-planning curve (`events_hourly` counts
    arrivals; an hour with few arrivals can still carry many open
    sessions).

    Scale: sessions come from the shared gap-sessionization (one
    user-keyed sort-shuffle); the interval→hour expansion is a
    sequence-explode bounded by Σ session-duration hours (linear in
    covered time, never sessions × calendar); the rollup is
    hours-bounded. Exact integer microsecond arithmetic.
    """
    sess = events_sessionize(spark, sf_dir)
    return concurrency_from_sessions(sess)


def concurrency_from_sessions(sess: DataFrame) -> DataFrame:
    """The gauge scan over (user_id, start_us, end_us) session rows —
    shared by the batch query and the streaming drain
    (`stream_concurrency_curve` collapses the same sessions at
    ingest)."""
    hours = sess.select(
        "user_id",
        F.explode(
            F.sequence(
                F.expr("start_us div 3600000000"),
                F.expr("end_us div 3600000000"),
            )
        ).alias("th"),
    )
    return (
        hours.groupBy("th")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_active_sessions"),
            F.countDistinct("user_id")
            .cast("long")
            .alias("n_active_users"),
        )
        .select(
            F.expr("timestamp_micros(th * 3600000000)").alias("hour"),
            "n_active_sessions",
            "n_active_users",
        )
    )


def events_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 users by total value within each event type."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 2).alias("user_value")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("user_value").desc(), F.col("user_id")
    )
    return per_user.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= 5
    )


# Count-min sketch (heavy hitters) — the third sketch tier next to
# HyperLogLog (distinct) and the quantile sketch: CMS_D x CMS_W
# counters, mergeable by cell-wise sum, so stream shards / partitions
# combine without ever exchanging per-key state. Hashes are affine
# (a_j*k + b_j) mod p mod w with the key pre-folded into [0, p) so the
# products stay inside int64 for ANY bigint key; every step is integer
# arithmetic both engines reproduce exactly, so the sketch itself is
# value-checked (full parity), not just bound-checked.
CMS_D = 4
CMS_W = 256
CMS_P = 2147483647  # 2^31 - 1
CMS_A = (1299721, 15485863, 32452843, 49979687)
CMS_B = (7, 11, 13, 17)
CMS_TOPK = 10


def _cms_col(j: int, key: F.Column) -> F.Column:
    folded = key % F.lit(CMS_P)
    return (
        (F.lit(CMS_A[j]) * folded + F.lit(CMS_B[j])) % F.lit(CMS_P)
    ) % F.lit(CMS_W)


def cms_hashed(ev: DataFrame) -> DataFrame:
    """(user_id, h0..h{d-1}) — the per-event hash columns (pure narrow
    map; shared by the batch build, the probe, and the stream build)."""
    return ev.select(
        "user_id",
        *[_cms_col(j, F.col("user_id")).alias(f"h{j}") for j in range(CMS_D)],
    )


def _cms_stack_expr() -> str:
    return "stack({}, {}) AS (r, c)".format(
        CMS_D, ", ".join(f"{j}, h{j}" for j in range(CMS_D))
    )


def cms_cells(hashed: DataFrame) -> DataFrame:
    """(r, c, n) sketch cells — a map-side partial agg collapsing every
    task to <= d*w cells before the shuffle; cells merge by sum, so
    shards / micro-batches combine with d*w-integer state."""
    return (
        hashed.selectExpr(_cms_stack_expr())
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_topk_probe(hashed: DataFrame, cells: DataFrame) -> DataFrame:
    """Estimate per key (min over the d probed cells), exact audit
    count, the est >= true guarantee, and the deterministic top-k."""
    users = hashed.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("true_n"),
        *[F.first(f"h{j}").alias(f"h{j}") for j in range(CMS_D)],
    )
    probes = users.selectExpr("user_id", "true_n", _cms_stack_expr())
    ests = (
        probes.join(F.broadcast(cells), ["r", "c"])
        .groupBy("user_id", "true_n")
        .agg(F.min("n").alias("est"))
    )
    return (
        ests.select(
            "user_id",
            "est",
            "true_n",
            (F.col("est") >= F.col("true_n")).alias("overestimate_ok"),
        )
        .orderBy(F.col("est").desc(), F.col("user_id"))
        .limit(CMS_TOPK)
    )


def events_topk_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters: top-10 users by event count from a
    count-min sketch, with the exact count and the CMS guarantee
    (estimate >= true, always) emitted per row.

    Scale: the sketch build is a map-side partial agg that collapses
    every task to <= d*w cells before the shuffle — state is d*w
    integers regardless of key cardinality or event volume, and cells
    merge by sum (shards/streams combine for free). The estimate probe
    joins the d-row-per-key hash table against the tiny cell table
    (broadcast). The exact column is the audit baseline a production
    run would drop.
    """
    hashed = cms_hashed(load_table(spark, sf_dir, "events").select("user_id"))
    return cms_topk_probe(hashed, cms_cells(hashed))


PATHS_TOPK = 20


def events_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral transition bigrams: for each user's time-ordered
    event sequence, count (prev_type -> next_type) transitions
    corpus-wide and keep the top-20 — the funnel-discovery /
    Markov-chain input of product analytics.

    Scale: ONE sort-shuffle on the user_id natural key (the same
    partitioning sessionization uses — at 100 TB these share a
    repartition), then a partial-agged pair count and a
    TakeOrderedAndProject top-k (per-partition top-K, K-row merge —
    no global sort).
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.withColumn("src", F.lag("event_type").over(w))
        .filter(F.col("src").isNotNull())
        .groupBy("src", F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.orderBy(
        F.col("n").desc(), F.col("src"), F.col("dst")
    ).limit(PATHS_TOPK)


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract the JSON ``k`` prop and aggregate it per event type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_QUANTILES = [0.25, 0.5, 0.9, 0.99]


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles of value per event type.

    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    linear-interpolation definition, so this is value-oracle-checked.
    It materializes per-group sorted values; for the 100 TB hot path
    use ``events_value_quantiles_approx`` (bounded-memory sketch).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 4).alias(
                f"p{str(q).replace('0.', '')}"
            )
            for q in _QUANTILES
        ],
        F.count(F.lit(1)).alias("n_events"),
    )


QUANTILE_ACCURACY = 10000


def events_value_quantiles_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type value quantiles — the SCALE variant.

    ``approx_percentile`` builds a bounded-size sketch per partition
    and merges map-side, so no per-group full sort ever materializes;
    memory is O(1/accuracy) per group regardless of corpus size.

    VALUE-checked like the DAU sketch tier: the sketch element itself
    has no SQL twin (merge order is engine-specific), so the catalog
    emits the exact quantiles plus a ``sketch_within_rank_tol``
    invariant — each sketch element's true rank lies within
    n/accuracy + 1 of the target rank (approx_percentile's advertised
    bound plus element granularity) — that the oracle reproduces as
    literal TRUE. The rank check joins the k-row sketch table back as
    a broadcast; one extra scan, no extra shuffle of event rows.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 4).alias(
                f"p{str(q).replace('0.', '')}"
            )
            for q in _QUANTILES
        ],
        *[
            F.expr(
                f"approx_percentile(value, {q}, {QUANTILE_ACCURACY})"
            ).alias(f"a{i}")
            for i, q in enumerate(_QUANTILES)
        ],
        F.count(F.lit(1)).alias("n_events"),
    )
    ranks = (
        ev.select("event_type", "value")
        .join(F.broadcast(agg), "event_type")
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
    return agg.join(ranks, "event_type").select(
        "event_type",
        *[f"p{str(q).replace('0.', '')}" for q in _QUANTILES],
        "n_events",
        within.alias("sketch_within_rank_tol"),
    )


HIST_WIDTH = 50.0


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type — one partial-agg
    groupBy on (event_type, bucket); bucket count is bounded by the
    value range, not the event count, so the result stays tiny at any
    scale."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / F.lit(HIST_WIDTH)).cast("long")
    return (
        ev.withColumn("bucket", bucket)
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )


ANOMALY_TRAIL = 24  # trailing hours in the baseline window


def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly volume anomaly score: each hour's event count
    vs the mean/stddev of the PRIOR 24 hourly counts (z-score).

    Scale: the windows run over the per-(type, hour) aggregate — a few
    thousand rows per year per type, not raw events — partitioned by
    event_type, so no global sort and the expensive input was already
    reduced by the partial agg.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return trailing_anomaly_from_hourly(hourly)


def trailing_anomaly_from_hourly(hourly: DataFrame) -> DataFrame:
    """The trailing-window z-screen over (event_type, hour, n_events)
    cells — shared by the batch query and the streaming drain
    (`stream_hourly_anomaly` accumulates the same tumbling state at
    ingest)."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-ANOMALY_TRAIL, -1)
    )
    base_avg = F.avg("n_events").over(w)
    base_std = F.stddev_samp("n_events").over(w)
    return (
        hourly.withColumn("baseline_avg", quantize(base_avg, 4))
        .withColumn(
            "z_score",
            F.when(
                base_std > 0,
                quantize((F.col("n_events") - base_avg) / base_std, 4),
            ),
        )
        .select("event_type", "hour", "n_events", "baseline_avg", "z_score")
    )


def events_retention_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-over-hour cohort retention: share of an hour's active users
    who are active again the next hour.

    Scale: distinct (hour, user) pairs shuffle once on user — the
    self-join key — and the per-hour counts are tiny partial aggs.
    """
    ev = load_table(spark, sf_dir, "events")
    hu = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "user_id"
    ).distinct()
    return retention_from_pairs(hu)


def retention_from_pairs(hu: DataFrame) -> DataFrame:
    """The hour-over-hour retention scan over distinct (hour,
    user_id) pairs — shared by the batch query and the streaming
    drain (`stream_retention_hourly` dedups to the same pairs at
    ingest)."""
    # keys rename on the self-lineage join (drained-relation rule)
    nxt = hu.select(
        (F.col("hour") - F.expr("INTERVAL 1 HOUR")).alias("hour_n"),
        F.col("user_id").alias("uid_n"),
    )
    cohort = hu.select(
        F.col("hour").alias("hour_c"), F.col("user_id").alias("uid_c")
    ).groupBy(F.col("hour_c").alias("hour")).agg(
        F.count(F.lit(1)).alias("n_users")
    )
    retained = (
        hu.join(
            nxt,
            (F.col("hour") == F.col("hour_n"))
            & (F.col("user_id") == F.col("uid_n")),
        )
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    return (
        cohort.join(retained, "hour", "left")
        .withColumn("n_retained", F.coalesce("n_retained", F.lit(0)))
        .withColumn(
            "retention_rate",
            quantize(F.col("n_retained") / F.col("n_users"), 4),
        )
    )


def events_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users (exact distinct count) per day.

    Scale: count_distinct is two-phase — (day, user) partial-distinct
    map-side, then per-day counts. Exact is the oracle-checked tier;
    ``events_dau_approx`` is the one-pass mergeable-sketch tier for
    100 TB dashboards.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count_distinct("user_id").alias("dau"),
        F.count(F.lit(1)).alias("n_events"),
    )


DAU_RSD = 0.02


def events_dau_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU via HyperLogLog++ (``approx_count_distinct``, rsd=2%) — the
    sketch tier: one pass, fixed-size mergeable state per day, no
    (day, user) expansion.

    VALUE-checked, not just rows-only: the sketch estimate itself has
    no SQL twin, so the catalog emits the exact DAU plus a
    ``sketch_within_3rsd`` invariant column — |estimate − exact| ≤
    3·rsd·exact — that the DuckDB oracle reproduces as literal TRUE.
    A hash match therefore certifies the sketch landed inside its
    advertised error bound on every day (the raw estimate stays
    available from the aggregation for composition). Computing both
    tiers in one agg is deliberate — this is the certification query;
    the 100 TB dashboard path runs the sketch alone.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.count_distinct("user_id").alias("dau"),
        F.approx_count_distinct("user_id", rsd=DAU_RSD).alias("dau_approx"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "day",
        "dau",
        "n_events",
        (
            F.abs(F.col("dau_approx") - F.col("dau"))
            <= 3 * DAU_RSD * F.col("dau")
        ).alias("sketch_within_3rsd"),
    )


QTE_QS = (0.25, 0.5, 0.75, 0.9)


def events_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile treatment effects: the treated-vs-control difference
    at several quantiles of the value distribution — where in the
    distribution the effect lives (a mean shift, a tail effect, or a
    median move), the distributional readout a single mean can't
    give.

    Scale: interpolated percentiles are a fixed-size sketch-style
    aggregate per arm (one pass, no global sort shipped to one task);
    output is |Q| rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2 == 0).alias("treat"), F.col("value")
    )
    aggs = []
    for i, q in enumerate(QTE_QS):
        aggs.append(
            F.expr(
                f"percentile(CASE WHEN treat THEN value END, {q!r})"
            ).alias(f"qt_{i}")
        )
        aggs.append(
            F.expr(
                f"percentile(CASE WHEN NOT treat THEN value END, {q!r})"
            ).alias(f"qc_{i}")
        )
    row = ev.agg(*aggs)
    per_q = [
        row.select(
            F.lit(q).alias("q"),
            quantize(F.col(f"qt_{i}"), 4).alias("q_treat"),
            quantize(F.col(f"qc_{i}"), 4).alias("q_ctrl"),
            quantize(F.col(f"qt_{i}") - F.col(f"qc_{i}"), 4).alias(
                "qte"
            ),
        )
        for i, q in enumerate(QTE_QS)
    ]
    out = per_q[0]
    for frame in per_q[1:]:
        out = out.unionByName(frame)
    return out


ABSORB_TARGET = "purchase"
ABSORB_TOL = 1e-12


def absorb_probs(counts, target_idx):
    """Pure solver: minimal fixed point of h = Qh + r over a K×K
    transition-count matrix (init 0, so unreachable-target states get
    exactly 0). Dangling rows keep P=0 — a state with no observed
    exits never reaches the target. Returns (h, residual_ok)."""
    import numpy as np

    k = counts.shape[0]
    out = counts.sum(axis=1)
    P = counts / np.where(out[:, None] > 0, out[:, None], 1.0)
    h = np.zeros(k)
    if target_idx is None:
        return h, True
    Q = P.copy()
    r_vec = P[:, target_idx].copy()
    Q[:, target_idx] = 0.0
    Q[target_idx, :] = 0.0
    r_vec[target_idx] = 0.0
    for _ in range(100_000):
        nxt = Q @ h + r_vec
        nxt[target_idx] = 1.0
        if np.abs(nxt - h).max() < ABSORB_TOL:
            h = nxt
            break
        h = nxt
    resid = Q @ h + r_vec
    resid[target_idx] = 1.0
    return h, bool(np.abs(resid - h).max() <= 1e-9)


def absorption_from_pairs(pairs: DataFrame) -> DataFrame:
    """Absorption probabilities of the user-behavior Markov chain:
    for each event type, the probability a walk started there
    eventually reaches the absorbing ``purchase`` state — the
    funnel-free "from where do you still convert" readout.

    K²-bounded plan: the corpus-sized
    work is the transition-count agg; the matrix is type² cells (a
    1-matrix driver decision), and h = Qh + r iterates to the
    MINIMAL fixed point (init 0), which is the absorption
    probability even when some states can never reach the target.
    Catalog emits the exact outgoing-count (SQL twin) plus the
    bounds/fixed-point invariants as literal booleans; the h values
    themselves are numpy-pinned in unit tests.
    """
    import numpy as np

    spark = pairs.sparkSession
    cells = pairs.collect()  # K^2 rows — bounded by type cardinality
    types = sorted({r["src"] for r in cells} | {r["dst"] for r in cells})
    idx = {t: i for i, t in enumerate(types)}
    k = len(types)
    counts = np.zeros((k, k))
    for r in cells:
        counts[idx[r["src"]], idx[r["dst"]]] = r["n"]
    out = counts.sum(axis=1)
    h, residual_ok = absorb_probs(counts, idx.get(ABSORB_TARGET))
    bounds_ok = bool((h >= 0.0).all() and (h <= 1.0 + 1e-12).all())
    rows = [
        (t, int(out[idx[t]]), residual_ok, bounds_ok) for t in types
    ]
    return spark.createDataFrame(
        rows,
        "event_type string, n_out long, absorb_fixed_point_ok boolean,"
        " bounds_ok boolean",
    )


def events_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov absorption probabilities into `purchase` per event type.
    See `absorption_from_pairs`."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.withColumn("src", F.lag("event_type").over(w))
        .filter(F.col("src").isNotNull())
        .groupBy("src", F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return absorption_from_pairs(pairs)


DP_USER_CLIP = 20  # max events any one user contributes per type
DP_USER_EPS = 1.0


def dp_user_release_from_counts(per_user: DataFrame) -> DataFrame:
    """USER-level-DP total release over per-(user, type) counts:
    clip each user's contribution at ``DP_USER_CLIP``, sum per type,
    add Laplace(clip/eps) noise — the privacy unit is the USER (one
    user's complete removal shifts a type total by ≤ clip), the
    semantics an LLM training pipeline needs when documents/events
    group by author. Complements `events_dp_hourly` (event-level
    unit, sensitivity 1). Noise is the same deterministic md5-keyed
    inverse-CDF draw, so the release replays in the SQL twin.

    Scale: the per-user clip is a (user, type) partial agg; the type
    fold and the noise are bounded by type cardinality."""
    clipped = per_user.select(
        "event_type",
        F.least(F.col("n"), F.lit(DP_USER_CLIP)).alias("cn"),
    )
    totals = clipped.groupBy("event_type").agg(
        F.sum("cn").cast("long").alias("total")
    )
    key = F.concat(F.lit("dpu|"), F.col("event_type"))
    noise = dp_noise_col(key, eps=DP_USER_EPS / DP_USER_CLIP)
    return totals.select(
        "event_type",
        F.greatest(F.lit(0), F.col("total") + noise)
        .cast("long")
        .alias("dp_total"),
        F.lit(DP_USER_EPS).alias("epsilon"),
        F.lit(DP_USER_CLIP).cast("long").alias("clip"),
    )


def events_dp_user_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level-DP event totals per type (contribution clipping +
    Laplace(clip/eps)). See `dp_user_release_from_counts`."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return dp_user_release_from_counts(per_user)


def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: per day, how many active users are NEW
    (first-ever activity) vs returning — the companion to the DAU
    tier that splits it by acquisition.

    Scale: first-seen day per user = one user-keyed partial agg; the
    (day, user) distinct activity joins it back on the user key
    (co-partitioned, AQE-decided) and the final agg is day-bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    du = ev.select(day, "user_id").distinct()
    return new_vs_returning_from_pairs(du)


def new_vs_returning_from_pairs(du: DataFrame) -> DataFrame:
    """The acquisition split over distinct (day, user_id) pairs —
    shared by the batch query and the streaming drain
    (`stream_new_vs_returning` dedups to the same pairs at ingest)."""
    # keys rename on the self-lineage join (drained-relation rule)
    first = du.select(
        F.col("user_id").alias("uid_f"), F.col("day").alias("day_f")
    ).groupBy("uid_f").agg(F.min("day_f").alias("first_day"))
    return (
        du.join(first, F.col("user_id") == F.col("uid_f"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dau"),
            F.sum((F.col("day") == F.col("first_day")).cast("long"))
            .cast("long")
            .alias("n_new"),
            F.sum((F.col("day") != F.col("first_day")).cast("long"))
            .cast("long")
            .alias("n_returning"),
        )
    )


def events_user_activity_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-entity activity distribution: exact p50/p90/p99 of
    events-per-user (the power-law report capacity planning and bot
    thresholds read). Complements `events_value_quantiles` (value
    dimension) with the ENTITY dimension.

    Scale: the per-user counts are one user-keyed partial agg (rows =
    active users); the global quantiles then sort a counts table
    bounded by entities, not events — and the approx sketch drops in
    for the 100 TB path exactly as in the value tier.
    """
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    return activity_quantiles_from_counts(per)


def activity_quantiles_from_counts(per: DataFrame) -> DataFrame:
    """The entity-quantile scan over (user_id, n) counts — shared by
    the batch query and the streaming drain
    (`stream_user_activity_quantiles` accumulates the same
    entity-bounded counters at ingest)."""
    return per.agg(
        F.round(F.expr("percentile(n, 0.5)"), 4).alias("p5"),
        F.round(F.expr("percentile(n, 0.9)"), 4).alias("p9"),
        F.round(F.expr("percentile(n, 0.99)"), 4).alias("p99"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n").cast("long").alias("n_events"),
    )


def events_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: mean events in
    each of the 24 clock hours across the observed days (the
    capacity/scheduling view `events_hourly`'s raw timeline feeds).

    Scale: aggregates the per-(type, calendar-hour) AGGREGATE, not raw
    events twice — one partial agg to the hourly timeline (bounded by
    types × observed hours), then a 24×types-bounded profile agg with
    an exact integer-sum mean (single division).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    return profile_from_hourly(hourly)


def profile_from_hourly(hourly: DataFrame) -> DataFrame:
    """The seasonality profile over (hour, event_type, n) cells —
    shared by the batch query and the streaming drain
    (`stream_hourly_profile` accumulates the same tumbling state at
    ingest)."""
    return (
        hourly.groupBy(
            F.hour("hour").cast("long").alias("hour_of_day"),
            "event_type",
        )
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            quantize(
                F.sum("n").cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_per_hour"),
        )
    )


def events_type_share_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-mix trend: per (day, type), the count and its share
    of that day's volume — the drift view that catches a product
    change or instrumentation regression shifting the mix.

    Scale: one (day, type) partial agg; the per-day totals come from a
    second day-keyed agg joined back (day-bounded, broadcastable);
    shares are exact-integer counts with a single division.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    per = ev.groupBy(day, "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    return type_share_from_cells(per)


def type_share_from_cells(per: DataFrame) -> DataFrame:
    """The mix-trend scan over (day, event_type, n_events) cells —
    shared by the batch query and the streaming drain
    (`stream_type_share_trend` accumulates the same calendar-bounded
    cells at ingest)."""
    # keys rename on the self-lineage join so a drained streaming
    # relation (duplicate attribute ids) resolves cleanly
    tot = per.select(
        F.col("day").alias("day_t"),
        F.col("n_events").alias("ne_t"),
    ).groupBy("day_t").agg(F.sum("ne_t").alias("day_total"))
    return (
        per.join(F.broadcast(tot), F.col("day") == F.col("day_t"))
        .select(
            "day",
            "event_type",
            "n_events",
            quantize(
                F.col("n_events").cast("double") / F.col("day_total"),
                6,
            ).alias("share"),
        )
    )


def events_forecast_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecasting backtest: forecast the LAST observed
    day's hourly event counts from the hour-of-day means of all prior
    days, and report per-hour forecast vs actual with absolute error
    — the capacity-planning baseline every fancier model must beat.

    Scale: two hour-of-day partial aggs (bounded by 24 rows each) off
    one scan split by a 1-row max-day broadcast; the distinct-day
    count is a second 1-row broadcast; the hod-keyed full-outer join
    touches <= 24 rows per side. Zero-count hours coalesce to 0 so
    the backtest can't silently skip quiet hours.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.hour("ts").cast("bigint").alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return forecast_from_cells(cells)


def forecast_from_cells(cells: DataFrame) -> DataFrame:
    """The seasonal-naive backtest over (day, hour_of_day, cnt)
    cells — shared by the batch query and the streaming drain
    (`stream_forecast_hourly` accumulates the same calendar-bounded
    cells at ingest)."""
    # keys rename on the self-lineage joins (drained-relation rule)
    mx = cells.select(F.col("day").alias("day_m")).agg(
        F.max("day_m").alias("maxd")
    )
    evx = cells.crossJoin(F.broadcast(mx))
    train = evx.filter(F.col("day") < F.col("maxd"))
    test = evx.filter(F.col("day") == F.col("maxd"))
    nd = train.select(F.col("day").alias("day_n")).agg(
        F.countDistinct("day_n").cast("long").alias("n_train_days")
    )
    t1 = train.groupBy("hour_of_day").agg(
        F.sum("cnt").cast("long").alias("n_train")
    )
    a1 = test.select(
        F.col("hour_of_day").alias("hod_a"), F.col("cnt").alias("cnt_a")
    ).groupBy(F.col("hod_a").alias("hour_of_day")).agg(
        F.sum("cnt_a").cast("long").alias("actual")
    )
    fc = F.col("n_train").cast("double") / F.col("n_train_days")
    return (
        t1.join(a1, "hour_of_day", "full_outer")
        .crossJoin(F.broadcast(nd))
        .select(
            "hour_of_day",
            "n_train_days",
            F.coalesce("n_train", F.lit(0)).cast("long").alias("n_train"),
            F.coalesce("actual", F.lit(0)).cast("long").alias("actual"),
            quantize(F.coalesce(fc, F.lit(0.0)), 4).alias("forecast"),
            quantize(
                F.abs(
                    F.coalesce("actual", F.lit(0)).cast("double")
                    - F.coalesce(fc, F.lit(0.0))
                ),
                4,
            ).alias("abs_err"),
        )
    )


def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shape distribution: sessions counted and their
    length (events) and duration (seconds) summarized at exact
    p50/p90 — the engagement-depth report over the 30-min-gap
    sessionization (`events_sessionize` labels events; this
    distills the per-visit shape the product team tracks).

    Scale: reuses the sessionized user-keyed sort-shuffle; per-session
    aggregates are one (user, session) partial agg; the distribution
    rollup is one row via the shared linear-interpolation percentile
    parity; durations are exact integer microseconds until the final
    /1e6.
    """
    sz = sessionized(spark, sf_dir).select(
        "user_id", "session_id", "ts_us"
    )
    per = sz.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("dur_us"),
    )
    return session_stats_from_per(per)


def session_stats_from_per(per: DataFrame) -> DataFrame:
    """The distribution rollup over a per-session (n_events, dur_us)
    table — shared by the batch query and the streaming drain
    (`stream_session_stats` gets the same per-session pairs from the
    incremental sessionizer's state)."""
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.round(F.expr("percentile(n_events, 0.5)"), 2).alias(
            "p50_events"
        ),
        F.round(F.expr("percentile(n_events, 0.9)"), 2).alias(
            "p90_events"
        ),
        F.round(
            F.expr("percentile(dur_us, 0.5)") / 1000000.0, 3
        ).alias("p50_duration_s"),
        F.round(
            F.expr("percentile(dur_us, 0.9)") / 1000000.0, 3
        ).alias("p90_duration_s"),
        F.sum((F.col("n_events") == 1).cast("int"))
        .cast("long")
        .alias("n_bounce_sessions"),
    )


def events_forecast_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast model scorecard: the one-row evaluation of the
    seasonal-naive backtest (`events_forecast_hourly`) — MAE, MAPE
    (over non-zero actual hours), signed bias, and worst hour — the
    summary a capacity-planning review reads before trusting (or
    replacing) the baseline model.

    Scale: composes the ≤24-row backtest table; the scorecard is one
    more tiny aggregate — error sums run over grid-quantized values.
    """
    fc = events_forecast_hourly(spark, sf_dir)
    return scorecard_from_backtest(fc)


def scorecard_from_backtest(fc: DataFrame) -> DataFrame:
    """The one-row scorecard over the ≤24-row backtest table — shared
    by the batch query and the streaming drain
    (`stream_forecast_scorecard` composes `stream_forecast_hourly`)."""
    return fc.agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.max("n_train_days").alias("n_train_days"),
        quantize(F.avg("abs_err"), 4).alias("mae"),
        quantize(
            F.avg(
                F.when(
                    F.col("actual") > 0,
                    F.col("abs_err") / F.col("actual"),
                )
            ),
            6,
        ).alias("mape_nonzero"),
        quantize(
            F.avg(F.col("forecast") - F.col("actual")), 4
        ).alias("bias"),
        quantize(F.max("abs_err"), 4).alias("worst_abs_err"),
    )


Z_CRIT_95 = 1.96  # two-sided normal 95% critical value


def events_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen slope of the hourly event-count series: the median
    of all pairwise slopes (events/hour per hour), with the median-
    based intercept — the robust trend MAGNITUDE ("how steep?"),
    immune to the outliers that wreck an OLS fit.

    Scale: the series is calendar-bounded (hours, not events), so the
    pair set is hours² — one broadcast self-join; slopes
    are exact-integer ratios (count delta over integer hour delta),
    so both engines derive identical doubles, and the median is one
    exact percentile over the bounded pair set. At decade-long grids
    (~26k hours → 3·10⁸ pairs) switch to the per-window Sen variant;
    the monthly re-aggregation keeps the same shape.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return sen_from_hourly(hourly)


def sen_from_hourly(hourly: DataFrame) -> DataFrame:
    """The Theil–Sen computation over an (hour, n) series — shared by
    the batch query and the streaming drain (`stream_sen_slope`
    accumulates the same hours-bounded tumbling state at ingest)."""
    hourly = hourly.select(
        (F.unix_micros(F.col("hour")) / F.lit(3600000000)).cast(
            "long"
        ).alias("t"),
        F.col("n").cast("long").alias("n"),
    )
    a = hourly.select(F.col("t").alias("ta"), F.col("n").alias("na"))
    b = hourly.select(F.col("t").alias("tb"), F.col("n").alias("nb"))
    slopes = a.join(F.broadcast(b), F.col("ta") < F.col("tb")).select(
        (
            (F.col("nb") - F.col("na")).cast("double")
            / (F.col("tb") - F.col("ta")).cast("double")
        ).alias("slope")
    )
    med = slopes.agg(
        F.expr("percentile(slope, 0.5)").alias("sen_slope"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    # median-based intercept: median(n_i − slope·t_i) over the series
    resid = hourly.crossJoin(F.broadcast(med)).select(
        "sen_slope",
        "n_pairs",
        (
            F.col("n").cast("double")
            - F.col("sen_slope") * F.col("t").cast("double")
        ).alias("r"),
    )
    return resid.groupBy("sen_slope", "n_pairs").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.expr("percentile(r, 0.5)").alias("icept_raw"),
    ).select(
        "n_hours",
        "n_pairs",
        quantize(F.col("sen_slope"), 6).alias("sen_slope"),
        quantize(F.col("icept_raw"), 4).alias("sen_intercept"),
    )


def events_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user-level FAST ACTIVATION between
    the two deterministic experiment arms (user_id parity split — the
    same hash-style assignment an A/B platform uses): did arm A's
    share of users who purchase within 24 h of their first event
    differ from arm B's?  Conversion RATES are Bernoulli, where the
    pooled-variance z-test, not the t-test, is the textbook
    primitive. (Lifetime "ever purchased" saturates at 100% on this
    corpus — se² = 0, no test — hence the windowed activation metric.)

    Scale: one user-hash shuffle serves both the first-event window
    and the per-user conversion agg (same key, no second exchange;
    users-bounded, map-side combined), then ONE global aggregate
    yields the four integer counts the whole test derives from — both
    engines compute identical doubles from identical integers, so the
    hash compare is exact.
    """
    return conversion_ztest_from_users(
        conv_users_of(load_table(spark, sf_dir, "events"))
    )


def conv_users_of(ev: DataFrame) -> DataFrame:
    """Per-user 24h-activation bits over any events relation — shared
    by the batch query and the experiment-readout hub."""
    wu = Window.partitionBy("user_id")
    return (
        ev.withColumn("first_ts", F.min("ts").over(wu))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & F.expr("ts < first_ts + INTERVAL 24 HOURS"),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
    )


def conversion_ztest_from_users(per_user: DataFrame) -> DataFrame:
    """The z-test over a (user_id, conv) table — shared by the batch
    query and the streaming drain (`stream_conversion_ztest`
    accumulates the same users-bounded conversion bits at ingest)."""
    is_a = F.col("user_id") % 2 == 0
    stats = per_user.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(is_a, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x_a"),
        F.sum(F.when(is_a, 0).otherwise(1)).cast("long").alias("n_b"),
        F.sum(F.when(is_a, 0).otherwise(F.col("conv")))
        .cast("long")
        .alias("x_b"),
    )
    p_a = F.col("x_a").cast("double") / F.col("n_a")
    p_b = F.col("x_b").cast("double") / F.col("n_b")
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se2 = (
        pool
        * (1 - pool)
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    z = (p_a - p_b) / F.sqrt(se2)
    # nested guards keep ANSI mode from dividing by zero: outer
    # gates the arm sizes, inner the pooled variance
    sizes_ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)

    def guarded(col: Column) -> Column:
        return F.when(sizes_ok, F.when(se2 > 0, col))

    return stats.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        F.when(F.col("n_a") > 0, quantize(p_a, 6)).alias("p_a"),
        F.when(F.col("n_b") > 0, quantize(p_b, 6)).alias("p_b"),
        guarded(quantize(z, 4)).alias("z_stat"),
        guarded(F.abs(quantize(z, 4)) > Z_CRIT_95).alias(
            "significant_95"
        ),
    )


def events_ab_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-design readout for the conversion A/B: given the
    arms' observed sizes and pooled conversion rate, the minimum
    detectable effect at 95% confidence / 80% power — MDE =
    (z_α/2 + z_β)·√(p̄(1−p̄)(1/n_a + 1/n_b)) — in absolute and
    relative terms. The answer to "was this experiment even big
    enough to see the lift we care about?", computed from the same
    four integer counts as `events_conversion_ztest`.

    Scale: composes the z-test's 1-row count table; pure closed-form
    doubles after that.
    """
    base = events_conversion_ztest(spark, sf_dir)
    return ab_design_from_counts(base)


def ab_design_from_counts(base: DataFrame) -> DataFrame:
    """The MDE readout over the z-test's 1-row count table — shared
    by the batch query and the streaming drain (`stream_ab_design`
    composes `stream_conversion_ztest`'s drained counts)."""
    pool = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    mde = F.lit(1.96 + 0.8416) * F.sqrt(
        pool
        * (1 - pool)
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    sizes_ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return base.select(
        "n_a",
        "n_b",
        F.when(sizes_ok, quantize(pool, 6)).alias("pooled_rate"),
        F.when(sizes_ok, quantize(mde, 6)).alias("mde_abs"),
        F.when(
            sizes_ok, F.when(pool > 0, quantize(mde / pool, 6))
        ).alias("mde_rel"),
    )


def events_ab_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check for the user-parity A/B assignment:
    χ²(1) of the observed arm sizes against the designed 50/50 split
    — THE first gate of any experiment readout (an SRM means the
    assignment or logging is broken, and every downstream test,
    including `events_conversion_ztest`, is invalid regardless of its
    p-value).

    Scale: one distinct-user count per arm (user-keyed partial agg),
    then closed-form doubles from two integers.
    """
    ev = load_table(spark, sf_dir, "events")
    return srm_from_users(ev.select("user_id").distinct())


def srm_from_users(users: DataFrame) -> DataFrame:
    """The χ²(1) parity check over distinct users — shared by the
    batch query and the streaming drain (`stream_ab_srm` dedups to
    the same user set at ingest)."""
    arms = users.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("user_id") % 2 == 0, 0).otherwise(1))
        .cast("long")
        .alias("n_b"),
    )
    n = (F.col("n_a") + F.col("n_b")).cast("double")
    exp = n / 2.0
    chi2 = (
        (F.col("n_a") - exp) * (F.col("n_a") - exp) / exp
        + (F.col("n_b") - exp) * (F.col("n_b") - exp) / exp
    )
    ok = F.col("n_a") + F.col("n_b") > 0
    return arms.select(
        "n_a",
        "n_b",
        F.when(ok, quantize(chi2, 4)).alias("srm_chi2"),
        F.when(ok, quantize(chi2, 4) > 3.841).alias("srm_detected"),
    )


def events_hour_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day concentration per event type: how lumpy is the
    diurnal profile?  Emits the active hour-of-day count, the peak
    hour (ties broken toward the earliest hour — deterministic), its
    traffic share, and the Shannon entropy (bits) of the 24-bin
    distribution.  Flat 24/7 feeds → entropy ≈ log2(24) ≈ 4.585;
    batch-job feeds that fire at one fixed hour → ≈ 0.

    Scale: (type, hod) partial agg — ≤ 24·|types| rows — then a
    types-bounded final agg.  The argmax is the integer-packed
    ``cnt*100 − hod`` trick so the tiebreak is exact on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    hist = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    return hour_concentration_from_hist(hist)


def hour_concentration_from_hist(hist: DataFrame) -> DataFrame:
    """The concentration summary over a (event_type, hod, cnt)
    histogram — shared by the batch query and the streaming drain
    (`stream_hour_concentration` re-bins its ingest-time hourly
    state to the same histogram)."""
    per = hist.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("active_hods"),
        F.sum("cnt").cast("long").alias("total"),
        F.max(F.col("cnt") * 100 - F.col("hod"))
        .cast("long")
        .alias("pk"),
        F.sum(
            F.col("cnt").cast("double")
            * F.log2(F.col("cnt").cast("double"))
        ).alias("slg"),
    )
    peak_cnt = F.expr("(pk + 99) div 100")
    tot = F.col("total").cast("double")
    return per.select(
        "event_type",
        "active_hods",
        (peak_cnt * 100 - F.col("pk")).cast("long").alias("peak_hod"),
        quantize(peak_cnt.cast("double") / tot, 6).alias("peak_share"),
        quantize(
            F.log2(tot) - F.col("slg") / tot, 6
        ).alias("hod_entropy"),
    )


DP_EPSILON = 1.0
# inverse-CDF Laplace from a 32-bit md5-derived uniform: |noise| <=
# (1/eps) * ln(2^32) ~ 22 at eps=1 — the release's worst-case shift
DP_U_SCALE = 4294967296.0  # 2^32


def dp_noise_col(key: Column, eps: float = DP_EPSILON) -> Column:
    """Deterministic integer Laplace noise from an md5-keyed uniform
    (inverse CDF, rounded half-up to the integer grid — the classic
    DP count release emits whole counts). md5 is the one hash both
    engines evaluate identically (``conv(substr(md5, 1, 8), 16, 10)``
    == DuckDB ``CAST('0x' || substr(md5, 1, 8) AS BIGINT)``), so the
    "random" draw is a pure function of the cell key and replays
    bit-for-bit in the SQL twin. The only cross-engine float risk is
    one ln() ulp landing exactly on a .5 rounding boundary —
    measure-zero on the 2^32 grid.
    """
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double")
    u = (h + F.lit(0.5)) / F.lit(DP_U_SCALE)  # open (0, 1)
    c = u - F.lit(0.5)
    lap = (
        F.lit(-1.0 / eps)
        * F.signum(c)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(c))
    )
    return F.floor(lap + F.lit(0.5)).cast("long")


def dp_release_from_cells(cells: DataFrame) -> DataFrame:
    """The epsilon-DP count release over (hour, event_type, n) cells —
    shared by the batch query and the streaming drain (the noise is a
    pure function of the cell key, so it composes with any mergeable
    count state)."""
    key = F.concat(
        F.lit("dp|"),
        F.unix_micros("hour").cast("string"),
        F.lit("|"),
        F.col("event_type"),
    )
    dp = F.greatest(F.lit(0), F.col("n") + dp_noise_col(key))
    return cells.select(
        "hour",
        "event_type",
        dp.cast("long").alias("dp_count"),
        F.lit(DP_EPSILON).alias("epsilon"),
    )


def events_dp_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private hourly event counts: the Laplace(1/eps)
    count release over the (hour, event_type) contingency table — it
    PUBLISHES a table with a formal epsilon guarantee. Noise is a deterministic inverse-CDF draw keyed on
    the cell (md5-derived uniform), rounded to the integer grid and
    clamped at zero — so the release is reproducible and fully
    SQL-oracled.

    Scale: one map-side-combined count per cell, then a narrow
    per-cell expression — no second shuffle, cells bounded by
    calendar-hours × types regardless of corpus size.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("hour", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return dp_release_from_cells(cells)


QUERIES = {
    "events_quantile_treatment_effect": events_quantile_treatment_effect,
    "events_absorption": events_absorption,
    "events_dp_user_total": events_dp_user_total,
    "events_dp_hourly": events_dp_hourly,
    "events_hour_concentration": events_hour_concentration,
    "events_concurrency_curve": events_concurrency_curve,
    "events_sen_slope": events_sen_slope,
    "events_session_stats": events_session_stats,
    "events_forecast_scorecard": events_forecast_scorecard,
    "events_conversion_ztest": events_conversion_ztest,
    "events_ab_design": events_ab_design,
    "events_ab_srm": events_ab_srm,
    "events_retention_hourly": events_retention_hourly,
    "events_dau": events_dau,
    "events_dau_approx": events_dau_approx,
    "events_value_quantiles": events_value_quantiles,
    "events_value_quantiles_approx": events_value_quantiles_approx,
    "events_hourly": events_hourly,
    "events_sessionize": events_sessionize,
    "events_topk_users": events_topk_users,
    "events_topk_cms": events_topk_cms,
    "events_user_paths": events_user_paths,
    "events_json_props": events_json_props,
    "events_value_histogram": events_value_histogram,
    "events_hourly_anomaly": events_hourly_anomaly,
    "events_new_vs_returning": events_new_vs_returning,
    "events_user_activity_quantiles": events_user_activity_quantiles,
    "events_hourly_profile": events_hourly_profile,
    "events_type_share_trend": events_type_share_trend,
    "events_forecast_hourly": events_forecast_hourly,
}

ORACLE = {
    "events_dau": """
        SELECT date_trunc('day', ts) AS day,
               count(DISTINCT user_id) AS dau,
               count(*) AS n_events
        FROM events
        GROUP BY 1
    """,
    # the sketch bound is an invariant: the oracle asserts TRUE per
    # day, so any day where HLL drifts past 3*rsd hash-mismatches
    "events_dau_approx": """
        SELECT date_trunc('day', ts) AS day,
               count(DISTINCT user_id) AS dau,
               count(*) AS n_events,
               TRUE AS sketch_within_3rsd
        FROM events
        GROUP BY 1
    """,
    "events_retention_hourly": """
        WITH hu AS (
          SELECT DISTINCT date_trunc('hour', ts) AS hour, user_id FROM events
        ),
        cohort AS (SELECT hour, count(*) AS n_users FROM hu GROUP BY hour),
        retained AS (
          SELECT a.hour, count(*) AS n_retained
          FROM hu a JOIN hu b
            ON a.user_id = b.user_id
           AND b.hour = a.hour + INTERVAL 1 HOUR
          GROUP BY a.hour
        )
        SELECT c.hour, c.n_users,
               coalesce(r.n_retained, 0) AS n_retained,
               (floor((coalesce(r.n_retained, 0) / c.n_users) * 10000.0 + 0.5)
                 / 10000.0) AS retention_rate
        FROM cohort c LEFT JOIN retained r ON c.hour = r.hour
    """,
    "events_value_quantiles": """
        SELECT event_type,
               round(CAST(quantile_cont(value, 0.25) AS DOUBLE), 4) AS p25,
               round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS p5,
               round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p9,
               round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 4) AS p99,
               count(*) AS n_events
        FROM events
        GROUP BY event_type
    """,
    # sketch tier: exact quantiles + the rank-tolerance invariant the
    # oracle asserts as literal TRUE (see the plan docstring)
    "events_value_quantiles_approx": """
        SELECT event_type,
               round(CAST(quantile_cont(value, 0.25) AS DOUBLE), 4) AS p25,
               round(CAST(quantile_cont(value, 0.5) AS DOUBLE), 4) AS p5,
               round(CAST(quantile_cont(value, 0.9) AS DOUBLE), 4) AS p9,
               round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 4) AS p99,
               count(*) AS n_events,
               TRUE AS sketch_within_rank_tol
        FROM events
        GROUP BY event_type
    """,
    "events_hourly": """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    "events_sessionize": """
        WITH flagged AS (
          SELECT user_id, event_id, value,
                 epoch_us(ts) AS ts_us,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        ), numbered AS (
          SELECT user_id, value, ts_us,
                 -- CAST: DuckDB window sum(int) is HUGEINT; Spark's is bigint
                 CAST(sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS UNBOUNDED PRECEDING
                 ) AS BIGINT) AS session_id
          FROM flagged
        )
        SELECT user_id, session_id,
               count(*) AS n_events,
               min(ts_us) AS start_us,
               max(ts_us) AS end_us,
               round(sum(value), 2) AS session_value,
               max(ts_us) - min(ts_us) AS duration_us
        FROM numbered
        GROUP BY user_id, session_id
    """,
    "events_user_paths": f"""
        SELECT src, dst, n FROM (
          SELECT src, event_type AS dst, count(*) AS n FROM (
            SELECT user_id, event_type, lag(event_type) OVER (
                     PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id
                   ) AS src
            FROM events
          ) WHERE src IS NOT NULL
          GROUP BY 1, 2
        ) ORDER BY n DESC, src, dst LIMIT {PATHS_TOPK}
    """,
    "events_topk_cms": f"""
        WITH hashed AS (
          SELECT user_id,
                 {', '.join(
                     f"((({CMS_A[j]} * (user_id % {CMS_P}) + {CMS_B[j]})"
                     f" % {CMS_P}) % {CMS_W}) AS h{j}"
                     for j in range(CMS_D)
                 )}
          FROM events
        ),
        cells AS (
          SELECT r, c, count(*) AS n FROM (
            {' UNION ALL '.join(
                f"SELECT {j} AS r, h{j} AS c FROM hashed"
                for j in range(CMS_D)
            )}
          ) GROUP BY r, c
        ),
        users AS (
          SELECT user_id, count(*) AS true_n,
                 {', '.join(f"min(h{j}) AS h{j}" for j in range(CMS_D))}
          FROM hashed GROUP BY user_id
        ),
        probes AS (
          {' UNION ALL '.join(
              f"SELECT user_id, true_n, {j} AS r, h{j} AS c FROM users"
              for j in range(CMS_D)
          )}
        ),
        ests AS (
          SELECT p.user_id, p.true_n, min(ce.n) AS est
          FROM probes p JOIN cells ce ON p.r = ce.r AND p.c = ce.c
          GROUP BY 1, 2
        )
        SELECT user_id, est, true_n, est >= true_n AS overestimate_ok
        FROM ests ORDER BY est DESC, user_id LIMIT {CMS_TOPK}
    """,
    "events_topk_users": """
        SELECT event_type, user_id, user_value, rk
        FROM (
          SELECT event_type, user_id,
                 round(sum(value), 2) AS user_value,
                 row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY round(sum(value), 2) DESC, user_id
                 ) AS rk
          FROM events
          GROUP BY event_type, user_id
        )
        WHERE rk <= 5
    """,
    "events_json_props": """
        SELECT event_type,
               round(avg(k), 4) AS avg_k,
               min(k) AS min_k,
               max(k) AS max_k,
               count(*) AS n_events
        FROM (
          SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS INT) AS k
          FROM events
        )
        GROUP BY event_type
    """,
    "events_value_histogram": """
        SELECT event_type,
               CAST(floor(value / 50.0) AS BIGINT) AS bucket,
               count(*) AS n_events,
               round(min(value), 2) AS min_value,
               round(max(value), 2) AS max_value
        FROM events
        GROUP BY 1, 2
    """,
    "events_hourly_anomaly": """
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS hour,
                 count(*) AS n_events
          FROM events GROUP BY 1, 2
        ), scored AS (
          SELECT event_type, hour, n_events,
                 avg(n_events) OVER w AS base_avg,
                 stddev_samp(n_events) OVER w AS base_std
          FROM hourly
          WINDOW w AS (PARTITION BY event_type ORDER BY hour
                       ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, hour, n_events,
               (floor(base_avg * 10000.0 + 0.5) / 10000.0) AS baseline_avg,
               CASE WHEN base_std > 0
                    THEN (floor(((n_events - base_avg) / base_std)
                          * 10000.0 + 0.5) / 10000.0)
               END AS z_score
        FROM scored
    """,
}


ORACLE["events_new_vs_returning"] = """
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    fs AS (SELECT user_id, min(day) AS first_day FROM du GROUP BY 1)
    SELECT day,
           CAST(count(*) AS BIGINT) AS dau,
           CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returning
    FROM du JOIN fs USING (user_id)
    GROUP BY 1
"""

ORACLE["events_user_activity_quantiles"] = """
    WITH per AS (
      SELECT user_id, CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1
    )
    SELECT round(quantile_cont(n, 0.5), 4) AS p5,
           round(quantile_cont(n, 0.9), 4) AS p9,
           round(quantile_cont(n, 0.99), 4) AS p99,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM per
"""

ORACLE["events_hourly_profile"] = f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(extract(hour FROM hour) AS BIGINT) AS hour_of_day,
           event_type,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_hours,
           {sql_quantize('CAST(sum(n) AS DOUBLE) / count(*)', 4)}
             AS mean_per_hour
    FROM hourly GROUP BY 1, 2
"""

ORACLE["events_type_share_trend"] = f"""
    WITH per AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT day, sum(n_events) AS day_total FROM per GROUP BY 1)
    SELECT per.day, per.event_type, per.n_events,
           {sql_quantize(
               'CAST(per.n_events AS DOUBLE) / tot.day_total', 6)}
             AS share
    FROM per JOIN tot ON per.day = tot.day
"""


ORACLE["events_forecast_hourly"] = f"""
    WITH ev AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day
      FROM events
    ),
    mx AS (SELECT max(day) AS maxd FROM ev),
    train AS (SELECT ev.* FROM ev, mx WHERE ev.day < mx.maxd),
    test AS (SELECT ev.* FROM ev, mx WHERE ev.day = mx.maxd),
    nd AS (
      SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_train_days
      FROM train
    ),
    t1 AS (
      SELECT hour_of_day, CAST(count(*) AS BIGINT) AS n_train
      FROM train GROUP BY 1
    ),
    a1 AS (
      SELECT hour_of_day, CAST(count(*) AS BIGINT) AS actual
      FROM test GROUP BY 1
    )
    SELECT coalesce(t1.hour_of_day, a1.hour_of_day) AS hour_of_day,
           nd.n_train_days,
           CAST(coalesce(t1.n_train, 0) AS BIGINT) AS n_train,
           CAST(coalesce(a1.actual, 0) AS BIGINT) AS actual,
           {sql_quantize(
               'coalesce(CAST(t1.n_train AS DOUBLE) / nd.n_train_days,'
               ' 0.0)', 4)} AS forecast,
           {sql_quantize(
               'abs(CAST(coalesce(a1.actual, 0) AS DOUBLE)'
               ' - coalesce(CAST(t1.n_train AS DOUBLE)'
               ' / nd.n_train_days, 0.0))', 4)} AS abs_err
    FROM t1 FULL OUTER JOIN a1 USING (hour_of_day), nd
"""


ORACLE["events_sen_slope"] = f"""
    WITH hourly AS (
      SELECT CAST(epoch_us(date_trunc('hour', ts)) / 3600000000
                  AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    slopes AS (
      SELECT CAST(b.n - a.n AS DOUBLE) / (b.t - a.t) AS slope
      FROM hourly a JOIN hourly b ON a.t < b.t
    ),
    med AS (
      SELECT quantile_cont(slope, 0.5) AS sen_slope,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM slopes
    ),
    resid AS (
      SELECT m.sen_slope, m.n_pairs,
             CAST(h.n AS DOUBLE) - m.sen_slope * h.t AS r
      FROM hourly h CROSS JOIN med m
    )
    SELECT CAST(count(*) AS BIGINT) AS n_hours,
           n_pairs,
           {sql_quantize('sen_slope', 6)} AS sen_slope,
           {sql_quantize('quantile_cont(r, 0.5)', 4)} AS sen_intercept
    FROM resid GROUP BY sen_slope, n_pairs
"""


ORACLE["events_ab_srm"] = f"""
    WITH arms AS (
      SELECT
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
          AS BIGINT) AS n_b
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    c AS (
      SELECT *,
             CASE WHEN n_a + n_b > 0 THEN
               (n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
                 / ((n_a + n_b) / 2.0)
               + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
                 / ((n_a + n_b) / 2.0)
             END AS chi2
      FROM arms
    )
    SELECT n_a, n_b,
           {sql_quantize('chi2', 4)} AS srm_chi2,
           {sql_quantize('chi2', 4)} > 3.841 AS srm_detected
    FROM c
"""

ORACLE["events_ab_design"] = f"""
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1
    ),
    per_user AS (
      SELECT e.user_id,
             max(CASE WHEN e.event_type = 'purchase'
                   AND e.ts < f.first_ts + INTERVAL 24 HOUR
                 THEN 1 ELSE 0 END) AS conv
      FROM events e JOIN firsts f USING (user_id) GROUP BY 1
    ),
    stats AS (
      SELECT
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)
             AS BIGINT) AS x_a,
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
             AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE conv END)
             AS BIGINT) AS x_b
      FROM per_user
    ),
    d AS (
      SELECT *,
             CASE WHEN n_a > 0 AND n_b > 0 THEN
               CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) END AS pool
      FROM stats
    ),
    m AS (
      SELECT *,
             2.8016 * sqrt(pool * (1 - pool)
                 * (1.0 / n_a + 1.0 / n_b)) AS mde
      FROM d
    )
    SELECT n_a, n_b,
           {sql_quantize('pool', 6)} AS pooled_rate,
           {sql_quantize('mde', 6)} AS mde_abs,
           CASE WHEN pool > 0 THEN {sql_quantize('mde / pool', 6)} END
             AS mde_rel
    FROM m
"""

ORACLE["events_conversion_ztest"] = f"""
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1
    ),
    per_user AS (
      SELECT e.user_id,
             max(CASE WHEN e.event_type = 'purchase'
                   AND e.ts < f.first_ts + INTERVAL 24 HOUR
                 THEN 1 ELSE 0 END) AS conv
      FROM events e JOIN firsts f USING (user_id) GROUP BY 1
    ),
    stats AS (
      SELECT
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)
             AS BIGINT) AS x_a,
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END)
             AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE conv END)
             AS BIGINT) AS x_b
      FROM per_user
    ),
    d AS (
      SELECT *,
             CASE WHEN n_a > 0
               THEN CAST(x_a AS DOUBLE) / n_a END AS p_a,
             CASE WHEN n_b > 0
               THEN CAST(x_b AS DOUBLE) / n_b END AS p_b,
             CASE WHEN n_a > 0 AND n_b > 0 THEN
               CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) END AS pool
      FROM stats
    ),
    z AS (
      SELECT *,
             pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b) AS se2
      FROM d
    )
    SELECT n_a, x_a, n_b, x_b,
           {sql_quantize('p_a', 6)} AS p_a,
           {sql_quantize('p_b', 6)} AS p_b,
           CASE WHEN se2 > 0 THEN
             {sql_quantize('(p_a - p_b) / sqrt(se2)', 4)}
           END AS z_stat,
           CASE WHEN se2 > 0 THEN
             abs({sql_quantize('(p_a - p_b) / sqrt(se2)', 4)}) > 1.96
           END AS significant_95
    FROM z
"""


ORACLE["events_session_stats"] = """
    WITH base AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             sum(CASE WHEN prev_us IS NULL
                       OR ts_us0 - prev_us > 1800000000
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id
                     ORDER BY ts_us0, event_id) AS session_id
      FROM (
        SELECT user_id, event_id, ts,
               epoch_us(ts) AS ts_us0,
               lag(epoch_us(ts)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS prev_us
        FROM events
      )
    ),
    per AS (
      SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_events,
             max(ts_us) - min(ts_us) AS dur_us
      FROM base GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           round(CAST(quantile_cont(n_events, 0.5) AS DOUBLE), 2)
             AS p50_events,
           round(CAST(quantile_cont(n_events, 0.9) AS DOUBLE), 2)
             AS p90_events,
           round(CAST(quantile_cont(dur_us, 0.5) AS DOUBLE) / 1000000.0, 3)
             AS p50_duration_s,
           round(CAST(quantile_cont(dur_us, 0.9) AS DOUBLE) / 1000000.0, 3)
             AS p90_duration_s,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounce_sessions
    FROM per
"""

ORACLE["events_forecast_scorecard"] = f"""
    WITH fc AS ({ORACLE['events_forecast_hourly']})
    SELECT CAST(count(*) AS BIGINT) AS n_hours,
           max(n_train_days) AS n_train_days,
           {sql_quantize('avg(abs_err)', 4)} AS mae,
           {sql_quantize(
               'avg(CASE WHEN actual > 0'
               ' THEN abs_err / actual END)', 6)} AS mape_nonzero,
           {sql_quantize('avg(forecast - actual)', 4)} AS bias,
           {sql_quantize('max(abs_err)', 4)} AS worst_abs_err
    FROM fc
"""


ORACLE["events_hour_concentration"] = f"""
    WITH hist AS (
      SELECT event_type,
             CAST(hour(ts) AS BIGINT) AS hod,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    per AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS active_hods,
             CAST(sum(cnt) AS BIGINT) AS total,
             CAST(max(cnt * 100 - hod) AS BIGINT) AS pk,
             sum(CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE)))
               AS slg
      FROM hist GROUP BY 1
    )
    SELECT event_type, active_hods,
           CAST(((pk + 99) // 100) * 100 - pk AS BIGINT) AS peak_hod,
           {sql_quantize(
               'CAST((pk + 99) // 100 AS DOUBLE) / total', 6)}
             AS peak_share,
           {sql_quantize(
               'log2(CAST(total AS DOUBLE)) - slg / total', 6)}
             AS hod_entropy
    FROM per
"""


ORACLE["events_concurrency_curve"] = f"""
    WITH sess AS ({ORACLE['events_sessionize']}),
    hrs AS (
      SELECT user_id,
             unnest(generate_series(start_us // 3600000000,
                                    end_us // 3600000000)) AS th
      FROM sess
    )
    SELECT make_timestamp(th * 3600000000) AS hour,
           CAST(count(*) AS BIGINT) AS n_active_sessions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active_users
    FROM hrs GROUP BY 1
"""


ORACLE["events_dp_hourly"] = f"""
    WITH cells AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    keyed AS (
      SELECT hour, event_type, n,
             CAST(('0x' || substr(md5(
               'dp|' || CAST(epoch_us(hour) AS VARCHAR)
                     || '|' || event_type), 1, 8)) AS BIGINT) AS h
      FROM cells
    ),
    drawn AS (
      SELECT hour, event_type, n,
             (CAST(h AS DOUBLE) + 0.5) / {DP_U_SCALE!r} - 0.5 AS c
      FROM keyed
    )
    SELECT hour, event_type,
           CAST(greatest(0, n + CAST(floor(
             {-1.0 / DP_EPSILON!r} * sign(c) * ln(1.0 - 2.0 * abs(c))
             + 0.5) AS BIGINT)) AS BIGINT) AS dp_count,
           {DP_EPSILON!r} AS epsilon
    FROM drawn
"""


ORACLE["events_absorption"] = """
    SELECT src AS event_type,
           CAST(count(*) AS BIGINT) AS n_out,
           TRUE AS absorb_fixed_point_ok,
           TRUE AS bounds_ok
    FROM (
      SELECT event_type, lag(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS src
      FROM events
    ) WHERE src IS NOT NULL
    GROUP BY 1
"""

ORACLE["events_dp_user_total"] = f"""
    WITH per_user AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    totals AS (
      SELECT event_type,
             CAST(sum(least(n, {DP_USER_CLIP})) AS BIGINT) AS total
      FROM per_user GROUP BY 1
    ),
    drawn AS (
      SELECT event_type, total,
             (CAST(CAST(('0x' || substr(md5('dpu|' || event_type), 1, 8))
                        AS BIGINT) AS DOUBLE) + 0.5)
               / {DP_U_SCALE!r} - 0.5 AS c
      FROM totals
    )
    SELECT event_type,
           CAST(greatest(0, total + CAST(floor(
             {-DP_USER_CLIP / DP_USER_EPS!r}
             * sign(c) * ln(1.0 - 2.0 * abs(c))
             + 0.5) AS BIGINT)) AS BIGINT) AS dp_total,
           {DP_USER_EPS!r} AS epsilon,
           CAST({DP_USER_CLIP} AS BIGINT) AS clip
    FROM drawn
"""


_QTE_SELECTS = " UNION ALL ".join(
    f"""SELECT {q!r} AS q,
        {sql_quantize(f'quantile_cont(value, {q!r})'
                      ' FILTER (WHERE treat)', 4)} AS q_treat,
        {sql_quantize(f'quantile_cont(value, {q!r})'
                      ' FILTER (WHERE NOT treat)', 4)} AS q_ctrl,
        {sql_quantize(f'quantile_cont(value, {q!r}) FILTER (WHERE treat)'
                      f' - quantile_cont(value, {q!r})'
                      ' FILTER (WHERE NOT treat)', 4)} AS qte
     FROM grid"""
    for q in QTE_QS
)

ORACLE["events_quantile_treatment_effect"] = f"""
    WITH grid AS (
      SELECT (user_id % 2 = 0) AS treat, value FROM events
    )
    {_QTE_SELECTS}
"""
