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
from ..operators.persist import materialize
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


DP_MEDIAN_EPS = 1.0


def events_dp_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private median of event value via the
    EXPONENTIAL MECHANISM over dollar bins: utility of bin b is
    −|2·rank(b) − n| (how far b sits from the true median), each bin
    gets a deterministic md5-keyed Gumbel draw, and the release is
    argmax(ε·u/2 + Gumbel) — the Gumbel-max trick makes the
    exponential mechanism a one-pass argmax, and the keyed draw makes
    it replayable in the SQL twin. Third member of the DP suite:
    Laplace counts (`events_dp_hourly`), clipped sums
    (`events_dp_user_total`), and now a non-additive statistic.

    Scale: one bin-count partial agg (bins bounded by the value
    range), a cumulative window over ≤bins rows, one argmax.
    """
    ev = load_table(spark, sf_dir, "events")
    bins = ev.groupBy(
        F.floor(F.col("value")).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_bin"))
    # cumulative rank via a broadcast theta-join over the BOUNDED bin
    # table (≤ value-range rows) — no global window, no single-task
    # sort of anything corpus-sized
    tot = bins.agg(F.sum("n_bin").cast("long").alias("n"))
    lower = bins.select(
        F.col("bin").alias("b2"), F.col("n_bin").alias("nb2")
    )
    ranked = (
        bins.join(F.broadcast(lower), F.col("b2") <= F.col("bin"))
        .groupBy("bin", "n_bin")
        .agg(F.sum("nb2").cast("long").alias("cum"))
        .crossJoin(F.broadcast(tot))
    )
    # utility in integer half-units: -|2*cum - n| (exact)
    util = -F.abs(2 * F.col("cum") - F.col("n"))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dpm|"), F.col("bin").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(DP_U_SCALE)
    gumbel = -F.log(-F.log(u))
    score = F.lit(DP_MEDIAN_EPS / 4.0) * util + gumbel
    # Gumbel-argmax as ONE aggregate (ties to the smaller bin)
    return ranked.withColumn("score", score).agg(
        F.expr("max_by(bin, struct(score, -bin))")
        .cast("long")
        .alias("dp_median_bin"),
        F.lit(DP_MEDIAN_EPS).alias("epsilon"),
    )


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


BOT_MIN_EVENTS = 30
BOT_RATE_PER_MIN = 2.0


def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic bot screen per user: event count, active span,
    sustained events-per-minute rate, and the minimum inter-event gap
    — users above the rate threshold with enough volume get flagged
    (the traffic-hygiene gate that runs before any behavioral
    analytics at 100 TB).

    Scale: ONE sort-shuffle on user_id (the lag for min-gap shares
    sessionization's partitioning) folding straight into a per-user
    partial agg; thresholds compare exact integers / single-division
    doubles, so both engines agree.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gapped = ev.withColumn(
        "gap_us", F.col("ts_us") - F.lag("ts_us").over(w)
    )
    per = gapped.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).cast("long").alias("span_us"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
    )
    rate = (
        F.col("n_events").cast("double")
        / (F.col("span_us").cast("double") / 60_000_000.0)
    )
    return per.select(
        "user_id",
        "n_events",
        "span_us",
        "min_gap_us",
        quantize(
            F.when(F.col("span_us") > 0, rate).otherwise(F.lit(0.0)), 4
        ).alias("events_per_min"),
        (
            (F.col("n_events") >= BOT_MIN_EVENTS)
            & (F.col("span_us") > 0)
            & (
                quantize(
                    F.when(F.col("span_us") > 0, rate).otherwise(
                        F.lit(0.0)
                    ),
                    4,
                )
                >= BOT_RATE_PER_MIN
            )
        ).alias("bot_suspect"),
    )


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


def events_adoption_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-adoption (penetration) curve: per day, how many users had
    their FIRST-ever activity that day, the cumulative user base, and
    its share of the final population — the S-curve read a launch
    review runs.

    Scale: first-seen day is one user-keyed partial agg collapsing to
    a days-bounded table; the cumulative sum runs over the
    calendar-bounded D² self-join (NO unpartitioned window); total
    users is a 1-row broadcast.
    Exact integers, one division.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    first = (
        ev.select(day, "user_id")
        .groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
    )
    return adoption_from_first_seen(first)


def adoption_from_first_seen(first: DataFrame) -> DataFrame:
    """The S-curve scan over (user_id, first_day) rows — shared by the
    batch query and the streaming drain (`stream_adoption_curve`
    min-folds the same first-seen state at ingest)."""
    daily = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_first_seen")
    )
    b = daily.select(
        F.col("day").alias("day_b"),
        F.col("n_first_seen").alias("n_b"),
    )
    cum = (
        # explicit broadcast: the theta join is days-bounded, but
        # without the hint its plan DEPENDS on source size stats — a
        # stats-less input (drained sink, RDD-backed relation) would
        # degrade to CartesianProduct (caught by the r7 stream audit)
        daily.join(F.broadcast(b), F.col("day_b") <= F.col("day"))
        .groupBy("day", "n_first_seen")
        .agg(F.sum("n_b").cast("long").alias("cum_users"))
    )
    tot = first.select(
        F.col("user_id").alias("uid_t")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return cum.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_first_seen",
        "cum_users",
        quantize(
            F.col("cum_users").cast("double") / F.col("n_total"), 6
        ).alias("penetration"),
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


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-hour-of-day anomaly profile: for each hour-of-day,
    the median hourly event count, the median absolute deviation
    (MAD), and how many observed hours fall outside the 3-MAD band —
    the outlier screen that, unlike ``events_hourly_anomaly``'s
    mean/stddev z-score, is not itself skewed by the outliers it
    hunts (reference parity: the same hourly rollup family,
    preprocessor.py's interval aggregation).

    Scale: hourly counts are one ts-truncated partial agg (bounded by
    hours x types, not events); medians run per hour-of-day group
    (<=24 partitions of ~hours/24 values — at 100 TB switch the inner
    percentile to approx_percentile, same shape); the per-hod
    median/MAD tables are <=24 rows and broadcast back. No
    unpartitioned window anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    return mad_from_hourly(hourly)


def mad_from_hourly(hourly: DataFrame) -> DataFrame:
    """The MAD-profile computation over an (hour, n) table — shared
    by the batch query and the streaming drain (`stream_anomaly_mad`
    accumulates the same hours-bounded tumbling counts at ingest)."""
    hourly = hourly.select(
        F.hour("hour").cast("bigint").alias("hour_of_day"),
        F.col("n").cast("double").alias("n"),
    )
    med = hourly.groupBy("hour_of_day").agg(
        F.expr("percentile(n, 0.5)").alias("med")
    )
    dev = hourly.join(F.broadcast(med), "hour_of_day").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("hour_of_day").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "hour_of_day")
        .groupBy("hour_of_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            quantize(F.first("med"), 4).alias("med_n"),
            quantize(F.first("mad"), 4).alias("mad_n"),
            F.sum(
                F.when(
                    (F.col("mad") > 0)
                    & (F.col("adev") > 3 * F.col("mad")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalies"),
        )
    )


def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap distribution: count, median / p90
    (exact interpolated), and max gap in integer microseconds — the
    cadence profile bot-detection thresholds and session-gap tuning
    are derived from.

    Scale: the lag window is PARTITIONED by user_id (ordered by
    (ts_us, event_id) for a total order under timestamp ties), so
    gaps are one sort-shuffle on the natural key; the per-user agg
    reuses the same partitioning. Gap arithmetic stays in integer
    microseconds — no float epoch drift between engines.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = (
        ev.withColumn("prev_us", F.lag("ts_us").over(w))
        .filter(F.col("prev_us").isNotNull())
        .select(
            "user_id", (F.col("ts_us") - F.col("prev_us")).alias("gap_us")
        )
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        quantize(F.expr("percentile(gap_us, 0.5)"), 4).alias("med_gap_us"),
        quantize(F.expr("percentile(gap_us, 0.9)"), 4).alias("p90_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
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


def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way additive decomposition of the hourly count series:
    observed = day effect + hour-of-day effect − grand mean +
    residual — the classic seasonality split whose residual is what
    anomaly detectors SHOULD score (raw counts conflate weekday and
    clock-hour effects; `events_hourly_anomaly` scores raw z).

    Scale: the hourly series is a ts-truncated partial agg bounded by
    hours; day means, hour-of-day means, and the grand mean are three
    tiny aggs OF THAT AGGREGATE (days + 24 + 1 rows) broadcast back
    onto it; every mean is an exact integer sum over counts with one
    division.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return decompose_from_hourly(hourly)


def decompose_from_hourly(hourly: DataFrame) -> DataFrame:
    """The two-way additive decomposition over an (hour, n) series —
    shared by the batch query and the streaming drain
    (`stream_seasonal_decompose` sums its tumbling per-type state to
    the same overall series)."""
    hourly = hourly.select(
        "hour",
        F.date_trunc("day", F.col("hour")).alias("day"),
        F.hour("hour").cast("bigint").alias("hour_of_day"),
        "n",
    )
    # keys rename on the self-lineage joins (drained-relation rule)
    day_m = hourly.select(
        F.col("day").alias("day_d"), F.col("n").alias("n_d")
    ).groupBy("day_d").agg(
        (F.sum("n_d").cast("double") / F.count(F.lit(1))).alias(
            "day_mean"
        )
    )
    hod_m = hourly.select(
        F.col("hour_of_day").alias("hod_h"), F.col("n").alias("n_h")
    ).groupBy("hod_h").agg(
        (F.sum("n_h").cast("double") / F.count(F.lit(1))).alias(
            "hod_mean"
        )
    )
    grand = hourly.select(F.col("n").alias("n_g")).agg(
        (F.sum("n_g").cast("double") / F.count(F.lit(1))).alias(
            "grand_mean"
        )
    )
    fitted = (
        F.col("day_mean") + F.col("hod_mean") - F.col("grand_mean")
    )
    return (
        hourly.join(
            F.broadcast(day_m), F.col("day") == F.col("day_d")
        )
        .join(
            F.broadcast(hod_m),
            F.col("hour_of_day") == F.col("hod_h"),
        )
        .crossJoin(F.broadcast(grand))
        .select(
            "hour",
            "n",
            quantize(F.col("day_mean"), 4).alias("day_effect"),
            quantize(F.col("hod_mean"), 4).alias("hod_effect"),
            quantize(fitted, 4).alias("fitted"),
            quantize(F.col("n") - fitted, 4).alias("residual"),
        )
    )


def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dependence of the hourly count series: Pearson
    autocorrelation at lag 1 hour and lag 24 hours — near-zero lag-24
    means no daily seasonality to exploit, high lag-1 means bursty
    persistence (feeds the forecast/decompose tier's validity).

    Scale: the series is an hours-bounded partial agg; each lag is a
    self-join of that tiny table on exact timestamp arithmetic; the
    correlation is computed from EXACT integer sums (Σx, Σy, Σxy,
    Σx², Σy²) with one final expression — no float-order surface.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return autocorr_from_hourly(hourly)


def autocorr_from_hourly(hourly: DataFrame) -> DataFrame:
    """The lag-1/lag-24 ACF scan over an (hour, n) series — shared by
    the batch query and the streaming drain (`stream_autocorr` sums
    its tumbling per-type state to the same overall series)."""

    def corr_at(lag_hours: int, name: str) -> DataFrame:
        lag = hourly.select(
            (F.col("hour") + F.expr(f"INTERVAL {lag_hours} HOURS")).alias(
                "hour"
            ),
            F.col("n").alias("m"),
        )
        j = hourly.join(lag, "hour")
        return j.agg(
            F.count(F.lit(1)).cast("long").alias(f"n_pairs_{name}"),
            quantize(
                (
                    F.count(F.lit(1)) * F.sum(F.col("n") * F.col("m"))
                    - F.sum("n") * F.sum("m")
                ).cast("double")
                / F.sqrt(
                    (
                        F.count(F.lit(1)) * F.sum(F.col("n") * F.col("n"))
                        - F.sum("n") * F.sum("n")
                    ).cast("double")
                    * (
                        F.count(F.lit(1)) * F.sum(F.col("m") * F.col("m"))
                        - F.sum("m") * F.sum("m")
                    ).cast("double")
                ),
                4,
            ).alias(f"acf_{name}"),
        )

    return corr_at(1, "lag1").crossJoin(
        F.broadcast(corr_at(24, "lag24"))
    )


def events_anomaly_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed anomaly screen done right: deseasonalize first
    (`events_seasonal_decompose`'s two-way fit), THEN apply the robust
    median/MAD band to the residuals — flagged hours are deviations
    from their own day's level AND clock-hour profile, not from a
    seasonality-blind global mean. Emits only the flagged hours with
    their residual and the band.

    Scale: stacks two hours-bounded aggregates; the residual
    median/MAD is ONE more tiny agg broadcast back. Flag logic is
    exact comparisons on quantized residuals.
    """
    # hours-bounded, materialized once: the screen reads the
    # decomposition three ways (median stats, MAD stats, the flag
    # filter) and composed as plans each way re-ran the decompose's
    # events scans (census: 16 parquet scans for this query)
    dec = events_seasonal_decompose(spark, sf_dir).transform(materialize)
    return residual_screen_from_decomposed(dec)


def residual_screen_from_decomposed(dec: DataFrame) -> DataFrame:
    """The median/MAD screen over a decomposed (hour, n, fitted,
    residual) table — shared by the batch query and the streaming
    drain (`stream_anomaly_residual` decomposes its drained hourly
    state with the same shared scan)."""
    # keys rename on the self-lineage agg (drained-relation rule)
    stats = dec.select(F.col("residual").alias("r_s")).agg(
        F.expr("percentile(r_s, 0.5)").alias("med_r")
    )
    dev = dec.crossJoin(F.broadcast(stats)).withColumn(
        "adev", F.abs(F.col("residual") - F.col("med_r"))
    )
    mad = dev.select(F.col("adev").alias("adev_m")).agg(
        F.expr("percentile(adev_m, 0.5)").alias("mad_r")
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .filter(
            (F.col("mad_r") > 0)
            & (F.col("adev") > 3 * F.col("mad_r"))
        )
        .select(
            "hour",
            "n",
            "fitted",
            "residual",
            quantize(F.col("med_r"), 4).alias("med_residual"),
            quantize(F.col("mad_r"), 4).alias("mad_residual"),
        )
    )


def events_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of user activity — the inequality summary of
    the engagement distribution (0 = everyone equally active, →1 = a
    few users generate everything); the scalar companion to the
    activity quantiles.

    Scale: computed EXACTLY from the counts-of-counts histogram — the
    mean-absolute-difference double sum runs over the V² pairs of
    DISTINCT activity values (bounded by max activity, not user
    count), via a broadcast self-join of the tiny histogram; every
    term is integer arithmetic with one final division.
    """
    per = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return gini_from_user_counts(per)


def gini_from_user_counts(per: DataFrame) -> DataFrame:
    """The exact-Gini scan over (user_id, v) activity counts — shared
    by the batch query and the streaming drain (`stream_gini`
    accumulates the same entity-bounded counts at ingest)."""
    hist = per.groupBy("v").agg(F.count(F.lit(1)).alias("m"))
    a = hist.select(F.col("v").alias("va"), F.col("m").alias("ma"))
    b = hist.select(F.col("v").alias("vb"), F.col("m").alias("mb"))
    mad_sum = (
        a.crossJoin(F.broadcast(b))
        .agg(
            F.sum(
                F.col("ma")
                * F.col("mb")
                * F.abs(F.col("va") - F.col("vb"))
            ).alias("s")
        )
    )
    tot = hist.agg(
        F.sum("m").alias("n_users"),
        F.sum(F.col("m") * F.col("v")).alias("total_events"),
    )
    return (
        mad_sum.crossJoin(F.broadcast(tot))
        .select(
            F.col("n_users").cast("long").alias("n_users"),
            quantize(
                F.col("total_events").cast("double") / F.col("n_users"),
                4,
            ).alias("mean_activity"),
            quantize(
                F.col("s").cast("double")
                / (
                    2.0
                    * F.col("n_users").cast("double")
                    * F.col("total_events").cast("double")
                ),
                6,
            ).alias("gini"),
        )
    )


EWMA_LAMBDA = 0.3


def events_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart on the hourly count series: each hour is
    scored against the exponentially-weighted mean of all PRIOR hours
    (one-step-ahead kernel forecast, decay (1−λ)^Δh over the REAL
    time gap so missing hours decay naturally), and breaches beyond
    3σ of the residual distribution are flagged — the memoryful
    monitor between `events_hourly_anomaly` (global band) and
    `events_anomaly_residual` (seasonal band): it tracks slow level
    shifts the global band misses without needing a seasonal model.

    Scale: the series is the calendar-bounded hourly partial agg; the
    prior-hours kernel sum is a broadcast self-join of that tiny
    table (hours², never events²); residuals quantize 1e-6 before
    the one global σ agg; every output value is grid-quantized.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return ewma_from_hourly(hourly)


def ewma_from_hourly(hourly: DataFrame) -> DataFrame:
    """The EWMA control computation over an (hour, n) series — shared
    by the batch query and the streaming drain (`stream_ewma_control`
    accumulates the same hours-bounded series at ingest)."""
    cur = hourly.select(
        F.col("hour").alias("ht"), F.col("n").alias("xt")
    )
    prior = hourly.select(
        F.col("hour").alias("hi"), F.col("n").alias("xi")
    )
    decay = F.pow(
        F.lit(1.0 - EWMA_LAMBDA),
        (
            (F.unix_micros(F.col("ht")) - F.unix_micros(F.col("hi")))
            / F.lit(3_600_000_000.0)
        ),
    )
    sm = (
        cur.join(F.broadcast(prior), F.col("hi") < F.col("ht"))
        .groupBy("ht", "xt")
        .agg(
            (
                F.sum(decay * F.col("xi")) / F.sum(decay)
            ).alias("ewma_prior")
        )
    )
    scored = sm.select(
        "ht",
        "xt",
        quantize(F.col("ewma_prior"), 4).alias("ewma_prior"),
        quantize(F.col("xt") - F.col("ewma_prior"), 6).alias("resid"),
    )
    sig = scored.agg(
        quantize(
            F.sqrt(
                F.sum(F.col("resid") * F.col("resid"))
                / F.count(F.lit(1))
            ),
            4,
        ).alias("sigma")
    )
    return (
        scored.crossJoin(F.broadcast(sig))
        .select(
            F.col("ht").alias("hour"),
            F.col("xt").alias("n_events"),
            "ewma_prior",
            quantize(F.col("resid"), 4).alias("residual"),
            "sigma",
            (F.abs(F.col("resid")) > 3 * F.col("sigma")).alias("breach"),
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


def events_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-coverage completeness per event type: observed hours
    vs the type's own active span, plus the LONGEST silent streak in
    hours — the "is this feed actually flowing?" audit (it checks
    TIME: a feed with 95% coverage and an 18-hour hole reads very
    differently from one missing random single hours).

    Scale: (type, hour) partial agg (calendar-bounded), a per-type
    lag window over that bounded series (partitioned by type), and a
    types-bounded rollup — exact integer hours.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return coverage_from_hourly(hourly)


def coverage_from_hourly(hourly: DataFrame) -> DataFrame:
    """The coverage scan over a (event_type, hour, n) series — shared
    by the batch query and the streaming drain (`stream_coverage`
    accumulates the same tumbling hourly state at ingest)."""
    t = (F.unix_micros("hour") / F.lit(3600000000)).cast("long")
    w = Window.partitionBy("event_type").orderBy("t")
    x = hourly.select("event_type", t.alias("t")).withColumn(
        "gap", F.col("t") - F.lag("t").over(w) - 1
    )
    per = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("observed_hours"),
        (F.max("t") - F.min("t") + 1).cast("long").alias("span_hours"),
        F.coalesce(F.max("gap"), F.lit(0))
        .cast("long")
        .alias("longest_silence_hours"),
    )
    return per.select(
        "event_type",
        "observed_hours",
        "span_hours",
        "longest_silence_hours",
        quantize(
            F.col("observed_hours").cast("double")
            / F.col("span_hours"),
            6,
        ).alias("coverage"),
    )


def events_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of event value between the first
    and second half of the observation window (split at the median
    event time): PSI = Σ (p₂−p₁)·ln(p₂/p₁) over value buckets, the
    industry-standard model-monitoring drift metric (rule of thumb:
    <0.1 stable, 0.1–0.25 watch, >0.25 shifted) — the scalar
    companion to `corpus_ks_drift`'s distribution test, with
    per-bucket contributions so the drift is attributable.

    Scale: the split point is a 1-row exact-percentile broadcast;
    bucket counts are one (bucket, half) partial agg (bounded by the
    value grid); Laplace smoothing (+1 per bucket) keeps ln finite
    on one-sided buckets and both engines derive identical doubles
    from identical integer counts.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") / 10.0).cast("long").alias("bucket"),
    )
    med = ev.agg(
        F.expr("percentile(ts_us, 0.5)").alias("med_us")
    )
    halves = ev.crossJoin(F.broadcast(med)).select(
        "bucket", (F.col("ts_us") <= F.col("med_us")).alias("first_half")
    )
    # buckets-bounded, materialized once: totals, the smoothed fold,
    # and the PSI-sum branch each re-read this table, and composed as
    # plans the 2x2x2 reference chain re-scanned events 8 times
    cells = halves.groupBy("bucket").agg(
        F.sum(F.when(F.col("first_half"), 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("first_half"), 0).otherwise(1))
        .cast("long")
        .alias("n2"),
    ).transform(materialize)
    tot = cells.agg(
        F.sum("n1").cast("long").alias("t1"),
        F.sum("n2").cast("long").alias("t2"),
        F.count(F.lit(1)).cast("long").alias("b"),
    )
    j = cells.crossJoin(F.broadcast(tot))
    p1 = (F.col("n1") + 1).cast("double") / (
        F.col("t1") + F.col("b")
    ).cast("double")
    p2 = (F.col("n2") + 1).cast("double") / (
        F.col("t2") + F.col("b")
    ).cast("double")
    contrib = (p2 - p1) * F.log(p2 / p1)
    rows = j.select(
        "bucket", "n1", "n2", contrib.alias("contrib")
    )
    tot_psi = rows.agg(F.sum("contrib").alias("psi_sum"))
    return rows.crossJoin(F.broadcast(tot_psi)).select(
        "bucket",
        "n1",
        "n2",
        quantize(F.col("contrib"), 6).alias("psi_contrib"),
        quantize(F.col("psi_sum"), 6).alias("psi_total"),
    )


L_DIVERSITY = 3


def events_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the (event_type, hour-of-day, value-bin)
    quasi-identifier cells, with user_id as the sensitive attribute:
    a QI cell can be k-anonymous yet still leak if every row in it
    belongs to the SAME user — this reports cells whose distinct-user
    diversity falls below l=3 and the row mass exposed by them (the
    second privacy gate run before sharing an event extract).

    Scale: one QI-keyed agg with a two-phase exact distinct (cells
    bounded by the QI domain, distinct state by users-per-cell),
    folding into a 1-row summary — exact integers, one division.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.hour("ts").alias("hod"),
        F.floor(F.col("value") / 10.0).cast("long").alias("vb"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.countDistinct("user_id").cast("long").alias("l"),
    )
    return l_diversity_from_cells(cells)


def l_diversity_from_cells(cells: DataFrame) -> DataFrame:
    """The diversity summary over (QI..., g, l) cells — shared by the
    batch query and the streaming drain (`stream_l_diversity`
    accumulates (QI, user) pair counts at ingest and collapses them
    to the same cells post-drain)."""
    return cells.agg(
        F.sum("g").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("l").cast("long").alias("min_diversity"),
        F.sum(F.when(F.col("l") < L_DIVERSITY, 1).otherwise(0))
        .cast("long")
        .alias("n_low_diversity_groups"),
        F.sum(F.when(F.col("l") < L_DIVERSITY, F.col("g")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    ).select(
        "n_rows",
        "n_groups",
        "min_diversity",
        "n_low_diversity_groups",
        "rows_at_risk",
        quantize(
            F.col("rows_at_risk").cast("double") / F.col("n_rows"), 6
        ).alias("risk_share"),
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


MK_CRIT_95 = 1.96  # two-sided normal 95% critical value


def events_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen slope of the hourly event-count series: the median
    of all pairwise slopes (events/hour per hour), with the median-
    based intercept — the robust trend MAGNITUDE that accompanies
    `events_mann_kendall`'s trend DIRECTION test (MK says "is there a
    monotone trend?", Sen says "how steep?", immune to the outliers
    that wreck an OLS fit).

    Scale: the series is calendar-bounded (hours, not events), so the
    pair set is hours² — the same broadcast self-join as MK; slopes
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


def events_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the hourly event-count series: the
    nonparametric monotone-trend screen (S = Σ sign(n_j − n_i) over
    ordered hour pairs, tie-corrected variance, normal-approximation
    Z) — catches slow traffic creep/decay that the seasonal and
    anomaly tiers normalize away, without assuming linearity.

    Scale: the series is an hours-bounded partial agg (calendar-
    bounded — it does NOT grow with event volume); the pair sum is a
    broadcast self-join of that tiny table (hours², never events²);
    every term is exact integer arithmetic and only the final Z
    touches a sqrt.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return mk_from_hourly(hourly)


def mk_from_hourly(hourly: DataFrame) -> DataFrame:
    """The Mann-Kendall computation over an (hour, n) series — shared
    by the batch query and the streaming drain (`stream_mann_kendall`
    accumulates the same hours-bounded tumbling state at ingest)."""
    a = hourly.select(F.col("hour").alias("ha"), F.col("n").alias("na"))
    b = hourly.select(F.col("hour").alias("hb"), F.col("n").alias("nb"))
    # single-hour series: the pair join is empty and SUM yields NULL —
    # coalesce to the vacuous S = 0 (trend 'none') in both engines
    s_stat = (
        a.join(F.broadcast(b), F.col("ha") < F.col("hb"))
        .agg(
            F.coalesce(
                F.sum(
                    F.signum(
                        (F.col("nb") - F.col("na")).cast("double")
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("s")
        )
    )
    # tie correction: groups of equal count values
    ties = hourly.groupBy("n").agg(F.count(F.lit(1)).alias("t"))
    tie_term = ties.agg(
        F.sum(
            F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
        ).alias("tie_sum"),
        F.sum("t").cast("long").alias("n_hours"),
    )
    j = s_stat.crossJoin(F.broadcast(tie_term))
    var_s = (
        (
            F.col("n_hours")
            * (F.col("n_hours") - 1)
            * (2 * F.col("n_hours") + 5)
            - F.col("tie_sum")
        ).cast("double")
        / 18.0
    )
    z = F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var_s)).when(
        F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    return j.select(
        F.col("n_hours"),
        F.col("s").cast("long").alias("s_stat"),
        quantize(var_s, 4).alias("var_s"),
        quantize(z, 4).alias("z_stat"),
        F.when(quantize(z, 4) > MK_CRIT_95, F.lit("increasing"))
        .when(quantize(z, 4) < -MK_CRIT_95, F.lit("decreasing"))
        .otherwise(F.lit("none"))
        .alias("trend"),
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
        guarded(F.abs(quantize(z, 4)) > MK_CRIT_95).alias(
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


# events_conversion_ztest: "a purchase within 24 h of the first event"


HOLT_ALPHA = 0.5  # exact binary fractions: the recurrence is
HOLT_BETA = 0.25  # bit-identical across engines, no ulp drift


def holt_cells(ev: DataFrame) -> DataFrame:
    """(event_type, hour_us) count cells — the calendar-bounded
    mergeable state shared by the batch op and the streaming twin."""
    return ev.groupBy(
        "event_type",
        F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))


HOUR_US = 3_600_000_000


def holt_from_cells(cells: DataFrame) -> DataFrame:
    """Holt's linear (double) exponential smoothing per event type
    over the zero-filled hourly series: level/trend recurrence with
    α=1/2, β=1/4 (exact binary fractions — every step is IEEE-exact
    and replays bit-for-bit in the SQL twin's recursive CTE),
    initialized l₁=y₁, b₁=0. Emits the final state and the one-step
    forecast — the trend-aware counterpart of the seasonal-naive
    `events_forecast_hourly` backtest.

    Scale: the recurrence is sequential only WITHIN a type's series
    (series length = calendar hours, bounded), one Arrow group per
    type; the zero-fill rides a 1-row global bounds broadcast."""
    import numpy as np
    import pandas as pd

    bounds = cells.agg(
        F.min("hour_us").alias("mn"), F.max("hour_us").alias("mx")
    )
    g = cells.crossJoin(F.broadcast(bounds))

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        mn, mx = int(pdf["mn"].iloc[0]), int(pdf["mx"].iloc[0])
        hours = np.arange(mn, mx + HOUR_US, HOUR_US, dtype=np.int64)
        y = np.zeros(len(hours), dtype=np.float64)
        idx = ((pdf["hour_us"].to_numpy() - mn) // HOUR_US).astype(int)
        y[idx] = pdf["cnt"].to_numpy().astype(np.float64)
        lev, tr = float(y[0]), 0.0
        for t in range(1, len(y)):
            new = HOLT_ALPHA * float(y[t]) + (1.0 - HOLT_ALPHA) * (
                lev + tr
            )
            tr = HOLT_BETA * (new - lev) + (1.0 - HOLT_BETA) * tr
            lev = new
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_hours": [len(y)],
                "level": [lev],
                "trend": [tr],
                "forecast_next": [lev + tr],
            }
        )

    fitted = g.groupBy("event_type").applyInPandas(
        fit,
        schema=(
            "event_type string, n_hours long, level double,"
            " trend double, forecast_next double"
        ),
    )
    return fitted.select(
        "event_type",
        "n_hours",
        quantize(F.col("level"), 4).alias("level"),
        quantize(F.col("trend"), 4).alias("trend"),
        quantize(F.col("forecast_next"), 4).alias("forecast_next"),
    )


HW_PERIOD = 24
HW_GAMMA = 0.25  # seasonal smoothing — binary-exact like alpha/beta


def hw_from_cells(cells: DataFrame) -> DataFrame:
    """Additive Holt–Winters (level + trend + 24-hour seasonality)
    per event type over the zero-filled hourly series — the top of
    the forecasting ladder (`events_forecast_hourly` seasonal-naive →
    `events_holt_linear` trend → this). α=1/2, β=γ=1/4 are exact
    binary fractions and the level init is an exact-integer sum / 24,
    so EVERY step is IEEE-exact and the SQL twin's recursive CTE
    (carrying the 24-slot seasonal vector as list state) replays the
    fit bit-for-bit. Emits the final seasonal cycle (one row per
    slot) with the fitted level/trend and one-step forecast.

    Scale: sequential only within a type's calendar-bounded series,
    one Arrow group per type; the zero-fill rides a 1-row bounds
    broadcast.
    """
    import numpy as np
    import pandas as pd

    bounds = cells.agg(
        F.min("hour_us").alias("mn"), F.max("hour_us").alias("mx")
    )
    g = cells.crossJoin(F.broadcast(bounds))
    m = HW_PERIOD

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        mn, mx = int(pdf["mn"].iloc[0]), int(pdf["mx"].iloc[0])
        hours = np.arange(mn, mx + HOUR_US, HOUR_US, dtype=np.int64)
        n = len(hours)
        if n < m + 1:
            return pd.DataFrame(
                columns=[
                    "event_type",
                    "season_slot",
                    "seasonal",
                    "level",
                    "trend",
                    "forecast_next",
                ]
            )
        y = np.zeros(n, dtype=np.float64)
        idx = ((pdf["hour_us"].to_numpy() - mn) // HOUR_US).astype(int)
        y[idx] = pdf["cnt"].to_numpy().astype(np.float64)
        tot = 0.0  # integer-valued doubles: exact in any order
        for v in y[:m]:
            tot += float(v)
        lev = tot / float(m)
        tr = 0.0
        s = np.zeros(n, dtype=np.float64)
        for i in range(m):
            s[i] = float(y[i]) - lev
        for t in range(m, n):
            new_l = HOLT_ALPHA * (float(y[t]) - s[t - m]) + (
                1.0 - HOLT_ALPHA
            ) * (lev + tr)
            tr = HOLT_BETA * (new_l - lev) + (1.0 - HOLT_BETA) * tr
            s[t] = HW_GAMMA * (float(y[t]) - new_l) + (
                1.0 - HW_GAMMA
            ) * s[t - m]
            lev = new_l
        rows = []
        etype = pdf["event_type"].iloc[0]
        fc = lev + tr + s[n - m]
        for k in range(m):
            t_k = n - m + k
            rows.append(
                {
                    "event_type": etype,
                    "season_slot": t_k % m,
                    "seasonal": s[t_k],
                    "level": lev,
                    "trend": tr,
                    "forecast_next": fc,
                }
            )
        return pd.DataFrame(rows)

    fitted = g.groupBy("event_type").applyInPandas(
        fit,
        schema=(
            "event_type string, season_slot long, seasonal double,"
            " level double, trend double, forecast_next double"
        ),
    )
    return fitted.select(
        "event_type",
        "season_slot",
        quantize(F.col("seasonal"), 4).alias("seasonal"),
        quantize(F.col("level"), 4).alias("level"),
        quantize(F.col("trend"), 4).alias("trend"),
        quantize(F.col("forecast_next"), 4).alias("forecast_next"),
    )


def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt–Winters with daily seasonality per event type.
    See `hw_from_cells`."""
    return hw_from_cells(holt_cells(load_table(spark, sf_dir, "events")))


def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing of the hourly count series per
    event type. See `holt_from_cells`."""
    return holt_from_cells(
        holt_cells(load_table(spark, sf_dir, "events"))
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
    count release over the (hour, event_type) contingency table —
    closing the privacy tier (`events_l_diversity` audits attribute
    diversity, this one PUBLISHES a table with a formal epsilon
    guarantee). Noise is a deterministic inverse-CDF draw keyed on
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
    "events_dp_median": events_dp_median,
    "events_quantile_treatment_effect": events_quantile_treatment_effect,
    "events_absorption": events_absorption,
    "events_dp_user_total": events_dp_user_total,
    "events_holt_linear": events_holt_linear,
    "events_holt_winters": events_holt_winters,
    "events_dp_hourly": events_dp_hourly,
    "events_hour_concentration": events_hour_concentration,
    "events_adoption_curve": events_adoption_curve,
    "events_concurrency_curve": events_concurrency_curve,
    "events_l_diversity": events_l_diversity,
    "events_sen_slope": events_sen_slope,
    "events_value_psi": events_value_psi,
    "events_coverage": events_coverage,
    "events_ewma_control": events_ewma_control,
    "events_session_stats": events_session_stats,
    "events_forecast_scorecard": events_forecast_scorecard,
    "events_mann_kendall": events_mann_kendall,
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
    "events_bot_detection": events_bot_detection,
    "events_new_vs_returning": events_new_vs_returning,
    "events_user_activity_quantiles": events_user_activity_quantiles,
    "events_hourly_profile": events_hourly_profile,
    "events_type_share_trend": events_type_share_trend,
    "events_anomaly_mad": events_anomaly_mad,
    "events_interarrival": events_interarrival,
    "events_forecast_hourly": events_forecast_hourly,
    "events_seasonal_decompose": events_seasonal_decompose,
    "events_autocorr": events_autocorr,
    "events_anomaly_residual": events_anomaly_residual,
    "events_gini": events_gini,
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


ORACLE["events_bot_detection"] = f"""
    WITH g AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS gap_us
      FROM events
    ),
    per AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(ts_us) - min(ts_us) AS BIGINT) AS span_us,
             CAST(min(gap_us) AS BIGINT) AS min_gap_us
      FROM g GROUP BY 1
    )
    SELECT user_id, n_events, span_us, min_gap_us,
           {sql_quantize(
               'CASE WHEN span_us > 0 THEN CAST(n_events AS DOUBLE)'
               ' / (CAST(span_us AS DOUBLE) / 60000000.0)'
               ' ELSE 0.0 END', 4)} AS events_per_min,
           (n_events >= {BOT_MIN_EVENTS} AND span_us > 0
            AND {sql_quantize(
                'CASE WHEN span_us > 0 THEN CAST(n_events AS DOUBLE)'
                ' / (CAST(span_us AS DOUBLE) / 60000000.0)'
                ' ELSE 0.0 END', 4)} >= {BOT_RATE_PER_MIN})
             AS bot_suspect
    FROM per
"""

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

ORACLE["events_anomaly_mad"] = f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour, count(*) AS n
      FROM events GROUP BY 1
    ),
    hod AS (
      SELECT CAST(extract(hour FROM hour) AS BIGINT) AS hour_of_day,
             CAST(n AS DOUBLE) AS n
      FROM hourly
    ),
    med AS (
      SELECT hour_of_day, quantile_cont(n, 0.5) AS med
      FROM hod GROUP BY 1
    ),
    dev AS (
      SELECT hod.hour_of_day, hod.n, med.med,
             abs(hod.n - med.med) AS adev
      FROM hod JOIN med USING (hour_of_day)
    ),
    mad AS (
      SELECT hour_of_day, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY 1
    )
    SELECT d.hour_of_day,
           CAST(count(*) AS BIGINT) AS n_hours,
           {sql_quantize('any_value(d.med)', 4)} AS med_n,
           {sql_quantize('any_value(m.mad)', 4)} AS mad_n,
           CAST(sum(CASE WHEN m.mad > 0 AND d.adev > 3 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM dev d JOIN mad m USING (hour_of_day)
    GROUP BY 1
"""

ORACLE["events_interarrival"] = f"""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts)
               - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                         ORDER BY epoch_us(ts), event_id)
               AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_gaps,
           {sql_quantize('quantile_cont(gap_us, 0.5)', 4)} AS med_gap_us,
           {sql_quantize('quantile_cont(gap_us, 0.9)', 4)} AS p90_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY 1
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


ORACLE["events_seasonal_decompose"] = f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    h2 AS (
      SELECT hour, date_trunc('day', hour) AS day,
             CAST(extract(hour FROM hour) AS BIGINT) AS hour_of_day, n
      FROM hourly
    ),
    day_m AS (
      SELECT day, CAST(sum(n) AS DOUBLE) / count(*) AS day_mean
      FROM h2 GROUP BY 1
    ),
    hod_m AS (
      SELECT hour_of_day, CAST(sum(n) AS DOUBLE) / count(*) AS hod_mean
      FROM h2 GROUP BY 1
    ),
    grand AS (
      SELECT CAST(sum(n) AS DOUBLE) / count(*) AS grand_mean FROM h2
    )
    SELECT h2.hour, h2.n,
           {sql_quantize('day_m.day_mean', 4)} AS day_effect,
           {sql_quantize('hod_m.hod_mean', 4)} AS hod_effect,
           {sql_quantize(
               'day_m.day_mean + hod_m.hod_mean - grand.grand_mean', 4)}
             AS fitted,
           {sql_quantize(
               'h2.n - (day_m.day_mean + hod_m.hod_mean'
               ' - grand.grand_mean)', 4)} AS residual
    FROM h2
    JOIN day_m USING (day)
    JOIN hod_m USING (hour_of_day), grand
"""

ORACLE["events_autocorr"] = f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    l1 AS (
      SELECT a.n, b.n AS m
      FROM hourly a
      JOIN hourly b ON a.hour = b.hour + INTERVAL 1 HOUR
    ),
    l24 AS (
      SELECT a.n, b.n AS m
      FROM hourly a
      JOIN hourly b ON a.hour = b.hour + INTERVAL 24 HOURS
    ),
    c1 AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs_lag1,
             {sql_quantize(
                 'CAST(count(*) * sum(n * m) - sum(n) * sum(m) AS DOUBLE)'
                 ' / sqrt(CAST(count(*) * sum(n * n)'
                 ' - sum(n) * sum(n) AS DOUBLE)'
                 ' * CAST(count(*) * sum(m * m)'
                 ' - sum(m) * sum(m) AS DOUBLE))', 4)} AS acf_lag1
      FROM l1
    ),
    c24 AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs_lag24,
             {sql_quantize(
                 'CAST(count(*) * sum(n * m) - sum(n) * sum(m) AS DOUBLE)'
                 ' / sqrt(CAST(count(*) * sum(n * n)'
                 ' - sum(n) * sum(n) AS DOUBLE)'
                 ' * CAST(count(*) * sum(m * m)'
                 ' - sum(m) * sum(m) AS DOUBLE))', 4)} AS acf_lag24
      FROM l24
    )
    SELECT c1.n_pairs_lag1, c1.acf_lag1,
           c24.n_pairs_lag24, c24.acf_lag24
    FROM c1, c24
"""

ORACLE["events_anomaly_residual"] = f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    h2 AS (
      SELECT hour, date_trunc('day', hour) AS day,
             CAST(extract(hour FROM hour) AS BIGINT) AS hour_of_day, n
      FROM hourly
    ),
    day_m AS (
      SELECT day, CAST(sum(n) AS DOUBLE) / count(*) AS day_mean
      FROM h2 GROUP BY 1
    ),
    hod_m AS (
      SELECT hour_of_day, CAST(sum(n) AS DOUBLE) / count(*) AS hod_mean
      FROM h2 GROUP BY 1
    ),
    grand AS (
      SELECT CAST(sum(n) AS DOUBLE) / count(*) AS grand_mean FROM h2
    ),
    dec AS (
      SELECT h2.hour, h2.n,
             {sql_quantize(
                 'day_m.day_mean + hod_m.hod_mean - grand.grand_mean',
                 4)} AS fitted,
             {sql_quantize(
                 'h2.n - (day_m.day_mean + hod_m.hod_mean'
                 ' - grand.grand_mean)', 4)} AS residual
      FROM h2
      JOIN day_m USING (day)
      JOIN hod_m USING (hour_of_day), grand
    ),
    med AS (SELECT quantile_cont(residual, 0.5) AS med_r FROM dec),
    dev AS (
      SELECT dec.*, med.med_r,
             abs(dec.residual - med.med_r) AS adev
      FROM dec, med
    ),
    mad AS (SELECT quantile_cont(adev, 0.5) AS mad_r FROM dev)
    SELECT dev.hour, dev.n, dev.fitted, dev.residual,
           {sql_quantize('dev.med_r', 4)} AS med_residual,
           {sql_quantize('mad.mad_r', 4)} AS mad_residual
    FROM dev, mad
    WHERE mad.mad_r > 0 AND dev.adev > 3 * mad.mad_r
"""

ORACLE["events_gini"] = f"""
    WITH per AS (
      SELECT user_id, count(*) AS v FROM events GROUP BY 1
    ),
    hist AS (SELECT v, count(*) AS m FROM per GROUP BY 1),
    s AS (
      SELECT sum(a.m * b.m * abs(a.v - b.v)) AS s
      FROM hist a, hist b
    ),
    tot AS (
      SELECT sum(m) AS n_users, sum(m * v) AS total_events FROM hist
    )
    SELECT CAST(tot.n_users AS BIGINT) AS n_users,
           {sql_quantize(
               'CAST(tot.total_events AS DOUBLE) / tot.n_users', 4)}
             AS mean_activity,
           {sql_quantize(
               'CAST(s.s AS DOUBLE) / (2.0'
               ' * CAST(tot.n_users AS DOUBLE)'
               ' * CAST(tot.total_events AS DOUBLE))', 6)} AS gini
    FROM s, tot
"""


ORACLE["events_mann_kendall"] = f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(coalesce(sum(CAST(sign(b.n - a.n) AS BIGINT)), 0)
        AS BIGINT) AS s
      FROM hourly a JOIN hourly b ON a.hour < b.hour
    ),
    ties AS (
      SELECT CAST(count(*) AS BIGINT) AS t FROM hourly GROUP BY n
    ),
    tt AS (
      SELECT sum(t * (t - 1) * (2 * t + 5)) AS tie_sum,
             CAST(sum(t) AS BIGINT) AS n_hours
      FROM ties
    ),
    v AS (
      SELECT s.s, tt.n_hours,
             CAST(tt.n_hours * (tt.n_hours - 1) * (2 * tt.n_hours + 5)
                  - tt.tie_sum AS DOUBLE) / 18.0 AS var_s
      FROM s, tt
    )
    SELECT n_hours,
           s AS s_stat,
           {sql_quantize('var_s', 4)} AS var_s,
           {sql_quantize(
               'CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)'
               ' WHEN s < 0 THEN (s + 1) / sqrt(var_s)'
               ' ELSE 0.0 END', 4)} AS z_stat,
           CASE
             WHEN {sql_quantize(
                 'CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)'
                 ' WHEN s < 0 THEN (s + 1) / sqrt(var_s)'
                 ' ELSE 0.0 END', 4)} > 1.96 THEN 'increasing'
             WHEN {sql_quantize(
                 'CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)'
                 ' WHEN s < 0 THEN (s + 1) / sqrt(var_s)'
                 ' ELSE 0.0 END', 4)} < -1.96 THEN 'decreasing'
             ELSE 'none'
           END AS trend
    FROM v
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


ORACLE["events_coverage"] = f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour
      FROM events GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type,
             CAST(epoch_us(hour) / 3600000000 AS BIGINT) AS t,
             CAST(epoch_us(hour) / 3600000000 AS BIGINT)
               - lag(CAST(epoch_us(hour) / 3600000000 AS BIGINT))
                 OVER (PARTITION BY event_type ORDER BY hour) - 1
               AS gap
      FROM hourly
    ),
    per AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS observed_hours,
             CAST(max(t) - min(t) + 1 AS BIGINT) AS span_hours,
             CAST(coalesce(max(gap), 0) AS BIGINT)
               AS longest_silence_hours
      FROM x GROUP BY 1
    )
    SELECT event_type, observed_hours, span_hours,
           longest_silence_hours,
           {sql_quantize(
               'CAST(observed_hours AS DOUBLE) / span_hours', 6)}
             AS coverage
    FROM per
"""


ORACLE["events_value_psi"] = f"""
    WITH ev AS (
      SELECT epoch_us(ts) AS ts_us,
             CAST(floor(value / 10.0) AS BIGINT) AS bucket
      FROM events
    ),
    med AS (SELECT quantile_cont(ts_us, 0.5) AS med_us FROM ev),
    cells AS (
      SELECT bucket,
             CAST(sum(CASE WHEN ts_us <= med_us THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
             CAST(sum(CASE WHEN ts_us <= med_us THEN 0 ELSE 1 END)
               AS BIGINT) AS n2
      FROM ev CROSS JOIN med GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n1) AS BIGINT) AS t1,
             CAST(sum(n2) AS BIGINT) AS t2,
             CAST(count(*) AS BIGINT) AS b
      FROM cells
    ),
    rows_ AS (
      SELECT bucket, n1, n2,
             (CAST(n2 + 1 AS DOUBLE) / (t2 + b)
              - CAST(n1 + 1 AS DOUBLE) / (t1 + b))
             * ln((CAST(n2 + 1 AS DOUBLE) / (t2 + b))
                  / (CAST(n1 + 1 AS DOUBLE) / (t1 + b))) AS contrib
      FROM cells CROSS JOIN tot
    ),
    s AS (SELECT sum(contrib) AS psi_sum FROM rows_)
    SELECT bucket, n1, n2,
           {sql_quantize('contrib', 6)} AS psi_contrib,
           {sql_quantize('psi_sum', 6)} AS psi_total
    FROM rows_ CROSS JOIN s
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


ORACLE["events_ewma_control"] = f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    sm AS (
      SELECT a.hour AS ht, a.n AS xt,
             sum(pow(0.7, (epoch_us(a.hour) - epoch_us(b.hour))
                          / 3600000000.0) * b.n)
               / sum(pow(0.7, (epoch_us(a.hour) - epoch_us(b.hour))
                             / 3600000000.0)) AS ewma_prior
      FROM hourly a JOIN hourly b ON b.hour < a.hour
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT ht, xt,
             {sql_quantize('ewma_prior', 4)} AS ewma_prior,
             {sql_quantize('xt - ewma_prior', 6)} AS resid
      FROM sm
    ),
    sig AS (
      SELECT {sql_quantize(
          'sqrt(sum(resid * resid) / count(*))', 4)} AS sigma
      FROM scored
    )
    SELECT ht AS hour, xt AS n_events, ewma_prior,
           {sql_quantize('resid', 4)} AS residual,
           sig.sigma,
           (abs(resid) > 3 * sig.sigma) AS breach
    FROM scored, sig
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

ORACLE["events_l_diversity"] = f"""
    WITH cells AS (
      SELECT event_type, hour(ts) AS hod,
             CAST(floor(value / 10.0) AS BIGINT) AS vb,
             CAST(count(*) AS BIGINT) AS g,
             CAST(count(DISTINCT user_id) AS BIGINT) AS l
      FROM events GROUP BY 1, 2, 3
    )
    SELECT CAST(sum(g) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(l) AS BIGINT) AS min_diversity,
           CAST(sum(CASE WHEN l < {L_DIVERSITY} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_low_diversity_groups,
           CAST(sum(CASE WHEN l < {L_DIVERSITY} THEN g ELSE 0 END)
             AS BIGINT) AS rows_at_risk,
           {sql_quantize(
               'CAST(sum(CASE WHEN l < ' + str(L_DIVERSITY) +
               ' THEN g ELSE 0 END) AS DOUBLE) / sum(g)', 6)}
             AS risk_share
    FROM cells
"""

ORACLE["events_adoption_curve"] = f"""
    WITH first_seen AS (
      SELECT user_id, min(date_trunc('day', ts)) AS first_day
      FROM events GROUP BY 1
    ),
    daily AS (
      SELECT first_day AS day,
             CAST(count(*) AS BIGINT) AS n_first_seen
      FROM first_seen GROUP BY 1
    ),
    cum AS (
      SELECT a.day, a.n_first_seen,
             CAST(sum(b.n_first_seen) AS BIGINT) AS cum_users
      FROM daily a JOIN daily b ON b.day <= a.day
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM first_seen)
    SELECT day, n_first_seen, cum_users,
           {sql_quantize('CAST(cum_users AS DOUBLE) / n_total', 6)}
             AS penetration
    FROM cum CROSS JOIN tot
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


ORACLE["events_holt_linear"] = f"""
    WITH RECURSIVE cells AS (
      SELECT event_type,
             epoch_us(date_trunc('hour', ts)) AS hour_us,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT min(hour_us) AS mn, max(hour_us) AS mx FROM cells),
    cal AS (
      SELECT t.event_type,
             unnest(generate_series(b.mn, b.mx, {HOUR_US})) AS hour_us
      FROM (SELECT DISTINCT event_type FROM cells) t CROSS JOIN b
    ),
    series AS (
      SELECT cal.event_type, cal.hour_us,
             CAST(coalesce(c.cnt, 0) AS DOUBLE) AS y,
             row_number() OVER (
               PARTITION BY cal.event_type ORDER BY cal.hour_us
             ) AS rn
      FROM cal LEFT JOIN cells c
        ON c.event_type = cal.event_type AND c.hour_us = cal.hour_us
    ),
    walk AS (
      SELECT event_type, rn, y AS lev, CAST(0.0 AS DOUBLE) AS tr
      FROM series WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.rn,
             {HOLT_ALPHA!r} * s.y
               + {1.0 - HOLT_ALPHA!r} * (w.lev + w.tr),
             {HOLT_BETA!r} * (({HOLT_ALPHA!r} * s.y
               + {1.0 - HOLT_ALPHA!r} * (w.lev + w.tr)) - w.lev)
               + {1.0 - HOLT_BETA!r} * w.tr
      FROM walk w JOIN series s
        ON s.event_type = w.event_type AND s.rn = w.rn + 1
    ),
    last AS (
      SELECT event_type, rn, lev, tr,
             row_number() OVER (
               PARTITION BY event_type ORDER BY rn DESC
             ) AS rev
      FROM walk
    )
    SELECT event_type, CAST(rn AS BIGINT) AS n_hours,
           {sql_quantize('lev', 4)} AS level,
           {sql_quantize('tr', 4)} AS trend,
           {sql_quantize('lev + tr', 4)} AS forecast_next
    FROM last WHERE rev = 1
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


ORACLE["events_dp_median"] = f"""
    WITH bins AS (
      SELECT CAST(floor(value) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n_bin
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_bin) AS BIGINT) AS n FROM bins),
    ranked AS (
      SELECT a.bin, CAST(sum(b.n_bin) AS BIGINT) AS cum
      FROM bins a JOIN bins b ON b.bin <= a.bin
      GROUP BY 1
    ),
    scored AS (
      SELECT r.bin,
             {DP_MEDIAN_EPS / 4.0!r} * (-abs(2 * r.cum - t.n))
             + (-ln(-ln(
                 (CAST(CAST(('0x' || substr(md5(
                    'dpm|' || CAST(r.bin AS VARCHAR)), 1, 8))
                    AS BIGINT) AS DOUBLE) + 0.5) / {DP_U_SCALE!r}
               ))) AS score
      FROM ranked r CROSS JOIN tot t
    )
    SELECT CAST(bin AS BIGINT) AS dp_median_bin,
           {DP_MEDIAN_EPS!r} AS epsilon
    FROM scored ORDER BY score DESC, bin LIMIT 1
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

ORACLE["events_holt_winters"] = f"""
    WITH RECURSIVE cells AS (
      SELECT event_type,
             epoch_us(date_trunc('hour', ts)) AS hour_us,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    b AS (SELECT min(hour_us) AS mn, max(hour_us) AS mx FROM cells),
    cal AS (
      SELECT t.event_type,
             unnest(generate_series(b.mn, b.mx, {HOUR_US})) AS hour_us
      FROM (SELECT DISTINCT event_type FROM cells) t CROSS JOIN b
    ),
    series AS (
      SELECT cal.event_type, cal.hour_us,
             CAST(coalesce(c.cnt, 0) AS DOUBLE) AS y,
             row_number() OVER (
               PARTITION BY cal.event_type ORDER BY cal.hour_us
             ) AS rn
      FROM cal LEFT JOIN cells c
        ON c.event_type = cal.event_type AND c.hour_us = cal.hour_us
    ),
    nmax AS (
      SELECT event_type, max(rn) AS n FROM series GROUP BY 1
    ),
    init AS (
      SELECT event_type,
             sum(CASE WHEN rn <= {HW_PERIOD} THEN y ELSE 0 END)
               / {float(HW_PERIOD)!r} AS lev0,
             list(y ORDER BY rn)
               FILTER (WHERE rn <= {HW_PERIOD}) AS y0
      FROM series GROUP BY 1
    ),
    walk(event_type, rn, lev, tr, s) AS (
      SELECT event_type, CAST({HW_PERIOD} AS BIGINT), lev0,
             CAST(0.0 AS DOUBLE),
             list_transform(y0, v -> v - lev0)
      FROM init
      UNION ALL
      SELECT w.event_type, w.rn + 1,
             {HOLT_ALPHA!r} * (sr.y - w.s[1])
               + {1.0 - HOLT_ALPHA!r} * (w.lev + w.tr),
             {HOLT_BETA!r} * (({HOLT_ALPHA!r} * (sr.y - w.s[1])
               + {1.0 - HOLT_ALPHA!r} * (w.lev + w.tr)) - w.lev)
               + {1.0 - HOLT_BETA!r} * w.tr,
             list_append(w.s[2:{HW_PERIOD}],
               {HW_GAMMA!r} * (sr.y - ({HOLT_ALPHA!r} * (sr.y - w.s[1])
                 + {1.0 - HOLT_ALPHA!r} * (w.lev + w.tr)))
               + {1.0 - HW_GAMMA!r} * w.s[1])
      FROM walk w JOIN series sr
        ON sr.event_type = w.event_type AND sr.rn = w.rn + 1
    ),
    last AS (
      SELECT w.event_type, w.rn, w.lev, w.tr, w.s
      FROM walk w JOIN nmax x
        ON x.event_type = w.event_type AND w.rn = x.n
    ),
    ks AS (SELECT unnest(generate_series(1, {HW_PERIOD})) AS k)
    SELECT l.event_type,
           CAST((l.rn - {HW_PERIOD} + ks.k - 1) % {HW_PERIOD}
                AS BIGINT) AS season_slot,
           {sql_quantize('l.s[CAST(ks.k AS INT)]', 4)} AS seasonal,
           {sql_quantize('l.lev', 4)} AS level,
           {sql_quantize('l.tr', 4)} AS trend,
           {sql_quantize('l.lev + l.tr + l.s[1]', 4)} AS forecast_next
    FROM last l CROSS JOIN ks
"""
