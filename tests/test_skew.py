"""Skew-injection robustness.

The test data draws near-uniform keys, so the classic 100×-scale
killer — one entity owning a macroscopic share of a fact table — is
never exercised by the oracle gate. These tests build a deliberately
Zipf-headed ledger (ONE customer owning ~30% of all orders) and a
whale-user event log, and prove:

1. the headline join queries and the user-keyed stateful event
   queries still hash-match their DuckDB oracles on the skewed data
   (correctness is key-distribution-free), and
2. AQE's runtime skew-split engages: it marks the sort-merge join
   (``skew=true``) when a partition blows past the threshold.

At sf0.001 every catalog join rightly broadcasts the dim side, so the
AQE test uses a synthetic fact big enough to shuffle, with the
broadcast threshold disabled and the skew thresholds lowered — the
point is the MECHANISM fires, not the toy byte counts.
"""

from __future__ import annotations

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from .conftest import SF_SMOKE
from .oracle_utils import TABLES, run_compare

HOT_SHARE = 0.30  # the hot customer's share of all orders

# join-heavy headline keys: customer⋈orders⋈lineitem chains and the
# group-by-custkey shapes that a hot customer stresses hardest
SKEW_KEYS = [
    "q3_shipping_priority",
    "q10_returned_items",
    "q13_customer_distribution",
    "q18_large_orders",
]


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    """sf0.001 with ~30% of orders reassigned to ONE customer.

    Only o_custkey changes (the customer⋈orders join key): order keys,
    prices, dates — everything an oracle aggregates — stay intact, so
    the same SQL remains the ground truth on the new distribution.
    The reassignment is deterministic (every 10th/3-of-10 order by
    row order) — no RNG, so reruns compare identical frames.
    """
    src = SF_SMOKE
    dst = tmp_path_factory.mktemp("skewdata")
    for t in TABLES:
        shutil.copy(f"{src}/{t}.parquet", dst / f"{t}.parquet")

    orders = pd.read_parquet(dst / "orders.parquet")
    cust = pd.read_parquet(dst / "customer.parquet")
    hot = int(cust["c_custkey"].iloc[0])
    n = len(orders)
    take = int(n * HOT_SHARE)
    # deterministic spread across the file: every ceil(n/take)-th row
    stride = max(1, n // take)
    idx = orders.index[::stride][:take]
    orders.loc[idx, "o_custkey"] = hot
    orders.to_parquet(dst / "orders.parquet", index=False)
    share = (orders["o_custkey"] == hot).mean()
    assert share >= 0.25, f"hot share only {share:.2%}"
    return str(dst)


@pytest.fixture(scope="module")
def user_skew_dir(tmp_path_factory):
    """sf0.001 with ~30% of events reassigned to ONE user — the
    stateful-op analog of the hot-customer ledger: sessionization,
    user paths, and journey attribution all key their shuffles and
    window/state folds on user_id, so one whale user is the partition
    that AQE cannot split (state for a key lives on one task). The
    engine must stay CORRECT; these ops' per-user state is bounded by
    design (session windows close, journeys truncate at purchase)."""
    src = SF_SMOKE
    dst = tmp_path_factory.mktemp("userskew")
    for t in TABLES:
        shutil.copy(f"{src}/{t}.parquet", dst / f"{t}.parquet")
    ev = pd.read_parquet(dst / "events.parquet")
    hot = int(ev["user_id"].iloc[0])
    n = len(ev)
    take = int(n * HOT_SHARE)
    stride = max(1, n // take)
    idx = ev.index[::stride][:take]
    ev.loc[idx, "user_id"] = hot
    ev.to_parquet(dst / "events.parquet", index=False)
    assert (ev["user_id"] == hot).mean() >= 0.25
    return str(dst)


def test_stateful_event_ops_hash_match_under_user_skew(
    spark, user_skew_dir
):
    """A whale user owning ~30% of the event log must not change
    correctness of the user-keyed stateful ops — sessionize (event-
    time windows per user), session stats, user paths, and the
    journey-based Markov attribution all still match their oracles
    exactly on the skewed log."""
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    for key in [
        "events_sessionize",
        "events_session_stats",
        "events_user_paths",
        "events_attribution_markov",
    ]:
        issues = run_compare(spark, user_skew_dir, qs[key], osql[key])
        assert not issues, f"{key} under user skew: {issues}"


def test_headline_joins_hash_match_under_zipf_skew(spark, skew_dir):
    """Correctness is distribution-free: the same oracle SQL over the
    skewed parquet must still match every headline join query
    row-for-row (the exact driver compare, column/row-sorted)."""
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    for key in SKEW_KEYS:
        issues = run_compare(spark, skew_dir, qs[key], osql[key])
        assert not issues, f"{key} under skew: {issues}"


def test_aqe_splits_skewed_sortmerge_join(spark):
    """The runtime mitigation engages: with broadcast disabled and the
    skew thresholds lowered to toy scale, a fact table whose hot key
    owns ~50% of rows must come back from AQE with the sort-merge
    join marked ``skew=true`` — the split that keeps one straggler
    partition from serializing a 1000-executor stage.

    Conf isolation (ADVICE r8): the broadcast/skew-threshold mutations
    run on a ``newSession()`` — its OWN runtime SQL conf over the
    shared context — so no ordering of pooled futures, test
    reshuffling, or xdist split can leak these thresholds into a
    concurrently running catalog query."""
    spark = spark.newSession()
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "4KB",
    }
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        n = 400_000
        fact = spark.range(n).select(
            F.when(F.col("id") % 2 == 0, F.lit(7))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)))
            .cast("long")
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("d"), F.col("id")).alias("name"),
        )
        joined = fact.join(dim, "k")
        # collect() executes THIS DataFrame's QueryExecution (count()
        # would build a fresh one), so the AdaptiveSparkPlan below is
        # the final, runtime-re-planned tree
        rows = joined.collect()
        assert len(rows) >= n // 2  # hot key fully joined
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, plan[:2000]
    finally:
        # the conf overlay dies with the throwaway session; unset
        # anyway so a session-caching future refactor can't resurrect
        # the toy thresholds
        for k in confs:
            spark.conf.unset(k)

