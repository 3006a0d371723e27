"""Skew-injection robustness.

The test data draws near-uniform keys, so the classic 100×-scale
killer — one entity owning a macroscopic share of a table — is never
exercised by the oracle gate. These tests build a whale-user event
log (ONE user owning ~30% of all events) and prove:

1. the user-keyed stateful event queries still hash-match their
   DuckDB oracles on the skewed log (correctness is
   key-distribution-free), and
2. AQE's runtime skew-split engages: it marks the sort-merge join
   (``skew=true``) when a partition blows past the threshold.

At sf0.001 the catalog's joins rightly broadcast the small side, so
the AQE test uses a synthetic fact big enough to shuffle, with the
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

HOT_SHARE = 0.30  # the whale user's share of all events


@pytest.fixture(scope="module")
def user_skew_dir(tmp_path_factory):
    """sf0.001 with ~30% of events reassigned to ONE user.
    Sessionization, user paths and journey attribution all key their
    shuffles and window/state folds on user_id, so one whale user is
    the partition that AQE cannot split (state for a key lives on one task). The
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
    time windows per user), session stats and user paths all still
    match their oracles exactly on the skewed log."""
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    for key in [
        "events_sessionize",
        "events_session_stats",
        "events_user_paths",
    ]:
        issues = run_compare(spark, user_skew_dir, qs[key], osql[key])
        assert not issues, f"{key} under user skew: {issues}"


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

