"""Focused r11-optimization regressions: queries whose composed
branches used to re-run corpus-sized upstreams (duplicated lineage)
now fold everything off one materialized hub. Two pins:

1. HUB_ZERO_SCAN keys: the FINAL plan holds zero parquet scans — all
   corpus work happens exactly once, inside the hub materialize job
   (the plan reads only checkpointed RDDs afterwards). A regression
   re-introducing a second corpus pass re-adds a `Scan parquet` node.
2. corpus_prep_e2e reads the documents table in ONE parquet scan over
   a whole pass — every SQL execution it starts, checkpoints included —
   so the quality and language scoring runs once per document.
"""

from __future__ import annotations

import os
import re

import pytest

import __spark_entry__ as entrymod
from .oracle_utils import compare_frames

SF = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()

HUB_ZERO_SCAN = [
    "corpus_dsir_weights",
    "corpus_dsir_sample",
    "search_map",
    "search_mrr",
    "corpus_ppl_buckets",
    "corpus_collocations",
    "corpus_quality_length_spearman",
    "emb_cluster_quality",
    "knn_ivf_nprobe_curve",
    "knn_recall_report",
    "dedup_method_agreement",
    "corpus_prep_e2e",
]

_FINAL_PLANS = re.compile(r"== Final Plan ==(.*?)== Initial Plan ==", re.S)
_SCANS = re.compile(r"Scan parquet\s+\((\d+)\)")


def _plan(spark, key: str) -> str:
    df = QUERIES[key](spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("key", HUB_ZERO_SCAN)
def test_final_plan_reads_only_the_materialized_hub(spark, key):
    plan = _plan(spark, key)
    assert ") Scan parquet" not in plan, (
        f"{key}: a branch re-reads the source table — the hub "
        "materialize no longer covers every consumer"
    )


def _parquet_scans_since(spark, last_id: int) -> tuple[int, int]:
    """(parquet scan nodes in the final plans, SQL executions) over the
    executions after ``last_id``; an execution without an adaptive plan
    counts its whole tree."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    scans = n = 0
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.executionId() <= last_id:
            break
        plan = e.physicalPlanDescription()
        trees = _FINAL_PLANS.findall(plan) or [plan.split("\n\n", 1)[0]]
        scans += len({m for t in trees for m in _SCANS.findall(t)})
        n += 1
    return scans, n


def _last_execution_id(spark) -> int:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def test_corpus_prep_scans_and_scores_once(spark, tmp_path):
    """One corpus_prep_e2e pass over one small file with a row group per
    core (one planned split: without the spread, one task scans and
    scores everything) holds one parquet scan across every SQL
    execution it starts, and its rows equal the DuckDB twin's with the
    spread on and off."""
    import duckdb
    import pyarrow.parquet as pq

    from llm_map_reduce_summarizer_spark.plans.documents import (
        ORACLE,
        corpus_prep_e2e,
    )
    from llm_map_reduce_summarizer_spark.sources.tables import SPREAD_CONF

    par = spark.sparkContext.defaultParallelism
    table = pq.read_table(os.path.join(SF, "documents.parquet"))
    path = os.path.join(str(tmp_path), "documents.parquet")
    pq.write_table(table, path, row_group_size=-(-table.num_rows // par))
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        want = con.execute(ORACLE["corpus_prep_e2e"]).df()
    finally:
        con.close()
    assert len(want) > 0

    for spread in ("true", "false"):
        spark.conf.set(SPREAD_CONF, spread)
        try:
            last = _last_execution_id(spark)
            got = corpus_prep_e2e(spark, str(tmp_path)).toPandas()
            scans, n = _parquet_scans_since(spark, last)
        finally:
            spark.conf.set(SPREAD_CONF, "true")
        assert scans == 1, (
            f"spread={spread}: {scans} parquet scans over {n} executions — "
            "the documents table is read (and scored) more than once"
        )
        assert compare_frames(got, want) == [], f"spread={spread}"
