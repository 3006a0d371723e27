"""Focused r11-optimization regressions: queries whose composed
branches used to re-run corpus-sized upstreams (duplicated lineage)
now fold everything off one materialized hub. Two pins:

1. HUB_ZERO_SCAN keys: the FINAL plan holds zero parquet scans — all
   corpus work happens exactly once, inside the hub materialize job
   (the plan reads only checkpointed RDDs afterwards). A regression
   re-introducing a second corpus pass re-adds a `Scan parquet` node.
2. The unrolled power iteration (textrank) stays LINEAR in
   the iteration count: binding deg through the evolving ranks frame
   made the plan 2^ITERS-sized (252 nodes for 3 rounds); the static
   node-table formulation is ~79. The bound catches the exponential
   shape long before it matters, without pinning exact node counts.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()

HUB_ZERO_SCAN = [
    "corpus_textrank_terms",
    "corpus_dsir_weights",
    "corpus_dsir_sample",
    "corpus_keyphrase_rake",
    "search_map",
    "search_mrr",
    "events_anomaly_ensemble",
    "events_survival",
    "events_psi_injection_eval",
    "events_value_psi",
    "events_watermark_audit",
    "events_changepoint",
    "corpus_ppl_buckets",
    "corpus_burrows_delta",
    "corpus_entropy_rate",
    "corpus_collocations",
    "corpus_quality_length_spearman",
    "emb_cluster_quality",
    "knn_ivf_nprobe_curve",
    "knn_recall_report",
    "dedup_method_agreement",
]

_NODES = re.compile(r"^\(\d+\) ", re.M)


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


@pytest.mark.parametrize("key", ["corpus_textrank_terms"])
def test_power_iteration_plan_is_linear_in_rounds(spark, key):
    n = len(_NODES.findall(_plan(spark, key)))
    # linear shape is ~79 nodes for 3 rounds; the doubled-lineage
    # shape was 252 and grows 2^k — 150 separates them with margin
    assert n < 150, f"{key}: {n} plan nodes — lineage doubling is back"
