"""THE correctness gate: every queries() entry vs its DuckDB oracle.

Mirrors the driver's CORRECTNESS check (sf0.01, column-sorted,
order-insensitive value compare) so mismatches are caught locally.

r8: the gate runs CONCURRENTLY (VERDICT r7 item 6 — the 34-minute
suite had stopped being run casually). A session-scoped thread pool
submits one run_compare per SELECTED key — Spark schedules concurrent
jobs from threads natively, run_compare opens a DuckDB connection per
call, the catalog registers no fixed-name temp views, and streaming
twins drain into uuid-named memory sinks, so keys are independent.
Each parametrized test just awaits ITS future: one test per key, same
per-key failure reporting, ~1/6 the wall time. Targeted `-k key` runs
submit only the selected keys, so the dev loop is unchanged.
"""

from __future__ import annotations

import traceback
from concurrent.futures import ThreadPoolExecutor

import pytest

import __spark_entry__ as entrymod
from .conftest import SF_CORRECT, SF_SMOKE
from .oracle_utils import run_compare

QUERIES = entrymod.queries()
ORACLE = entrymod.oracle_sql()
KEYS_WITH_ORACLE = sorted(k for k in QUERIES if k in ORACLE)
KEYS_ROWS_ONLY = sorted(k for k in QUERIES if k not in ORACLE)

GATE_POOL_WORKERS = 16


def _compare_one(spark, key: str) -> list[str]:
    try:
        return run_compare(spark, SF_CORRECT, QUERIES[key], ORACLE[key])
    except Exception:
        return [f"exception:\n{traceback.format_exc()}"]


@pytest.fixture(scope="session")
def oracle_futures(request, spark):
    keys = sorted(
        {
            item.callspec.params["key"]
            for item in request.session.items
            if getattr(item, "originalname", None)
            == "test_oracle_match_sf001"
        }
    )
    pool = ThreadPoolExecutor(
        max_workers=min(GATE_POOL_WORKERS, max(1, len(keys)))
    )
    futures = {k: pool.submit(_compare_one, spark, k) for k in keys}
    yield futures
    pool.shutdown(wait=False, cancel_futures=True)


@pytest.mark.parametrize("key", KEYS_WITH_ORACLE)
def test_oracle_match_sf001(oracle_futures, key):
    problems = oracle_futures[key].result()
    assert not problems, f"{key}: " + "; ".join(problems)


def test_gate_pool_reports_failures_not_swallows(spark, monkeypatch):
    """Meta-guard on the pooled gate itself: a crashing query and a
    mismatching oracle must surface as per-key problem lists (the
    future machinery must never turn a failure into a silent pass)."""
    monkeypatch.setitem(
        QUERIES, "__boom__", lambda s, sf: (_ for _ in ()).throw(
            RuntimeError("kaboom")
        )
    )
    monkeypatch.setitem(ORACLE, "__boom__", "SELECT 1 AS x")
    out = _compare_one(spark, "__boom__")
    assert out and "exception" in out[0] and "kaboom" in out[0]

    monkeypatch.setitem(
        QUERIES,
        "__mismatch__",
        lambda s, sf: s.range(1).selectExpr("CAST(2 AS BIGINT) AS x"),
    )
    monkeypatch.setitem(ORACLE, "__mismatch__", "SELECT CAST(1 AS BIGINT) AS x")
    out = _compare_one(spark, "__mismatch__")
    assert out, "value mismatch must produce problems"


def test_every_entry_has_an_oracle():
    """r7: the last three rows-only entries (emb_pca_project,
    knn_ivf_trained, multimodal_decode) were converted to invariant
    oracles — no catalog entry may regress to rows-only."""
    assert KEYS_ROWS_ONLY == []


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_all_queries_run_smoke(spark):
    from pyspark.sql.types import ArrayType, MapType, StructType

    def smoke_one(item) -> list[str]:
        key, fn = item
        problems: list[str] = []
        try:
            df = fn(spark, SF_SMOKE)
            if not df.columns:
                problems.append(f"{key}: no columns")
            # the driver's canonicalizer sorts rows via pandas, which
            # cannot factorize nested cells — an array/map/struct
            # output column crashes even the rows-only check (the r5
            # regression class: emb_pca_project/multimodal_features
            # shipped red). Catalog entries must posexplode/digest
            # nested shapes.
            for f in df.schema.fields:
                if isinstance(
                    f.dataType, (ArrayType, MapType, StructType)
                ):
                    problems.append(
                        f"{key}.{f.name} is "
                        f"{f.dataType.simpleString()}"
                    )
        except Exception:
            problems.append(f"{key}:\n{traceback.format_exc()}")
        return problems

    with ThreadPoolExecutor(max_workers=GATE_POOL_WORKERS) as pool:
        failures = [
            p
            for probs in pool.map(smoke_one, QUERIES.items())
            for p in probs
        ]
    assert not failures, "\n".join(failures)
