"""Query-catalog interface of the package.

``entry(spark)`` runs the flagship query on sf0.001.
``queries()`` maps every implemented operator (SURVEY.md §2) to a
``(spark, sf_dir) -> DataFrame`` callable, in definition order: plan
modules alphabetically, then each module's ``QUERIES`` order.
``oracle_sql()`` gives the DuckDB-ANSI twin for each key, in the same
key order as ``queries()``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from llm_map_reduce_summarizer_spark.plans import (
    documents,
    events,
    pipeline,
    streams,
)

# Alphabetical by unqualified module name.
_PLAN_MODULES = [documents, events, pipeline, streams]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: ``pipeline_e2e`` on the sf0.001 test tables."""
    return pipeline.QUERIES["pipeline_e2e"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _PLAN_MODULES:
        merged.update(mod.QUERIES)
    return merged


def oracle_sql() -> dict[str, str]:
    merged: dict[str, str] = {}
    for mod in _PLAN_MODULES:
        merged.update(mod.ORACLE)
    # same key order as queries(), so positional consumers stay paired
    return {k: merged[k] for k in queries() if k in merged}
