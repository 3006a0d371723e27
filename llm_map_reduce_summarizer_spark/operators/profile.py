"""Generic column-profile operator: the ingest-validation primitive.

Given a table and the subset of its columns with a numeric reading,
produce one report row per column — null count/share, EXACT distinct
count, numeric min/max — in a single wide aggregate over one scan,
reshaped to the long report via ``stack`` (a 1-row transpose, no
shuffle, no nested types, so the result is driver-canonicalizable).

Scale: null counts and ranges are map-side-combined aggs; the exact
distincts expand the scan k-fold (Spark's count-distinct expand) —
the honest exact tier at profile cadence; at 100 TB swap
``approx_count_distinct`` into the same shape (one flag, same plan
otherwise). Used by ``docs_column_profile``.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import quantize


def column_profile(
    df: DataFrame,
    cols: Sequence[str],
    numeric: Mapping[str, Column],
) -> DataFrame:
    """One report row per column of ``df`` named in ``cols``.

    ``numeric`` maps a column name to its numeric reading (cast to
    double by the caller — e.g. ``unix_micros`` for timestamps);
    columns absent from it report NULL ranges.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nn_{c}")
        )
        aggs.append(
            F.count_distinct(F.col(c)).cast("long").alias(f"nd_{c}")
        )
        lo = (
            F.min(numeric[c])
            if c in numeric
            else F.lit(None).cast("double")
        )
        hi = (
            F.max(numeric[c])
            if c in numeric
            else F.lit(None).cast("double")
        )
        aggs.append(lo.alias(f"lo_{c}"))
        aggs.append(hi.alias(f"hi_{c}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, lo_{c}, hi_{c}" for c in cols
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack_args})"
        " AS (column_name, n_nulls, n_distinct, min_num, max_num)",
    ).select(
        "column_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        F.when(
            F.col("n_rows") > 0,
            quantize(
                F.col("n_nulls").cast("double") / F.col("n_rows"), 6
            ),
        ).alias("null_share"),
        "min_num",
        "max_num",
    )


def profile_oracle_sql(
    table: str,
    cols: Sequence[str],
    numeric: Mapping[str, str],
) -> str:
    """The DuckDB twin: one wide-agg CTE + a per-column UNION ALL
    reshape. ``numeric`` maps column name -> SQL expression for its
    numeric reading (e.g. ``epoch_us(ts)``)."""
    from ..functions.text import sql_quantize

    wide_parts = ["CAST(count(*) AS BIGINT) AS n_rows"]
    for c in cols:
        wide_parts.append(
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS nn_{c}"
        )
        wide_parts.append(
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c}"
        )
        if c in numeric:
            wide_parts.append(
                f"CAST(min({numeric[c]}) AS DOUBLE) AS lo_{c}"
            )
            wide_parts.append(
                f"CAST(max({numeric[c]}) AS DOUBLE) AS hi_{c}"
            )
    selects = []
    for c in cols:
        share = (
            "CASE WHEN n_rows > 0 THEN "
            + sql_quantize(f"CAST(nn_{c} AS DOUBLE) / n_rows", 6)
            + " END"
        )
        lo = f"lo_{c}" if c in numeric else "CAST(NULL AS DOUBLE)"
        hi = f"hi_{c}" if c in numeric else "CAST(NULL AS DOUBLE)"
        selects.append(
            f"SELECT '{c}' AS column_name, n_rows,"
            f" nn_{c} AS n_nulls, nd_{c} AS n_distinct,"
            f" {share} AS null_share,"
            f" {lo} AS min_num, {hi} AS max_num FROM wide"
        )
    return (
        "WITH wide AS (SELECT "
        + ", ".join(wide_parts)
        + f" FROM {table}) "
        + " UNION ALL ".join(selects)
    )
