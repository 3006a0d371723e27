"""Local mirror of the driver's Spark-vs-DuckDB correctness check.

Runs a queries() entry and its oracle_sql() twin on the same parquet
tables, sorts columns by name and rows by value, and compares values
(floats with tight tolerance — both sides already round inside the
query, so any drift beyond 1e-9 is a real semantics mismatch).
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

TABLES = ["events", "documents", "embeddings"]


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: sorted(v) if isinstance(v, (list, tuple, set)) else v
            ).map(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype(float)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _dtype_kind(dtype) -> str:
    """Coarse dtype class for driver-hash compatibility checks."""
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "datetime"
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    return "object"


def dtype_mismatches(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Columns whose raw dtype class differs between Spark and the oracle.

    The external verifier hashes raw values byte-level, so a DuckDB HUGEINT
    (object/float in pandas) vs a Spark bigint (int64) hash-mismatches even
    when every value is equal. Catch that locally before normalization.
    """
    a = {c.lower(): d for c, d in spark_pdf.dtypes.items()}
    b = {c.lower(): d for c, d in oracle_pdf.dtypes.items()}
    out = []
    for c in sorted(set(a) & set(b)):
        ka, kb = _dtype_kind(a[c]), _dtype_kind(b[c])
        if ka != kb:
            out.append(f"col {c}: dtype class spark={ka}({a[c]}) oracle={kb}({b[c]})")
    return out


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of human-readable mismatch descriptions (empty = match)."""
    problems: list[str] = dtype_mismatches(spark_pdf, oracle_pdf)
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        problems.append(f"columns differ: spark={list(a.columns)} oracle={list(b.columns)}")
        return problems
    if len(a) != len(b):
        problems.append(f"row count differs: spark={len(a)} oracle={len(b)}")
        return problems
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            for i, (x, y) in enumerate(zip(av.astype(float), bv.astype(float))):
                both_nan = (isinstance(x, float) and math.isnan(x)) and (
                    isinstance(y, float) and math.isnan(y)
                )
                if not both_nan and not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    problems.append(f"col {c} row {i}: spark={x!r} oracle={y!r}")
                    if len(problems) > 5:
                        return problems
        else:
            neq = av.astype(str) != bv.astype(str)
            if neq.any():
                i = int(neq.idxmax())
                problems.append(
                    f"col {c}: {int(neq.sum())} mismatches, first at row {i}: "
                    f"spark={av[i]!r} oracle={bv[i]!r}"
                )
    return problems


def run_compare(spark, sf_dir: str, query_fn, sql: str) -> list[str]:
    spark_pdf = query_fn(spark, sf_dir).toPandas()
    con = duckdb_con(sf_dir)
    try:
        oracle_pdf = con.execute(sql).df()
    finally:
        con.close()
    if len(spark_pdf) == 0 and len(oracle_pdf) == 0:
        return ["both sides returned 0 rows (vacuous match)"]
    return compare_frames(spark_pdf, oracle_pdf)
