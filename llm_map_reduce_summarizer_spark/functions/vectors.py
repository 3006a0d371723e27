"""Vector Column builders for embedding similarity.

Cosine similarity is built as an explicit left-associated 64-term
product chain in double precision: IEEE addition order then matches the
SQL twin term-for-term, so both engines produce bit-identical doubles
(sqrt and division are correctly-rounded IEEE ops).

At 100 TB prefer pre-normalizing vectors once (`unit_norm`) so top-k
scans do dot products only.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DIM = 64


def dot(a: Column, b: Column, dim: int = DIM) -> Column:
    """Left-fold dot product: 0.0 + a1*b1 + a2*b2 + ...

    aggregate(zip_with(...)) compiles to a loop — a 64-term expression
    tree blows past the JVM codegen method limit and falls back to
    interpreted evaluation (~3x slower measured). The fold order is
    identical to the SQL twin's explicit chain, so doubles stay
    bit-identical.
    """
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def cosine(a: Column, b: Column, dim: int = DIM) -> Column:
    return dot(a, b, dim) / (
        F.sqrt(dot(a, a, dim)) * F.sqrt(dot(b, b, dim))
    )


def unit_norm(a: Column, dim: int = DIM) -> Column:
    """a / ||a|| as array<double> (norm computed via the same ordered
    dot chain both engines use, so unit vectors are bit-identical)."""
    nrm = F.sqrt(dot(a, a, dim))
    return F.transform(a, lambda x: x.cast("double") / nrm)


def sign_bucket(a: Column, n_bits: int = 8, offset: int = 0) -> Column:
    """Deterministic LSH bucket: sign bits of n_bits dims starting at
    ``offset`` (wrapping past DIM, so any band width works at any
    offset).

    Axis-aligned random-hyperplane LSH with fixed planes — portable and
    oracle-expressible; swap in seeded random planes for production
    recall tuning.
    """
    out: Column = F.lit(0)
    for b in range(1, n_bits + 1):
        idx = ((offset + b - 1) % DIM) + 1
        out = out + F.when(
            F.element_at(a, idx) >= 0, F.lit(2 ** (b - 1))
        ).otherwise(F.lit(0))
    return out.cast("long")


# Adaptive bucket sizing for corpus-scale SELF-joins (k-NN graph,
# clustering): a FIXED bit count means compare volume Σ n_b² ≈ n²/2^bits
# — still quadratic in corpus size. Scaling bits with the row count
# pins the expected bucket occupancy at a constant, so compare volume
# grows ~linearly (n · occupancy) instead. Integer-only thresholds so
# Spark (driver-computed int) and the SQL twin (scalar subquery)
# always agree bit-for-bit — no float log2 at an exact-power boundary.
BUCKET_TARGET_OCCUPANCY = 32
SIGN_BITS_MIN = 8
SIGN_BITS_MAX = 24  # 16M buckets; DIM=64 leaves headroom to raise it

# Multi-band LSH for the corpus self-join (k-NN graph): a single
# sign-hash has recall ~p^bits per true edge (p = per-plane agreement
# — brutal for mid-cosine neighbors), so the graph unions candidates
# from KNN_BANDS independent bands, lifting recall to 1-(1-p^bits)^B
# at B× the (linear) compare volume. Bands start at staggered offsets
# and wrap, so they stay disjoint up to 16 bits and merely overlap —
# never break — beyond.
KNN_BANDS = 4
BAND_STRIDE = DIM // KNN_BANDS


def adaptive_sign_bits(
    n_rows: int,
    target: int = BUCKET_TARGET_OCCUPANCY,
    lo: int = SIGN_BITS_MIN,
    hi: int = SIGN_BITS_MAX,
) -> int:
    """ceil(log2(n_rows / target)) clamped to [lo, hi], via pure
    integer comparisons: bits = lo + |{j in (lo, hi] : n > target·2^(j-1)}|.
    """
    bits = lo
    for j in range(lo + 1, hi + 1):
        if n_rows > target * (1 << (j - 1)):
            bits += 1
    return bits


# ------------------------------------------------------------- SQL twins


def sql_dot(a: str, b: str, dim: int = DIM) -> str:
    terms = " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    return f"(0.0 + {terms})"


def sql_cosine(a: str, b: str, dim: int = DIM) -> str:
    return (
        f"({sql_dot(a, b, dim)} / "
        f"(sqrt({sql_dot(a, a, dim)}) * sqrt({sql_dot(b, b, dim)})))"
    )


def sql_unit_cte(table: str = "embeddings", id_col: str = "vec_id") -> str:
    """CTE producing (id, u) unit vectors — twin of unit_norm."""
    return (
        f"unitv AS (SELECT {id_col}, "
        f"list_transform(embedding, x -> CAST(x AS DOUBLE) / "
        f"sqrt({sql_dot('embedding', 'embedding')})) AS u, embedding "
        f"FROM {table})"
    )


def sql_adaptive_bits_cte(
    table: str = "embeddings",
    target: int = BUCKET_TARGET_OCCUPANCY,
    lo: int = SIGN_BITS_MIN,
    hi: int = SIGN_BITS_MAX,
) -> str:
    """CTE body `nb(bits)` — twin of adaptive_sign_bits over a table's
    row count. Same integer thresholds, so both engines pick the
    identical bit width for any corpus size."""
    cases = " + ".join(
        f"(CASE WHEN n > {target * (1 << (j - 1))} THEN 1 ELSE 0 END)"
        for j in range(lo + 1, hi + 1)
    )
    return (
        f"nb AS (SELECT {lo} + {cases} AS bits "
        f"FROM (SELECT count(*) AS n FROM {table}))"
    )


def sql_sign_bucket_dynamic(
    a: str,
    bits: str = "bits",
    hi: int = SIGN_BITS_MAX,
    offset: int = 0,
) -> str:
    """Sign bucket with a runtime bit width (join the `nb` CTE and pass
    its `bits` column): term b contributes only when b <= bits. The
    element index literal wraps exactly like the Spark twin's."""
    terms = " + ".join(
        f"(CASE WHEN {b} <= {bits} AND {a}[{((offset + b - 1) % DIM) + 1}]"
        f" >= 0 THEN {1 << (b - 1)} ELSE 0 END)"
        for b in range(1, hi + 1)
    )
    return f"CAST(({terms}) AS BIGINT)"
