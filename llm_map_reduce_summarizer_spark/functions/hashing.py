"""Hash-based Column builders for dedup: shingles and MinHash.

Everything is derived from md5 hex strings so any ANSI engine computes
bit-identical values (Spark's murmur ``hash()`` is engine-specific; md5
is not). MinHash minima are numeric minima of affine permutations of a
single md5-derived 32-bit base per shingle (universal hashing) — one
md5 per shingle instead of one per permutation, with all arithmetic
kept under 2^62 so int64 is exact on every engine.

Reference: these are the scale-path operators the reference repo lacks
(its dedup surface is the LLM pipeline's implicit uniqueness of chunk
ids) — added per the training-data-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

N_MINHASH = 16  # signature length
BAND_ROWS = 4  # rows per LSH band -> 4 bands

# Knuth multiplicative draw: exact bigint arithmetic any engine
# reproduces bit-for-bit (id * KNUTH fits in int64 at any real SF).
KNUTH = 2654435761
DRAW_MOD = 1_000_000


def knuth_shard(id_col: Column, n_shards: int) -> Column:
    """Deterministic shard id in [0, n_shards) from an integer id —
    map-side only, no shuffle, engine-portable exact arithmetic."""
    return ((id_col * F.lit(KNUTH)) % DRAW_MOD % n_shards).cast("long")


def shuffle_sort_key(id_col: Column, seed: str) -> Column:
    """Seeded within-shard ordering key: md5 over (seed, id) — any two
    runs or engines produce the identical training order."""
    return F.md5(F.concat(F.lit(seed + "|"), id_col.cast("string")))


def words(text: Column) -> Column:
    """Lowercased whitespace tokens."""
    return F.split(F.lower(F.trim(text)), r"\s+")


def shingles_3gram(w: Column) -> Column:
    """All word-3-gram shingles (requires >= 3 tokens; guard upstream).

    Built as zip_with over three aligned slices — measured ~7×
    faster than transform-over-sequence with element_at lambdas
    (indexed element_at inside a higher-order function runs
    interpreted per element); same output, same SQL twin.
    """
    n = F.size(w) - 2
    s1 = F.slice(w, 1, n)
    s2 = F.slice(w, 2, n)
    s3 = F.slice(w, 3, n)
    return F.zip_with(
        F.zip_with(s1, s2, lambda a, b: F.concat_ws(" ", a, b)),
        s3,
        lambda ab, c: F.concat_ws(" ", ab, c),
    )


# 60-bit shingle identity for the JOIN-heavy dedup paths: the shingle
# table is the largest intermediate in a corpus dedup (its shuffles
# dominate), and an 8-byte key shuffles ~3x lighter than the raw
# n-gram string. 15 hex digits (60 bits) keep the fold BIGINT-exact in
# every engine (16 digits could overflow signed int64); collisions are
# ~n^2/2^61 — negligible and, because both engines fold the same md5,
# engine-identical when they do occur. Queries that OUTPUT n-gram text
# (vocabulary/top-k) keep the strings.
SHINGLE_KEY_HEX = 15


def shingle_key(s: Column) -> Column:
    """First 15 md5 hex digits of the shingle as a BIGINT."""
    return F.conv(F.substring(F.md5(s), 1, SHINGLE_KEY_HEX), 16, 10).cast(
        "long"
    )


def sql_shingle_key(expr: str) -> str:
    """DuckDB twin of :func:`shingle_key` (strpos digit fold)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (SHINGLE_KEY_HEX - 1 - i)}"
        for i in range(SHINGLE_KEY_HEX)
    )
    return f"CAST(({terms}) AS BIGINT)"


# One md5 per shingle, N_MINHASH affine permutations of its leading
# 32 bits — vs one md5 PER PERMUTATION per shingle, this removes
# 15/16ths of the md5 work from the hottest dedup scan (the shingle
# table is the biggest intermediate in the corpus). h_j = (a_j·base +
# j) mod p with a_j < 2^30 odd and base < 2^32 keeps every product
# under 2^62: exact in int64 on any engine (DuckDB errors on BIGINT
# overflow rather than wrapping, so staying in range IS the parity
# contract). Universal-hash minima are the textbook MinHash estimator.
MINHASH_PRIME = 4294967291  # largest prime < 2^32
_MH_A = [((j + 1) * KNUTH) % (1 << 30) | 1 for j in range(N_MINHASH)]


def minhash_aggs(shingle_col: str = "s") -> list[Column]:
    """16 MinHash aggregate expressions over an exploded KEYED shingle
    column (``shingle_key`` 60-bit BIGINTs): base = low 32 bits of the
    key (an md5-derived uniform draw — no further hashing needed)."""
    base = F.col(shingle_col) % F.lit(4294967296)
    return [
        F.min(
            (F.lit(_MH_A[j]) * base + F.lit(j)) % F.lit(MINHASH_PRIME)
        ).alias(f"h{j}")
        for j in range(N_MINHASH)
    ]


def band_hashes() -> list[Column]:
    """LSH band keys: md5 over each group of BAND_ROWS signature values
    (16 ints per doc -> 4 tiny md5s per doc; the per-shingle scan never
    touches these)."""
    out = []
    for k in range(N_MINHASH // BAND_ROWS):
        cols = [
            F.col(f"h{j}").cast("string")
            for j in range(k * BAND_ROWS, (k + 1) * BAND_ROWS)
        ]
        out.append(F.md5(F.concat_ws("|", *cols)).alias(f"band{k}"))
    return out


# ------------------------------------------------------------- SQL twins

SQL_WORDS = r"regexp_split_to_array(lower(trim({c})), '\s+')"

SQL_SHINGLES = (
    "list_transform(generate_series(1, len({w}) - 2),"
    " i -> {w}[i] || ' ' || {w}[i+1] || ' ' || {w}[i+2])"
)


def sql_minhash_aggs() -> str:
    """Twin of :func:`minhash_aggs` over a keyed shingle column ``s``."""
    return ", ".join(
        f"min(({_MH_A[j]} * (s % 4294967296) + {j}) % {MINHASH_PRIME})"
        f" AS h{j}"
        for j in range(N_MINHASH)
    )


def sql_band_hashes() -> str:
    parts = []
    for k in range(N_MINHASH // BAND_ROWS):
        cols = " || '|' || ".join(
            f"CAST(h{j} AS VARCHAR)"
            for j in range(k * BAND_ROWS, (k + 1) * BAND_ROWS)
        )
        parts.append(f"md5({cols}) AS band{k}")
    return ", ".join(parts)


