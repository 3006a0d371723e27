"""The exact all-pairs Jaccard tool's verification-set-only contract is
ENFORCED, not just documented (VERDICT r7 item 2): `jaccard_pairs`
raises above a configurable distinct-doc cap, exactly like the
contamination benchmark's CONTAM_BENCH_MAX_DOCS guard. These tests
prove the raise fires, that the conf overrides it both ways, and that
the guarded plan entries still run at test scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_map_reduce_summarizer_spark.operators.dedup import (
    EXACT_JACCARD_CONF,
    doc_shingles,
    jaccard_pairs,
)
from tests.conftest import SF_SMOKE


@pytest.fixture
def tiny_shingles(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc {i}") for i in range(8)],
        "doc_id long, text string",
    )
    return doc_shingles(docs, keyed=True)


def _with_conf(spark, value):
    old = spark.conf.get(EXACT_JACCARD_CONF, None)
    spark.conf.set(EXACT_JACCARD_CONF, value)
    return old


def _restore_conf(spark, old):
    if old is None:
        spark.conf.unset(EXACT_JACCARD_CONF)
    else:
        spark.conf.set(EXACT_JACCARD_CONF, old)


def test_guard_raises_above_cap(spark, tiny_shingles):
    old = _with_conf(spark, "5")
    try:
        with pytest.raises(ValueError, match="minhash_lsh_pairs"):
            jaccard_pairs(tiny_shingles, threshold=0.5)
    finally:
        _restore_conf(spark, old)


def test_guard_allows_at_or_below_cap(spark, tiny_shingles):
    old = _with_conf(spark, "8")
    try:
        df = jaccard_pairs(tiny_shingles, threshold=0.5)
        assert df.count() >= 0  # plan builds and executes
    finally:
        _restore_conf(spark, old)


def test_guard_disabled_by_zero(spark, tiny_shingles):
    old = _with_conf(spark, "0")
    try:
        df = jaccard_pairs(tiny_shingles, threshold=0.5)
        assert df.count() >= 0
    finally:
        _restore_conf(spark, old)


def test_guarded_plan_entries_run_at_test_scale(spark):
    """ALL THREE exact-Jaccard catalog entries stay under the default
    cap on the gate data (the guard must never fire on driver runs) —
    a cap/conf change that trips any of them at gate scale fails
    here, not in the driver."""
    from llm_map_reduce_summarizer_spark.plans.documents import (
        dedup_lsh_recall,
        dedup_ngram_jaccard,
        dedup_threshold_sweep,
    )

    assert dedup_ngram_jaccard(spark, SF_SMOKE).count() >= 0
    assert dedup_threshold_sweep(spark, SF_SMOKE).count() >= 0
    assert dedup_lsh_recall(spark, SF_SMOKE).count() >= 0


def test_guard_honors_caller_bound(spark, tiny_shingles):
    """`n_docs` (the caller's metadata-count upper bound, ADVICE r8)
    replaces the countDistinct pre-flight: the guard raises/passes on
    the BOUND, not the shingle table's actual distinct count — that is
    what makes a passing call a single shingle scan."""
    old = _with_conf(spark, "100")
    try:
        # actual distinct docs = 8, well under the cap — but the
        # caller's bound is over it, so the guard must raise
        with pytest.raises(ValueError, match="minhash_lsh_pairs"):
            jaccard_pairs(tiny_shingles, threshold=0.5, n_docs=101)
        df = jaccard_pairs(tiny_shingles, threshold=0.5, n_docs=100)
        assert df.count() >= 0
    finally:
        _restore_conf(spark, old)


def test_guard_message_names_cap_and_conf(spark, tiny_shingles):
    old = _with_conf(spark, "3")
    try:
        with pytest.raises(ValueError) as ei:
            jaccard_pairs(tiny_shingles, threshold=0.5)
        msg = str(ei.value)
        assert EXACT_JACCARD_CONF in msg and "8 distinct documents > 3" in msg
    finally:
        _restore_conf(spark, old)


# ----------------------------------------------------- embedding family
#
# The r9 scaling ladder measured the fixed-16-block exact-cosine
# operator OOMing the box at 100x (each applyInPandas group held an
# (n/16)^2-double sims matrix). The fix has two enforced halves:
# adaptive block count (constant per-task memory) and the same
# verification-set cap contract as jaccard_pairs.

from llm_map_reduce_summarizer_spark.operators.similarity import (  # noqa: E402
    EXACT_COSINE_CONF,
    NEARDUP_BLOCK_ROWS,
    NEARDUP_MIN_BLOCKS,
    _neardup_n_blocks,
    _quantize_np,
    embedding_neardup_blocked,
)


@pytest.fixture
def tiny_vecs(spark):
    return spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2)]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )


def _with_cos_conf(spark, value):
    old = spark.conf.get(EXACT_COSINE_CONF, None)
    spark.conf.set(EXACT_COSINE_CONF, value)
    return old


def _restore_cos_conf(spark, old):
    if old is None:
        spark.conf.unset(EXACT_COSINE_CONF)
    else:
        spark.conf.set(EXACT_COSINE_CONF, old)


def test_cosine_guard_raises_above_cap(spark, tiny_vecs):
    old = _with_cos_conf(spark, "5")
    try:
        with pytest.raises(ValueError, match="cosine_knn_graph"):
            embedding_neardup_blocked(tiny_vecs, threshold=0.5)
    finally:
        _restore_cos_conf(spark, old)


def test_cosine_guard_allows_at_cap_and_zero_disables(spark, tiny_vecs):
    for conf in ("12", "0"):
        old = _with_cos_conf(spark, conf)
        try:
            df = embedding_neardup_blocked(tiny_vecs, threshold=0.5)
            assert df.count() >= 0
        finally:
            _restore_cos_conf(spark, old)


def test_cosine_guard_honors_caller_bound(spark, tiny_vecs):
    """`n_vecs` (the caller's footer-metadata bound) replaces the
    internal count(): the guard fires on the BOUND — that is what lets
    a UDF-bearing corpus frame (multimodal_neardup's features) guard
    without executing its UDF scan twice."""
    old = _with_cos_conf(spark, "100")
    try:
        with pytest.raises(ValueError, match="101 vectors > 100"):
            embedding_neardup_blocked(tiny_vecs, n_vecs=101)
        assert embedding_neardup_blocked(tiny_vecs, n_vecs=100).count() >= 0
    finally:
        _restore_cos_conf(spark, old)


def test_adaptive_blocks_bound_task_memory():
    """Block height never exceeds NEARDUP_BLOCK_ROWS above the floor —
    the invariant that makes per-task sims matrices a constant
    ~block_rows^2 doubles at ANY corpus size."""
    assert _neardup_n_blocks(0) == NEARDUP_MIN_BLOCKS
    assert _neardup_n_blocks(2_000) == NEARDUP_MIN_BLOCKS
    for n in (200_000, 1_000_000, 7_777_777):
        b = _neardup_n_blocks(n)
        assert -(-n // b) <= NEARDUP_BLOCK_ROWS  # ceil(n/b) rows/block
    # 100x-ladder shape: 200k vectors -> 49 blocks of <=4096 rows
    assert _neardup_n_blocks(200_000) == 49


def test_blocking_is_result_invariant(spark, tiny_vecs):
    """The emitted pair set is EXACT all-pairs — independent of B.
    (The adaptive count only reshapes the physical plan; any drift
    here would break the frozen DuckDB oracles.)"""
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    a = rows(embedding_neardup_blocked(tiny_vecs, threshold=0.3, n_blocks=1))
    b = rows(embedding_neardup_blocked(tiny_vecs, threshold=0.3, n_blocks=5))
    c = rows(embedding_neardup_blocked(tiny_vecs, threshold=0.3))
    assert a == b == c and len(a) > 0


def test_inplace_quantize_matches_allocating_path():
    """In-place quantize is the identical float64 arithmetic — only
    the allocation strategy differs (it exists so a block's sims
    matrix is the task's ONLY matrix-sized allocation)."""
    import numpy as np

    rng = np.random.default_rng(11)
    x = rng.uniform(-1.0, 1.0, size=(257, 263))
    expected = _quantize_np(x.copy())
    got = _quantize_np(x.copy(), inplace=True)
    assert np.array_equal(expected, got)


# ------------------------------------------- broadcast-closure operators
#
# The r9 100x scale sweep caught a caller violating the
# broadcast-closure operator's documented-but-unenforced "closure side
# is broadcast-small" contract: it passed the whole corpus as
# cosine_topk_blocked's query matrix. The contract is now enforced via
# a limit(cap+1) fetch — an oversized side raises BEFORE it lands on
# the driver — and the closure-side dgemms run in bounded column
# chunks.

from llm_map_reduce_summarizer_spark.operators.similarity import (  # noqa: E402
    BROADCAST_SIDE_CONF,
    cosine_topk_blocked,
)


def _with_side_conf(spark, value):
    old = spark.conf.get(BROADCAST_SIDE_CONF, None)
    spark.conf.set(BROADCAST_SIDE_CONF, value)
    return old


def _restore_side_conf(spark, old):
    if old is None:
        spark.conf.unset(BROADCAST_SIDE_CONF)
    else:
        spark.conf.set(BROADCAST_SIDE_CONF, old)


def test_topk_query_side_guard(spark, tiny_vecs):
    old = _with_side_conf(spark, "5")
    try:
        with pytest.raises(ValueError, match="cosine_topk_lsh"):
            cosine_topk_blocked(tiny_vecs, tiny_vecs, k=2)
        # at/under the cap and 0-disabled both run
        for conf in ("12", "0"):
            _with_side_conf(spark, conf)
            assert cosine_topk_blocked(tiny_vecs, tiny_vecs, k=2).count() > 0
    finally:
        _restore_side_conf(spark, old)


def test_column_chunking_is_result_invariant(spark):
    """Chunked closure-side dgemms emit exactly what one big dgemm
    did. The chunk constant is patched down to 3 so a 7-query set
    spans multiple chunks, then top-k parity is checked against the
    expression-tree exact operator."""
    import numpy as np

    from llm_map_reduce_summarizer_spark.operators import similarity as S

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=6)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 7)
    want = sorted(
        map(tuple, S.cosine_topk(q, df, k=3).collect())
    )
    # force multi-chunk execution: patch the module constant down
    orig = S._DGEMM_COL_CHUNK
    S._DGEMM_COL_CHUNK = 3
    try:
        got_topk = sorted(
            map(tuple, cosine_topk_blocked(q, df, k=3).collect())
        )
    finally:
        S._DGEMM_COL_CHUNK = orig
    assert got_topk == want


# ---------------------------------------------- output-volume contract
#
# VERDICT r9 item 6: at a too-low cosine threshold the TRUE near-dup
# pair set is quadratic (the r9 100x ladder measured ~5e-4 density on
# isotropic embeddings — ~10M emitted pairs at 200k vectors), and the
# operator faithfully emits it with every task bounded. The output
# volume is now contracted like the jaccard discipline: a hash-sample
# density pre-flight raises above NEARDUP_PAIRS_CONF estimated pairs.
# The pre-flight only runs when n(n-1)/2 > cap, so gate-scale corpora
# pay nothing and frozen oracles never see it.

from llm_map_reduce_summarizer_spark.operators.similarity import (  # noqa: E402
    NEARDUP_PAIRS_CONF,
    _block_pair_table,
)


def _with_pairs_conf(spark, value):
    old = spark.conf.get(NEARDUP_PAIRS_CONF, None)
    spark.conf.set(NEARDUP_PAIRS_CONF, value)
    return old


def _restore_pairs_conf(spark, old):
    if old is None:
        spark.conf.unset(NEARDUP_PAIRS_CONF)
    else:
        spark.conf.set(NEARDUP_PAIRS_CONF, old)


def test_pair_volume_guard_raises_on_dense_corpus(spark):
    """60 identical vectors at cap=10: density 1 -> ~1770 estimated
    pairs > cap -> raise naming the conf and the LSH path."""
    dense = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    old = _with_pairs_conf(spark, "10")
    try:
        with pytest.raises(ValueError, match="neardupMaxPairs"):
            embedding_neardup_blocked(dense, threshold=0.5)
    finally:
        _restore_pairs_conf(spark, old)


def test_pair_volume_guard_skipped_when_cap_unreachable(spark, tiny_vecs):
    """n(n-1)/2 <= cap: no pre-flight job runs and the result is the
    full exact pair set (12 vectors -> 66 possible pairs <= cap 66)."""
    old = _with_pairs_conf(spark, "66")
    try:
        assert embedding_neardup_blocked(tiny_vecs, threshold=0.3).count() > 0
    finally:
        _restore_pairs_conf(spark, old)


def test_pair_volume_guard_zero_disables_and_sparse_passes(spark):
    """Zero disables the contract outright; a sparse corpus (no
    above-threshold sample pairs) passes the pre-flight even when the
    cap is far below the combinatorial maximum."""
    import numpy as np

    rng = np.random.default_rng(17)
    sparse = spark.createDataFrame(
        [
            (i, [float(x) for x in rng.normal(size=8)])
            for i in range(60)
        ],
        "vec_id long, embedding array<double>",
    )
    dense = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    old = _with_pairs_conf(spark, "0")
    try:
        assert embedding_neardup_blocked(dense, threshold=0.5).count() > 0
        _with_pairs_conf(spark, "100")
        # 1770 possible pairs > cap -> pre-flight runs; est ~0 -> pass
        assert (
            embedding_neardup_blocked(sparse, threshold=0.9999).count() == 0
        )
    finally:
        _restore_pairs_conf(spark, old)


def test_block_pair_table_distributed_path_matches_literal(spark):
    """Past _PAIR_LIST_MAX_TUPLES the (pa <= pb) grid is generated
    range x range instead of as a driver-side list (ADVICE r9: with
    the exact guard raised/disabled, B grows with n and B(B+1)/2
    tuples on the driver is its own OOM). Same table either way."""
    from llm_map_reduce_summarizer_spark.operators import similarity as S

    lit = sorted(map(tuple, _block_pair_table(spark, 7).collect()))
    orig = S._PAIR_LIST_MAX_TUPLES
    S._PAIR_LIST_MAX_TUPLES = 10  # force the distributed path at B=7
    try:
        dist = sorted(map(tuple, _block_pair_table(spark, 7).collect()))
    finally:
        S._PAIR_LIST_MAX_TUPLES = orig
    assert lit == dist == [
        (a, b) for a in range(7) for b in range(a, 7)
    ]
    # the big-grid count is exact without materializing a list
    assert _block_pair_table(spark, 600).count() == 600 * 601 // 2
