"""Property-based invariants (hypothesis) for the chunking operators.

The oracle gate pins exact values on the synthetic corpus; these pin
the INVARIANTS on arbitrary inputs — budget respected, ids contiguous,
order preserved — so a logic regression that happens to dodge the
fixed corpus still fails.
"""

from __future__ import annotations

import pytest

import pandas as pd
from hypothesis import given, settings, strategies as st

from llm_map_reduce_summarizer_spark.operators.chunker import (
    assign_chunks,
    assign_chunks_greedy,
)

BUDGET = 40

seg_lists = st.lists(
    st.integers(min_value=1, max_value=12),  # words per segment
    min_size=1,
    max_size=30,
)


def _segments(spark, words_per_seg):
    rows = [
        (i, float(i * 10), float(i * 10 + 8), "S", " ".join(["tok"] * n))
        for i, n in enumerate(words_per_seg)
    ]
    return spark.createDataFrame(
        rows, "seg_id long, start double, end double, speaker string, text string"
    )


@settings(max_examples=25, deadline=None)
@given(words_per_seg=seg_lists)
@pytest.mark.slow
def test_greedy_chunker_invariants(spark, words_per_seg):
    out = (
        assign_chunks_greedy(_segments(spark, words_per_seg), BUDGET)
        .orderBy("seg_id")
        .toPandas()
    )
    # every input segment appears exactly once, in order
    assert list(out["seg_id"]) == list(range(len(words_per_seg)))
    # chunk ids start at 0, are contiguous, and never decrease
    cids = list(out["chunk_id"])
    assert cids[0] == 0
    assert all(b - a in (0, 1) for a, b in zip(cids, cids[1:]))
    # the reference reset rule: a chunk only exceeds the budget when it
    # is a single oversized segment; and a segment moved to a fresh
    # chunk would NOT have fit in the previous one
    by_chunk = out.groupby("chunk_id")["n_tokens"]
    for cid, toks in by_chunk:
        if toks.sum() > BUDGET:
            assert len(toks) == 1
    firsts = out[out["chunk_id"].diff() == 1]
    prev_sums = by_chunk.sum()
    for _, row in firsts.iterrows():
        assert prev_sums[row["chunk_id"] - 1] + row["n_tokens"] > BUDGET


def greedy_reference(tokens: list[int], budget: int) -> list[int]:
    """Plain-Python accumulate-and-reset: a non-empty chunk that the
    next segment would push over the budget closes first."""
    ids: list[int] = []
    cid, acc = -1, 0
    for n in tokens:
        if cid < 0 or (acc > 0 and acc + n > budget):
            cid, acc = cid + 1, 0
        ids.append(cid)
        acc += n
    return ids


# "[00:00] S: " is 7 regex tokens ahead of the words (start 0.0)
SEG_OVERHEAD = 7


def _assert_greedy_parity(spark, docs: list[list[int]], budget: int) -> None:
    """``docs``: words per segment, per document (a document may be
    empty). Every document's chunk ids must equal the reference's."""
    rows = [
        (f"d{d}", i, 0.0, 1.0, "S", " ".join(["tok"] * n))
        for d, words in enumerate(docs)
        for i, n in enumerate(words)
    ]
    segs = spark.createDataFrame(
        rows,
        "doc string, seg_id long, start double, end double, "
        "speaker string, text string",
    )
    out = (
        assign_chunks_greedy(segs, budget, doc_col="doc")
        .select("doc", "seg_id", "n_tokens", "chunk_id")
        .toPandas()
        .sort_values(["doc", "seg_id"])
    )
    got = {doc: g for doc, g in out.groupby("doc")}
    for d, words in enumerate(docs):
        if not words:
            assert f"d{d}" not in got
            continue
        g = got[f"d{d}"]
        tokens = [n + SEG_OVERHEAD for n in words]
        assert list(g["seg_id"]) == list(range(len(words)))
        assert list(g["n_tokens"]) == tokens
        assert list(g["chunk_id"]) == greedy_reference(tokens, budget)


def test_greedy_chunker_edge_cases_match_reference(spark):
    """Empty input, an empty document next to others, segments larger
    than the budget, and chunks that land exactly on the budget."""
    exact = BUDGET - SEG_OVERHEAD  # one segment fills the budget
    half = BUDGET // 2 - SEG_OVERHEAD  # two fill it exactly
    _assert_greedy_parity(spark, [], BUDGET)
    _assert_greedy_parity(
        spark,
        [
            [],
            [exact, exact, 1, exact],
            [half, half, half, half, half],
            [3 * BUDGET, 1, 2 * BUDGET, 2 * BUDGET, 1, 1],
            [half, half + 1, half - 1, half],
            [1],
        ],
        BUDGET,
    )


def test_greedy_chunker_long_document_matches_reference(spark):
    """One 50k-segment document: parity with the reference (the fold
    must not degrade to per-segment array appends)."""
    import random

    rng = random.Random(50_000)
    words = [rng.randint(1, 12) for _ in range(50_000)]
    _assert_greedy_parity(spark, [words, [5, 40, 2]], BUDGET)


doc_lists = st.lists(
    st.lists(st.integers(min_value=0, max_value=60), max_size=25),
    max_size=4,
)


@settings(max_examples=20, deadline=None)
@given(docs=doc_lists)
@pytest.mark.slow
def test_greedy_chunker_matches_reference_property(spark, docs):
    _assert_greedy_parity(spark, docs, BUDGET)


@settings(max_examples=25, deadline=None)
@given(words_per_seg=seg_lists)
@pytest.mark.slow
def test_prefix_sum_chunker_invariants(spark, words_per_seg):
    out = (
        assign_chunks(_segments(spark, words_per_seg), BUDGET)
        .orderBy("seg_id")
        .toPandas()
    )
    assert list(out["seg_id"]) == list(range(len(words_per_seg)))
    # prefix-sum bucketing: chunk_id == floor(tokens_before / budget)
    cum_before = out["n_tokens"].cumsum() - out["n_tokens"]
    assert list(out["chunk_id"]) == list(cum_before // BUDGET)


def test_connected_components_matches_union_find_property(spark):
    """Random graphs vs a pure-python union-find: the min-label
    propagation must produce exactly the min-id-per-component
    labelling on any topology (chains, stars, cliques, singleton-free
    edge lists) — the whole dedup/cluster tier composes on this."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from llm_map_reduce_summarizer_spark.operators.dedup import (
        connected_components,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        edges=st.lists(
            st.tuples(
                st.integers(0, 25), st.integers(0, 25)
            ).filter(lambda p: p[0] != p[1]),
            min_size=1,
            max_size=40,
        )
    )
    def check(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}

        df = spark.createDataFrame(edges, "da long, db long")
        got = {
            r["id"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == want, (edges, got, want)

    check()


@pytest.mark.slow
def test_emb_kmeans_matches_numpy_reference(spark, tmp_path_factory):
    """Third-implementation check for the iterative tier: the Spark
    emb_kmeans assignment must equal an independent pure-numpy Lloyd
    run that replicates the operator's contract (unit-normalize,
    vec_id % K init, per-round 1e-9 quantization of centroid cells
    and similarities, argmax ties to the lowest cluster) on random
    small embedding tables — any drift in the quantization points or
    tie rules breaks this before the DuckDB oracle ever runs."""
    import numpy as np
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from llm_map_reduce_summarizer_spark.plans.documents import (
        KMEANS_ITERS,
        KMEANS_K,
        emb_kmeans,
    )

    def q9(x):
        return np.floor(x * 1e9 + 0.5) / 1e9

    def reference(vectors):
        n, d = vectors.shape
        u = vectors / np.sqrt((vectors * vectors).sum(axis=1))[:, None]
        assign = np.arange(n) % KMEANS_K
        sims_by_c = None
        for _ in range(KMEANS_ITERS):
            clusters = sorted(set(assign.tolist()))
            cents = {
                c: q9(u[assign == c].mean(axis=0)) for c in clusters
            }
            sims_by_c = {
                c: q9(u @ cents[c]) for c in clusters
            }
            new_assign = np.empty(n, dtype=int)
            for i in range(n):
                best = max(
                    clusters, key=lambda c: (sims_by_c[c][i], -c)
                )
                new_assign[i] = best
            assign = new_assign
        return assign

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(data=st.data())
    def run(data):
        n = data.draw(st.integers(9, 20))
        d = data.draw(st.sampled_from([4, 6]))
        comps = data.draw(
            st.lists(
                st.lists(
                    st.integers(-8, 8), min_size=d, max_size=d
                ).filter(lambda v: any(x != 0 for x in v)),
                min_size=n,
                max_size=n,
            )
        )
        vectors = np.array(comps, dtype=np.float64)
        src = tmp_path_factory.mktemp("kmref")
        pd.DataFrame(
            {
                "vec_id": range(n),
                "embedding": [
                    np.asarray(v, dtype=np.float32) for v in comps
                ],
                "label": [0] * n,
            }
        ).to_parquet(src / "embeddings.parquet")
        got = (
            emb_kmeans(spark, str(src))
            .toPandas()
            .set_index("vec_id")["cluster_id"]
        )
        # float32 storage: the reference must read the same values
        want = reference(vectors.astype(np.float32).astype(np.float64))
        for i in range(n):
            assert got.loc[i] == want[i], (i, got.loc[i], want[i])

    run()
