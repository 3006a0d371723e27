"""Unit semantics for lexical/hybrid retrieval, the bloom membership
screen, and the governance cap/sample operators (SURVEY.md §2.4-2.6).

The oracle gate proves cross-engine parity; these tests pin the
SEMANTICS: BM25 ranking behavior, RRF fusion arithmetic, bloom's
no-false-negative guarantee under forced saturation, and the cap /
fixed-sample invariants.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from llm_map_reduce_summarizer_spark.plans.documents import (
    BLOOM_K,
    BLOOM_M,
    BM25_K,
    BM25_QUERIES,
    DOMAIN_CAP,
    FIXED_SAMPLE_K,
    RRF_C,
    RRF_POOL,
    _bloom_bits,
    corpus_domain_cap,
    corpus_sample_fixed,
    dedup_bloom,
    doc_bm25_topk,
    search_rrf,
)
from .conftest import SF_SMOKE, SF_CORRECT


def test_bm25_topk_shape_and_rank_discipline(spark):
    out = doc_bm25_topk(spark, SF_CORRECT).toPandas()
    # every query returns a contiguous 1..k rank run with distinct docs
    for qid, grp in out.groupby("query_id"):
        assert list(sorted(grp["rk"])) == list(range(1, len(grp) + 1))
        assert len(grp) <= BM25_K
        assert grp["doc_id"].is_unique
        # scores are non-increasing along the rank order
        ordered = grp.sort_values("rk")["score"].to_list()
        assert all(a >= b for a, b in zip(ordered, ordered[1:]))
    assert set(out["query_id"]) == set(BM25_QUERIES)


def test_bm25_hits_actually_contain_query_terms(spark):
    """Top-ranked docs must contain at least one query term — BM25 of
    a doc with zero matching postings is undefined, not zero."""
    out = doc_bm25_topk(spark, SF_SMOKE)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", F.lower("text").alias("t")
    )
    joined = out.join(docs, "doc_id").collect()
    for r in joined:
        terms = BM25_QUERIES[r["query_id"]]
        assert any(t in r["t"].split() for t in terms)


def test_rrf_fusion_arithmetic(spark):
    """A doc ranked by both retrievers scores 1/(C+r1) + 1/(C+r2); a
    single-retriever doc scores one term only — and fused rank 1 for
    each query is the argmax of that."""
    out = search_rrf(spark, SF_CORRECT).toPandas()
    for qid, grp in out.groupby("query_id"):
        assert list(sorted(grp["rk"])) == list(range(1, len(grp) + 1))
        assert len(grp) <= BM25_K
        mx = grp["rrf_score"].max()
        assert grp.loc[grp["rk"] == 1, "rrf_score"].iloc[0] == mx
    # both-retriever score ceiling: 1/(C+1) + 1/(C+1)
    assert out["rrf_score"].max() <= 2.0 / (RRF_C + 1) + 1e-9
    # a fused doc can never beat the best possible single-source score
    # pool bound: rank contributions come from ranks <= RRF_POOL
    assert out["rrf_score"].min() >= 1.0 / (RRF_C + RRF_POOL) - 1e-9


def test_bloom_no_false_negatives_and_fp_behavior(spark):
    out = dedup_bloom(spark, SF_CORRECT).toPandas()
    assert (out["guarantee_ok"]).all()
    assert (out["bloom_hits"] >= out["exact_hits"]).all()
    assert (out["fp_hits"] >= 0).all()
    assert (out["n_shingles"] >= out["bloom_hits"]).all()
    # the synthetic corpus shares vocabulary across the split — the
    # screen must actually fire, not vacuously pass on zero overlap
    assert out["exact_hits"].sum() > 0


def test_bloom_bits_deterministic_and_in_range(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("s"), _bloom_bits(F.col("id")).alias("bits")
    )
    rows = df.collect()
    for r in rows:
        assert len(r["bits"]) == BLOOM_K
        assert all(0 <= b < BLOOM_M for b in r["bits"])
    again = {r["s"]: r["bits"] for r in df.collect()}
    assert all(again[r["s"]] == r["bits"] for r in rows)


def test_bloom_saturated_filter_still_guarantees(spark):
    """Force saturation (tiny m would be ideal; here: every batch
    shingle also in the existing side) — membership must report every
    true member as present."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],  # 0 -> existing, 1 -> batch (same text)
            "text": ["alpha beta gamma delta epsilon"] * 2,
            "lang": ["en"] * 2,
            "source": ["s"] * 2,
            "n_chars": [30] * 2,
        }
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(pdf).write.parquet(
            os.path.join(td, "documents.parquet")
        )
        out = dedup_bloom(spark, td).toPandas()
    # doc 1's three shingles are all true members -> all bloom hits
    assert len(out) == 1
    assert out.iloc[0]["exact_hits"] == out.iloc[0]["n_shingles"]
    assert out.iloc[0]["bloom_hits"] == out.iloc[0]["n_shingles"]
    assert out.iloc[0]["guarantee_ok"]


def test_domain_cap_bounds_every_source(spark):
    out = corpus_domain_cap(spark, SF_CORRECT)
    kept = out.filter("kept").groupBy("source").count().collect()
    assert all(r["count"] <= DOMAIN_CAP for r in kept)
    # cap binds on the sf0.01 layout (25 docs/source > cap)
    assert any(r["count"] == DOMAIN_CAP for r in kept)
    total = out.count()
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet").count()
    assert total == docs  # verdict per doc, kept + dropped


def test_fixed_sample_is_deterministic_and_sized(spark):
    a = corpus_sample_fixed(spark, SF_CORRECT).toPandas()
    b = corpus_sample_fixed(spark, SF_CORRECT).toPandas()
    assert len(a) == FIXED_SAMPLE_K
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])
    # drawn without replacement
    assert a["doc_id"].is_unique


def test_emb_outliers_flags_the_planted_outlier(spark, tmp_path):
    """Three aligned vectors + one anti-aligned: the centroid points
    with the majority, so only the anti-aligned vector scores below
    the threshold."""
    import numpy as np
    import pandas as pd

    from llm_map_reduce_summarizer_spark.plans.documents import (
        OUTLIER_COS,
        emb_outliers,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=64)
    rows = []
    for i in range(3):
        v = base + 0.05 * rng.normal(size=64)
        rows.append((i, [float(x) for x in v], "A"))
    rows.append((3, [float(x) for x in -base], "A"))
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        tmp_path / "embeddings.parquet"
    )
    out = (
        emb_outliers(spark, str(tmp_path))
        .toPandas()
        .set_index("vec_id")
    )
    assert not out.loc[[0, 1, 2], "outlier"].any()
    assert out.loc[3, "outlier"]
    assert out.loc[3, "cos_centroid"] < OUTLIER_COS


def test_emb_outliers_fraction_sane_on_corpus(spark):
    from llm_map_reduce_summarizer_spark.plans.documents import emb_outliers

    out = emb_outliers(spark, SF_CORRECT).toPandas()
    frac = out["outlier"].mean()
    assert 0.0 < frac < 0.5  # the screen fires, but not on the majority
    assert (out["cos_centroid"] <= 1.0).all()
    assert (out["cos_centroid"] >= -1.0).all()


def test_rule_batteries_discriminate(spark, tmp_path):
    """Gopher must split the real corpus on word count + stopword
    presence; C4 must pass a punctuated multi-sentence doc and reject
    code/lorem/short docs (the synthetic corpus is punctuation-free,
    so C4's all-drop there is the faithful verdict)."""
    import pandas as pd

    from llm_map_reduce_summarizer_spark.plans.documents import (
        doc_c4_rules,
        doc_gopher_rules,
    )

    g = doc_gopher_rules(spark, SF_CORRECT).toPandas()
    assert 0.0 < g["keep"].mean() < 1.0

    docs = pd.DataFrame(
        [
            dict(doc_id=0, text="A fine day. We went out. It was good.",
                 lang="en", source="s", n_chars=37),
            dict(doc_id=1, text="function() { return 1; }. Yes. Go. Now.",
                 lang="en", source="s", n_chars=39),
            dict(doc_id=2, text="Lorem ipsum dolor. Sit amet. Consectetur.",
                 lang="en", source="s", n_chars=41),
            dict(doc_id=3, text="too short", lang="en", source="s",
                 n_chars=9),
        ]
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    c = doc_c4_rules(spark, str(tmp_path)).toPandas().set_index("doc_id")
    assert c.loc[0, "keep"]
    assert not c.loc[1, "keep"]  # brace
    assert not c.loc[2, "keep"]  # lorem ipsum
    assert not c.loc[3, "keep"]  # < 3 sentences


def test_new_ops_handle_degenerate_inputs(spark, tmp_path):
    """Edge-shape robustness: BM25 whose terms never occur, a bloom
    screen with an empty existing side, and a histogram over empty
    text must return empty/sane results, not crash."""
    import pandas as pd

    from llm_map_reduce_summarizer_spark.plans.documents import (
        corpus_token_histogram,
        dedup_bloom,
        doc_bm25_topk,
    )

    docs = pd.DataFrame(
        [
            # odd ids only -> bloom "existing" side (even ids) is empty
            dict(doc_id=1, text="zz qq xx ww vv", lang="en",
                 source="s", n_chars=14),
            dict(doc_id=3, text="", lang="en", source="s", n_chars=0),
        ]
    )
    docs.to_parquet(tmp_path / "documents.parquet")

    bm = doc_bm25_topk(spark, str(tmp_path)).toPandas()
    assert len(bm) == 0  # no query term occurs -> no scored postings

    bl = dedup_bloom(spark, str(tmp_path)).toPandas()
    # doc 1 screens against an EMPTY filter: zero hits, guarantee holds
    assert len(bl) == 1
    assert bl.iloc[0]["bloom_hits"] == 0
    assert bl.iloc[0]["exact_hits"] == 0
    assert bl.iloc[0]["guarantee_ok"]

    h = corpus_token_histogram(spark, str(tmp_path)).toPandas()
    assert h["n_docs"].sum() == 2  # the empty doc lands in bucket 0


def test_lm_export_consistent_with_surprisal_scorer(spark):
    """Scoring a doc against the EXPORTED bigram table must reproduce
    doc_bigram_surprisal's mean (same smoothing, same corpus stats) —
    the stored artifact and the inline scorer cannot drift."""
    import math

    from llm_map_reduce_summarizer_spark.plans.documents import (
        doc_bigram_surprisal,
        doc_ngram_lm_export,
    )
    from pyspark.sql import functions as F

    lm = {
        (r["w1"], r["w2"]): r["logp"]
        for r in doc_ngram_lm_export(spark, SF_SMOKE).collect()
    }
    scored = doc_bigram_surprisal(spark, SF_SMOKE).toPandas()
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w"))
        .collect()
    )
    for r in docs[:10]:
        w = r["w"]
        if len(w) < 2:
            continue
        surps = [-lm[(a, b)] for a, b in zip(w, w[1:])]
        want = sum(surps) / len(surps)
        got = float(
            scored.loc[scored["doc_id"] == r["doc_id"], "mean_surprisal"]
            .iloc[0]
        )
        assert math.isclose(got, want, abs_tol=2e-5)


def test_winnowing_guarantee_on_shared_run(spark, tmp_path):
    """Winnowing's core guarantee: two docs sharing a word run of
    length >= W + k - 1 (here 4 + 3 - 1 = 6) must share at least one
    selected fingerprint, and density stays ~2/(W+1)."""
    import pandas as pd

    from llm_map_reduce_summarizer_spark.plans.documents import (
        doc_winnowing,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = pd.DataFrame(
        [
            dict(doc_id=0, text="one two " + shared + " three four five",
                 lang="en", source="s", n_chars=1),
            dict(doc_id=1, text="six seven eight " + shared + " nine ten",
                 lang="en", source="s", n_chars=1),
        ]
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    fp = doc_winnowing(spark, str(tmp_path)).toPandas()
    a = set(fp[fp["doc_id"] == 0]["fp"])
    b = set(fp[fp["doc_id"] == 1]["fp"])
    assert a & b, "shared run must surface a common fingerprint"
    # density: selected fingerprints ≪ grams (the point of winnowing)
    n_grams_0 = len(docs.loc[0, "text"].split()) - 2
    assert len(a) < n_grams_0


def test_bm25_index_consistent_with_query_scorer(spark):
    """The exported postings must reproduce _bm25_scored's per-doc
    scores when summed over a query's terms."""
    import __spark_entry__ as entrymod
    from llm_map_reduce_summarizer_spark.plans.documents import (
        BM25_QUERIES,
    )
    from .conftest import SF_SMOKE

    qs = entrymod.queries()
    idx = qs["corpus_bm25_index"](spark, SF_SMOKE).toPandas()
    topk = qs["doc_bm25_topk"](spark, SF_SMOKE).toPandas()
    for qid, terms in list(BM25_QUERIES.items())[:3]:
        sub = idx[idx["term"].isin(terms)]
        scores = sub.groupby("doc_id")["bm25_w"].sum()
        got = topk[topk["query_id"] == qid]
        for _, r in got.iterrows():
            assert abs(scores.get(r["doc_id"], 0.0) - r["score"]) < 1e-4
