"""Physical-plan assertions (SURVEY.md §5.5) — guard the scale
properties the design depends on: parquet column pruning, broadcast
join choices, and shuffle-free scans in the hot paths. A regression
here is a 100x cliff at 100 TB even when results stay correct."""

from __future__ import annotations

import contextlib
import io

from llm_map_reduce_summarizer_spark.plans import documents

SF = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_knn_corpus_never_shuffles(spark):
    # blocked path: corpus streams through one MapInPandas scan; the
    # only exchange is over the tiny per-batch candidate set
    plan = plan_str(documents.knn_bruteforce(spark, SF))
    tree = plan.split("\n\n", 1)[0]  # tree prints root-first
    assert "MapInPandas" in tree
    # below the MapInPandas node (towards the scan leaf): no exchange
    assert "Exchange" not in tree.split("MapInPandas", 1)[1]


def test_doc_queries_prune_documents_scan(spark):
    plan = plan_str(documents.doc_tokens(spark, SF))
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    # doc_tokens uses doc_id + text only; lang/source must be pruned
    assert "lang" not in read_schema and "source" not in read_schema


def test_value_quantiles_approx_tracks_exact(spark):
    """The sketch tier certifies itself in-query: every sketch
    element's true rank must sit within n/accuracy + 1 of its target
    rank (sketch_within_rank_tol — what the driver hash-checks against
    the oracle's literal TRUE), and the emitted quantile columns must
    equal the exact tier's."""
    from llm_map_reduce_summarizer_spark.plans.events import (
        events_value_quantiles,
        events_value_quantiles_approx,
    )

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        approx = (
            events_value_quantiles_approx(spark, sf)
            .toPandas()
            .set_index("event_type")
            .sort_index()
        )
        exact = (
            events_value_quantiles(spark, sf)
            .toPandas()
            .set_index("event_type")
            .sort_index()
        )
        assert approx["sketch_within_rank_tol"].all(), sf
        for col in ("p25", "p5", "p9", "p99", "n_events"):
            assert (approx[col] == exact[col]).all(), (sf, col)


def test_map_cost_report_gpt4_tier(spark):
    """model='gpt-4' reprices the same token counts at the reference's
    GPT-4 tier (llm_executor.py:310) — exactly 30x both rates."""
    from llm_map_reduce_summarizer_spark.plans.pipeline import (
        map_cost_report,
    )

    sf = "/root/testdata/sf0.001"
    base = map_cost_report(spark, sf).toPandas().set_index("chunk_id")
    gpt4 = (
        map_cost_report(spark, sf, model="gpt-4")
        .toPandas()
        .set_index("chunk_id")
    )
    assert (gpt4["prompt_tokens"] == base["prompt_tokens"]).all()
    assert (gpt4["completion_tokens"] == base["completion_tokens"]).all()
    ratio = gpt4["cost_usd"] / base["cost_usd"]
    assert ((ratio - 30.0).abs() < 1e-3).all()


def test_corpus_governance_plan_shapes(spark):
    """Pin the scale claims: the narrow-map ops must plan with ZERO
    exchanges, and the joins that claim broadcast must broadcast."""
    import io
    import contextlib

    from llm_map_reduce_summarizer_spark.plans.documents import (
        corpus_contamination,
        corpus_rebalance,
        corpus_sample_stratified,
        corpus_split,
        doc_pii_scrub,
    )

    sf = "/root/testdata/sf0.001"

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()

    # pure per-row ops: scan -> project/filter, no shuffle at all
    for fn in (doc_pii_scrub, corpus_sample_stratified, corpus_split):
        p = plan(fn(spark, sf))
        assert "Exchange" not in p, f"{fn.__name__} gained a shuffle:\n{p}"

    # benchmark shingles / per-lang rates join in as broadcasts — the
    # corpus side must never shuffle for these joins
    for fn in (corpus_contamination, corpus_rebalance):
        assert "BroadcastHashJoin" in plan(fn(spark, sf)), fn.__name__


def test_corpus_shuffle_pack_substring_plan_shapes(spark):
    """Pin the scale claims of the shuffle/pack/substring/centroid ops:
    Arrow-batched (never row-at-a-time) pandas groups, map-side partial
    aggregation before every shuffle, and shard-partitioned (never
    global) sorts."""
    import contextlib
    import io

    from llm_map_reduce_summarizer_spark.plans.documents import (
        corpus_pack,
        corpus_shuffle_shards,
        dedup_substring,
        emb_label_centroids,
    )

    sf = "/root/testdata/sf0.001"

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()

    # packing runs as Arrow-batched pandas groups, one per source
    p = plan(corpus_pack(spark, sf))
    assert "FlatMapGroupsInPandas" in p
    assert "BatchEvalPython" not in p

    # the within-shard sort distributes on the shard hash
    p = plan(corpus_shuffle_shards(spark, sf))
    assert "hashpartitioning(shard" in p
    assert "SinglePartition" not in p

    # duplicated-gram detection combines map-side before the shuffle
    p = plan(dedup_substring(spark, sf))
    assert "partial_count" in p

    # centroid cells partial-agg before the (label, dim) exchange
    p = plan(emb_label_centroids(spark, sf))
    assert "partial_sum" in p


def test_emb_covariance_plan_shape(spark):
    """Pin the covariance scale claim: ONE exchange total (the
    cell-level groupBy over partition partials) — the corpus rows
    themselves must never shuffle, whatever the corpus size."""
    import contextlib
    import io

    from llm_map_reduce_summarizer_spark.plans.documents import (
        emb_covariance,
    )

    df = emb_covariance(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    # partials -> agg is the only hash shuffle; rangepartitioning for
    # the final orderBy is allowed, corpus-row hashpartitioning is not
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    # and that one shuffle is keyed on the (i, j) CELLS, not vec rows
    args = plan.split("Arguments: hashpartitioning(", 1)[1]
    assert args.startswith("i"), args[:80]
    assert "BatchEvalPython" not in plan  # mapInPandas, not row UDF


def test_events_dau_approx_error_bound(spark):
    """The sketch-tier catalog entry certifies its own bound: the
    sketch_within_3rsd invariant must hold on EVERY day (that is what
    the driver hash-checks against the oracle's literal TRUE), and the
    entry must agree with the exact tier on day grid, DAU, and event
    counts."""
    from llm_map_reduce_summarizer_spark.plans.events import (
        events_dau,
        events_dau_approx,
    )

    sf = "/root/testdata/sf0.001"
    exact = events_dau(spark, sf).toPandas().set_index("day").sort_index()
    approx = (
        events_dau_approx(spark, sf).toPandas().set_index("day").sort_index()
    )
    assert list(exact.index) == list(approx.index)
    assert (exact["n_events"] == approx["n_events"]).all()
    assert (exact["dau"] == approx["dau"]).all()
    assert approx["sketch_within_3rsd"].all(), approx


def test_new_op_plan_shapes(spark):
    """Pin the scale claims of the round-6 additions: the int8
    quantizer's corpus rows never hash-shuffle (stats arrive as a
    1-row broadcast), semantic_search's documents scan never shuffles
    (the hit list broadcasts), and the CMS / transition-bigram top-ks
    reduce via TakeOrderedAndProject, never a global sort."""
    import contextlib
    import io

    from llm_map_reduce_summarizer_spark.plans.documents import (
        emb_quantize_int8,
        semantic_search,
    )
    from llm_map_reduce_summarizer_spark.plans.events import (
        events_topk_cms,
        events_user_paths,
    )

    sf = "/root/testdata/sf0.001"

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()

    # int8 quantize: the only exchange is the 1-row stats reduction;
    # corpus rows cross-join the broadcast stats row and stay put
    p = plan(emb_quantize_int8(spark, sf))
    assert "Arguments: hashpartitioning" not in p, p
    assert "BroadcastNestedLoopJoin" in p
    assert "BatchEvalPython" not in p

    # semantic_search: hit list broadcasts onto the documents scan;
    # the only hash exchange partitions the tiny candidate set by
    # query_id for the top-k window
    p = plan(semantic_search(spark, sf))
    assert "BroadcastHashJoin" in p
    assert p.count("Arguments: hashpartitioning") == 1, p
    assert "hashpartitioning(query_id" in p

    # sketch probe joins the broadcast cell table; top-k is a
    # per-partition TakeOrdered merge, not a global sort
    p = plan(events_topk_cms(spark, sf))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p

    p = plan(events_user_paths(spark, sf))
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p  # pair counts combine map-side


def test_cms_sketch_merges_and_overestimates(spark):
    """The count-min sketch's two load-bearing properties: (1) cells
    built on shards sum to the whole-data cells (what lets streams /
    partitions merge with d*w-integer state), and (2) under forced
    collisions (more keys than cells) every estimate stays >= the true
    count while at least one strictly overestimates — i.e. it really
    is a sketch, not a disguised exact count."""
    from pyspark.sql import functions as F

    from llm_map_reduce_summarizer_spark.plans.events import (
        CMS_D,
        _cms_col,
    )

    # 600 distinct keys, each appearing (k % 3) + 1 times
    rows = [(k,) for k in range(600) for _ in range(k % 3 + 1)]
    df = spark.createDataFrame(rows, "user_id long")

    def cells_of(frame):
        hashed = frame.select(
            "user_id",
            *[
                _cms_col(j, F.col("user_id")).alias(f"h{j}")
                for j in range(CMS_D)
            ],
        )
        return (
            hashed.selectExpr(
                "stack({}, {}) AS (r, c)".format(
                    CMS_D, ", ".join(f"{j}, h{j}" for j in range(CMS_D))
                )
            )
            .groupBy("r", "c")
            .agg(F.count(F.lit(1)).alias("n"))
            .toPandas()
            .set_index(["r", "c"])["n"]
            .sort_index()
        )

    whole = cells_of(df)
    shard_a = cells_of(df.filter(F.col("user_id") < 300))
    shard_b = cells_of(df.filter(F.col("user_id") >= 300))
    merged = shard_a.add(shard_b, fill_value=0).astype(int).sort_index()
    assert merged.equals(whole)

    # estimates: min over rows of the joined cells
    import pandas as pd

    cells = whole.reset_index()
    hashed = df.select(
        "user_id",
        *[_cms_col(j, F.col("user_id")).alias(f"h{j}") for j in range(CMS_D)],
    ).toPandas()
    true_n = hashed.groupby("user_id").size()
    first = hashed.drop_duplicates("user_id").set_index("user_id")
    lut = {(r, c): n for r, c, n in cells.itertuples(index=False)}
    est = pd.Series(
        {
            uid: min(lut[(j, first.loc[uid, f"h{j}"])] for j in range(CMS_D))
            for uid in first.index
        }
    )
    assert (est >= true_n).all()
    assert (est > true_n).any()  # 600 keys in 256 cells must collide


def test_emb_dedup_apply_keeps_component_minima(spark):
    """Semantic dedup must keep exactly one representative (the min
    vec_id) per cosine-near-dup component and every singleton."""
    from llm_map_reduce_summarizer_spark.operators.dedup import (
        connected_components,
    )
    from llm_map_reduce_summarizer_spark.operators.similarity import (
        embedding_neardup_blocked,
    )
    from llm_map_reduce_summarizer_spark.plans.documents import (
        NEARDUP_COS,
        emb_dedup_apply,
    )
    from llm_map_reduce_summarizer_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    e = load_table(spark, sf, "embeddings")
    pairs = embedding_neardup_blocked(e, threshold=NEARDUP_COS).select(
        "da", "db"
    )
    comps = connected_components(pairs).toPandas()
    expected_drop = set(comps[comps["id"] != comps["component"]]["id"])
    kept = set(emb_dedup_apply(spark, sf).toPandas()["vec_id"])
    all_ids = {r["vec_id"] for r in e.select("vec_id").collect()}
    assert kept == all_ids - expected_drop
    assert len(expected_drop) > 0  # the testdata does contain near-dups


def test_retrieval_and_governance_plan_shapes(spark):
    """Pin the scale claims of the retrieval/governance additions:
    BM25 shuffles only filtered postings and prunes its top-k with
    WindowGroupLimit; the fixed sample is a TakeOrdered merge, never a
    global sort; the bloom probe joins a broadcast bit table; the
    outlier scorer's corpus scan feeds a broadcast join directly (no
    corpus exchange on the probe side)."""
    from llm_map_reduce_summarizer_spark.plans.documents import (
        corpus_sample_fixed,
        dedup_bloom,
        doc_bm25_topk,
        emb_outliers,
    )

    p = plan_str(doc_bm25_topk(spark, SF))
    assert "WindowGroupLimit" in p  # rank filter pushed into the window
    assert "BroadcastHashJoin" in p  # dfreq + query-term map broadcast
    # the postings shuffle carries only query-term tokens: the isin
    # filter must sit in the scan stage, before any exchange
    assert "BatchEvalPython" not in p

    p = plan_str(corpus_sample_fixed(spark, SF))
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p  # draw is map-side; no shuffle at all

    p = plan_str(dedup_bloom(spark, SF))
    assert "BroadcastHashJoin" in p  # set-bit table broadcasts

    p = plan_str(emb_outliers(spark, SF))
    assert "BroadcastHashJoin" in p
    # the scoring scan joins the broadcast centroid table without a
    # shuffle in between: every hash exchange in the plan belongs to
    # the dimension-cell aggregation (label/dim keys), none to vec_id
    assert "hashpartitioning(vec_id" not in p


def test_fit_and_mix_ops_semantics(spark):
    """Value pins for the round-6 analytics additions: Zipf slope is
    negative with strong fit, Heaps beta is a sublinear growth
    exponent, and the mix plan is a valid distribution with capped
    rates."""
    from llm_map_reduce_summarizer_spark.plans.documents import (
        corpus_mix_plan,
        doc_heaps_fit,
        doc_zipf_fit,
    )

    # the synthetic corpus has a ~31-word closed vocabulary: Zipf is
    # near-flat (slope slightly < 0) and Heaps saturates instantly
    # (beta == 0.0 with both engines agreeing on the zero-variance
    # regression) — the pins below assert the laws' directional
    # invariants without overfitting to natural-language magnitudes
    z = doc_zipf_fit(spark, SF).first()
    assert z["n_terms"] > 10
    assert z["zipf_slope"] < 0  # frequency decreases with rank
    assert 0.0 <= z["r2"] <= 1.0

    h = doc_heaps_fit(spark, SF).first()
    assert h["n_points"] == 16
    # vocabulary growth is sublinear on any corpus (saturated ⇒ 0.0)
    assert 0.0 <= h["heaps_beta"] < 1.0
    assert 0.0 <= h["r2"] <= 1.0

    rows = corpus_mix_plan(spark, SF).collect()
    assert abs(sum(r["target_share"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["observed_share"] for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert 0.0 < r["sample_rate"] <= 1.0
        assert r["sample_rate"] <= r["epochs"] + 1e-9
        # alpha=0.5 compresses toward uniform: small sources boosted
    small = min(rows, key=lambda r: r["n_tokens"])
    big = max(rows, key=lambda r: r["n_tokens"])
    assert small["target_share"] >= small["observed_share"] - 1e-9
    assert big["target_share"] <= big["observed_share"] + 1e-9


def test_emb_kmeans_improves_objective(spark):
    """Lloyd's algorithm must not degrade the spherical objective:
    the mean final cosine-to-centroid exceeds the round-0 mean
    (computed here against the deterministic vec_id % K init), and
    runs are bit-stable."""
    import pyspark.sql.functions as F

    from llm_map_reduce_summarizer_spark.functions.vectors import unit_norm
    from llm_map_reduce_summarizer_spark.plans.documents import (
        KMEANS_K,
        emb_kmeans,
        _embs,
    )

    out = emb_kmeans(spark, SF).toPandas()
    assert set(out.columns) == {"vec_id", "cluster_id", "sim"}
    assert out["cluster_id"].between(0, KMEANS_K - 1).all()

    # round-0 objective: cosine of each vector to its init-cluster
    # centroid (same quantized arithmetic as the operator)
    e = _embs(spark, SF)
    u = e.select("vec_id", unit_norm(F.col("embedding")).alias("u"))
    ex = u.select("vec_id", F.posexplode("u").alias("dim", "val"))
    a0 = e.select(
        "vec_id", (F.col("vec_id") % KMEANS_K).cast("long").alias("c")
    )
    c0 = (
        ex.join(a0, "vec_id")
        .groupBy("c", "dim")
        .agg(F.avg("val").alias("cv"))
    )
    s0 = (
        ex.join(a0, "vec_id")
        .join(F.broadcast(c0), ["c", "dim"])
        .groupBy("vec_id")
        .agg(F.sum(F.col("val") * F.col("cv")).alias("sim0"))
    )
    init_mean = s0.agg(F.avg("sim0")).first()[0]
    assert out["sim"].mean() > init_mean

    again = emb_kmeans(spark, SF).toPandas()
    merged = out.merge(again, on="vec_id", suffixes=("", "_b"))
    assert (merged["cluster_id"] == merged["cluster_id_b"]).all()


def test_knn_ivf_lloyd_recall_and_score_parity(spark):
    """The Lloyd-index probe must recover a meaningful share of the
    exact top-k (K=8 lists, nprobe=4) and agree with the brute-force
    cosine pair-for-pair where they overlap."""
    from llm_map_reduce_summarizer_spark.plans.documents import (
        knn_bruteforce,
        knn_ivf_lloyd,
    )

    exact = knn_bruteforce(spark, SF).toPandas()
    ivf = knn_ivf_lloyd(spark, SF).toPandas()
    assert len(ivf) > 0
    exact_pairs = set(zip(exact["query_id"], exact["neighbor_id"]))
    ivf_pairs = set(zip(ivf["query_id"], ivf["neighbor_id"]))
    recall = len(ivf_pairs & exact_pairs) / len(exact_pairs)
    assert recall >= 0.3
    exact_cos = {
        (r.query_id, r.neighbor_id): r.cos for r in exact.itertuples()
    }
    for r in ivf.itertuples():
        pair = (r.query_id, r.neighbor_id)
        if pair in exact_cos:
            assert abs(exact_cos[pair] - r.cos) < 1e-9


def test_fit_degeneracy_guards(spark, tmp_path):
    """The closed-form flat-case branches must engage on a degenerate
    corpus (uniform frequencies / saturated vocab) — the raw engine
    regr_r2 there is a nondeterministic 0/0 (observed from DuckDB's
    parallel covariance merge), so the guard IS the determinism fix."""
    import pandas as pd

    from llm_map_reduce_summarizer_spark.plans.documents import (
        doc_heaps_fit,
        doc_zipf_fit,
    )

    sf = tmp_path / "degc"
    sf.mkdir()
    pd.DataFrame(
        {
            "doc_id": range(8),
            "text": ["alpha beta gamma delta"] * 8,
            "lang": ["en"] * 8,
            "source": ["src0"] * 8,
            "n_chars": [22] * 8,
        }
    ).to_parquet(sf / "documents.parquet")

    z = doc_zipf_fit(spark, str(sf)).first()
    # every term appears exactly 8 times -> flat spectrum
    assert z["zipf_slope"] == 0.0 and z["r2"] == 1.0

    h = doc_heaps_fit(spark, str(sf)).first()
    # vocab saturates at the first checkpoint -> flat growth
    assert h["heaps_beta"] == 0.0 and h["r2"] == 1.0
