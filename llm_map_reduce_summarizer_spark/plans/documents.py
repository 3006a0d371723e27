"""Training-data pipeline queries: text analysis, dedup, similarity,
multimodal metadata (SURVEY.md §2.4-2.7).

The synthetic corpus uses one shared vocabulary for all ``lang``
labels, so the language-ID heuristic legitimately predicts 'en' for
most docs — the oracle checks parity of the deterministic heuristic,
not label accuracy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import (
    shingle_key,
    sql_shingle_key,
    DRAW_MOD,
    KNUTH,
    SQL_SHINGLES,
    SQL_WORDS,
    knuth_shard,
    shuffle_sort_key,
    sql_band_hashes,
    sql_minhash_aggs,
    words,
)
from ..functions.text import (
    SQL_TOKEN_COUNT,
    TOKEN_PATTERN,
    quantize,
    sql_quantize,
    token_count,
)
from ..functions.vectors import (
    BAND_STRIDE,
    DIM,
    KNN_BANDS,
    adaptive_sign_bits,
    dot,
    sign_bucket,
    unit_norm,
    sql_adaptive_bits_cte,
    sql_cosine,
    sql_dot,
    sql_sign_bucket_dynamic,
    sql_unit_cte,
)
from ..operators.persist import materialize
from ..operators.dedup import (
    connected_components,
    exact_dedup,
    doc_shingles,
    fingerprint,
    jaccard_pairs,
    minhash_lsh_pairs,
)
from ..operators.similarity import (
    PQ_CODES,
    PQ_M,
    cosine_topk_blocked,
    cosine_topk_ivf,
    cosine_topk_ivf_trained,
    cosine_topk_lsh,
    cosine_topk_pq,
    cosine_topk_pq_rerank,
    embedding_neardup_blocked,
    pq_encode,
)
from ..sources.tables import load_table

JACCARD_THRESHOLD = 0.6
MINHASH_THRESHOLD = 0.5
NEARDUP_COS = 0.4
KNN_K = 5
LSH_K = 3
N_QUERY_VECS = 10

STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "los"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "les", "des", "que"],
}
CJK_PATTERN = "[一-鿿]"


def _docs(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    # spread is per-CALLER, by measurement: queries whose serial
    # narrow compute above the scan dominates (shingle explode + md5,
    # regex scoring) pass spread=True and win 20-35% on a layout the
    # scan reads as one task (one row group, or any file under the
    # 4 MB open-cost floor); queries dominated by many small downstream
    # stages LOSE from 32 near-empty partitions propagating through
    # every stage (per-task fixed costs exceed the per-partition
    # work — the stage-level profile showed total executor time
    # inflating ~20x on dedup_minhash_lsh at sf0.1). On a layout whose
    # scan already plans a task per core (see `spread_narrow_scan`)
    # the helper is a no-op either way.
    return load_table(spark, sf_dir, "documents", spread=spread)


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # never spread: embedding consumers either shuffle immediately
    # (groupBy applyInPandas blocks) or broadcast/collect a side —
    # the narrow work above the scan is projection-thin, so the extra
    # exchange only costs (measured: knn_bruteforce +60%,
    # emb_neardup +21% with spread at sf0.1)
    return load_table(spark, sf_dir, "embeddings")


# ----------------------------------------------------------- text analysis


def doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_tokens_of(_docs(spark, sf_dir))


def doc_tokens_of(docs: DataFrame) -> DataFrame:
    """The token/word/char accounting projection over any documents
    relation — shared by the batch query and the streaming twin
    (`stream_doc_tokens` applies it per micro-batch)."""
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars_c"),
    )


def _quality_parts() -> dict[str, F.Column]:
    """Quality sub-expressions over a ``text`` column (single scan)."""
    n_words = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double")
    n_chars = F.length("text").cast("double")
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double")
    stops = F.array([F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda t: F.array_contains(stops, t),
        )
    ).cast("double")
    return {
        "n_words": n_words,
        "n_chars": n_chars,
        "alpha": alpha,
        "stop_hits": stop_hits,
    }


def quality_score_col() -> F.Column:
    """Composite quality score in [0, ~1] over a ``text`` column,
    quantized to 4 decimals for engine-portable threshold gating."""
    p = _quality_parts()
    score = (
        0.4 * F.least(p["n_words"] / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - p["stop_hits"] / p["n_words"])
        + 0.3 * F.least((p["alpha"] / p["n_words"]) / 8.0, F.lit(1.0))
    )
    return quantize(score, 4)


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=True: pure narrow regex/word scoring above the scan, one
    # small agg-free projection out — measured −24% at sf0.1
    return quality_of(_docs(spark, sf_dir, spread=True))


def quality_of(d: DataFrame) -> DataFrame:
    """Heuristic quality signals over any (doc_id, text) relation —
    shared by the catalog entry and the injection evaluation."""
    p = _quality_parts()
    return d.select(
        "doc_id",
        p["n_words"].cast("long").alias("n_words"),
        quantize(p["n_chars"] / p["n_words"], 4).alias("chars_per_word"),
        quantize(p["alpha"] / p["n_chars"], 4).alias("alpha_ratio"),
        quantize(p["stop_hits"] / p["n_words"], 4).alias("stopword_ratio"),
        quality_score_col().alias("quality_score"),
    )


def lang_score_cols() -> dict[str, F.Column]:
    """Per-language stopword-hit counts over a ``text`` column."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")

    def _counter(stops: list[str]):
        arr = F.array([F.lit(w) for w in stops])
        # single-arg lambda: a 2-arg lambda would be read as (elem, idx)
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    scores = {
        f"s_{lang}": _counter(stops).cast("long")
        for lang, stops in STOPWORDS.items()
    }
    scores["s_zh"] = F.size(
        F.regexp_extract_all("text", F.lit(CJK_PATTERN), 0)
    ).cast("long")
    return scores


def pred_lang_col() -> F.Column:
    """Language decision over s_en/s_de/s_es/s_fr/s_zh score columns."""
    return (
        F.when(F.col("s_zh") > 0, "zh")
        .when(F.col("s_en") >= F.greatest("s_de", "s_es", "s_fr"), "en")
        .when(F.col("s_de") >= F.greatest("s_es", "s_fr"), "de")
        .when(F.col("s_es") >= F.col("s_fr"), "es")
        .otherwise("fr")
    )


def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    scores = lang_score_cols()
    d2 = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[scores[k].alias(k) for k in ["s_en", "s_de", "s_es", "s_fr", "s_zh"]],
    )
    return d2.withColumn("pred_lang", pred_lang_col())


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(_docs(spark, sf_dir)).select("doc_id", "fp")


# ----------------------------------------------------------------- dedup


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


def _doc_count_bound(spark: SparkSession, sf_dir: str) -> int:
    """Distinct-doc upper bound for `jaccard_pairs`'s enforced scale
    guard: count(*) of the documents table — a parquet footer-
    metadata count (no shingle build), >= the shingle table's
    distinct-doc count by construction (docs with zero shingles drop
    out of the explode). Passing it lets a PASSING call run the
    explode+hash shingle plan once (in the materialize) instead of
    twice (ADVICE r8: the countDistinct pre-flight re-ran the whole
    upstream shingle plan)."""
    return _docs(spark, sf_dir).count()


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise 3-gram Jaccard (the verification-set tool; the
    corpus path is MinHash-LSH). Shingles join by their 60-bit key —
    8-byte shuffles instead of n-gram strings. The verification-set
    contract is ENFORCED: `jaccard_pairs` raises above
    `EXACT_JACCARD_MAX_DOCS` distinct docs (conf-overridable), so this
    cannot be pointed at a full corpus by accident; the bound is the
    source table's metadata count (`_doc_count_bound`), so the guard
    costs no extra shingle scan."""
    # spread=True: the shingle explode + md5 keying above the scan is
    # this query's dominant cost and the downstream is broadcast-only
    # (one eager materialize, then broadcast joins) — measured −31%
    # at sf0.1; a layout whose scan plans a task per core makes it a
    # no-op
    sh = doc_shingles(_docs(spark, sf_dir, spread=True), keyed=True)
    return jaccard_pairs(
        sh,
        threshold=JACCARD_THRESHOLD,
        n_docs=_doc_count_bound(spark, sf_dir),
    )


DEDUP_SWEEP_GRID = (0.5, 0.6, 0.7, 0.8, 0.9)


def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup aggressiveness planning table: for each candidate
    Jaccard threshold, how many near-dup pairs fire and how many
    distinct documents they touch — the sweep an operator reads
    BEFORE committing a threshold to `dedup_apply`/`dedup_keep_best`
    (too low strips paraphrases, too high leaves templates; the knee
    of n_docs_affected(τ) is the defensible pick). Same
    verification-set scale discipline as `dedup_ngram_jaccard`: the
    exact pair table is computed once at the grid floor and the sweep
    is arithmetic over it (the corpus path estimates the same curve
    from MinHash signatures).

    Scale: one exact-Jaccard pair build at τ=0.5 (shingle-key
    self-join), then a 5-way grid explode over the PAIR table (pairs,
    not corpus) and two tiny rollups.
    """
    sh = doc_shingles(_docs(spark, sf_dir), keyed=True)
    pairs = jaccard_pairs(
        sh,
        threshold=DEDUP_SWEEP_GRID[0],
        n_docs=_doc_count_bound(spark, sf_dir),
    ).select("da", "db", "jaccard")
    grid = F.array(*[F.lit(t) for t in DEDUP_SWEEP_GRID])
    pe = pairs.select(
        F.explode(grid).alias("threshold"), "da", "db", "jaccard"
    ).filter(F.col("jaccard") >= F.col("threshold"))
    n_pairs = pe.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        quantize(F.avg("jaccard"), 4).alias("mean_jaccard"),
    )
    n_docs = (
        pe.select(
            "threshold", F.explode(F.array("da", "db")).alias("d")
        )
        .distinct()
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_affected"))
    )
    return n_pairs.join(n_docs, "threshold", "left").select(
        quantize(F.col("threshold"), 2).alias("threshold"),
        "n_pairs",
        "mean_jaccard",
        F.coalesce(F.col("n_docs_affected"), F.lit(0))
        .cast("long")
        .alias("n_docs_affected"),
    )


def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LSH recall audit: the MinHash-LSH pair set (banded
    candidates + df-capped shingles, verified at τ=0.5) measured
    against the EXACT all-pairs Jaccard set at the same τ — what the
    banding + stop-shingle cap actually MISS, which a per-pair
    estimator check (candidates only) is structurally blind to. The 38d S-curve predicts this recall;
    here it is measured.

    Scale: the exact side is the verification-set tool (documented —
    the corpus path never runs all-pairs); the LSH side reuses the
    production pipeline's bounded shapes; the set compare joins two
    pair tables on their keys and folds to one row.
    """
    docs = _docs(spark, sf_dir)
    sh = doc_shingles(docs, keyed=True)
    exact = jaccard_pairs(
        sh,
        threshold=MINHASH_THRESHOLD,
        n_docs=_doc_count_bound(spark, sf_dir),
    ).select("da", "db")
    lsh = minhash_lsh_pairs(
        docs, threshold=MINHASH_THRESHOLD, df_cap=MINHASH_DF_CAP
    ).select("da", "db")
    n_e = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    n_l = lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
    n_c = (
        exact.join(lsh, ["da", "db"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    j = n_e.crossJoin(n_l).crossJoin(n_c)
    return j.select(
        "n_exact",
        "n_lsh",
        "n_common",
        F.when(
            F.col("n_exact") > 0,
            quantize(
                F.col("n_common").cast("double") / F.col("n_exact"), 6
            ),
        ).alias("recall"),
        F.when(
            F.col("n_lsh") > 0,
            quantize(
                F.col("n_common").cast("double") / F.col("n_lsh"), 6
            ),
        ).alias("precision"),
    )


def dedup_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH detection S-curve for THIS engine's banding
    parameters (b=4 bands × r=4 rows): P(candidate | Jaccard s) =
    1 − (1 − s^r)^b on a 0.05 grid, plus the 50% threshold
    s* = (1/b)^(1/r) — the design sheet explaining what
    `dedup_minhash_lsh` will and won't surface (read beside
    `dedup_threshold_sweep`'s measured counts: theory here, data
    there).

    Scale: a 19-row constant table — one explode of a literal grid,
    closed-form doubles; the corpus is never touched (the one catalog
    entry whose cost is zero by construction).
    """
    from ..functions.hashing import BAND_ROWS, N_MINHASH

    b = N_MINHASH // BAND_ROWS
    r = BAND_ROWS
    grid = spark.range(1, 20).select(
        (F.col("id") / 20.0).alias("jaccard_s")
    )
    p = 1.0 - F.pow(
        1.0 - F.pow(F.col("jaccard_s"), F.lit(float(r))),
        F.lit(float(b)),
    )
    thresh = float((1.0 / b) ** (1.0 / r))
    return grid.select(
        quantize(F.col("jaccard_s"), 2).alias("jaccard_s"),
        F.lit(b).cast("long").alias("n_bands"),
        F.lit(r).cast("long").alias("rows_per_band"),
        quantize(p, 6).alias("p_candidate"),
        quantize(F.lit(thresh), 6).alias("s50_threshold"),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        _docs(spark, sf_dir),
        threshold=MINHASH_THRESHOLD,
        df_cap=MINHASH_DF_CAP,
    )


def emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_blocked(_embs(spark, sf_dir), threshold=NEARDUP_COS)


def emb_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication APPLIED: connected
    components over the embedding-cosine near-dup pair graph, keep the
    min vec_id per component, return the surviving corpus rows — the
    embedding-space analogue of ``dedup_apply`` (exact) and
    ``dedup_keep_best`` (MinHash clusters).

    Scale: pairs come from the blocked-dgemm all-pairs operator
    (B·n-row shuffle, never n²); components run the O(log diameter)
    pointer-halving propagation over the pair graph (pairs ≪ corpus);
    the final filter is an anti-join on vec_id, so corpus rows shuffle
    only by their key.
    """
    from ..operators.dedup import connected_components

    e = _embs(spark, sf_dir)
    pairs = embedding_neardup_blocked(e, threshold=NEARDUP_COS).select(
        "da", "db"
    )
    drop = (
        connected_components(pairs)
        .filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias("vec_id"))
    )
    return e.join(drop, "vec_id", "left_anti").select("vec_id", "label")


# ------------------------------------------------------------- similarity


def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return cosine_topk_blocked(q, e, k=KNN_K)


def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return cosine_topk_lsh(q, e, k=LSH_K)


KNN_GRAPH_K = 3


def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate corpus-wide k-NN graph (operators/similarity.py
    cosine_knn_graph): top-k neighbors of EVERY vector. The LSH bit
    width adapts to corpus size (constant target bucket occupancy, so
    compare volume grows ~linearly — not n²/2^bits), candidates union
    across 4 staggered sign-hash bands (recall 1-(1-p^bits)^4 vs
    p^bits single-band), and each band-bucket scores with one blocked
    dgemm. Feeds graph-based clustering.
    """
    from ..operators.similarity import cosine_knn_graph

    return cosine_knn_graph(_embs(spark, sf_dir), k=KNN_GRAPH_K)


def emb_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space clustering: connected components over the
    MUTUAL k-NN graph (an edge survives only if each endpoint ranks
    the other in its top-k) — the standard density-style grouping of
    an embedding column, complementing the shingle-based
    ``dedup_clusters``. Singletons (no mutual edge) are not emitted.

    Scale: the mutual filter is a semi-join of the k-NN edge list
    against its own reversal (k·n rows, natural keys); components run
    the same O(diameter) min-label propagation as the dedup family.
    """
    from ..operators.dedup import connected_components
    from ..operators.similarity import cosine_knn_graph

    # the mutual filter reads the pair list twice (left + reversed
    # right) and the kNN-graph scan is the expensive upstream —
    # materialize it once
    pairs = (
        cosine_knn_graph(_embs(spark, sf_dir), k=KNN_GRAPH_K)
        .select("da", "db")
        .transform(materialize)
    )
    mutual = pairs.join(
        pairs.select(F.col("db").alias("da"), F.col("da").alias("db")),
        ["da", "db"],
        "left_semi",
    ).filter(F.col("da") < F.col("db"))
    return connected_components(mutual).select(
        F.col("id").alias("vec_id"), F.col("component").alias("cluster_id")
    )


IVF_CENTROIDS = 16
IVF_NPROBE = 2


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: deterministic coarse quantizer (first-K unit
    vectors), nprobe nearest lists per query (operators/similarity.py).
    """
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return cosine_topk_ivf(
        q, e, k=KNN_K, n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE
    )


def knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with MLlib spherical k-means centroids (seeded),
    emitted as a per-hit certificate — r7 conversion of the last
    rows-only ANN entry to a full hash oracle (the k-means training
    loop has no SQL twin, so the certificate pins the structure and
    bounds the values, the ``sketch_within_3rsd`` pattern):

    * row structure — exactly ``KNN_K`` ranked hits per query (the
      oracle cross-joins queries x ranks, so a short or duplicated
      hit list hash-mismatches),
    * ``cos_le_exact`` — the trained probe's rank-r cosine never
      exceeds the exact scan's rank-r cosine (candidate subsets
      cannot beat the full scan at any rank; both sides quantize the
      same pair to the same 6-decimal value up to one grid quantum —
      the Spark-SQL and numpy-BLAS float paths can differ by an ulp
      at a .5 rounding boundary, so the check carries 1.5e-6 slack:
      enough for any one-quantum gap in IEEE doubles, below every
      two-quantum gap),
    * ``recall_ok`` — corpus recall@k vs ``knn_bruteforce`` clears
      ``IVF_TRAINED_RECALL_FLOOR``.

    ``operators.similarity.cosine_topk_ivf_trained`` keeps the real
    hit lists for composition; this entry certifies that pass.

    nprobe=4 (vs 2 for the untrained variant): the synthetic
    embeddings are isotropic random — the adversarial case for IVF —
    and 4/16 lists gives 0.6 recall@5 there; clustered real data does
    far better at the same setting.
    """
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    trained = cosine_topk_ivf_trained(
        q, e, k=KNN_K, n_centroids=IVF_CENTROIDS, nprobe=4
    )
    exact = cosine_topk_blocked(q, e, k=KNN_K)
    recall = trained.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    ).agg(
        (
            F.count(F.lit(1)).cast("double")
            / F.lit(float(N_QUERY_VECS * KNN_K))
        ).alias("recall")
    )
    return (
        trained.join(
            exact.select(
                "query_id", "rk", F.col("cos").alias("cos_exact")
            ),
            ["query_id", "rk"],
        )
        .crossJoin(F.broadcast(recall))
        .select(
            "query_id",
            "rk",
            # one-quantum slack: the probe's cosine comes from a
            # Spark-SQL dot + quantize, the exact scan's from numpy
            # BLAS matmul + _quantize_np — the two float paths can
            # differ by an ulp, and when x*1e6 sits on a .5 rounding
            # boundary the same pair can quantize to values one grid
            # step (1e-6) apart. The slack is 1.5e-6, NOT 1e-6: in
            # IEEE doubles `(m+1)/1e6 <= m/1e6 + 1e-6` is FALSE for
            # ~25% of grid points m (verified by exhaustive scan over
            # m in [0, 2e6]), while 1.5e-6 admits every one-quantum
            # gap and no two-quantum gap (2e-6 > 1.5e-6). The
            # certificate's claim (candidates cannot beat the full
            # scan) is unchanged at grid resolution.
            (
                F.col("cos") <= F.col("cos_exact") + F.lit(1.5e-6)
            ).alias("cos_le_exact"),
            (F.col("recall") >= IVF_TRAINED_RECALL_FLOOR).alias(
                "recall_ok"
            ),
        )
    )


def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN: vectors encoded as 8 sub-codes against a
    deterministic 16-codeword-per-subspace codebook; queries rank by
    asymmetric distance (sum of per-subspace table lookups). The
    billion-vector ANN tier — the index stores codes (4 bits/subspace
    here, 1 byte at 256), never raw vectors
    (operators/similarity.py cosine_topk_pq).
    """
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return cosine_topk_pq(q, e, k=KNN_K)


def emb_pq_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored PQ index table: per-vector sub-codes (32 bits here
    vs 512 raw bytes) — the artifact ``knn_pq`` searches read, written
    back once per corpus build (operators/similarity.py pq_encode)."""
    return pq_encode(_embs(spark, sf_dir))


def emb_ivf_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored IVF list-assignment table: per-vector coarse-list id
    — the third stored index artifact (alongside `emb_pq_export`'s
    codes and `dedup_index_export`'s bands); IVF probes read
    exactly this table, list-partitioned, in production.

    Scale: one corpus scan (broadcast d×K centroid matrix, dgemm per
    Arrow batch), zero shuffle.
    """
    from ..operators.similarity import centroid_matrix, ivf_assign

    e = _embs(spark, sf_dir)
    cents = centroid_matrix(e, IVF_CENTROIDS)
    return ivf_assign(e, cents, top=1).select(
        F.col("vid").alias("vec_id"), F.col("bucket").alias("list_id")
    )


TOKEN_HIST_WIDTH = 32


def corpus_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-length (token-count) histogram — the packing/batching
    diagnostic: how much padding a sequence budget wastes is a
    function of exactly this distribution.

    Scale: one partial-agg groupBy on the bucket id; result bounded by
    the length range / width, never corpus size.
    """
    d = _docs(spark, sf_dir)
    n = token_count(F.col("text")).cast("long")
    bucket = F.floor(n / F.lit(TOKEN_HIST_WIDTH)).cast("long")
    cells = (
        d.select(bucket.alias("bucket"), n.alias("n_tokens"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_tokens").cast("long").alias("min_tokens"),
            F.max("n_tokens").cast("long").alias("max_tokens"),
        )
    )
    return token_hist_report(cells)


def token_hist_report(cells: DataFrame) -> DataFrame:
    """The histogram projection over (bucket, n_docs, min, max)
    cells — shared by the batch query and the streaming drain
    (`stream_token_histogram` accumulates the same length-bounded
    count/min/max cells at ingest — all mergeable)."""
    return cells.withColumn(
        "lo", (F.col("bucket") * TOKEN_HIST_WIDTH).cast("long")
    )


CONTAINMENT_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-SUPERSET pairs: containment C(A in B) =
    |A∩B| / |A| — catches a small doc quoted verbatim inside a larger
    one, which symmetric Jaccard dilutes below any usable threshold
    (the second signal of Lee et al.-style dedup, next to Jaccard).

    Emits (da=contained, db=container, containment) for C >= 0.8,
    both directions considered. Same shuffle shape as the Jaccard
    verification tool (keyed shingle self-join); the corpus-scale
    path composes the LSH candidates + `dedup_substring`'s window
    hashes.
    """
    from ..operators.dedup import doc_shingles

    sh = doc_shingles(_docs(spark, sf_dir), keyed=True).transform(materialize)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("da"), "s")
    b = sh.select(F.col("doc_id").alias("db"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("da") != F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        common.join(
            sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na")),
            "da",
        )
        .withColumn(
            "containment", quantize(F.col("c") / F.col("na"), 4)
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .select("da", "db", "containment")
    )


def events_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-event snapshot per entity (the SCD/upsert collapse: a
    100 TB event log compacts to one current-state row per user).

    Scale: ONE natural-key partial agg — the argmax rides a struct-max
    (ts, event_id ordered fields), so no ranking window and no sort;
    exact-integer microsecond ordering with event_id tie-break.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    picked = (
        ev.select(
            "user_id",
            F.struct(
                us.alias("ts_us"),
                F.col("event_id").alias("event_id"),
                F.col("event_type").alias("event_type"),
                F.col("value").alias("value"),
            ).alias("st"),
        )
        .groupBy("user_id")
        .agg(F.max("st").alias("st"))
    )
    return picked.select(
        "user_id",
        F.col("st.event_id").alias("event_id"),
        F.col("st.ts_us").alias("ts_us"),
        F.col("st.event_type").alias("event_type"),
        F.col("st.value").alias("value"),
    )


# Gopher quality rules (Rae et al. 2021, public): the published rule
# battery a production corpus filter runs before model-based scoring.
# paper list + "a" (the only other function word in the synthetic
# vocabulary) so the presence rule discriminates on the test corpus
GOPHER_STOPS = ("the", "a", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MWL_MIN = 3.0
GOPHER_MWL_MAX = 10.0
GOPHER_SYMBOL_MAX = 0.1
GOPHER_ALPHA_MIN = 0.8
GOPHER_MIN_STOPS = 2


def doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule battery per doc: word-count bounds, mean word
    length, symbol-to-word ratio (# / ellipsis), alphabetic-word
    fraction, stopword presence — each rule an audit flag plus the
    conjunctive keep verdict.

    Scale: pure column expressions in ONE narrow scan — zero
    exchanges; every ratio quantized at 4 decimals so both engines
    gate identically.
    """
    d = _docs(spark, sf_dir)
    w = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_words = F.size(w).cast("double")
    mwl = quantize(
        F.length(F.regexp_replace("text", r"\s", "")).cast("double")
        / n_words,
        4,
    )
    symbols = (
        F.regexp_count("text", F.lit("#"))
        + F.regexp_count("text", F.lit(r"\.\.\."))
    ).cast("double")
    symbol_ratio = quantize(symbols / n_words, 4)
    alpha_words = F.size(
        F.filter(w, lambda t: t.rlike("[a-z]"))
    ).cast("double")
    alpha_frac = quantize(alpha_words / n_words, 4)
    stop_present = sum(
        F.when(F.array_contains(w, s), 1).otherwise(0)
        for s in GOPHER_STOPS
    ).cast("long")
    flags = {
        "ok_words": (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS),
        "ok_mwl": (mwl >= GOPHER_MWL_MIN) & (mwl <= GOPHER_MWL_MAX),
        "ok_symbols": symbol_ratio < GOPHER_SYMBOL_MAX,
        "ok_alpha": alpha_frac > GOPHER_ALPHA_MIN,
        "ok_stops": stop_present >= GOPHER_MIN_STOPS,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mwl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
        stop_present.alias("stop_present"),
        *[c.alias(k) for k, c in flags.items()],
        keep.alias("keep"),
    )


# C4 cleaning rules (Raffel et al. 2020, public).
C4_MIN_SENTENCES = 3


def doc_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 rule battery per doc: sentence-count floor (terminal-
    punctuation splits) and the banned-content screens (lorem ipsum,
    javascript, curly brace) — audit flags + conjunctive keep.

    Scale: one narrow scan, zero exchanges, quantization-free (all
    rules are integer/boolean). The synthetic corpus is punctuation-
    free, so the faithful C4 gate drops every doc here (the correct
    verdict); discrimination is exercised on punctuated synthetic docs
    in unit tests.
    """
    d = _docs(spark, sf_dir)
    lower = F.lower(F.col("text"))
    n_sentences = (
        F.size(F.split(F.col("text"), r"[.!?]")) - F.lit(1)
    ).cast("long")
    has = {
        "has_lorem": lower.contains("lorem ipsum"),
        "has_js": lower.contains("javascript"),
        "has_brace": F.col("text").contains("{"),
    }
    keep = (
        (n_sentences >= C4_MIN_SENTENCES)
        & ~has["has_lorem"]
        & ~has["has_js"]
        & ~has["has_brace"]
    )
    return d.select(
        "doc_id",
        n_sentences.alias("n_sentences"),
        *[c.alias(k) for k, c in has.items()],
        keep.alias("keep"),
    )


def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical dedup over the opaque binary payload column —
    the only dedup available without decoding (text normalization has
    no meaning for opaque bytes): md5 over the raw payload, keep the
    min doc_id per digest.

    Scale: the digest is computed map-side so the shuffle carries
    32-byte keys; payloads never move.
    """
    d = _docs(spark, sf_dir).withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    return (
        d.select("doc_id", F.md5("payload").alias("payload_digest"))
        .groupBy("payload_digest")
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_payloads"),
        )
    )


# projections are 1e-6-quantized; on ~0.1-magnitude coordinates that
# leaves ~1e-5 relative variance drift — the bound certifies the
# eigen-structure, not the quantizer
PCA_VAR_RTOL = 1e-4
IVF_TRAINED_RECALL_FLOOR = 0.5


def emb_pca_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level certification of the PCA tier (the eigensolver
    itself has no SQL twin, so `emb_pca_project` is rows-only — this
    entry gives the family a hash-checkable record, the same
    bound-invariant pattern as the sketch tiers): per component,

    * orthonormal_ok — |C·Cᵀ − I|max ≤ 1e-9 on the (k,d) projection
      matrix (driver numpy, d-bounded),
    * ordered_ok — explained-variance shares non-increasing,
    * variance_ok — the DISTRIBUTED population variance of the
      projected coordinate equals its eigenvalue (share × covariance
      trace) within 1e-4 relative (the slack absorbs the 1e-6 value
      quantization) — ties the broadcast matrix to the actual
      corpus-scale projection pass.

    The oracle asserts all three as literal TRUE per component.
    """
    import numpy as np

    from ..operators.similarity import pca_project, pca_projection_matrix

    e = _embs(spark, sf_dir)
    comps, shares = pca_projection_matrix(e, PCA_COMPONENTS)
    ortho_err = float(np.abs(comps @ comps.T - np.eye(len(comps))).max())
    ordered = bool(all(a >= b for a, b in zip(shares, shares[1:])))

    # covariance trace = sum of per-dim population variances (one agg)
    dimvals = e.select(F.posexplode("embedding").alias("dim", "val"))
    trace = (
        dimvals.groupBy("dim")
        .agg(F.var_pop(F.col("val").cast("double")).alias("v"))
        .agg(F.sum("v").alias("trace"))
    )
    proj = pca_project(e, n_components=PCA_COMPONENTS).select(
        F.posexplode("components").alias("component", "value")
    )
    pvar = proj.groupBy("component").agg(
        F.var_pop("value").alias("proj_var")
    )
    lam = spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate(shares)],
        "component int, share double",
    )
    return (
        pvar.join(F.broadcast(lam), "component")
        .crossJoin(F.broadcast(trace))
        .select(
            F.col("component").cast("long").alias("component"),
            F.lit(ortho_err <= 1e-9).alias("orthonormal_ok"),
            F.lit(ordered).alias("ordered_ok"),
            (
                F.abs(F.col("proj_var") - F.col("share") * F.col("trace"))
                <= PCA_VAR_RTOL * (F.col("share") * F.col("trace"))
                + F.lit(1e-9)
            ).alias("variance_ok"),
        )
    )


def knn_ivf_trained_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level certification of the trained-IVF tier (the k-means
    training loop has no SQL twin, so `knn_ivf_trained` is rows-only):
    corpus-level recall@k vs the exact scan must clear the 0.5 floor —
    emitted as a boolean per query the oracle asserts TRUE, so the
    driver records a hash-green bound for the trained quantizer.
    """
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    exact = cosine_topk_blocked(q, e, k=KNN_K).select(
        "query_id", "neighbor_id"
    )
    trained = cosine_topk_ivf_trained(q, e, k=KNN_K, nprobe=4).select(
        "query_id", "neighbor_id"
    )
    hits = trained.join(exact, ["query_id", "neighbor_id"], "left_semi")
    recall = hits.agg(
        (
            F.count(F.lit(1)).cast("double")
            / F.lit(float(N_QUERY_VECS * KNN_K))
        ).alias("recall")
    )
    return (
        q.select("vec_id")
        .crossJoin(F.broadcast(recall))
        .select(
            F.col("vec_id").alias("query_id"),
            (F.col("recall") >= IVF_TRAINED_RECALL_FLOOR).alias(
                "recall_ok"
            ),
        )
    )


def doc_ngram_lm_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored bigram-LM table (KenLM-style artifact): per corpus
    bigram, its count, the w1 marginal, and the add-one-smoothed
    conditional log-probability — the table `doc_bigram_surprisal`
    scores against, exported once per corpus build so quality scoring
    of future ingest batches probes it instead of re-aggregating the
    corpus (the same stored-artifact role as the PQ/IVF/minhash
    indexes).

    Scale: the bigram explode is the shingle-table shape; counts and
    marginals are natural-key partial aggs; vocab joins as a 1-row
    broadcast.
    """
    from ..functions.hashing import words

    d = _docs(spark, sf_dir)
    wd = d.select("doc_id", words(F.col("text")).alias("w")).filter(
        F.size("w") >= 2
    )
    bg = wd.selectExpr(
        "doc_id",
        "explode(transform(sequence(1, size(w) - 1),"
        " i -> struct(w[i-1] AS w1, w[i] AS w2))) AS bg",
    ).select("bg.w1", "bg.w2")
    bf = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    uf = bf.groupBy("w1").agg(F.sum("n").alias("cw1"))
    vocab = (
        bg.select(F.col("w1").alias("t"))
        .union(bg.select("w2"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("v"))
    )
    return (
        bf.join(uf, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.col("n").cast("long").alias("n"),
            F.col("cw1").cast("long").alias("cw1"),
            quantize(
                F.log(
                    (F.col("n") + F.lit(1.0)) / (F.col("cw1") + F.col("v"))
                ),
                6,
            ).alias("logp"),
        )
    )


def corpus_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance dashboard rollup: per (lang, source) stratum, how
    many docs the ensemble gate keeps, the keep rate, and the mean
    quality/repetition signals — the table a curation run reviews
    before committing a filter config.

    Scale: the per-doc ensemble signals join the doc dimensions on
    doc_id (co-partitioned natural keys, AQE-decided), then ONE
    partial-agg groupBy bounded by strata count. Means are over
    already-quantized per-doc values, re-quantized at 4 so both
    engines gate identically.
    """
    ens = doc_quality_ensemble(spark, sf_dir).select(
        "doc_id", "quality_score", "dup_ratio", "keep"
    )
    dims = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    return (
        ens.join(dims, "doc_id")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_keep"),
            quantize(
                F.sum(F.col("keep").cast("long"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("keep_rate"),
            # per-doc signals live on the 1e-4 grid, so integer-sum
            # them exactly and divide ONCE — a float avg of grid
            # values can land on a .00005 boundary and flip per
            # engine summation order
            quantize(
                F.sum(
                    F.round(F.col("quality_score") * 10000).cast("long")
                )
                / (F.count(F.lit(1)).cast("double") * 10000.0),
                4,
            ).alias("mean_quality"),
            quantize(
                F.sum(F.round(F.col("dup_ratio") * 10000).cast("long"))
                / (F.count(F.lit(1)).cast("double") * 10000.0),
                4,
            ).alias("mean_dup_ratio"),
        )
    )


def emb_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between the existing corpus half
    and the ingest half (the monitoring table an embedding pipeline
    alerts on before an index rebuild): per dimension, the mean shift
    and population-variance ratio across the two halves.

    Scale: one dimension-exploded partial agg per half — d-bounded
    cell tables, no vector crosses the wire (the
    `emb_label_centroids` shape keyed by split instead of label).
    """
    e = _embs(spark, sf_dir)
    ex = e.select(
        (F.col("vec_id") % 2 == 0).alias("is_existing"),
        F.posexplode("embedding").alias("dim", "val"),
    )
    per = ex.groupBy("is_existing", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.col("val").cast("double")).alias("m"),
        F.var_pop(F.col("val").cast("double")).alias("v"),
    )
    a = per.filter("is_existing").select(
        "dim",
        F.col("n").alias("n_existing"),
        F.col("m").alias("m_a"),
        F.col("v").alias("v_a"),
    )
    b = per.filter(~F.col("is_existing")).select(
        "dim",
        F.col("n").alias("n_batch"),
        F.col("m").alias("m_b"),
        F.col("v").alias("v_b"),
    )
    return a.join(b, "dim").select(
        F.col("dim").cast("long").alias("dim"),
        "n_existing",
        "n_batch",
        quantize(F.col("m_b") - F.col("m_a"), 6).alias("mean_shift"),
        quantize(F.col("v_b") / F.col("v_a"), 6).alias("var_ratio"),
    )


def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup dashboard rollup: per (lang, source) stratum, how many
    docs carry a content digest that appears more than once
    CORPUS-WIDE (a cross-source copy still counts in every stratum it
    lands in) and the stratum's duplicate rate.

    Scale: digests computed map-side; corpus-wide digest counts are
    one 32-byte-key partial agg that joins back to the doc slice
    (AQE-decided); the final agg is strata-bounded.
    """
    from ..operators.dedup import fingerprint

    d = fingerprint(_docs(spark, sf_dir)).select(
        "doc_id", "lang", "source", "fp"
    )
    counts = d.groupBy("fp").agg(F.count(F.lit(1)).alias("n_fp"))
    return (
        d.join(counts, "fp")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("n_fp") > 1).cast("long"))
            .cast("long")
            .alias("n_dup_docs"),
            quantize(
                F.sum((F.col("n_fp") > 1).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("dup_rate"),
        )
    )


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup graph (the dedup
    diagnostic: how much of the duplication is pairwise vs
    boilerplate families): per component size, how many clusters and
    how many docs they hold.

    Scale: composes `dedup_clusters` (pair graph ≪ corpus) with two
    tiny aggs — the size histogram is bounded by the largest
    component, never the corpus.
    """
    comps = connected_components(
        minhash_lsh_pairs(
            _docs(spark, sf_dir),
            threshold=MINHASH_THRESHOLD,
            df_cap=MINHASH_DF_CAP,
        )
    )
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size"))
        .cast("long")
        .alias("n_docs"),
    ).select(
        F.col("cluster_size").cast("long").alias("cluster_size"),
        "n_clusters",
        "n_docs",
    )


WINNOW_W = 4


def doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer et al. 2003, the
    MOSS algorithm): over each doc's k-gram hash sequence, every
    window of W consecutive hashes contributes its minimum — the
    guarantee is that any match of length >= W+k-1 shares a selected
    fingerprint, at ~2/(W+1) storage density. The selected (pos, fp)
    rows are the plagiarism-style overlap index, a positional
    complement to MinHash (which keeps no positions).

    Ties select the SMALLEST position (deterministic variant; the
    paper's rightmost rule is an arbitrary orientation). Scale: gram
    hashes are map-side; the sliding min is a doc-partitioned window
    frame (never global); the distinct collapses map-side within the
    doc partition.
    """
    from pyspark.sql.window import Window

    from ..functions.hashing import words

    d = _docs(spark, sf_dir)
    wd = d.select("doc_id", words(F.col("text")).alias("w")).filter(
        F.size("w") >= 3
    )
    grams = wd.selectExpr(
        "doc_id",
        "size(w) - 2 AS n_grams",
        "posexplode(transform(sequence(0, size(w) - 3),"
        " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS (pos, g)",
    ).select(
        "doc_id",
        "n_grams",
        "pos",
        shingle_key(F.col("g")).alias("h"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    sel = (
        grams.withColumn(
            "m", F.min(F.struct(F.col("h"), F.col("pos"))).over(win)
        )
        # a window starting at pos is full only while pos <= n - W
        .filter(F.col("pos") <= F.col("n_grams") - WINNOW_W)
        .select(
            "doc_id",
            F.col("m.pos").alias("pos"),
            F.col("m.h").alias("fp"),
        )
        .distinct()
    )
    return sel


WINNOW_OVERLAP_MIN = 5


def doc_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise overlap via the winnowing index: doc pairs sharing at
    least WINNOW_OVERLAP_MIN selected fingerprints — the MOSS match
    report, positional cousin of `dedup_ngram_jaccard` (each shared
    fingerprint certifies a ≥ W+k−1-word common run).

    Scale: the self-join keys on the 8-byte fingerprint of the
    ALREADY-thinned index (~2/(W+1) of grams), so compare volume is
    Σ df(fp)² over selected prints — and the same df-cap guard as the
    shingle paths applies if a print goes boilerplate.
    """
    sel = doc_winnowing(spark, sf_dir).select("doc_id", "fp").distinct()
    a = sel.select(F.col("doc_id").alias("da"), "fp")
    b = sel.select(F.col("doc_id").alias("db"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_OVERLAP_MIN)
    )


def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law input: per doc (in doc_id ingest order), how many
    vocabulary terms appear for the FIRST time — the cumulative sum
    is the vocabulary-growth curve dedup and tokenizer budgets are
    planned against.

    Scale: first-appearance doc per term = one term-keyed partial agg
    (min doc_id); the per-doc count is a second natural-key agg — NO
    global-order window (the analyst cumsums the tiny result; at
    100 TB the curve has one point per ingest shard anyway).
    """
    from ..functions.hashing import words

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(words(F.col("text"))).alias("term")
    )
    first = toks.groupBy("term").agg(F.min("doc_id").alias("doc_id"))
    return (
        first.groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_terms"))
    )


def dedup_index_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored near-dup index table: per-doc MinHash LSH band keys
    — the existing-corpus side that an incremental delta screen
    probes; maintaining it alongside the
    corpus is what makes delta screening O(delta), not O(corpus)."""
    from ..functions.hashing import band_hashes
    from ..operators.dedup import drop_stop_shingles, minhash_signatures

    sh = doc_shingles(_docs(spark, sf_dir), keyed=True)
    # two passes consume the raw table (df agg + anti-join) before the
    # signature agg; materialize the keyed explode once
    sh = drop_stop_shingles(
        sh.transform(materialize), MINHASH_DF_CAP
    )
    return minhash_signatures(sh).select("doc_id", *band_hashes())


PQ_SHORTLIST = 50


def knn_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC shortlist + exact cosine re-rank — the production ANN
    shape: compressed codes prune the corpus to a per-query shortlist,
    exact dots score only those. Recovers most of the recall the
    untrained 32-bit codes give up (pinned vs brute force in tests)
    while still never scanning raw vectors corpus-wide.
    """
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return cosine_topk_pq_rerank(q, e, k=KNN_K, shortlist=PQ_SHORTLIST)


def emb_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket census at the ADAPTIVE bit width the corpus-scale
    self-joins (``knn_graph``/``emb_clusters``) actually use — the
    hash-checked witness that bucket count tracks corpus size and
    occupancy stays balanced."""
    e = _embs(spark, sf_dir)
    bits = adaptive_sign_bits(e.count())
    return (
        e.withColumn("bucket", sign_bucket(F.col("embedding"), n_bits=bits))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid statistics — the distributed building block
    of k-means / IVF training: one dimension-exploded partial
    aggregation computes every centroid in parallel.

    Scale: the explode is n×dim rows but the (label, dim) groupBy is a
    partial agg (map-side combine reduces each task to
    labels×dim rows before the shuffle); the second agg is labels-
    sized. No vector ever crosses the wire — only (label, dim, sum,
    count) cells. This is exactly one Lloyd-iteration's centroid
    update at 100 TB.
    """
    e = _embs(spark, sf_dir)
    ex = e.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    )
    cent = (
        ex.groupBy("label", "dim")
        .agg(
            F.sum(F.col("val").cast("double")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn("c", F.col("s") / F.col("n"))
    )
    return (
        cent.groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n_vecs"),
            F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("centroid_norm"),
        )
        .select("label", "n_vecs", "centroid_norm")
    )


PCA_COMPONENTS = 8


def emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance matrix of the embedding column as
    (i, j, cov) cells (i <= j) — the distributed second-moment
    statistic behind PCA whitening / decorrelation of a training
    corpus's embedding space.

    Scale: each partition folds its rows into ONE d x d Gramian
    partial (numpy syrk over Arrow batches, operators/similarity.py
    covariance_cells), so shuffle volume is partitions * d(d+1)/2
    cells — independent of corpus size. One scan, one tiny shuffle.
    """
    from ..operators.similarity import covariance_cells

    return covariance_cells(_embs(spark, sf_dir)).orderBy("i", "j")


def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PCA projection pass with a per-vector value-bearing
    certificate — r7 conversion of the catalog's last rows-only
    embedding entry to a full hash oracle (the eigensolve itself has
    no SQL twin, so the certificate pins what IS exactly checkable
    and bounds the rest, the ``sketch_within_3rsd`` pattern):

    * ``centered_sq_q`` — the per-vector centered squared norm as an
      EXACT integer (embeddings quantized to 1e-6 micro-units, terms
      ``(x_q*n - S_dim)^2`` summed as decimal(38,0); order-free
      integer arithmetic, so DuckDB reproduces it bit-for-bit),
    * ``contraction_ok`` — |proj|^2 <= |x - mean|^2 + slack per vector
      (orthonormal projections contract norms; slack absorbs the 1e-6
      projection quantization and the micro-unit mean),
    * ``parseval_ok`` — corpus-level: sum |proj|^2 = n * sum(lambda_k)
      within ``PCA_VAR_RTOL`` (ties the broadcast eigenvectors to the
      distributed projection pass),
    * ``orthonormal_ok`` — |C*C^T - I|max <= 1e-9 (driver numpy,
      d-bounded).

    ``operators.similarity.pca_project`` keeps the real projected
    vectors for composition; this entry certifies that pass.

    Scale: the d x d eigenproblem is driver-side O(d^3) — bounded by
    the embedding dimension, never the corpus. One covariance scan
    (shared with the eigensolve via ``with_trace``), one posexplode
    scan for the exact norms (d-row partial aggs, no wide shuffle),
    one projection scan against the broadcast (k, d) matrix.
    """
    import numpy as np

    from ..operators.similarity import pca_project, pca_projection_matrix

    e = _embs(spark, sf_dir)
    n = e.count()
    comps, shares, trace = pca_projection_matrix(
        e, PCA_COMPONENTS, with_trace=True
    )
    ortho_ok = bool(
        np.abs(comps @ comps.T - np.eye(len(comps))).max() <= 1e-9
    )
    lam_sum = float(trace * shares.sum())

    # exact centered squared norm: quantize x to micro-units, fold
    # (x_q*n - S_dim)^2 as integers — no float sum order anywhere.
    # The d per-dimension micro-sums are ONE d-row agg collected and
    # re-broadcast as an array literal, so the per-vector fold is a
    # zero-shuffle narrow map (the r7 first cut exploded xd and
    # shuffled n combined rows — at 10^9 vectors that shuffle is pure
    # waste when the d-bounded sums fit in a literal)
    xq = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
            "long"
        ),
    )
    sums_row = (
        e.select(
            F.posexplode("embedding").alias("dim", "val")
        )
        .select(
            "dim",
            F.floor(
                F.col("val").cast("double") * F.lit(1e6) + F.lit(0.5)
            )
            .cast("long")
            .alias("xq"),
        )
        .groupBy("dim")
        .agg(F.sum("xq").alias("s"))
        .collect()
    )
    s_by_dim = {int(r["dim"]): int(r["s"]) for r in sums_row}
    s_arr = F.array(
        *[F.lit(s_by_dim.get(i, 0)).cast("long") for i in range(DIM)]
    )
    terms = F.zip_with(
        xq,
        s_arr,
        lambda x, s: (
            (x * F.lit(n) - s).cast("decimal(38,0)")
            * (x * F.lit(n) - s).cast("decimal(38,0)")
        ),
    )
    centered = e.select(
        "vec_id",
        F.aggregate(
            terms,
            F.lit(0).cast("decimal(38,0)"),
            lambda a, x: a + x,
        ).alias("c2"),
    )

    proj = pca_project(e, n_components=PCA_COMPONENTS, components=comps)
    psq = proj.select(
        "vec_id",
        F.aggregate(
            "components", F.lit(0.0), lambda a, x: a + x * x
        ).alias("proj_sq"),
    )
    tot = psq.agg(F.sum("proj_sq").alias("proj_sq_total"))
    parseval = (
        F.abs(F.col("proj_sq_total") - F.lit(float(n) * lam_sum))
        <= F.lit(PCA_VAR_RTOL * float(n) * lam_sum + 1e-9)
    )
    # c2 is in micro^2 * n^2 units; slack absorbs quantizer drift
    c2_real = F.col("c2").cast("double") / F.lit(float(n) * float(n) * 1e12)
    return (
        centered.join(psq, "vec_id")
        .crossJoin(F.broadcast(tot))
        .select(
            "vec_id",
            F.col("c2").cast("string").alias("centered_sq_q"),
            F.lit(PCA_COMPONENTS).cast("long").alias("n_components"),
            (F.col("proj_sq") <= c2_real + F.lit(1e-4)).alias(
                "contraction_ok"
            ),
            parseval.alias("parseval_ok"),
            F.lit(ortho_ok).alias("orthonormal_ok"),
        )
    )


def semantic_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval end-to-end: exact cosine top-k over the embedding
    column, then the hit list joins back to ``documents`` for the
    payload a retrieval consumer actually wants (doc metadata, not
    bare neighbor ids) — the RAG-shaped composition of the ANN tier
    with the document store.

    Scale: the hit list is query_count x k rows by construction, so it
    broadcasts; the documents table is scanned once and never
    shuffles. At 100 TB swap ``cosine_topk_blocked`` for the IVF/PQ
    tier — the join shape is unchanged.
    """
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    hits = cosine_topk_blocked(q, e, k=KNN_K).withColumnRenamed(
        "neighbor_id", "doc_id"
    )
    d = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    return F.broadcast(hits).join(d, "doc_id").select(
        "query_id", "rk", "doc_id", "cos", "lang", "source", "n_chars"
    )


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column: per-dimension
    affine codes (min/max range, 256 levels) with a per-vector
    reconstruction-error report (MSE + max abs error) — the 4x
    storage/bandwidth cut that makes a 100 TB vector corpus scannable,
    with the fidelity loss it costs made measurable.

    Scale: the range statistics are ONE 1-row global aggregate (2*d
    cells — bounded by dimension, never corpus size) broadcast onto a
    single corpus scan; quantize + error is a pure narrow map. The
    error sum folds dimensions in a fixed left-to-right order, so the
    SQL twin matches bit-for-bit.
    """
    e = _embs(spark, sf_dir)
    stats = e.agg(
        *[
            F.min(F.element_at("embedding", i).cast("double")).alias(f"mn{i}")
            for i in range(1, DIM + 1)
        ],
        *[
            F.max(F.element_at("embedding", i).cast("double")).alias(f"mx{i}")
            for i in range(1, DIM + 1)
        ],
    )
    # The error/report side used to unroll 64 per-dimension error
    # columns plus a 64-term sum chain and a 64-arg greatest — a
    # several-thousand-node expression tree whose ANALYSIS + codegen
    # cost ~13 s per session on tiny data (the catalog's largest
    # fixed cost; whole-stage codegen blows past the JIT size limit
    # and the compile is pure overhead). Fold the same arithmetic
    # over the embedding array instead: per dimension the IEEE ops
    # and their order are unchanged (aggregate() walks i = 1..DIM
    # left-to-right — the exact order of the old sum chain; max is
    # order-free), so the SQL twin still matches bit-for-bit. The
    # stats agg keeps its unrolled 2·DIM cells — that shape is the
    # scale-right one-row partial agg and analysis of 128 plain aggs
    # is cheap.
    mn_arr = F.array(*[F.col(f"mn{i}") for i in range(1, DIM + 1)])
    mx_arr = F.array(*[F.col(f"mx{i}") for i in range(1, DIM + 1)])

    def _err(i: F.Column) -> F.Column:
        x = F.element_at("embedding", i).cast("double")
        mn = F.element_at(mn_arr, i)
        scale = F.element_at(mx_arr, i) - mn
        code = F.when(
            scale > 0,
            F.floor((x - mn) * F.lit(255.0) / scale + F.lit(0.5)),
        ).otherwise(F.lit(0))
        recon = mn + code.cast("double") * scale / F.lit(255.0)
        return x - recon

    errs_arr = F.transform(
        F.sequence(F.lit(1), F.lit(DIM)), lambda i: _err(i)
    )
    grid = e.crossJoin(F.broadcast(stats)).select(
        "vec_id", errs_arr.alias("errs")
    )
    sq = F.aggregate(
        F.col("errs"), F.lit(0.0), lambda acc, v: acc + v * v
    )
    mx_abs = F.array_max(F.transform(F.col("errs"), F.abs))
    return grid.select(
        "vec_id",
        quantize(sq / F.lit(float(DIM)), 9).alias("mse"),
        quantize(mx_abs, 9).alias("max_abs_err"),
    )


TFIDF_K = 3
NGRAM_K = 20


def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k terms per document by TF-IDF.

    Scale: two shuffles on natural keys — (doc, term) counts then
    per-term document frequencies — and the corpus size joins in as a
    1-row broadcast; the final top-k is a window inside each doc
    partition.
    """
    return tfidf_topk_of(_docs(spark, sf_dir))


def tfidf_topk_of(d: DataFrame) -> DataFrame:
    from ..functions.hashing import words

    toks = d.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("n"))
    doclen = tf.groupBy("doc_id").agg(F.sum("n").alias("len"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(doclen, "doc_id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            quantize(
                (F.col("n").cast("double") / F.col("len"))
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TFIDF_K)
        .select("doc_id", "term", "tfidf", "rk")
    )


def corpus_ngrams_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k 3-gram shingles by document frequency (the
    vocabulary-building sweep of a training-data pipeline).

    Scale: the global top-K is ``orderBy().limit(K)`` — planned as
    ``TakeOrderedAndProject``, a per-partition top-K with a K-row merge,
    so the full vocabulary (billions of distinct shingles at 100 TB)
    never sorts globally or funnels through one task. Ranks are then
    assigned window-free on the K-row result: pack into one sorted
    array (struct sorts by negated doc_freq, then shingle — the same
    total order as the limit) and ``posexplode`` the position back out.
    """
    sh = doc_shingles(_docs(spark, sf_dir))
    counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("doc_freq"))
    return ngrams_topk_from_counts(counts)


def ngrams_topk_from_counts(counts: DataFrame) -> DataFrame:
    """The top-K rank scan over (s, doc_freq) shingle counts — shared
    by the batch query and the streaming drain
    (`stream_ngrams_topk` accumulates the same vocab-bounded counts
    at ingest)."""
    top = counts.orderBy(F.col("doc_freq").desc(), F.col("s")).limit(NGRAM_K)
    packed = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct((-F.col("doc_freq")).alias("neg_df"), F.col("s"))
            )
        ).alias("arr")
    )
    return packed.select(F.posexplode("arr").alias("pos", "e")).select(
        F.col("e.s").alias("shingle"),
        (-F.col("e.neg_df")).alias("doc_freq"),
        (F.col("pos") + 1).cast("long").alias("rk"),
    )


# --------------------------------------------------- corpus governance

# PII patterns restricted to syntax both Java regex (Spark) and RE2
# (DuckDB) read identically — no lookaround, no backreferences.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\+\d[\d-]{7,}\d"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _pii_injected() -> F.Column:
    """The synthetic corpus carries no PII, so each doc gets a
    deterministic synthetic suffix (email + ip, phone on every 3rd
    doc); the scrub operator itself is what's under test."""
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus: count and mask emails, phone
    numbers, and IPv4 addresses in one scan.

    Scale: pure narrow map — three JVM regex passes per row inside
    whole-stage codegen, no shuffle at all; at 100 TB this runs at
    scan speed and partitions independently.
    """
    return pii_scrub_of(_docs(spark, sf_dir))


def pii_scrub_of(docs: DataFrame) -> DataFrame:
    """The scrub projection over any documents relation — shared by
    the batch query and the streaming twin (`stream_pii_scrub`
    applies it per micro-batch with append semantics)."""
    d = docs.withColumn("txt", _pii_injected())
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("txt", PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IP,
        "<IP>",
    )
    return d.select(
        "doc_id",
        F.regexp_count("txt", F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("txt", F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count("txt", F.lit(PII_IP)).cast("long").alias("n_ips"),
        scrubbed.alias("scrubbed"),
    )


# Per-language keep rates for the stratified sample; thresholds are the
# first 4 hex chars of the keep fraction so the md5-prefix comparison
# is an exact, engine-portable Bernoulli draw.
SAMPLE_RATES = {"en": 0.25, "de": 0.5, "es": 0.5, "fr": 0.75, "zh": 0.9}
_SAMPLE_HEX = {
    lang: format(int(rate * 65536), "04x") for lang, rate in SAMPLE_RATES.items()
}


def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling: keep each doc with a
    per-language probability, decided by an md5 hash of (doc_id, lang)
    — reproducible across engines and runs, unlike rand()-based
    sampling.

    Scale: a narrow filter on a hash expression — no shuffle, no
    state; exactly how a 100 TB corpus downsamples per stratum without
    a global count or a second pass.
    """
    d = _docs(spark, sf_dir)
    key4 = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("lang"))),
        1,
        4,
    )
    thr = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(hexthr))
            for lang, hexthr in _SAMPLE_HEX.items()
        ]
    )
    return (
        d.withColumn("sample_key", key4)
        .filter(F.col("sample_key") < thr)
        .select("doc_id", "lang", "source", "sample_key")
    )


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metric (Gopher-style quality signal):
    the fraction of 3-gram occurrences that are repeats of an earlier
    3-gram in the same doc.

    Scale: one explode + one per-doc two-level aggregation (count +
    distinct-count share the doc_id shuffle); no self-joins.
    """
    return repetition_of(_docs(spark, sf_dir))


def repetition_of(d: DataFrame) -> DataFrame:
    from ..functions.hashing import shingles_3gram, words

    tri = (
        d.withColumn("w", words(F.col("text")))
        .filter(F.size("w") >= 3)
        .select("doc_id", F.explode(shingles_3gram(F.col("w"))).alias("s"))
    )
    return (
        tri.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("total_ngrams"),
            F.countDistinct("s").alias("distinct_ngrams"),
        )
        .withColumn(
            "dup_ratio",
            quantize(
                1.0 - F.col("distinct_ngrams") / F.col("total_ngrams"), 4
            ),
        )
    )


def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram surprisal against the corpus language
    model: ``-(1/N_d) * sum_t n_t * ln(ctf_t / T)`` — the classic
    LM-based quality/outlier filter (docs full of rare or garbled
    tokens score high, boilerplate scores low).

    Scale: (doc, term) counts and corpus term frequencies are two
    natural-key shuffles; the corpus total joins as a 1-row broadcast
    and the score is one more per-doc aggregation — no self-joins, no
    windows.
    """
    return unigram_surprisal_of(_docs(spark, sf_dir))


def unigram_surprisal_of(d: DataFrame) -> DataFrame:
    from ..functions.hashing import words

    toks = d.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("n"))
    cf = tf.groupBy("term").agg(F.sum("n").alias("ctf"))
    tot = cf.agg(F.sum("ctf").alias("corpus_tokens"))
    scored = tf.join(cf, "term").crossJoin(F.broadcast(tot))
    return scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        quantize(
            F.sum(
                F.col("n")
                * -F.log(
                    F.col("ctf").cast("double") / F.col("corpus_tokens")
                )
            )
            / F.sum("n"),
            6,
        ).alias("mean_surprisal"),
    )


def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram surprisal against the corpus conditional
    LM: ``-(1/N_d) * sum n * ln((c(w1,w2)+1) / (c(w1)+V))`` with
    add-one smoothing — the conditional upgrade of
    ``doc_unigram_surprisal``: token-order-scrambled or templated text
    scores differently from natural word order even when its unigram
    mix looks normal.

    Scale: the bigram explode is the same n x len shape as the shingle
    table; corpus bigram counts and w1 marginals are natural-key
    partial aggs, the vocab size joins as a 1-row broadcast, and the
    score is one per-doc aggregation — no self-joins, no windows.
    """
    from ..functions.hashing import words

    d = _docs(spark, sf_dir)
    wd = d.select("doc_id", words(F.col("text")).alias("w")).filter(
        F.size("w") >= 2
    )
    bg = wd.selectExpr(
        "doc_id",
        "explode(transform(sequence(1, size(w) - 1),"
        " i -> struct(w[i-1] AS w1, w[i] AS w2))) AS bg",
    ).select("doc_id", "bg.w1", "bg.w2")
    dtf = bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    bf = dtf.groupBy("w1", "w2").agg(F.sum("n").alias("cbg"))
    uf = bf.groupBy("w1").agg(F.sum("cbg").alias("cw1"))
    vocab = (
        bg.select(F.col("w1").alias("t"))
        .union(bg.select("w2"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("v"))
    )
    scored = (
        dtf.join(bf, ["w1", "w2"])
        .join(uf, "w1")
        .crossJoin(F.broadcast(vocab))
    )
    s = -F.log(
        (F.col("cbg") + F.lit(1.0)) / (F.col("cw1") + F.col("v"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        quantize(F.sum(F.col("n") * s) / F.sum("n"), 6).alias(
            "mean_surprisal"
        ),
    )


def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: docs, tokens, and token share per
    (lang, source) stratum — the numbers a training-mix rebalancer
    consumes.

    Scale: one partial-aggregated groupBy on (lang, source) (tiny
    result), corpus total joined back as a 1-row broadcast.
    """
    d = _docs(spark, sf_dir)
    per = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text")).cast("long")).alias("n_tokens"),
    )
    total = per.agg(F.sum("n_tokens").alias("corpus_tokens"))
    return per.crossJoin(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        quantize(F.col("n_tokens") / F.col("corpus_tokens"), 6).alias(
            "token_share"
        ),
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTER assignment: connected components over the
    MinHash-LSH verified pair graph, labeling every clustered doc with
    its component's min doc_id — the grouping a dedup policy (keep
    one per cluster, keep best-quality per cluster) acts on.

    Semantics and scale notes: operators/dedup.py connected_components
    (min-label propagation, O(diameter) rounds).
    """
    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir),
        threshold=MINHASH_THRESHOLD,
        df_cap=MINHASH_DF_CAP,
    )
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# Every doc_id divisible by this is treated as a held-out benchmark
# doc; the rest of the corpus is screened against them.
CONTAM_MOD = 50
CONTAM_THRESHOLD = 0.5
# Broadcast ceiling for the benchmark side: a real eval suite is O(10k)
# docs; anything past this is not a benchmark and must shuffle-join.
CONTAM_BENCH_MAX_DOCS = 100_000


def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: for every corpus doc, the max
    3-gram overlap ratio against any benchmark doc (held-out set =
    doc_id % CONTAM_MOD == 0) and a contaminated flag — the
    decontamination step of a training-data pipeline.

    Scale: the benchmark shingle set is small by CONTRACT (a benchmark
    is a fixed eval suite — O(10k) docs — not a slice of the corpus),
    so the overlap join broadcasts it and the corpus-side shingle table
    never shuffles for the join. That contract is enforced, not
    assumed: a one-column count of the benchmark DOCS (cheap, scans one
    pruned column — not the exploded shingles) gates the broadcast, and
    an oversized "benchmark" falls back to a shuffle join instead of
    OOMing the driver. The per-(doc, bench) counts aggregate on the
    corpus partitioning; only docs with nonzero overlap reach the
    per-doc ranking window (partitioned by doc_id, never global).
    """
    return contamination_of(_docs(spark, sf_dir))


def contamination_of(docs: DataFrame) -> DataFrame:
    """The screen over any (doc_id, text) relation — shared by the
    catalog entry and the injection evaluation."""
    sh = doc_shingles(docs)
    bench = sh.filter(F.col("doc_id") % CONTAM_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "s"
    )
    # broadcast guard: 1-scalar plan decision (like the tree-reduce
    # depth checks), counting doc ids — never the shingle explosion
    n_bench_docs = (
        docs.filter(F.col("doc_id") % CONTAM_MOD == 0)
        .select("doc_id")
        .count()
    )
    bench_side = (
        F.broadcast(bench) if n_bench_docs <= CONTAM_BENCH_MAX_DOCS else bench
    )
    corpus = sh.filter(F.col("doc_id") % CONTAM_MOD != 0)
    sizes = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    overlap = (
        corpus.join(bench_side, "s")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql.window import Window

    scored = (
        overlap.join(sizes, "doc_id")
        .withColumn("overlap_ratio", quantize(F.col("c") / F.col("n"), 4))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("overlap_ratio").desc(), F.col("bench_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            "bench_id",
            "overlap_ratio",
            (F.col("overlap_ratio") >= CONTAM_THRESHOLD).alias("contaminated"),
        )
    )


def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    classic gibberish/encoding-garbage detector: natural text sits in a
    mid-entropy band, repeated boilerplate scores low, random bytes or
    base64 blobs score high.

    Entropy is computed as ``ln(n) - sum(c*ln(c))/n`` from the
    per-(doc, char) counts — algebraically equal to ``-sum(p*ln p)``
    but needing ONE aggregation instead of a counts-join; the oracle
    uses the identical formula so cross-engine float behavior matches.
    The empty-pattern split advances by CODE POINTS in both engines
    (Java zero-width matches skip full code points), so supplementary-
    plane text (emoji etc.) agrees too — pinned by the non-BMP parity
    canary in tests/test_fuzz_parity.py.

    Scale: the char explode is n x len rows, but a document's text
    lives in one input row, so the (doc_id, ch) partial agg collapses
    map-side to doc x alphabet cells before anything shuffles — the
    shuffle payload is bounded by alphabet size per doc, not text
    length. Two natural-key aggregations, no joins, no windows.
    """
    return char_entropy_of(_docs(spark, sf_dir))


def char_entropy_of(d: DataFrame) -> DataFrame:
    chars = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")
    freq = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    return (
        freq.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.log(F.col("c"))).alias("slc"),
        )
        .select(
            "doc_id",
            quantize(
                F.log(F.col("n")) - F.col("slc") / F.col("n"), 4
            ).alias("entropy"),
        )
    )


# Deterministic train/val/test fractions (cumulative cut points).
SPLIT_TRAIN = 0.90
SPLIT_VAL = 0.95  # train < 0.90 <= val < 0.95 <= test


def split_draw() -> F.Column:
    """The deterministic Knuth split uniform over ``doc_id`` — THE
    one draw every split-consuming query shares (a second copy that
    drifts would silently desynchronize the holdout)."""
    return ((F.col("doc_id") * KNUTH) % DRAW_MOD) / float(DRAW_MOD)


def split_col() -> F.Column:
    """The shared train/val/test assignment over :func:`split_draw`."""
    draw = split_draw()
    return (
        F.when(draw < SPLIT_TRAIN, "train")
        .when(draw < SPLIT_VAL, "val")
        .otherwise("test")
    )


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment — the
    reproducible holdout step of a training-data pipeline: every engine
    and every rerun assigns the same doc to the same split, with no
    rand() and no stored split table.

    Scale: a pure narrow map (the Knuth multiplicative draw is exact
    integer arithmetic, identical in Spark and the oracle) — zero
    exchanges, plan-asserted; the split column also works as a
    partition key for a split-partitioned sink.
    """
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", "lang", "source", split_col().alias("split")
    )


# Target token share per language for the rebalanced training mix.
MIX_TARGETS = {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15}


def corpus_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus toward target per-language token shares:
    languages over their target get downsampled at rate
    ``target_share * total_tokens / lang_tokens``; under-target
    languages keep everything (rate capped at 1).

    Scale: per-language token totals are a tiny partial-aggregated
    groupBy broadcast back onto the scan; the keep decision is a
    deterministic per-row integer draw — no rand(), no shuffle of the
    corpus, one pass.
    """
    d = _docs(spark, sf_dir).withColumn(
        "n_tokens", token_count(F.col("text")).cast("long")
    )
    per_lang = d.groupBy("lang").agg(F.sum("n_tokens").alias("lang_tokens"))
    total = per_lang.agg(F.sum("lang_tokens").alias("total_tokens"))
    target = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(share))
            for lang, share in MIX_TARGETS.items()
        ]
    )
    rates = per_lang.crossJoin(F.broadcast(total)).select(
        "lang",
        F.least(
            F.lit(1.0),
            (target * F.col("total_tokens")) / F.col("lang_tokens"),
        ).alias("keep_rate"),
    )
    draw = ((F.col("doc_id") * KNUTH) % DRAW_MOD) / float(DRAW_MOD)
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(draw < F.col("keep_rate"))
        .select("doc_id", "lang", "source", "n_tokens")
    )


NOVELTY_VOCAB_K = 1000


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-novelty score: the share of each doc's distinct
    3-grams that fall OUTSIDE the corpus's top-K most document-frequent
    shingles — high novelty flags rare/garbled content, low novelty
    flags boilerplate.

    Scale: the vocabulary is a K-row ``TakeOrderedAndProject`` result
    that broadcasts; the per-doc hit count is a map-side semi-join +
    one aggregation on the doc's own shuffle key. Two shingle-table
    passes total, no self-joins.
    """
    sh = doc_shingles(_docs(spark, sf_dir))
    vocab = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("s"))
        .limit(NOVELTY_VOCAB_K)
        .select("s")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        sh.join(F.broadcast(vocab), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_in_vocab"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .withColumn("n_in_vocab", F.coalesce("n_in_vocab", F.lit(0)))
        .withColumn(
            "novelty",
            quantize(1.0 - F.col("n_in_vocab") / F.col("n_shingles"), 4),
        )
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup removal with a QUALITY policy: within each LSH
    connected-component cluster keep the highest-quality doc (ties →
    min doc_id); docs in no cluster pass through — the policy layer a
    real corpus prep runs on top of pair detection.

    Scale: the cluster map scales with DUPLICATE COUNT, not a fixed
    dimension — small on a clean corpus but corpus-scale on a
    30%-duplicate web crawl — so no join strategy is forced: AQE
    broadcasts it when its runtime size allows and falls back to a
    shuffle join when it doesn't. The per-cluster argmax is one
    aggregation on the clustered subset.
    """
    d = _docs(spark, sf_dir).withColumn(
        "quality_score", quality_score_col()
    )
    pairs = minhash_lsh_pairs(
        d, threshold=MINHASH_THRESHOLD, df_cap=MINHASH_DF_CAP
    )
    clusters = connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    clustered = d.join(clusters, "doc_id")
    # argmax by (quality desc, doc_id asc) via struct-max: quality
    # packs with the NEGATED id so larger struct == better candidate
    best = clustered.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("quality_score"), (-F.col("doc_id")).alias("nid"))
        ).alias("b")
    ).select((-F.col("b.nid")).alias("doc_id"))
    keep_clustered = clustered.join(best, "doc_id", "left_semi")
    unclustered = d.join(clusters, "doc_id", "left_anti")
    return keep_clustered.unionByName(
        unclustered.withColumn("cluster_id", F.lit(None).cast("long"))
    ).select("doc_id", "lang", "source", "quality_score", "cluster_id")


SUBSTR_K = 8  # span length in tokens (real pipelines run ~50)


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span detection: for every doc, how many of its
    word-``SUBSTR_K``-gram windows also occur verbatim in at least one
    OTHER document (the exact-substring dedup signal of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" —
    their suffix-array pass re-expressed as a window-hash shuffle).

    Scale: windows are md5'd at the scan (tokens never shuffle as
    text); the duplicated-gram set is found by one hash-partitioned
    groupBy with map-side combine, and per-doc counting is a semi-join
    against that set followed by a doc_id aggregation — no self-join
    of the corpus, no sort. At 100 TB the gram table is ~tokens-sized
    but every stage is a plain shuffle-agg; skew is bounded because a
    gram's payload is its doc-count, never a doc list.
    """
    d = _docs(spark, sf_dir)
    base = d.withColumn("w", words(F.col("text"))).filter(
        F.size("w") >= SUBSTR_K
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w)-{SUBSTR_K}+1),"
                f" i -> md5(array_join(slice(w, i, {SUBSTR_K}), ' ')))"
            )
        ).alias("g"),
    )
    dup = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("g")
    )
    perdoc = (
        grams.join(dup, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_spans"))
    )
    return (
        base.select(
            "doc_id",
            (F.size("w") - F.lit(SUBSTR_K - 1)).cast("long").alias(
                "n_windows"
            ),
        )
        .join(perdoc, "doc_id", "left")
        .withColumn(
            "dup_spans", F.coalesce(F.col("dup_spans"), F.lit(0)).cast("long")
        )
        .withColumn(
            "dup_share", quantize(F.col("dup_spans") / F.col("n_windows"), 4)
        )
    )


N_SHARDS = 8  # test-scale; production sizes shards to ~1 output file each
SHUFFLE_SEED = "epoch0"


def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: every doc gets a shard and
    a position within it, both pure functions of (seed, doc_id), so any
    two runs — or two engines — produce the identical epoch order.

    Scale: shard assignment is a map-side hash (no shuffle); the
    within-shard ordering is a window PARTITIONED by shard, so the sort
    distributes across shards. N_SHARDS scales with the corpus (one
    shard ≈ one output file, e.g. ~100k shards at 100 TB), keeping
    every sort partition file-sized — this is exactly the
    repartition-then-sortWithinPartitions write pattern.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    win = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return (
        d.select(
            "doc_id",
            knuth_shard(F.col("doc_id"), N_SHARDS).alias("shard"),
            shuffle_sort_key(F.col("doc_id"), SHUFFLE_SEED).alias("sort_key"),
        )
        .withColumn("pos", F.row_number().over(win).cast("long"))
        .select("doc_id", "shard", "pos")
    )


PACK_BUDGET_TOKENS = 2048


def corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: concatenate docs (in doc_id order,
    per source stream) into training sequences of at most
    ``PACK_BUDGET_TOKENS`` tokens; a doc larger than the budget gets a
    pack of its own. The standard pretraining packing step, expressed
    as the same accumulate-and-reset recurrence as the transcript
    chunker (operators/chunker.py) but over the corpus.

    Scale: the recurrence is sequential ONLY within a source stream —
    Arrow-batched pandas groups run one stream per task, so throughput
    scales with the number of streams (at 100 TB: source×date buckets,
    millions of groups).
    """
    import pandas as pd

    d = _docs(spark, sf_dir)
    counted = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        ids, pid, acc = [], 0, 0
        for n in pdf["n_tokens"]:
            if acc > 0 and acc + n > PACK_BUDGET_TOKENS:
                pid += 1
                acc = 0
            ids.append(pid)
            acc += n
        pdf["pack_id"] = ids
        return pdf[["doc_id", "source", "n_tokens", "pack_id"]]

    return counted.groupBy("source").applyInPandas(
        pack, schema="doc_id long, source string, n_tokens long, pack_id long"
    )


def corpus_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report over `corpus_pack`'s greedy
    sequences: pack count, token utilization of the reserved
    capacity, the fill-rate envelope, and how many packs carry one
    oversized doc — THE metric for sequence packing (every point of
    waste is compute burned on padding at training time).

    Scale: one (source, pack) partial agg over the packing output
    folding into a 1-row summary — exact integer token sums, single
    divisions.
    """
    packed = corpus_pack(spark, sf_dir)
    per = packed.groupBy("source", "pack_id").agg(
        F.sum("n_tokens").cast("long").alias("tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    fill = F.col("tokens").cast("double") / PACK_BUDGET_TOKENS
    return per.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("tokens").cast("long").alias("total_tokens"),
        F.lit(PACK_BUDGET_TOKENS).cast("long").alias("budget"),
        quantize(F.avg(fill), 6).alias("mean_fill"),
        quantize(F.min(fill), 6).alias("min_fill"),
        quantize(F.max(fill), 6).alias("max_fill"),
        F.sum(
            (F.col("tokens") > PACK_BUDGET_TOKENS).cast("long")
        )
        .cast("long")
        .alias("oversized_packs"),
    ).select(
        "n_docs",
        "n_packs",
        "total_tokens",
        "budget",
        quantize(
            F.col("total_tokens").cast("double")
            / (F.col("n_packs") * PACK_BUDGET_TOKENS).cast("double"),
            6,
        ).alias("utilization"),
        "mean_fill",
        "min_fill",
        "max_fill",
        "oversized_packs",
    )


# ------------------------------------------------------------- multimodal


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode over binary payloads, emitted as a
    decode-dims digest — r7 conversion of the last rows-only
    multimodal entry to a full hash oracle: every deterministic
    dimension of the fake-decode (n_bytes, format, width, height,
    n_frames — pure byte-length arithmetic the oracle reproduces from
    ``octet_length(encode(text))``) is value-checked, and the one
    codec-dependent statistic (``mean_byte``, not ANSI-SQL-expressible
    byte-level math) is bounded by a ``mean_in_range`` invariant the
    oracle asserts as literal TRUE (0 < mean <= 255 for non-empty
    payloads, exactly 0 for empty). Real codecs are stubbed — see
    operators/multimodal.py; the Arrow batch path the dims ride
    through is the real one."""
    from ..operators.multimodal import decode_batch

    d = _docs(spark, sf_dir).withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    dec = decode_batch(d)
    return dec.select(
        "doc_id",
        "n_bytes",
        "format",
        "width",
        "height",
        "n_frames",
        (
            ((F.col("n_bytes") == 0) & (F.col("mean_byte") == 0.0))
            | ((F.col("mean_byte") > 0.0) & (F.col("mean_byte") <= 255.0))
        ).alias("mean_in_range"),
    )


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payload + typed metadata (scale plumbing for
    image/audio columns; payload here is the utf-8 encoded text)."""
    d = _docs(spark, sf_dir).withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    n_bytes = F.length("payload").cast("long")
    return d.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        (64 + n_bytes % 997).alias("fake_width"),
        (64 + (n_bytes * 31) % 991).alias("fake_height"),
        F.when(n_bytes % 3 == 0, "jpeg")
        .when(n_bytes % 3 == 1, "png")
        .otherwise("webp")
        .alias("fake_format"),
    )


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing as a query: every 2nd frame index of
    each decoded payload (deterministic fake decode, so the explode
    shape is fully oracle-checkable via byte arithmetic)."""
    from ..operators.multimodal import decode_batch, frame_sample

    d = _docs(spark, sf_dir).withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    decoded = decode_batch(d).select("doc_id", "n_bytes", "n_frames")
    return frame_sample(decoded, every_nth=2).select(
        "doc_id", "n_bytes", "n_frames", "frame_idx"
    )


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-to-fit geometry over binary payloads (128px box,
    aspect-preserving). The output dims are exact integer arithmetic on
    the deterministic fake-decode dims, so the whole result is
    SQL-oracle-checked; the byte-resample runs in the same Arrow batch
    but its mean is excluded here (no codec, no SQL twin — covered by
    unit tests instead).
    """
    from ..operators.multimodal import resize_batch

    d = _docs(spark, sf_dir).withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    return resize_batch(d, box=128).select(
        "doc_id", "width", "height", "out_width", "out_height"
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram feature extraction over binary payloads — a real
    (codec-free) feature vector for near-dup/clustering of binary
    columns; composes with the embedding operators.

    The catalog projection posexplodes the 16-bin vector to scalar
    (doc_id, bin, share) rows — driver-canonicalizable — and that
    shape admits a full value oracle: DuckDB can't unnest blob bytes
    directly, but ``to_hex(encode(text))`` exposes every byte's high
    nibble as a hex character, byte-faithful for ANY payload content.

    Scale: one Arrow-batched scan + a 16-rows-per-doc narrow explode;
    no shuffle (the array operator stays available for composition).
    """
    from ..operators.multimodal import payload_byte_features

    d = _docs(spark, sf_dir).withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    feats = payload_byte_features(d)
    return feats.select(
        "doc_id", F.posexplode("features").alias("bin", "share")
    ).select("doc_id", F.col("bin").cast("long").alias("bin"), "share")


VAD_FRAME_BYTES = 160  # 10 ms at 16 kHz / 8-bit — the classic frame


def multimodal_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-detection PLUMBING over binary payloads: frame
    the byte stream into 160-byte windows (10 ms at 8-bit/16 kHz),
    compute per-frame energy (mean squared deviation from the 128
    midpoint — the real energy feature an audio pipeline computes
    after decode), and mark frames active when they exceed the
    payload's own mean energy. Codec-free like the rest of the
    multimodal family: the framing/energy/thresholding shapes are
    real and fully SQL-oracled; a codec would only change the byte
    source.

    Scale: one Arrow-batched scan, frames per payload bounded by
    payload size, per-doc threshold is a doc-keyed agg — narrow
    explode, natural-key join, no corpus-wide anything.
    """
    import numpy as np
    import pandas as pd

    d = _docs(spark, sf_dir).withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )

    def _frames(batches):
        for pdf in batches:
            doc_ids, idxs, energies = [], [], []
            for i, p in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(p), dtype=np.uint8).astype(
                    np.float64
                )
                nf = (len(arr) + VAD_FRAME_BYTES - 1) // VAD_FRAME_BYTES
                for f in range(nf):
                    seg = arr[
                        f * VAD_FRAME_BYTES : (f + 1) * VAD_FRAME_BYTES
                    ]
                    dev = seg - 128.0
                    e = float((dev * dev).sum()) / len(seg)
                    doc_ids.append(int(i))
                    idxs.append(f)
                    energies.append(
                        float(np.floor(e * 1e6 + 0.5) / 1e6)
                    )
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "frame_idx": idxs,
                    "energy": energies,
                }
            )

    frames = d.select("doc_id", "payload").mapInPandas(
        _frames, schema="doc_id long, frame_idx long, energy double"
    )
    thr = frames.groupBy("doc_id").agg(
        F.avg("energy").alias("mean_energy")
    )
    return frames.join(thr, "doc_id").select(
        "doc_id",
        "frame_idx",
        "energy",
        (F.col("energy") > F.col("mean_energy")).alias("active"),
    )


MM_PACK_BUDGET_BYTES = 1024


def multimodal_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy byte-budget shard packing for binary payloads: within
    each (fake-)format stream, concatenate payloads (in doc_id order)
    into shards of at most ``MM_PACK_BUDGET_BYTES``; an oversized blob
    gets a shard of its own — `corpus_pack`'s recurrence lifted from
    token space to byte space, the step a multimodal training-data
    pipeline runs to build fixed-size record files (the binary
    analogue of sequence packing).

    Scale: sequential only within a format stream (Arrow-batched
    pandas groups — at 100 TB the stream key widens to format × date
    buckets, millions of independent groups); byte lengths ride the
    scan, no pre-shuffle.
    """
    import pandas as pd

    d = _docs(spark, sf_dir).withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    n_bytes = F.length("payload").cast("long")
    sized = d.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        F.when(n_bytes % 3 == 0, "jpeg")
        .when(n_bytes % 3 == 1, "png")
        .otherwise("webp")
        .alias("fmt"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        ids, sid, acc = [], 0, 0
        for n in pdf["n_bytes"]:
            if acc > 0 and acc + n > MM_PACK_BUDGET_BYTES:
                sid += 1
                acc = 0
            ids.append(sid)
            acc += n
        pdf["shard_id"] = ids
        return pdf[["doc_id", "fmt", "n_bytes", "shard_id"]]

    return sized.groupBy("fmt").applyInPandas(
        pack, schema="doc_id long, fmt string, n_bytes long, shard_id long"
    )


# Ensemble quality-gate thresholds (each component's output is already
# quantized, so threshold comparisons are exact on both engines)
QE_QUALITY_MIN = 0.6
QE_DUP_MAX = 0.2
QE_ENTROPY_MIN = 2.8
QE_SURPRISAL_MAX = 3.41


def doc_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal quality gate — the deterministic analogue of
    model-based quality filtering: a doc must clear heuristic quality
    (length/stopword/alpha), within-doc repetition, char-distribution
    entropy (encoding garbage), and unigram surprisal (vocabulary
    plausibility) simultaneously. Emits per-signal values, the count
    of failed signals, and the final keep verdict — the report a
    filtering run needs to audit WHY a doc dropped.

    Scale: all four signals are natural-key (doc_id) partial aggs over
    one corpus scan each; the ensemble joins co-partition on doc_id
    (AQE picks the strategy), so nothing shuffles more than its
    doc_id-keyed rows. A fused single-scan variant would save three
    scans at the cost of composability; at 100 TB run the components
    once and materialize them — this entry is the join of those
    materialized signal tables.
    """
    return quality_ensemble_of(_docs(spark, sf_dir))


def quality_ensemble_of(d: DataFrame) -> DataFrame:
    """The four-signal gate over any (doc_id, text) relation —
    shared by the catalog entry and the injection evaluation.

    FUSED single-pass formulation (VERDICT r11 item 3): the composed
    form (quality ⋈ repetition ⋈ entropy ⋈ surprisal, each its own
    scan; surprisal's corpus-LM lineage alone re-ran its token explode
    three times) cost 6 parquet scans per evaluation — 12 in the
    injection eval. Three of the four signals are PER-DOC functions of
    the text, so they fold into row-local expressions computed on the
    one scan the corpus-LM signal needs anyway and ride the token
    explode on the pos-0 row:

    * quality_score: the same `quality_score_col()` expression.
    * dup_ratio: size(shingles) / size(array_distinct(shingles)) —
      the same exact integers `repetition_of`'s explode + groupBy
      count/countDistinct produced.
    * entropy: run-length fold over the SORTED char array (run
      lengths are the same exact per-char counts the (doc_id, ch)
      groupBy produced; the Σ c·ln c float fold differs only in
      summation order, inside the 4-decimal quantize tolerance —
      verified against the unchanged DuckDB oracle at all gate SFs).

    The surprisal branch is restructured around ONE materialized
    (doc, term) hub: corpus term frequencies, the corpus total, and
    the per-doc score all derive from it (the total is Σn over the
    hub — the identical exact integer as Σctf), so the explode runs
    once instead of three times. Ensemble membership is unchanged:
    the old inner joins kept exactly the docs with ≥3 words (the
    repetition branch's filter, strictest of the four), which is the
    `dup_ratio IS NOT NULL` filter here. Values, schema, and the
    DuckDB oracle are unchanged.

    Footprint note (ADVICE r11): the hub is corpus-TOKEN-scale — the
    largest class of pinned intermediate; it lives only for this
    query's lifetime and spills under MEMORY_AND_DISK, but at 100 TB
    prefer running the gate's signals as separate materialized passes
    (the module docstring of operators/persist.py discusses the
    trade).
    """
    from ..functions.hashing import shingles_3gram, words

    sh = shingles_3gram(F.col("w"))
    rep_total = F.size(sh).cast("long")
    rep_distinct = F.size(F.array_distinct(sh)).cast("long")
    dup_ratio = F.when(
        F.size("w") >= 3,
        quantize(1.0 - rep_distinct / rep_total, 4),
    )
    cs = F.array_sort(
        F.filter(F.split(F.col("text"), ""), lambda x: x != F.lit(""))
    )
    n_ch = F.size(cs)
    # Σ c·ln c over the per-char runs of the SORTED char array as ONE
    # left fold carrying (prev char, run length, acc). A fold touches
    # each element once and evaluates `cs` once per row — an indexed
    # neighbor-compare (filter over sequence with element_at(cs, i))
    # re-evaluates the sort+split subtree PER ELEMENT when the
    # optimizer inlines it into the lambda: O(len² · log len)
    # interpreted per doc, measured as a ~300x blowup at sf0.001.
    _zero = F.lit(0.0)

    def _close(st: F.Column) -> F.Column:
        # contribution of the finished run; ln(1) = 0, run=0 at init
        return F.when(
            st["run"] > 1.0, st["run"] * F.log(st["run"])
        ).otherwise(_zero)

    slc = F.aggregate(
        cs,
        F.struct(
            F.lit("").alias("prev"),
            _zero.alias("run"),
            _zero.alias("acc"),
        ),
        lambda st, ch: F.struct(
            ch.alias("prev"),
            F.when(ch == st["prev"], st["run"] + 1.0)
            .otherwise(F.lit(1.0))
            .alias("run"),
            F.when(ch == st["prev"], st["acc"])
            .otherwise(st["acc"] + _close(st))
            .alias("acc"),
        ),
        lambda st: st["acc"] + _close(st),
    )
    entropy = F.when(
        n_ch > 0,
        quantize(
            F.log(n_ch.cast("double")) - slc / n_ch.cast("double"), 4
        ),
    )
    sig = F.struct(
        quality_score_col().alias("quality_score"),
        dup_ratio.alias("dup_ratio"),
        entropy.alias("entropy"),
    )
    base = d.withColumn("w", words(F.col("text"))).select(
        "doc_id", sig.alias("sig"), "w"
    )
    toks = base.select(
        "doc_id", F.col("sig"), F.posexplode("w").alias("p", "term")
    ).select(
        "doc_id",
        "term",
        F.when(F.col("p") == 0, F.col("sig")).alias("sig"),
    )
    tf = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("n"), F.max("sig").alias("sig"))
        .transform(materialize)
    )
    cf = tf.groupBy("term").agg(F.sum("n").alias("ctf"))
    tot = tf.agg(F.sum("n").alias("corpus_tokens"))
    scored = tf.join(cf, "term").crossJoin(F.broadcast(tot))
    j = (
        scored.groupBy("doc_id")
        .agg(
            F.max("sig").alias("sig"),
            quantize(
                F.sum(
                    F.col("n")
                    * -F.log(
                        F.col("ctf").cast("double")
                        / F.col("corpus_tokens")
                    )
                )
                / F.sum("n"),
                6,
            ).alias("mean_surprisal"),
        )
        .filter(F.col("sig.dup_ratio").isNotNull())
        .select(
            "doc_id",
            F.col("sig.quality_score").alias("quality_score"),
            F.col("sig.dup_ratio").alias("dup_ratio"),
            F.col("sig.entropy").alias("entropy"),
            "mean_surprisal",
        )
    )
    flags = (
        F.when(F.col("quality_score") < QE_QUALITY_MIN, 1).otherwise(0)
        + F.when(F.col("dup_ratio") > QE_DUP_MAX, 1).otherwise(0)
        + F.when(F.col("entropy") < QE_ENTROPY_MIN, 1).otherwise(0)
        + F.when(F.col("mean_surprisal") > QE_SURPRISAL_MAX, 1).otherwise(0)
    )
    return j.select(
        "doc_id",
        "quality_score",
        "dup_ratio",
        "entropy",
        "mean_surprisal",
        flags.cast("long").alias("n_flags"),
        (flags == 0).alias("keep"),
    )


def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply exact dedup to the corpus: keep one representative (min
    doc_id) per normalized-content group — the actual training-data
    filtering step, not just pair detection.

    Scale: semi-join on the 32-byte fingerprint digest; documents
    themselves never shuffle (the digest group-by carries only hashes).
    """
    d = _docs(spark, sf_dir)
    keep = exact_dedup(d).select(F.col("keep_id").alias("doc_id"))
    return d.join(keep, "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


def corpus_dedup_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup fairness audit: the language mix BEFORE vs AFTER exact
    dedup, with the share delta per language — duplication is never
    uniform across languages (template-heavy strata lose more), so a
    dedup pass silently reshapes the training mix; this measures the
    reshaping instead of discovering it at eval time.

    Scale: two languages-bounded rollups off the corpus scan and the
    `dedup_apply` semi-join (docs never shuffle); totals broadcast;
    exact integer shares.
    """
    d = _docs(spark, sf_dir)
    before = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_before")
    )
    kept = dedup_apply(spark, sf_dir).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_after")
    )
    tb = before.agg(F.sum("n_before").cast("long").alias("tb"))
    ta = kept.agg(F.sum("n_after").cast("long").alias("ta"))
    j = (
        before.join(kept, "lang", "left")
        .crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(ta))
    )
    na = F.coalesce(F.col("n_after"), F.lit(0)).cast("long")
    share_b = F.col("n_before").cast("double") / F.col("tb")
    share_a = na.cast("double") / F.col("ta")
    return j.select(
        "lang",
        "n_before",
        na.alias("n_after"),
        quantize(
            1.0 - na.cast("double") / F.col("n_before"), 6
        ).alias("removed_rate"),
        quantize(share_b, 6).alias("share_before"),
        quantize(share_a, 6).alias("share_after"),
        quantize(share_a - share_b, 6).alias("share_delta"),
    )


PREP_QUALITY_MIN = 0.5
PREP_LANGS = ("en",)


def corpus_prep_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship training-corpus preparation: quality gate -> language
    gate -> exact dedup -> MinHash near-dup removal, in one pipeline.

    Scale shape:
    - the documents table is read by ONE scan, spread over every core
      (`_docs(spread=True)`), and each document is scored ONCE: quality
      score, per-language stopword counts and language ID are columns
      of that scan, checkpointed (`materialize`) before any filter.
      The gate, exact dedup and MinHash all read the checkpoint. The
      checkpoint must come before the gate filter: a filter above the
      score projection is pushed below it (and below the round-robin
      exchange), so each consumer would run the regexes again inside
      the scan;
    - exact dedup keeps min doc_id per content digest — the semi-join
      key is the 32-byte digest, documents never shuffle;
    - near-dup removal runs MinHash+LSH (stop-shingle df-capped) on the
      already-gated corpus and anti-joins the higher id of each
      verified pair, so every pairwise stage sees only surviving docs.
    """
    scores = lang_score_cols()
    scored = (
        _docs(spark, sf_dir, spread=True)
        .withColumn("quality_score", quality_score_col())
        .withColumns(scores)
        .withColumn("pred_lang", pred_lang_col())
        .drop(*scores.keys())
        .transform(materialize)
    )
    gated = scored.filter(
        (F.col("quality_score") >= PREP_QUALITY_MIN)
        & F.col("pred_lang").isin(*PREP_LANGS)
    )
    keep = exact_dedup(gated).select(F.col("keep_id").alias("doc_id"))
    corpus = gated.join(keep, "doc_id", "left_semi")
    drops = (
        minhash_lsh_pairs(
            corpus, threshold=MINHASH_THRESHOLD, df_cap=MINHASH_DF_CAP
        )
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )
    return corpus.join(drops, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars", "quality_score", "pred_lang"
    )


# --------------------------------------- lexical + hybrid retrieval

# BM25 keyword retrieval over the documents table: the lexical twin of
# ``semantic_search`` (the reference pipeline summarizes transcripts —
# a training-data engine also needs to FIND documents, and production
# retrieval is hybrid: lexical BM25 + embedding ANN fused by rank).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_K = 10
RRF_C = 60
RRF_POOL = 20

# Query ids align with the embedding query vectors (vec_id <
# N_QUERY_VECS) so the RRF fusion joins the two retrievers per query.
BM25_QUERIES: dict[int, tuple[str, ...]] = {
    0: ("hash", "join"),
    1: ("window", "agg"),
    2: ("stream", "batch"),
    3: ("vector", "scan"),
    4: ("filter", "merge", "order"),
    5: ("spark", "slow"),
    6: ("customer", "table"),
    7: ("key", "value"),
    8: ("group", "column"),
    9: ("small", "data", "line"),
}


def _bm25_scored(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Top-k docs per keyword query by BM25 (Robertson/Sparck Jones).

    Scale: doc lengths ride the token scan as a narrow column (no
    separate shuffle); the postings groupBy shuffles ONLY tokens
    matching the query terms (the filter runs before the exchange);
    per-term document frequencies and the query-term map are broadcast
    (≤ |vocabulary of the query set| rows); corpus size and average
    doc length are one exact 1-row aggregate (integer token sum / doc
    count — no float accumulation-order drift between engines). The
    final ranking window partitions by query_id.

    Every double op is written in the same order as the SQL twin and
    per-term weights are quantized before the per-doc sum, so the
    oracle matches value-for-value.
    """
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    all_terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    base = d.select("doc_id", words(F.col("text")).alias("w"))
    toks = base.select(
        "doc_id",
        F.size("w").cast("long").alias("len"),
        F.explode("w").alias("term"),
    )
    tf = (
        toks.filter(F.col("term").isin(all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("n"), F.max("len").alias("len"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.size("w")).cast("double") / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    qt = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(BM25_QUERIES.items()) for t in ts],
        "query_id long, term string",
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    weight = (
        idf
        * (F.col("n") * (BM25_K1 + 1.0))
        / (
            F.col("n")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("len") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("bm25_w", quantize(weight, 6))
    )
    per = scored.groupBy("query_id", "doc_id").agg(
        quantize(F.sum("bm25_w"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        per.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "score", "rk")
    )


def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bm25_scored(spark, sf_dir, BM25_K)


def corpus_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25 postings-index BUILD (the artifact, not the query):
    every (term, doc) posting with its tf and precomputed BM25 weight
    — what a serving layer loads to answer arbitrary keyword queries
    without touching the corpus again. Completes the index-artifact
    family (`dedup_index_export` = MinHash signatures,
    `emb_ivf_export`/`emb_pq_export` = ANN codebooks, this = the
    lexical index).

    Scale: one (doc, term) partial agg off the token explode, a
    term-keyed df agg broadcast back, a 1-row corpus-stats broadcast
    — postings are emitted partitionable by term (the serving key),
    output size = Σ distinct terms per doc, linear in corpus tokens.
    """
    from ..functions.hashing import words as _words

    d = _docs(spark, sf_dir)
    base = d.select("doc_id", _words(F.col("text")).alias("w"))
    toks = base.select(
        "doc_id",
        F.size("w").cast("long").alias("len"),
        F.explode("w").alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("n"), F.max("len").alias("len")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.size("w")).cast("double") / F.count(F.lit(1))).alias(
            "avgdl"
        ),
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    weight = (
        idf
        * (F.col("n") * (BM25_K1 + 1.0))
        / (
            F.col("n")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("len") / F.col("avgdl"))
        )
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            F.col("n").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            quantize(weight, 6).alias("bm25_w"),
        )
    )


def search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: embedding top-k + BM25 top-k fused by
    reciprocal-rank fusion (rrf = Σ 1/(C + rank), C=60).

    Scale: both retriever outputs are queries × pool rows by
    construction, so the fusion join is trivially broadcastable and
    the corpus is only touched through each retriever's own
    scale-shaped plan (blocked dgemm scan; filtered-postings BM25).
    The ANN tier swaps in for the exact scan without changing the
    fusion shape.
    """
    from pyspark.sql.window import Window

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    sem = cosine_topk_blocked(q, e, k=RRF_POOL).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rk").alias("rk_sem"),
    )
    lex = _bm25_scored(spark, sf_dir, RRF_POOL).select(
        "query_id", "doc_id", F.col("rk").alias("rk_lex")
    )
    fused = sem.join(lex, ["query_id", "doc_id"], "full_outer")
    contrib_sem = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_C) + F.col("rk_sem")), F.lit(0.0)
    )
    contrib_lex = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_C) + F.col("rk_lex")), F.lit(0.0)
    )
    scored = fused.withColumn(
        "rrf_score", quantize(contrib_sem + contrib_lex, 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= BM25_K)
        .select("query_id", "doc_id", "rrf_score", "rk")
    )


def search_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the BM25 ranking against the semantic
    relevance set — a leg of the retrieval-eval suite (`search_map`
    grades the whole ranking; MRR grades TIME-TO-FIRST-HIT, what a
    user scanning top-down feels), reported per query with the corpus
    mean alongside.

    Scale: same queries × k shapes as MAP — broadcast join, 1-row
    mean broadcast back.
    """
    from ..operators.similarity import cosine_topk_blocked

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    rel = cosine_topk_blocked(q, e, k=BM25_K).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.lit(1).alias("hit"),
    )
    lex = _bm25_scored(spark, sf_dir, BM25_K).select(
        "query_id", "doc_id", "rk"
    )
    joined = lex.join(F.broadcast(rel), ["query_id", "doc_id"], "left")
    per = joined.groupBy("query_id").agg(
        F.min(F.when(F.col("hit").isNotNull(), F.col("rk")))
        .cast("long")
        .alias("first_hit_rank")
    )
    rr = F.when(
        F.col("first_hit_rank").isNotNull(),
        1.0 / F.col("first_hit_rank"),
    ).otherwise(0.0)
    # queries-sized, materialized once: the mean branch re-reads this
    # table — without the cut the crossJoin re-ran both retrievers
    scored = per.select(
        "query_id", "first_hit_rank", rr.alias("rr_raw")
    ).transform(materialize)
    mean = scored.agg(F.avg("rr_raw").alias("mrr_raw"))
    return scored.crossJoin(F.broadcast(mean)).select(
        "query_id",
        "first_hit_rank",
        quantize(F.col("rr_raw"), 6).alias("reciprocal_rank"),
        quantize(F.col("mrr_raw"), 6).alias("mrr"),
    )


def corpus_select_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end DATA-SELECTION pipeline (the DSIR-era counterpart
    of `corpus_prep_e2e`'s quality-gate recipe): keep docs the DSIR
    importance model scores target-like (integer micro-sum s > 0, the
    engine-identical boundary), exact-dedup the survivors (min-id per
    normalized-content fingerprint), assign the deterministic
    train/val/test split, and report per (split, source) doc and
    token counts with split shares — the one-table answer to "what
    would we actually train on?".

    Scale: DSIR fold (doc-keyed agg + broadcast model) → fingerprint
    semi-join dedup (digests shuffle, text does not re-shuffle) →
    narrow split draw → a (3 × sources)-bounded rollup."""
    d = _docs(spark, sf_dir)
    selected = dsir_doc_scores(d).filter(F.col("s") > 0).select(
        "doc_id"
    )
    kept = d.join(selected, "doc_id")
    keep_ids = (
        fingerprint(kept)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv = kept.join(keep_ids, "doc_id")
    per = surv.select(
        split_col().alias("split"),
        "source",
        token_count(F.col("text")).cast("long").alias("n_tok"),
    ).groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_docs").cast("long").alias("n_all"))
    return per.crossJoin(F.broadcast(tot)).select(
        "split",
        "source",
        "n_docs",
        "n_tokens",
        quantize(
            F.col("n_docs").cast("double") / F.col("n_all"), 6
        ).alias("share_of_selected"),
    )


def corpus_contrastive_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Contrastive training-pair export: (anchor, positive, negative)
    triplets for embedder training — positives are the MinHash-LSH
    verified near-dup pairs (lexically confirmable paraphrase-ish
    pairs, the standard weak supervision), negatives a deterministic
    Knuth-draw doc distinct from both (the in-batch-random negative
    of InfoNCE; a hard-negative variant would draw from same-band
    non-duplicates). The artifact an embedding fine-tune job reads
    straight off the dedup pipeline it already runs.

    Assumes the dense consecutive doc_id space the generator
    guarantees (the `corpus_contamination` convention). Scale: rides
    the banded-LSH pair pipeline; the negative draw is a pure
    map-side expression against a 1-row count broadcast."""
    d = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        d, threshold=MINHASH_THRESHOLD, df_cap=MINHASH_DF_CAP
    )
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_tot"))
    g = pairs.crossJoin(F.broadcast(tot))
    # the %DRAW_MOD on the inputs bounds the product under 2^63; the
    # final reduction is by n_tot DIRECTLY (not DRAW_MOD first) so
    # negatives cover the WHOLE id space even when the corpus exceeds
    # a million docs
    cand = (
        (
            (F.col("da") % DRAW_MOD) * KNUTH
            + F.col("db") % DRAW_MOD
        )
        % F.col("n_tot")
    )
    # +1/+2 probes: the three candidates are pairwise distinct for
    # any corpus of ≥3 docs, and only two values are forbidden, so
    # one candidate ALWAYS clears both — the triplet invariant holds
    # unconditionally (an LSH pair already implies ≥2 docs)
    c2 = (cand + 1) % F.col("n_tot")
    c3 = (cand + 2) % F.col("n_tot")
    # the three probes are pairwise distinct only for n_tot >= 3; a
    # 2-doc corpus has NO valid negative (both ids are the pair), so
    # emit NULL there instead of a degenerate triplet (advisor r6)
    neg = F.when(
        F.col("n_tot") >= 3,
        F.when((cand != F.col("da")) & (cand != F.col("db")), cand)
        .when((c2 != F.col("da")) & (c2 != F.col("db")), c2)
        .otherwise(c3),
    )
    return g.select(
        F.col("da").alias("anchor_id"),
        F.col("db").alias("positive_id"),
        neg.cast("long").alias("negative_id"),
        F.col("jaccard").alias("pos_jaccard"),
    )


LI_EVERY = 25  # plant one doc per language per 25th real doc
LI_REPEAT = 5  # stopword-list repetitions per planted doc
# planted texts derive from the SAME stopword constants the
# production heuristic uses — including the fr/es shared-stopword
# overlap, so the eval exercises the decision rule's tiebreaks, not
# a toy separation. The zh probe sits squarely in the CJK block.
LI_PLANTS = {
    "de": " ".join(STOPWORDS["de"] * LI_REPEAT),
    "es": " ".join(STOPWORDS["es"] * LI_REPEAT),
    "fr": " ".join(STOPWORDS["fr"] * LI_REPEAT),
    "zh": "你好 世界 测试 数据",
}


def langid_injection_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ground-truth evaluation of the language-ID heuristic: plant
    deterministic foreign-language probe docs (pure stopword text per
    language — including the French/Spanish shared-stopword overlap
    that stresses the tiebreak order, and a CJK probe) alongside the
    corpus, run the exact production scorer, and report the per-
    language catch rate next to the clean-corpus 'en' baseline. The
    injection-eval discipline (`quality_injection_eval` & co.)
    extended to the langid gate.

    Scale: planted rows = corpus/25 × 4 languages (a narrow map +
    explode over a 4-element literal array); the scorer is the
    production narrow expression; one 5-row strata fold.
    """
    return langid_eval_from_cells(
        langid_eval_cells(_docs(spark, sf_dir))
    )


def langid_eval_cells(docs: DataFrame) -> DataFrame:
    """(expected, hit, n) verdict cells over the planted+clean
    augmentation — the 5-strata × 2 bounded mergeable state shared
    by the batch eval and its streaming twin (the plant and the
    production scorer are both stateless narrow maps)."""
    probes = F.array(
        *[
            F.struct(
                F.lit(lang).alias("elang"), F.lit(txt).alias("ptext")
            )
            for lang, txt in sorted(LI_PLANTS.items())
        ]
    )
    planted = (
        docs.filter(F.col("doc_id") % LI_EVERY == 0)
        .select(F.explode(probes).alias("p"))
        .select(
            F.col("p.elang").alias("expected"),
            F.col("p.ptext").alias("text"),
        )
    )
    clean = docs.select(F.lit("clean_en").alias("expected"), "text")
    aug = clean.unionByName(planted)
    scores = lang_score_cols()
    scored = aug.select(
        "expected",
        *[
            scores[k].alias(k)
            for k in ["s_en", "s_de", "s_es", "s_fr", "s_zh"]
        ],
    ).withColumn("pred_lang", pred_lang_col())
    hit = F.when(
        F.col("expected") == "clean_en", F.col("pred_lang") == "en"
    ).otherwise(F.col("pred_lang") == F.col("expected"))
    return scored.groupBy("expected", hit.alias("hit")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def langid_eval_from_cells(cells: DataFrame) -> DataFrame:
    """The per-stratum catch-rate report over drained verdict cells."""
    return (
        cells.groupBy("expected")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("hit"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_pred_match"),
        )
        .select(
            "expected",
            "n_docs",
            "n_pred_match",
            quantize(
                F.col("n_pred_match").cast("double") / F.col("n_docs"),
                6,
            ).alias("match_rate"),
        )
    )


BPE_TOP = 20  # exported head of the pair-merge census


def term_counts(docs: DataFrame) -> DataFrame:
    """(term, tf) occurrence counts over whitespace tokens — the
    vocabulary-bounded mergeable state the BPE census (and its
    streaming twin) folds from."""
    return (
        docs.select(F.explode(words(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )


def bpe_census_from_term_counts(tf: DataFrame) -> DataFrame:
    """The BPE first-merge decision table over drained (term, tf)
    counts: adjacent-character pair frequencies counted GREEDY
    LEFT-TO-RIGHT NON-OVERLAPPING (within a same-char run of length
    R a merge realizes ⌊R/2⌋ occurrences, not R−1 — the count a real
    BPE merge step banks), weighted by term occurrence, plus each
    pair's exact corpus-wide symbol savings if merged. Character
    splitting advances by code points in both engines (the
    `doc_char_entropy` contract, fuzz-pinned).

    Scale: the pair explode runs over the VOCABULARY (never the
    corpus — the corpus-sized explode collapses into the (term, tf)
    agg first); the run-parity dedup is two term-partitioned windows
    over that vocabulary table; the pair agg is alphabet²-bounded;
    the symbol total is a 1-row broadcast; the export is
    TakeOrderedAndProject.
    """
    from pyspark.sql.window import Window

    cs = tf.select(
        "term",
        "tf",
        F.filter(
            F.split(F.col("term"), ""), lambda x: x != ""
        ).alias("c"),
    )
    zipped = F.when(
        F.size("c") > 1,
        F.zip_with(
            F.slice("c", 1, F.size("c") - 1),
            F.slice("c", 2, F.size("c") - 1),
            lambda a, b: F.struct(
                F.concat(a, b).alias("pair"),
                (a == b).alias("selfp"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<pair:string,selfp:boolean>>")
    )
    pr = cs.select(
        "term", "tf", F.posexplode(zipped).alias("pos", "p")
    ).select(
        "term",
        "tf",
        (F.col("pos") + 1).cast("bigint").alias("i"),
        F.col("p.pair").alias("pair"),
        F.col("p.selfp").alias("selfp"),
    )
    non_self = pr.filter(~F.col("selfp")).select("tf", "pair")
    # same-char runs: consecutive self positions form one island
    # (adjacent self pairs share the char), keep the odd offsets —
    # the greedy left-to-right non-overlap rule
    w1 = Window.partitionBy("term").orderBy("i")
    isl = pr.filter(F.col("selfp")).select(
        "term",
        "tf",
        "i",
        "pair",
        (F.col("i") - F.row_number().over(w1)).alias("island"),
    )
    w2 = Window.partitionBy("term", "island").orderBy("i")
    kept_self = isl.select(
        "tf", "pair", F.row_number().over(w2).alias("rn2")
    ).filter(F.col("rn2") % 2 == 1).select("tf", "pair")
    pc = non_self.unionByName(kept_self).groupBy("pair").agg(
        F.sum("tf").cast("long").alias("n")
    )
    tot = cs.agg(
        F.sum(F.col("tf") * F.size("c"))
        .cast("long")
        .alias("total_symbols")
    )
    g = pc.crossJoin(F.broadcast(tot))
    return (
        g.select(
            "pair",
            F.col("n").alias("n_occurrences"),
            "total_symbols",
            quantize(
                F.col("n").cast("double") / F.col("total_symbols"), 6
            ).alias("share_of_symbols"),
            (F.col("total_symbols") - F.col("n")).alias(
                "symbols_after_merge"
            ),
        )
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(BPE_TOP)
    )


def corpus_bpe_pair_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Byte-pair-encoding merge census: the top adjacent-character
    pairs a BPE tokenizer trained on this corpus would merge FIRST,
    with each candidate's exact symbol savings — the
    tokenizer-training building block that complements
    `corpus_tokenizer_fertility` (which grades a tokenizer after the
    fact; this one shows what the corpus itself wants merged)."""
    return bpe_census_from_term_counts(
        term_counts(_docs(spark, sf_dir))
    )


# lcm(1..BM25_K): AP's Σ hits(i)/i folds as EXACT integers scaled by
# this, so per-query AP and the corpus MAP are engine-identical
# doubles (no float-order flakes in either engine's aggregation)
_AP_LCM = 2520
assert all(_AP_LCM % i == 0 for i in range(1, BM25_K + 1))


def search_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean average precision of the BM25 ranking against the
    semantic relevance set — the rank-weighted coverage grade MRR
    lacks: AP@k integrates precision at every hit position, so burying
    relevant docs at the tail costs exactly what a user scanning
    top-down loses. AP's
    harmonic terms fold as exact integers scaled by lcm(1..k), so
    every reported double is bit-identical across engines.

    Scale: same queries × k shapes as MRR — broadcast relevance
    join, per-query key-partitioned rank window, 1-row mean
    broadcast back.
    """
    from ..operators.similarity import cosine_topk_blocked
    from pyspark.sql.window import Window

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    rel = cosine_topk_blocked(q, e, k=BM25_K).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.lit(1).alias("hit"),
    )
    lex = _bm25_scored(spark, sf_dir, BM25_K).select(
        "query_id", "doc_id", "rk"
    )
    joined = lex.join(
        F.broadcast(rel), ["query_id", "doc_id"], "left"
    )
    w = Window.partitionBy("query_id").orderBy("rk")
    is_hit = F.col("hit").isNotNull()
    g = joined.select(
        "query_id",
        "rk",
        is_hit.alias("is_hit"),
        F.sum(F.when(is_hit, 1).otherwise(0)).over(w).alias("ch"),
    )
    # queries-sized, materialized once: the mean branch below re-reads
    # this table, and without the cut it re-ran BOTH retrievers (the
    # blocked-dgemm Python stages included) a second time
    per = g.groupBy("query_id").agg(
        F.sum(F.when(F.col("is_hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_hits"),
        F.sum(
            F.when(
                F.col("is_hit"),
                F.col("ch") * (F.lit(_AP_LCM) / F.col("rk")).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("s"),
    ).transform(materialize)
    ap = F.col("s").cast("double") / F.lit(float(_AP_LCM * BM25_K))
    mean = per.agg(
        F.sum("s").cast("long").alias("ssum"),
        F.count(F.lit(1)).cast("long").alias("nq"),
    )
    mp = F.col("ssum").cast("double") / (
        F.lit(float(_AP_LCM * BM25_K)) * F.col("nq")
    )
    return per.crossJoin(F.broadcast(mean)).select(
        "query_id",
        "n_hits",
        quantize(ap, 6).alias("avg_precision"),
        quantize(mp, 6).alias("mean_avg_precision"),
    )


def corpus_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of dropping near-duplicates, weight
    every doc by 1/|its near-dup cluster| so each duplicated content
    unit contributes one doc's worth of gradient — the
    train-on-everything-but-downweight policy modern pipelines use
    when hard dedup is too lossy. Docs outside any cluster keep
    weight 1.

    Scale: rides `dedup_clusters` (banded LSH + O(diameter)
    components); the size rollup and the weight join are natural-key
    shuffles on cluster_id / doc_id.
    """
    clusters = dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    cd = clusters.join(sizes, "cluster_id")
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(cd.select("doc_id", "cluster_size"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_size"), F.lit(1))
            .cast("long")
            .alias("cluster_size"),
            quantize(
                F.lit(1.0)
                / F.coalesce(F.col("cluster_size"), F.lit(1)),
                6,
            ).alias("weight"),
        )
    )


LEAK_OFFSET = 300_001  # NOT divisible by CONTAM_MOD: leaks land on the corpus side
LEAK_TAIL_TOKENS = 10


def contamination_injection_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ground-truth evaluation of the DECONTAMINATION screen: plant a
    near-verbatim leak of every benchmark doc (its full text plus a
    10-token tail from the neighboring doc — the realistic "eval set
    pasted into a crawl page" case, overlap ≈ 0.85) and run the exact
    production screen; report the leak catch rate and the baseline
    contaminated count among the original corpus. Completes the
    injection-eval suite (anomaly, dedup, drift, quality, and now
    leakage).

    Scale: ≤ |benchmark| planted rows; the screen is the production
    broadcast-guarded overlap join unchanged.
    """
    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % CONTAM_MOD == 0)
    neigh = d.select(
        (F.col("doc_id") - 1).alias("bid"),
        F.slice(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            1,
            LEAK_TAIL_TOKENS,
        ).alias("tail"),
    )
    # <= |benchmark| rows, materialized once: the augmentation union
    # and the n_planted count both read it, and composed as plans each
    # re-ran the bench x neighbor-tail join over two corpus scans
    planted = bench.join(
        neigh, bench["doc_id"] == neigh["bid"]
    ).select(
        (F.col("doc_id") + LEAK_OFFSET).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" "), F.array_join(F.col("tail"), " ")
        ).alias("text"),
        "lang",
        "source",
        F.length(
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.array_join(F.col("tail"), " "),
            )
        )
        .cast("long")
        .alias("n_chars"),
    ).transform(materialize)
    aug = d.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).unionByName(planted)
    screened = contamination_of(aug).select("doc_id", "contaminated")
    is_leak = F.col("doc_id") >= LEAK_OFFSET
    n_planted = planted.agg(
        F.count(F.lit(1)).cast("long").alias("n_planted")
    )
    folded = screened.agg(
        F.sum(F.when(is_leak & F.col("contaminated"), 1).otherwise(0))
        .cast("long")
        .alias("leaks_caught"),
        F.sum(
            F.when(~is_leak & F.col("contaminated"), 1).otherwise(0)
        )
        .cast("long")
        .alias("baseline_contaminated"),
    )
    return n_planted.crossJoin(F.broadcast(folded)).select(
        "n_planted",
        "leaks_caught",
        "baseline_contaminated",
        quantize(
            F.try_divide(
                F.col("leaks_caught").cast("double"),
                F.col("n_planted"),
            ),
            6,
        ).alias("catch_rate"),
    )


QI_INJECT_EVERY = 25
QI_INJECT_OFFSET = 200_000
QI_REPEAT = 60  # junk = the doc's first token repeated 60 times


def quality_injection_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ground-truth evaluation of the quality GATE: plant
    deterministic junk docs (first token repeated 60× — maximal
    repetition, minimal entropy/diversity) alongside the real corpus,
    run the exact production four-signal ensemble, and report the
    junk catch rate alongside the gate's BASELINE rejection rate on
    the clean docs — the separation between the two is the gate's
    discriminative power (catch 1.0 vs baseline ≈ 0.42 here: total
    junk separation, over a deliberately strict gate).

    Scale: 4% augmentation union, then the production ensemble
    unchanged (natural-key aggs; the corpus-LM signal sees the
    polluted corpus, exactly as production would).
    """
    d = _docs(spark, sf_dir)
    first_tok = F.element_at(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), 1
    )
    junk_text = F.array_join(
        F.array_repeat(first_tok, QI_REPEAT), " "
    )
    planted = d.filter(F.col("doc_id") % QI_INJECT_EVERY == 0).select(
        (F.col("doc_id") + QI_INJECT_OFFSET).alias("doc_id"),
        junk_text.alias("text"),
        "lang",
        "source",
        F.length(junk_text).cast("long").alias("n_chars"),
    )
    aug = d.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).unionByName(planted)
    verdicts = quality_ensemble_of(aug).select("doc_id", "keep")
    is_junk = F.col("doc_id") >= QI_INJECT_OFFSET
    return verdicts.agg(
        F.sum(F.when(is_junk, 1).otherwise(0))
        .cast("long")
        .alias("n_junk"),
        F.sum(F.when(is_junk & ~F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("junk_caught"),
        F.sum(F.when(~is_junk, 1).otherwise(0))
        .cast("long")
        .alias("n_clean"),
        F.sum(F.when(~is_junk & ~F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("clean_rejected"),
    ).select(
        "n_junk",
        "junk_caught",
        "n_clean",
        "clean_rejected",
        quantize(
            F.try_divide(
                F.col("junk_caught").cast("double"), F.col("n_junk")
            ),
            6,
        ).alias("catch_rate"),
        quantize(
            F.try_divide(
                F.col("clean_rejected").cast("double"),
                F.col("n_clean"),
            ),
            6,
        ).alias("clean_reject_rate"),
    )


DEDUP_INJECT_EVERY = 25  # plant a near-copy of every 25th doc
DEDUP_INJECT_DROP = 20  # …dropping every 20th token (J ≈ 0.74)
DEDUP_INJECT_OFFSET = 100_000


def dedup_injection_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground-truth evaluation of the MinHash-LSH dedup pipeline:
    plant a deterministic near-copy of every 25th doc (every 20th
    token dropped → shingle Jaccard ≈ 0.74, safely above the 0.5
    verify threshold but with real shingle damage), run the exact
    PRODUCTION pair pipeline on the augmented corpus, and report the
    planted-pair recall — `dedup_lsh_recall` audits the banding
    s-curve against exact Jaccard; this one measures end-to-end
    recall on KNOWN duplicates, the number a dedup SLA quotes.

    Scale: the augmentation is a narrow union (4% extra rows); the
    pipeline is the production banded-LSH operator unchanged.
    """
    d = _docs(spark, sf_dir)
    keep = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda t, i: i % DEDUP_INJECT_DROP != 10,
    )
    planted = d.filter(
        F.col("doc_id") % DEDUP_INJECT_EVERY == 0
    ).select(
        (F.col("doc_id") + DEDUP_INJECT_OFFSET).alias("doc_id"),
        F.array_join(keep, " ").alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    aug = d.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).unionByName(planted)
    pairs = minhash_lsh_pairs(
        aug, threshold=MINHASH_THRESHOLD, df_cap=MINHASH_DF_CAP
    ).select("da", "db")
    truth = d.filter(
        F.col("doc_id") % DEDUP_INJECT_EVERY == 0
    ).select(
        F.col("doc_id").alias("da"),
        (F.col("doc_id") + DEDUP_INJECT_OFFSET).alias("db"),
    )
    hit = truth.join(pairs, ["da", "db"])
    n_planted = truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_planted")
    )
    n_found = hit.agg(F.count(F.lit(1)).cast("long").alias("n_found"))
    n_pairs = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs_total")
    )
    return (
        n_planted.crossJoin(F.broadcast(n_found))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "n_planted",
            "n_found",
            "n_pairs_total",
            quantize(
                F.try_divide(
                    F.col("n_found").cast("double"),
                    F.col("n_planted"),
                ),
                6,
            ).alias("recall"),
        )
    )


def dedup_method_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Meta-evaluation of the dedup families: how much do the
    SHINGLE near-dup pairs (MinHash-LSH verified) and the SEMANTIC
    near-dup pairs (embedding cosine ≥ threshold) agree? Disjoint
    sets mean the two families catch different duplication (exact
    phrasing vs paraphrase) and a production policy needs both;
    heavy overlap means one suffices. One row: pair counts,
    intersection, Jaccard.

    Scale: both pair generators are the existing bucketed/blocked
    operators (never all-pairs); the agreement join and fold touch
    only the pair lists.
    """
    # pair lists, materialized once: each feeds both the agreement
    # join and its own count, and composed as plans each reference
    # re-ran the full LSH / blocked-dgemm pipeline; the two
    # independent pipelines checkpoint as concurrent jobs
    from ..operators.persist import materialize_all

    mh, emb = materialize_all([
        minhash_lsh_pairs(
            _docs(spark, sf_dir),
            threshold=MINHASH_THRESHOLD,
            df_cap=MINHASH_DF_CAP,
        ).select("da", "db"),
        embedding_neardup_blocked(
            _embs(spark, sf_dir), threshold=NEARDUP_COS
        ).select("da", "db"),
    ])
    both = mh.join(emb, ["da", "db"])
    counts = mh.agg(F.count(F.lit(1)).cast("long").alias("n_minhash"))
    counts = counts.crossJoin(
        emb.agg(F.count(F.lit(1)).cast("long").alias("n_cosine"))
    ).crossJoin(
        both.agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    union = F.col("n_minhash") + F.col("n_cosine") - F.col("n_both")
    return counts.select(
        "n_minhash",
        "n_cosine",
        "n_both",
        F.when(
            union > 0,
            quantize(F.col("n_both").cast("double") / union, 6),
        ).alias("jaccard"),
    )


HRW_SHARDS = 8


def _hrw_key(doc: Column, shard: int) -> Column:
    """Rendezvous weight of (doc, shard): the md5 draw both engines
    evaluate identically (the dp/sample convention)."""
    return F.md5(
        F.concat(
            F.lit("hrw|"), doc.cast("string"), F.lit("|"), F.lit(str(shard))
        )
    )


def corpus_shard_rendezvous(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: every doc
    hashes once per shard and lands on the argmax — the assignment
    scheme whose guarantee is MINIMAL MOVEMENT (adding a shard moves
    exactly the docs that now win for it, ≈ 1/(S+1) of the corpus),
    unlike modulo sharding which reshuffles almost everything.
    Emits the current assignment and whether the doc would move under
    S+1 — so the rebalance cost of a scale-out is a COLUMN, not a
    migration surprise.

    Scale: S+1 hash evaluations per row, all map-side; the argmax is
    a `greatest`-style fold over S literal columns — no shuffle at
    all past the scan.
    """
    d = _docs(spark, sf_dir).select("doc_id")
    doc = F.col("doc_id")
    keys = [_hrw_key(doc, s) for s in range(HRW_SHARDS + 1)]
    # argmax as array_max over (key, shard) structs — one expression,
    # codegen-friendly (a chained CASE blows the JIT method limit)
    best = F.array_max(
        F.array(
            *[
                F.struct(keys[s].alias("k"), F.lit(s).alias("s"))
                for s in range(HRW_SHARDS)
            ]
        )
    )
    moves = keys[HRW_SHARDS] > best["k"]
    return d.select(
        "doc_id",
        best["s"].cast("long").alias("shard"),
        moves.alias("moves_on_scale_out"),
    )


def corpus_shard_rendezvous_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The rendezvous guarantee, measured: per-shard occupancy of the
    HRW assignment plus the realized scale-out movement fraction —
    the two numbers that justify HRW over modulo at 100 TB (balance
    within sampling noise of uniform; movement ≈ 1/(S+1)).
    """
    a = corpus_shard_rendezvous(spark, sf_dir)
    tot = a.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("moves_on_scale_out").cast("long"))
        .cast("long")
        .alias("n_move"),
    )
    per = a.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            "n",
            quantize(
                F.col("n").cast("double") / F.col("n_docs"), 6
            ).alias("share"),
            quantize(
                F.col("n_move").cast("double") / F.col("n_docs"), 6
            ).alias("move_fraction"),
        )
    )


def corpus_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup applied to the DOCUMENT corpus: the cosine-threshold
    near-dup components over the embedding column (the
    `emb_dedup_apply` machinery, threshold = NEARDUP_COS) decide the
    drop set, and the anti-join lands on the documents table —
    catching paraphrases that shared-shingle dedup can't see.
    Embeddings align with documents on vec_id = doc_id (the
    `semantic_search` convention).

    Scale: all pairwise work rides the blocked-dgemm pair operator
    (B·n-row shuffle, never n²); components are pointer-halving over
    pairs ≪ corpus; docs shuffle only by their key in the anti-join.
    """
    from ..operators.dedup import connected_components

    pairs = embedding_neardup_blocked(
        _embs(spark, sf_dir), threshold=NEARDUP_COS
    ).select("da", "db")
    drop = (
        connected_components(pairs)
        .filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias("doc_id"))
    )
    return (
        _docs(spark, sf_dir)
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


DP_VOCAB_CLIP = 10  # each doc votes for at most its top-10 terms
DP_VOCAB_EPS = 1.0
DP_VOCAB_THRESHOLD = 25  # publish only terms whose noisy df clears it


def corpus_dp_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private vocabulary release (the stability-based
    histogram): each doc contributes its top-``DP_VOCAB_CLIP`` terms
    (by tf, ties by term — the L1 clip that makes the DOC the privacy
    unit), term document-frequencies get Laplace(clip/ε) noise, and
    only terms whose noisy count clears the threshold are published —
    the standard mechanism for releasing vocab/n-gram statistics
    about a private corpus. Noise is the deterministic md5-keyed
    draw, so the release replays in the SQL twin.

    Scale: a (doc, term) partial agg, a per-doc top-k window on the
    ≤clip·docs rows, a term-keyed fold, then a narrow noise-and-
    threshold map — all natural keys, vocabulary-bounded output.
    """
    from pyspark.sql.window import Window

    from ..functions.hashing import words as _words
    from .events import dp_noise_col

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(_words(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n").desc(), F.col("term")
    )
    kept = tf.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= DP_VOCAB_CLIP
    )
    dfreq = kept.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    noise = dp_noise_col(
        F.concat(F.lit("dpv|"), F.col("term")),
        eps=DP_VOCAB_EPS / DP_VOCAB_CLIP,
    )
    return (
        dfreq.select(
            "term",
            F.greatest(F.lit(0), F.col("df") + noise)
            .cast("long")
            .alias("dp_df"),
        )
        .filter(F.col("dp_df") >= DP_VOCAB_THRESHOLD)
    )


RBO_P = 0.9
RBO_DEPTH = BM25_K
# integer weight grid (1e-9 units): both engines fold exact BIGINT
# w·x products and divide once, so RBO is bit-identical cross-engine
_RBO_SCALE = 1_000_000_000
_RBO_W = [
    round((1.0 - RBO_P) * RBO_P ** (d - 1) / d * _RBO_SCALE)
    for d in range(1, RBO_DEPTH + 1)
]
_RBO_EXT_W = round(RBO_P**RBO_DEPTH / RBO_DEPTH * _RBO_SCALE)


def search_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al.) between the semantic and
    lexical rankings, per query — the fourth leg of the retrieval-eval
    suite: MAP/MRR grade one ranking against a relevance set, RBO
    grades two RANKINGS against each other (top-weighted, p=0.9), i.e.
    "how much is the fusion in `search_rrf` actually fusing?". Emits
    the lower bound (RBO_min over the observed depth) and the
    extrapolated point estimate.

    Scale: both retrievers produce queries × k rows by construction,
    so the agreement join, the depth expansion (a ≤k-row broadcast
    range), and the per-query fold are all broadcast-sized; weights
    are precomputed integer literals, keeping the fold exact.
    """
    from ..operators.similarity import cosine_topk_blocked

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    sem = cosine_topk_blocked(q, e, k=RBO_DEPTH).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rk").alias("ra"),
    )
    lex = _bm25_scored(spark, sf_dir, RBO_DEPTH).select(
        "query_id", "doc_id", F.col("rk").alias("rb")
    )
    # a pair in both top-k lists first counts at depth max(ra, rb)
    pairs = sem.join(lex, ["query_id", "doc_id"]).select(
        "query_id", F.greatest("ra", "rb").alias("m")
    )
    depths = spark.createDataFrame(
        [(d + 1, w) for d, w in enumerate(_RBO_W)], "d long, w long"
    )
    x = (
        pairs.join(F.broadcast(depths), F.col("m") <= F.col("d"))
        .groupBy("query_id", "d", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    per = x.groupBy("query_id").agg(
        F.sum(F.col("w") * F.col("x")).cast("long").alias("wsum"),
        # every joint pair has m <= RBO_DEPTH, so the d = DEPTH row
        # exists whenever any pair does: X_D = |A∩B| at full depth
        F.max(F.when(F.col("d") == RBO_DEPTH, F.col("x")))
        .cast("long")
        .alias("xd"),
    )
    anchor = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id")
    )
    out = anchor.join(F.broadcast(per), "query_id", "left")
    wsum = F.coalesce(F.col("wsum"), F.lit(0))
    xd = F.coalesce(F.col("xd"), F.lit(0))
    return out.select(
        "query_id",
        xd.cast("long").alias("overlap_at_k"),
        quantize(wsum / F.lit(float(_RBO_SCALE)), 6).alias("rbo_min"),
        quantize(
            (wsum + F.lit(_RBO_EXT_W) * xd) / F.lit(float(_RBO_SCALE)), 6
        ).alias("rbo_ext"),
    )


# ----------------------------------------- governance: caps + samples


FIXED_SAMPLE_K = 100
DOMAIN_CAP = 10


def corpus_sample_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size uniform sample (the distributed
    reservoir): order by a seeded md5 draw, keep the first K.

    Scale: ``orderBy().limit(K)`` plans as TakeOrderedAndProject —
    per-partition top-K then a K-row merge, never a global sort; the
    draw is a map-side hash, so the sample is identical across runs,
    cluster sizes, and engines.
    """
    d = _docs(spark, sf_dir)
    key = shuffle_sort_key(F.col("doc_id"), "usample")
    return (
        d.select("doc_id", "lang", "source", key.alias("sample_key"))
        .orderBy("sample_key")
        .limit(FIXED_SAMPLE_K)
    )


def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (crawl governance: no single domain may
    dominate the mix) — rank docs within each source by a seeded draw,
    keep at most DOMAIN_CAP.

    Scale: one natural-key shuffle on ``source``; the ranking window
    is per-source, bounded by the largest domain. For mega-domains the
    draw-threshold approximation (keep iff draw < cap/n_domain
    quantile) removes even that sort; the exact window is the
    deterministic reference semantics.
    """
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    key = shuffle_sort_key(F.col("doc_id"), "domcap")
    w = Window.partitionBy("source").orderBy(key, F.col("doc_id"))
    return (
        d.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .withColumn("kept", F.col("rk") <= DOMAIN_CAP)
    )


# -------------------------------------------- bloom membership screen

# The fourth sketch tier (HLL = distinct, quantile sketch = ranks,
# count-min = counts, Bloom = MEMBERSHIP): screen a new ingest batch's
# shingles against a Bloom filter of the existing corpus's shingle
# set. Integer-affine hashes reproduce bit-for-bit in both engines, so
# the whole filter — including its false positives — is value-checked,
# and the no-false-negative guarantee is an asserted output column.
BLOOM_M = 1 << 18
BLOOM_K = 3
BLOOM_P = 2147483647
BLOOM_A = (1299721, 15485863, 32452843)
BLOOM_B = (7, 11, 13)


def _bloom_bits(s: F.Column) -> F.Column:
    """Array of the BLOOM_K bit positions for a 60-bit shingle key."""
    folded = s % F.lit(BLOOM_P)
    return F.array(
        *[
            (
                (F.lit(BLOOM_A[j]) * folded + F.lit(BLOOM_B[j]))
                % F.lit(BLOOM_P)
            )
            % F.lit(BLOOM_M)
            for j in range(BLOOM_K)
        ]
    )


def dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter overlap screen: per new-batch doc, how many of its
    shingles the existing corpus's Bloom filter flags (bloom_hits) vs
    truly contains (exact_hits), with the no-false-negative guarantee
    as an asserted column.

    Scale: the filter state is ≤ BLOOM_M set-bit rows REGARDLESS of
    corpus size (the point of a Bloom filter) and broadcasts to the
    probe join, so the batch side never shuffles for membership; the
    only corpus-keyed exchanges are natural-key partial aggs and the
    8-byte-key semi-join that audits the filter. At 100 TB the exact
    audit drops and only the broadcast-filter probe remains.
    """
    d = _docs(spark, sf_dir)
    # consumers read the keyed shingle table (hub build + flag scan);
    # materialize the explode+key scan once
    sh = doc_shingles(d, keyed=True).transform(materialize)
    bt = sh.filter(F.col("doc_id") % 2 == 1)
    # DISTINCT-shingle hub (VERDICT r11 item 9): both sides of the
    # BLOOM_K-bit work now derive from ONE s-keyed fold. The old plan
    # exploded _bloom_bits per (odd doc, shingle) OCCURRENCE and
    # counted hits per (doc_id, s) — K× the occurrence count through
    # the probe join and its groupBy. A shingle's bits and its
    # bloom/exact verdicts depend only on s, so: hash each distinct
    # shingle once, count its set-bit hits once, and attach the per-s
    # verdict to the per-doc rows with one s-keyed join. Identical
    # nb/bloom_hit/exact_hit per (doc, s) — bits (with hash-collision
    # multiplicity) and set membership are functions of s alone.
    su = (
        sh.groupBy("s")
        .agg(
            F.max(F.col("doc_id") % 2 == 0).alias("in_ex"),
            F.max(F.col("doc_id") % 2 == 1).alias("in_bt"),
        )
        .transform(materialize)
    )
    setbits = (
        su.filter("in_ex")
        .select(F.explode(_bloom_bits(F.col("s"))).alias("bit"))
        .distinct()
    )
    nb = (
        su.filter("in_bt")
        .select("s", F.explode(_bloom_bits(F.col("s"))).alias("bit"))
        .join(F.broadcast(setbits), "bit")
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    sv = su.filter("in_bt").select("s", "in_ex").join(nb, "s", "left")
    flags = bt.join(sv, "s", "left").select(
        "doc_id",
        (F.coalesce("nb", F.lit(0)) == BLOOM_K).alias("bloom_hit"),
        F.coalesce(F.col("in_ex"), F.lit(False)).alias("exact_hit"),
    )
    return (
        flags.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.col("bloom_hit").cast("long")).cast("long").alias(
                "bloom_hits"
            ),
            F.sum(F.col("exact_hit").cast("long")).cast("long").alias(
                "exact_hits"
            ),
        )
        .withColumn(
            "fp_hits",
            (F.col("bloom_hits") - F.col("exact_hits")).cast("long"),
        )
        .withColumn(
            "guarantee_ok", F.col("bloom_hits") >= F.col("exact_hits")
        )
    )


OUTLIER_COS = 0.0


def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen: cosine of each vector to its
    OWN label's centroid — low similarity marks mislabeled / noisy
    training examples (the pruning signal of centroid-based data
    curation, and the residual diagnostic of an IVF index).

    Scale: centroids come from the dimension-exploded partial agg
    (labels×dim cells — no vector crosses the wire), collapse to a
    labels-sized array table that broadcasts, and the scoring pass is
    one narrow corpus scan with the fixed-order dot fold. No corpus
    shuffle anywhere.
    """
    from ..functions.vectors import cosine

    e = _embs(spark, sf_dir)
    ex = e.select("label", F.posexplode("embedding").alias("dim", "val"))
    cent = ex.groupBy("label", "dim").agg(
        (F.sum(F.col("val").cast("double")) / F.count(F.lit(1))).alias("c")
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"],
        ).alias("centroid")
    )
    cos = quantize(cosine(F.col("embedding"), F.col("centroid")), 6)
    return (
        e.join(F.broadcast(carr), "label")
        .select(
            "vec_id",
            "label",
            cos.alias("cos_centroid"),
            (cos < OUTLIER_COS).alias("outlier"),
        )
    )


ZIPF_TOP_K = 256
HEAPS_POINTS = 16
MIX_ALPHA = 0.5
KMEANS_K = 8
KMEANS_ITERS = 3
# Lloyd TRAINING-sample cap (VERDICT r8 item 2 / the one measured
# super-linear bench query): centroid-update rounds run on a
# deterministic cross-engine md5-hash sample of at most ~this many
# vectors (512 per centroid, the faiss training band), then ONE full
# pass assigns every vector to the trained centroids. Corpora at or
# under the cap keep = DENOM and the sample filter passes every row,
# so results are bit-identical to full-corpus Lloyd at every driver
# gate scale (<= 2000 vectors); above it, training cost is
# corpus-size-independent while the output stays a full assignment.
# A module constant, NOT a conf: the oracle SQL twin embeds the same
# arithmetic and must stay pinned to the plan.
KMEANS_TRAIN_CAP = 512 * KMEANS_K
KMEANS_SAMPLE_DENOM = 1 << 20


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means (3 unrolled Lloyd rounds, deterministic
    ``vec_id % K`` init) with a FULL value oracle — the
    SQL-checkable twin of the MLlib-trained IVF path
    (``knn_ivf_trained``, whose training is rows-only-checked).
    Returns every vector's final cluster and cosine to its centroid.

    Cross-engine float parity: unit vectors use the ordered dot
    chain both engines share; centroid cells and similarities are
    quantized to 1e-9 EACH round, so engine-order summation drift
    (~1e-15) is killed per iteration instead of compounding into
    assignment flips; argmax ties break to the lowest cluster id in
    both engines.

    Scale: training rounds are SAMPLE-BOUNDED (md5-hash sample capped
    at ``KMEANS_TRAIN_CAP``, identical in both engines; at or under
    the cap the filter passes every row, so gate-scale results are
    bit-identical to full-corpus Lloyd) — per round = one vec_id
    co-partitioned join (sample cells x assignment), a (K x dim)-
    bounded partial agg, a K·dim-row broadcast, and a (vec_id, c)
    partial agg over the sample; then ONE corpus-sized pass assigns
    every vector to the trained centroids. Nothing materializes
    beyond n x dim cells (checkpointed once) plus the bounded
    training sample.
    """
    assign, _sims = _kmeans_final(spark, sf_dir)
    return assign.select(
        "vec_id", F.col("c").alias("cluster_id"), "sim"
    )


def _kmeans_sims(ex: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, c, sim) for every (vector in ``ex``) × centroid —
    dim-join + partial sum, quantized per round (see emb_kmeans)."""
    return (
        ex.join(F.broadcast(cents), "dim")
        .withColumn("p", F.col("val") * F.col("cv"))
        .groupBy("vec_id", "c")
        .agg(quantize(F.sum("p"), 9).alias("sim"))
    )


def _kmeans_argmax(sims: DataFrame) -> DataFrame:
    """Winning (vec_id, c, sim): max sim, ties to the LOWEST cluster
    id (both engines break ties identically via the -c struct max)."""
    return (
        sims.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("sim"), (-F.col("c")).alias("neg"))
            ).alias("m")
        )
        .select(
            "vec_id",
            (-F.col("m.neg")).cast("long").alias("c"),
            F.col("m.sim").alias("sim"),
        )
    )


def _kmeans_final(spark: SparkSession, sf_dir: str, two_frame: bool = False):
    """The shared Lloyd iteration: returns (final assignment with its
    winning sim, the final round's full (vec_id, c, sim) table) —
    consumed by ``emb_kmeans`` (assignment) and
    ``emb_cluster_quality`` (needs the runner-up sims too).

    Training is SAMPLE-BOUNDED (VERDICT r8): the centroid-update
    rounds join only the ``ext`` sample — vectors whose md5-fold key
    (``shingle_key``, bit-identical in both engines) lands under
    ``keep = DENOM * KMEANS_TRAIN_CAP // n`` — then the trained
    round-N centroids score EVERY vector in one final pass. At or
    under the cap ``keep >= DENOM`` so the filter passes all rows and
    the result is bit-identical to full-corpus Lloyd; above it, the
    ``KMEANS_ITERS`` iterations cost O(sample), not O(corpus), and
    only the single assignment pass is corpus-sized."""
    e = _embs(spark, sf_dir)
    u = e.select("vec_id", unit_norm(F.col("embedding")).alias("u"))
    ex = u.select(
        "vec_id", F.posexplode("u").alias("dim", "val")
    ).transform(materialize)
    n_vecs = e.count()
    keep = (KMEANS_SAMPLE_DENOM * KMEANS_TRAIN_CAP) // max(n_vecs, 1)
    if keep < KMEANS_SAMPLE_DENOM:
        ex_train = ex.filter(
            shingle_key(F.col("vec_id").cast("string"))
            % KMEANS_SAMPLE_DENOM
            < keep
        ).transform(materialize)
    else:
        ex_train = ex
    assign = e.select(
        "vec_id", (F.col("vec_id") % KMEANS_K).cast("long").alias("c")
    )
    cents = None
    for i in range(KMEANS_ITERS):
        cents = (
            ex_train.join(assign.select("vec_id", "c"), "vec_id")
            .groupBy("c", "dim")
            .agg(quantize(F.avg("val"), 9).alias("cv"))
        )
        if i < KMEANS_ITERS - 1:
            assign = _kmeans_argmax(_kmeans_sims(ex_train, cents))
    sims = _kmeans_sims(ex, cents)
    if two_frame:
        # n_vecs x K rows, materialized once: consumers that read BOTH
        # returned frames (emb_cluster_quality, knn_ivf_lloyd) would
        # otherwise embed the whole unrolled Lloyd chain twice in
        # their plans (census: 18-21 RDD scans). Assignment-only
        # consumers must NOT pay this: forcing the full sims table
        # breaks the sims->argmax agg pipelining and costs a
        # checkpoint of the largest intermediate for nothing
        # (paired 10x A/B: emb_kmeans +15-20%).
        sims = sims.transform(materialize)
    return _kmeans_argmax(sims), sims


IVF_LLOYD_NPROBE = 4


def knn_ivf_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN probing the ORACLE-CHECKED k-means partition —
    closes the trained-index certification gap: ``knn_ivf_trained``
    (MLlib) is rows-only because its training loop has no SQL twin,
    while here BOTH the index construction (``emb_kmeans``'s unrolled
    Lloyd rounds) and the probe are value-checked end to end.

    Scale: the corpus side reuses the k-means assignment (its list);
    each query fans to its nprobe best lists straight from the final
    round's similarity table (no extra centroid pass); candidates =
    probes × list members joined on the list id, exact cosine only on
    candidates, per-query top-k window. Same probe shape as
    ``knn_ivf`` — training changes recall, not the plan.
    """
    from pyspark.sql.window import Window

    from ..functions.vectors import dot as _dot

    assign, sims = _kmeans_final(spark, sf_dir, two_frame=True)
    e = _embs(spark, sf_dir)
    u = e.select("vec_id", unit_norm(F.col("embedding")).alias("u"))
    lists = assign.select(
        F.col("vec_id").alias("neighbor_id"), F.col("c").alias("bucket")
    ).join(
        u.select(
            F.col("vec_id").alias("neighbor_id"), F.col("u").alias("u_c")
        ),
        "neighbor_id",
    )
    wq = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("c")
    )
    probes = (
        sims.filter(F.col("vec_id") < N_QUERY_VECS)
        .withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= IVF_LLOYD_NPROBE)
        .select(
            F.col("vec_id").alias("query_id"), F.col("c").alias("bucket")
        )
        .join(
            u.select(
                F.col("vec_id").alias("query_id"), F.col("u").alias("u_q")
            ),
            "query_id",
        )
    )
    scored = (
        F.broadcast(probes)
        .join(lists, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos", quantize(_dot(F.col("u_q"), F.col("u_c")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= KNN_K)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


def emb_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality report for the oracle-checked k-means: per
    cluster, member count, mean cosine to the OWN centroid, mean
    cosine to the best OTHER centroid (the runner-up), and the
    separation margin — the silhouette-style evaluation that says
    whether K fits the data before anyone trains on the partition.

    Scale: reuses the final Lloyd round's (vec, cluster) similarity
    table (K rows per vector); the runner-up is a vec_id-keyed max
    over the K-1 non-assigned rows and the rollup is K-bounded.
    """
    assign, sims = _kmeans_final(spark, sf_dir, two_frame=True)
    a = assign.select("vec_id", F.col("c").alias("ac"), "sim")
    second = (
        sims.join(a.select("vec_id", "ac"), "vec_id")
        .filter(F.col("c") != F.col("ac"))
        .groupBy("vec_id")
        .agg(F.max("sim").alias("second"))
    )
    per_vec = a.join(second, "vec_id")
    return per_vec.groupBy(F.col("ac").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        quantize(F.avg("sim"), 6).alias("mean_own"),
        quantize(F.avg("second"), 6).alias("mean_second"),
        quantize(F.avg(F.col("sim") - F.col("second")), 6).alias(
            "separation"
        ),
    )


def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus frequency spectrum: least-squares
    slope/intercept/R^2 of log-frequency vs log-rank over the top-256
    vocabulary terms — the one-row lexical-health summary (a corpus
    whose slope drifts far from ~-1 is template-spam or truncated).

    Scale: the vocabulary is one term-keyed partial agg; the top-K is
    ``orderBy().limit(K)`` (TakeOrderedAndProject — per-partition
    top-K with a K-row merge, no global sort) and ranks are assigned
    window-free by the pack-and-posexplode idiom on the K-row result.
    The regression is a built-in JVM aggregate over K rows.
    """
    toks = _docs(spark, sf_dir).select(
        F.explode(words(F.col("text"))).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    top = vocab.orderBy(F.col("f").desc(), F.col("term")).limit(ZIPF_TOP_K)
    packed = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct((-F.col("f")).alias("neg_f"), F.col("term"))
            )
        ).alias("arr")
    )
    ranked = packed.select(F.posexplode("arr").alias("pos", "e")).select(
        (-F.col("e.neg_f")).cast("double").alias("f"),
        (F.col("pos") + 1).cast("double").alias("rk"),
    )
    # same constant-y guard as doc_heaps_fit: a uniform-frequency
    # top-K makes Syy = 0 and engine regr_r2 nondeterministic
    raw = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.min("f").alias("mn_f"),
        F.max("f").alias("mx_f"),
        F.regr_slope(F.log("f"), F.log("rk")).alias("sl"),
        F.regr_intercept(F.log("f"), F.log("rk")).alias("ic"),
        F.regr_r2(F.log("f"), F.log("rk")).alias("rr"),
    )
    y_flat = F.col("mn_f") == F.col("mx_f")
    return raw.select(
        "n_terms",
        F.when(y_flat, F.lit(0.0))
        .otherwise(quantize(F.col("sl"), 4))
        .alias("zipf_slope"),
        F.when(y_flat, quantize(F.log("mn_f"), 4))
        .otherwise(quantize(F.col("ic"), 4))
        .alias("ln_c"),
        F.when(y_flat, F.lit(1.0))
        .otherwise(quantize(F.col("rr"), 4))
        .alias("r2"),
    )


def doc_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law fit V = K·N^beta of vocabulary growth vs corpus
    size, sampled at 16 ingest checkpoints — the one-row projection
    of how much NEW vocabulary another 10x of data buys (tokenizer /
    dedup budget planning; the curve itself is
    ``corpus_vocab_growth``).

    Scale: checkpoints are doc_id thresholds from a 1-row max
    broadcast — cumulative token and first-appearance counts come
    from a 16-row broadcast nested-loop join + natural-key aggs, so
    there is NO unpartitioned cumsum window; the regression is a
    built-in aggregate over 16 points.
    """
    d = _docs(spark, sf_dir)
    mx = d.agg(F.max("doc_id").alias("m"))
    th = (
        spark.range(1, HEAPS_POINTS + 1)
        .select(F.col("id").alias("b"))
        .crossJoin(F.broadcast(mx))
        .select(
            "b",
            F.ceil(F.col("m") * F.col("b") / F.lit(HEAPS_POINTS))
            .cast("long")
            .alias("t"),
        )
    )
    ntok = d.select("doc_id", F.size(words(F.col("text"))).alias("n"))
    tcum = (
        ntok.join(F.broadcast(th), F.col("doc_id") <= F.col("t"))
        .groupBy("b")
        .agg(F.sum("n").cast("double").alias("n_tokens"))
    )
    first = (
        d.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("fd"))
    )
    vcum = (
        first.join(F.broadcast(th), F.col("fd") <= F.col("t"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("double").alias("vocab"))
    )
    pts = tcum.join(vcum, "b")
    # Degeneracy guard: on a SATURATED corpus every checkpoint has the
    # same vocabulary, so Syy = 0 exactly and regr_r2 is 0/0 — which
    # DuckDB's parallel covariance merge resolves NONDETERMINISTICALLY
    # (observed 1.0 / 0.04 / 0.34 across runs of the same query). The
    # constant-y case is detected by an EXACT min=max comparison (the
    # values are integer counts) and answered in closed form (flat
    # growth fits perfectly); constant-x is answered NULL. Same guard
    # in the SQL twin, so both engines take the same branch.
    raw = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.min("vocab").alias("mn_v"),
        F.max("vocab").alias("mx_v"),
        F.min("n_tokens").alias("mn_x"),
        F.max("n_tokens").alias("mx_x"),
        F.regr_slope(F.log("vocab"), F.log("n_tokens")).alias("sl"),
        F.regr_intercept(F.log("vocab"), F.log("n_tokens")).alias("ic"),
        F.regr_r2(F.log("vocab"), F.log("n_tokens")).alias("rr"),
    )
    x_flat = F.col("mn_x") == F.col("mx_x")
    y_flat = F.col("mn_v") == F.col("mx_v")
    return raw.select(
        "n_points",
        F.when(x_flat, F.lit(None).cast("double"))
        .when(y_flat, F.lit(0.0))
        .otherwise(quantize(F.col("sl"), 4))
        .alias("heaps_beta"),
        F.when(x_flat, F.lit(None).cast("double"))
        .when(y_flat, quantize(F.log("mn_v"), 4))
        .otherwise(quantize(F.col("ic"), 4))
        .alias("ln_k"),
        F.when(x_flat, F.lit(None).cast("double"))
        .when(y_flat, F.lit(1.0))
        .otherwise(quantize(F.col("rr"), 4))
        .alias("r2"),
    )


def corpus_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled data-mix plan (the multilingual-LM mixing
    rule, alpha=0.5): target share per source ∝ observed_tokens^alpha
    — boosting small sources, shrinking dominant ones — with the
    per-source epochs and capped sample rate needed to hit that mix
    at a one-corpus token budget. The prescriptive companion to
    ``corpus_mix_report`` (observed) and ``corpus_rebalance``
    (equal-share).

    Scale: one source-keyed partial agg + two 1-row broadcast totals;
    the plan is a pure narrow map on the per-source rollup (sources
    number thousands at most).
    """
    d = _docs(spark, sf_dir)
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA))).alias(
            "z"
        ),
    )
    j = per.crossJoin(F.broadcast(tot))
    tgt = F.pow(F.col("n_tokens").cast("double"), F.lit(MIX_ALPHA)) / F.col(
        "z"
    )
    epochs = tgt * F.col("total_tokens") / F.col("n_tokens")
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        quantize(
            F.col("n_tokens") / F.col("total_tokens"), 6
        ).alias("observed_share"),
        quantize(tgt, 6).alias("target_share"),
        quantize(epochs, 4).alias("epochs"),
        quantize(F.least(F.lit(1.0), epochs), 4).alias("sample_rate"),
    )


def doc_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation rollup: the (labeled_lang, pred_lang)
    confusion matrix of the n-gram/stopword heuristic with per-label
    recall shares — the QA view that catches a drifting classifier
    before it mis-routes a corpus (the per-doc view is
    ``doc_langid``).

    Scale: the scoring is the same narrow map as ``doc_langid``; the
    matrix is a (label, pred)-keyed partial agg (<= |langs|^2 rows)
    plus a label-total broadcast back.
    """
    scores = lang_score_cols()
    d = _docs(spark, sf_dir).select(
        F.col("lang").alias("labeled_lang"),
        *[scores[k].alias(k) for k in ["s_en", "s_de", "s_es", "s_fr", "s_zh"]],
    )
    cells = (
        d.withColumn("pred_lang", pred_lang_col())
        .groupBy("labeled_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    totals = cells.groupBy("labeled_lang").agg(
        F.sum("n_docs").alias("label_total")
    )
    return cells.join(F.broadcast(totals), "labeled_lang").select(
        "labeled_lang",
        "pred_lang",
        "n_docs",
        quantize(
            F.col("n_docs").cast("double") / F.col("label_total"), 6
        ).alias("label_share"),
    )


def corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per (lang, source) stratum: tokens
    per whitespace word, characters per token, and tokens per doc —
    the efficiency metric that decides whether a tokenizer (or a
    stratum's text) inflates the training token budget. Uses the
    BPE-ish regex tokenizer (`functions/text.TOKEN_PATTERN`) against
    the whitespace word baseline.

    Scale: one narrow scan computing three per-doc integers, one
    strata-bounded partial agg; ratios are exact integer sums with a
    single division each.
    """
    d = _docs(spark, sf_dir)
    w = F.size(words(F.col("text"))).cast("long")
    per = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(w).cast("long").alias("n_words"),
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
    )
    return per.select(
        "lang",
        "source",
        "n_docs",
        "n_words",
        "n_tokens",
        quantize(
            F.col("n_tokens").cast("double") / F.col("n_words"), 4
        ).alias("fertility"),
        quantize(
            F.col("n_chars").cast("double") / F.col("n_tokens"), 4
        ).alias("chars_per_token"),
        quantize(
            F.col("n_tokens").cast("double") / F.col("n_docs"), 4
        ).alias("tokens_per_doc"),
    )


def corpus_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity profile per source: token count, vocabulary
    size, type-token ratio, and hapax share (terms appearing exactly
    once in the stratum) — the classic richness metrics that flag
    template-generated or truncated strata before training.

    Scale: one (source, term) partial agg off the token explode
    (shingle-table shape), then a source-bounded rollup; ratios are
    exact integer counts with single divisions.
    """
    toks = _docs(spark, sf_dir).select(
        "source", F.explode(words(F.col("text"))).alias("term")
    )
    vocab = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("f")
    )
    per = vocab.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )
    return per.select(
        "source",
        "n_tokens",
        "vocab_size",
        "n_hapax",
        quantize(
            F.col("vocab_size").cast("double") / F.col("n_tokens"), 6
        ).alias("type_token_ratio"),
        quantize(
            F.col("n_hapax").cast("double") / F.col("vocab_size"), 6
        ).alias("hapax_share"),
    )


VOCAB_COVERAGE_GRID = (1000, 2000, 4000, 8000, 16000, 32000)


def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size design table: for each candidate vocab size k,
    the share of total token mass covered by the k most frequent
    terms (ties broken mass-neutrally, so the answer is EXACT and
    order-free) — the curve a tokenizer designer reads to pick vocab
    size, and the OOV mass a word-level model of size k would eat.

    Scale: term counts are one token partial agg (vocabulary-bounded);
    they collapse to a FREQUENCY-OF-FREQUENCY table (how many terms
    occur exactly c times — O(√N) rows by Heaps/Zipf), whose prefix
    sums run as a triangular self-join on that tiny table instead of
    a global-order window (audit-clean, no single-task sort); each
    grid k then brackets exactly one ff row and the coverage is exact
    integer arithmetic until the final division.
    """
    toks = _docs(spark, sf_dir).select(
        F.explode(words(F.col("text"))).alias("term")
    )
    counts = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ff = counts.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    above = (
        ff.alias("a")
        .join(ff.alias("b"), F.col("b.c") > F.col("a.c"), "left")
        .groupBy(F.col("a.c").alias("c"), F.col("a.m").alias("m"))
        .agg(
            F.coalesce(F.sum(F.col("b.m")), F.lit(0))
            .cast("long")
            .alias("terms_above"),
            F.coalesce(F.sum(F.col("b.m") * F.col("b.c")), F.lit(0))
            .cast("long")
            .alias("mass_above"),
        )
    )
    tot = ff.agg(
        F.sum(F.col("m") * F.col("c")).cast("long").alias("mass_total"),
        F.sum("m").cast("long").alias("vocab_total"),
    )
    grid = F.explode(
        F.array(*[F.lit(k) for k in VOCAB_COVERAGE_GRID])
    ).alias("k")
    ks = above.crossJoin(F.broadcast(tot)).select(
        grid, "c", "m", "terms_above", "mass_above",
        "mass_total", "vocab_total",
    )
    keff = F.least(F.col("k").cast("long"), F.col("vocab_total"))
    hit = ks.filter(
        (F.col("terms_above") < keff)
        & (keff <= F.col("terms_above") + F.col("m"))
    )
    covered = F.col("mass_above") + (keff - F.col("terms_above")) * F.col("c")
    return hit.select(
        F.col("k").cast("long").alias("vocab_size"),
        "vocab_total",
        quantize(
            covered.cast("double") / F.col("mass_total"), 6
        ).alias("mass_coverage"),
        quantize(
            1.0 - covered.cast("double") / F.col("mass_total"), 6
        ).alias("oov_mass"),
    )


def corpus_cross_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out language-model quality scoring (the CCNet recipe as
    an operator): train an add-one-smoothed unigram LM on the train
    split (`corpus_split`'s deterministic assignment), then score the
    held-out (val+test) tokens per source — cross-entropy in
    bits/token, perplexity, and OOV rate. A source whose held-out
    perplexity towers over the others is distributionally alien to
    the training mix (boilerplate, wrong language, markup) — the classic
    LM-based quality filter signal, computed WITHOUT an external
    model.

    Scale: the LM is a (term, count) partial agg over train tokens;
    held-out tokens left-join it on the natural term key (one
    token-keyed shuffle — unseen terms fall to the smoothing floor);
    the per-source rollup is strata-bounded. The model never
    materializes on the driver and is itself corpus-sized-bounded
    (vocabulary, not tokens).
    """
    d = _docs(spark, sf_dir)
    draw = ((F.col("doc_id") * KNUTH) % DRAW_MOD) / float(DRAW_MOD)
    toks = d.select(
        "source",
        (draw < SPLIT_TRAIN).alias("is_train"),
        F.explode(words(F.col("text"))).alias("term"),
    )
    cells = toks.groupBy("source", "is_train", "term").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return cross_perplexity_from_cells(cells)


def cross_perplexity_from_cells(cells: DataFrame) -> DataFrame:
    """The held-out scoring over a (source, is_train, term, n) count
    table — shared by the batch query and the streaming drain
    (`stream_cross_perplexity` accumulates the same vocabulary-
    bounded cells at ingest)."""
    lm = (
        cells.filter(F.col("is_train"))
        .groupBy(F.col("term").alias("term_l"))
        .agg(F.sum("n").cast("long").alias("c"))
    )
    tot = lm.agg(
        F.sum("c").cast("long").alias("n_train"),
        F.count(F.lit(1)).cast("long").alias("v_train"),
    )
    held = (
        cells.filter(~F.col("is_train"))
        .join(lm, F.col("term") == F.col("term_l"), "left")
        .crossJoin(F.broadcast(tot))
    )
    # add-one smoothing over V train types + one UNK bucket
    p = (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double") / (
        F.col("n_train") + F.col("v_train") + 1
    ).cast("double")
    per = held.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_heldout_tokens"),
        F.sum(F.when(F.col("c").isNull(), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.sum(-F.col("n") * F.log2(p)).alias("bits"),
    )
    h = F.col("bits") / F.col("n_heldout_tokens")
    return per.select(
        "source",
        "n_heldout_tokens",
        quantize(
            F.col("n_oov").cast("double") / F.col("n_heldout_tokens"),
            6,
        ).alias("oov_rate"),
        quantize(h, 4).alias("cross_entropy_bits"),
        quantize(F.pow(F.lit(2.0), quantize(h, 4)), 4).alias(
            "perplexity"
        ),
    )


def corpus_length_lognormal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lognormal fit + normality check of document lengths per
    source: method-of-moments (μ, σ) of ln(n_chars) and the
    Jarque–Bera statistic JB = n/6·(g₁² + g₂²/4) on the log-lengths —
    natural text lengths are canonically lognormal, so a source whose
    log-lengths FAIL normality (JB above the χ²₂ 95% fence 5.991) is
    flagged as truncated, templated, or mixed-regime before it skews
    packing and curriculum decisions downstream.

    Scale: one narrow map (ln) + a per-source partial agg of four
    power sums — the mergeable-moments shape; every statistic is a
    closed-form expression over the five per-source scalars. Both
    engines write the central-moment expansions in the same order so
    the doubles agree to well under the output quantum.
    """
    d = _docs(spark, sf_dir).filter(F.col("n_chars") > 0)
    x = F.log(F.col("n_chars").cast("double"))
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    g1 = m3 / F.sqrt(m2 * m2 * m2)
    g2 = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
    ok = (F.col("n") > 2) & (m2 > 0)
    return per.select(
        "source",
        "n",
        quantize(mu, 4).alias("mu_log"),
        F.when(
            F.col("n") > 1,
            F.when(m2 >= 0, quantize(F.sqrt(m2 * n / (n - 1)), 4)),
        ).alias("sigma_log"),
        F.when(ok, quantize(jb, 4)).alias("jb_stat"),
        F.when(ok, quantize(jb, 4) < F.lit(5.991)).alias(
            "lognormal_plausible"
        ),
    )


def doc_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease profile per source: mean words/sentence,
    syllables/word (vowel-group proxy — the standard heuristic when
    no dictionary is allowed), and the Flesch score 206.835 −
    1.015·(W/S) − 84.6·(Syl/W) — the readability screen that
    separates prose from listings/code/boilerplate at a glance and
    complements the Gopher/C4 rule family with a graded score.

    Scale: three regexp counts per doc (narrow map, no explode), one
    source-bounded rollup of exact integer sums; the score is a
    closed form over the rollup, so both engines derive identical
    doubles from identical integers.
    """
    d = _docs(spark, sf_dir)
    words_n = F.size(
        F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    ).cast("long")
    sents_n = F.greatest(
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")),
        F.lit(1),
    ).cast("long")
    syls_n = F.size(
        F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("long")
    per_doc = d.select(
        "source",
        words_n.alias("w"),
        sents_n.alias("s"),
        syls_n.alias("y"),
    ).filter(F.col("w") > 0)
    per = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("sw"),
        F.sum("s").cast("long").alias("ss"),
        F.sum("y").cast("long").alias("sy"),
    )
    wps = F.col("sw").cast("double") / F.col("ss")
    spw = F.col("sy").cast("double") / F.col("sw")
    flesch = 206.835 - 1.015 * wps - 84.6 * spw
    return per.select(
        "source",
        "n_docs",
        quantize(wps, 4).alias("words_per_sentence"),
        quantize(spw, 4).alias("syllables_per_word"),
        quantize(flesch, 4).alias("flesch_score"),
    )


BURST_MIN_CF = 20
BURST_TOP_K = 50


def corpus_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church–Gale term burstiness: collection frequency over
    document frequency per term — a term that fires many times in few
    docs (cf/df ≫ 1) is topical or template chrome, while cf/df ≈ 1
    marks evenly-spread function words; the top-burstiness list among
    frequent terms is the nav-text/boilerplate VOCABULARY the
    window-level screens (`corpus_boilerplate_rate`) count but don't
    name.

    Scale: one (term, doc) distinct + term rollup off the token
    explode (shingle-table shape, vocabulary-bounded); the top-k is
    `orderBy().limit()` — TakeOrderedAndProject, per-partition top-k
    then a k-row merge, never a global sort; exact integer ratio with
    a deterministic (burstiness, term) tie-break.
    """
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(words(F.col("text"))).alias("term")
    )
    per = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("cf"),
        F.count_distinct("doc_id").cast("long").alias("df"),
    )
    scored = per.filter(F.col("cf") >= BURST_MIN_CF).select(
        "term",
        "cf",
        "df",
        quantize(
            F.col("cf").cast("double") / F.col("df"), 6
        ).alias("burstiness"),
    )
    return scored.orderBy(
        F.col("burstiness").desc(), F.col("term")
    ).limit(BURST_TOP_K)


LAYOUT_TARGET_BYTES = 128 * 1024 * 1024  # lakehouse file-size target


def corpus_partition_layout_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout advisor for writing the corpus out partitioned
    by (lang, source): per partition — bytes (UTF-8 text mass), the
    file count at the 128 MB lakehouse target, skew vs the mean
    partition, and a small-files flag (a partition whose whole
    payload is a fraction of one target file creates the classic
    many-tiny-files problem; the flag says coalesce it with
    neighbors). The planning read before `df.write.partitionBy(...)`.

    Scale: one (lang, source) partial agg of exact byte counts off a
    narrow map; the mean is a 1-row broadcast; the plan is strata-
    bounded arithmetic.
    """
    d = _docs(spark, sf_dir)
    per = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length(F.encode(F.col("text"), "UTF-8")))
        .cast("long")
        .alias("part_bytes"),
    )
    tot = per.agg(
        F.sum("part_bytes").cast("long").alias("total_bytes"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
    )
    j = per.crossJoin(F.broadcast(tot))
    mean_b = F.col("total_bytes").cast("double") / F.col("n_parts")
    n_files = F.ceil(
        F.col("part_bytes").cast("double") / F.lit(float(LAYOUT_TARGET_BYTES))
    ).cast("long")
    return j.select(
        "lang",
        "source",
        "n_docs",
        "part_bytes",
        n_files.alias("n_files_at_target"),
        quantize(F.col("part_bytes").cast("double") / mean_b, 4).alias(
            "skew_vs_mean"
        ),
        (
            F.col("part_bytes")
            < F.lit(LAYOUT_TARGET_BYTES // 4)
        ).alias("small_files_risk"),
    )


def doc_charclass_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per language: shares of ASCII
    letters, digits, whitespace, ASCII punctuation, and everything
    else — the cheap script-hygiene screen that catches mislabeled
    languages, markup floods, and binary-in-text long before a
    language-ID model runs (a 'de' stratum that is 30% non-ASCII-
    other is fine; an 'en' one is mojibake).

    Scale: five regexp-strip length expressions per doc (narrow map,
    one pass, no explode) folding into a languages-bounded rollup of
    exact integer counts.
    """
    d = _docs(spark, sf_dir)
    per = charclass_cells(d)
    return charclass_report(per)


def charclass_cells(d: DataFrame) -> DataFrame:
    """The per-language counter rollup — shared by the batch query
    and the streaming ingest (`stream_charclass_mix` accumulates the
    same languages-bounded mergeable sums at ingest)."""
    low = F.lower(F.col("text"))

    def n_of(pattern: str) -> Column:
        return F.length(
            F.regexp_replace(low, pattern, "")
        ).cast("long")

    total = F.length(low).cast("long")
    alpha = total - n_of("[a-z]")
    digit = total - n_of("[0-9]")
    space = total - n_of(r"\s")
    punct = total - n_of(r"[!-/:-@\[-`{-~]")
    per_doc = d.select(
        "lang",
        total.alias("t"),
        alpha.alias("a"),
        digit.alias("g"),
        space.alias("w"),
        punct.alias("p"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("t").cast("long").alias("n_chars"),
        F.sum("a").cast("long").alias("na"),
        F.sum("g").cast("long").alias("ng"),
        F.sum("w").cast("long").alias("nw"),
        F.sum("p").cast("long").alias("np"),
    )


def charclass_report(per: DataFrame) -> DataFrame:
    t = F.col("n_chars").cast("double")

    def share(c: Column) -> Column:
        return F.when(
            F.col("n_chars") > 0, quantize(c.cast("double") / t, 6)
        )

    other = (
        F.col("n_chars")
        - F.col("na")
        - F.col("ng")
        - F.col("nw")
        - F.col("np")
    )
    return per.select(
        "lang",
        "n_docs",
        "n_chars",
        share(F.col("na")).alias("alpha_share"),
        share(F.col("ng")).alias("digit_share"),
        share(F.col("nw")).alias("space_share"),
        share(F.col("np")).alias("punct_share"),
        share(other).alias("other_share"),
    )


def corpus_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-weighted vocabulary richness per source: Yule's
    characteristic K = 1e4·(Σf² − N)/N² and Simpson's repeat-rate
    D = (Σf² − N)/(N(N−1)) over the term-frequency spectrum — unlike
    `corpus_lexical_diversity`'s type-token ratio (which collapses as
    N grows), K and D are length-invariant, so they compare strata of
    very different sizes fairly; a templated stratum shows an order-
    of-magnitude higher K than natural prose.

    Scale: the same (source, term) partial agg as the diversity
    profile, rolled up to one row per source; Σf² accumulates in
    decimal(38,0) (hugeint in the twin) so no overflow at corpus
    scale, and K/D are single exact-integer-derived divisions.
    """
    toks = _docs(spark, sf_dir).select(
        "source", F.explode(words(F.col("text"))).alias("term")
    )
    vocab = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    return yule_from_vocab(vocab)


def yule_from_vocab(vocab: DataFrame) -> DataFrame:
    """The richness rollup over (source, term, f) counts — shared by
    the batch query and the streaming drain (`stream_yule_k`
    accumulates the same vocab-bounded counts at ingest)."""
    per = vocab.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(F.col("f") * F.col("f"))
        .cast("decimal(38,0)")
        .alias("sf2"),
    )
    n = F.col("n_tokens").cast("double")
    rep = F.col("sf2").cast("double") - n
    return per.select(
        "source",
        "n_tokens",
        "vocab_size",
        quantize(F.lit(1e4) * rep / (n * n), 4).alias("yule_k"),
        F.when(
            F.col("n_tokens") > 1, quantize(rep / (n * (n - 1)), 6)
        ).alias("simpson_d"),
    )


def multimodal_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-distribution entropy per binary payload (Shannon bits over
    the 16 high-nibble bins) — the codec-free compressibility /
    corruption screen for opaque media columns: encrypted or
    compressed payloads sit near 4 bits, structured text far below.
    Composes the ``multimodal_features`` histogram with the entropy
    family (`doc_char_entropy` is the text-side twin).

    Scale: one Arrow-batched feature scan + a 16-rows-per-doc narrow
    explode and doc-keyed partial agg; shares are 1e-6-quantized in
    both engines before the entropy sum, which quantizes at 1e-6 too.
    """
    from ..operators.multimodal import payload_byte_features

    d = _docs(spark, sf_dir).withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    ex = payload_byte_features(d).select(
        "doc_id", F.explode("features").alias("share")
    )
    term = F.when(
        F.col("share") > 0, F.col("share") * F.log2("share")
    ).otherwise(F.lit(0.0))
    return ex.groupBy("doc_id").agg(
        quantize(-F.sum(term), 6).alias("byte_entropy_bits"),
        F.sum((F.col("share") > 0).cast("long"))
        .cast("long")
        .alias("n_used_bins"),
    )


def corpus_quality_length_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the quality score just a length proxy? Pearson correlation
    between doc length and the heuristic quality score, overall and
    per language — a |r| near 1 means the multi-signal score
    collapses to "long docs are good docs" and the gate needs
    decorrelating (the score-vs-ensemble calibration is 33ap; this is
    score-vs-CONFOUNDER).

    Scale: both variables live on exact integer grids, so every
    correlation moment (Σx, Σy, Σxy, Σx², Σy²) is an EXACT integer
    from ONE lang-keyed partial agg (decimal(38,0)); the overall row
    re-aggregates the per-lang moments (langs-bounded); r is one
    final double expression per row.
    """
    d = _docs(spark, sf_dir)
    base = d.select(
        "lang",
        F.col("n_chars").cast("long").alias("x"),
        F.round(quality_score_col() * 10000).cast("long").alias("y"),
    )
    g = base.groupBy("lang").agg(*corr_moment_aggs())
    return corr_from_moments(g)


def corr_moment_aggs() -> list:
    """The six mergeable correlation moments over (x, y) — shared by
    the batch grouping and the streaming ingest fold
    (`stream_quality_length_corr` keeps exactly these per lang:
    langs × 6 numbers of state)."""
    return [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("syy"),
    ]


def corr_from_moments(g: DataFrame) -> DataFrame:
    """Per-lang + ALL Pearson rows from a per-lang moments table."""
    allg = g.agg(
        F.lit("ALL").alias("lang"),
        F.sum("n").cast("long").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxy").alias("sxy"),
        F.sum("sxx").alias("sxx"),
        F.sum("syy").alias("syy"),
    )
    u = g.unionByName(allg)
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r_ok = (vx > 0) & (vy > 0)
    return u.select(
        "lang",
        "n",
        F.when(r_ok, quantize(cov_n / F.sqrt(vx * vy), 6)).alias(
            "pearson_r"
        ),
    )


def corpus_quality_length_spearman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between doc length and quality score
    — the monotone-relationship reading beside 33ay's Pearson (a
    heavy-tailed length distribution can deflate Pearson while the
    ranks stay near-perfectly ordered; agreeing r and ρ means the
    confounding is linear, not just monotone).

    Scale: both variables live on bounded grids, so midranks are
    EXACT integers (2·midrank = 2·cum + m + 1, the Kruskal idiom)
    from VALUE-bounded distinct histograms (V² broadcast self-joins,
    never docs²); Spearman is then Pearson over the exact integer
    midrank pairs — all moments in decimal(38,0), one final double.
    """
    d = _docs(spark, sf_dir)
    # per-doc (x, y) grid values, materialized once: both midrank
    # histograms and the ranked join read this table, and composed as
    # plans each reference re-ran the text-scoring scan (census: 7
    # parquet scans); the value-bounded histograms materialize too
    # (each feeds both self-join sides and the rank join)
    base = d.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("x"),
        F.round(quality_score_col() * 10000).cast("long").alias("y"),
    ).transform(materialize)

    def midranks(col: str) -> DataFrame:
        hist = base.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("m")
        ).transform(materialize)
        a = hist.select(
            F.col(col).alias("v"), F.col("m").alias("mv")
        )
        b = hist.select(F.col(col).alias("vb"), F.col("m").alias("mb"))
        cum = (
            a.join(F.broadcast(b), F.col("vb") < F.col("v"))
            .groupBy("v", "mv")
            .agg(F.sum("mb").cast("long").alias("c"))
            .select(
                F.col("v").alias(col),
                (2 * F.col("c") + F.col("mv") + 1).alias(f"r2_{col}"),
            )
        )
        return hist.join(F.broadcast(cum), col, "left").select(
            col,
            F.coalesce(F.col(f"r2_{col}"), F.col("m") + 1).alias(
                f"r2_{col}"
            ),
        )

    ranked = base.join(F.broadcast(midranks("x")), "x").join(
        F.broadcast(midranks("y")), "y"
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("r2_x").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("r2_y").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum((F.col("r2_x") * F.col("r2_y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("r2_x") * F.col("r2_x")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("r2_y") * F.col("r2_y")).cast("decimal(38,0)"))
        .cast("double")
        .alias("syy"),
    )
    cov_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "n",
        F.when(
            (vx > 0) & (vy > 0),
            quantize(cov_n / F.sqrt(vx * vy), 6),
        ).alias("spearman_rho"),
    )


def corpus_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena profile per language: vocabulary size, terms
    occurring exactly once, the hapax rate, and the token-mass share
    they carry — the classic lexical-statistics read beside Zipf/Heaps
    (a high hapax rate in a lang flags OCR noise, tokenizer
    mismatches, or genuinely open vocabulary — each changing the
    vocab-budget answer).

    Scale: (lang, term) frequencies are one natural-key partial agg;
    everything after is a langs-bounded rollup of exact integers.
    """
    from ..functions.hashing import words

    d = _docs(spark, sf_dir)
    lt = (
        d.select("lang", F.explode(words(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    return hapax_from_vocab(lt)


def hapax_from_vocab(lt: DataFrame) -> DataFrame:
    """The hapax rollup over (lang, term, f) counts — shared by the
    batch query and the streaming drain (`stream_hapax` accumulates
    the same vocab-bounded counts at ingest)."""
    return lt.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum((F.col("f") == 1).cast("int")).cast("long").alias("n_hapax"),
        quantize(
            F.sum((F.col("f") == 1).cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_rate"),
        F.sum("f").cast("long").alias("n_tokens"),
        quantize(
            F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("double")
            / F.sum("f"),
            6,
        ).alias("hapax_token_share"),
    )


HUB_TOPK = 10


def emb_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the kNN graph: the in-degree distribution of
    neighbor lists — hub vectors that appear as a neighbor of MANY
    points are the classic high-dimensional ANN pathology (they
    crowd out true neighbors and flatten recall; the graph-side
    companion to `emb_cosine_hist`'s pairwise view). Emits the top
    hubs with their in-degree and the corpus skew summary.

    Scale: composes the adaptive-band kNN graph (no new pairwise
    stage); in-degree = ONE db-keyed partial agg of the B·k-row edge
    list; the skew rollup is 1 row and the hub list is
    TakeOrderedAndProject.
    """
    g = knn_graph(spark, sf_dir)
    indeg = g.groupBy(F.col("db").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("long").alias("in_degree")
    )
    stats = indeg.agg(
        F.count(F.lit(1)).cast("long").alias("n_referenced"),
        F.max("in_degree").alias("max_in_degree"),
        quantize(F.avg("in_degree"), 4).alias("mean_in_degree"),
    )
    top = (
        indeg.orderBy(F.col("in_degree").desc(), "vec_id")
        .limit(HUB_TOPK)
    )
    return top.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        "in_degree",
        "n_referenced",
        "max_in_degree",
        "mean_in_degree",
        quantize(
            F.col("in_degree").cast("double") / F.col("mean_in_degree"),
            4,
        ).alias("hubness_ratio"),
    )


def corpus_lang_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between language
    unigram distributions — which languages' corpora actually share
    vocabulary mass (low JS between two langs predicts langid
    confusion and cross-lingual contamination; the distributional
    companion to the per-source drift of
    `corpus_source_divergence`).

    Scale: (lang, term) frequencies are one natural-key partial agg;
    the pair join is keyed on term (compare volume Σ langs-per-term²,
    dims-bounded per term); observed-support JS with 1e-9-quantized
    probabilities, langs²-bounded rollup.
    """
    from ..functions.hashing import words

    d = _docs(spark, sf_dir)
    lt = (
        d.select("lang", F.explode(words(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("f"))
        .transform(materialize)
    )
    tot = lt.groupBy("lang").agg(F.sum("f").alias("n"))
    a = lt.join(tot, "lang").select(
        "term",
        F.col("lang").alias("la"),
        quantize(F.col("f") / F.col("n"), 9).alias("p"),
    )
    b = lt.join(tot, "lang").select(
        "term",
        F.col("lang").alias("lb"),
        quantize(F.col("f") / F.col("n"), 9).alias("q"),
    )
    j = a.join(b, "term").filter(F.col("la") < F.col("lb"))
    m = (F.col("p") + F.col("q")) / 2
    kl_p = F.when(F.col("p") > 0, F.col("p") * F.log2(F.col("p") / m)).otherwise(
        F.lit(0.0)
    )
    kl_q = F.when(F.col("q") > 0, F.col("q") * F.log2(F.col("q") / m)).otherwise(
        F.lit(0.0)
    )
    return j.groupBy(
        F.col("la").alias("lang_a"), F.col("lb").alias("lang_b")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
        quantize(F.sum((kl_p + kl_q) / 2), 6).alias("js_bits"),
    )


NEYMAN_BUDGET = 100


def corpus_sample_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling plan: per language stratum,
    the allocation n_h ∝ N_h·S_h that minimizes the variance of the
    estimated mean quality under a fixed total budget — the
    survey-statistics upgrade of proportional allocation
    (`corpus_sample_stratified` keeps fixed rates; this spends the
    budget where the strata are big AND internally varied).

    Scale: per-stratum moments are ONE lang-keyed partial agg of
    exact 1e-4-grid integer sums (Σq, Σq² in decimal(38,0)); the
    allocation arithmetic runs on the langs-bounded table with the
    total broadcast back; only S_h touches a sqrt.
    """
    d = _docs(spark, sf_dir)
    q = d.select(
        "lang",
        F.round(quality_score_col() * 10000).cast("long").alias("qi"),
    )
    g = q.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("qi").cast("decimal(38,0)")).cast("double").alias("s"),
        F.sum((F.col("qi") * F.col("qi")).cast("decimal(38,0)"))
        .cast("double")
        .alias("qq"),
    )
    var = (F.col("qq") - F.col("s") * F.col("s") / F.col("n_docs")) / (
        F.col("n_docs") - 1
    )
    sd = F.sqrt(F.greatest(var, F.lit(0.0))) / 10000.0
    g2 = g.select(
        "lang",
        "n_docs",
        quantize(sd, 6).alias("stratum_sd"),
        (F.col("n_docs") * quantize(sd, 6)).alias("wgt"),
    )
    tot = g2.agg(F.sum("wgt").alias("wtot"))
    return g2.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "stratum_sd",
        quantize(F.col("wgt") / F.col("wtot"), 6).alias("alloc_share"),
        F.floor(
            quantize(F.col("wgt") / F.col("wtot"), 6) * NEYMAN_BUDGET
            + 0.5
        )
        .cast("long")
        .alias("n_alloc"),
    )


def emb_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN intrinsic-dimension estimate of the embedding space
    (Facco et al. 2017): d̂ = N / Σ ln(r₂/r₁) over each vector's two
    nearest-neighbor distances — the geometry audit that says how
    many effective dimensions the corpus actually occupies (a d̂ far
    below the ambient dim means the space is compressible; near it,
    PQ/IVF budgets can't cheat). Composes the adaptive-band kNN
    graph, so no new pairwise stage.

    Scale: r₁/r₂ come from the existing `knn_graph` edges (B·k rows
    per node); distances are exact unit-chord sqrt(2(1−cos)) on
    1e-6-grid cosines; one node-keyed join + ONE 1-row agg. Nodes
    with a zero first distance (exact duplicates) or missing rank-2
    drop — both conditions explicit in both engines.
    """
    g = knn_graph(spark, sf_dir)
    r1 = g.filter(F.col("rk") == 1).select(
        F.col("da").alias("node"), F.col("cos").alias("c1")
    )
    r2 = g.filter(F.col("rk") == 2).select(
        F.col("da").alias("node"), F.col("cos").alias("c2")
    )
    d1 = F.sqrt(2.0 * (1.0 - F.col("c1")))
    d2 = F.sqrt(2.0 * (1.0 - F.col("c2")))
    j = (
        r1.join(r2, "node")
        .filter((F.col("c1") < 1.0) & (F.col("c2") <= F.col("c1")))
        .select(F.log(d2 / d1).alias("ln_mu"))
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        quantize(F.avg("ln_mu"), 6).alias("mean_ln_ratio"),
        quantize(
            F.count(F.lit(1)) / F.sum("ln_mu"), 3
        ).alias("intrinsic_dim"),
    )


def corpus_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass inequality across documents: the Gini coefficient
    of per-doc token counts — the packing/budget read ("do a few huge
    docs dominate the token mass?") that decides whether shard
    packing needs the oversized-split path at all.

    Scale: computed EXACTLY via the counts-of-counts histogram — the
    mean-absolute-difference double sum runs over V² DISTINCT token
    counts (bounded by max doc length, never docs²) via a broadcast
    self-join of the tiny histogram; all-integer terms, one final
    division.
    """
    per = doc_tokens(spark, sf_dir).select("n_tokens")
    hist = per.groupBy("n_tokens").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    return gini_from_hist(hist)


def gini_from_hist(hist: DataFrame) -> DataFrame:
    """The Gini computation over an (n_tokens, m) counts-of-counts
    histogram — shared by the batch query and the streaming drain
    (`stream_token_gini` accumulates the same max-doc-length-bounded
    histogram at ingest)."""
    a = hist.select(
        F.col("n_tokens").alias("va"), F.col("m").alias("ma")
    )
    b = hist.select(
        F.col("n_tokens").alias("vb"), F.col("m").alias("mb")
    )
    mad_sum = a.crossJoin(F.broadcast(b)).agg(
        F.sum(
            F.col("ma") * F.col("mb") * F.abs(F.col("va") - F.col("vb"))
        ).alias("s")
    )
    tot = hist.agg(
        F.sum("m").cast("long").alias("n_docs"),
        F.sum(F.col("m") * F.col("n_tokens"))
        .cast("long")
        .alias("total_tokens"),
    )
    return mad_sum.crossJoin(F.broadcast(tot)).select(
        "n_docs",
        "total_tokens",
        quantize(
            F.col("total_tokens").cast("double") / F.col("n_docs"), 4
        ).alias("mean_tokens"),
        quantize(
            F.col("s").cast("double")
            / (
                2.0
                * F.col("n_docs").cast("double")
                * F.col("total_tokens").cast("double")
            ),
            6,
        ).alias("gini"),
    )


IVF_CURVE_NPROBES = (1, 2, 4)


def knn_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve: hit-rate against the brute-force truth as a
    function of nprobe (1, 2, 4 probed lists) — THE accuracy/cost
    dial of an IVF deployment, measured instead of guessed
    (`knn_recall_report` scores the deployed settings; this shows
    what each extra probe buys so the setting is chosen on evidence).

    Scale: three IVF plans share the centroid machinery; each arm's
    truth join is a left-semi over queries×k rows — everything after
    the searches is tiny.
    """
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    # queries x k rows each, materialized once: the truth table feeds
    # all three arms and each arm's result feeds both its hit join and
    # its count agg — composed as plans the query ran 15 Python
    # retrieval stages (census) for the 4 searches it actually needs.
    # The 4 independent searches checkpoint as CONCURRENT jobs so the
    # dedup does not serialize work the lazy plan ran in parallel.
    from ..operators.persist import materialize_all

    bf, *aps = materialize_all(
        [knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")]
        + [
            cosine_topk_ivf(
                q, e, k=KNN_K, n_centroids=IVF_CENTROIDS, nprobe=np_
            ).select("query_id", "neighbor_id")
            for np_ in IVF_CURVE_NPROBES
        ]
    )
    out = None
    for np_, ap in zip(IVF_CURVE_NPROBES, aps):
        hits = ap.join(bf, ["query_id", "neighbor_id"], "left_semi")
        arm = (
            ap.agg(
                F.countDistinct("query_id")
                .cast("long")
                .alias("n_queries"),
                F.count(F.lit(1)).cast("long").alias("n_retrieved"),
            )
            .crossJoin(
                F.broadcast(
                    hits.agg(
                        F.count(F.lit(1)).cast("long").alias("n_hits")
                    )
                )
            )
            .select(
                F.lit(np_).cast("long").alias("nprobe"),
                "n_queries",
                "n_retrieved",
                "n_hits",
                quantize(
                    F.col("n_hits").cast("double")
                    / F.col("n_retrieved"),
                    6,
                ).alias("hit_rate"),
            )
        )
        out = arm if out is None else out.unionByName(arm)
    return out


def corpus_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit between the documents table and its
    embedding side-table: row counts, matched ids, and orphans on
    each side — the join-health gate a pipeline runs before any
    doc⋈embedding stage (a silent orphan population skews every
    downstream per-doc metric and wastes ANN compute on unreachable
    vectors).

    Scale: two id projections, ONE full-outer join on the id key
    (AQE-decided), one 1-row count rollup — all exact integers.
    """
    d = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"))
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.lit(1).alias("has_vec")
    )
    j = d.withColumn("has_doc", F.lit(1)).join(e, "id", "full_outer")
    return j.agg(
        F.sum(F.coalesce("has_doc", F.lit(0)))
        .cast("long")
        .alias("n_docs"),
        F.sum(F.coalesce("has_vec", F.lit(0)))
        .cast("long")
        .alias("n_vecs"),
        F.sum(
            (
                F.col("has_doc").isNotNull()
                & F.col("has_vec").isNotNull()
            ).cast("int")
        )
        .cast("long")
        .alias("n_matched"),
        F.sum(F.col("has_vec").isNull().cast("int"))
        .cast("long")
        .alias("docs_without_vec"),
        F.sum(F.col("has_doc").isNull().cast("int"))
        .cast("long")
        .alias("vecs_without_doc"),
        (
            F.sum(F.col("has_vec").isNull().cast("int")) == 0
        ).alias("docs_fully_covered"),
    )


def knn_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality scorecard: for each approximate method (LSH
    buckets, IVF probes), how many of its returned neighbors appear
    in the brute-force top-k truth set — the recall/precision audit
    that turns "the ANN tier works" from a unit-test claim into a
    first-class, driver-checked query (the eval-as-operator pattern,
    like `events_forecast_scorecard`).

    Scale: composes three existing ANN plans; the truth join is a
    left-semi on (query, neighbor) — result tables are queries×k
    rows, so every stage after the ANN searches is tiny.
    """
    # queries x k rows each, materialized once: truth feeds both
    # method arms and each arm's result feeds its hit join AND its
    # count agg — composed as plans the report ran 6 Python retrieval
    # stages (census) for the 3 searches it needs; the 3 independent
    # searches checkpoint as concurrent jobs (see materialize_all)
    from ..operators.persist import materialize_all

    bf, sel_lsh, sel_ivf = materialize_all([
        knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id"),
        knn_lsh(spark, sf_dir).select("query_id", "neighbor_id"),
        knn_ivf(spark, sf_dir).select("query_id", "neighbor_id"),
    ])

    def score(name: str, sel: DataFrame) -> DataFrame:
        hits = sel.join(bf, ["query_id", "neighbor_id"], "left_semi")
        return (
            sel.agg(
                F.countDistinct("query_id").cast("long").alias(
                    "n_queries"
                ),
                F.count(F.lit(1)).cast("long").alias("n_retrieved"),
            )
            .crossJoin(
                F.broadcast(
                    hits.agg(
                        F.count(F.lit(1)).cast("long").alias("n_hits")
                    )
                )
            )
            .select(
                F.lit(name).alias("method"),
                "n_queries",
                "n_retrieved",
                "n_hits",
                quantize(
                    F.col("n_hits").cast("double")
                    / F.col("n_retrieved"),
                    6,
                ).alias("hit_rate"),
            )
        )

    return score("lsh", sel_lsh).unionByName(score("ivf", sel_ivf))


MM_ENTROPY_MIN = 1.0  # bits; below ⇒ near-constant bytes (padding/truncation)


def multimodal_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-column integrity report per (fake) format: payload count,
    suspect count/rate (zero-byte OR byte-entropy below 1 bit — the
    all-padding / truncated-file signature), and the entropy/size
    envelope — the codec-free triage a 100 TB media ingest prints
    before paying for real decode (41 gives per-file metadata, 42e
    gives per-file entropy; this is the per-format verdict rollup).

    Scale: composes two doc_id-keyed signal tables (AQE-decided
    co-partitioned join), then ONE formats-bounded rollup; suspect
    logic is exact comparisons on grid-quantized entropy.
    """
    meta = multimodal_meta(spark, sf_dir).select(
        "doc_id", "n_bytes", "fake_format"
    )
    ent = multimodal_entropy(spark, sf_dir).select(
        "doc_id", "byte_entropy_bits"
    )
    j = meta.join(ent, "doc_id")
    suspect = (F.col("n_bytes") == 0) | (
        F.col("byte_entropy_bits") < MM_ENTROPY_MIN
    )
    return j.groupBy("fake_format").agg(
        F.count(F.lit(1)).cast("long").alias("n_payloads"),
        F.sum(suspect.cast("int")).cast("long").alias("n_suspect"),
        quantize(
            F.sum(suspect.cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("suspect_rate"),
        quantize(F.avg("byte_entropy_bits"), 4).alias("mean_entropy"),
        F.min("n_bytes").alias("min_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )


def corpus_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional drift per source: Jensen-Shannon divergence (in
    bits) between each source's unigram distribution and the corpus
    distribution — the quantitative "how off-distribution is this
    source" read behind mix planning and contamination triage
    (`corpus_mix_plan` sets shares; this says which source's CONTENT
    deviates).

    Scale: one (source, term) partial agg + a term-keyed corpus agg
    joined back on the term natural key; the JS sum is a
    source-bounded rollup. Probabilities are 1e-9-quantized in both
    engines before the entropy terms, the sum quantizes at 1e-6.
    """
    toks = _docs(spark, sf_dir).select(
        "source", F.explode(words(F.col("text"))).alias("term")
    )
    st = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("f")
    )
    s_tot = st.groupBy("source").agg(F.sum("f").alias("s_n"))
    c_term = st.groupBy("term").agg(F.sum("f").alias("cf"))
    c_tot = c_term.agg(F.sum("cf").alias("c_n"))
    j = (
        st.join(F.broadcast(s_tot), "source")
        .join(c_term, "term")
        .crossJoin(F.broadcast(c_tot))
    )
    p = quantize(F.col("f") / F.col("s_n"), 9)
    q = quantize(F.col("cf") / F.col("c_n"), 9)
    m = (p + q) / 2
    # terms absent from the source contribute only on the corpus side:
    # handled by summing the q*log2(q/m) part over ALL corpus terms is
    # unnecessary here because every corpus term present in the source
    # covers p>0; terms the source lacks enter via the corpus-only
    # remainder, computed from the complement mass in closed form is
    # NOT possible term-free — so this reports the divergence over the
    # source's support plus the corpus-side tail term, the standard
    # "observed-support JS" screening statistic (identical formula in
    # both engines, so the check is exact parity).
    kl_p = F.when(p > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
    kl_q = F.when(q > 0, q * F.log2(q / m)).otherwise(F.lit(0.0))
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        quantize(F.sum((kl_p + kl_q) / 2), 6).alias("js_bits"),
    )


def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiler over the documents corpus: per column, row
    count, null count, empty-string count, distinct cardinality, and
    min/max rendered as strings — the schema-health audit every
    ingest run prints before anything else trusts the table
    (completeness + cardinality drift catches broken upstream
    extractors long before content checks do).

    Scale: ONE wide aggregate computes every per-column statistic in
    a single scan (count_distinct partial-aggs per column; swap in
    approx_count_distinct at 100 TB, same shape); the per-column
    unpivot is a stack over the 1-row result.
    """
    d = _docs(spark, sf_dir)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"nul_{c}"),
            F.sum(
                (F.col(c).cast("string") == "").cast("long")
            ).alias(f"emp_{c}"),
            F.countDistinct(c).alias(f"dst_{c}"),
            F.min(F.col(c).cast("string")).alias(f"min_{c}"),
            F.max(F.col(c).cast("string")).alias(f"max_{c}"),
        ]
    one = d.agg(*aggs)
    stack = ", ".join(
        f"'{c}', nul_{c}, emp_{c}, dst_{c}, min_{c}, max_{c}"
        for c in cols
    )
    return one.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack}) AS "
        "(column_name, n_null, n_empty, n_distinct, min_str, max_str)",
    ).select(
        "column_name",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_empty").cast("long").alias("n_empty"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_str",
        "max_str",
    )


COLLOC_MIN_COUNT = 5
COLLOC_TOPK = 20


def corpus_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-20 adjacent word pairs by pointwise
    mutual information (PMI = log2 p(w1,w2)/(p(w1)p(w2)), min count
    5) — the phrase-discovery sweep behind tokenizer merges and
    multiword-entity lists (frequency alone surfaces stopword pairs;
    PMI surfaces GENUINE collocations).

    Scale: bigram and unigram tables are natural-key partial aggs
    (shingle-table shape); PMI is exact integer ratios quantized
    1e-6; the global top-k is `orderBy().limit` (TakeOrdered) with a
    deterministic (pmi, w1, w2) total order.
    """
    d = _docs(spark, sf_dir)
    # one explode pass: the token table feeds the unigram agg plus
    # both bigram self-join sides, and the bigram join itself ran
    # TWICE (pair counts + the total); materialize the token table and
    # the unfiltered pair table, and fold the total as sum(f12) over
    # the latter — the same integer (census: 7 parquet scans before).
    # FOOTPRINT (ADVICE r11): `toks` is corpus-token-scale (spillable,
    # query-lifetime) — at 100 TB gate it on corpus size or unpersist
    # once `pairs_all` is materialized
    toks = d.select(
        "doc_id", F.posexplode(words(F.col("text"))).alias("i", "w")
    ).transform(materialize)
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("f1"))
    n1 = uni.agg(F.sum("f1").alias("n_tokens"))
    nxt = toks.select(
        "doc_id", (F.col("i") - 1).alias("i"), F.col("w").alias("w2")
    )
    pairs_all = (
        toks.join(nxt, ["doc_id", "i"])
        .groupBy("w", "w2")
        .agg(F.count(F.lit(1)).alias("f12"))
        .transform(materialize)
    )
    bi = pairs_all.filter(F.col("f12") >= COLLOC_MIN_COUNT)
    nb = pairs_all.agg(
        F.sum("f12").cast("long").alias("n_bigrams")
    )
    j = (
        bi.join(uni.select(F.col("w"), F.col("f1").alias("fa")), "w")
        .join(
            uni.select(F.col("w").alias("w2"), F.col("f1").alias("fb")),
            "w2",
        )
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(n1))
    )
    pmi = quantize(
        F.log2(
            (F.col("f12").cast("double") / F.col("n_bigrams"))
            / (
                (F.col("fa").cast("double") / F.col("n_tokens"))
                * (F.col("fb").cast("double") / F.col("n_tokens"))
            )
        ),
        6,
    )
    return (
        j.select(
            F.col("w").alias("w1"),
            "w2",
            F.col("f12").cast("long").alias("n_pair"),
            pmi.alias("pmi_bits"),
        )
        .orderBy(F.col("pmi_bits").desc(), "w1", "w2")
        .limit(COLLOC_TOPK)
    )


def corpus_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-drift test: the exact two-sample Kolmogorov-Smirnov
    statistic between the first and second half of the corpus (by
    doc_id) on the quality score, with the 95% critical value — a
    significant D means the quality DISTRIBUTION shifted mid-ingest
    (means can agree while tails drift; this catches that).

    Scale: scores live on the 1e-4 grid, so the empirical CDFs are
    exact integer cumulative counts over the BOUNDED distinct-value
    table (V² broadcast self-join — the calendar-bounded idiom, never
    docs²); D = max |CDF₁ − CDF₂| is grid-exact; only the final
    critical value touches a sqrt.
    """
    d = _docs(spark, sf_dir)
    mid = d.agg(
        F.expr("percentile(doc_id, 0.5)").alias("mid")
    )
    scored = (
        d.select("doc_id", quality_score_col().alias("q"))
        .crossJoin(F.broadcast(mid))
        .select(
            "q", (F.col("doc_id") <= F.col("mid")).cast("int").alias("h1")
        )
    )
    hist = scored.groupBy("q").agg(
        F.sum("h1").alias("m1"),
        F.sum(1 - F.col("h1")).alias("m2"),
    )
    tot = hist.agg(
        F.sum("m1").alias("n1"), F.sum("m2").alias("n2")
    )
    a = hist.select(F.col("q").alias("qa"))
    cum = (
        a.join(F.broadcast(hist), F.col("q") <= F.col("qa"))
        .groupBy("qa")
        .agg(F.sum("m1").alias("c1"), F.sum("m2").alias("c2"))
    )
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        F.abs(
            F.col("c1").cast("double") / F.col("n1")
            - F.col("c2").cast("double") / F.col("n2")
        ).alias("dd"),
        "n1",
        "n2",
    )
    return diffs.groupBy("n1", "n2").agg(
        quantize(F.max("dd"), 6).alias("ks_d")
    ).select(
        F.col("n1").cast("long").alias("n_first_half"),
        F.col("n2").cast("long").alias("n_second_half"),
        "ks_d",
        quantize(
            1.358
            * F.sqrt(
                (F.col("n1") + F.col("n2")).cast("double")
                / (F.col("n1") * F.col("n2")).cast("double")
            ),
            6,
        ).alias("crit_95"),
        (
            F.col("ks_d")
            > 1.358
            * F.sqrt(
                (F.col("n1") + F.col("n2")).cast("double")
                / (F.col("n1") * F.col("n2")).cast("double")
            )
        ).alias("drift_detected"),
    )


def corpus_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between lang and source — the
    stratification audit: a large statistic means language mix is NOT
    uniform across sources, so any per-source sampling plan silently
    reweights languages (and vice versa). Emits chi², dof, and
    Cramér's V (the [0,1] effect size that stays comparable as the
    corpus grows — chi² alone scales with N).

    Scale: the contingency table is ONE (lang, source) partial agg of
    the corpus; everything after runs on the dims-bounded L×S cell
    grid (margins cross-joined so ZERO cells contribute their full
    expected mass — summing only observed cells understates chi²).
    Cell terms are integer-ratio doubles quantized 1e-9 before the
    cells-bounded sum; only Cramér's V touches a sqrt.
    """
    d = _docs(spark, sf_dir).select("lang", "source")
    obs = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return chi2_from_obs(obs)


def chi2_from_obs(obs: DataFrame) -> DataFrame:
    """The chi-square computation over a (lang, source, n) contingency
    table — shared by the batch query and the streaming drain
    (`stream_chi2_independence` accumulates the same dims-bounded
    cells at ingest)."""
    rows_m = obs.groupBy("lang").agg(F.sum("n").alias("nl"))
    cols_m = obs.groupBy("source").agg(F.sum("n").alias("ns"))
    tot = obs.agg(F.sum("n").alias("nn"))
    # keys rename at the self-lineage join so a drained streaming
    # relation (which cannot re-alias duplicate attribute ids)
    # resolves cleanly
    obs2 = obs.select(
        F.col("lang").alias("lg2"),
        F.col("source").alias("sc2"),
        "n",
    )
    cells = (
        rows_m.crossJoin(F.broadcast(cols_m))
        .join(
            F.broadcast(obs2),
            (F.col("lang") == F.col("lg2"))
            & (F.col("source") == F.col("sc2")),
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "nl",
            "ns",
            "nn",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("o"),
        )
    )
    e = F.col("nl").cast("double") * F.col("ns") / F.col("nn")
    term = quantize((F.col("o") - e) * (F.col("o") - e) / e, 9)
    stats = cells.agg(
        F.sum("o").cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        quantize(F.sum(term), 4).alias("chi2"),
    )
    dof = (F.col("n_langs") - 1) * (F.col("n_sources") - 1)
    # flat-case guard: a single lang or source makes dof 0 and
    # Cramér's V a 0/0 — NULL in both engines, never an ANSI error
    mindim = F.least(F.col("n_langs") - 1, F.col("n_sources") - 1)
    return stats.select(
        "n_docs",
        "n_langs",
        "n_sources",
        dof.alias("dof"),
        "chi2",
        F.when(
            mindim > 0,
            quantize(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("n_docs") * mindim).cast("double")
                ),
                6,
            ),
        ).alias("cramers_v"),
    )


def doc_anova_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of document length (n_chars) across languages:
    the k-sample mean-difference test completing the statistics tier
    (KS = 2-sample distribution, Welch = 2-sample mean, chi² =
    categorical independence, this = k-sample means) — a large F
    means per-language length norms differ, so any token-budget plan
    that assumes one length distribution misallocates.

    Scale: ONE lang-keyed partial agg of exact integer sums (Σv, Σv²
    in decimal(38,0) accumulators — no overflow at 100 TB, hugeint in
    the DuckDB twin), then every sum-of-squares identity runs on the
    langs-bounded group table; between-group terms quantize 1e-6
    before the k-bounded sum so engine summation order can't drift
    the F.
    """
    d = _docs(spark, sf_dir)
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum(F.col("n_chars").cast("decimal(38,0)"))
        .cast("double")
        .alias("sg"),
        F.sum(
            (F.col("n_chars") * F.col("n_chars")).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("qg"),
    )
    tb = quantize(F.col("sg") * F.col("sg") / F.col("ng"), 6)
    roll = g.agg(
        F.sum("ng").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
        F.sum(tb).alias("tb"),
    )
    ssb = F.col("tb") - F.col("s") * F.col("s") / F.col("n_docs")
    ssw = F.col("q") - F.col("tb")
    sst = F.col("q") - F.col("s") * F.col("s") / F.col("n_docs")
    f_stat = (ssb / (F.col("n_groups") - 1)) / (
        ssw / (F.col("n_docs") - F.col("n_groups"))
    )
    # flat-case guards (the power_law_fit discipline): one group or a
    # zero within-group variance makes F a 0/0 — answer NULL in both
    # engines instead of an engine-dependent Inf/NaN
    f_ok = (F.col("n_groups") > 1) & (ssw > 0)
    return roll.select(
        "n_docs",
        "n_groups",
        quantize(F.col("s") / F.col("n_docs"), 4).alias("mean_chars"),
        F.when(f_ok, quantize(f_stat, 4)).alias("f_stat"),
        F.when(sst > 0, quantize(ssb / sst, 6)).alias("eta_squared"),
    )


def corpus_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: per language, split documents
    into head / middle / tail TERCILES of mean unigram surprisal
    (head = most LM-predictable ≈ cleanest, tail = most surprising ≈
    noisiest) and report each bucket's size, share, and mean score —
    the standard "keep head+middle, audit tail" curation split, made
    per-language so one language's norms don't gate another.

    Scale: per-doc surprisal is the `doc_unigram_surprisal` pipeline
    (two natural-key shuffles); terciles are ONE langs-bounded exact
    percentile agg broadcast back; the rollup is bounded by
    langs × 3 buckets.
    """
    d = _docs(spark, sf_dir)
    # per-doc narrow (doc_id, lang, mean_surprisal), materialized
    # once: the tercile agg and the bucket assignment both read it,
    # and composed as plans each re-ran the whole unigram-surprisal
    # pipeline (census: 16 parquet scans for this query)
    sc = doc_unigram_surprisal(spark, sf_dir).join(
        d.select("doc_id", "lang"), "doc_id"
    ).transform(materialize)
    # tercile thresholds quantized at 1e-9 (r10): the interpolated
    # percentile can land ON the 1e-6 mean_surprisal grid (engines
    # differ by 1 ulp in interpolation order — the sf0.1 rotation
    # caught 2 docs flipping buckets on lang=es), and a threshold
    # used in a COMPARISON must sit on the shared grid, exactly like
    # the kmeans per-round centroid quantize
    th = sc.groupBy("lang").agg(
        quantize(
            F.expr("percentile(mean_surprisal, 0.3333333333333333)"), 9
        ).alias("t1"),
        quantize(
            F.expr("percentile(mean_surprisal, 0.6666666666666666)"), 9
        ).alias("t2"),
    )
    b = sc.join(F.broadcast(th), "lang").select(
        "lang",
        F.when(F.col("mean_surprisal") <= F.col("t1"), F.lit("head"))
        .when(F.col("mean_surprisal") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        "mean_surprisal",
    )
    roll = b.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        quantize(F.avg("mean_surprisal"), 4).alias("mean_bits"),
    )
    lang_tot = roll.groupBy("lang").agg(
        F.sum("n_docs").alias("lang_docs")
    )
    return roll.join(F.broadcast(lang_tot), "lang").select(
        "lang",
        "bucket",
        "n_docs",
        quantize(
            F.col("n_docs").cast("double") / F.col("lang_docs"), 6
        ).alias("share"),
        "mean_bits",
    )


def corpus_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve of the heuristic quality score against the
    full ensemble gate: per score-decile bucket, how often does the
    multi-signal ensemble actually keep the doc — a well-calibrated
    score should show keep-rate rising monotonically with the bucket,
    and the curve tells a curation run where a single-score threshold
    would over/under-filter relative to the ensemble.

    Scale: composes the ensemble join (doc_id-co-partitioned signal
    tables) with ONE bucket-bounded aggregate (≤10 rows); bucket
    edges and means run on the EXACT 1e-4 integer score grid, keep
    rates are exact integer ratios.
    """
    ens = doc_quality_ensemble(spark, sf_dir)
    b = ens.select(
        F.least(
            F.floor(
                F.round(F.col("quality_score") * 10000) / 1000.0
            ).cast("long"),
            F.lit(9),
        ).alias("bucket"),
        F.col("keep").cast("int").alias("k"),
        F.round(F.col("quality_score") * 10000)
        .cast("long")
        .alias("qi"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("k").cast("long").alias("n_kept"),
            quantize(
                F.sum("k").cast("double") / F.count(F.lit(1)), 6
            ).alias("keep_rate"),
            quantize(
                F.sum("qi").cast("double")
                / (F.count(F.lit(1)) * 10000.0),
                4,
            ).alias("mean_score"),
        )
        .select(
            "bucket",
            quantize(F.col("bucket") / 10.0, 1).alias("bucket_lo"),
            "n_docs",
            "n_kept",
            "keep_rate",
            "mean_score",
        )
    )


COS_HIST_STRIDES = (1, 17)


def emb_cosine_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine health histogram: the distribution of cosine
    similarity over deterministic stride pairs (vec_id, vec_id+1) and
    (vec_id, vec_id+17) — the embedding-collapse diagnostic (a healthy
    space concentrates near 0; mass near 1 means near-duplicate or
    collapsed embeddings; the companion to `emb_norm_audit`'s scale
    check). Stride sampling reads O(n) pairs, not n².

    Scale: each stride is a co-keyed self-join on exact id arithmetic
    (AQE-decided), cosines via the ordered fold-dot; the histogram is
    a ≤40-cell partial agg with grid-exact bucket edges.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    outs = []
    for stride in COS_HIST_STRIDES:
        other = emb.select(
            (F.col("vec_id") - stride).alias("vec_id"),
            F.col("embedding").alias("emb_b"),
        )
        pairs = emb.join(other, "vec_id")
        cos = quantize(
            dot(F.col("embedding"), F.col("emb_b"))
            / (
                F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                * F.sqrt(dot(F.col("emb_b"), F.col("emb_b")))
            ),
            6,
        )
        outs.append(
            pairs.select(
                F.lit(stride).cast("long").alias("stride"),
                F.floor(cos * 10).cast("long").alias("bucket"),
            )
        )
    u = outs[0]
    for o in outs[1:]:
        u = u.unionByName(o)
    return u.groupBy("stride", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


def corpus_boilerplate_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate rate per source: the share of each source's 3-gram
    word windows that also appear in at least one OTHER document
    corpus-wide — the window-level duplication (template footers, nav
    text, scraped chrome) that survives doc-level dedup and poisons
    LM training. A source with a high rate needs line-level cleaning
    before it enters the mix (`dedup_substring` finds the matching
    PAIRS; this is the per-source dashboard rate).

    Scale: reuses the `doc_shingles` keyed window table (map-side
    distinct, 8-byte keys); corpus-wide doc-frequency is ONE
    shingle-keyed partial agg joined back on the same key; the rate
    rollup is sources-bounded with exact integer ratios.
    """
    d = _docs(spark, sf_dir)
    # two consumers (df table + the join-back side) — one eager
    # localCheckpoint materializes the explode+key scan once
    sh = doc_shingles(d, keyed=True).transform(materialize)
    df_tab = sh.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    j = (
        sh.join(df_tab, "s")
        .join(d.select("doc_id", "source"), "doc_id")
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum((F.col("df") >= 2).cast("int"))
        .cast("long")
        .alias("dup_windows"),
        quantize(
            F.sum((F.col("df") >= 2).cast("int")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("boilerplate_rate"),
    )


def emb_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance spectrum of the embedding table: mean,
    variance, and share of total variance per coordinate — the
    flat-vs-spiked read that says how many dimensions actually carry
    signal (a handful of dominant coordinates → the space is nearly
    low-rank and PCA/PQ will compress well; near-uniform → it won't),
    without running the full eigensolve (`emb_pca_project`).

    Scale: one posexplode + d-bounded per-dimension partial agg
    (shuffle = d rows regardless of corpus size); the total-variance
    denominator is a 1-row broadcast of that table.
    """
    e = _embs(spark, sf_dir)
    dims = e.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    per = dims.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    mean = F.col("sx") / n
    var = F.greatest(
        (F.col("sxx") - F.col("sx") * mean) / (n - 1.0), F.lit(0.0)
    )
    scored = per.select(
        "dim", "n", mean.alias("mean"), var.alias("var")
    )
    tot = scored.agg(F.sum("var").alias("total_var"))
    j = scored.crossJoin(F.broadcast(tot))
    return j.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        quantize(F.col("mean"), 6).alias("mean"),
        quantize(F.col("var"), 6).alias("variance"),
        F.when(
            (F.col("n") > 1) & (F.col("total_var") > 0),
            quantize(F.col("var") / F.col("total_var"), 6),
        ).alias("var_share"),
    )


def emb_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space isotropy diagnostic: the mean pairwise cosine
    over ALL n² pairs of unit vectors, computed WITHOUT any pair
    enumeration via the sum-vector identity mean_cos = (‖Σu‖² − n) /
    (n(n−1)) — an anisotropic (cone-shaped) embedding space inflates
    every cosine similarity and is the classic reason "everything
    looks similar"; near 0 means directions are balanced. One number,
    one pass, and the reason it scales is the algebra, not sampling.

    Scale: unit-normalize (narrow map), posexplode to (dim, u) and
    partial-agg the d-bounded per-dimension sums — shuffle = d rows
    regardless of corpus size; the identity closes the n² pair sum
    exactly.
    """
    e = _embs(spark, sf_dir)
    u = e.select(
        "vec_id", unit_norm(F.col("embedding")).alias("uv")
    )
    dims = u.select(F.posexplode("uv").alias("dim", "x"))
    per_dim = dims.groupBy("dim").agg(F.sum("x").alias("sx"))
    agg = per_dim.agg(
        F.sum(F.col("sx") * F.col("sx")).alias("norm_sq")
    )
    n_row = u.agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = n_row.crossJoin(F.broadcast(agg))
    nn = F.col("n").cast("double")
    mean_cos = (F.col("norm_sq") - nn) / (nn * (nn - 1.0))
    return j.select(
        "n",
        F.when(F.col("n") > 1, quantize(mean_cos, 6)).alias(
            "mean_pairwise_cos"
        ),
        F.when(
            F.col("n") > 1, quantize(1.0 - F.abs(mean_cos), 6)
        ).alias("isotropy"),
    )


def emb_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health audit: vector count, dimension range,
    zero-norm count, and the L2-norm distribution (mean/p50/min/max)
    — the one-row sanity gate an ANN/clustering run prints before
    trusting cosine math (zero vectors NaN out cosine; dimension
    drift breaks every dot product downstream).

    Scale: one narrow map computes each norm via the ordered
    fold-dot (bit-identical to the SQL twin), then ONE
    map-side-combined aggregate — no shuffle beyond the 1-row
    rollup. Norms quantize 1e-6 before the distribution stats.
    """
    return emb_norm_audit_from_cells(
        emb_norm_cells(load_table(spark, sf_dir, "embeddings"))
    )


def emb_norm_cells(emb: DataFrame) -> DataFrame:
    """(dim, nrm, n) cells over the quantized-norm grid — the
    value-grid-class mergeable state shared by the batch audit and
    the streaming twin (counts are exact integers, so any
    micro-batch split drains identically)."""
    n = emb.select(
        F.size("embedding").cast("long").alias("dim"),
        quantize(
            F.sqrt(dot(F.col("embedding"), F.col("embedding"))), 6
        ).alias("nrm"),
    )
    return n.groupBy("dim", "nrm").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def emb_norm_audit_from_cells(cells: DataFrame) -> DataFrame:
    """The one-row health rollup over drained (dim, nrm, n) cells;
    the weighted exact percentile equals the row-level one because
    the cells are exact value counts."""
    return cells.agg(
        F.sum("n").cast("long").alias("n_vecs"),
        F.min("dim").alias("dim_min"),
        F.max("dim").alias("dim_max"),
        F.sum(F.when(F.col("nrm") == 0, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_zero"),
        quantize(
            F.sum(F.col("nrm") * F.col("n")) / F.sum("n"), 4
        ).alias("mean_norm"),
        F.round(F.expr("percentile(nrm, 0.5, n)"), 4).alias(
            "p50_norm"
        ),
        quantize(F.min("nrm"), 4).alias("min_norm"),
        quantize(F.max("nrm"), 4).alias("max_norm"),
    )


WEIGHTED_SAMPLE_K = 100
WEIGHTED_SAMPLE_SEED = "wsample"


def corpus_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted fixed-size sample without replacement
    (Efraimidis–Spirakis exponential clocks): each doc gets priority
    −ln(u)/w with a deterministic md5-uniform u and weight w = its
    1e-4-grid quality score — the smallest-K priorities ARE a sample
    where selection probability is proportional to weight. The
    quality-weighted cousin of `corpus_sample_fixed` (uniform) and
    the primitive behind "sample the good stuff" curation passes.

    Scale: the draw is a map-side hash (no RNG state, reproducible
    across engines, runs, and cluster sizes); `orderBy().limit(K)`
    plans as TakeOrderedAndProject — per-partition top-K then a K-row
    merge, never a global sort. Priorities quantize 1e-9 so the
    emitted values (and the selection boundary) sit on a shared grid.
    """
    d = _docs(spark, sf_dir)
    w = (F.round(quality_score_col() * 10000) + 1).cast("long")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(WEIGHTED_SAMPLE_SEED + "|"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**60))
    )
    pri = quantize(-F.log(u) / w, 9)
    return (
        d.select(
            "doc_id",
            "lang",
            "source",
            w.alias("weight"),
            pri.alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
    )


CURRICULUM_SEED = "curriculum-v1"


def corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction: every doc gets a training PHASE
    (1 = cleanest quartile first, 4 = noisiest last — quality-ordered
    curriculum learning) and a seeded deterministic order key within
    phases, so any two runs — or engines — replay the identical
    curriculum. Complements ``corpus_shuffle_shards`` (uniform order)
    and ``corpus_split`` (held-out splits).

    Scale: the quartile cutoffs are a 1-ROW exact-percentile
    aggregate broadcast onto a narrow scoring map (no ntile
    window); the order key is a map-side hash. Nothing shuffles.
    """
    d = _docs(spark, sf_dir)
    q = d.select("doc_id", quality_score_col().alias("quality_score"))
    # quartile cutoffs quantized at 1e-9 (r10): same comparison-
    # threshold discipline as corpus_ppl_buckets — an interpolated
    # cutoff landing on the quality_score grid must not flip a doc's
    # phase on a 1-ulp engine difference
    cuts = q.agg(
        quantize(F.expr("percentile(quality_score, 0.25)"), 9).alias("c1"),
        quantize(F.expr("percentile(quality_score, 0.5)"), 9).alias("c2"),
        quantize(F.expr("percentile(quality_score, 0.75)"), 9).alias("c3"),
    )
    return q.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "quality_score",
        F.when(F.col("quality_score") >= F.col("c3"), 1)
        .when(F.col("quality_score") >= F.col("c2"), 2)
        .when(F.col("quality_score") >= F.col("c1"), 3)
        .otherwise(4)
        .cast("long")
        .alias("phase"),
        shuffle_sort_key(F.col("doc_id"), CURRICULUM_SEED).alias(
            "order_key"
        ),
    )


MM_NEARDUP_COS = 0.99999  # near-identical byte distribution


def multimodal_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection over opaque binary payloads WITHOUT
    decoding: byte-histogram feature vectors (`multimodal_features`'
    codec-free 16-bin signature) scored for cosine ≥ 0.99999 — the
    transcode/re-wrap screen that byte-identical `multimodal_dedup`
    misses (same media, different container padding shifts the md5
    but barely moves the byte distribution).

    Scale: features are one Arrow-batched narrow scan; pair scoring
    reuses the blocked-dgemm all-pairs operator (B·n-row shuffle,
    numpy matmul per block pair — the `emb_neardup` shape), so no
    row-pair explosion materializes; the 16-dim vectors make each
    block multiply trivially cheap.
    """
    from ..operators.multimodal import payload_byte_features
    from ..operators.similarity import embedding_neardup_blocked

    d = _docs(spark, sf_dir).withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    feats = payload_byte_features(d)
    return embedding_neardup_blocked(
        feats,
        threshold=MM_NEARDUP_COS,
        id_col="doc_id",
        vec_col="features",
        # feats is 1:1 per doc but embeds the Arrow histogram UDF —
        # the guard/blocking bound must come from the source table's
        # footer-metadata count, not a count() over the UDF scan
        n_vecs=_doc_count_bound(spark, sf_dir),
    ).select(
        F.col("da").cast("long").alias("da"),
        F.col("db").cast("long").alias("db"),
        "cos",
    )


JL_K = 16  # Johnson-Lindenstrauss target dimensionality


def _jl_matrix(spark: SparkSession) -> DataFrame:
    """The d×k ±1 projection matrix as a tiny broadcastable relation.

    Entries are a PORTABLE pure-integer pseudo-random sign —
    parity of ``(i*131 + j*137) mod 97`` — so Spark and the SQL
    oracle generate bit-identical matrices without sharing a hash
    implementation (Achlioptas showed ±1 entries satisfy the JL
    lemma just like Gaussians).
    """
    cell = spark.range(DIM * JL_K).select(
        F.expr(f"id div {JL_K}").cast("long").alias("dim"),
        (F.col("id") % JL_K).cast("long").alias("comp"),
    )
    parity = (
        (F.col("dim") * 131 + F.col("comp") * 137) % 97
    ) % 2
    return cell.select(
        "dim",
        "comp",
        F.when(parity == 0, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("rv"),
    )


def _jl_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, comp, y): each vector × the ±1 matrix, scaled 1/√k."""
    e = _embs(spark, sf_dir)
    dims = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.col("x").cast("double").alias("x"),
    )
    return (
        dims.join(F.broadcast(_jl_matrix(spark)), "dim")
        .groupBy("vec_id", "comp")
        .agg(
            (F.sum(F.col("x") * F.col("rv")) / float(JL_K) ** 0.5).alias(
                "y"
            )
        )
    )


def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection: compress every
    embedding from d=64 to k=16 dims with a deterministic ±1/√k
    matrix — the cheap distance-preserving sketch a pipeline runs
    BEFORE expensive pairwise stages (near-dup, kNN candidate
    generation) to cut their cost 4× with bounded distortion.
    Output is the exploded (vec_id, comp, value) shape so every
    scalar is driver-hashable.

    Scale: posexplode (narrow) + a broadcast join against the d·k-row
    matrix + one (vec_id, comp)-keyed partial agg — shuffle is n·k
    rows, no pairwise stage anywhere.
    """
    return _jl_projected(spark, sf_dir).select(
        "vec_id",
        F.col("comp").cast("long").alias("comp"),
        quantize(F.col("y"), 6).alias("value"),
    )


def emb_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row audit of the JL sketch: per-vector squared-norm ratio
    ‖proj(x)‖²/‖x‖² (expectation exactly 1 under the ±1/√k matrix),
    summarized as mean/min/max plus the share of vectors within
    ±25% — the "is the sketch actually usable for distance work?"
    gate on `emb_random_projection`.

    Scale: two vec_id-keyed partial aggs (n·k and n·d input rows,
    n output rows each), an equi-join on vec_id, and a 1-row final
    agg. Nothing pairwise, nothing driver-side.
    """
    py = _jl_projected(spark, sf_dir).groupBy("vec_id").agg(
        F.sum(F.col("y") * F.col("y")).alias("py")
    )
    e = _embs(spark, sf_dir)
    px = (
        e.select("vec_id", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("vec_id")
        .agg(
            F.sum(
                F.col("x").cast("double") * F.col("x").cast("double")
            ).alias("px")
        )
    )
    ratio = F.col("py") / F.col("px")
    scored = py.join(px, "vec_id").where(F.col("px") > 0).select(
        ratio.alias("ratio")
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        quantize(F.avg("ratio"), 6).alias("mean_ratio"),
        quantize(F.min("ratio"), 6).alias("min_ratio"),
        quantize(F.max("ratio"), 6).alias("max_ratio"),
        quantize(
            F.avg(
                F.when(
                    (F.col("ratio") >= 0.75) & (F.col("ratio") <= 1.25),
                    1.0,
                ).otherwise(0.0)
            ),
            6,
        ).alias("share_within_25pct"),
    )


# --- DSIR importance resampling (Xie et al. 2023: hashed n-gram
# importance weights between a target corpus and the raw pool) -------

DSIR_BUCKETS = 1024  # hashed n-gram feature space (fixed, tiny model)
DSIR_ALPHA = 1  # add-one smoothing on both distributions
DSIR_TARGET_SHARE = 4  # target = lexicographic first 1/4 of sources


def dsir_featurize(docs: DataFrame) -> DataFrame:
    """(doc_id, source, bucket) hashed n-gram features: every unigram
    and bigram folded through the shared md5 ``shingle_key`` into
    ``DSIR_BUCKETS`` buckets — the dedup-shingle discipline: explode
    FIRST, hash the exploded string column inside whole-stage
    codegen (hashing inside a higher-order lambda runs interpreted
    per element and measured ~2× slower end-to-end). The per-doc
    feature list never materializes beyond the exploded rows."""
    w = words(F.col("text"))
    uni = docs.select(
        "doc_id", "source", F.explode(w).alias("f")
    )
    bi_arr = F.when(
        F.size(w) > 1,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = docs.select(
        "doc_id", "source", F.explode(bi_arr).alias("f")
    )
    return uni.unionByName(bi).select(
        "doc_id",
        "source",
        (shingle_key(F.col("f")) % DSIR_BUCKETS).alias("bucket"),
    )


def dsir_is_target(source: F.Column) -> F.Column:
    """The designated target stratum: a deterministic md5-keyed
    ~1/``DSIR_TARGET_SHARE`` of the sources (a stand-in for "the
    curated corpora" — swap in any source list in production). A
    pure narrow expression: no distinct, no rank, no shuffle, and
    the same md5 fold on any engine."""
    return shingle_key(source) % DSIR_TARGET_SHARE == 0


def dsir_model_from_cells(cells: DataFrame) -> DataFrame:
    """The bucket-level importance model over drained (source,
    bucket, n) count cells: fold sources into target/raw totals per
    bucket (raw = the WHOLE pool, per DSIR), add-one smooth both
    distributions over the fixed ``DSIR_BUCKETS`` space, and emit the
    per-bucket log-likelihood ratio. Output ≤ DSIR_BUCKETS rows —
    the entire model is broadcast-sized by construction."""
    flagged = cells.withColumn(
        "is_target", dsir_is_target(F.col("source"))
    )
    # <= DSIR_BUCKETS rows, materialized once: `tot` below re-reads
    # this table, and without the cut the totals branch re-runs the
    # ENTIRE upstream feature explode a second time (measured: the
    # dsir plans scanned the corpus 3x)
    per_bucket = flagged.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_target"),
        F.sum("n").cast("long").alias("n_raw"),
    ).transform(materialize)
    tot = per_bucket.agg(
        F.sum("n_target").cast("long").alias("nt"),
        F.sum("n_raw").cast("long").alias("nr"),
    )
    g = per_bucket.crossJoin(F.broadcast(tot))
    lr = F.log(
        (F.col("n_target") + F.lit(DSIR_ALPHA)).cast("double")
        / (F.col("nt") + F.lit(DSIR_ALPHA * DSIR_BUCKETS)).cast(
            "double"
        )
    ) - F.log(
        (F.col("n_raw") + F.lit(DSIR_ALPHA)).cast("double")
        / (F.col("nr") + F.lit(DSIR_ALPHA * DSIR_BUCKETS)).cast(
            "double"
        )
    )
    return g.select(
        "bucket",
        "n_target",
        "n_raw",
        quantize(lr, 6).alias("log_ratio"),
    )


def corpus_dsir_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance model (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hashed unigram+bigram
    counts under a target stratum vs the raw pool, smoothed into the
    per-bucket log-likelihood ratio every selection weight is a sum
    of. The model — ≤ ``DSIR_BUCKETS`` rows — is the exportable
    artifact a selection job broadcasts.

    Scale: one feature explode (the shingle-table shape), one
    B-bounded partial agg, a 1-row totals broadcast. Nothing grows
    with the corpus except the single scan."""
    feats = dsir_featurize(_docs(spark, sf_dir))
    cells = feats.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return dsir_model_from_cells(cells)


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weights: each doc's hashed
    n-gram features score against the bucket log-ratio model, and
    log w(doc) = Σ_features log(p_target/p_raw) — positive means
    "looks more like the target corpus than the raw pool", the
    resampling signal DSIR feeds to data selection. ``selected``
    compares the QUANTIZED weight so both engines decide the same
    boundary docs.

    Scale: the feature explode scans once; the ≤ DSIR_BUCKETS-row
    model joins back by broadcast; the per-doc fold is one
    doc_id-keyed partial agg. The model itself never touches the
    driver."""
    per_doc = dsir_doc_scores(_docs(spark, sf_dir))
    lw = F.col("s").cast("double") / F.lit(1000000.0)
    return per_doc.select(
        "doc_id",
        "source",
        "n_feats",
        quantize(lw, 4).alias("log_weight"),
        quantize(lw / F.col("n_feats"), 6).alias("avg_log_ratio"),
        (F.col("s") > 0).alias("selected"),
    )


def dsir_doc_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_feats, s) per-doc DSIR fold, with s the
    exact integer micro-unit sum of the model's (1e-6-quantized)
    log ratios — order-insensitive on any engine, so the boundary
    docs decide identically everywhere. Shared by the weight report,
    the resampling step, and the selection flagship.

    The feature table folds ONCE into per-(doc, bucket) counts; both
    the model branch and the scoring branch read that same
    aggregation, so the md5 feature scan (the dominant cost) runs a
    single time per query instead of twice (exchange reuse)."""
    # materialized: the model branch (via `cells`) and the scoring
    # branch both fold this table, and exchange reuse is not
    # guaranteed to dedupe them (the captured plan ran the md5
    # feature explode once per branch); the checkpoint bounds the
    # corpus-sized scan to exactly one pass.
    # FOOTPRINT (ADVICE r11): `db` is (docs x occupied-buckets)-scale
    # (spillable, query-lifetime) — at 100 TB gate on corpus size if
    # pinning it competes with execution memory
    db = dsir_featurize(docs).groupBy(
        "doc_id", "source", "bucket"
    ).agg(F.count(F.lit(1)).cast("long").alias("nf")).transform(materialize)
    cells = db.groupBy("source", "bucket").agg(
        F.sum("nf").cast("long").alias("n")
    )
    model = dsir_model_from_cells(cells).select(
        "bucket",
        F.floor(F.col("log_ratio") * 1e6 + 0.5)
        .cast("long")
        .alias("lr_micro"),
    )
    scored = db.join(F.broadcast(model), "bucket")
    return scored.groupBy("doc_id", "source").agg(
        F.sum("nf").cast("long").alias("n_feats"),
        F.sum(F.col("nf") * F.col("lr_micro"))
        .cast("long")
        .alias("s"),
    )


DSIR_SAMPLE_K = 100
DSIR_SAMPLE_SEED = "dsir"


def corpus_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR RESAMPLING step itself (the paper's Gumbel-top-k):
    score = log w(doc) + Gumbel(u) with a deterministic md5-keyed
    uniform, take the top-``DSIR_SAMPLE_K`` — a without-replacement
    sample whose selection probability is proportional to the
    importance weight, numerically sane on log weights (no exp
    overflow). Completes the DSIR triple: model → weights → the
    selected training subset.

    Scale: the weight fold is `dsir_doc_scores` (one doc-keyed
    partial agg + broadcast model); the draw is a map-side hash; the
    selection is `orderBy().limit(K)` = TakeOrderedAndProject. The
    ordering key is the QUANTIZED score, so both engines cut the
    same boundary docs."""
    per_doc = dsir_doc_scores(_docs(spark, sf_dir))
    u = (
        shingle_key(
            F.concat(
                F.lit(DSIR_SAMPLE_SEED + "|"),
                F.col("doc_id").cast("string"),
            )
        ).cast("double")
        / F.lit(float(2**60))
    )
    gumbel = -F.log(-F.log(u))
    score = F.col("s").cast("double") / F.lit(1000000.0) + gumbel
    g = per_doc.select(
        "doc_id",
        "source",
        quantize(
            F.col("s").cast("double") / F.lit(1000000.0), 4
        ).alias("log_weight"),
        quantize(score, 6).alias("gumbel_score"),
    )
    return g.orderBy(
        F.col("gumbel_score").desc(), "doc_id"
    ).limit(DSIR_SAMPLE_K)


# --- Interpolated Kneser–Ney bigram LM ------------------------------

KN_DISCOUNT = 0.75  # the canonical absolute discount
KN_TOP = 100  # exported head of the bigram table


def kn_bigram_counts(docs: DataFrame) -> DataFrame:
    """(w1, w2, c) bigram counts over whitespace tokens — the
    vocabulary-bounded mergeable state both the batch op and the
    streaming twin accumulate (the `stream_ngrams_topk` state class).
    """
    w = words(F.col("text"))
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(w) > 1,
                F.zip_with(
                    F.slice(w, 1, F.size(w) - 1),
                    F.slice(w, 2, F.size(w) - 1),
                    lambda a, b: F.struct(
                        a.alias("w1"), b.alias("w2")
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<w1:string,w2:string>>")
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))


def kn_from_pair_counts(bg: DataFrame) -> DataFrame:
    """Interpolated Kneser–Ney smoothing over drained (w1, w2, c)
    bigram counts: p_KN(w2|w1) = (max(c−D,0) + D·N1+(w1·)·p_cont(w2))
    / c(w1) with the continuation probability p_cont(w2) =
    N1+(·w2)/|bigram types| — the discount mass a naive MLE would
    overfit onto singletons goes to words that COMPLETE many
    contexts. Exported: the top-``KN_TOP`` bigrams by count
    (deterministic (c desc, w1, w2) total order as the limit).

    Scale: the context and continuation tables are key-partitioned
    window sums over the bigram relation itself (vocab-bounded,
    never corpus-bounded); the single global scalar — the number of
    bigram types — is a 1-row broadcast; the export is a
    TakeOrderedAndProject, not a full sort."""
    from pyspark.sql import Window

    c1 = F.sum("c").over(Window.partitionBy("w1"))
    n1p_fwd = F.count(F.lit(1)).over(Window.partitionBy("w1"))
    n1p_bwd = F.count(F.lit(1)).over(Window.partitionBy("w2"))
    tot = bg.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    g = bg.select(
        "w1",
        "w2",
        "c",
        c1.cast("long").alias("c1"),
        n1p_fwd.cast("long").alias("n1plus_fwd"),
        n1p_bwd.cast("long").alias("n1plus_bwd"),
    ).crossJoin(F.broadcast(tot))
    p_cont = F.col("n1plus_bwd").cast("double") / F.col("n_types")
    p_kn = (
        F.greatest(
            F.col("c").cast("double") - F.lit(KN_DISCOUNT), F.lit(0.0)
        )
        + F.lit(KN_DISCOUNT) * F.col("n1plus_fwd") * p_cont
    ) / F.col("c1")
    return (
        g.select(
            "w1",
            "w2",
            "c",
            "c1",
            "n1plus_fwd",
            "n1plus_bwd",
            quantize(
                F.col("c").cast("double") / F.col("c1"), 6
            ).alias("p_mle"),
            quantize(p_cont, 6).alias("p_cont"),
            quantize(p_kn, 6).alias("p_kn"),
        )
        .orderBy(F.col("c").desc(), "w1", "w2")
        .limit(KN_TOP)
    )


def corpus_kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney-smoothed bigram LM export — the smoothing the
    add-one LMs in this tier (`doc_ngram_lm_export`,
    `corpus_cross_perplexity`) deliberately avoid: absolute-discount
    the observed counts and route the freed mass through CONTINUATION
    counts, the estimator that actually survives at LM scale. The
    head of the table (with its exact count columns) is the artifact
    a perplexity-filter job ships.

    Scale: one explode + one vocab-bounded bigram agg; everything
    downstream is window sums over that relation (see
    `kn_from_pair_counts`)."""
    return kn_from_pair_counts(kn_bigram_counts(_docs(spark, sf_dir)))


QUERIES = {
    "corpus_dsir_model": corpus_dsir_model,
    "corpus_dsir_weights": corpus_dsir_weights,
    "corpus_kn_bigram_lm": corpus_kn_bigram_lm,
    "search_map": search_map,
    "corpus_bpe_pair_census": corpus_bpe_pair_census,
    "langid_injection_eval": langid_injection_eval,
    "corpus_dsir_sample": corpus_dsir_sample,
    "corpus_contrastive_pairs": corpus_contrastive_pairs,
    "corpus_select_e2e": corpus_select_e2e,
    "multimodal_neardup": multimodal_neardup,
    "corpus_pack_efficiency": corpus_pack_efficiency,
    "emb_random_projection": emb_random_projection,
    "emb_jl_distortion": emb_jl_distortion,
    "corpus_prep_e2e": corpus_prep_e2e,
    "multimodal_frames": multimodal_frames,
    "dedup_apply": dedup_apply,
    "corpus_dedup_mix_shift": corpus_dedup_mix_shift,
    "doc_tokens": doc_tokens,
    "doc_quality": doc_quality,
    "doc_langid": doc_langid,
    "doc_fingerprint": doc_fingerprint,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_threshold_sweep": dedup_threshold_sweep,
    "dedup_lsh_s_curve": dedup_lsh_s_curve,
    "dedup_lsh_recall": dedup_lsh_recall,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "emb_neardup": emb_neardup,
    "emb_dedup_apply": emb_dedup_apply,
    "knn_bruteforce": knn_bruteforce,
    "knn_lsh": knn_lsh,
    "emb_buckets": emb_buckets,
    "multimodal_meta": multimodal_meta,
    "multimodal_decode": multimodal_decode,
    "doc_tfidf_topk": doc_tfidf_topk,
    "corpus_ngrams_topk": corpus_ngrams_topk,
    "knn_ivf": knn_ivf,
    "knn_ivf_trained": knn_ivf_trained,
    "doc_pii_scrub": doc_pii_scrub,
    "corpus_sample_stratified": corpus_sample_stratified,
    "doc_repetition": doc_repetition,
    "corpus_mix_report": corpus_mix_report,
    "dedup_clusters": dedup_clusters,
    "corpus_soft_dedup": corpus_soft_dedup,
    "corpus_dp_vocab": corpus_dp_vocab,
    "corpus_semantic_dedup": corpus_semantic_dedup,
    "corpus_shard_rendezvous": corpus_shard_rendezvous,
    "corpus_bm25_index": corpus_bm25_index,
    "dedup_method_agreement": dedup_method_agreement,
    "multimodal_vad": multimodal_vad,
    "dedup_injection_eval": dedup_injection_eval,
    "quality_injection_eval": quality_injection_eval,
    "contamination_injection_eval": contamination_injection_eval,
    "corpus_shard_rendezvous_balance": corpus_shard_rendezvous_balance,
    "corpus_contamination": corpus_contamination,
    "corpus_rebalance": corpus_rebalance,
    "doc_unigram_surprisal": doc_unigram_surprisal,
    "dedup_keep_best": dedup_keep_best,
    "doc_ngram_novelty": doc_ngram_novelty,
    "dedup_substring": dedup_substring,
    "corpus_shuffle_shards": corpus_shuffle_shards,
    "corpus_pack": corpus_pack,
    "emb_label_centroids": emb_label_centroids,
    "emb_covariance": emb_covariance,
    "emb_pca_project": emb_pca_project,
    "corpus_split": corpus_split,
    "doc_char_entropy": doc_char_entropy,
    "multimodal_resize": multimodal_resize,
    "multimodal_features": multimodal_features,
    "multimodal_pack": multimodal_pack,
    "doc_bigram_surprisal": doc_bigram_surprisal,
    "knn_graph": knn_graph,
    "emb_clusters": emb_clusters,
    "semantic_search": semantic_search,
    "emb_quantize_int8": emb_quantize_int8,
    "knn_pq": knn_pq,
    "knn_pq_rerank": knn_pq_rerank,
    "doc_quality_ensemble": doc_quality_ensemble,
    "emb_pq_export": emb_pq_export,
    "dedup_index_export": dedup_index_export,
    "doc_bm25_topk": doc_bm25_topk,
    "search_rrf": search_rrf,
    "search_rbo": search_rbo,
    "search_mrr": search_mrr,
    "corpus_sample_fixed": corpus_sample_fixed,
    "corpus_domain_cap": corpus_domain_cap,
    "dedup_bloom": dedup_bloom,
    "emb_outliers": emb_outliers,
    "emb_ivf_export": emb_ivf_export,
    "corpus_token_histogram": corpus_token_histogram,
    "dedup_containment": dedup_containment,
    "events_latest_state": events_latest_state,
    "doc_gopher_rules": doc_gopher_rules,
    "doc_c4_rules": doc_c4_rules,
    "multimodal_dedup": multimodal_dedup,
    "emb_pca_check": emb_pca_check,
    "knn_ivf_trained_check": knn_ivf_trained_check,
    "doc_ngram_lm_export": doc_ngram_lm_export,
    "corpus_quality_report": corpus_quality_report,
    "emb_drift_report": emb_drift_report,
    "corpus_dedup_report": corpus_dedup_report,
    "dedup_cluster_stats": dedup_cluster_stats,
    "doc_winnowing": doc_winnowing,
    "doc_winnow_overlap": doc_winnow_overlap,
    "corpus_vocab_growth": corpus_vocab_growth,
    "doc_zipf_fit": doc_zipf_fit,
    "doc_heaps_fit": doc_heaps_fit,
    "corpus_mix_plan": corpus_mix_plan,
    "doc_langid_confusion": doc_langid_confusion,
    "emb_kmeans": emb_kmeans,
    "corpus_curriculum": corpus_curriculum,
    "emb_cluster_quality": emb_cluster_quality,
    "knn_ivf_lloyd": knn_ivf_lloyd,
    "corpus_tokenizer_fertility": corpus_tokenizer_fertility,
    "corpus_lexical_diversity": corpus_lexical_diversity,
    "corpus_yule_k": corpus_yule_k,
    "corpus_term_burstiness": corpus_term_burstiness,
    "corpus_partition_layout_plan": corpus_partition_layout_plan,
    "doc_readability": doc_readability,
    "doc_charclass_mix": doc_charclass_mix,
    "corpus_length_lognormal": corpus_length_lognormal,
    "corpus_cross_perplexity": corpus_cross_perplexity,
    "corpus_vocab_coverage": corpus_vocab_coverage,
    "multimodal_entropy": multimodal_entropy,
    "corpus_source_divergence": corpus_source_divergence,
    "corpus_profile": corpus_profile,
    "corpus_collocations": corpus_collocations,
    "corpus_ks_drift": corpus_ks_drift,
    "corpus_chi2_independence": corpus_chi2_independence,
    "doc_anova_length": doc_anova_length,
    "corpus_sample_weighted": corpus_sample_weighted,
    "corpus_ppl_buckets": corpus_ppl_buckets,
    "corpus_quality_calibration": corpus_quality_calibration,
    "emb_norm_audit": emb_norm_audit,
    "emb_isotropy": emb_isotropy,
    "emb_dim_variance": emb_dim_variance,
    "corpus_boilerplate_rate": corpus_boilerplate_rate,
    "emb_cosine_hist": emb_cosine_hist,
    "multimodal_integrity": multimodal_integrity,
    "knn_recall_report": knn_recall_report,
    "corpus_ref_integrity": corpus_ref_integrity,
    "corpus_sample_neyman": corpus_sample_neyman,
    "emb_intrinsic_dim": emb_intrinsic_dim,
    "corpus_lang_divergence": corpus_lang_divergence,
    "corpus_hapax": corpus_hapax,
    "corpus_quality_length_corr": corpus_quality_length_corr,
    "corpus_quality_length_spearman": corpus_quality_length_spearman,
    "emb_hubness": emb_hubness,
    "knn_ivf_nprobe_curve": knn_ivf_nprobe_curve,
    "corpus_token_gini": corpus_token_gini,
}


# ------------------------------------------------------------ oracle SQL

_W = SQL_WORDS.format(c="text")
_SH_CTES = f"""toks AS (
  SELECT doc_id, {_W} AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({SQL_SHINGLES.format(w='w')}) AS s
  FROM toks WHERE len(w) >= 3
)"""

# 60-bit keyed shingles — twin of doc_shingles(keyed=True): the
# join-heavy dedup oracles operate on the same 8-byte identities the
# Spark plans shuffle.
_SHK_CTE = f"""shk AS (
  SELECT DISTINCT doc_id, {sql_shingle_key('s')} AS s FROM sh
)"""

def _jaccard_ctes(src: str = "sh") -> str:
    return f"""sizes AS (
  SELECT doc_id, count(*) AS n FROM {src} GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
  FROM {src} a JOIN {src} b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jac AS (
  SELECT common.da, common.db,
         (floor((common.c / (sa.n + sb.n - common.c)) * 10000.0 + 0.5) / 10000.0) AS jaccard
  FROM common
  JOIN sizes sa ON common.da = sa.doc_id
  JOIN sizes sb ON common.db = sb.doc_id
)"""


# Stop-shingle document-frequency cap for the LSH scale path: shingles in
# more than this many docs are boilerplate and are dropped before banding
# and verify (operators/dedup.py drop_stop_shingles).
MINHASH_DF_CAP = 100

_SH_CAPPED_CTE = f"""shc AS (
  SELECT doc_id, s FROM shk
  WHERE s NOT IN (SELECT s FROM shk GROUP BY s HAVING count(*) > {MINHASH_DF_CAP})
)"""

_STOP_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
    for lang, ws in STOPWORDS.items()
}

# Shared MinHash-LSH pair derivation, ending in `lsh_pairs(da, db,
# jaccard)` — consumed by both the pair query's oracle and the
# connected-components clustering oracle.
_LSH_PAIR_CTES = f"""{_SH_CTES}, {_SHK_CTE}, {_SH_CAPPED_CTE},
        sigs AS (
          SELECT doc_id, {sql_minhash_aggs()} FROM shc GROUP BY doc_id
        ), bandsw AS (
          SELECT doc_id, {sql_band_hashes()} FROM sigs
        ), bands AS (
          SELECT doc_id, 0 AS bk, band0 AS bv FROM bandsw
          UNION ALL SELECT doc_id, 1, band1 FROM bandsw
          UNION ALL SELECT doc_id, 2, band2 FROM bandsw
          UNION ALL SELECT doc_id, 3, band3 FROM bandsw
        ), cand AS (
          SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM bands a JOIN bands b
            ON a.bk = b.bk AND a.bv = b.bv AND a.doc_id < b.doc_id
        ), {_jaccard_ctes('shc')},
        lsh_pairs AS (
          SELECT jac.da, jac.db, jac.jaccard
          FROM jac JOIN cand ON jac.da = cand.da AND jac.db = cand.db
          WHERE jac.jaccard >= {MINHASH_THRESHOLD}
        )"""

def _int8_oracle_sql() -> str:
    """Twin of ``emb_quantize_int8``: same 1-row min/max stats, same
    per-dimension affine quantizer, same left-folded error sum — every
    double op in the identical order, so the hashes match exactly."""
    mins = ", ".join(
        f"min(CAST(embedding[{i}] AS DOUBLE)) AS mn{i}"
        for i in range(1, DIM + 1)
    )
    maxs = ", ".join(
        f"max(CAST(embedding[{i}] AS DOUBLE)) AS mx{i}"
        for i in range(1, DIM + 1)
    )
    errs = []
    for i in range(1, DIM + 1):
        x = f"CAST(embedding[{i}] AS DOUBLE)"
        recon = (
            f"CASE WHEN (mx{i} - mn{i}) > 0 THEN mn{i} + "
            f"floor(({x} - mn{i}) * 255.0 / (mx{i} - mn{i}) + 0.5)"
            f" * (mx{i} - mn{i}) / 255.0 ELSE mn{i} END"
        )
        errs.append(f"({x} - ({recon})) AS e{i}")
    sq = "(0.0 + " + " + ".join(
        f"e{i} * e{i}" for i in range(1, DIM + 1)
    ) + ")"
    mx = "greatest(" + ", ".join(
        f"abs(e{i})" for i in range(1, DIM + 1)
    ) + ")"
    return f"""
        WITH stats AS (SELECT {mins}, {maxs} FROM embeddings),
        errs AS (
          SELECT vec_id, {', '.join(errs)}
          FROM embeddings CROSS JOIN stats
        )
        SELECT vec_id,
               {sql_quantize(f'({sq} / 64.0)', 9)} AS mse,
               {sql_quantize(mx, 9)} AS max_abs_err
        FROM errs
    """


_INT8_ORACLE = _int8_oracle_sql()


def _pq_ctes() -> str:
    """Shared PQ CTE chain ending in ``adcrk(query_id, neighbor_id,
    adc, rk)``: encode = rank-1 codeword per (vector, subspace) by
    quantized squared L2 with cid tie-break; ADC = the 8 quantized
    table entries summed in subspace order via an ordered list — every
    double op in the same order as the numpy path."""
    sub = DIM // PQ_M

    def dist(a: str, b: str) -> str:
        terms = " + ".join(
            f"({a}[s.m*{sub}+{j}] - {b}[s.m*{sub}+{j}])"
            f" * ({a}[s.m*{sub}+{j}] - {b}[s.m*{sub}+{j}])"
            for j in range(1, sub + 1)
        )
        return f"(floor((0.0 + {terms}) * 1000000.0 + 0.5) / 1000000.0)"

    adc_chain = "(0.0 + " + " + ".join(
        f"ds[{m}]" for m in range(1, PQ_M + 1)
    ) + ")"
    return f"""{sql_unit_cte()},
        subsp AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
        cw AS (SELECT vec_id AS cid, u FROM unitv WHERE vec_id < {PQ_CODES}),
        enc AS (
          SELECT vec_id, m, cid AS code FROM (
            SELECT v.vec_id, s.m, c.cid,
                   row_number() OVER (
                     PARTITION BY v.vec_id, s.m
                     ORDER BY {dist('v.u', 'c.u')} ASC, c.cid
                   ) AS rk
            FROM unitv v CROSS JOIN subsp s CROSS JOIN cw c
          ) WHERE rk = 1
        ),
        qd AS (
          SELECT q.vec_id AS query_id, s.m, c.cid, {dist('q.u', 'c.u')} AS d
          FROM unitv q CROSS JOIN subsp s CROSS JOIN cw c
          WHERE q.vec_id < {N_QUERY_VECS}
        ),
        gath AS (
          SELECT qd.query_id, e.vec_id AS neighbor_id,
                 list(qd.d ORDER BY e.m) AS ds
          FROM enc e JOIN qd ON qd.m = e.m AND qd.cid = e.code
          WHERE e.vec_id <> qd.query_id
          GROUP BY 1, 2
        ),
        adct AS (
          SELECT query_id, neighbor_id,
                 (floor({adc_chain} * 1000000.0 + 0.5) / 1000000.0) AS adc
          FROM gath
        ),
        adcrk AS (
          SELECT query_id, neighbor_id, adc,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY adc ASC, neighbor_id
                 ) AS rk
          FROM adct
        )"""


_PQ_ORACLE = f"""
    WITH {_pq_ctes()}
    SELECT query_id, neighbor_id, adc, rk
    FROM adcrk WHERE rk <= {KNN_K}
"""

_PQ_RERANK_ORACLE = f"""
    WITH {_pq_ctes()},
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             (floor({sql_dot('q.u', 'c.u')} * 1000000.0 + 0.5) / 1000000.0) AS cos
      FROM adcrk s
      JOIN unitv q ON q.vec_id = s.query_id
      JOIN unitv c ON c.vec_id = s.neighbor_id
      WHERE s.rk <= {{shortlist}}
    )
    SELECT query_id, neighbor_id, cos, rk FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (
               PARTITION BY query_id ORDER BY cos DESC, neighbor_id
             ) AS rk
      FROM rer
    ) WHERE rk <= {KNN_K}
""".format(shortlist=PQ_SHORTLIST)


_SAMPLE_CASE = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN '{hexthr}'" for lang, hexthr in _SAMPLE_HEX.items()
) + " END"


# doc_id -> quality_score (+ passthrough columns), shared by the
# quality-policy dedup oracle; mirrors plans.documents.quality_score_col.
def _quality_docs_cte() -> str:
    from ..functions.text import sql_quantize as _sq

    score = _sq(
        "0.4 * least(n_words_d / 100.0, 1.0)"
        " + 0.3 * (1.0 - stop_hits / n_words_d)"
        " + 0.3 * least((alpha / n_words_d) / 8.0, 1.0)",
        4,
    )
    return f"""qdocs AS (
  SELECT doc_id, lang, source, {score} AS quality_score
  FROM (
    SELECT doc_id, lang, source,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
             AS n_words_d,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
             AS alpha,
           CAST(len(list_filter({_W}, t -> list_contains({_Q_STOPS}, t)))
             AS DOUBLE) AS stop_hits
    FROM documents
  )
)"""

_Q_STOPS = _STOP_SQL["en"]

# Shared approximate-kNN-graph derivation, ending in `knng(da, db,
# cos, rk)` — consumed by the knn_graph oracle and the mutual-kNN
# clustering oracle.
_BAND_SELECTS = "\n          UNION ALL\n".join(
    f"""          SELECT vec_id, u, {band} AS band,
                 {sql_sign_bucket_dynamic('embedding',
                                          offset=band * BAND_STRIDE)}
                   AS bucket
          FROM unitv CROSS JOIN nb"""
    for band in range(KNN_BANDS)
)

_KNN_GRAPH_CTES = f"""{sql_unit_cte()},
        {sql_adaptive_bits_cte('embeddings')},
        bq AS (
{_BAND_SELECTS}
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS da, b.vec_id AS db,
                 (floor({sql_dot('a.u', 'b.u')} * 1000000.0 + 0.5) / 1000000.0) AS cos
          FROM bq a
          JOIN bq b ON a.band = b.band AND a.bucket = b.bucket
                   AND a.vec_id <> b.vec_id
        ),
        knng AS (
          SELECT da, db, cos, rk FROM (
            SELECT da, db, cos,
                   row_number() OVER (
                     PARTITION BY da ORDER BY cos DESC, db
                   ) AS rk
            FROM cand
          ) WHERE rk <= {KNN_GRAPH_K}
        )"""

ORACLE = {
    "multimodal_frames": """
        WITH dec AS (
          SELECT doc_id,
                 CAST(strlen(text) AS BIGINT) AS n_bytes,
                 CAST(1 + strlen(text) % 7 AS BIGINT) AS n_frames
          FROM documents
        )
        SELECT doc_id, n_bytes, n_frames,
               CAST(unnest(generate_series(0, n_frames - 1, 2)) AS BIGINT)
                 AS frame_idx
        FROM dec
    """,
    "dedup_apply": """
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE doc_id IN (
          SELECT min(doc_id)
          FROM documents
          GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
        )
    """,
    "knn_ivf": f"""
        WITH {sql_unit_cte()},
        cents AS (
          SELECT vec_id AS cid, u AS cu FROM unitv
          WHERE vec_id < {IVF_CENTROIDS}
        ),
        assign AS (
          SELECT vec_id, cid AS bucket FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY (floor({sql_dot('v.u', 'c.cu')} * 1000000.0 + 0.5) / 1000000.0) DESC,
                              c.cid
                   ) AS rk
            FROM unitv v CROSS JOIN cents c
          ) WHERE rk = 1
        ),
        probes AS (
          SELECT vec_id AS query_id, cid AS bucket FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY (floor({sql_dot('v.u', 'c.cu')} * 1000000.0 + 0.5) / 1000000.0) DESC,
                              c.cid
                   ) AS rk
            FROM unitv v CROSS JOIN cents c
            WHERE v.vec_id < {N_QUERY_VECS}
          ) WHERE rk <= {IVF_NPROBE}
        )
        SELECT query_id, neighbor_id, cos, rk FROM (
          SELECT p.query_id, a.vec_id AS neighbor_id,
                 (floor({sql_dot('q.u', 'n.u')} * 1000000.0 + 0.5) / 1000000.0) AS cos,
                 row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY (floor({sql_dot('q.u', 'n.u')} * 1000000.0 + 0.5) / 1000000.0) DESC,
                            a.vec_id
                 ) AS rk
          FROM probes p
          JOIN assign a ON p.bucket = a.bucket AND a.vec_id <> p.query_id
          JOIN unitv q ON q.vec_id = p.query_id
          JOIN unitv n ON n.vec_id = a.vec_id
        ) WHERE rk <= {KNN_K}
    """,
    "doc_tfidf_topk": f"""
        WITH tk AS (
          SELECT doc_id, unnest({SQL_WORDS.format(c='text')}) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS n FROM tk GROUP BY 1, 2
        ), doclen AS (
          SELECT doc_id, sum(n) AS len FROM tf GROUP BY 1
        ), dfreq AS (
          SELECT term, count(*) AS df FROM tf GROUP BY 1
        ), nd AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 (floor(((CAST(tf.n AS DOUBLE) / doclen.len)
                         * ln(CAST(nd.n_docs AS DOUBLE) / dfreq.df))
                        * 1000000.0 + 0.5) / 1000000.0) AS tfidf
          FROM tf
          JOIN doclen USING (doc_id)
          JOIN dfreq USING (term)
          CROSS JOIN nd
        )
        SELECT doc_id, term, tfidf, rk FROM (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term
          ) AS rk FROM scored
        ) WHERE rk <= {TFIDF_K}
    """,
    "corpus_ngrams_topk": f"""
        WITH {_SH_CTES},
        counts AS (SELECT s, count(*) AS doc_freq FROM sh GROUP BY s)
        SELECT s AS shingle, doc_freq, rk FROM (
          SELECT *, row_number() OVER (ORDER BY doc_freq DESC, s) AS rk
          FROM counts
        ) WHERE rk <= {NGRAM_K}
    """,
    "doc_tokens": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT) AS n_tokens,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words,
               CAST(length(text) AS BIGINT) AS n_chars_c
        FROM documents
    """,
    "doc_quality": f"""
        WITH base AS (
          SELECT doc_id,
                 CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_words,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
                 CAST(len(list_filter({_W}, t -> list_contains({_Q_STOPS}, t))) AS DOUBLE) AS stop_hits
          FROM documents
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               {sql_quantize('n_chars / n_words', 4)} AS chars_per_word,
               {sql_quantize('alpha / n_chars', 4)} AS alpha_ratio,
               {sql_quantize('stop_hits / n_words', 4)} AS stopword_ratio,
               {sql_quantize(
                   '0.4 * least(n_words / 100.0, 1.0)'
                   ' + 0.3 * (1.0 - stop_hits / n_words)'
                   ' + 0.3 * least((alpha / n_words) / 8.0, 1.0)', 4)} AS quality_score
        FROM base
    """,
    "doc_langid": f"""
        WITH scored AS (
          SELECT doc_id, lang AS labeled_lang,
                 CAST(len(list_filter({_W}, t -> list_contains({_STOP_SQL['en']}, t))) AS BIGINT) AS s_en,
                 CAST(len(list_filter({_W}, t -> list_contains({_STOP_SQL['de']}, t))) AS BIGINT) AS s_de,
                 CAST(len(list_filter({_W}, t -> list_contains({_STOP_SQL['es']}, t))) AS BIGINT) AS s_es,
                 CAST(len(list_filter({_W}, t -> list_contains({_STOP_SQL['fr']}, t))) AS BIGINT) AS s_fr,
                 CAST(len(regexp_extract_all(text, '{CJK_PATTERN}')) AS BIGINT) AS s_zh
          FROM documents
        )
        SELECT *, CASE
                 WHEN s_zh > 0 THEN 'zh'
                 WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
                 WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
                 WHEN s_es >= s_fr THEN 'es'
                 ELSE 'fr' END AS pred_lang
        FROM scored
    """,
    "doc_fingerprint": r"""
        SELECT doc_id,
               md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        FROM documents
    """,
    "dedup_exact": r"""
        SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
               min(doc_id) AS keep_id,
               count(*) AS n_docs
        FROM documents
        GROUP BY 1
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_SH_CTES}, {_SHK_CTE}, {_jaccard_ctes('shk')}
        SELECT da, db, jaccard FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    "dedup_lsh_recall": f"""
        WITH e AS (
          SELECT da, db FROM (
            WITH {_SH_CTES}, {_SHK_CTE}, {_jaccard_ctes('shk')}
            SELECT da, db FROM jac WHERE jaccard >= {MINHASH_THRESHOLD}
          )
        ),
        l AS (
          SELECT da, db FROM ({{LSH_ORACLE}})
        ),
        ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM e),
        nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh FROM l),
        nc AS (
          SELECT CAST(count(*) AS BIGINT) AS n_common
          FROM e JOIN l USING (da, db)
        )
        SELECT n_exact, n_lsh, n_common,
               CASE WHEN n_exact > 0 THEN
                 {sql_quantize('CAST(n_common AS DOUBLE) / n_exact', 6)}
               END AS recall,
               CASE WHEN n_lsh > 0 THEN
                 {sql_quantize('CAST(n_common AS DOUBLE) / n_lsh', 6)}
               END AS precision
        FROM ne CROSS JOIN nl CROSS JOIN nc
    """,
    "dedup_lsh_s_curve": f"""
        WITH g AS (
          SELECT i / 20.0 AS jaccard_s FROM generate_series(1, 19) t(i)
        )
        SELECT (floor(jaccard_s * 100.0 + 0.5) / 100.0) AS jaccard_s,
               CAST(4 AS BIGINT) AS n_bands,
               CAST(4 AS BIGINT) AS rows_per_band,
               (floor((1.0 - power(1.0 - power(jaccard_s, 4.0), 4.0))
                  * 1000000.0 + 0.5) / 1000000.0) AS p_candidate,
               (floor(power(0.25, 0.25) * 1000000.0 + 0.5)
                  / 1000000.0) AS s50_threshold
        FROM g
    """,
    "dedup_threshold_sweep": f"""
        WITH {_SH_CTES}, {_SHK_CTE}, {_jaccard_ctes('shk')},
        pe AS (
          SELECT t.threshold, j.da, j.db, j.jaccard
          FROM jac j
          CROSS JOIN (VALUES (0.5), (0.6), (0.7), (0.8), (0.9))
            t(threshold)
          WHERE j.jaccard >= t.threshold
        ),
        np AS (
          SELECT threshold,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 {sql_quantize('avg(jaccard)', 4)} AS mean_jaccard
          FROM pe GROUP BY 1
        ),
        nd AS (
          SELECT threshold, CAST(count(DISTINCT d) AS BIGINT)
                   AS n_docs_affected
          FROM (
            SELECT threshold, da AS d FROM pe
            UNION ALL SELECT threshold, db FROM pe
          ) GROUP BY 1
        )
        SELECT (floor(np.threshold * 100.0 + 0.5) / 100.0)
                 AS threshold,
               np.n_pairs, np.mean_jaccard,
               coalesce(nd.n_docs_affected, 0) AS n_docs_affected
        FROM np LEFT JOIN nd USING (threshold)
    """,
    "corpus_prep_e2e": f"""
        WITH q AS (
          SELECT doc_id, lang, source, n_chars, text,
                 {sql_quantize(
                     '0.4 * least(n_words_d / 100.0, 1.0)'
                     ' + 0.3 * (1.0 - stop_hits / n_words_d)'
                     ' + 0.3 * least((alpha / n_words_d) / 8.0, 1.0)', 4)}
                   AS quality_score,
                 CASE
                   WHEN s_zh > 0 THEN 'zh'
                   WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
                   WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
                   WHEN s_es >= s_fr THEN 'es'
                   ELSE 'fr' END AS pred_lang
          FROM (
            SELECT *,
                   CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_words_d,
                   CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS alpha,
                   CAST(len(list_filter({_W}, t -> list_contains({_Q_STOPS}, t))) AS DOUBLE) AS stop_hits,
                   CAST(len(list_filter({_W}, t -> list_contains({_STOP_SQL['en']}, t))) AS BIGINT) AS s_en,
                   CAST(len(list_filter({_W}, t -> list_contains({_STOP_SQL['de']}, t))) AS BIGINT) AS s_de,
                   CAST(len(list_filter({_W}, t -> list_contains({_STOP_SQL['es']}, t))) AS BIGINT) AS s_es,
                   CAST(len(list_filter({_W}, t -> list_contains({_STOP_SQL['fr']}, t))) AS BIGINT) AS s_fr,
                   CAST(len(regexp_extract_all(text, '{CJK_PATTERN}')) AS BIGINT) AS s_zh
            FROM documents
          )
        ), gated AS (
          SELECT doc_id, lang, source, n_chars, text, quality_score, pred_lang
          FROM q
          WHERE quality_score >= {PREP_QUALITY_MIN}
            AND pred_lang IN ({', '.join(repr(x) for x in PREP_LANGS)})
        ), keepers AS (
          SELECT min(doc_id) AS doc_id FROM gated
          GROUP BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
        ), corpus AS (
          SELECT * FROM gated WHERE doc_id IN (SELECT doc_id FROM keepers)
        ), toksc AS (
          SELECT doc_id, {_W} AS w FROM corpus
        ), shx AS (
          SELECT DISTINCT doc_id, unnest({SQL_SHINGLES.format(w='w')}) AS s
          FROM toksc WHERE len(w) >= 3
        ), shkx AS (
          SELECT DISTINCT doc_id, {sql_shingle_key('s')} AS s FROM shx
        ), shc2 AS (
          SELECT doc_id, s FROM shkx
          WHERE s NOT IN (SELECT s FROM shkx GROUP BY s
                          HAVING count(*) > {MINHASH_DF_CAP})
        ), sigs AS (
          SELECT doc_id, {sql_minhash_aggs()} FROM shc2 GROUP BY doc_id
        ), bandsw AS (
          SELECT doc_id, {sql_band_hashes()} FROM sigs
        ), bands AS (
          SELECT doc_id, 0 AS bk, band0 AS bv FROM bandsw
          UNION ALL SELECT doc_id, 1, band1 FROM bandsw
          UNION ALL SELECT doc_id, 2, band2 FROM bandsw
          UNION ALL SELECT doc_id, 3, band3 FROM bandsw
        ), cand AS (
          SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM bands a JOIN bands b
            ON a.bk = b.bk AND a.bv = b.bv AND a.doc_id < b.doc_id
        ), sizes2 AS (
          SELECT doc_id, count(*) AS n FROM shc2 GROUP BY doc_id
        ), common2 AS (
          SELECT cand.da, cand.db, count(*) AS c
          FROM cand
          JOIN shc2 a ON a.doc_id = cand.da
          JOIN shc2 b ON b.doc_id = cand.db AND b.s = a.s
          GROUP BY 1, 2
        ), drops AS (
          SELECT DISTINCT common2.db
          FROM common2
          JOIN sizes2 sa ON common2.da = sa.doc_id
          JOIN sizes2 sb ON common2.db = sb.doc_id
          WHERE (floor((common2.c / (sa.n + sb.n - common2.c)) * 10000.0 + 0.5)
                  / 10000.0) >= {MINHASH_THRESHOLD}
        )
        SELECT doc_id, lang, source, n_chars, quality_score, pred_lang
        FROM corpus WHERE doc_id NOT IN (SELECT db FROM drops)
    """,
    "dedup_minhash_lsh": f"""
        WITH {_LSH_PAIR_CTES}
        SELECT da, db, jaccard FROM lsh_pairs
    """,
    "dedup_clusters": f"""
        WITH RECURSIVE {_LSH_PAIR_CTES},
        edges AS (
          SELECT da, db FROM lsh_pairs
          UNION
          SELECT db AS da, da AS db FROM lsh_pairs
        ),
        walk(id, r) AS (
          SELECT da, da FROM edges
          UNION
          SELECT w.id, e.db FROM walk w JOIN edges e ON e.da = w.r
        )
        SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        FROM walk GROUP BY id
    """,
    "dedup_keep_best": f"""
        WITH RECURSIVE {_LSH_PAIR_CTES},
        edges AS (
          SELECT da, db FROM lsh_pairs
          UNION
          SELECT db AS da, da AS db FROM lsh_pairs
        ),
        walk(id, r) AS (
          SELECT da, da FROM edges
          UNION
          SELECT w.id, e.db FROM walk w JOIN edges e ON e.da = w.r
        ),
        clusters AS (
          SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
          FROM walk GROUP BY id
        ),
        {_quality_docs_cte()},
        clustered AS (
          SELECT q.doc_id, q.lang, q.source, q.quality_score, c.cluster_id
          FROM qdocs q JOIN clusters c ON q.doc_id = c.doc_id
        ),
        best AS (
          SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (
              PARTITION BY cluster_id
              ORDER BY quality_score DESC, doc_id
            ) AS rk FROM clustered
          ) WHERE rk = 1
        )
        SELECT c.doc_id, c.lang, c.source, c.quality_score, c.cluster_id
        FROM clustered c JOIN best ON c.doc_id = best.doc_id
        UNION ALL
        SELECT q.doc_id, q.lang, q.source, q.quality_score,
               CAST(NULL AS BIGINT) AS cluster_id
        FROM qdocs q
        WHERE q.doc_id NOT IN (SELECT doc_id FROM clusters)
    """,
    "emb_neardup": f"""
        WITH {sql_unit_cte()}
        SELECT a.vec_id AS da, b.vec_id AS db,
               (floor({sql_dot('a.u', 'b.u')} * 1000000.0 + 0.5) / 1000000.0) AS cos
        FROM unitv a JOIN unitv b ON a.vec_id < b.vec_id
        WHERE (floor({sql_dot('a.u', 'b.u')} * 1000000.0 + 0.5) / 1000000.0) >= {NEARDUP_COS}
    """,
    "emb_dedup_apply": f"""
        WITH RECURSIVE {sql_unit_cte()},
        nd AS (
          SELECT a.vec_id AS da, b.vec_id AS db
          FROM unitv a JOIN unitv b ON a.vec_id < b.vec_id
          WHERE (floor({sql_dot('a.u', 'b.u')} * 1000000.0 + 0.5) / 1000000.0)
                  >= {NEARDUP_COS}
        ),
        edges AS (
          SELECT da, db FROM nd UNION SELECT db AS da, da AS db FROM nd
        ),
        walk(id, r) AS (
          SELECT da, da FROM edges
          UNION
          SELECT w.id, e.db FROM walk w JOIN edges e ON e.da = w.r
        ),
        dropset AS (
          SELECT id FROM walk GROUP BY id HAVING min(r) <> id
        )
        SELECT e.vec_id, e.label FROM embeddings e
        WHERE e.vec_id NOT IN (SELECT id FROM dropset)
    """,
    "knn_bruteforce": f"""
        WITH {sql_unit_cte()}
        SELECT query_id, neighbor_id, cos, rk FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 (floor({sql_dot('q.u', 'c.u')} * 1000000.0 + 0.5) / 1000000.0) AS cos,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY (floor({sql_dot('q.u', 'c.u')} * 1000000.0 + 0.5) / 1000000.0) DESC,
                            c.vec_id
                 ) AS rk
          FROM unitv q JOIN unitv c ON q.vec_id <> c.vec_id
          WHERE q.vec_id < {N_QUERY_VECS}
        ) WHERE rk <= {KNN_K}
    """,
    "semantic_search": f"""
        WITH {sql_unit_cte()},
        knn AS (
          SELECT query_id, neighbor_id, cos, rk FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   (floor({sql_dot('q.u', 'c.u')} * 1000000.0 + 0.5) / 1000000.0) AS cos,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY (floor({sql_dot('q.u', 'c.u')} * 1000000.0 + 0.5) / 1000000.0) DESC,
                              c.vec_id
                   ) AS rk
            FROM unitv q JOIN unitv c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {N_QUERY_VECS}
          ) WHERE rk <= {KNN_K}
        )
        SELECT k.query_id, k.rk, k.neighbor_id AS doc_id, k.cos,
               d.lang, d.source, d.n_chars
        FROM knn k JOIN documents d ON k.neighbor_id = d.doc_id
    """,
    "emb_quantize_int8": _INT8_ORACLE,
    "knn_pq": _PQ_ORACLE,
    "knn_pq_rerank": _PQ_RERANK_ORACLE,
    "emb_pq_export": f"""
        WITH {_pq_ctes()}
        SELECT vec_id,
               {', '.join(
                   f"max(CASE WHEN m = {m} THEN code END) AS c{m}"
                   for m in range(PQ_M)
               )}
        FROM enc GROUP BY vec_id
    """,
    "dedup_index_export": f"""
        WITH {_SH_CTES}, {_SHK_CTE}, {_SH_CAPPED_CTE},
        sigs AS (
          SELECT doc_id, {sql_minhash_aggs()} FROM shc GROUP BY doc_id
        )
        SELECT doc_id, {sql_band_hashes()} FROM sigs
    """,
    "knn_lsh": f"""
        WITH {sql_unit_cte()},
        {sql_adaptive_bits_cte('embeddings')},
        bq AS (
{_BAND_SELECTS}
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 (floor({sql_dot('q.u', 'c.u')} * 1000000.0 + 0.5)
                   / 1000000.0) AS cos
          FROM bq q
          JOIN bq c ON q.band = c.band AND q.bucket = c.bucket
                   AND q.vec_id <> c.vec_id
          WHERE q.vec_id < {N_QUERY_VECS}
        )
        SELECT query_id, neighbor_id, cos, rk FROM (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                 ) AS rk
          FROM cand
        ) WHERE rk <= {LSH_K}
    """,
    "emb_buckets": f"""
        WITH {sql_adaptive_bits_cte('embeddings')}
        SELECT {sql_sign_bucket_dynamic('embedding')} AS bucket,
               count(*) AS n_vecs
        FROM embeddings CROSS JOIN nb
        GROUP BY 1
    """,
    "knn_graph": f"""
        WITH {_KNN_GRAPH_CTES}
        SELECT da, db, cos, rk FROM knng
    """,
    "emb_clusters": f"""
        WITH RECURSIVE {_KNN_GRAPH_CTES},
        mut AS (
          SELECT a.da, a.db FROM knng a
          JOIN knng b ON a.da = b.db AND a.db = b.da
          WHERE a.da < a.db
        ),
        edges AS (
          SELECT da, db FROM mut
          UNION
          SELECT db AS da, da AS db FROM mut
        ),
        walk(id, r) AS (
          SELECT da, da FROM edges
          UNION
          SELECT w.id, e.db FROM walk w JOIN edges e ON e.da = w.r
        )
        SELECT id AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id
        FROM walk GROUP BY id
    """,
    "multimodal_meta": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               64 + CAST(octet_length(encode(text)) AS BIGINT) % 997 AS fake_width,
               64 + (CAST(octet_length(encode(text)) AS BIGINT) * 31) % 991 AS fake_height,
               CASE CAST(octet_length(encode(text)) AS BIGINT) % 3
                 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS fake_format
        FROM documents
    """,
    "doc_pii_scrub": f"""
        WITH injected AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com ip 10.0.'
                      || CAST(doc_id % 256 AS VARCHAR) || '.7'
                      || CASE WHEN doc_id % 3 = 0
                              THEN ' call +1-555-'
                                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                              ELSE '' END AS txt
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(txt, '{PII_EMAIL}')) AS BIGINT)
                 AS n_emails,
               CAST(len(regexp_extract_all(txt, '{PII_PHONE}')) AS BIGINT)
                 AS n_phones,
               CAST(len(regexp_extract_all(txt, '{PII_IP}')) AS BIGINT)
                 AS n_ips,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(txt, '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_PHONE}', '<PHONE>', 'g'),
                 '{PII_IP}', '<IP>', 'g') AS scrubbed
        FROM injected
    """,
    "corpus_sample_stratified": f"""
        SELECT doc_id, lang, source, sample_key
        FROM (
          SELECT doc_id, lang, source,
                 substr(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 4)
                   AS sample_key
          FROM documents
        )
        WHERE sample_key < {_SAMPLE_CASE}
    """,
    "doc_repetition": f"""
        WITH toks AS (
          SELECT doc_id, {_W} AS w FROM documents
        ), tri AS (
          SELECT doc_id, unnest({SQL_SHINGLES.format(w='w')}) AS s
          FROM toks WHERE len(w) >= 3
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS total_ngrams,
               CAST(count(DISTINCT s) AS BIGINT) AS distinct_ngrams,
               {sql_quantize(
                   '1.0 - CAST(count(DISTINCT s) AS DOUBLE) / count(*)', 4)}
                 AS dup_ratio
        FROM tri GROUP BY doc_id
    """,
    "corpus_mix_report": f"""
        WITH per AS (
          SELECT lang, source, count(*) AS n_docs,
                 CAST(sum(len(regexp_extract_all(text, '{TOKEN_PATTERN}')))
                   AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1, 2
        ), tot AS (
          SELECT CAST(sum(n_tokens) AS DOUBLE) AS corpus_tokens FROM per
        )
        SELECT lang, source, n_docs, n_tokens,
               {sql_quantize('n_tokens / corpus_tokens', 6)} AS token_share
        FROM per CROSS JOIN tot
    """,
    "doc_unigram_surprisal": f"""
        WITH tk AS (
          SELECT doc_id, unnest({SQL_WORDS.format(c='text')}) AS term
          FROM documents
        ), tf AS (
          SELECT doc_id, term, count(*) AS n FROM tk GROUP BY 1, 2
        ), cf AS (
          SELECT term, CAST(sum(n) AS BIGINT) AS ctf FROM tf GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(ctf) AS BIGINT) AS corpus_tokens FROM cf
        )
        SELECT tf.doc_id,
               CAST(sum(tf.n) AS BIGINT) AS n_tokens,
               {sql_quantize(
                   'sum(tf.n * -ln(CAST(cf.ctf AS DOUBLE) / corpus_tokens))'
                   ' / sum(tf.n)', 6)} AS mean_surprisal
        FROM tf JOIN cf ON tf.term = cf.term CROSS JOIN tot
        GROUP BY tf.doc_id
    """,
    "doc_ngram_novelty": f"""
        WITH {_SH_CTES},
        counts AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        vocab AS (
          SELECT s FROM (
            SELECT s, row_number() OVER (ORDER BY df DESC, s) AS rk
            FROM counts
          ) WHERE rk <= {NOVELTY_VOCAB_K}
        ),
        sizes AS (
          SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
        ),
        hits AS (
          SELECT sh.doc_id, count(*) AS n_in_vocab
          FROM sh JOIN vocab ON sh.s = vocab.s
          GROUP BY sh.doc_id
        )
        SELECT sizes.doc_id,
               CAST(sizes.n_shingles AS BIGINT) AS n_shingles,
               CAST(coalesce(hits.n_in_vocab, 0) AS BIGINT) AS n_in_vocab,
               {sql_quantize(
                   '1.0 - CAST(coalesce(hits.n_in_vocab, 0) AS DOUBLE)'
                   ' / sizes.n_shingles', 4)} AS novelty
        FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id
    """,
    "corpus_contamination": f"""
        WITH {_SH_CTES},
        bench AS (
          SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % {CONTAM_MOD} = 0
        ),
        corpus AS (
          SELECT doc_id, s FROM sh WHERE doc_id % {CONTAM_MOD} <> 0
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM corpus GROUP BY 1),
        overlap AS (
          SELECT c.doc_id, b.bench_id, count(*) AS c
          FROM corpus c JOIN bench b ON c.s = b.s
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT o.doc_id, o.bench_id,
                 {sql_quantize('CAST(o.c AS DOUBLE) / sizes.n', 4)}
                   AS overlap_ratio
          FROM overlap o JOIN sizes ON o.doc_id = sizes.doc_id
        )
        SELECT doc_id, bench_id, overlap_ratio,
               overlap_ratio >= {CONTAM_THRESHOLD} AS contaminated
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY overlap_ratio DESC, bench_id
          ) AS rk FROM scored
        ) WHERE rk = 1
    """,
    "corpus_rebalance": f"""
        WITH d AS (
          SELECT doc_id, lang, source,
                 CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}'))
                   AS BIGINT) AS n_tokens
          FROM documents
        ),
        per_lang AS (
          SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
          FROM d GROUP BY 1
        ),
        tot AS (
          SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens
          FROM per_lang
        ),
        rates AS (
          SELECT lang,
                 least(1.0,
                       (CASE lang {' '.join(
                           f"WHEN '{lang}' THEN {share}"
                           for lang, share in MIX_TARGETS.items()
                       )} END * total_tokens) / lang_tokens) AS keep_rate
          FROM per_lang CROSS JOIN tot
        )
        SELECT d.doc_id, d.lang, d.source, d.n_tokens
        FROM d JOIN rates ON d.lang = rates.lang
        WHERE (CAST(d.doc_id * {KNUTH} AS BIGINT) % {DRAW_MOD})
              / {float(DRAW_MOD)} < rates.keep_rate
    """,
    "dedup_substring": f"""
        WITH toks AS (
          SELECT doc_id, {SQL_WORDS.format(c='text')} AS w FROM documents
        ),
        base AS (
          SELECT doc_id, w FROM toks WHERE len(w) >= {SUBSTR_K}
        ),
        pre AS (
          SELECT doc_id, w,
                 unnest(generate_series(1, len(w)-{SUBSTR_K}+1)) AS i
          FROM base
        ),
        grams AS (
          SELECT doc_id,
                 md5(array_to_string(w[i:i+{SUBSTR_K}-1], ' ')) AS g
          FROM pre
        ),
        dup AS (
          SELECT g FROM grams GROUP BY g
          HAVING count(DISTINCT doc_id) >= 2
        ),
        perdoc AS (
          SELECT doc_id, count(*) AS dup_spans
          FROM grams WHERE g IN (SELECT g FROM dup)
          GROUP BY doc_id
        )
        SELECT b.doc_id,
               CAST(len(b.w) - {SUBSTR_K - 1} AS BIGINT) AS n_windows,
               CAST(coalesce(p.dup_spans, 0) AS BIGINT) AS dup_spans,
               {sql_quantize(
                   'CAST(coalesce(p.dup_spans, 0) AS DOUBLE)'
                   f' / (len(b.w) - {SUBSTR_K - 1})', 4)} AS dup_share
        FROM base b LEFT JOIN perdoc p ON b.doc_id = p.doc_id
    """,
    "corpus_shuffle_shards": f"""
        WITH sharded AS (
          SELECT doc_id,
                 CAST((CAST(doc_id * {KNUTH} AS BIGINT) % {DRAW_MOD})
                      % {N_SHARDS} AS BIGINT) AS shard,
                 md5('{SHUFFLE_SEED}|' || CAST(doc_id AS VARCHAR))
                   AS sort_key
          FROM documents
        )
        SELECT doc_id, shard,
               CAST(row_number() OVER (
                 PARTITION BY shard ORDER BY sort_key, doc_id
               ) AS BIGINT) AS pos
        FROM sharded
    """,
    "corpus_pack": f"""
        WITH RECURSIVE d AS (
          SELECT doc_id, source,
                 CAST({SQL_TOKEN_COUNT.format(c='text')} AS BIGINT)
                   AS n_tokens,
                 row_number() OVER (
                   PARTITION BY source ORDER BY doc_id
                 ) AS rn
          FROM documents
        ),
        walk AS (
          SELECT source, rn, doc_id, n_tokens,
                 CAST(0 AS BIGINT) AS pack_id, n_tokens AS acc
          FROM d WHERE rn = 1
          UNION ALL
          SELECT s.source, s.rn, s.doc_id, s.n_tokens,
                 CASE WHEN w.acc > 0
                       AND w.acc + s.n_tokens > {PACK_BUDGET_TOKENS}
                      THEN w.pack_id + 1 ELSE w.pack_id END,
                 CASE WHEN w.acc > 0
                       AND w.acc + s.n_tokens > {PACK_BUDGET_TOKENS}
                      THEN s.n_tokens ELSE w.acc + s.n_tokens END
          FROM walk w JOIN d s
            ON s.source = w.source AND s.rn = w.rn + 1
        )
        SELECT doc_id, source, n_tokens, pack_id FROM walk
    """,
    "emb_label_centroids": """
        WITH ex AS (
          SELECT label,
                 generate_subscripts(embedding, 1) AS dim,
                 unnest(embedding) AS val
          FROM embeddings
        ),
        cent AS (
          SELECT label, dim,
                 sum(CAST(val AS DOUBLE)) / count(*) AS c,
                 count(*) AS n
          FROM ex GROUP BY 1, 2
        )
        SELECT label,
               CAST(max(n) AS BIGINT) AS n_vecs,
               sqrt(sum(c * c)) AS centroid_norm
        FROM cent GROUP BY label
    """,
    "emb_covariance": f"""
        WITH ex AS (
          SELECT vec_id,
                 unnest(generate_series(0, len(embedding) - 1)) AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS val
          FROM embeddings
        ),
        pairs AS (
          SELECT a.dim AS i, b.dim AS j, sum(a.val * b.val) AS sxy
          FROM ex a JOIN ex b USING (vec_id)
          WHERE a.dim <= b.dim
          GROUP BY 1, 2
        ),
        means AS (
          SELECT dim, sum(val) AS sx, count(*) AS n FROM ex GROUP BY 1
        )
        SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
               {sql_quantize('sxy / mi.n - (mi.sx / mi.n) * (mj.sx / mj.n)', 6)} AS cov
        FROM pairs
        JOIN means mi ON mi.dim = i
        JOIN means mj ON mj.dim = j
        ORDER BY i, j
    """,
    "corpus_split": f"""
        SELECT doc_id, lang, source,
               CASE
                 WHEN (CAST(doc_id * {KNUTH} AS BIGINT) % {DRAW_MOD})
                      / {float(DRAW_MOD)} < {SPLIT_TRAIN} THEN 'train'
                 WHEN (CAST(doc_id * {KNUTH} AS BIGINT) % {DRAW_MOD})
                      / {float(DRAW_MOD)} < {SPLIT_VAL} THEN 'val'
                 ELSE 'test'
               END AS split
        FROM documents
    """,
    "doc_char_entropy": f"""
        WITH chars AS (
          SELECT doc_id, unnest(string_split(text, '')) AS ch
          FROM documents
        ),
        freq AS (
          SELECT doc_id, ch, count(*) AS c
          FROM chars WHERE ch <> '' GROUP BY 1, 2
        )
        SELECT doc_id,
               {sql_quantize('ln(sum(c)) - sum(c * ln(c)) / sum(c)', 4)}
                 AS entropy
        FROM freq GROUP BY doc_id
    """,
    # byte-faithful twin of the numpy high-nibble histogram: to_hex
    # exposes each payload byte as two hex chars; the chars at odd
    # positions ARE the high nibbles, for any (even non-UTF-8-safe)
    # byte content. Zero bins are emitted explicitly, like bincount
    # with minlength.
    "multimodal_features": """
        WITH hx AS (
          SELECT doc_id, lower(to_hex(encode(text))) AS h,
                 greatest(1, strlen(text)) AS n
          FROM documents
        ),
        nib AS (
          SELECT doc_id,
                 CAST(strpos('0123456789abcdef', substr(h, CAST(p AS INT), 1))
                      - 1 AS BIGINT) AS bin
          FROM (
            SELECT doc_id, h,
                   unnest(generate_series(1, length(h), 2)) AS p
            FROM hx
          )
        ),
        cnt AS (
          SELECT doc_id, bin, count(*) AS c FROM nib GROUP BY 1, 2
        ),
        bins AS (SELECT unnest(generate_series(0, 15)) AS bin)
        SELECT d.doc_id, CAST(b.bin AS BIGINT) AS bin,
               floor(coalesce(c.c, 0) / d.n * 1000000.0 + 0.5)
                 / 1000000.0 AS share
        FROM hx d
        CROSS JOIN bins b
        LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.bin = b.bin
    """,
    "multimodal_resize": """
        WITH dims AS (
          SELECT doc_id,
                 CAST(64 + strlen(text) % 997 AS BIGINT) AS width,
                 CAST(64 + (strlen(text) * 31) % 991 AS BIGINT) AS height
          FROM documents
        )
        SELECT doc_id, width, height,
               CASE WHEN greatest(width, height) <= 128 THEN width
                    ELSE width * 128 // greatest(width, height)
               END AS out_width,
               CASE WHEN greatest(width, height) <= 128 THEN height
                    ELSE height * 128 // greatest(width, height)
               END AS out_height
        FROM dims
    """,
    "doc_bigram_surprisal": f"""
        WITH toksw AS (
          SELECT doc_id, {_W} AS w FROM documents
        ),
        idx AS (
          SELECT doc_id, w,
                 unnest(generate_series(1, len(w) - 1)) AS i
          FROM toksw WHERE len(w) >= 2
        ),
        bg AS (
          SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM idx
        ),
        dtf AS (
          SELECT doc_id, w1, w2, count(*) AS n FROM bg GROUP BY 1, 2, 3
        ),
        bf AS (
          SELECT w1, w2, sum(n) AS cbg FROM dtf GROUP BY 1, 2
        ),
        uf AS (
          SELECT w1, sum(cbg) AS cw1 FROM bf GROUP BY 1
        ),
        vocab AS (
          SELECT count(*) AS v FROM (
            SELECT DISTINCT t FROM (
              SELECT w1 AS t FROM bg UNION ALL SELECT w2 FROM bg
            )
          )
        )
        SELECT doc_id,
               CAST(sum(n) AS BIGINT) AS n_bigrams,
               {sql_quantize(
                   'sum(n * -ln((cbg + 1.0) / (cw1 + v))) / sum(n)', 6
               )} AS mean_surprisal
        FROM dtf
        JOIN bf USING (w1, w2)
        JOIN uf USING (w1)
        CROSS JOIN vocab
        GROUP BY doc_id
    """,
}

# The ensemble gate composes four already-oracled signals; its twin
# embeds each component's full oracle as a CTE (DuckDB allows nested
# WITH inside a derived-table CTE body) and applies the identical
# threshold flags on the identically-quantized values.
ORACLE["doc_quality_ensemble"] = f"""
    WITH q AS ({ORACLE['doc_quality']}),
    r AS ({ORACLE['doc_repetition']}),
    en AS ({ORACLE['doc_char_entropy']}),
    su AS ({ORACLE['doc_unigram_surprisal']})
    SELECT q.doc_id, q.quality_score, r.dup_ratio, en.entropy,
           su.mean_surprisal,
           CAST((CASE WHEN q.quality_score < {QE_QUALITY_MIN} THEN 1 ELSE 0 END)
              + (CASE WHEN r.dup_ratio > {QE_DUP_MAX} THEN 1 ELSE 0 END)
              + (CASE WHEN en.entropy < {QE_ENTROPY_MIN} THEN 1 ELSE 0 END)
              + (CASE WHEN su.mean_surprisal > {QE_SURPRISAL_MAX} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_flags,
           ((CASE WHEN q.quality_score < {QE_QUALITY_MIN} THEN 1 ELSE 0 END)
          + (CASE WHEN r.dup_ratio > {QE_DUP_MAX} THEN 1 ELSE 0 END)
          + (CASE WHEN en.entropy < {QE_ENTROPY_MIN} THEN 1 ELSE 0 END)
          + (CASE WHEN su.mean_surprisal > {QE_SURPRISAL_MAX} THEN 1 ELSE 0 END)
            ) = 0 AS keep
    FROM q
    JOIN r ON q.doc_id = r.doc_id
    JOIN en ON q.doc_id = en.doc_id
    JOIN su ON q.doc_id = su.doc_id
"""


# --------------------------- lexical/hybrid retrieval + governance oracles

_BM25_TERMS_SQL = ", ".join(
    f"'{t}'" for t in sorted({t for ts in BM25_QUERIES.values() for t in ts})
)
_BM25_QT_VALUES = ", ".join(
    f"({qid}, '{t}')"
    for qid, ts in sorted(BM25_QUERIES.items())
    for t in ts
)
# Interpolate the exact doubles Python folds at Column-build time so
# both engines parse the identical IEEE values (1.2 + 1.0 is folded by
# Python, not by Catalyst).
_BM25_K1P1 = repr(BM25_K1 + 1.0)
_BM25_1MB = repr(1.0 - BM25_B)


def _bm25_oracle_ctes(k: int) -> str:
    """CTE chain ending in ``lex(query_id, doc_id, score, rk)`` —
    the DuckDB twin of :func:`_bm25_scored` (same float-op order,
    per-term weights quantized before the per-doc sum)."""
    return f"""btk AS (
  SELECT doc_id, len({_W}) AS len, unnest({_W}) AS term FROM documents
), btf AS (
  SELECT doc_id, term, count(*) AS n, max(len) AS len
  FROM btk WHERE term IN ({_BM25_TERMS_SQL})
  GROUP BY 1, 2
), bdf AS (
  SELECT term, count(*) AS df FROM btf GROUP BY 1
), bstats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len({_W})) AS DOUBLE) / count(*) AS avgdl
  FROM documents
), bqt(query_id, term) AS (VALUES {_BM25_QT_VALUES}),
bscored AS (
  SELECT bqt.query_id, btf.doc_id,
         {sql_quantize(
             f"ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
             f" * (btf.n * {_BM25_K1P1})"
             f" / (btf.n + {BM25_K1!r} * ({_BM25_1MB}"
             f" + ({BM25_B!r} * btf.len) / avgdl))",
             6,
         )} AS bm25_w
  FROM btf
  JOIN bqt ON btf.term = bqt.term
  JOIN bdf ON btf.term = bdf.term
  CROSS JOIN bstats
), lex AS (
  SELECT query_id, doc_id, score, rk FROM (
    SELECT query_id, doc_id,
           {sql_quantize('sum(bm25_w)', 6)} AS score,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY {sql_quantize('sum(bm25_w)', 6)} DESC, doc_id
           ) AS rk
    FROM bscored GROUP BY 1, 2
  ) WHERE rk <= {k}
)"""


ORACLE["doc_bm25_topk"] = f"""
    WITH {_bm25_oracle_ctes(BM25_K)}
    SELECT query_id, doc_id, score, rk FROM lex
"""

ORACLE["search_mrr"] = f"""
    WITH {sql_unit_cte()},
    rel AS (
      SELECT query_id, neighbor_id AS doc_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY (floor({sql_dot('q.u', 'c.u')} * 1000000.0 + 0.5)
                           / 1000000.0) DESC,
                          c.vec_id
               ) AS rk
        FROM unitv q JOIN unitv c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE rk <= {BM25_K}
    ),
    {_bm25_oracle_ctes(BM25_K)},
    per AS (
      SELECT l.query_id,
             CAST(min(CASE WHEN r.doc_id IS NOT NULL THEN l.rk END)
               AS BIGINT) AS first_hit_rank
      FROM lex l LEFT JOIN rel r
        ON l.query_id = r.query_id AND l.doc_id = r.doc_id
      GROUP BY 1
    ),
    scored AS (
      SELECT query_id, first_hit_rank,
             CASE WHEN first_hit_rank IS NOT NULL
               THEN 1.0 / first_hit_rank ELSE 0.0 END AS rr_raw
      FROM per
    ),
    m AS (SELECT avg(rr_raw) AS mrr_raw FROM scored)
    SELECT query_id, first_hit_rank,
           {sql_quantize('rr_raw', 6)} AS reciprocal_rank,
           {sql_quantize('mrr_raw', 6)} AS mrr
    FROM scored CROSS JOIN m
"""


ORACLE["search_rrf"] = f"""
    WITH {sql_unit_cte()},
    knn AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY (floor({sql_dot('q.u', 'c.u')} * 1000000.0 + 0.5)
                           / 1000000.0) DESC,
                          c.vec_id
               ) AS rk
        FROM unitv q JOIN unitv c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE rk <= {RRF_POOL}
    ),
    {_bm25_oracle_ctes(RRF_POOL)},
    fused AS (
      SELECT coalesce(k.query_id, l.query_id) AS query_id,
             coalesce(k.neighbor_id, l.doc_id) AS doc_id,
             {sql_quantize(
                 f'coalesce(1.0 / ({RRF_C} + k.rk), 0.0)'
                 f' + coalesce(1.0 / ({RRF_C} + l.rk), 0.0)',
                 6,
             )} AS rrf_score
      FROM knn k FULL JOIN lex l
        ON k.query_id = l.query_id AND k.neighbor_id = l.doc_id
    )
    SELECT query_id, doc_id, rrf_score, rk FROM (
      SELECT query_id, doc_id, rrf_score,
             row_number() OVER (
               PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
             ) AS rk
      FROM fused
    ) WHERE rk <= {BM25_K}
"""

ORACLE["corpus_sample_fixed"] = f"""
    SELECT doc_id, lang, source, sample_key FROM (
      SELECT doc_id, lang, source,
             md5('usample|' || CAST(doc_id AS VARCHAR)) AS sample_key
      FROM documents
    ) ORDER BY sample_key LIMIT {FIXED_SAMPLE_K}
"""

ORACLE["corpus_domain_cap"] = f"""
    SELECT doc_id, source, rk, (rk <= {DOMAIN_CAP}) AS kept FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('domcap|' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rk
      FROM documents
    )
"""

_BLOOM_HS = ", ".join(f"({a}, {b})" for a, b in zip(BLOOM_A, BLOOM_B))

ORACLE["dedup_bloom"] = f"""
    WITH {_SH_CTES}, {_SHK_CTE},
    hs(a, b) AS (VALUES {_BLOOM_HS}),
    ex AS (SELECT DISTINCT s FROM shk WHERE doc_id % 2 = 0),
    bt AS (SELECT doc_id, s FROM shk WHERE doc_id % 2 = 1),
    setbits AS (
      SELECT DISTINCT ((a * (s % {BLOOM_P}) + b) % {BLOOM_P}) % {BLOOM_M}
               AS bit
      FROM ex CROSS JOIN hs
    ),
    probe AS (
      SELECT doc_id, s,
             ((a * (s % {BLOOM_P}) + b) % {BLOOM_P}) % {BLOOM_M} AS bit
      FROM bt CROSS JOIN hs
    ),
    bhits AS (
      SELECT p.doc_id, p.s, count(*) AS nb
      FROM probe p JOIN setbits sb ON p.bit = sb.bit
      GROUP BY 1, 2
    ),
    bflags AS (
      SELECT bt.doc_id,
             (coalesce(h.nb, 0) = {BLOOM_K}) AS bloom_hit,
             (e.s IS NOT NULL) AS exact_hit
      FROM bt
      LEFT JOIN bhits h ON bt.doc_id = h.doc_id AND bt.s = h.s
      LEFT JOIN ex e ON bt.s = e.s
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS bloom_hits,
           CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS exact_hits,
           CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END)
                - sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
             AS fp_hits,
           (sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END)
            >= sum(CASE WHEN exact_hit THEN 1 ELSE 0 END)) AS guarantee_ok
    FROM bflags GROUP BY doc_id
"""


_OUTLIER_COS_EXPR = sql_quantize(
    sql_cosine("e.embedding", "carr.centroid"), 6
)
ORACLE["emb_outliers"] = f"""
    WITH ocx AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(embedding) AS val
      FROM embeddings
    ),
    ocent AS (
      SELECT label, dim, sum(CAST(val AS DOUBLE)) / count(*) AS c
      FROM ocx GROUP BY 1, 2
    ),
    carr AS (
      SELECT label, list(c ORDER BY dim) AS centroid
      FROM ocent GROUP BY label
    )
    SELECT e.vec_id, e.label,
           {_OUTLIER_COS_EXPR} AS cos_centroid,
           ({_OUTLIER_COS_EXPR} < {OUTLIER_COS}) AS outlier
    FROM embeddings e JOIN carr ON e.label = carr.label
"""


ORACLE["emb_ivf_export"] = f"""
    WITH {sql_unit_cte()},
    ivfc AS (
      SELECT vec_id AS cid, u AS cu FROM unitv
      WHERE vec_id < {IVF_CENTROIDS}
    )
    SELECT vec_id, list_id FROM (
      SELECT v.vec_id, c.cid AS list_id,
             row_number() OVER (
               PARTITION BY v.vec_id
               ORDER BY (floor({sql_dot('v.u', 'c.cu')} * 1000000.0 + 0.5)
                         / 1000000.0) DESC,
                        c.cid
             ) AS rk
      FROM unitv v CROSS JOIN ivfc c
    ) WHERE rk = 1
"""

ORACLE["corpus_token_histogram"] = f"""
    WITH lens AS (
      SELECT CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}'))
             AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(bucket * {TOKEN_HIST_WIDTH} AS BIGINT) AS lo
    FROM (
      SELECT CAST(floor(n_tokens / {TOKEN_HIST_WIDTH}) AS BIGINT) AS bucket,
             n_tokens
      FROM lens
    ) GROUP BY bucket
"""

ORACLE["dedup_containment"] = f"""
    WITH {_SH_CTES}, {_SHK_CTE},
    csizes AS (
      SELECT doc_id, count(*) AS n FROM shk GROUP BY doc_id
    ),
    ccommon AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
      FROM shk a JOIN shk b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT da, db,
           (floor((CAST(c AS DOUBLE) / na) * 10000.0 + 0.5) / 10000.0)
             AS containment
    FROM (
      SELECT ccommon.da, ccommon.db, ccommon.c, sa.n AS na
      FROM ccommon JOIN csizes sa ON ccommon.da = sa.doc_id
    )
    WHERE (floor((CAST(c AS DOUBLE) / na) * 10000.0 + 0.5) / 10000.0)
          >= {CONTAINMENT_THRESHOLD}
"""

ORACLE["events_latest_state"] = """
    SELECT user_id, event_id, ts_us, event_type, value FROM (
      SELECT user_id, event_id,
             epoch_us(ts) AS ts_us, event_type, value,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC
             ) AS rk
      FROM events
    ) WHERE rk = 1
"""

_GW = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_G_STOP_SUM = " + ".join(
    f"(CASE WHEN list_contains({_GW}, '{s}') THEN 1 ELSE 0 END)"
    for s in GOPHER_STOPS
)
_G_MWL = sql_quantize(
    "CAST(length(regexp_replace(text, '\\s', '', 'g'))"
    " AS DOUBLE) / len(" + _GW + ")",
    4,
)
_G_SYM = sql_quantize(
    "CAST(len(regexp_extract_all(text, '#'))"
    " + len(regexp_extract_all(text, '\\.\\.\\.'))"
    " AS DOUBLE) / len(" + _GW + ")",
    4,
)
_G_ALPHA = sql_quantize(
    "CAST(len(list_filter(" + _GW + ","
    " t -> regexp_matches(t, '[a-z]')))"
    " AS DOUBLE) / len(" + _GW + ")",
    4,
)
ORACLE["doc_gopher_rules"] = f"""
    WITH g AS (
      SELECT doc_id,
             CAST(len({_GW}) AS DOUBLE) AS n_words,
             {_G_MWL} AS mwl,
             {_G_SYM} AS symbol_ratio,
             {_G_ALPHA} AS alpha_frac,
             CAST({_G_STOP_SUM} AS BIGINT) AS stop_present
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           mwl AS mean_word_len, symbol_ratio, alpha_frac, stop_present,
           (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
             AS ok_words,
           (mwl >= {GOPHER_MWL_MIN} AND mwl <= {GOPHER_MWL_MAX}) AS ok_mwl,
           (symbol_ratio < {GOPHER_SYMBOL_MAX}) AS ok_symbols,
           (alpha_frac > {GOPHER_ALPHA_MIN}) AS ok_alpha,
           (stop_present >= {GOPHER_MIN_STOPS}) AS ok_stops,
           ((n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
            AND (mwl >= {GOPHER_MWL_MIN} AND mwl <= {GOPHER_MWL_MAX})
            AND (symbol_ratio < {GOPHER_SYMBOL_MAX})
            AND (alpha_frac > {GOPHER_ALPHA_MIN})
            AND (stop_present >= {GOPHER_MIN_STOPS})) AS keep
    FROM g
"""

ORACLE["doc_c4_rules"] = f"""
    WITH c AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(text, '[.!?]')) - 1 AS BIGINT)
               AS n_sentences,
             (strpos(lower(text), 'lorem ipsum') > 0) AS has_lorem,
             (strpos(lower(text), 'javascript') > 0) AS has_js,
             (strpos(text, '{{') > 0) AS has_brace
      FROM documents
    )
    SELECT doc_id, n_sentences, has_lorem, has_js, has_brace,
           (n_sentences >= {C4_MIN_SENTENCES}
            AND NOT has_lorem AND NOT has_js AND NOT has_brace) AS keep
    FROM c
"""

ORACLE["multimodal_dedup"] = """
    -- DuckDB md5 takes VARCHAR only; its strings are UTF-8, so
    -- md5(text) hashes the same bytes as Spark's md5(encode(text))
    SELECT md5(text) AS payload_digest,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_payloads
    FROM documents GROUP BY 1
"""

# eigensolver/training certifications: the oracle asserts the bound
# invariants as literal TRUE (the sketch-tier pattern) — a hash match
# certifies the numeric tiers held their advertised properties
ORACLE["emb_pca_check"] = f"""
    SELECT CAST(i AS BIGINT) AS component,
           TRUE AS orthonormal_ok, TRUE AS ordered_ok, TRUE AS variance_ok
    FROM generate_series(0, {PCA_COMPONENTS - 1}) t(i)
"""
ORACLE["knn_ivf_trained_check"] = f"""
    SELECT vec_id AS query_id, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {N_QUERY_VECS}
"""

# r7 conversions of the last three rows-only entries to full hash
# oracles (VERDICT r6 item 2). emb_pca_project: centered_sq_q is EXACT
# integer arithmetic (micro-unit quantized embeddings, (xq*n - S)^2
# folded as 128-bit integers — order-free, so DuckDB's HUGEINT matches
# Spark's decimal(38,0) digit-for-digit as strings); the eigensolve-
# dependent columns are bound invariants asserted as literal TRUE.
ORACLE["emb_pca_project"] = f"""
    WITH nn AS (SELECT count(*) AS n FROM embeddings),
    dimq AS (
      SELECT vec_id, t.i AS i,
             CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS xq
      FROM embeddings CROSS JOIN generate_series(1, {DIM}) t(i)
    ),
    s AS (SELECT i, sum(xq) AS s FROM dimq GROUP BY 1)
    SELECT d.vec_id,
           CAST(sum(CAST(d.xq * nn.n - s.s AS HUGEINT)
                    * CAST(d.xq * nn.n - s.s AS HUGEINT)) AS VARCHAR)
             AS centered_sq_q,
           CAST({PCA_COMPONENTS} AS BIGINT) AS n_components,
           TRUE AS contraction_ok,
           TRUE AS parseval_ok,
           TRUE AS orthonormal_ok
    FROM dimq d JOIN s USING (i) CROSS JOIN nn
    GROUP BY 1
"""
# knn_ivf_trained: exactly KNN_K ranked hits per query (structure),
# per-rank optimality bound + corpus recall floor as literal TRUE.
ORACLE["knn_ivf_trained"] = f"""
    SELECT e.vec_id AS query_id, CAST(t.rk AS BIGINT) AS rk,
           TRUE AS cos_le_exact, TRUE AS recall_ok
    FROM embeddings e CROSS JOIN generate_series(1, {KNN_K}) t(rk)
    WHERE e.vec_id < {N_QUERY_VECS}
"""
# multimodal_decode: every deterministic fake-decode dim reproduced
# from octet_length(encode(text)); the codec statistic is bounded.
ORACLE["multimodal_decode"] = """
    WITH b AS (
      SELECT doc_id, octet_length(encode(text)) AS nb FROM documents
    )
    SELECT doc_id,
           CAST(nb AS BIGINT) AS n_bytes,
           CASE nb % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                ELSE 'webp' END AS format,
           CAST(64 + nb % 997 AS BIGINT) AS width,
           CAST(64 + (nb * 31) % 991 AS BIGINT) AS height,
           CAST(1 + nb % 7 AS BIGINT) AS n_frames,
           TRUE AS mean_in_range
    FROM b
"""

ORACLE["doc_ngram_lm_export"] = f"""
    WITH toksw AS (
      SELECT doc_id, {_W} AS w FROM documents
    ),
    idx AS (
      SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
      FROM toksw WHERE len(w) >= 2
    ),
    bg AS (
      SELECT w[i] AS w1, w[i + 1] AS w2 FROM idx
    ),
    bf AS (
      SELECT w1, w2, count(*) AS n FROM bg GROUP BY 1, 2
    ),
    uf AS (
      SELECT w1, sum(n) AS cw1 FROM bf GROUP BY 1
    ),
    vocab AS (
      SELECT count(*) AS v FROM (
        SELECT DISTINCT t FROM (
          SELECT w1 AS t FROM bg UNION ALL SELECT w2 FROM bg
        )
      )
    )
    SELECT w1, w2,
           CAST(n AS BIGINT) AS n,
           CAST(cw1 AS BIGINT) AS cw1,
           {sql_quantize('ln((n + 1.0) / (cw1 + v))', 6)} AS logp
    FROM bf JOIN uf USING (w1) CROSS JOIN vocab
"""

ORACLE["corpus_quality_report"] = f"""
    WITH ens AS ({ORACLE['doc_quality_ensemble']})
    SELECT d.lang, d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN ens.keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep,
           {sql_quantize(
               'sum(CASE WHEN ens.keep THEN 1 ELSE 0 END)'
               ' / CAST(count(*) AS DOUBLE)', 4)} AS keep_rate,
           {sql_quantize(
               'sum(CAST(round(ens.quality_score * 10000) AS BIGINT))'
               ' / (CAST(count(*) AS DOUBLE) * 10000.0)', 4)}
             AS mean_quality,
           {sql_quantize(
               'sum(CAST(round(ens.dup_ratio * 10000) AS BIGINT))'
               ' / (CAST(count(*) AS DOUBLE) * 10000.0)', 4)}
             AS mean_dup_ratio
    FROM ens JOIN documents d ON ens.doc_id = d.doc_id
    GROUP BY 1, 2
"""

ORACLE["emb_drift_report"] = f"""
    WITH dx AS (
      SELECT (vec_id % 2 = 0) AS is_existing,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    per AS (
      SELECT is_existing, dim,
             CAST(count(*) AS BIGINT) AS n,
             avg(val) AS m,
             var_pop(val) AS v
      FROM dx GROUP BY 1, 2
    )
    SELECT CAST(a.dim AS BIGINT) AS dim,
           a.n AS n_existing, b.n AS n_batch,
           {sql_quantize('b.m - a.m', 6)} AS mean_shift,
           {sql_quantize('b.v / a.v', 6)} AS var_ratio
    FROM per a JOIN per b ON a.dim = b.dim
    WHERE a.is_existing AND NOT b.is_existing
"""

ORACLE["corpus_dedup_report"] = f"""
    WITH fps AS (
      SELECT doc_id, lang, source,
             md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    cnt AS (SELECT fp, count(*) AS n_fp FROM fps GROUP BY 1)
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           {sql_quantize(
               'sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END)'
               ' / CAST(count(*) AS DOUBLE)', 4)} AS dup_rate
    FROM fps JOIN cnt USING (fp)
    GROUP BY 1, 2
"""

# the component CTE is the dedup_clusters oracle verbatim; sizes and
# the histogram stack on top
ORACLE["dedup_cluster_stats"] = f"""
    WITH comps AS ({ORACLE['dedup_clusters']}),
    sizes AS (
      SELECT cluster_id, count(*) AS cluster_size FROM comps GROUP BY 1
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * cluster_size AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
"""

ORACLE["doc_winnowing"] = f"""
    WITH toksw AS (
      SELECT doc_id, {_W} AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, len(w) - 2 AS n_grams, i - 1 AS pos,
             {sql_shingle_key("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")}
               AS h
      FROM toksw, unnest(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ),
    sel AS (
      SELECT g.doc_id, m.pos, m.h
      FROM grams g
      JOIN LATERAL (
        SELECT g2.pos, g2.h
        FROM grams g2
        WHERE g2.doc_id = g.doc_id
          AND g2.pos BETWEEN g.pos AND g.pos + {WINNOW_W - 1}
        ORDER BY g2.h, g2.pos LIMIT 1
      ) m ON TRUE
      WHERE g.pos <= g.n_grams - {WINNOW_W}
    )
    SELECT DISTINCT doc_id, pos, h AS fp FROM sel
"""

ORACLE["doc_winnow_overlap"] = f"""
    WITH wsel AS ({ORACLE['doc_winnowing']}),
    wdedup AS (SELECT DISTINCT doc_id, fp FROM wsel)
    SELECT a.doc_id AS da, b.doc_id AS db,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM wdedup a JOIN wdedup b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {WINNOW_OVERLAP_MIN}
"""

ORACLE["corpus_vocab_growth"] = f"""
    WITH tk AS (
      SELECT doc_id, unnest({_W}) AS term FROM documents
    ),
    first AS (SELECT term, min(doc_id) AS doc_id FROM tk GROUP BY 1)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new_terms
    FROM first GROUP BY 1
"""

ORACLE["doc_zipf_fit"] = f"""
    WITH tk AS (SELECT unnest({_W}) AS term FROM documents),
    vocab AS (SELECT term, count(*) AS f FROM tk GROUP BY 1),
    top AS (
      SELECT CAST(f AS DOUBLE) AS f,
             CAST(row_number()
                  OVER (ORDER BY f DESC, term) AS DOUBLE) AS rk
      FROM vocab ORDER BY f DESC, term LIMIT {ZIPF_TOP_K}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           CASE WHEN min(f) = max(f) THEN 0.0
                ELSE {sql_quantize('regr_slope(ln(f), ln(rk))', 4)}
           END AS zipf_slope,
           CASE WHEN min(f) = max(f)
                THEN {sql_quantize('ln(min(f))', 4)}
                ELSE {sql_quantize('regr_intercept(ln(f), ln(rk))', 4)}
           END AS ln_c,
           CASE WHEN min(f) = max(f) THEN 1.0
                ELSE {sql_quantize('regr_r2(ln(f), ln(rk))', 4)}
           END AS r2
    FROM top
"""

ORACLE["doc_heaps_fit"] = f"""
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    th AS (
      SELECT g.b,
             CAST(ceil(mx.m * g.b / {HEAPS_POINTS}.0) AS BIGINT) AS t
      FROM generate_series(1, {HEAPS_POINTS}) AS g(b), mx
    ),
    ntok AS (SELECT doc_id, len({_W}) AS n FROM documents),
    tcum AS (
      SELECT th.b, CAST(sum(ntok.n) AS DOUBLE) AS n_tokens
      FROM th JOIN ntok ON ntok.doc_id <= th.t GROUP BY 1
    ),
    tk AS (SELECT doc_id, unnest({_W}) AS term FROM documents),
    first AS (SELECT term, min(doc_id) AS fd FROM tk GROUP BY 1),
    vcum AS (
      SELECT th.b, CAST(count(*) AS DOUBLE) AS vocab
      FROM th JOIN first ON first.fd <= th.t GROUP BY 1
    ),
    pts AS (SELECT tcum.b, n_tokens, vocab FROM tcum JOIN vcum USING (b))
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           CASE WHEN min(n_tokens) = max(n_tokens) THEN NULL
                WHEN min(vocab) = max(vocab) THEN 0.0
                ELSE {sql_quantize(
                    'regr_slope(ln(vocab), ln(n_tokens))', 4)}
           END AS heaps_beta,
           CASE WHEN min(n_tokens) = max(n_tokens) THEN NULL
                WHEN min(vocab) = max(vocab)
                THEN {sql_quantize('ln(min(vocab))', 4)}
                ELSE {sql_quantize(
                    'regr_intercept(ln(vocab), ln(n_tokens))', 4)}
           END AS ln_k,
           CASE WHEN min(n_tokens) = max(n_tokens) THEN NULL
                WHEN min(vocab) = max(vocab) THEN 1.0
                ELSE {sql_quantize('regr_r2(ln(vocab), ln(n_tokens))', 4)}
           END AS r2
    FROM pts
"""

ORACLE["corpus_mix_plan"] = f"""
    WITH per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum({SQL_TOKEN_COUNT.format(c='text')}) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT sum(n_tokens) AS total_tokens,
             sum(pow(CAST(n_tokens AS DOUBLE), {MIX_ALPHA})) AS z
      FROM per
    )
    SELECT source, n_docs, n_tokens,
           {sql_quantize('n_tokens / total_tokens', 6)}
             AS observed_share,
           {sql_quantize(
               f'pow(CAST(n_tokens AS DOUBLE), {MIX_ALPHA}) / z', 6)}
             AS target_share,
           {sql_quantize(
               f'pow(CAST(n_tokens AS DOUBLE), {MIX_ALPHA}) / z'
               ' * total_tokens / n_tokens', 4)}
             AS epochs,
           {sql_quantize(
               f'least(1.0, pow(CAST(n_tokens AS DOUBLE), {MIX_ALPHA})'
               ' / z * total_tokens / n_tokens)', 4)}
             AS sample_rate
    FROM per, tot
"""

ORACLE["doc_langid_confusion"] = f"""
    WITH scored AS (
      SELECT lang AS labeled_lang,
             CAST(len(list_filter({_W},
               t -> list_contains({_STOP_SQL['en']}, t))) AS BIGINT) AS s_en,
             CAST(len(list_filter({_W},
               t -> list_contains({_STOP_SQL['de']}, t))) AS BIGINT) AS s_de,
             CAST(len(list_filter({_W},
               t -> list_contains({_STOP_SQL['es']}, t))) AS BIGINT) AS s_es,
             CAST(len(list_filter({_W},
               t -> list_contains({_STOP_SQL['fr']}, t))) AS BIGINT) AS s_fr,
             CAST(len(regexp_extract_all(text, '{CJK_PATTERN}')) AS BIGINT)
               AS s_zh
      FROM documents
    ),
    pred AS (
      SELECT labeled_lang, CASE
               WHEN s_zh > 0 THEN 'zh'
               WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
               WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
               WHEN s_es >= s_fr THEN 'es'
               ELSE 'fr' END AS pred_lang
      FROM scored
    ),
    cells AS (
      SELECT labeled_lang, pred_lang,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY 1, 2
    ),
    totals AS (
      SELECT labeled_lang, sum(n_docs) AS label_total
      FROM cells GROUP BY 1
    )
    SELECT c.labeled_lang, c.pred_lang, c.n_docs,
           {sql_quantize(
               'CAST(c.n_docs AS DOUBLE) / t.label_total', 6)}
             AS label_share
    FROM cells c JOIN totals t USING (labeled_lang)
"""


def _kmeans_ctes():
    """Unrolled-Lloyd SQL twin of :func:`emb_kmeans`: per round, a
    centroid CTE (quantized cell means), a similarity CTE (quantized
    dot of unit-vector cells with centroid cells), and an argmax CTE
    (max sim per vec, ties to the lowest cluster id via min(c) among
    the max-sim rows).

    Mirrors `_kmeans_final`'s sample-bounded training exactly:
    centroid/update rounds read the ``ext`` md5-hash sample
    (``keep = DENOM * CAP // count(*)`` — the same integer arithmetic
    the Spark side computes in Python, and ``keep >= DENOM`` passes
    every row at gate scales), while the FINAL round's s{n}/a{n} score
    ALL vectors against the trained centroids — so the three consumers
    (emb_kmeans, emb_cluster_quality, knn_ivf_lloyd) keep reading
    s{n}/a{n} unchanged."""
    q9 = lambda expr: sql_quantize(expr, 9)  # noqa: E731
    # CAST: DuckDB types bare literals INT32 and errors on overflow
    # (2^20 * 4096 = 2^32); the product must be BIGINT like Spark's
    keep = (
        f"((CAST({KMEANS_SAMPLE_DENOM} AS BIGINT) * {KMEANS_TRAIN_CAP})"
        " // (SELECT count(*) FROM embeddings))"
    )
    parts = [
        sql_unit_cte(),
        "ex AS (SELECT vec_id,"
        " unnest(generate_series(0, len(u) - 1)) AS dim,"
        " CAST(unnest(u) AS DOUBLE) AS val FROM unitv)",
        "ext AS (SELECT * FROM ex WHERE"
        f" ({sql_shingle_key('CAST(vec_id AS VARCHAR)')}"
        f" % {KMEANS_SAMPLE_DENOM}) < {keep})",
        f"a0 AS (SELECT vec_id, CAST(vec_id % {KMEANS_K} AS BIGINT) AS c"
        " FROM embeddings)",
    ]
    prev = "a0"
    for i in range(1, KMEANS_ITERS + 1):
        parts.append(
            f"c{i} AS (SELECT {prev}.c, ext.dim, {q9('avg(ext.val)')} AS cv"
            f" FROM ext JOIN {prev} USING (vec_id) GROUP BY 1, 2)"
        )
        # intermediate rounds update assignments on the SAMPLE only;
        # the final round scores the full corpus (one linear pass)
        src = "ext" if i < KMEANS_ITERS else "ex"
        parts.append(
            f"s{i} AS (SELECT {src}.vec_id, c{i}.c,"
            f" {q9(f'sum({src}.val * c{i}.cv)')} AS sim"
            f" FROM {src} JOIN c{i} USING (dim) GROUP BY 1, 2)"
        )
        parts.append(
            f"m{i} AS (SELECT vec_id, max(sim) AS ms FROM s{i} GROUP BY 1)"
        )
        parts.append(
            f"a{i} AS (SELECT s.vec_id, min(s.c) AS c FROM s{i} s"
            f" JOIN m{i} m ON s.vec_id = m.vec_id AND s.sim = m.ms"
            " GROUP BY 1)"
        )
        prev = f"a{i}"
    n = KMEANS_ITERS
    return "WITH " + ",\n    ".join(parts), n


def _kmeans_oracle() -> str:
    ctes, n = _kmeans_ctes()
    return (
        ctes
        + f"""
    SELECT a{n}.vec_id, a{n}.c AS cluster_id, s{n}.sim
    FROM a{n} JOIN s{n}
      ON a{n}.vec_id = s{n}.vec_id AND a{n}.c = s{n}.c
"""
    )


def _cluster_quality_oracle() -> str:
    ctes, n = _kmeans_ctes()
    q6 = lambda expr: sql_quantize(expr, 6)  # noqa: E731
    return (
        ctes
        + f""",
    own AS (
      SELECT a{n}.vec_id, a{n}.c AS ac, s{n}.sim
      FROM a{n} JOIN s{n}
        ON a{n}.vec_id = s{n}.vec_id AND a{n}.c = s{n}.c
    ),
    runner AS (
      SELECT s.vec_id, max(s.sim) AS second
      FROM s{n} s JOIN own ON s.vec_id = own.vec_id
      WHERE s.c <> own.ac
      GROUP BY 1
    )
    SELECT own.ac AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vecs,
           {q6('avg(own.sim)')} AS mean_own,
           {q6('avg(runner.second)')} AS mean_second,
           {q6('avg(own.sim - runner.second)')} AS separation
    FROM own JOIN runner ON own.vec_id = runner.vec_id
    GROUP BY 1
"""
    )


def _ivf_lloyd_oracle() -> str:
    ctes, n = _kmeans_ctes()
    q6 = lambda expr: sql_quantize(expr, 6)  # noqa: E731
    return (
        ctes
        + f""",
    probes AS (
      SELECT query_id, bucket FROM (
        SELECT vec_id AS query_id, c AS bucket,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY sim DESC, c
               ) AS prk
        FROM s{n} WHERE vec_id < {N_QUERY_VECS}
      ) WHERE prk <= {IVF_LLOYD_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN a{n} a ON a.c = p.bucket
      WHERE a.vec_id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             {q6(sql_dot('qu.u', 'cu.u'))} AS cos
      FROM cand c
      JOIN unitv qu ON qu.vec_id = c.query_id
      JOIN unitv cu ON cu.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cos, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id
      ) AS rk
      FROM scored
    ) WHERE rk <= {KNN_K}
"""
    )


ORACLE["emb_kmeans"] = _kmeans_oracle()
ORACLE["emb_cluster_quality"] = _cluster_quality_oracle()
ORACLE["knn_ivf_lloyd"] = _ivf_lloyd_oracle()

ORACLE["corpus_curriculum"] = f"""
    WITH {_quality_docs_cte()},
    cuts AS (
      SELECT {sql_quantize('quantile_cont(quality_score, 0.25)', 9)}
               AS c1,
             {sql_quantize('quantile_cont(quality_score, 0.5)', 9)}
               AS c2,
             {sql_quantize('quantile_cont(quality_score, 0.75)', 9)}
               AS c3
      FROM qdocs
    )
    SELECT doc_id, quality_score,
           CAST(CASE
             WHEN quality_score >= c3 THEN 1
             WHEN quality_score >= c2 THEN 2
             WHEN quality_score >= c1 THEN 3
             ELSE 4 END AS BIGINT) AS phase,
           md5(concat('{CURRICULUM_SEED}|', CAST(doc_id AS VARCHAR)))
             AS order_key
    FROM qdocs, cuts
"""

ORACLE["corpus_tokenizer_fertility"] = f"""
    WITH per AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_W})) AS BIGINT) AS n_words,
             CAST(sum({SQL_TOKEN_COUNT.format(c='text')}) AS BIGINT)
               AS n_tokens,
             CAST(sum(length(text)) AS BIGINT) AS n_chars
      FROM documents GROUP BY 1, 2
    )
    SELECT lang, source, n_docs, n_words, n_tokens,
           {sql_quantize('CAST(n_tokens AS DOUBLE) / n_words', 4)}
             AS fertility,
           {sql_quantize('CAST(n_chars AS DOUBLE) / n_tokens', 4)}
             AS chars_per_token,
           {sql_quantize('CAST(n_tokens AS DOUBLE) / n_docs', 4)}
             AS tokens_per_doc
    FROM per
"""


ORACLE["corpus_vocab_coverage"] = f"""
    WITH toks AS (
      SELECT unnest({_W}) AS term FROM documents
    ),
    counts AS (
      SELECT term, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY 1
    ),
    ff AS (
      SELECT c, CAST(count(*) AS BIGINT) AS m FROM counts GROUP BY 1
    ),
    above AS (
      SELECT a.c, a.m,
             CAST(coalesce(sum(b.m), 0) AS BIGINT) AS terms_above,
             CAST(coalesce(sum(b.m * b.c), 0) AS BIGINT) AS mass_above
      FROM ff a LEFT JOIN ff b ON b.c > a.c
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(sum(m * c) AS BIGINT) AS mass_total,
             CAST(sum(m) AS BIGINT) AS vocab_total
      FROM ff
    ),
    ks AS (
      SELECT g.k, a.c, a.m, a.terms_above, a.mass_above,
             t.mass_total, t.vocab_total,
             least(g.k, t.vocab_total) AS keff
      FROM above a CROSS JOIN tot t
      CROSS JOIN (VALUES (1000), (2000), (4000), (8000), (16000),
                  (32000)) g(k)
    ),
    hit AS (
      SELECT *,
             mass_above + (keff - terms_above) * c AS covered
      FROM ks
      WHERE terms_above < keff AND keff <= terms_above + m
    )
    SELECT CAST(k AS BIGINT) AS vocab_size, vocab_total,
           {sql_quantize('CAST(covered AS DOUBLE) / mass_total', 6)}
             AS mass_coverage,
           {sql_quantize(
               '1.0 - CAST(covered AS DOUBLE) / mass_total', 6)}
             AS oov_mass
    FROM hit
"""

ORACLE["corpus_cross_perplexity"] = f"""
    WITH toks AS (
      SELECT source,
             (CAST(doc_id * 2654435761 AS BIGINT) % 1000000)
               / 1000000.0 < 0.9 AS is_train,
             unnest({_W}) AS term
      FROM documents
    ),
    cells AS (
      SELECT source, is_train, term, CAST(count(*) AS BIGINT) AS n
      FROM toks GROUP BY 1, 2, 3
    ),
    lm AS (
      SELECT term, CAST(sum(n) AS BIGINT) AS c
      FROM cells WHERE is_train GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_train,
             CAST(count(*) AS BIGINT) AS v_train
      FROM lm
    ),
    held AS (
      SELECT t.source, t.n, l.c, o.n_train, o.v_train,
             CAST(coalesce(l.c, 0) + 1 AS DOUBLE)
               / (o.n_train + o.v_train + 1) AS p
      FROM cells t LEFT JOIN lm l USING (term) CROSS JOIN tot o
      WHERE NOT t.is_train
    ),
    per AS (
      SELECT source,
             CAST(sum(n) AS BIGINT) AS n_heldout_tokens,
             CAST(sum(CASE WHEN c IS NULL THEN n ELSE 0 END) AS BIGINT)
               AS n_oov,
             sum(-n * log2(p)) AS bits
      FROM held GROUP BY 1
    )
    SELECT source, n_heldout_tokens,
           {sql_quantize('CAST(n_oov AS DOUBLE) / n_heldout_tokens', 6)}
             AS oov_rate,
           {sql_quantize('bits / n_heldout_tokens', 4)}
             AS cross_entropy_bits,
           {sql_quantize(
               'power(2.0, ' + sql_quantize('bits / n_heldout_tokens', 4)
               + ')', 4)} AS perplexity
    FROM per
"""

ORACLE["corpus_length_lognormal"] = f"""
    WITH per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n,
             sum(ln(CAST(n_chars AS DOUBLE))) AS s1,
             sum(ln(CAST(n_chars AS DOUBLE)) * ln(CAST(n_chars AS DOUBLE))) AS s2,
             sum(ln(CAST(n_chars AS DOUBLE)) * ln(CAST(n_chars AS DOUBLE))
                 * ln(CAST(n_chars AS DOUBLE))) AS s3,
             sum(ln(CAST(n_chars AS DOUBLE)) * ln(CAST(n_chars AS DOUBLE))
                 * ln(CAST(n_chars AS DOUBLE)) * ln(CAST(n_chars AS DOUBLE))) AS s4
      FROM documents WHERE n_chars > 0 GROUP BY 1
    ),
    m AS (
      SELECT source, n,
             s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n)
               + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
               + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM per
    ),
    jbt AS (
      SELECT source, n, mu, m2,
             CASE WHEN n > 2 AND m2 > 0 THEN
               n / 6.0 * ((m3 / sqrt(m2 * m2 * m2)) * (m3 / sqrt(m2 * m2 * m2))
                 + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0)
             END AS jb
      FROM m
    )
    SELECT source, n,
           {sql_quantize('mu', 4)} AS mu_log,
           CASE WHEN n > 1 AND m2 >= 0 THEN
             {sql_quantize('sqrt(m2 * n / (n - 1.0))', 4)}
           END AS sigma_log,
           {sql_quantize('jb', 4)} AS jb_stat,
           CASE WHEN jb IS NOT NULL
             THEN {sql_quantize('jb', 4)} < 5.991 END
             AS lognormal_plausible
    FROM jbt
"""

ORACLE["doc_readability"] = f"""
    WITH per_doc AS (
      SELECT source,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
               AS BIGINT) AS w,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS BIGINT) AS s,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS y
      FROM documents
    ),
    per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(w) AS BIGINT) AS sw,
             CAST(sum(s) AS BIGINT) AS ss,
             CAST(sum(y) AS BIGINT) AS sy
      FROM per_doc WHERE w > 0 GROUP BY 1
    )
    SELECT source, n_docs,
           {sql_quantize('CAST(sw AS DOUBLE) / ss', 4)}
             AS words_per_sentence,
           {sql_quantize('CAST(sy AS DOUBLE) / sw', 4)}
             AS syllables_per_word,
           {sql_quantize(
               '206.835 - 1.015 * (CAST(sw AS DOUBLE) / ss)'
               ' - 84.6 * (CAST(sy AS DOUBLE) / sw)', 4)}
             AS flesch_score
    FROM per
"""

ORACLE["corpus_partition_layout_plan"] = f"""
    WITH per AS (
      SELECT lang, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(octet_length(encode(text))) AS BIGINT)
               AS part_bytes
      FROM documents GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(sum(part_bytes) AS BIGINT) AS total_bytes,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM per
    )
    SELECT lang, source, n_docs, part_bytes,
           CAST(ceil(CAST(part_bytes AS DOUBLE)
                / {LAYOUT_TARGET_BYTES}.0) AS BIGINT)
             AS n_files_at_target,
           {sql_quantize(
               'CAST(part_bytes AS DOUBLE)'
               ' / (CAST(total_bytes AS DOUBLE) / n_parts)', 4)}
             AS skew_vs_mean,
           part_bytes < {LAYOUT_TARGET_BYTES // 4}
             AS small_files_risk
    FROM per CROSS JOIN tot
"""


ORACLE["dedup_lsh_recall"] = ORACLE["dedup_lsh_recall"].replace(
    "{LSH_ORACLE}", ORACLE["dedup_minhash_lsh"]
)

ORACLE["emb_dim_variance"] = f"""
    WITH dims AS (
      SELECT t.i - 1 AS dim, CAST(embedding[t.i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN generate_series(1, {DIM}) t(i)
    ),
    per AS (
      SELECT dim, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(x * x) AS sxx
      FROM dims GROUP BY 1
    ),
    scored AS (
      SELECT dim, n, sx / n AS mean,
             greatest((sxx - sx * (sx / n)) / (n - 1.0), 0.0) AS var
      FROM per
    ),
    tot AS (SELECT sum(var) AS total_var FROM scored)
    SELECT CAST(dim AS BIGINT) AS dim, n,
           {sql_quantize('mean', 6)} AS mean,
           {sql_quantize('var', 6)} AS variance,
           CASE WHEN n > 1 AND total_var > 0 THEN
             {sql_quantize('var / total_var', 6)}
           END AS var_share
    FROM scored CROSS JOIN tot
"""


ORACLE["emb_isotropy"] = f"""
    WITH {sql_unit_cte()},
    dims AS (
      SELECT t.i AS dim, sum(u[t.i]) AS sx
      FROM unitv CROSS JOIN generate_series(1, {DIM}) t(i)
      GROUP BY 1
    ),
    agg AS (SELECT sum(sx * sx) AS norm_sq FROM dims),
    nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM unitv)
    SELECT n,
           CASE WHEN n > 1 THEN
             {sql_quantize(
                 '(norm_sq - n) / (CAST(n AS DOUBLE) * (n - 1.0))', 6)}
           END AS mean_pairwise_cos,
           CASE WHEN n > 1 THEN
             {sql_quantize(
                 '1.0 - abs((norm_sq - n)'
                 ' / (CAST(n AS DOUBLE) * (n - 1.0)))', 6)}
           END AS isotropy
    FROM nr CROSS JOIN agg
"""

ORACLE["corpus_dedup_mix_shift"] = f"""
    WITH kept AS ({ORACLE['dedup_apply']}),
    before AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_before
      FROM documents GROUP BY 1
    ),
    after AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_after
      FROM kept GROUP BY 1
    ),
    tb AS (SELECT CAST(sum(n_before) AS BIGINT) AS tb FROM before),
    ta AS (SELECT CAST(sum(n_after) AS BIGINT) AS ta FROM after),
    j AS (
      SELECT b.lang, b.n_before,
             CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after,
             tb.tb, ta.ta
      FROM before b LEFT JOIN after a USING (lang)
      CROSS JOIN tb CROSS JOIN ta
    )
    SELECT lang, n_before, n_after,
           {sql_quantize(
               '1.0 - CAST(n_after AS DOUBLE) / n_before', 6)}
             AS removed_rate,
           {sql_quantize('CAST(n_before AS DOUBLE) / tb', 6)}
             AS share_before,
           {sql_quantize('CAST(n_after AS DOUBLE) / ta', 6)}
             AS share_after,
           {sql_quantize(
               'CAST(n_after AS DOUBLE) / ta'
               ' - CAST(n_before AS DOUBLE) / tb', 6)}
             AS share_delta
    FROM j
"""

ORACLE["corpus_term_burstiness"] = f"""
    WITH tk AS (
      SELECT doc_id, unnest({_W}) AS term FROM documents
    ),
    per AS (
      SELECT term,
             CAST(count(*) AS BIGINT) AS cf,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tk GROUP BY 1
    )
    SELECT term, cf, df,
           {sql_quantize('CAST(cf AS DOUBLE) / df', 6)} AS burstiness
    FROM per WHERE cf >= {BURST_MIN_CF}
    ORDER BY burstiness DESC, term
    LIMIT {BURST_TOP_K}
"""


ORACLE["doc_charclass_mix"] = f"""
    WITH per_doc AS (
      SELECT lang,
             CAST(length(lower(text)) AS BIGINT) AS t,
             CAST(length(lower(text))
               - length(regexp_replace(lower(text), '[a-z]', '', 'g'))
               AS BIGINT) AS a,
             CAST(length(lower(text))
               - length(regexp_replace(lower(text), '[0-9]', '', 'g'))
               AS BIGINT) AS g,
             CAST(length(lower(text))
               - length(regexp_replace(lower(text), '\\s', '', 'g'))
               AS BIGINT) AS w,
             CAST(length(lower(text))
               - length(regexp_replace(lower(text),
                   '[!-/:-@\\[-`{{-~}}]', '', 'g'))
               AS BIGINT) AS p
      FROM documents
    ),
    per AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(t) AS BIGINT) AS n_chars,
             CAST(sum(a) AS BIGINT) AS na,
             CAST(sum(g) AS BIGINT) AS ng,
             CAST(sum(w) AS BIGINT) AS nw,
             CAST(sum(p) AS BIGINT) AS np
      FROM per_doc GROUP BY 1
    )
    SELECT lang, n_docs, n_chars,
           CASE WHEN n_chars > 0 THEN
             {sql_quantize('CAST(na AS DOUBLE) / n_chars', 6)} END
             AS alpha_share,
           CASE WHEN n_chars > 0 THEN
             {sql_quantize('CAST(ng AS DOUBLE) / n_chars', 6)} END
             AS digit_share,
           CASE WHEN n_chars > 0 THEN
             {sql_quantize('CAST(nw AS DOUBLE) / n_chars', 6)} END
             AS space_share,
           CASE WHEN n_chars > 0 THEN
             {sql_quantize('CAST(np AS DOUBLE) / n_chars', 6)} END
             AS punct_share,
           CASE WHEN n_chars > 0 THEN
             {sql_quantize(
                 'CAST(n_chars - na - ng - nw - np AS DOUBLE)'
                 ' / n_chars', 6)} END
             AS other_share
    FROM per
"""

ORACLE["corpus_yule_k"] = f"""
    WITH tk AS (
      SELECT source, unnest({_W}) AS term FROM documents
    ),
    vocab AS (
      SELECT source, term, count(*) AS f FROM tk GROUP BY 1, 2
    ),
    per AS (
      SELECT source,
             CAST(sum(f) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab_size,
             sum(f * f) AS sf2
      FROM vocab GROUP BY 1
    )
    SELECT source, n_tokens, vocab_size,
           {sql_quantize(
               '1e4 * (CAST(sf2 AS DOUBLE) - n_tokens)'
               ' / (CAST(n_tokens AS DOUBLE) * n_tokens)', 4)}
             AS yule_k,
           CASE WHEN n_tokens > 1 THEN
             {sql_quantize(
                 '(CAST(sf2 AS DOUBLE) - n_tokens)'
                 ' / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1))', 6)}
           END AS simpson_d
    FROM per
"""

ORACLE["corpus_lexical_diversity"] = f"""
    WITH tk AS (
      SELECT source, unnest({_W}) AS term FROM documents
    ),
    vocab AS (
      SELECT source, term, count(*) AS f FROM tk GROUP BY 1, 2
    ),
    per AS (
      SELECT source,
             CAST(sum(f) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab_size,
             CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax
      FROM vocab GROUP BY 1
    )
    SELECT source, n_tokens, vocab_size, n_hapax,
           {sql_quantize('CAST(vocab_size AS DOUBLE) / n_tokens', 6)}
             AS type_token_ratio,
           {sql_quantize('CAST(n_hapax AS DOUBLE) / vocab_size', 6)}
             AS hapax_share
    FROM per
"""

ORACLE["multimodal_entropy"] = f"""
    WITH hx AS (
      SELECT doc_id, lower(to_hex(encode(text))) AS h,
             greatest(1, strlen(text)) AS n
      FROM documents
    ),
    nib AS (
      SELECT doc_id,
             CAST(strpos('0123456789abcdef', substr(h, CAST(p AS INT), 1))
                  - 1 AS BIGINT) AS bin
      FROM (
        SELECT doc_id, h,
               unnest(generate_series(1, length(h), 2)) AS p
        FROM hx
      )
    ),
    cnt AS (
      SELECT doc_id, bin, count(*) AS c FROM nib GROUP BY 1, 2
    ),
    shares AS (
      SELECT d.doc_id,
             floor(coalesce(c.c, 0) / d.n * 1000000.0 + 0.5)
               / 1000000.0 AS share
      FROM hx d
      CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bin) b
      LEFT JOIN cnt c ON c.doc_id = d.doc_id AND c.bin = b.bin
    )
    SELECT doc_id,
           {sql_quantize(
               '-sum(CASE WHEN share > 0'
               ' THEN share * log2(share) ELSE 0.0 END)', 6)}
             AS byte_entropy_bits,
           CAST(sum(CASE WHEN share > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_used_bins
    FROM shares GROUP BY 1
"""

ORACLE["corpus_source_divergence"] = f"""
    WITH tk AS (
      SELECT source, unnest({_W}) AS term FROM documents
    ),
    st AS (
      SELECT source, term, count(*) AS f FROM tk GROUP BY 1, 2
    ),
    s_tot AS (SELECT source, sum(f) AS s_n FROM st GROUP BY 1),
    c_term AS (SELECT term, sum(f) AS cf FROM st GROUP BY 1),
    c_tot AS (SELECT sum(cf) AS c_n FROM c_term),
    j AS (
      SELECT st.source,
             floor(st.f / s_tot.s_n * 1000000000.0 + 0.5)
               / 1000000000.0 AS p,
             floor(c_term.cf / c_tot.c_n * 1000000000.0 + 0.5)
               / 1000000000.0 AS q
      FROM st
      JOIN s_tot USING (source)
      JOIN c_term USING (term), c_tot
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_terms,
           {sql_quantize(
               'sum((CASE WHEN p > 0'
               ' THEN p * log2(p / ((p + q) / 2)) ELSE 0.0 END'
               ' + CASE WHEN q > 0'
               ' THEN q * log2(q / ((p + q) / 2)) ELSE 0.0 END) / 2)',
               6)} AS js_bits
    FROM j GROUP BY 1
"""


def _profile_oracle() -> str:
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    branches = "\n      UNION ALL ".join(
        f"""SELECT '{c}' AS column_name,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
             CAST(sum(CASE WHEN CAST({c} AS VARCHAR) = '' THEN 1
                      ELSE 0 END) AS BIGINT) AS n_empty,
             CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
             min(CAST({c} AS VARCHAR)) AS min_str,
             max(CAST({c} AS VARCHAR)) AS max_str
      FROM documents"""
        for c in cols
    )
    return branches


ORACLE["corpus_profile"] = _profile_oracle()


ORACLE["corpus_collocations"] = f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(generate_series(1, len({_W}))) AS i,
             unnest({_W}) AS w
      FROM documents
    ),
    uni AS (SELECT w, count(*) AS f1 FROM toks GROUP BY 1),
    n1 AS (SELECT sum(f1) AS n_tokens FROM uni),
    allbi AS (
      SELECT a.w, b.w AS w2
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    nb AS (SELECT count(*) AS n_bigrams FROM allbi),
    bi AS (
      SELECT w, w2, count(*) AS f12 FROM allbi GROUP BY 1, 2
      HAVING count(*) >= {COLLOC_MIN_COUNT}
    )
    SELECT bi.w AS w1, bi.w2,
           CAST(bi.f12 AS BIGINT) AS n_pair,
           {sql_quantize(
               'log2((CAST(bi.f12 AS DOUBLE) / nb.n_bigrams)'
               ' / ((CAST(ua.f1 AS DOUBLE) / n1.n_tokens)'
               ' * (CAST(ub.f1 AS DOUBLE) / n1.n_tokens)))', 6)}
             AS pmi_bits
    FROM bi
    JOIN uni ua ON ua.w = bi.w
    JOIN uni ub ON ub.w = bi.w2, nb, n1
    ORDER BY pmi_bits DESC, w1, w2
    LIMIT {COLLOC_TOPK}
"""

ORACLE["corpus_ks_drift"] = f"""
    WITH {_quality_docs_cte()},
    mid AS (SELECT quantile_cont(doc_id, 0.5) AS mid FROM documents),
    scored AS (
      SELECT qdocs.quality_score AS q,
             CASE WHEN d.doc_id <= mid.mid THEN 1 ELSE 0 END AS h1
      FROM qdocs JOIN documents d USING (doc_id), mid
    ),
    hist AS (
      SELECT q, sum(h1) AS m1, sum(1 - h1) AS m2
      FROM scored GROUP BY 1
    ),
    tot AS (SELECT sum(m1) AS n1, sum(m2) AS n2 FROM hist),
    cum AS (
      SELECT a.q AS qa, sum(b.m1) AS c1, sum(b.m2) AS c2
      FROM hist a JOIN hist b ON b.q <= a.q
      GROUP BY 1
    ),
    d AS (
      SELECT max(abs(CAST(cum.c1 AS DOUBLE) / tot.n1
                     - CAST(cum.c2 AS DOUBLE) / tot.n2)) AS dd,
             any_value(tot.n1) AS n1, any_value(tot.n2) AS n2
      FROM cum, tot
    )
    SELECT CAST(n1 AS BIGINT) AS n_first_half,
           CAST(n2 AS BIGINT) AS n_second_half,
           {sql_quantize('dd', 6)} AS ks_d,
           {sql_quantize(
               '1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)'
               ' / CAST(n1 * n2 AS DOUBLE))', 6)} AS crit_95,
           ({sql_quantize('dd', 6)}
            > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)
                           / CAST(n1 * n2 AS DOUBLE)))
             AS drift_detected
    FROM d
"""

ORACLE["corpus_chi2_independence"] = f"""
    WITH obs AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ),
    rm AS (SELECT lang, sum(n) AS nl FROM obs GROUP BY 1),
    cm AS (SELECT source, sum(n) AS ns FROM obs GROUP BY 1),
    tot AS (SELECT sum(n) AS nn FROM obs),
    cells AS (
      SELECT rm.lang, cm.source, rm.nl, cm.ns, tot.nn,
             CAST(coalesce(obs.n, 0) AS BIGINT) AS o
      FROM rm CROSS JOIN cm
      LEFT JOIN obs ON obs.lang = rm.lang AND obs.source = cm.source
      CROSS JOIN tot
    ),
    terms AS (
      SELECT o, lang, source,
             {sql_quantize(
                 '(o - CAST(nl AS DOUBLE) * ns / nn)'
                 ' * (o - CAST(nl AS DOUBLE) * ns / nn)'
                 ' / (CAST(nl AS DOUBLE) * ns / nn)', 9)} AS term
      FROM cells
    ),
    s AS (
      SELECT CAST(sum(o) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             {sql_quantize('sum(term)', 4)} AS chi2
      FROM terms
    )
    SELECT n_docs, n_langs, n_sources,
           (n_langs - 1) * (n_sources - 1) AS dof,
           chi2,
           CASE WHEN least(n_langs - 1, n_sources - 1) > 0
                THEN {sql_quantize(
                    'sqrt(chi2 / CAST(n_docs'
                    ' * least(n_langs - 1, n_sources - 1) AS DOUBLE))',
                    6)}
           END AS cramers_v
    FROM s
"""

ORACLE["doc_anova_length"] = f"""
    WITH g AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(n_chars) AS DOUBLE) AS sg,
             CAST(sum(n_chars * n_chars) AS DOUBLE) AS qg
      FROM documents GROUP BY 1
    ),
    roll AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_groups,
             sum(sg) AS s,
             sum(qg) AS q,
             sum({sql_quantize('sg * sg / ng', 6)}) AS tb
      FROM g
    )
    SELECT n_docs, n_groups,
           {sql_quantize('s / n_docs', 4)} AS mean_chars,
           CASE WHEN n_groups > 1 AND q - tb > 0
                THEN {sql_quantize(
                    '((tb - s * s / n_docs) / (n_groups - 1))'
                    ' / ((q - tb) / (n_docs - n_groups))', 4)}
           END AS f_stat,
           CASE WHEN q - s * s / n_docs > 0
                THEN {sql_quantize(
                    '(tb - s * s / n_docs) / (q - s * s / n_docs)', 6)}
           END AS eta_squared
    FROM roll
"""

ORACLE["corpus_sample_weighted"] = f"""
    SELECT doc_id, lang, source, weight, priority FROM (
      WITH {{qcte}},
      base AS (
        SELECT d.doc_id, d.lang, d.source,
               CAST(round(qdocs.quality_score * 10000) AS BIGINT) + 1
                 AS weight,
               CAST({{fold}} AS DOUBLE) / 1152921504606846976.0 AS u
        FROM documents d JOIN qdocs USING (doc_id)
      )
      SELECT doc_id, lang, source, weight,
             {sql_quantize('-ln(u) / weight', 9)} AS priority
      FROM base
    )
    ORDER BY priority, doc_id
    LIMIT {WEIGHTED_SAMPLE_K}
"""
from ..functions.hashing import sql_shingle_key as _ssk  # noqa: E402

ORACLE["corpus_sample_weighted"] = ORACLE["corpus_sample_weighted"].format(
    qcte=_quality_docs_cte(),
    fold=_ssk(
        f"concat('{WEIGHTED_SAMPLE_SEED}|', CAST(d.doc_id AS VARCHAR))"
    ),
)

ORACLE["corpus_ppl_buckets"] = f"""
    WITH su AS ({ORACLE['doc_unigram_surprisal']}),
    sc AS (
      SELECT su.doc_id, d.lang, su.mean_surprisal
      FROM su JOIN documents d USING (doc_id)
    ),
    th AS (
      SELECT lang,
             {sql_quantize(
                 'quantile_cont(mean_surprisal, 0.3333333333333333)', 9
             )} AS t1,
             {sql_quantize(
                 'quantile_cont(mean_surprisal, 0.6666666666666666)', 9
             )} AS t2
      FROM sc GROUP BY 1
    ),
    b AS (
      SELECT sc.lang,
             CASE WHEN sc.mean_surprisal <= th.t1 THEN 'head'
                  WHEN sc.mean_surprisal <= th.t2 THEN 'middle'
                  ELSE 'tail' END AS bucket,
             sc.mean_surprisal
      FROM sc JOIN th USING (lang)
    ),
    roll AS (
      SELECT lang, bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             {sql_quantize('avg(mean_surprisal)', 4)} AS mean_bits
      FROM b GROUP BY 1, 2
    ),
    lt AS (SELECT lang, sum(n_docs) AS lang_docs FROM roll GROUP BY 1)
    SELECT roll.lang, roll.bucket, roll.n_docs,
           {sql_quantize(
               'CAST(roll.n_docs AS DOUBLE) / lt.lang_docs', 6)} AS share,
           roll.mean_bits
    FROM roll JOIN lt USING (lang)
"""

ORACLE["corpus_quality_calibration"] = f"""
    WITH ens AS ({ORACLE['doc_quality_ensemble']}),
    b AS (
      SELECT least(CAST(floor(
               CAST(round(quality_score * 10000) AS BIGINT) / 1000.0
             ) AS BIGINT), 9) AS bucket,
             CASE WHEN keep THEN 1 ELSE 0 END AS k,
             CAST(round(quality_score * 10000) AS BIGINT) AS qi
      FROM ens
    )
    SELECT bucket,
           {sql_quantize('bucket / 10.0', 1)} AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(k) AS BIGINT) AS n_kept,
           {sql_quantize('CAST(sum(k) AS DOUBLE) / count(*)', 6)}
             AS keep_rate,
           {sql_quantize(
               'CAST(sum(qi) AS DOUBLE) / (count(*) * 10000.0)', 4)}
             AS mean_score
    FROM b GROUP BY 1
"""

ORACLE["emb_norm_audit"] = f"""
    WITH n AS (
      SELECT CAST(len(embedding) AS BIGINT) AS dim,
             {sql_quantize(
                 "sqrt(" + sql_dot('embedding', 'embedding') + ")", 6)}
               AS nrm
      FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           min(dim) AS dim_min,
           max(dim) AS dim_max,
           CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero,
           {sql_quantize('avg(nrm)', 4)} AS mean_norm,
           round(CAST(quantile_cont(nrm, 0.5) AS DOUBLE), 4) AS p50_norm,
           {sql_quantize('min(nrm)', 4)} AS min_norm,
           {sql_quantize('max(nrm)', 4)} AS max_norm
    FROM n
"""


ORACLE["corpus_boilerplate_rate"] = f"""
    WITH {_SH_CTES}, {_SHK_CTE},
    dfreq AS (
      SELECT s, CAST(count(*) AS BIGINT) AS df FROM shk GROUP BY 1
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_windows,
           {sql_quantize(
               'CAST(sum(CASE WHEN dfreq.df >= 2 THEN 1 ELSE 0 END)'
               ' AS DOUBLE) / count(*)', 6)} AS boilerplate_rate
    FROM shk
    JOIN dfreq USING (s)
    JOIN documents d USING (doc_id)
    GROUP BY 1
"""


_COS_AB = (
    f"({sql_dot('a.embedding', 'b.embedding')}"
    f" / (sqrt({sql_dot('a.embedding', 'a.embedding')})"
    f" * sqrt({sql_dot('b.embedding', 'b.embedding')})))"
)

ORACLE["emb_cosine_hist"] = f"""
    WITH pairs AS (
        SELECT CAST(1 AS BIGINT) AS stride,
               {sql_quantize(_COS_AB, 6)} AS cos
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
      UNION ALL
        SELECT CAST(17 AS BIGINT) AS stride,
               {sql_quantize(_COS_AB, 6)} AS cos
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 17
    )
    SELECT stride,
           CAST(floor(cos * 10) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1, 2
"""

ORACLE["multimodal_integrity"] = f"""
    WITH meta AS ({ORACLE['multimodal_meta']}),
    ent AS ({ORACLE['multimodal_entropy']}),
    j AS (
      SELECT meta.fake_format, meta.n_bytes, ent.byte_entropy_bits,
             CASE WHEN meta.n_bytes = 0
                    OR ent.byte_entropy_bits < {MM_ENTROPY_MIN}
                  THEN 1 ELSE 0 END AS suspect
      FROM meta JOIN ent USING (doc_id)
    )
    SELECT fake_format,
           CAST(count(*) AS BIGINT) AS n_payloads,
           CAST(sum(suspect) AS BIGINT) AS n_suspect,
           {sql_quantize('CAST(sum(suspect) AS DOUBLE) / count(*)', 6)}
             AS suspect_rate,
           {sql_quantize('avg(byte_entropy_bits)', 4)} AS mean_entropy,
           min(n_bytes) AS min_bytes,
           max(n_bytes) AS max_bytes
    FROM j GROUP BY 1
"""

ORACLE["knn_recall_report"] = f"""
    WITH bf AS ({ORACLE['knn_bruteforce']}),
    lsh AS ({ORACLE['knn_lsh']}),
    ivf AS ({ORACLE['knn_ivf']}),
    l AS (
      SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
             CAST(count(*) AS BIGINT) AS n_retrieved,
             CAST(sum(CASE WHEN EXISTS (
               SELECT 1 FROM bf
               WHERE bf.query_id = lsh.query_id
                 AND bf.neighbor_id = lsh.neighbor_id
             ) THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM lsh
    ),
    i AS (
      SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
             CAST(count(*) AS BIGINT) AS n_retrieved,
             CAST(sum(CASE WHEN EXISTS (
               SELECT 1 FROM bf
               WHERE bf.query_id = ivf.query_id
                 AND bf.neighbor_id = ivf.neighbor_id
             ) THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM ivf
    )
    SELECT 'lsh' AS method, n_queries, n_retrieved, n_hits,
           {sql_quantize('CAST(n_hits AS DOUBLE) / n_retrieved', 6)}
             AS hit_rate
    FROM l
    UNION ALL
    SELECT 'ivf' AS method, n_queries, n_retrieved, n_hits,
           {sql_quantize('CAST(n_hits AS DOUBLE) / n_retrieved', 6)}
             AS hit_rate
    FROM i
"""

ORACLE["corpus_ref_integrity"] = """
    WITH d AS (SELECT doc_id AS id, 1 AS has_doc FROM documents),
    e AS (SELECT vec_id AS id, 1 AS has_vec FROM embeddings),
    j AS (SELECT * FROM d FULL JOIN e USING (id))
    SELECT CAST(sum(coalesce(has_doc, 0)) AS BIGINT) AS n_docs,
           CAST(sum(coalesce(has_vec, 0)) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN has_doc IS NOT NULL
                          AND has_vec IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN has_vec IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS docs_without_vec,
           CAST(sum(CASE WHEN has_doc IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS vecs_without_doc,
           (sum(CASE WHEN has_vec IS NULL THEN 1 ELSE 0 END) = 0)
             AS docs_fully_covered
    FROM j
"""

ORACLE["corpus_sample_neyman"] = f"""
    WITH {{qcte}},
    g AS (
      SELECT d.lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CAST(round(qdocs.quality_score * 10000) AS BIGINT))
               AS DOUBLE) AS s,
             CAST(sum(CAST(round(qdocs.quality_score * 10000) AS BIGINT)
                      * CAST(round(qdocs.quality_score * 10000) AS BIGINT))
               AS DOUBLE) AS qq
      FROM documents d JOIN qdocs USING (doc_id)
      GROUP BY 1
    ),
    g2 AS (
      SELECT lang, n_docs,
             {sql_quantize(
                 'sqrt(greatest((qq - s * s / n_docs) / (n_docs - 1),'
                 ' 0.0)) / 10000.0', 6)} AS stratum_sd
      FROM g
    ),
    g3 AS (
      SELECT lang, n_docs, stratum_sd,
             n_docs * stratum_sd AS wgt
      FROM g2
    ),
    tot AS (SELECT sum(wgt) AS wtot FROM g3)
    SELECT g3.lang, g3.n_docs, g3.stratum_sd,
           {sql_quantize('g3.wgt / tot.wtot', 6)} AS alloc_share,
           CAST(floor({sql_quantize('g3.wgt / tot.wtot', 6)}
                      * {NEYMAN_BUDGET} + 0.5) AS BIGINT) AS n_alloc
    FROM g3, tot
"""
ORACLE["corpus_sample_neyman"] = ORACLE["corpus_sample_neyman"].format(
    qcte=_quality_docs_cte()
)

ORACLE["emb_intrinsic_dim"] = f"""
    WITH {_KNN_GRAPH_CTES},
    r1 AS (SELECT da AS node, cos AS c1 FROM knng WHERE rk = 1),
    r2 AS (SELECT da AS node, cos AS c2 FROM knng WHERE rk = 2),
    j AS (
      SELECT ln(sqrt(2.0 * (1.0 - r2.c2))
                / sqrt(2.0 * (1.0 - r1.c1))) AS ln_mu
      FROM r1 JOIN r2 USING (node)
      WHERE r1.c1 < 1.0 AND r2.c2 <= r1.c1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           {sql_quantize('avg(ln_mu)', 6)} AS mean_ln_ratio,
           {sql_quantize('count(*) / sum(ln_mu)', 3)} AS intrinsic_dim
    FROM j
"""

ORACLE["corpus_lang_divergence"] = f"""
    WITH lt AS (
      SELECT lang, term, count(*) AS f FROM (
        SELECT lang, unnest({SQL_WORDS.format(c='text')}) AS term
        FROM documents
      ) GROUP BY 1, 2
    ),
    tot AS (SELECT lang, sum(f) AS n FROM lt GROUP BY 1),
    p AS (
      SELECT lt.term, lt.lang,
             {sql_quantize('lt.f / tot.n', 9)} AS pr
      FROM lt JOIN tot USING (lang)
    )
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           CAST(count(*) AS BIGINT) AS n_shared_terms,
           {sql_quantize(
               'sum((CASE WHEN a.pr > 0 THEN a.pr'
               ' * log2(a.pr / ((a.pr + b.pr) / 2)) ELSE 0.0 END'
               ' + CASE WHEN b.pr > 0 THEN b.pr'
               ' * log2(b.pr / ((a.pr + b.pr) / 2)) ELSE 0.0 END) / 2)',
               6)} AS js_bits
    FROM p a JOIN p b ON a.term = b.term AND a.lang < b.lang
    GROUP BY 1, 2
"""

ORACLE["corpus_hapax"] = f"""
    WITH lt AS (
      SELECT lang, term, CAST(count(*) AS BIGINT) AS f FROM (
        SELECT lang, unnest({SQL_WORDS.format(c='text')}) AS term
        FROM documents
      ) GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           {sql_quantize(
               'CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)'
               ' / count(*)', 6)} AS hapax_rate,
           CAST(sum(f) AS BIGINT) AS n_tokens,
           {sql_quantize(
               'CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)'
               ' / sum(f)', 6)} AS hapax_token_share
    FROM lt GROUP BY 1
"""

ORACLE["emb_hubness"] = f"""
    WITH {_KNN_GRAPH_CTES},
    indeg AS (
      SELECT db AS vec_id, CAST(count(*) AS BIGINT) AS in_degree
      FROM knng GROUP BY 1
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_referenced,
             max(in_degree) AS max_in_degree,
             {sql_quantize('avg(in_degree)', 4)} AS mean_in_degree
      FROM indeg
    )
    SELECT i.vec_id, i.in_degree,
           s.n_referenced, s.max_in_degree, s.mean_in_degree,
           {sql_quantize(
               'CAST(i.in_degree AS DOUBLE) / s.mean_in_degree', 4)}
             AS hubness_ratio
    FROM indeg i, stats s
    ORDER BY i.in_degree DESC, i.vec_id
    LIMIT {HUB_TOPK}
"""

ORACLE["corpus_quality_length_corr"] = f"""
    WITH {_quality_docs_cte()},
    base AS (
      SELECT d.lang,
             CAST(d.n_chars AS BIGINT) AS x,
             CAST(round(qdocs.quality_score * 10000) AS BIGINT) AS y
      FROM documents d JOIN qdocs USING (doc_id)
    ),
    g AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM base GROUP BY 1
    ),
    u AS (
      SELECT lang, n, sx, sy, sxy, sxx, syy FROM g
      UNION ALL
      SELECT 'ALL' AS lang, CAST(sum(n) AS BIGINT) AS n,
             sum(sx), sum(sy), sum(sxy), sum(sxx), sum(syy)
      FROM g
    )
    SELECT lang, n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN {sql_quantize(
                    '(n * sxy - sx * sy)'
                    ' / sqrt((n * sxx - sx * sx)'
                    ' * (n * syy - sy * sy))', 6)}
           END AS pearson_r
    FROM u
"""

ORACLE["corpus_quality_length_spearman"] = f"""
    WITH {_quality_docs_cte()},
    base AS (
      SELECT d.doc_id,
             CAST(d.n_chars AS BIGINT) AS x,
             CAST(round(qdocs.quality_score * 10000) AS BIGINT) AS y
      FROM documents d JOIN qdocs USING (doc_id)
    ),
    hx AS (SELECT x, CAST(count(*) AS BIGINT) AS m FROM base GROUP BY 1),
    cx AS (
      SELECT a.x, CAST(2 * sum(b.m) + a.m + 1 AS BIGINT) AS r2
      FROM hx a JOIN hx b ON b.x < a.x GROUP BY a.x, a.m
    ),
    rx AS (
      SELECT hx.x, CAST(coalesce(cx.r2, hx.m + 1) AS BIGINT) AS r2_x
      FROM hx LEFT JOIN cx USING (x)
    ),
    hy AS (SELECT y, CAST(count(*) AS BIGINT) AS m FROM base GROUP BY 1),
    cy AS (
      SELECT a.y, CAST(2 * sum(b.m) + a.m + 1 AS BIGINT) AS r2
      FROM hy a JOIN hy b ON b.y < a.y GROUP BY a.y, a.m
    ),
    ry AS (
      SELECT hy.y, CAST(coalesce(cy.r2, hy.m + 1) AS BIGINT) AS r2_y
      FROM hy LEFT JOIN cy USING (y)
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx.r2_x) AS DOUBLE) AS sx,
             CAST(sum(ry.r2_y) AS DOUBLE) AS sy,
             CAST(sum(rx.r2_x * ry.r2_y) AS DOUBLE) AS sxy,
             CAST(sum(rx.r2_x * rx.r2_x) AS DOUBLE) AS sxx,
             CAST(sum(ry.r2_y * ry.r2_y) AS DOUBLE) AS syy
      FROM base JOIN rx USING (x) JOIN ry USING (y)
    )
    SELECT n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN {sql_quantize(
                    '(n * sxy - sx * sy)'
                    ' / sqrt((n * sxx - sx * sx)'
                    ' * (n * syy - sy * sy))', 6)}
           END AS spearman_rho
    FROM s
"""

def _ivf_sql_with_nprobe(np_: int) -> str:
    """The knn_ivf oracle with its probes cap swapped — the marker is
    the UNIQUE 'rk <= IVF_NPROBE' terminator of the probes CTE (the
    final top-k cap is 'rk <= KNN_K', a different literal)."""
    src = ORACLE["knn_ivf"]
    marker = f"WHERE rk <= {IVF_NPROBE}"
    assert src.count(marker) == 1, "probes marker not unique"
    return src.replace(marker, f"WHERE rk <= {np_}")


def _nprobe_arm_sql(np_: int) -> str:
    return f"""      SELECT CAST({np_} AS BIGINT) AS nprobe,
             CAST(count(DISTINCT ivf.query_id) AS BIGINT) AS n_queries,
             CAST(count(*) AS BIGINT) AS n_retrieved,
             CAST(sum(CASE WHEN EXISTS (
               SELECT 1 FROM bf
               WHERE bf.query_id = ivf.query_id
                 AND bf.neighbor_id = ivf.neighbor_id
             ) THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             (floor(CAST(sum(CASE WHEN EXISTS (
               SELECT 1 FROM bf
               WHERE bf.query_id = ivf.query_id
                 AND bf.neighbor_id = ivf.neighbor_id
             ) THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
               * 1000000.0 + 0.5) / 1000000.0) AS hit_rate
      FROM ({_ivf_sql_with_nprobe(np_)}) ivf"""


ORACLE["knn_ivf_nprobe_curve"] = (
    f"""    WITH bf AS ({ORACLE['knn_bruteforce']})\n"""
    + "\n      UNION ALL\n".join(
        _nprobe_arm_sql(np_) for np_ in IVF_CURVE_NPROBES
    )
)

ORACLE["corpus_token_gini"] = f"""
    WITH per AS (
      SELECT CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}'))
        AS BIGINT) AS n_tokens
      FROM documents
    ),
    hist AS (
      SELECT n_tokens, CAST(count(*) AS BIGINT) AS m
      FROM per GROUP BY 1
    ),
    mad AS (
      SELECT sum(a.m * b.m * abs(a.n_tokens - b.n_tokens)) AS s
      FROM hist a CROSS JOIN hist b
    ),
    tot AS (
      SELECT CAST(sum(m) AS BIGINT) AS n_docs,
             CAST(sum(m * n_tokens) AS BIGINT) AS total_tokens
      FROM hist
    )
    SELECT tot.n_docs, tot.total_tokens,
           {sql_quantize(
               'CAST(tot.total_tokens AS DOUBLE) / tot.n_docs', 4)}
             AS mean_tokens,
           {sql_quantize(
               'CAST(mad.s AS DOUBLE) / (2.0'
               ' * CAST(tot.n_docs AS DOUBLE)'
               ' * CAST(tot.total_tokens AS DOUBLE))', 6)} AS gini
    FROM mad, tot
"""


_JL_PROJ_CTE = f"""
    r AS (
      SELECT s.i AS dim, t.j AS comp,
             CASE WHEN ((s.i * 131 + t.j * 137) % 97) % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS rv
      FROM generate_series(0, {DIM - 1}) s(i)
      CROSS JOIN generate_series(0, {JL_K - 1}) t(j)
    ),
    jl_dims AS (
      SELECT vec_id, t.i - 1 AS dim,
             CAST(embedding[t.i] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN generate_series(1, {DIM}) t(i)
    ),
    proj AS (
      SELECT vec_id, comp, sum(x * rv) / sqrt({JL_K}.0) AS y
      FROM jl_dims JOIN r USING (dim) GROUP BY 1, 2
    )
"""

ORACLE["emb_random_projection"] = f"""
    WITH {_JL_PROJ_CTE}
    SELECT vec_id, CAST(comp AS BIGINT) AS comp,
           {sql_quantize('y', 6)} AS value
    FROM proj
"""

ORACLE["emb_jl_distortion"] = f"""
    WITH {_JL_PROJ_CTE},
    py AS (SELECT vec_id, sum(y * y) AS py FROM proj GROUP BY 1),
    px AS (
      SELECT vec_id, sum(x * x) AS px FROM jl_dims GROUP BY 1
    ),
    scored AS (
      SELECT py.py / px.px AS ratio
      FROM py JOIN px USING (vec_id) WHERE px.px > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           {sql_quantize('avg(ratio)', 6)} AS mean_ratio,
           {sql_quantize('min(ratio)', 6)} AS min_ratio,
           {sql_quantize('max(ratio)', 6)} AS max_ratio,
           {sql_quantize(
               'avg(CASE WHEN ratio >= 0.75 AND ratio <= 1.25 '
               'THEN 1.0 ELSE 0.0 END)', 6)}
             AS share_within_25pct
    FROM scored
"""


ORACLE["multimodal_neardup"] = f"""
    WITH feats AS ({ORACLE['multimodal_features']}),
    flist AS (
      SELECT doc_id, list(share ORDER BY bin) AS f
      FROM feats GROUP BY 1
    ),
    unitf AS (
      SELECT doc_id,
             list_transform(f, x -> CAST(x AS DOUBLE) /
               sqrt({sql_dot('f', 'f', 16)})) AS u
      FROM flist
    )
    SELECT a.doc_id AS da, b.doc_id AS db,
           (floor({sql_dot('a.u', 'b.u', 16)} * 1000000.0 + 0.5)
             / 1000000.0) AS cos
    FROM unitf a JOIN unitf b ON a.doc_id < b.doc_id
    WHERE (floor({sql_dot('a.u', 'b.u', 16)} * 1000000.0 + 0.5)
             / 1000000.0) >= {MM_NEARDUP_COS}
"""


ORACLE["corpus_pack_efficiency"] = f"""
    WITH RECURSIVE packed AS ({ORACLE['corpus_pack']}),
    per AS (
      SELECT source, pack_id,
             CAST(sum(n_tokens) AS BIGINT) AS tokens,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM packed GROUP BY 1, 2
    )
    SELECT CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_packs,
           CAST(sum(tokens) AS BIGINT) AS total_tokens,
           CAST({PACK_BUDGET_TOKENS} AS BIGINT) AS budget,
           {sql_quantize(
               'avg(CAST(tokens AS DOUBLE) / ' +
               str(PACK_BUDGET_TOKENS) + ')', 6)} AS mean_fill,
           {sql_quantize(
               'min(CAST(tokens AS DOUBLE) / ' +
               str(PACK_BUDGET_TOKENS) + ')', 6)} AS min_fill,
           {sql_quantize(
               'max(CAST(tokens AS DOUBLE) / ' +
               str(PACK_BUDGET_TOKENS) + ')', 6)} AS max_fill,
           {sql_quantize(
               'CAST(sum(tokens) AS DOUBLE)'
               ' / (count(*) * ' + str(PACK_BUDGET_TOKENS) + ')',
               6)} AS utilization,
           CAST(sum(CASE WHEN tokens > {PACK_BUDGET_TOKENS}
             THEN 1 ELSE 0 END) AS BIGINT) AS oversized_packs
    FROM per
"""

_RBO_DW_VALUES = ", ".join(
    f"({d + 1}, {w})" for d, w in enumerate(_RBO_W)
)

ORACLE["search_rbo"] = f"""
    WITH {sql_unit_cte()},
    knn AS (
      SELECT query_id, neighbor_id, rk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY (floor({sql_dot('q.u', 'c.u')} * 1000000.0 + 0.5)
                           / 1000000.0) DESC,
                          c.vec_id
               ) AS rk
        FROM unitv q JOIN unitv c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE rk <= {RBO_DEPTH}
    ),
    {_bm25_oracle_ctes(RBO_DEPTH)},
    pr AS (
      SELECT k.query_id, greatest(k.rk, l.rk) AS m
      FROM knn k JOIN lex l
        ON k.query_id = l.query_id AND k.neighbor_id = l.doc_id
    ),
    dw(d, w) AS (VALUES {_RBO_DW_VALUES}),
    x AS (
      SELECT query_id, d, w, CAST(count(*) AS BIGINT) AS x
      FROM pr JOIN dw ON pr.m <= dw.d GROUP BY 1, 2, 3
    ),
    per AS (
      SELECT query_id, CAST(sum(w * x) AS BIGINT) AS wsum,
             CAST(max(CASE WHEN d = {RBO_DEPTH} THEN x END) AS BIGINT)
               AS xd
      FROM x GROUP BY 1
    )
    SELECT e.vec_id AS query_id,
           CAST(coalesce(per.xd, 0) AS BIGINT) AS overlap_at_k,
           {sql_quantize(
               f'coalesce(per.wsum, 0) / {float(_RBO_SCALE)!r}', 6)}
             AS rbo_min,
           {sql_quantize(
               f'(coalesce(per.wsum, 0)'
               f' + {_RBO_EXT_W} * coalesce(per.xd, 0))'
               f' / {float(_RBO_SCALE)!r}', 6)}
             AS rbo_ext
    FROM embeddings e LEFT JOIN per ON per.query_id = e.vec_id
    WHERE e.vec_id < {N_QUERY_VECS}
"""

ORACLE["multimodal_pack"] = f"""
    WITH RECURSIVE d AS (
      SELECT doc_id,
             CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'jpeg'
                  WHEN octet_length(encode(text)) % 3 = 1 THEN 'png'
                  ELSE 'webp' END AS fmt,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             row_number() OVER (
               PARTITION BY CASE
                 WHEN octet_length(encode(text)) % 3 = 0 THEN 'jpeg'
                 WHEN octet_length(encode(text)) % 3 = 1 THEN 'png'
                 ELSE 'webp' END
               ORDER BY doc_id
             ) AS rn
      FROM documents
    ),
    walk AS (
      SELECT fmt, rn, doc_id, n_bytes,
             CAST(0 AS BIGINT) AS shard_id, n_bytes AS acc
      FROM d WHERE rn = 1
      UNION ALL
      SELECT s.fmt, s.rn, s.doc_id, s.n_bytes,
             CASE WHEN w.acc > 0
                   AND w.acc + s.n_bytes > {MM_PACK_BUDGET_BYTES}
                  THEN w.shard_id + 1 ELSE w.shard_id END,
             CASE WHEN w.acc > 0
                   AND w.acc + s.n_bytes > {MM_PACK_BUDGET_BYTES}
                  THEN s.n_bytes ELSE w.acc + s.n_bytes END
      FROM walk w JOIN d s ON s.fmt = w.fmt AND s.rn = w.rn + 1
    )
    SELECT doc_id, fmt, n_bytes, shard_id FROM walk
"""


ORACLE["corpus_soft_dedup"] = f"""
    WITH RECURSIVE {_LSH_PAIR_CTES},
    edges AS (
      SELECT da, db FROM lsh_pairs
      UNION
      SELECT db AS da, da AS db FROM lsh_pairs
    ),
    walk(id, r) AS (
      SELECT da, da FROM edges
      UNION
      SELECT w.id, e.db FROM walk w JOIN edges e ON e.da = w.r
    ),
    clusters AS (
      SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
      FROM walk GROUP BY id
    ),
    csizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM clusters GROUP BY 1
    ),
    cd AS (
      SELECT c.doc_id, s.cluster_size
      FROM clusters c JOIN csizes s ON s.cluster_id = c.cluster_id
    )
    SELECT d.doc_id,
           CAST(coalesce(cd.cluster_size, 1) AS BIGINT) AS cluster_size,
           {sql_quantize('1.0 / coalesce(cd.cluster_size, 1)', 6)}
             AS weight
    FROM documents d LEFT JOIN cd ON cd.doc_id = d.doc_id
"""

ORACLE["corpus_dp_vocab"] = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_W}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS n FROM toks GROUP BY 1, 2
    ),
    kept AS (
      SELECT doc_id, term FROM (
        SELECT doc_id, term,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY n DESC, term
               ) AS rk
        FROM tf
      ) WHERE rk <= {DP_VOCAB_CLIP}
    ),
    dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM kept GROUP BY 1
    ),
    drawn AS (
      SELECT term, df,
             (CAST(CAST(('0x' || substr(md5('dpv|' || term), 1, 8))
                        AS BIGINT) AS DOUBLE) + 0.5)
               / 4294967296.0 - 0.5 AS c
      FROM dfreq
    ),
    rel AS (
      SELECT term,
             CAST(greatest(0, df + CAST(floor(
               {-DP_VOCAB_CLIP / DP_VOCAB_EPS!r}
               * sign(c) * ln(1.0 - 2.0 * abs(c))
               + 0.5) AS BIGINT)) AS BIGINT) AS dp_df
      FROM drawn
    )
    SELECT term, dp_df FROM rel WHERE dp_df >= {DP_VOCAB_THRESHOLD}
"""

ORACLE["corpus_semantic_dedup"] = f"""
    WITH RECURSIVE {sql_unit_cte()},
    nd AS (
      SELECT a.vec_id AS da, b.vec_id AS db
      FROM unitv a JOIN unitv b ON a.vec_id < b.vec_id
      WHERE (floor({sql_dot('a.u', 'b.u')} * 1000000.0 + 0.5) / 1000000.0)
              >= {NEARDUP_COS}
    ),
    edges AS (
      SELECT da, db FROM nd UNION SELECT db AS da, da AS db FROM nd
    ),
    walk(id, r) AS (
      SELECT da, da FROM edges
      UNION
      SELECT w.id, e.db FROM walk w JOIN edges e ON e.da = w.r
    ),
    dropset AS (
      SELECT id FROM walk GROUP BY id HAVING id <> min(r)
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM dropset)
"""


def _hrw_sql_key(shard: int) -> str:
    return (
        f"md5('hrw|' || CAST(doc_id AS VARCHAR) || '|' || '{shard}')"
    )


def _hrw_assign_cte() -> str:
    keys = ", ".join(
        f"{_hrw_sql_key(s)} AS k{s}" for s in range(HRW_SHARDS + 1)
    )
    best = "CASE"
    for s in range(HRW_SHARDS):
        others = " AND ".join(
            f"k{s} > k{o}" for o in range(HRW_SHARDS) if o != s
        ) or "TRUE"
        best += f" WHEN {others} THEN {s}"
    best += " END"
    greatest_cur = "greatest(" + ", ".join(
        f"k{s}" for s in range(HRW_SHARDS)
    ) + ")"
    return f"""keys AS (
      SELECT doc_id, {keys} FROM documents
    ),
    assign AS (
      SELECT doc_id,
             CAST({best} AS BIGINT) AS shard,
             (k{HRW_SHARDS} > {greatest_cur}) AS moves_on_scale_out
      FROM keys
    )"""


ORACLE["corpus_shard_rendezvous"] = f"""
    WITH {_hrw_assign_cte()}
    SELECT doc_id, shard, moves_on_scale_out FROM assign
"""

ORACLE["corpus_shard_rendezvous_balance"] = f"""
    WITH {_hrw_assign_cte()},
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN moves_on_scale_out THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_move
      FROM assign
    )
    SELECT shard, CAST(count(*) AS BIGINT) AS n,
           {sql_quantize('count(*) / CAST(t.n_docs AS DOUBLE)', 6)}
             AS share,
           {sql_quantize('t.n_move / CAST(t.n_docs AS DOUBLE)', 6)}
             AS move_fraction
    FROM assign CROSS JOIN tot t
    GROUP BY shard, t.n_docs, t.n_move
"""

ORACLE["corpus_bm25_index"] = f"""
    WITH btk AS (
      SELECT doc_id, len({_W}) AS len, unnest({_W}) AS term
      FROM documents
    ),
    btf AS (
      SELECT doc_id, term, count(*) AS n, max(len) AS len
      FROM btk GROUP BY 1, 2
    ),
    bdf AS (SELECT term, count(*) AS df FROM btf GROUP BY 1),
    bstats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(len({_W})) AS DOUBLE) / count(*) AS avgdl
      FROM documents
    )
    SELECT btf.term, btf.doc_id,
           CAST(btf.n AS BIGINT) AS tf,
           CAST(bdf.df AS BIGINT) AS df,
           {sql_quantize(
               f"ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)"
               f" * (btf.n * {BM25_K1 + 1.0!r})"
               f" / (btf.n + {BM25_K1!r} * ({1.0 - BM25_B!r}"
               f" + ({BM25_B!r} * btf.len) / avgdl))",
               6,
           )} AS bm25_w
    FROM btf
    JOIN bdf ON btf.term = bdf.term
    CROSS JOIN bstats
"""

ORACLE["dedup_method_agreement"] = f"""
    WITH {_LSH_PAIR_CTES},
    {sql_unit_cte()},
    nd AS (
      SELECT a.vec_id AS da, b.vec_id AS db
      FROM unitv a JOIN unitv b ON a.vec_id < b.vec_id
      WHERE (floor({sql_dot('a.u', 'b.u')} * 1000000.0 + 0.5) / 1000000.0)
              >= {NEARDUP_COS}
    ),
    mh AS (SELECT da, db FROM lsh_pairs),
    agree AS (
      SELECT count(*) AS n_both
      FROM mh JOIN nd ON nd.da = mh.da AND nd.db = mh.db
    ),
    counts AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM mh) AS n_minhash,
             (SELECT CAST(count(*) AS BIGINT) FROM nd) AS n_cosine,
             (SELECT CAST(n_both AS BIGINT) FROM agree) AS n_both
    )
    SELECT n_minhash, n_cosine, n_both,
           CASE WHEN n_minhash + n_cosine - n_both > 0 THEN
             {sql_quantize(
                 'CAST(n_both AS DOUBLE)'
                 ' / (n_minhash + n_cosine - n_both)', 6)}
           END AS jaccard
    FROM counts
"""


ORACLE["multimodal_vad"] = f"""
    WITH hx AS (
      SELECT doc_id, lower(to_hex(encode(text))) AS h FROM documents
    ),
    bytes AS (
      SELECT doc_id,
             (p - 1) // 2 AS pos,
             CAST(16 * (strpos('0123456789abcdef',
                               substr(h, CAST(p AS INT), 1)) - 1)
                  + (strpos('0123456789abcdef',
                            substr(h, CAST(p + 1 AS INT), 1)) - 1)
                  AS BIGINT) AS b
      FROM (
        SELECT doc_id, h,
               unnest(generate_series(1, length(h), 2)) AS p
        FROM hx
      )
    ),
    frames AS (
      SELECT doc_id,
             CAST(pos // {VAD_FRAME_BYTES} AS BIGINT) AS frame_idx,
             {sql_quantize(
                 'CAST(sum((b - 128) * (b - 128)) AS DOUBLE)'
                 ' / count(*)', 6)} AS energy
      FROM bytes GROUP BY 1, 2
    ),
    thr AS (
      SELECT doc_id, avg(energy) AS mean_energy FROM frames GROUP BY 1
    )
    SELECT f.doc_id, f.frame_idx, f.energy,
           (f.energy > t.mean_energy) AS active
    FROM frames f JOIN thr t ON t.doc_id = f.doc_id
"""

# injection-eval oracle: the PRODUCTION LSH pair CTEs verbatim, with
# their single corpus scan swapped for the augmented (planted) corpus
_AUG_DOCS_SQL = f"""(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DEDUP_INJECT_OFFSET} AS doc_id,
         (SELECT string_agg(t, ' ' ORDER BY i)
          FROM (SELECT unnest(regexp_split_to_array(
                         lower(trim(d2.text)), '\\s+')) AS t,
                       generate_subscripts(regexp_split_to_array(
                         lower(trim(d2.text)), '\\s+'), 1) AS i)
          WHERE (i - 1) % {DEDUP_INJECT_DROP} <> 10) AS text
  FROM documents d2 WHERE doc_id % {DEDUP_INJECT_EVERY} = 0
) documents"""

assert _LSH_PAIR_CTES.count("FROM documents") == 1
_LSH_AUG_CTES = _LSH_PAIR_CTES.replace(
    "FROM documents", f"FROM {_AUG_DOCS_SQL}"
)

ORACLE["dedup_injection_eval"] = f"""
    WITH {_LSH_AUG_CTES},
    truth AS (
      SELECT doc_id AS da, doc_id + {DEDUP_INJECT_OFFSET} AS db
      FROM documents WHERE doc_id % {DEDUP_INJECT_EVERY} = 0
    ),
    hit AS (
      SELECT count(*) AS n_found
      FROM truth t JOIN lsh_pairs p ON p.da = t.da AND p.db = t.db
    ),
    counts AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_planted,
             (SELECT CAST(n_found AS BIGINT) FROM hit) AS n_found,
             (SELECT CAST(count(*) AS BIGINT) FROM lsh_pairs)
               AS n_pairs_total
    )
    SELECT n_planted, n_found, n_pairs_total,
           CASE WHEN n_planted > 0 THEN {sql_quantize(
               'CAST(n_found AS DOUBLE) / n_planted', 6)}
           END AS recall
    FROM counts
"""

# quality injection eval: the production ensemble oracle with all four
# corpus scans swapped for the augmented (junk-planted) relation
_QI_AUG_SQL = f"""(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {QI_INJECT_OFFSET} AS doc_id,
         rtrim(repeat(
           (regexp_split_to_array(lower(trim(text)), '\\s+'))[1] || ' ',
           {QI_REPEAT})) AS text
  FROM documents WHERE doc_id % {QI_INJECT_EVERY} = 0
) documents"""

assert ORACLE["doc_quality_ensemble"].count("FROM documents") == 4
_QI_ENSEMBLE = ORACLE["doc_quality_ensemble"].replace(
    "FROM documents", f"FROM {_QI_AUG_SQL}"
)

ORACLE["quality_injection_eval"] = f"""
    WITH verdicts AS (
      SELECT doc_id, keep FROM ({_QI_ENSEMBLE})
    ),
    folded AS (
      SELECT
        CAST(sum(CASE WHEN doc_id >= {QI_INJECT_OFFSET}
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_junk,
        CAST(sum(CASE WHEN doc_id >= {QI_INJECT_OFFSET} AND NOT keep
                 THEN 1 ELSE 0 END) AS BIGINT) AS junk_caught,
        CAST(sum(CASE WHEN doc_id < {QI_INJECT_OFFSET}
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        CAST(sum(CASE WHEN doc_id < {QI_INJECT_OFFSET} AND NOT keep
                 THEN 1 ELSE 0 END) AS BIGINT) AS clean_rejected
      FROM verdicts
    )
    SELECT n_junk, junk_caught, n_clean, clean_rejected,
           CASE WHEN n_junk > 0 THEN {sql_quantize(
               'CAST(junk_caught AS DOUBLE) / n_junk', 6)}
           END AS catch_rate,
           CASE WHEN n_clean > 0 THEN {sql_quantize(
               'CAST(clean_rejected AS DOUBLE) / n_clean', 6)}
           END AS clean_reject_rate
    FROM folded
"""

_LEAK_AUG_SQL = f"""(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT b.doc_id + {LEAK_OFFSET} AS doc_id,
         b.text || ' ' || array_to_string(list_slice(
           regexp_split_to_array(lower(trim(n.text)), '\\s+'),
           1, {LEAK_TAIL_TOKENS}), ' ') AS text
  FROM documents b JOIN documents n ON n.doc_id = b.doc_id + 1
  WHERE b.doc_id % {CONTAM_MOD} = 0
) documents"""

assert ORACLE["corpus_contamination"].count("FROM documents") == 1
_LEAK_SCREEN = ORACLE["corpus_contamination"].replace(
    "FROM documents", f"FROM {_LEAK_AUG_SQL}"
)

ORACLE["contamination_injection_eval"] = f"""
    WITH screened AS (
      SELECT doc_id, contaminated FROM ({_LEAK_SCREEN})
    ),
    np AS (
      SELECT CAST(count(*) AS BIGINT) AS n_planted
      FROM documents b JOIN documents n ON n.doc_id = b.doc_id + 1
      WHERE b.doc_id % {CONTAM_MOD} = 0
    ),
    folded AS (
      SELECT CAST(sum(CASE WHEN doc_id >= {LEAK_OFFSET}
                   AND contaminated THEN 1 ELSE 0 END) AS BIGINT)
               AS leaks_caught,
             CAST(sum(CASE WHEN doc_id < {LEAK_OFFSET}
                   AND contaminated THEN 1 ELSE 0 END) AS BIGINT)
               AS baseline_contaminated
      FROM screened
    )
    SELECT np.n_planted, folded.leaks_caught,
           folded.baseline_contaminated,
           CASE WHEN np.n_planted > 0 THEN {sql_quantize(
               'CAST(folded.leaks_caught AS DOUBLE) / np.n_planted',
               6)}
           END AS catch_rate
    FROM np CROSS JOIN folded
"""


_DSIR_TGT = f"({sql_shingle_key('source')} % {DSIR_TARGET_SHARE} = 0)"
_DSIR_UNI = (
    f"list_transform({{w}}, t -> {sql_shingle_key('t')}"
    f" % {DSIR_BUCKETS})"
)
_DSIR_BI_KEY = sql_shingle_key("{w}[i] || ' ' || {w}[i+1]")
_DSIR_BI = (
    "list_transform(generate_series(1, len({w}) - 1),"
    " i -> " + _DSIR_BI_KEY + f" % {DSIR_BUCKETS})"
)

_DSIR_CELLS = f"""
    w AS (SELECT doc_id, source, {_W} AS w FROM documents),
    feats AS (
      SELECT doc_id, source,
             unnest(list_concat({_DSIR_UNI.format(w='w')},
                                {_DSIR_BI.format(w='w')})) AS bucket
      FROM w
    ),
    cells AS (
      SELECT bucket,
             CAST(count(CASE WHEN {_DSIR_TGT} THEN 1 END) AS BIGINT)
               AS n_target,
             CAST(count(*) AS BIGINT) AS n_raw
      FROM feats GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_target) AS BIGINT) AS nt,
             CAST(sum(n_raw) AS BIGINT) AS nr
      FROM cells
    ),
    model AS (
      SELECT bucket, n_target, n_raw,
             {sql_quantize(
                 f'ln(CAST(n_target + {DSIR_ALPHA} AS DOUBLE)'
                 f' / CAST(nt + {DSIR_ALPHA * DSIR_BUCKETS}'
                 ' AS DOUBLE))'
                 f' - ln(CAST(n_raw + {DSIR_ALPHA} AS DOUBLE)'
                 f' / CAST(nr + {DSIR_ALPHA * DSIR_BUCKETS}'
                 ' AS DOUBLE))', 6)} AS log_ratio
      FROM cells CROSS JOIN tot
    )
"""

ORACLE["corpus_dsir_model"] = f"""
    WITH {_DSIR_CELLS}
    SELECT bucket, n_target, n_raw, log_ratio FROM model
"""

ORACLE["corpus_dsir_weights"] = f"""
    WITH {_DSIR_CELLS},
    per_doc AS (
      SELECT f.doc_id, f.source,
             CAST(count(*) AS BIGINT) AS n_feats,
             CAST(sum(CAST(floor(m.log_ratio * 1e6 + 0.5) AS BIGINT))
               AS BIGINT) AS s
      FROM feats f JOIN model m USING (bucket)
      GROUP BY 1, 2
    )
    SELECT doc_id, source, n_feats,
           {sql_quantize('CAST(s AS DOUBLE) / 1000000.0', 4)}
             AS log_weight,
           {sql_quantize(
               '(CAST(s AS DOUBLE) / 1000000.0) / n_feats', 6)}
             AS avg_log_ratio,
           s > 0 AS selected
    FROM per_doc
"""

ORACLE["corpus_kn_bigram_lm"] = f"""
    WITH w AS (SELECT {_W} AS w FROM documents),
    idx AS (
      SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM w
    ),
    bg AS (
      SELECT w[i] AS w1, w[i + 1] AS w2,
             CAST(count(*) AS BIGINT) AS c
      FROM idx GROUP BY 1, 2
    ),
    g AS (
      SELECT w1, w2, c,
             CAST(sum(c) OVER (PARTITION BY w1) AS BIGINT) AS c1,
             CAST(count(*) OVER (PARTITION BY w1) AS BIGINT)
               AS n1plus_fwd,
             CAST(count(*) OVER (PARTITION BY w2) AS BIGINT)
               AS n1plus_bwd
      FROM bg
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM bg)
    SELECT w1, w2, c, c1, n1plus_fwd, n1plus_bwd,
           {sql_quantize('CAST(c AS DOUBLE) / c1', 6)} AS p_mle,
           {sql_quantize(
               'CAST(n1plus_bwd AS DOUBLE) / n_types', 6)} AS p_cont,
           {sql_quantize(
               '(greatest(CAST(c AS DOUBLE) - ' + str(KN_DISCOUNT)
               + ', 0.0) + ' + str(KN_DISCOUNT)
               + ' * n1plus_fwd'
               + ' * (CAST(n1plus_bwd AS DOUBLE) / n_types)) / c1',
               6)} AS p_kn
    FROM g CROSS JOIN tot
    ORDER BY c DESC, w1, w2 LIMIT {KN_TOP}
"""


ORACLE["search_map"] = f"""
    WITH {sql_unit_cte()},
    rel AS (
      SELECT query_id, neighbor_id AS doc_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY (floor({sql_dot('q.u', 'c.u')} * 1000000.0 + 0.5)
                           / 1000000.0) DESC,
                          c.vec_id
               ) AS rk
        FROM unitv q JOIN unitv c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE rk <= {BM25_K}
    ),
    {_bm25_oracle_ctes(BM25_K)},
    j AS (
      SELECT l.query_id, l.rk, (r.doc_id IS NOT NULL) AS is_hit
      FROM lex l LEFT JOIN rel r
        ON l.query_id = r.query_id AND l.doc_id = r.doc_id
    ),
    gcum AS (
      SELECT query_id, rk, is_hit,
             sum(CASE WHEN is_hit THEN 1 ELSE 0 END) OVER (
               PARTITION BY query_id ORDER BY rk) AS ch
      FROM j
    ),
    per AS (
      SELECT query_id,
             CAST(sum(CASE WHEN is_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits,
             CAST(sum(CASE WHEN is_hit
                  THEN ch * CAST({_AP_LCM} / rk AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS s
      FROM gcum GROUP BY 1
    ),
    m AS (
      SELECT CAST(sum(s) AS BIGINT) AS ssum,
             CAST(count(*) AS BIGINT) AS nq
      FROM per
    )
    SELECT query_id, n_hits,
           {sql_quantize(
               f'CAST(s AS DOUBLE) / {float(_AP_LCM * BM25_K)}', 6)}
             AS avg_precision,
           {sql_quantize(
               f'CAST(ssum AS DOUBLE)'
               f' / ({float(_AP_LCM * BM25_K)} * nq)', 6)}
             AS mean_avg_precision
    FROM per CROSS JOIN m
"""


ORACLE["corpus_bpe_pair_census"] = f"""
    WITH t AS (SELECT unnest({_W}) AS term FROM documents),
    tf AS (
      SELECT term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1
    ),
    cs AS (
      SELECT term, tf,
             list_filter(string_split(term, ''), x -> x <> '') AS c
      FROM tf
    ),
    pos AS (
      SELECT term, tf, c,
             unnest(generate_series(1, len(c) - 1)) AS i
      FROM cs
    ),
    pr AS (
      SELECT term, tf, i, c[i] || c[i + 1] AS pair,
             (c[i] = c[i + 1]) AS selfp
      FROM pos
    ),
    isl AS (
      SELECT term, tf, i, pair,
             i - row_number() OVER (
               PARTITION BY term ORDER BY i) AS island
      FROM pr WHERE selfp
    ),
    kept_self AS (
      SELECT tf, pair FROM (
        SELECT tf, pair,
               row_number() OVER (
                 PARTITION BY term, island ORDER BY i) AS rn2
        FROM isl
      ) WHERE rn2 % 2 = 1
    ),
    keep AS (
      SELECT tf, pair FROM pr WHERE NOT selfp
      UNION ALL
      SELECT tf, pair FROM kept_self
    ),
    pc AS (
      SELECT pair, CAST(sum(tf) AS BIGINT) AS n FROM keep GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(tf * len(c)) AS BIGINT) AS total_symbols
      FROM cs
    )
    SELECT pair, n AS n_occurrences, total_symbols,
           {sql_quantize('CAST(n AS DOUBLE) / total_symbols', 6)}
             AS share_of_symbols,
           total_symbols - n AS symbols_after_merge
    FROM pc CROSS JOIN tot
    ORDER BY n_occurrences DESC, pair LIMIT {BPE_TOP}
"""


_LI_VALUES = ", ".join(
    f"('{lang}', '{txt}')" for lang, txt in sorted(LI_PLANTS.items())
)

ORACLE["langid_injection_eval"] = f"""
    WITH pl AS (
      SELECT * FROM (VALUES {_LI_VALUES}) AS t(elang, ptext)
    ),
    anchors AS (
      SELECT doc_id FROM documents WHERE doc_id % {LI_EVERY} = 0
    ),
    aug AS (
      SELECT 'clean_en' AS expected, text FROM documents
      UNION ALL
      SELECT p.elang AS expected, p.ptext AS text
      FROM anchors a CROSS JOIN pl p
    ),
    scored AS (
      SELECT expected,
             CAST(len(list_filter({_W},
               t -> list_contains({_STOP_SQL['en']}, t))) AS BIGINT)
               AS s_en,
             CAST(len(list_filter({_W},
               t -> list_contains({_STOP_SQL['de']}, t))) AS BIGINT)
               AS s_de,
             CAST(len(list_filter({_W},
               t -> list_contains({_STOP_SQL['es']}, t))) AS BIGINT)
               AS s_es,
             CAST(len(list_filter({_W},
               t -> list_contains({_STOP_SQL['fr']}, t))) AS BIGINT)
               AS s_fr,
             CAST(len(regexp_extract_all(text, '{CJK_PATTERN}'))
               AS BIGINT) AS s_zh
      FROM aug
    ),
    pred AS (
      SELECT expected, CASE
               WHEN s_zh > 0 THEN 'zh'
               WHEN s_en >= greatest(s_de, s_es, s_fr) THEN 'en'
               WHEN s_de >= greatest(s_es, s_fr) THEN 'de'
               WHEN s_es >= s_fr THEN 'es'
               ELSE 'fr' END AS pred_lang
      FROM scored
    ),
    folded AS (
      SELECT expected,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN (CASE WHEN expected = 'clean_en'
                  THEN pred_lang = 'en'
                  ELSE pred_lang = expected END)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_match
      FROM pred GROUP BY 1
    )
    SELECT expected, n_docs, n_pred_match,
           {sql_quantize(
               'CAST(n_pred_match AS DOUBLE) / n_docs', 6)}
             AS match_rate
    FROM folded
"""


_DSIR_U_FOLD = sql_shingle_key(
    f"concat('{DSIR_SAMPLE_SEED}|', CAST(doc_id AS VARCHAR))"
)

ORACLE["corpus_dsir_sample"] = f"""
    SELECT doc_id, source, log_weight, gumbel_score FROM (
      WITH {_DSIR_CELLS},
      per_doc AS (
        SELECT f.doc_id, f.source,
               CAST(sum(CAST(floor(m.log_ratio * 1e6 + 0.5)
                 AS BIGINT)) AS BIGINT) AS s
        FROM feats f JOIN model m USING (bucket)
        GROUP BY 1, 2
      ),
      base AS (
        SELECT doc_id, source, s,
               CAST({_DSIR_U_FOLD} AS DOUBLE)
                 / 1152921504606846976.0 AS u
        FROM per_doc
      )
      SELECT doc_id, source,
             {sql_quantize('CAST(s AS DOUBLE) / 1000000.0', 4)}
               AS log_weight,
             {sql_quantize(
                 'CAST(s AS DOUBLE) / 1000000.0'
                 ' + (-ln(-ln(u)))', 6)} AS gumbel_score
      FROM base
    )
    ORDER BY gumbel_score DESC, doc_id LIMIT {DSIR_SAMPLE_K}
"""


ORACLE["corpus_contrastive_pairs"] = f"""
    WITH {_LSH_PAIR_CTES},
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_tot FROM documents
    ),
    base AS (
      SELECT da, db, jaccard, n_tot,
             ((da % {DRAW_MOD}) * {KNUTH} + db % {DRAW_MOD})
               % n_tot AS cand
      FROM lsh_pairs CROSS JOIN tot
    )
    SELECT da AS anchor_id, db AS positive_id,
           CAST(CASE WHEN n_tot >= 3 THEN CASE
             WHEN cand <> da AND cand <> db THEN cand
             WHEN (cand + 1) % n_tot <> da
              AND (cand + 1) % n_tot <> db THEN (cand + 1) % n_tot
             ELSE (cand + 2) % n_tot
           END END AS BIGINT) AS negative_id,
           jaccard AS pos_jaccard
    FROM base
"""


ORACLE["corpus_select_e2e"] = f"""
    WITH {_DSIR_CELLS},
    per_doc AS (
      SELECT f.doc_id,
             CAST(sum(CAST(floor(m.log_ratio * 1e6 + 0.5)
               AS BIGINT)) AS BIGINT) AS s
      FROM feats f JOIN model m USING (bucket)
      GROUP BY 1
    ),
    kept AS (
      SELECT d.doc_id, d.text, d.source FROM documents d
      JOIN per_doc p ON p.doc_id = d.doc_id AND p.s > 0
    ),
    fps AS (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
      FROM kept
    ),
    keep_ids AS (
      SELECT min(doc_id) AS doc_id FROM fps GROUP BY fp
    ),
    surv AS (
      SELECT k.doc_id, k.text, k.source
      FROM kept k JOIN keep_ids USING (doc_id)
    ),
    per AS (
      SELECT CASE
               WHEN (CAST(doc_id * {KNUTH} AS BIGINT) % {DRAW_MOD})
                    / {float(DRAW_MOD)} < {SPLIT_TRAIN} THEN 'train'
               WHEN (CAST(doc_id * {KNUTH} AS BIGINT) % {DRAW_MOD})
                    / {float(DRAW_MOD)} < {SPLIT_VAL} THEN 'val'
               ELSE 'test' END AS split,
             source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum({SQL_TOKEN_COUNT.format(c='text')}) AS BIGINT)
               AS n_tokens
      FROM surv GROUP BY 1, 2
    ),
    grand AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_all FROM per)
    SELECT split, source, n_docs, n_tokens,
           {sql_quantize('CAST(n_docs AS DOUBLE) / n_all', 6)}
             AS share_of_selected
    FROM per CROSS JOIN grand
"""
