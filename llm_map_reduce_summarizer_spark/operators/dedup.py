"""Deduplication operators for a training-data pipeline.

Scale design (100 TB):

* exact: one hash-groupBy on a digest — the digest is computed map-side
  so the shuffle carries 32-byte keys, not documents.
* n-gram Jaccard: exact pairwise semantics via shingle self-join; the
  join key is the shingle, so cost is sum over shingles of df² — a
  verification-set tool, and ENFORCED as one: `jaccard_pairs` raises
  above `EXACT_JACCARD_MAX_DOCS` distinct docs (conf-overridable).
* MinHash+LSH: the corpus-scale path — candidates come only from band
  buckets (sig agreement on any band), then true Jaccard verifies just
  those pairs. Shuffles: one explode+agg for signatures, one bucket
  join, one verify join restricted to candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    band_hashes,
    minhash_aggs,
    shingle_key,
    shingles_3gram,
    words,
)
from ..functions.text import quantize
from .persist import materialize, materialize_lazy

NORMALIZE = lambda c: F.regexp_replace(F.lower(c), r"\s+", " ")  # noqa: E731


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-content md5 digest per document."""
    return docs.withColumn("fp", F.md5(NORMALIZE(F.col(text_col))))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Group identical (normalized) contents; keep the min id."""
    return (
        fingerprint(docs)
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def doc_shingles(
    docs: DataFrame, id_col: str = "doc_id", keyed: bool = False
) -> DataFrame:
    """(id, shingle) pairs, distinct per doc; docs with <3 tokens drop.

    ``keyed=True`` replaces the n-gram string with its 60-bit
    ``shingle_key`` BEFORE the distinct — the join/shuffle-heavy dedup
    paths (Jaccard self-join, MinHash) only need shingle IDENTITY, and
    an 8-byte key shuffles ~3x lighter than the string. Callers that
    output n-gram text (vocabulary top-k, novelty) stay unkeyed.

    Distinct-per-doc is MAP-SIDE: ``array_distinct`` inside each doc's
    shingle array before the explode, instead of a ``.distinct()``
    shuffle of the exploded table — a doc's shingles all live in its
    own row, so the exchange bought nothing (measured ~2x on the
    shingle-build stage at sf0.1, and the shingle table is the
    largest intermediate of every dedup plan). Dedup happens on the
    same identity the rows carry: key arrays when keyed (a within-doc
    60-bit collision would have been merged by the old key-distinct
    too), strings otherwise.
    """
    w = words(F.col("text"))
    arr = shingles_3gram(F.col("w"))
    if keyed:
        arr = F.transform(arr, lambda s: shingle_key(s))
    return (
        docs.withColumn("w", w)
        .filter(F.size("w") >= 3)
        .select(F.col(id_col), F.explode(F.array_distinct(arr)).alias("s"))
    )


def drop_stop_shingles(
    shingles: DataFrame, df_cap: int, id_col: str = "doc_id", lazy: bool = False
) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``df_cap``.

    Boilerplate shingles (headers, licenses, navigation chrome) appear
    in a huge fraction of a web-scale corpus; left in, they make the
    LSH band join and the verify join skew-explode (a shingle with
    df=10^6 contributes 10^12 candidate comparisons). The stop list —
    shingles with df > cap — is tiny by construction (bounded by
    corpus_shingles / cap), so it broadcasts; the corpus-side anti-join
    is map-side with no shuffle of the shingle table.

    ``lazy``: defer the stop-set checkpoint to the caller's next action
    (use when the capped output is materialized right away anyway —
    the broadcast build then computes the stop set inside that one
    action instead of as its own serialized job).
    """
    return shingles.join(
        F.broadcast(stop_shingle_set(shingles, df_cap, lazy=lazy)),
        "s",
        "left_anti",
    )


def stop_shingle_set(
    shingles: DataFrame, df_cap: int, lazy: bool = False
) -> DataFrame:
    """The stop list itself — shingles with df > cap — as a reusable,
    materialized single-column frame (tiny by construction: bounded by
    corpus_shingles / cap, so it broadcasts)."""
    return (
        shingles.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("s")
        # materialize once: the capped shingle set is consumed several
        # times downstream (signature pass + verify pass sides), and
        # without this each consumer would recompute the full
        # shingle-df aggregation just to rebuild this tiny list
        .transform(materialize_lazy if lazy else materialize)
    )


# Exact all-pairs Jaccard is quadratic in the hottest shingle's
# document frequency (compare volume = Σ_s df(s)²): it is the
# VERIFICATION-SET tool; the corpus path is `minhash_lsh_pairs`. The
# contract is enforced, not just documented — above this many distinct
# documents `jaccard_pairs` raises (same broadcastable-input discipline
# as the contamination benchmark's CONTAM_BENCH_MAX_DOCS in
# plans/streams.py). Override per session via the conf; 0 disables.
EXACT_JACCARD_MAX_DOCS = 100_000
EXACT_JACCARD_CONF = "spark.llm_map_reduce_summarizer.exactJaccardMaxDocs"


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.6,
    n_docs: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over shingle sets (self-join on shingle).

    The shingle table feeds three consumers (sizes + both self-join
    sides); one eager localCheckpoint materializes the explode+key
    scan once instead of recomputing the per-shingle md5 fold per
    consumer (the map-side-distinct shingle build has no exchange of
    its own for Spark to reuse).

    Scale contract (ENFORCED): raises ``ValueError`` when the input
    holds more than ``EXACT_JACCARD_CONF`` distinct documents (default
    ``EXACT_JACCARD_MAX_DOCS``) — pointing the caller at the
    MinHash-LSH corpus path instead of letting a verification tool
    run an O(Σ df²) self-join over a full corpus. The pre-flight
    runs BEFORE the materialize so corpus-scale misuse raises before
    anything corpus-sized is computed or pinned into executor
    storage — only a passing input is materialized for its three
    downstream consumers.

    ``n_docs``: caller-supplied UPPER BOUND on the distinct-document
    count (e.g. ``count(*)`` of the source table the shingles were
    exploded from — a parquet footer-metadata count, no shingle
    build). When given, the guard compares it instead of running the
    ``countDistinct`` pre-flight, so a passing call executes the
    explode+hash shingle plan ONCE (inside the materialize) rather
    than twice. Docs with zero shingles only make the bound
    conservative (bound >= actual), so the contract's raise direction
    is preserved; the enforced cap is only as good as the bound the
    caller passes.
    """
    spark = shingles.sparkSession
    cap = int(spark.conf.get(EXACT_JACCARD_CONF, str(EXACT_JACCARD_MAX_DOCS)))
    if cap > 0:
        if n_docs is None:
            n_docs = shingles.agg(
                F.countDistinct(id_col).alias("n")
            ).collect()[0]["n"]
        if n_docs > cap:
            raise ValueError(
                f"jaccard_pairs got {n_docs} distinct documents > "
                f"{cap} ({EXACT_JACCARD_CONF}): exact all-pairs Jaccard "
                "is a verification-set tool (compare volume is "
                "quadratic in shingle document frequency). Use the "
                "MinHash-LSH corpus path (operators.dedup."
                "minhash_lsh_pairs / the dedup_minhash_lsh query) or "
                f"raise the cap explicitly via {EXACT_JACCARD_CONF}"
            )
    shingles = shingles.transform(materialize)
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = shingles.select(F.col(id_col).alias("da"), "s")
    b = shingles.select(F.col(id_col).alias("db"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        common.join(sizes.select(F.col(id_col).alias("da"), F.col("n").alias("na")), "da")
        .join(sizes.select(F.col(id_col).alias("db"), F.col("n").alias("nb")), "db")
        .withColumn(
            "jaccard",
            quantize(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("da", "db", "jaccard")
    )


def minhash_signatures(shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return shingles.groupBy(id_col).agg(*minhash_aggs("s"))


def band_bucket_rows_sets(sets: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, bk, bv) band-bucket rows derived NARROWLY from a set-table
    row that already carries the ``minhash_aggs`` signature columns
    ``h0..h15`` (computed in the same groupBy as the shingle array —
    one exchange for signatures, sizes, and verify sets)."""
    return sets.select(id_col, *band_hashes()).selectExpr(
        id_col,
        "stack(4, 0, band0, 1, band1, 2, band2, 3, band3) AS (bk, bv)",
    )


def jaccard_verify_sets(
    sets: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard on candidate pairs via per-doc shingle-set ARRAYS:
    two doc-keyed joins attach each side's array, ``array_intersect``
    (exact — the arrays are distinct 60-bit keys) gives |A ∩ B|, sizes
    come free from the arrays. Same integers, same quantize as the
    exploded (id, s)-keyed join of :func:`jaccard_pairs`; its
    Σ|candidate doc| shuffle rows are replaced by |candidates| +
    2·|docs| array rows. Requires ``threshold > 0`` (a no-overlap pair
    never appears in the exploded formulation; here it would surface
    with jaccard 0, so the filter must drop it)."""
    if threshold <= 0:
        raise ValueError(
            "jaccard_verify_sets requires threshold > 0 (c=0 pairs are "
            "not emitted by the exploded formulation it mirrors)"
        )
    a = sets.select(F.col(id_col).alias("da"), F.col("ss").alias("sa"))
    b = sets.select(F.col(id_col).alias("db"), F.col("ss").alias("sb"))
    return (
        candidates.join(a, "da")
        .join(b, "db")
        .withColumn("c", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            quantize(
                F.col("c")
                / (F.size("sa") + F.size("sb") - F.col("c")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("da", "db", "jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """MinHash band candidates -> exact Jaccard verify (scale path).

    ``df_cap`` drops stop-shingles (df > cap) before both the signature
    and verify passes — the corpus-scale guard against boilerplate skew
    (see :func:`drop_stop_shingles`). Jaccard is then over the capped
    shingle sets, the standard near-dup-pipeline semantics.
    """
    # ONE doc-keyed agg — the per-doc shingle-SET array — replaces the
    # exploded shingle table as the materialized hub: signatures
    # (array_min over the same affine map), band keys, and per-doc
    # sizes all derive NARROWLY from it, and the verify step
    # intersects the two candidate arrays directly (array_intersect on
    # 60-bit keys — exact, JVM-side) instead of re-joining candidates
    # against exploded (id, s) rows. Vs the exploded hub: the
    # signature groupBy and the sizes groupBy disappear (both read the
    # set table's rows), the verify shuffle carries |candidates| +
    # 2·|docs| array rows instead of Σ|candidate doc| exploded rows,
    # and the (db, s)-keyed join — the widest exchange in the old plan
    # — is gone. Same Jaccard integers, same quantize, same output.
    sh = doc_shingles(docs, id_col, keyed=True)
    if df_cap is not None:
        # the RAW table is read twice before the cap (df agg +
        # anti-join), so checkpoint it — but LAZILY, like the stop
        # set: the eager set-table materialize below then computes
        # raw shingles + stop set + anti-join + set agg in ONE action
        sh = drop_stop_shingles(
            sh.transform(materialize_lazy), df_cap, id_col, lazy=True
        )
    sets = (
        sh.groupBy(id_col)
        .agg(F.collect_list("s").alias("ss"), *minhash_aggs("s"))
        .transform(materialize)
    )
    bands = band_bucket_rows_sets(sets, id_col)
    a = bands.select(F.col(id_col).alias("da"), "bk", "bv")
    b = bands.select(F.col(id_col).alias("db"), "bk", "bv")
    candidates = (
        a.join(b, ["bk", "bv"]).filter(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    return jaccard_verify_sets(sets, candidates, id_col, threshold)


# Edge-count bound for the driver-side union-find fast path in
# `connected_components`. 1M (src, dst) longs is ~16 MB on the driver
# and a few hundred ms of union-find — far below the broadcast-side
# budget the closure operators already spend; a 100 TB near-dup graph
# whose pair list exceeds it takes the distributed loop unchanged.
LOCAL_COMPONENTS_MAX_EDGES = 1_000_000
LOCAL_COMPONENTS_CONF = (
    "spark.llm_map_reduce_summarizer.localComponentsMaxEdges"
)


def _components_local(pdf) -> "object":
    """Driver-side union-find over a collected (src, dst) edge frame:
    (id, component=min id reachable) for every node that appears in an
    edge — the same fixpoint the distributed loop converges to.
    Returns None when the ids are not integral (caller falls back to
    the distributed path, which is type-agnostic).

    Roots are kept at the smallest node INDEX of their set (ids are
    sorted unique, so smallest index == smallest id): each union hangs
    the larger root under the smaller, which makes the final root's id
    the component minimum with no second pass.
    """
    import numpy as np
    import pandas as pd

    su, sv = pdf.iloc[:, 0], pdf.iloc[:, 1]
    if not (
        pd.api.types.is_integer_dtype(su) and pd.api.types.is_integer_dtype(sv)
    ):
        return None
    u = su.to_numpy(dtype=np.int64, copy=False)
    v = sv.to_numpy(dtype=np.int64, copy=False)
    ids = np.unique(np.concatenate((u, v)))
    parent = np.arange(ids.size, dtype=np.int64)

    def find(x: int) -> int:
        # iterative path-halving
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(
        np.searchsorted(ids, u).tolist(), np.searchsorted(ids, v).tolist()
    ):
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if ra < rb:
            parent[rb] = ra
        else:
            parent[ra] = rb
    comp = np.array([find(i) for i in range(ids.size)], dtype=np.int64)
    return pd.DataFrame({"id": ids, "component": ids[comp]})


def connected_components(
    edges: DataFrame,
    src: str = "da",
    dst: str = "db",
    max_iter: int = 64,
) -> DataFrame:
    """Connected components over an undirected edge list -> (id, component)
    where component is the min node id reachable from each node.

    Min-label propagation WITH pointer halving: each round every node
    takes the min label among itself, its GRAPH_HOPS-step neighborhood
    (chained joins on a pre-materialized bidirectional edge list,
    AGGREGATED to min-label-per-node between hops so a hop's output is
    |edges| rows on any graph — dense graphs would otherwise blow the
    chained per-edge label rows up as Σ deg^k; every intermediate
    label still belongs to the component, so multi-hop is as safe as
    single-hop and moves the frontier GRAPH_HOPS edges per round), and
    — the halving step — its label's label's label
    (`lbl^(2^HALVE_STEPS)(v)`; a node's label is always
    in its component, so this is safe and compresses label chains
    geometrically). Plain 1-hop propagation alone needs O(diameter)
    rounds, which silently truncates on long-chain graphs (a
    mutual-kNN graph hit diameter 29 under a 20-round cap — caught by
    the sf0.001 oracle); with multi-hop + halving, rounds are
    O(diameter / GRAPH_HOPS) bounded by O(log diameter) from the
    halving, so 64 covers any real graph. Measured at sf0.1 (1.9k-node
    mutual-kNN graph): 15 rounds -> 7, ~2x wall time. Labels
    initialize to min(id, min neighbor) — the first propagation round
    folded into the init aggregation. Convergence is detected by the
    label-sum fixpoint (labels only ever decrease); exhausting the cap
    raises rather than returning a silently-wrong clustering. Each
    round localCheckpoints (node-sized tables) so round k never
    replays rounds 1..k-1 — lazily, fused with the convergence
    aggregate so the round runs as one job; on graphs ABOVE
    BROADCAST_MAX_NODES each hop additionally checkpoints so the
    twice-consumed hop tables (broadcast arm + union arm) compute
    once, while small graphs skip the per-hop barrier and let the
    duplicated hop subtrees resolve to ReusedExchange reads of the
    hop's own groupBy shuffle (3 fewer serialized jobs per round).
    Label tables ride the hop joins as broadcast sides below
    BROADCAST_MAX_NODES (a checkpointed table loses its size stats, so
    Spark would otherwise sort-merge the edge list against a few-MB
    label table every hop).
    Rounds are coalesced to a partition count sized from the node count (a
    1-scalar plan decision — per-round task overhead would otherwise
    dwarf the tiny label tables of near-dup graphs; at 100 TB the same
    formula keeps partitions ∝ nodes). The per-round 1-scalar
    convergence read is a driver-side plan decision, not a data
    collect.

    Small-graph fast path: a near-dup/mutual-kNN pair graph is pairs ≪
    corpus by construction, and at every driver-gate scale it is a few
    thousand edges — for which the iterative loop above is pure
    fixed-cost (each of its O(log diameter) rounds is a full
    multi-stage Spark job over a KB-sized label table). When the
    MATERIALIZED edge list holds at most ``LOCAL_COMPONENTS_CONF``
    rows (checked with limit(cap+1), so an oversized list never lands
    on the driver — the `_broadcast_side_pdf` discipline) and both id
    columns are integral, components run as one driver-side union-find
    over the collected pairs: identical fixpoint (the set partition is
    edge-order independent and the label is the set minimum either
    way), zero iterative jobs. Above the cap — the 100 TB regime —
    the distributed loop runs exactly as before; the probe cost there
    is one bounded cap+1-row fetch off the already-checkpointed edge
    blocks. Override per session via the conf; 0 disables.
    """
    GRAPH_HOPS = 3
    HALVE_STEPS = 2
    ROWS_PER_PARTITION = 500_000
    # Below this node count the per-round label tables ride the hop
    # joins as BROADCAST sides (a localCheckpointed table loses its
    # size stats, so Spark would otherwise sort-merge the edge list
    # against a few-MB label table every hop). 2M ids+labels is
    # ~60 MB serialized — routine dim-table territory; above it the
    # joins fall back to shuffle exactly as before.
    BROADCAST_MAX_NODES = 2_000_000
    # materialize the caller's edge list first: the bidirectional
    # union below reads it twice, and the upstream is often the
    # EXPENSIVE part (a kNN-graph or dgemm near-dup pair scan) with no
    # exchange of its own for Spark to reuse
    edges = edges.select(src, dst).transform(materialize)
    spark = edges.sparkSession
    cap = int(
        spark.conf.get(LOCAL_COMPONENTS_CONF, str(LOCAL_COMPONENTS_MAX_EDGES))
    )
    if cap > 0:
        pdf = edges.limit(cap + 1).toPandas()
        if len(pdf) <= cap:
            local = _components_local(pdf)
            if local is not None:
                return spark.createDataFrame(
                    local, schema="id long, component long"
                )
    # ONE bidirectional edge list (u, v): each undirected edge twice.
    # Halves the per-round join count vs separate fwd/bwd passes.
    # Lazy checkpoints: the n_nodes count below materializes e2 AND the
    # init labels in ONE job (edges is already checkpointed, so the
    # union arms read its blocks, not the expensive upstream).
    half = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e2 = (
        half.union(half.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .transform(materialize_lazy)
    )
    # init = min(id, min neighbor): the first propagation round folded
    # into the label construction (every node appears as u in e2).
    labels = (
        e2.groupBy(F.col("u").alias("id"))
        .agg(F.least(F.min("v"), F.first("u")).alias("lbl"))
        .transform(materialize_lazy)
    )
    n_nodes = labels.count()  # 1-scalar plan decision; materializes both
    n_parts = max(1, min(
        labels.rdd.getNumPartitions(), -(-n_nodes // ROWS_PER_PARTITION)
    ))
    # Hop results are aggregated to min-label-PER-NODE between hops
    # (identical fixpoint — min propagation is monotone and the ≤k-hop
    # minimum is carried forward through the union): chaining the raw
    # per-EDGE label rows instead makes hop k's join output Σ deg^k —
    # measured at the r9 100× ladder rung, a degree-~100 near-dup
    # graph turned hop 2 into ~2e9 rows and hop 3 into ~2e11. With the
    # per-hop agg every hop is one |edges|-row join + one node-sized
    # agg, dense or sparse. Each hop materializes because its table is
    # consumed twice (broadcast side of the next hop + its own union
    # arm) — node-sized checkpoints, not edge-sized.
    small = n_nodes <= BROADCAST_MAX_NODES
    bcast = (lambda df: F.broadcast(df)) if small else (lambda df: df)
    # Per-HOP materialization is a scale tool: on a big graph it keeps
    # the twice-consumed hop table (broadcast arm + union arm) from
    # recomputing an edge-sized join. On a broadcast-SMALL graph the
    # same barrier is pure overhead — each eager checkpoint is a
    # serialized job over a node-sized table, and the round loop runs
    # 3 of them per round; skipping them lets the round execute as ONE
    # job in which every duplicated hop subtree resolves to a
    # ReusedExchange of the hop's own groupBy shuffle (measured at
    # sf0.1 near-dup graphs: ~5 jobs/round -> 1, ~2x end-to-end on the
    # components-dominated queries). Same fixpoint either way.
    hop_step = materialize if not small else (lambda df: df)
    prev_sum = None
    for _ in range(max_iter):
        cur = labels
        for _h in range(GRAPH_HOPS):
            cur = (
                e2.join(
                    bcast(cur.select(F.col("id").alias("u"), "lbl")), "u"
                )
                .select(F.col("v").alias("id"), "lbl")
                .unionByName(cur)
                .groupBy("id")
                .agg(F.min("lbl").alias("lbl"))
                .coalesce(n_parts)
                .transform(hop_step)
            )
        # pointer halving: v -> lbl^(2^HALVE_STEPS)(v)
        lmap = labels.select(
            F.col("id").alias("lbl"), F.col("lbl").alias("lbl2")
        )
        hop = labels.select("id", "lbl")
        for _h in range(HALVE_STEPS):
            hop = hop.join(bcast(lmap), "lbl").select(
                "id", F.col("lbl2").alias("lbl")
            )
        # lazy checkpoint + the convergence aggregate: the sum action
        # materializes the round's labels and reads the 1-row scalar in
        # the SAME job (one pass over the label table instead of two)
        labels = (
            cur.unionByName(hop)
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"))
            .coalesce(n_parts)
            .transform(materialize_lazy)
        )
        cur_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur_sum == prev_sum:  # labels only ever decrease
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select("id", F.col("lbl").alias("component"))


