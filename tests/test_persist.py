"""materialize(): the lineage-cut knob (local vs reliable checkpoint).

Order matters within this file: the no-directory error case must run
BEFORE the reliable-mode case, because setCheckpointDir is sticky on
the shared session's SparkContext.
"""

from __future__ import annotations

import pytest

from llm_map_reduce_summarizer_spark.operators.persist import (
    CHECKPOINT_DIR_CONF,
    RELIABLE_CONF,
    materialize,
)

SF = "/root/testdata/sf0.001"


def _edges(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "da long, db long"
    )


def test_default_mode_is_local_checkpoint(spark):
    df = materialize(_edges(spark))
    # localCheckpoint rewrites the plan to an RDD scan and cuts lineage
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan, plan
    assert df.count() == 3


def test_reliable_mode_without_dir_raises(spark):
    assert spark.sparkContext.getCheckpointDir() is None, (
        "test-order contract broken: checkpoint dir already set"
    )
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        with pytest.raises(ValueError, match=CHECKPOINT_DIR_CONF.split(".")[-1]):
            materialize(_edges(spark))
    finally:
        spark.conf.unset(RELIABLE_CONF)


def test_reliable_mode_checkpoints_and_queries_agree(spark, tmp_path):
    """The knob must not change results: a graph query that
    materializes per round returns identical rows both ways."""
    from llm_map_reduce_summarizer_spark.operators.dedup import (
        connected_components,
    )

    base = {
        r["id"]: r["component"]
        for r in connected_components(_edges(spark)).collect()
    }
    spark.conf.set(RELIABLE_CONF, "true")
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "ckpt"))
    try:
        rel = {
            r["id"]: r["component"]
            for r in connected_components(_edges(spark)).collect()
        }
    finally:
        spark.conf.unset(RELIABLE_CONF)
        spark.conf.unset(CHECKPOINT_DIR_CONF)
    assert rel == base == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # the reliable path really landed on disk
    assert spark.sparkContext.getCheckpointDir() is not None


def test_reliable_mode_warns_once_when_cleaner_disabled(spark, tmp_path):
    """Reliable mode without spark.cleaner.referenceTracking.
    cleanCheckpoints leaks checkpoint files forever under iterative
    callers — materialize must warn (once per session) so the leak is
    visible. The cleaner conf is static, so the fix is a builder-time
    conf, not a runtime set."""
    import warnings as _warnings

    from llm_map_reduce_summarizer_spark.operators import persist

    df = spark.range(4)
    spark.conf.set(RELIABLE_CONF, "true")
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "ckpt_warn"))
    persist._CLEANER_WARNED.clear()
    try:
        with pytest.warns(RuntimeWarning, match="cleanCheckpoints"):
            materialize(df).collect()
        # second site in the same session: no repeat warning
        with _warnings.catch_warnings():
            _warnings.simplefilter("error", RuntimeWarning)
            materialize(df).collect()
    finally:
        spark.conf.unset(RELIABLE_CONF)
        spark.conf.unset(CHECKPOINT_DIR_CONF)


@pytest.mark.slow
def test_reliable_checkpoint_files_reclaimed_with_cleaner(tmp_path):
    """End-to-end lifecycle (VERDICT r8 item 7): with the cleaner conf
    set at CONTEXT CREATION (it is static — the warning in materialize
    exists precisely because a runtime set is a no-op), an iterative
    operator's reliable checkpoints must be DELETED once the frames
    are unreferenced — the claim the once-per-session warning rests
    on. Runs in a subprocess: the shared test JVM cannot take a
    different static conf."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent(
        """
        import gc, glob, os, sys, time
        sys.path.insert(0, "/root/repo")
        from pyspark.sql import SparkSession
        ckpt = sys.argv[1]
        spark = (
            SparkSession.builder.master("local[2]")
            .appName("ckpt-cleaner-e2e")
            .config("spark.cleaner.referenceTracking.cleanCheckpoints",
                    "true")
            .config("spark.llm_map_reduce_summarizer.reliableCheckpoint",
                    "true")
            .config("spark.llm_map_reduce_summarizer.checkpointDir", ckpt)
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        from llm_map_reduce_summarizer_spark.operators.dedup import (
            connected_components,
        )
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(0, 40, 2)] + [(1, 2), (3, 4)],
            "da long, db long",
        )
        out = connected_components(edges)
        assert out.count() == 40

        def ckpt_files():
            return [
                f
                for f in glob.glob(
                    os.path.join(ckpt, "**", "*"), recursive=True
                )
                if os.path.isfile(f)
            ]

        assert ckpt_files(), "no reliable checkpoint files were written"
        # drop every reference, then poke GC on both sides: the
        # ContextCleaner deletes checkpoint dirs via driver weak refs
        del out, edges
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        deadline = time.time() + 90
        while time.time() < deadline:
            if not ckpt_files():
                print("RECLAIMED")
                break
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(2)
        else:
            print("NOT_RECLAIMED", len(ckpt_files()))
        spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "ckpt_e2e")],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "RECLAIMED" in proc.stdout, (
        proc.stdout[-500:],
        proc.stderr[-1000:],
    )


def test_reliable_mode_plans_stay_scale_clean(spark, tmp_path):
    """The knob must not regress the plan-audit bans: two
    materialize-heavy catalog entries built in RELIABLE mode still
    show no cartesian product, no row-at-a-time Python UDF, and no
    un-partitioned ranking window."""
    import contextlib
    import io

    import __spark_entry__ as entrymod
    from tests.test_plan_audit import _global_window_blocks

    qs = entrymod.queries()
    spark.conf.set(RELIABLE_CONF, "true")
    spark.conf.set(CHECKPOINT_DIR_CONF, str(tmp_path / "ckpt"))
    try:
        for key in ("dedup_clusters", "emb_clusters"):
            df = qs[key](spark, "/root/testdata/sf0.001")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            plan = buf.getvalue()
            assert "CartesianProduct" not in plan, key
            assert "BatchEvalPython" not in plan, key
            assert not _global_window_blocks(plan), key
    finally:
        spark.conf.unset(RELIABLE_CONF)
        spark.conf.unset(CHECKPOINT_DIR_CONF)


def test_materialize_all_concurrent_checkpoints(spark):
    """materialize_all returns checkpointed frames, in order, with
    contents identical to their inputs — including the single-frame
    and empty-list degenerate paths (no thread pool spun up there)."""
    from llm_map_reduce_summarizer_spark.operators.persist import (
        materialize_all,
    )

    a = spark.range(10).withColumnRenamed("id", "a")
    b = spark.range(5).withColumnRenamed("id", "b")
    c = spark.range(3).withColumnRenamed("id", "c")
    out = materialize_all([a, b, c])
    assert [df.columns[0] for df in out] == ["a", "b", "c"]
    assert [df.count() for df in out] == [10, 5, 3]
    # lineage is cut: the checkpointed plan scans an RDD, not range
    assert "ExistingRDD" in out[0]._jdf.queryExecution().toString()
    only = materialize_all([a])
    assert only[0].count() == 10
    assert materialize_all([]) == []


def test_materialize_all_without_pinned_threads(spark, monkeypatch):
    """With pinned-thread mode off, ``inheritable_thread_target(session)``
    returns the session itself rather than a decorator; materialize_all
    must fall back to plain materialize instead of calling it."""
    import py4j.clientserver

    from llm_map_reduce_summarizer_spark.operators.persist import (
        materialize_all,
    )

    # pyspark tells pinned mode from the gateway's class: make the
    # shared gateway fail that check, as a non-pinned gateway would
    monkeypatch.setattr(
        py4j.clientserver, "ClientServer", type("NotPinned", (), {})
    )
    a = spark.range(4).withColumnRenamed("id", "a")
    b = spark.range(6).withColumnRenamed("id", "b")
    out = materialize_all([a, b])
    monkeypatch.undo()
    assert [df.count() for df in out] == [4, 6]
    assert "ExistingRDD" in out[1]._jdf.queryExecution().toString()
