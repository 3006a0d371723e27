"""Lineage-cut materialization with a reliability knob (VERDICT r6
item 6).

Iterative/graph operators (MinHash shingle tables, connected-
components rounds, hierarchical reduce levels) materialize reused
intermediates so round k never replays rounds 1..k-1. Locally,
``localCheckpoint(eager=True)`` is the right call — executor-memory
blocks, zero I/O. At cluster scale it has two sharp edges: the blocks
die with their executor (a lost node forces recompute of a lineage
that was deliberately CUT — i.e. job failure), and pinned blocks
resist dynamic deallocation.

``materialize`` keeps the local default and adds a config-gated
RELIABLE path:

* ``spark.llm_map_reduce_summarizer.reliableCheckpoint=true`` switches
  every site to ``DataFrame.checkpoint(eager=True)`` — blocks land in
  the fault-tolerant checkpoint directory (HDFS/S3), surviving
  executor loss and freeing executors.
* The checkpoint dir comes from the SparkContext if already set, else
  from ``spark.llm_map_reduce_summarizer.checkpointDir``; with
  neither, reliable mode raises immediately with the fix in the
  message (silently falling back to executor-local blocks would
  defeat the knob's purpose).

Checkpoint-file lifecycle: Spark NEVER deletes reliable checkpoint
files unless ``spark.cleaner.referenceTracking.cleanCheckpoints=true``
is set at SparkContext CREATION time (it is a static conf read by the
ContextCleaner; setting it later is a no-op). Iterative callers —
connected-components rounds, hierarchical-reduce levels, MinHash
tables — checkpoint once per round, so a long job without the cleaner
conf accumulates unbounded checkpoint-dir storage. Set the conf in the
session builder when enabling reliable mode; ``materialize`` warns
once per session if reliable mode is active without it.

Call sites keep their fluent shape: ``df.transform(materialize)``.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

RELIABLE_CONF = "spark.llm_map_reduce_summarizer.reliableCheckpoint"
CHECKPOINT_DIR_CONF = "spark.llm_map_reduce_summarizer.checkpointDir"
CLEANER_CONF = "spark.cleaner.referenceTracking.cleanCheckpoints"

_CLEANER_WARNED: set[str] = set()
_CLEANER_LOCK = threading.Lock()


def _warn_if_cleaner_disabled(spark) -> None:
    """One warning per session when reliable mode runs without the
    checkpoint cleaner (see module docstring: files otherwise
    accumulate forever under iterative callers). Locked check-and-add:
    materialize is deliberately called from thread pools (the pooled
    test gates, attest_catalog), so an unsynchronized membership test
    could warn twice."""
    app_id = spark.sparkContext.applicationId
    with _CLEANER_LOCK:
        if app_id in _CLEANER_WARNED:
            return
        _CLEANER_WARNED.add(app_id)
    if str(spark.conf.get(CLEANER_CONF, "false")).lower() != "true":
        import warnings

        warnings.warn(
            f"{RELIABLE_CONF}=true but {CLEANER_CONF} is not enabled: "
            "Spark will never delete checkpoint files, so iterative "
            "operators accumulate unbounded checkpoint-dir storage. "
            f"Set {CLEANER_CONF}=true in the session builder (it is "
            "static — it must be set at SparkContext creation).",
            RuntimeWarning,
            stacklevel=3,
        )


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage.

    Default: ``localCheckpoint`` (executor-local, zero I/O). With
    ``RELIABLE_CONF=true``: fault-tolerant ``checkpoint`` into the
    configured directory.

    ``eager=False`` marks the checkpoint but defers the work to the
    caller's NEXT action — the iterative operators use it to fuse the
    checkpoint job with the action they were about to run anyway (e.g.
    a convergence aggregate), one pass over the table instead of two.
    The lineage cut happens at that first action either way.
    """
    spark = df.sparkSession
    if str(spark.conf.get(RELIABLE_CONF, "false")).lower() != "true":
        return df.localCheckpoint(eager=eager)
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        ckpt_dir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
        if not ckpt_dir:
            raise ValueError(
                f"{RELIABLE_CONF}=true but no checkpoint directory is "
                f"configured: call sparkContext.setCheckpointDir(...) or "
                f"set {CHECKPOINT_DIR_CONF} to a fault-tolerant path "
                "(HDFS/S3)"
            )
        sc.setCheckpointDir(ckpt_dir)
    _warn_if_cleaner_disabled(spark)
    return df.checkpoint(eager=eager)


def materialize_lazy(df: DataFrame) -> DataFrame:
    """``materialize`` with the work deferred to the caller's next
    action (fluent ``df.transform(materialize_lazy)`` shape)."""
    return materialize(df, eager=False)


def materialize_all(dfs: list[DataFrame]) -> list[DataFrame]:
    """Eagerly materialize INDEPENDENT frames as CONCURRENT Spark
    jobs (thread-pool submission), returning the checkpointed frames
    in order.

    Sequential eager checkpoints serialize work that one lazy action
    would have scheduled as concurrent stages; on an underloaded
    local box that serialization can cost more wall-clock than the
    duplicated lineage it removes (measured on the nprobe-curve
    retrieval arms). Submitting the checkpoint jobs from threads
    keeps both properties: each search executes exactly once AND the
    independent jobs share the executor pool concurrently. On a
    saturated cluster it degrades gracefully to the sequential cost.

    Worker threads run under ``pyspark.inheritable_thread_target`` so
    the CALLER's JVM-thread-local properties — job group, job
    description, scheduler pool — propagate to the checkpoint jobs.
    Under pinned-thread mode (the PySpark default since 3.2) a plain
    pool thread maps to a fresh JVM thread with NO inherited
    properties, so a caller's ``setJobGroup``/``cancelJobGroup``
    watchdog (e.g. the scale-sweep timeout) would not cover these
    jobs and a timed-out query could not be cancelled.
    """
    if len(dfs) <= 1:
        return [materialize(df) for df in dfs]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # capture the caller thread's local properties NOW (wrap time);
    # the session-aware form also propagates session tags (the
    # function-only form warns and skips them). Cap the pool — each
    # worker is a concurrent Spark job, and past a handful they only
    # contend for the same executor slots.
    # Without pinned threads (PYSPARK_PIN_THREAD=false) there are no
    # per-thread properties to carry, and the call hands the session
    # back instead of a decorator: use plain materialize then.
    wrap = inheritable_thread_target(dfs[0].sparkSession)
    target = wrap(materialize) if callable(wrap) else materialize
    with ThreadPoolExecutor(max_workers=min(len(dfs), 8)) as pool:
        return list(pool.map(target, dfs))
