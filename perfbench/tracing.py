"""Benchmark-side tracing: spans around calls into the package's layers.

A span records layer, function, start, end, parent and request id. Each
span runs its Spark work under its own job group, so the stage metrics
the driver's status store keeps (tasks, run and CPU time, GC, shuffle
bytes, spill, records) can be attached to it after the run. Wrapped
functions force their DataFrame output at the boundary, so a layer's
Spark work runs inside its own span. Spans stay in memory until
:meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GROUP_PROP = "spark.jobGroup.id"
AUX_GROUP = "perfbench-aux"
ERROR_PREFIX = "[Error processing chunk:"


class Tracer:
    def __init__(self, sc, prefix: str):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def _group(self, group: str | None):
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP_PROP, prev)

    @contextlib.contextmanager
    def span(self, layer: str, fn: str, request: int | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid, "layer": layer, "fn": fn,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None
            else (parent["request"] if parent else None),
            "group": f"{self.prefix}-{sid}", "attrs": {},
        }
        stack.append(rec)
        rec["t0"] = time.time()
        try:
            with self._group(rec["group"]):
                yield rec
        finally:
            rec["t1"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def aux(self):
        """Job group for the tracer's own bookkeeping (row counts):
        its jobs are attributed to no span."""
        return self._group(AUX_GROUP)

    # ------------------------------------------------------ stage metrics

    def attach_stage_metrics(self) -> None:
        """Read every span's jobs and stages from the status store. A
        stage listed by several jobs belongs to the first that ran it."""
        with contextlib.suppress(Exception):
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jvm, gw = self.sc._jvm, self.sc._gateway
        no_status = jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(jvm.double, 0)
        jobs = []
        for rec in self.spans:
            rec["jobs"] = sorted(tracker.getJobIdsForGroup(rec["group"]))
            rec["stages"] = []
            jobs += [(j, rec) for j in rec["jobs"]]
        owner: dict[int, dict] = {}
        for jid, rec in sorted(jobs, key=lambda x: x[0]):
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                owner.setdefault(sid, rec)
        for sid, rec in owner.items():
            seq = store.stageData(sid, False, no_status, False, no_quantiles)
            if seq.length() == 0:
                continue
            sd = seq.apply(seq.length() - 1)
            if sd.numCompleteTasks() == 0:
                continue  # skipped: its work ran in an earlier job
            st = {
                "stage": sid, "tasks": sd.numCompleteTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "shuffle_read_bytes": sd.shuffleReadBytes(),
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
                "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                "records_in": sd.inputRecords(), "records_out": sd.outputRecords(),
                "submitted": _ms(sd.submissionTime()),
                "completed": _ms(sd.completionTime()),
            }
            if rec["fn"] == "assign_chunks_greedy":
                tasks = store.taskList(sid, sd.attemptId(), sd.numTasks())
                st["task_s"] = [
                    tasks.apply(i).duration().get() / 1e3
                    for i in range(tasks.length())
                    if tasks.apply(i).duration().isDefined()
                ]
            rec["stages"].append(st)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": sorted(self.spans, key=lambda r: r["id"])}, f)


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


# ------------------------------------------------------------ wrapping

def _count(tracer: Tracer, df: DataFrame) -> int:
    with tracer.aux():
        return df.count()


def _wrap(tracer: Tracer, layer: str, fn, after=None, force: bool = True):
    def wrapper(*args, **kwargs):
        with tracer.span(layer, fn.__name__) as rec:
            out = fn(*args, **kwargs)
            if force and isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
        if after is not None:
            after(rec, args, kwargs, out)
        return out

    wrapper.__name__ = fn.__name__
    return wrapper


class Patches:
    """Attribute substitutions on module objects, undone by ``restore``."""

    def __init__(self):
        self._saved: list[tuple[object, str, object]] = []

    def set(self, obj, name: str, value) -> None:
        self._saved.append((obj, name, getattr(obj, name)))
        setattr(obj, name, value)

    def restore(self) -> None:
        while self._saved:
            obj, name, value = self._saved.pop()
            setattr(obj, name, value)


def instrument_transcript_path(tracer: Tracer, patches: Patches) -> None:
    """Spans around each layer call ``__main__.run`` makes."""
    from llm_map_reduce_summarizer_spark import __main__ as m
    from llm_map_reduce_summarizer_spark.operators import aggregator

    def counted(rec, args, kwargs, out):
        rec["attrs"]["rows_out"] = _count(tracer, out)

    def read_after(rec, args, kwargs, out):
        counted(rec, args, kwargs, out)
        with tracer.aux():
            rec["attrs"]["files"] = out.select("doc_id").distinct().count()

    def merge_after(rec, args, kwargs, out):
        counted(rec, args, kwargs, out)
        rec["attrs"]["rows_in"] = _count(tracer, args[0])

    def greedy_after(rec, args, kwargs, out):
        with tracer.aux():
            rec["attrs"]["chunks_out"] = out.select("doc_id", "chunk_id").distinct().count()

    def reduce_after(rec, args, kwargs, out):
        with tracer.aux():
            rec["attrs"]["levels"] = out.first()["levels"]

    def persist_after(rec, args, kwargs, out):
        rec["attrs"]["checkpoints"] = 1

    patches.set(m, "read_transcript", _wrap(tracer, "sources.transcript", m.read_transcript, read_after))
    patches.set(m, "preprocess_segments", _wrap(tracer, "operators.preprocess", m.preprocess_segments, counted))
    patches.set(m, "merge_same_speaker", _wrap(tracer, "operators.preprocess", m.merge_same_speaker, merge_after))
    patches.set(m, "assign_chunks_greedy", _wrap(tracer, "operators.chunker", m.assign_chunks_greedy, greedy_after))
    patches.set(m, "hierarchical_reduce", _wrap(tracer, "operators.aggregator", m.hierarchical_reduce, reduce_after))
    patches.set(m, "get_provider", _wrap(tracer, "operators.providers", m.get_provider, force=False))
    for mod in (m, aggregator):
        patches.set(mod, "materialize", _wrap(tracer, "operators.persist", mod.materialize,
                                              persist_after, force=False))

    base = m.SparkLLMExecutor

    def executor_after(rec, args, kwargs, out):
        rec["attrs"]["chunks_in"] = _count(tracer, args[0])
        with tracer.aux():
            rec["attrs"]["error_chunks"] = out.filter(
                F.col("summary").startswith(ERROR_PREFIX)).count()

    class TracedExecutor(base):
        def process_chunks(self, chunks, text_col="text"):
            return _wrap(tracer, "operators.executor", super().process_chunks,
                         executor_after)(chunks, text_col=text_col)

    patches.set(m, "SparkLLMExecutor", TracedExecutor)


def instrument_corpus_prep(tracer: Tracer, patches: Patches) -> None:
    """Spans around each layer call ``corpus_prep_e2e`` makes."""
    from llm_map_reduce_summarizer_spark.operators import dedup
    from llm_map_reduce_summarizer_spark.plans import documents as d

    def counted(rec, args, kwargs, out):
        rec["attrs"]["rows_out"] = _count(tracer, out)

    def persist_after(rec, args, kwargs, out):
        rec["attrs"]["checkpoints"] = 1

    def gate(df: DataFrame) -> DataFrame:
        return df

    exact = d.exact_dedup

    def gated_exact_dedup(docs, *a, **kw):
        # the quality + language gate is inline in corpus_prep_e2e; force
        # its output where it enters exact dedup, in a span of its own
        forced = _wrap(tracer, "operators.dedup", gate)(docs)
        return _wrap(tracer, "operators.dedup", exact)(forced, *a, **kw)

    def verify_after(rec, args, kwargs, out):
        rec["attrs"]["candidate_pairs"] = _count(tracer, args[1])
        rec["attrs"]["verified_pairs"] = _count(tracer, out)

    patches.set(d, "load_table", _wrap(tracer, "sources.tables", d.load_table, counted))
    patches.set(d, "exact_dedup", gated_exact_dedup)
    patches.set(d, "minhash_lsh_pairs", _wrap(tracer, "operators.dedup", d.minhash_lsh_pairs))
    patches.set(dedup, "jaccard_verify_sets",
                _wrap(tracer, "operators.dedup", dedup.jaccard_verify_sets, verify_after))
    for mod in (d, dedup):
        patches.set(mod, "materialize", _wrap(tracer, "operators.persist", mod.materialize,
                                              persist_after, force=False))
    patches.set(dedup, "materialize_lazy", _wrap(tracer, "operators.persist", dedup.materialize_lazy,
                                                 persist_after, force=False))


# ------------------------------------------------------------ summaries

# name -> (unit, better); printed by every --trace 1 run, 0 where the
# workload does not reach the layer. README.md says which end-to-end
# metric each should move, on which workload.
PER_LAYER: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "sources.transcript.read_s": ("s", "lower"),
    "sources.transcript.files": ("count", "higher"),
    "sources.transcript.segments_out": ("count", "higher"),
    "sources.transcript.tasks": ("count", "lower"),
    "sources.tables.read_s": ("s", "lower"),
    "sources.tables.rows_out": ("count", "higher"),
    "operators.preprocess.clean_s": ("s", "lower"),
    "operators.preprocess.merge_s": ("s", "lower"),
    "operators.preprocess.merge_ratio": ("ratio", "lower"),
    "operators.preprocess.shuffle_bytes": ("bytes", "lower"),
    "operators.chunker.greedy_s": ("s", "lower"),
    "operators.chunker.chunks_out": ("count", "lower"),
    "operators.chunker.task_skew": ("ratio", "lower"),
    "operators.executor.map_s": ("s", "lower"),
    "operators.executor.chunks_in": ("count", "higher"),
    "operators.executor.error_chunks": ("count", "lower"),
    "operators.providers.requests": ("count", "higher"),
    "operators.providers.useful_ratio": ("ratio", "higher"),
    "operators.providers.inflight_mean": ("count", "higher"),
    "operators.providers.inflight_max": ("count", "higher"),
    "operators.providers.rejected_429": ("count", "lower"),
    "operators.providers.ceiling_share": ("ratio", "higher"),
    "operators.aggregator.reduce_s": ("s", "lower"),
    "operators.aggregator.levels": ("count", "lower"),
    "operators.persist.materialize_s": ("s", "lower"),
    "operators.persist.checkpoints": ("count", "lower"),
    "main.spark_jobs": ("count", "lower"),
    "main.driver_only_s": ("s", "lower"),
    "operators.dedup.gate_s": ("s", "lower"),
    "operators.dedup.minhash_s": ("s", "lower"),
    "operators.dedup.candidate_pairs": ("count", "lower"),
    "operators.dedup.verified_pairs": ("count", "higher"),
    "operators.dedup.verify_ratio": ("ratio", "higher"),
    "operators.dedup.shuffle_bytes": ("bytes", "lower"),
}
LAYERS = [
    "session", "sources.transcript", "sources.tables", "operators.preprocess",
    "operators.chunker", "operators.executor", "operators.aggregator",
    "operators.persist", "main", "operators.dedup",
]
for _layer in LAYERS:
    PER_LAYER[f"{_layer}.cpu_s"] = ("s", "lower")
    PER_LAYER[f"{_layer}.gc_s"] = ("s", "lower")
    PER_LAYER[f"{_layer}.spill_bytes"] = ("bytes", "lower")
PER_LAYER["trace.overhead_share"] = ("ratio", "lower")


def _calls(spans: list[dict], layer: str, fn: str | None = None) -> list[dict]:
    return [r for r in spans if r["layer"] == layer and (fn is None or r["fn"] == fn)]


def _per_req(spans: list[dict], n_req: int, layer: str, fn: str | None = None,
             key: str | None = None) -> float:
    """Per request: the layer's total span time (``key`` None) or the
    sum of a stage metric over the stages its spans own."""
    recs = _calls(spans, layer, fn)
    if key is None:
        total = sum(r["t1"] - r["t0"] for r in recs)
    else:
        total = sum(st[key] for r in recs for st in r.get("stages", []))
    return total / n_req if n_req else 0.0


def _attr(recs: list[dict], key: str, n_req: int) -> float:
    return sum(r["attrs"].get(key, 0) for r in recs) / n_req if n_req else 0.0


def driver_only_s(spans: list[dict], request_fn: str) -> float:
    """Mean wall time per request during which none of the request's
    stages was running."""
    out = []
    for req in _calls(spans, "main", request_fn):
        ivs = sorted(
            (max(st["submitted"], req["t0"]), min(st["completed"], req["t1"]))
            for r in spans if r["request"] == req["request"]
            for st in r.get("stages", []) if st["submitted"] and st["completed"]
        )
        busy, end = 0.0, req["t0"]
        for a, b in ivs:
            if b > end:
                busy += b - max(a, end)
                end = b
        out.append(max(0.0, req["t1"] - req["t0"] - busy))
    return statistics.fmean(out) if out else 0.0


def layer_metrics(spans: list[dict], plain: list[dict], request_fn: str) -> dict[str, float]:
    """Per-layer metrics, each per request (one ``run()`` call or one
    corpus-prep pass), from the traced spans; job counts and driver-only
    time come from the untraced half's request spans (``plain``), whose
    plan is not cut by forced boundaries."""
    n = len(_calls(spans, "main", request_fn))
    m: dict[str, float] = {}
    for layer in LAYERS:
        k = 1 if layer == "session" else n
        m[f"{layer}.cpu_s"] = _per_req(spans, k, layer, key="cpu_s")
        m[f"{layer}.gc_s"] = _per_req(spans, k, layer, key="gc_s")
        m[f"{layer}.spill_bytes"] = _per_req(spans, k, layer, key="spill_bytes")
    m["session.start_s"] = _per_req(spans, 1, "session", "get_spark")

    m["sources.transcript.read_s"] = _per_req(spans, n, "sources.transcript")
    reads = _calls(spans, "sources.transcript")
    m["sources.transcript.files"] = _attr(reads, "files", n)
    m["sources.transcript.segments_out"] = _attr(reads, "rows_out", n)
    m["sources.transcript.tasks"] = _per_req(spans, n, "sources.transcript", key="tasks")

    m["sources.tables.read_s"] = _per_req(spans, n, "sources.tables")
    m["sources.tables.rows_out"] = _attr(_calls(spans, "sources.tables"), "rows_out", n)

    merges = _calls(spans, "operators.preprocess", "merge_same_speaker")
    m["operators.preprocess.clean_s"] = _per_req(spans, n, "operators.preprocess", "preprocess_segments")
    m["operators.preprocess.merge_s"] = _per_req(spans, n, "operators.preprocess", "merge_same_speaker")
    rows_in = _attr(merges, "rows_in", n)
    m["operators.preprocess.merge_ratio"] = _attr(merges, "rows_out", n) / rows_in if rows_in else 0.0
    m["operators.preprocess.shuffle_bytes"] = _per_req(
        spans, n, "operators.preprocess", key="shuffle_write_bytes")

    greedy = _calls(spans, "operators.chunker")
    m["operators.chunker.greedy_s"] = _per_req(spans, n, "operators.chunker")
    m["operators.chunker.chunks_out"] = _attr(greedy, "chunks_out", n)
    skews = []
    for r in greedy:
        big = max(r.get("stages", []), key=lambda st: st["run_s"], default=None)
        if big and big.get("task_s") and statistics.median(big["task_s"]) > 0:
            skews.append(max(big["task_s"]) / statistics.median(big["task_s"]))
    m["operators.chunker.task_skew"] = statistics.fmean(skews) if skews else 0.0

    execs = _calls(spans, "operators.executor")
    m["operators.executor.map_s"] = _per_req(spans, n, "operators.executor")
    m["operators.executor.chunks_in"] = _attr(execs, "chunks_in", n)
    m["operators.executor.error_chunks"] = float(sum(r["attrs"].get("error_chunks", 0) for r in execs))

    m["operators.aggregator.reduce_s"] = _per_req(spans, n, "operators.aggregator")
    m["operators.aggregator.levels"] = _attr(_calls(spans, "operators.aggregator"), "levels", n)

    m["operators.persist.materialize_s"] = _per_req(spans, n, "operators.persist")
    m["operators.persist.checkpoints"] = _attr(_calls(spans, "operators.persist"), "checkpoints", n)

    plain_reqs = _calls(plain, "main", request_fn)
    m["main.spark_jobs"] = (statistics.fmean(len(r.get("jobs", [])) for r in plain_reqs)
                            if plain_reqs else 0.0)
    m["main.driver_only_s"] = driver_only_s(plain, request_fn)

    m["operators.dedup.gate_s"] = _per_req(spans, n, "operators.dedup", "gate")
    m["operators.dedup.minhash_s"] = _per_req(spans, n, "operators.dedup", "minhash_lsh_pairs")
    verify = _calls(spans, "operators.dedup", "jaccard_verify_sets")
    cand = _attr(verify, "candidate_pairs", n)
    ver = _attr(verify, "verified_pairs", n)
    m["operators.dedup.candidate_pairs"] = cand
    m["operators.dedup.verified_pairs"] = ver
    m["operators.dedup.verify_ratio"] = ver / cand if cand else 0.0
    m["operators.dedup.shuffle_bytes"] = _per_req(spans, n, "operators.dedup", key="shuffle_write_bytes")
    return m
