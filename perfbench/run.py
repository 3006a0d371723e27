"""Benchmark of the summarizer as it is used.

    python3 perfbench/run.py --workload corpus_summarize --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md):

* ``corpus_summarize`` - ``__main__.run()`` calls over directories of
  generated transcript JSON files, default flags, keyless mock provider.
* ``live_requests`` - a closed loop of one client thread per core, each
  sending one generated transcript through ``__main__.run()`` at a
  time, with the package's OpenAI provider pointed at a local LLM stub
  and capped by ``cluster_rate_limited``.
* ``corpus_prep`` - ``plans.documents.corpus_prep_e2e`` over a generated
  documents table, written to a ``noop`` sink.

Run from the root of a checkout. Inputs are made from ``--seed`` under
``.perfbench_work/``; every run checks the program's outputs outside the
timed region. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``; per-layer metrics, from a run whose first half is
untraced and second half traced, with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("corpus_summarize", "live_requests", "corpus_prep")

# live_requests: stub latency and the request ceiling (see README.md)
STUB_BASE_MS = 60.0
STUB_PER_TOKEN_MS = 0.05
STUB_FAIL_SHARE = 0.05
LIVE_CEILING = 20.0
# untimed closed-loop rounds before timing: after a single small warm-up
# call, each client's first request ran 1.5-2x slower than its later ones
LIVE_WARMUP_ROUNDS = 2

PREP_DOCS = 1000
# The JVM keeps speeding up over the first four corpus_prep_e2e passes
# over a table of this size (CPU time per pass 1.7x the steady value on
# the second pass); after one small warm-up pass the measured passes
# still sat on that curve and spread by 25-35 % between runs.
PREP_WARMUP_PASSES = 3
CORPUS_BATCHES = 4

# A run performs a fixed number of operations, sized from --seconds by
# these nominal operation times (4 cores, at the time of writing): fixed
# work keeps every run's sequence of operations - and so its place on
# the JVM's warm-up curve - the same, where a deadline would cut a
# varying number of operations out of a still-speeding-up sequence.
NOMINAL_OP_S = {"corpus_summarize": 5.0, "live_requests": 1.0, "corpus_prep": 4.5}


def operations(workload: str, seconds: float) -> int:
    return max(2, round(seconds / NOMINAL_OP_S[workload]))


def process_start_time() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started_ticks = int(fields[19])
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + started_ticks / os.sysconf("SC_CLK_TCK")


def size_to_host(trace: bool) -> dict:
    """Size the Spark session to the host it runs on and keep every file the
    run writes inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = int(min(2048, ram / 4 / 2**20))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: with a growing heap the JVM's resident
    # size followed GC timing and varied by 20 % between equal runs
    java_opts = f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
    for k in ("OPENAI_API_KEY", "ANTHROPIC_API_KEY", "LLM_MAX_REQUESTS_PER_SEC", "LLM_MODEL",
              "http_proxy", "https_proxy", "HTTP_PROXY", "HTTPS_PROXY"):
        os.environ.pop(k, None)
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        confs += ["spark.ui.retainedJobs=100000", "spark.ui.retainedStages=100000"]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {c}" for c in confs)
        + f" --driver-java-options '{java_opts}' pyspark-shell",
    )
    return {"nproc": cpus, "ram_mb": round(ram / 2**20), "driver_heap_mb": heap_mb,
            "python": platform.python_version()}


def descendants(skip: frozenset[int] = frozenset()) -> list[int]:
    """Pids of this process's descendants, leaving out ``skip`` pids'
    subtrees."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        if pid not in skip:
            out.append(pid)
            todo += children.get(pid, [])
    return out


class RssPeak:
    """Peak summed RSS of this process and its descendants (the driver
    JVM and the Python workers), excluding ``skip`` pids' subtrees."""

    def __init__(self, skip: frozenset[int], period: float = 0.25):
        self.skip, self.period = skip, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(self.skip)]:
            try:
                with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except OSError:
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._sample())


# ------------------------------------------------------------ workloads

class Workload:
    """Common shape: ``warm_up`` makes the warm-up input and runs it
    once; ``prepare`` makes the measured inputs; ``measure`` runs ``n``
    operations; ``check`` verifies every output."""

    item = "items"
    op = "operations"
    request_fn = "run"  # the function name of the per-operation span

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.ops: list[dict] = []
        self.input_stats: dict = {}


class TranscriptWorkload(Workload):
    def args(self, path: str, extra: list[str] | None = None):
        from llm_map_reduce_summarizer_spark.__main__ import build_parser

        return build_parser().parse_args(["--input", path, "--quiet", *(extra or [])])

    def call(self, path: str, request: int, tracer=None) -> dict:
        from llm_map_reduce_summarizer_spark import __main__ as m

        t0 = time.time()
        if tracer is None:
            report = m.run(self.spark, self.args(path))
        else:
            with tracer.span("main", "run", request=request):
                report = m.run(self.spark, self.args(path))
        return {"path": path, "t0": t0, "t1": time.time(), "report": report}

    def warm_up(self) -> None:
        import gen

        w = gen.write_transcripts(os.path.join(self.work, "warmup"), self.seed + 7919,
                                  gen.WARMUP_MINUTES, prefix="w")
        self.call(w["paths"][0], -1)


class CorpusSummarize(TranscriptWorkload):
    """Each run() call gets a directory of three transcripts (the most
    one call accepts today, see README.md): two ordinary calls and one
    multi-hour call."""

    item = "segments"
    op = "run() calls"

    def prepare(self, n: int) -> None:
        import gen

        self.batches = []
        stats: dict = {}
        for b in range(CORPUS_BATCHES):
            d = os.path.join(self.work, f"corpus{b}")
            g = gen.write_transcripts(d, self.seed * 100 + b, gen.CORPUS_BATCH_MINUTES)
            self.batches.append((d, sorted(g["paths"])))
            if b == 0:
                self.chunk_check_file = g["paths"][g["minutes"].index(50)]
            for k, v in g["stats"].items():
                stats[k] = stats.get(k, 0) + v
        self.input_stats = stats

    def measure(self, n: int, tracer=None) -> None:
        for _ in range(n):
            d, paths = self.batches[len(self.ops) % len(self.batches)]
            rec = self.call(d, len(self.ops), tracer)
            rec["files"] = paths
            self.ops.append(rec)

    def check(self) -> tuple[list[str], int, int]:
        import check
        import pyarrow.parquet as pq

        errs: list[str] = []
        attempted = failed = 0
        docs = {d: check.load_docs(p) for d, p in self.batches}
        for rec in self.ops:
            rep = rec["report"]
            attempted += rep["chunks"]
            failed += rep["summary"].count(check.ERROR_PREFIX)
            errs += check.check_report(rep, docs[os.path.dirname(rec["files"][0])],
                                       check.mock_completion())
        # one untimed call with --save-chunks, over the 50-minute file of
        # the first batch, checks every chunk's text
        path = self.chunk_check_file
        out = os.path.join(self.work, "chunks")
        from llm_map_reduce_summarizer_spark import __main__ as m

        m.run(self.spark, self.args(path, ["--save-chunks", out]))
        rows = pq.read_table(out).to_pylist()
        errs += check.check_chunk_rows(rows, check.load_docs([path]), check.mock_completion())
        return errs, attempted, failed

    def e2e(self) -> dict:
        lat = [r["t1"] - r["t0"] for r in self.ops]
        return {"items_per_s": sum(r["report"]["segments"] for r in self.ops) / sum(lat),
                "latencies": lat}


class LiveRequests(TranscriptWorkload):
    item = "requests"
    op = "requests"

    def __init__(self, spark, seed, work, stub):
        super().__init__(spark, seed, work)
        self.stub = stub
        self.clients = spark.sparkContext.defaultParallelism

    def use_stub_provider(self, patches) -> None:
        """Substitute get_provider, the way the tests substitute fakes:
        the package's own OpenAI adapter against the stub, capped by the
        package's cluster-wide limiter."""
        from llm_map_reduce_summarizer_spark import __main__ as m
        from llm_map_reduce_summarizer_spark.operators import providers

        url = self.stub.url + "/v1/chat/completions"
        par = self.spark.sparkContext.defaultParallelism

        def get_provider(name="openai", model=None, max_requests_per_sec=None,
                         cluster_parallelism=None):
            model = model or providers.DEFAULT_MODELS["openai"]
            call = providers.openai_provider(model, "stub-key", timeout=30.0, url=url)
            return providers.cluster_rate_limited(call, LIVE_CEILING, par), model, False

        patches.set(m, "get_provider", get_provider)

    @staticmethod
    def write(d: str, seed: int, n: int, prefix: str) -> dict:
        import gen

        minutes = [gen.LIVE_MINUTES[i % len(gen.LIVE_MINUTES)] for i in range(n)]
        return gen.write_transcripts(d, seed, minutes, prefix=prefix, shuffle=False)

    def warm_up(self) -> None:
        g = self.write(os.path.join(self.work, "warmup"), self.seed + 7919,
                       LIVE_WARMUP_ROUNDS * self.clients, "w")
        warm: list[dict] = []
        self.loop(list(enumerate(g["paths"])), warm)
        for r in warm:
            if r["report"] is None:
                raise RuntimeError(f"a warm-up request raised: {r['error']}")

    def prepare(self, n: int) -> None:
        g = self.write(os.path.join(self.work, "live"), self.seed, n, "r")
        self.paths = g["paths"]
        self.input_stats = g["stats"]
        self.docs: dict[str, dict] = {}
        self.stub.reset()

    def loop(self, todo: list[tuple[int, str]], out: list[dict], tracer=None) -> None:
        """The closed loop: each client sends its next request, in
        ``todo`` order, when its last report is back; records go to
        ``out``."""
        lock = threading.Lock()
        todo = list(todo)

        def client() -> None:
            while True:
                with lock:
                    if not todo:
                        return
                    i, path = todo.pop(0)
                t0 = time.time()
                try:
                    rec = self.call(path, i, tracer)
                except Exception as exc:  # noqa: BLE001 - a failed request is counted
                    rec = {"path": path, "t0": t0, "t1": time.time(),
                           "report": None, "error": repr(exc)}
                with lock:
                    out.append(rec)

        threads = [threading.Thread(target=client, daemon=True) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=150)
        if any(t.is_alive() for t in threads):
            raise RuntimeError("a client thread did not finish")

    def measure(self, n: int, tracer=None) -> None:
        start = time.time()
        first = len(self.ops)
        self.loop([(i, self.paths[i]) for i in range(first, first + n)], self.ops, tracer)
        self.window = (start, max(r["t1"] for r in self.ops))
        self.stub_stats = self.stub.stats()

    def check(self) -> tuple[list[str], int, int]:
        import check
        import stub

        errs: list[str] = []
        failed = 0
        for rec in self.ops:
            rep = rec["report"]
            if rep is None:
                failed += 1
                errs.append(f"request raised: {rec['error']}")
                continue
            if check.ERROR_PREFIX in rep["summary"]:
                failed += 1
            if rec["path"] not in self.docs:
                self.docs[rec["path"]] = check.load_docs([rec["path"]])[0]
            errs += check.check_report(rep, [self.docs[rec["path"]]], stub.completion_for)
        return errs, len(self.ops), failed

    def e2e(self) -> dict:
        start, end = self.window
        return {"items_per_s": len(self.ops) / (end - start),
                "latencies": [r["t1"] - r["t0"] for r in self.ops]}


class CorpusPrep(Workload):
    item = "documents"
    op = "corpus_prep_e2e passes"
    request_fn = "corpus_prep_e2e"

    def pass_(self, sf_dir: str, request: int, tracer=None) -> dict:
        from llm_map_reduce_summarizer_spark.plans import documents

        t0 = time.time()
        if tracer is None:
            documents.corpus_prep_e2e(self.spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
        else:
            with tracer.span("main", "corpus_prep_e2e", request=request):
                documents.corpus_prep_e2e(self.spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
        return {"t0": t0, "t1": time.time()}

    def warm_up(self) -> None:
        import gen

        d = os.path.join(self.work, "warmup")
        gen.write_documents(os.path.join(d, "documents.parquet"), self.seed + 7919, PREP_DOCS)
        for _ in range(PREP_WARMUP_PASSES):
            self.pass_(d, -1)

    def prepare(self, n: int) -> None:
        import gen

        self.sf_dir = os.path.join(self.work, "docs")
        g = gen.write_documents(os.path.join(self.sf_dir, "documents.parquet"), self.seed,
                                PREP_DOCS)
        self.input_stats, self.planted = g["stats"], g["planted"]

    def measure(self, n: int, tracer=None) -> None:
        for _ in range(n):
            self.ops.append(self.pass_(self.sf_dir, len(self.ops), tracer))

    def check(self) -> tuple[list[str], int, int]:
        import check
        import duckdb

        from llm_map_reduce_summarizer_spark.plans import documents

        rows = [tuple(r) for r in documents.corpus_prep_e2e(self.spark, self.sf_dir).collect()]
        # the twin inlines its CTEs, recomputing the LSH bands per use (a
        # minute at this size); materializing them changes no result
        sql = re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (",
                     documents.ORACLE["corpus_prep_e2e"])
        con = duckdb.connect()
        try:
            path = os.path.join(self.sf_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            want = con.execute(sql).fetchall()
        finally:
            con.close()
        errs = check.check_prep(rows, want, self.planted)
        return errs, PREP_DOCS * len(self.ops), 0

    def e2e(self) -> dict:
        # the median pass, not the mean: one pass slowed by other load on
        # the host moves a mean of three by a third of the slowdown
        lat = [r["t1"] - r["t0"] for r in self.ops]
        return {"items_per_s": PREP_DOCS / statistics.median(lat), "latencies": lat}


# ------------------------------------------------------------ the LLM stub

class StubProcess:
    def __init__(self, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "stub.py"), "--seed", str(seed),
             "--base-ms", str(STUB_BASE_MS), "--per-token-ms", str(STUB_PER_TOKEN_MS),
             "--ceiling", str(LIVE_CEILING), "--fail-share", str(STUB_FAIL_SHARE),
             "--slack", str(len(os.sched_getaffinity(0)))],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError("the LLM stub did not start")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"

    def _req(self, method: str, path: str) -> dict:
        req = urllib.request.Request(self.url + path, method=method,
                                     data=b"" if method == "POST" else None)
        with urllib.request.urlopen(req, timeout=10) as resp:
            return json.loads(resp.read())

    def stats(self) -> dict:
        return self._req("GET", "/stats")

    def reset(self) -> None:
        self._req("POST", "/reset")

    def close(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


# ------------------------------------------------------------ driver

def spawn_python_workers(spark) -> None:
    n = spark.sparkContext.defaultParallelism
    spark.sparkContext.parallelize(range(n), n).map(lambda x: x).collect()


def run_benchmark(a: argparse.Namespace) -> dict:
    t_proc = process_start_time()
    host = size_to_host(bool(a.trace))
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    sys.path.insert(0, ROOT)
    import pyspark

    from llm_map_reduce_summarizer_spark.session import get_spark
    from tracing import PER_LAYER, Patches, Tracer, instrument_corpus_prep, \
        instrument_transcript_path, layer_metrics

    work = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    stub = StubProcess(a.seed) if a.workload == "live_requests" else None
    patches = Patches()
    spark = None
    try:
        t0 = time.time()
        spark = get_spark("perfbench")
        t_spark = time.time()
        sc = spark.sparkContext
        session = Tracer(sc, f"perfbench-session-{os.getpid()}")
        with session.span("session", "spawn_python_workers"):
            spawn_python_workers(spark)
        session.spans.append({"id": -1, "layer": "session", "fn": "get_spark", "parent": None,
                              "request": None, "group": "", "attrs": {}, "t0": t0,
                              "t1": t_spark})
        if a.workload == "corpus_summarize":
            w = CorpusSummarize(spark, a.seed, work)
        elif a.workload == "live_requests":
            w = LiveRequests(spark, a.seed, work, stub)
            w.use_stub_provider(patches)
        else:
            w = CorpusPrep(spark, a.seed, work)
        w.warm_up()
        setup_s = time.time() - t_proc

        n = operations(a.workload, a.seconds)
        w.prepare(n)
        skip = frozenset([stub.proc.pid] if stub else [])
        plain = traced = None
        with RssPeak(skip) as rss:
            if a.trace:
                plain = Tracer(sc, f"perfbench-plain-{os.getpid()}")
                n_plain = n // 2
                w.measure(n_plain, plain)
                traced = Tracer(sc, f"perfbench-traced-{os.getpid()}")
                if a.workload == "corpus_prep":
                    instrument_corpus_prep(traced, patches)
                else:
                    instrument_transcript_path(traced, patches)
                if isinstance(w, LiveRequests):
                    w.stub.reset()
                w.measure(n - n_plain, traced)
            else:
                w.measure(n)
        patches.restore()
        e2e = w.e2e()
        errs, attempted, failed = w.check()
        versions = {"spark": pyspark.__version__,
                    "java": sc._jvm.java.lang.System.getProperty("java.version")}

        result = {"host": {**host, **versions}, "inputs": w.input_stats,
                  "operations": len(w.ops), "errors": errs[:20]}
        lat = e2e["latencies"]
        metrics = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (e2e["items_per_s"], "1/s"),
            "latency_p50_ms": (statistics.median(lat) * 1e3, "ms"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        }
        # a run has too few operations for any percentile above the
        # median to have 10 samples beyond it, so no tail is reported;
        # the operation times are in the summary line
        result["latencies_ms"] = [round(t * 1e3, 1) for t in lat]
        if a.trace:
            for tr in (session, plain, traced):
                tr.attach_stage_metrics()
            spans = session.spans + traced.spans
            per = layer_metrics(spans, plain.spans, w.request_fn)
            per.update(provider_metrics(getattr(w, "stub_stats", None)))
            lat_plain = [r["t1"] - r["t0"] for r in w.ops[:n_plain]]
            lat_traced = [r["t1"] - r["t0"] for r in w.ops[n_plain:]]
            per["trace.overhead_share"] = (
                statistics.median(lat_traced) / statistics.median(lat_plain) - 1.0
                if lat_plain and lat_traced else 0.0)
            metrics = {k: (per[k], unit) for k, (unit, _) in PER_LAYER.items()}
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            span_path = os.path.join(WORK, "spans", f"{a.workload}-seed{a.seed}.json")
            traced.dump(span_path, {"workload": a.workload, "seed": a.seed,
                                            "session": session.spans, "untraced": plain.spans,
                                            "metrics": per})
            result["spans_file"] = os.path.relpath(span_path, ROOT)
        result.update(correct=not errs, attempted=max(1, attempted),
                      failed=max(1, attempted) if errs else failed, metrics=metrics,
                      item=w.item, op=w.op)
        return result
    finally:
        patches.restore()
        try:
            if stub is not None:
                stub.close()
        finally:
            if spark is not None:
                stop_spark(spark)
            shutil.rmtree(work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    and wait until every process it started - the Python workers - has
    ended."""
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    started = descendants()
    spark.stop()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)


def provider_metrics(s: dict | None) -> dict[str, float]:
    """Provider-layer counters, as counted at the stub."""
    keys = ("requests", "useful_ratio", "inflight_mean", "inflight_max", "rejected_429",
            "ceiling_share")
    if s is None or not s["requests"]:
        return {f"operators.providers.{k}": 0.0 for k in keys}
    return {
        "operators.providers.requests": float(s["requests"]),
        "operators.providers.useful_ratio": s["distinct_answered"] / s["requests"],
        "operators.providers.inflight_mean": s["inflight_mean"],
        "operators.providers.inflight_max": float(s["inflight_max"]),
        "operators.providers.rejected_429": float(s["rejected_429"]),
        "operators.providers.ceiling_share": s["requests"] / s["elapsed_s"] / s["ceiling"],
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Benchmark the summarizer end to end.")
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "llm_map_reduce_summarizer_spark")):
        print("perfbench: the llm_map_reduce_summarizer_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    r = run_benchmark(a)
    m = r["metrics"]
    print(json.dumps({k: v for k, v in r.items() if k not in ("metrics", "correct", "attempted",
                                                             "failed")}, sort_keys=True))
    for name, (value, unit) in m.items():
        print(f"{name} = {value:.6g} {unit}")
    if not a.trace:
        print(f"items are {r['item']}; latency_p50_ms is over {r['operations']} {r['op']}")
    print(f"correct = {r['correct']} ({r['failed']} of {r['attempted']} operations failed)")
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
