"""The traced run: per-layer metrics, never end-to-end ones.

Spans ``load``/``build``/``plan``/``exec`` (and ``sink`` for file-sink
writes) are recorded by this module around calls into the package's
public functions; the package itself is not changed. Each span runs under
its own Spark job group, so jobs per phase come from ``statusTracker``.
Stage, task, SQL-operator and Python-worker numbers come from Spark's
uncompressed, non-rolling event log, read after the session stops.
Streaming splits come from a ``StreamingQueryListener``. Four in-process
probes time the text and sketch kernels directly.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import time

import numpy as np

from . import gen, harness, host
from .workloads import Workload, mix

MB = float(1 << 20)
#: Node names whose SQL metrics describe Python-worker traffic.
_PYTHON_NODES = ("Python", "Arrow", "Pandas")


class Tracer:
    """In-memory spans; each span sets its own job group for its duration."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.groups: dict[str, str] = {}  # job group -> span name
        self.pass_no = 0
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, query: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        group = f"steadybench:{self.pass_no}:{query}:{name}:{len(self.spans)}"
        rec = {"name": name, "query": query, "pass": self.pass_no, "group": group,
               "parent": parent["group"] if parent else None, **attrs}
        self.groups[group] = name
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.spans.append(rec)

    def current_query(self) -> str:
        return self._stack[-1]["query"] if self._stack else "-"

    @contextlib.contextmanager
    def installed(self, entry_module):
        """Wrap ``io.load_table`` wherever the package bound it, and the file
        sinks of ``DataFrameWriter``, for the duration of the block."""
        from pyspark.sql.readwriter import DataFrameWriter

        from social_media_big_data_analyzer_spark import io

        orig_load = io.load_table
        tracer = self

        def load_table(spark, sf_dir, name):
            with tracer.span("load", tracer.current_query(), table=name):
                return orig_load(spark, sf_dir, name)

        def sink(fmt, orig):
            def write(writer, path, *args, **kwargs):
                with tracer.span("sink", tracer.current_query(), format=fmt) as rec:
                    orig(writer, path, *args, **kwargs)
                rec["bytes"] = _dir_bytes(path)

            return write

        modules = [m for m in list(sys.modules.values()) + [entry_module]
                   if getattr(m, "load_table", None) is orig_load]
        orig_csv, orig_json = DataFrameWriter.csv, DataFrameWriter.json
        for m in modules:
            m.load_table = load_table
        DataFrameWriter.csv, DataFrameWriter.json = sink("csv", orig_csv), sink("json", orig_json)
        try:
            yield
        finally:
            for m in modules:
                m.load_table = orig_load
            DataFrameWriter.csv, DataFrameWriter.json = orig_csv, orig_json

    def traced_pass(self, spark, queries, data_dir: str) -> dict:
        import social_media_big_data_analyzer_spark as engine

        self.pass_no += 1
        ticks0 = host.cpu_ticks()
        t0 = time.perf_counter()
        failed = 0
        for name, fn in queries:
            engine.clear_caches()
            try:
                with self.span("build", name):
                    df = fn(spark, data_dir)
                with self.span("plan", name):
                    df._jdf.queryExecution().executedPlan()
                with self.span("exec", name):
                    harness.noop_write(df)
            except Exception as e:  # noqa: BLE001 - counted in `failed`, the run exits non-zero
                failed += 1
                print(f"steadybench: {name} failed: {type(e).__name__}: {e}", file=sys.stderr, flush=True)
        rec = {"pass": self.pass_no, "start": t0, "wall_s": time.perf_counter() - t0, "failed": failed}
        rec.update(host.host_fracs(ticks0, host.cpu_ticks()))
        return rec


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(f))


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[tuple[float, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append((time.perf_counter(), json.loads(event.progress.json)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


# --------------------------------------------------------------------------
# Event log


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan.get("nodeName", ""), m["name"])
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def read_event_log(path: str, groups: set[str]) -> dict:
    """Task-level sums over the jobs whose job group is in ``groups``,
    attributed by group, plus SQL-operator metrics of Python nodes."""
    job_group, stage_job, accum_names = {}, {}, {}
    tasks = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[e["Job ID"]] = g
                for s in e.get("Stage IDs", ()):
                    stage_job[s] = e["Job ID"]
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                _plan_metrics(e["sparkPlanInfo"], accum_names)
            elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                tasks.append(e)
    sums = {k: 0.0 for k in ("run_ms", "cpu_ns", "gc_ms", "input_b", "shuf_r_b", "shuf_w_b",
                             "spill_b", "py_sent_b", "py_recv_b", "py_rows", "py_init_ms")}
    stage_runs: dict[int, list[float]] = {}
    n_tasks = 0
    for e in tasks:
        g = job_group.get(stage_job.get(e["Stage ID"]))
        if g not in groups:
            continue
        m = e["Task Metrics"]
        sums["run_ms"] += m["Executor Run Time"]
        sums["cpu_ns"] += m["Executor CPU Time"]
        sums["gc_ms"] += m["JVM GC Time"]
        sums["input_b"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        r = m.get("Shuffle Read Metrics", {})
        sums["shuf_r_b"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        sums["shuf_w_b"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        sums["spill_b"] += m["Disk Bytes Spilled"]
        stage_runs.setdefault(e["Stage ID"], []).append(m["Executor Run Time"])
        n_tasks += 1
        for acc in e["Task Info"].get("Accumulables", ()):
            node, name = accum_names.get(acc["ID"], ("", ""))
            if not any(p in node for p in _PYTHON_NODES):
                continue
            v = float(acc.get("Update") or 0)
            if name == "data sent to Python workers":
                sums["py_sent_b"] += v
            elif name == "data returned from Python workers":
                sums["py_recv_b"] += v
            elif name == "number of output rows":
                sums["py_rows"] += v
            elif name in ("time to start Python workers", "time to initialize Python workers"):
                sums["py_init_ms"] += v
    # Skew: max/mean task run time per multi-task stage, weighted by the
    # stage's total run time.
    num = den = 0.0
    for runs in stage_runs.values():
        total = sum(runs)
        if len(runs) > 1 and total > 0:
            num += max(runs) / (total / len(runs)) * total
            den += total
    sums["skew"] = num / den if den else 1.0
    sums["tasks"] = float(n_tasks)
    return sums


# --------------------------------------------------------------------------
# In-process probes


def _timed(fn, min_s: float = 0.3) -> float:
    """Seconds per call of ``fn``, repeated until ``min_s`` has elapsed."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= min_s:
            return el / n


def _shingle_hashes(texts: list[str], k: int) -> list[np.ndarray]:
    """Distinct k-word-shingle hashes per document (split on single spaces,
    lowercased, as the dedup queries shingle), as int64 arrays."""
    vocab: dict[str, int] = {}
    out = []
    mult = np.uint64(0x9E3779B97F4A7C15)
    for t in texts:
        ids = np.array([vocab.setdefault(w, len(vocab) + 1) for w in t.lower().split(" ")], dtype=np.uint64)
        if len(ids) < k:
            continue
        h = np.zeros(len(ids) - k + 1, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for j in range(k):
                h = (h * mult) ^ ids[j : len(ids) - k + 1 + j]
        out.append(np.unique(h.view(np.int64)))
    return out


def probes(spark, seed: int) -> dict[str, float]:
    """Kernel throughput on a seeded probe corpus and embedding set."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from social_media_big_data_analyzer_spark.functions.cleaning import clean_tokens
    from social_media_big_data_analyzer_spark.functions.lemmatize import lemma_word
    from social_media_big_data_analyzer_spark.operators.sketches import (
        MINHASH_BANDS, MINHASH_PERMS, SHINGLE_K, minhash_batches, simhash_batches)
    from social_media_big_data_analyzer_spark.queries.dedup import JACCARD_THRESHOLD
    from social_media_big_data_analyzer_spark.queries.similarity import N_PLANES, PLANES

    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    docs = gen.documents(rng, 5000)
    texts = docs["text"]
    out = {}

    words = sorted({w for t in texts for w in t.lower().split()})
    out["lemmatize.words_per_s"] = len(words) / _timed(lambda: [lemma_word(w) for w in words])

    sh = _shingle_hashes(texts, SHINGLE_K)
    lists = pa.array([h.tolist() for h in sh], type=pa.list_(pa.int64()))
    batch = pa.RecordBatch.from_arrays([pa.array(np.arange(len(sh)), pa.int64()), lists], ["doc_id", "hashes"])
    out["sketches.minhash_docs_per_s"] = len(sh) / _timed(lambda: list(minhash_batches(iter([batch]))))
    out["sketches.simhash_docs_per_s"] = len(sh) / _timed(lambda: list(simhash_batches(iter([batch]))))

    # LSH waste: distinct candidate pairs sharing a band / pairs that verify.
    mins = np.array(next(minhash_batches(iter([batch]))).column(2).to_pylist())
    r = MINHASH_PERMS // MINHASH_BANDS
    cand: set[tuple[int, int]] = set()
    for b in range(MINHASH_BANDS):
        buckets: dict[tuple, list[int]] = {}
        for i, key in enumerate(map(tuple, mins[:, b * r : (b + 1) * r])):
            buckets.setdefault(key, []).append(i)
        for ids in buckets.values():
            cand.update((a, c) for x, a in enumerate(ids) for c in ids[x + 1 :])
    sets = [set(h.tolist()) for h in sh]
    verified = sum(len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= JACCARD_THRESHOLD for a, b in cand)
    out["dedup.candidates_per_pair"] = len(cand) / max(verified, 1)

    emb = np.array(gen.embeddings(rng, 2000)["embedding"], dtype=np.float64)
    bits = (emb @ np.array(PLANES, dtype=np.float64).T >= 0).astype(np.int64)
    bucket = bits @ (1 << np.arange(N_PLANES))
    probes_idx = np.arange(0, len(emb), 100)
    near = [np.count_nonzero([bin(int(x)).count("1") <= 2 for x in bucket ^ bucket[p]]) for p in probes_idx]
    out["similarity.candidates_per_probe"] = float(np.mean(near))

    tdf = spark.createDataFrame(pa.table({"text": pa.array(texts, pa.string())}).to_pandas())
    n_tokens = sum(len(t.split()) for t in texts)
    tokens_df = tdf.select(F.explode(clean_tokens(F.col("text"))).alias("w"))
    harness.noop_write(tokens_df)  # warm the codegen path
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        harness.noop_write(tokens_df)
        times.append(time.perf_counter() - t0)
    out["cleaning.tokens_per_s"] = n_tokens / statistics.median(times)
    return out


# --------------------------------------------------------------------------


def _heap_live_mb(spark) -> float:
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / MB


def _temp_views(spark) -> int:
    return sum(1 for t in spark.catalog.listTables() if t.isTemporary)


def run(workload: Workload, registry: dict, oracles: dict, data_dir: str, rows: dict[str, int],
        work: str, seconds: float, seed: int, entry_module) -> dict:
    n_cores = harness.cores()
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark, setup = harness.cold_setup(work, data_dir, n_cores, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    try:
        listener = _progress_listener()
        spark.streams.addListener(listener)
        queries = mix(workload, registry)
        warm, failed = harness.checked_pass(spark, queries, data_dir, oracles, n_cores)
        harness.settle_jit(spark)
        # Untraced passes before and after the traced ones: their mean
        # cancels the JIT warm-up trend out of the overhead estimate.
        untraced = [harness.timed_pass(spark, queries, data_dir)]
        tracer = Tracer(spark)
        views0, passes, t0 = _temp_views(spark), [], time.perf_counter()
        with tracer.installed(entry_module):
            while not passes or time.perf_counter() - t0 < seconds:
                passes.append(tracer.traced_pass(spark, queries, data_dir))
        window = (passes[0]["start"], time.perf_counter())
        leaked = _temp_views(spark) - views0
        untraced.append(harness.timed_pass(spark, queries, data_dir))
        failed += sum(p["failed"] for p in untraced + passes)
        jobs = {g: len(spark.sparkContext.statusTracker().getJobIdsForGroup(g)) for g in tracer.groups}
        probe = probes(spark, seed)
        heap = _heap_live_mb(spark)
        peak_rss = host.tree_rss_mb(peak=True)
        # events of the traced passes; the listener bus delivers them within
        # moments of each micro-batch, long before the passes that follow end
        progress = [p for t, p in listener.events if window[0] <= t <= window[1] + 0.5]
        spark.streams.removeListener(listener)
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    log = read_event_log(os.path.join(log_dir, app_id), set(tracer.groups))
    metrics = layer_metrics(tracer, passes, untraced, jobs, log, progress, probe, setup,
                            n_cores, leaked, heap, peak_rss)
    return {
        "metrics": {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in metrics.items()},
        "attempted": len(warm) + sum(len(u["calls"]) for u in untraced) + len(passes) * len(queries),
        "failed": failed,
        "record": {"setup": setup, "warmup": warm, "untraced_passes": untraced, "passes": passes,
                   "jobs_by_group": jobs, "spans": tracer.spans, "event_log": log,
                   "stream_progress": progress,
                   "drift": untraced[-1]["wall_s"] / untraced[0]["wall_s"] - 1},
    }


PER_LAYER_UNITS = {
    "session.start_s": "s", "session.configure_s": "s", "session.first_call_s": "s",
    "catalog.load_s": "s", "catalog.load_jobs": "count", "catalog.scan_mb": "MB",
    "queries.build_s": "s", "queries.build_jobs": "count", "catalyst.plan_s": "s",
    "exec.wall_s": "s", "exec.task_cpu_s": "s", "exec.task_run_s": "s", "exec.core_busy_frac": "ratio",
    "exec.gc_s": "s", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.task_skew": "ratio",
    "python.sent_mb": "MB", "python.received_mb": "MB", "python.rows": "count", "python.worker_init_s": "s",
    "cleaning.tokens_per_s": "1/s", "lemmatize.words_per_s": "1/s", "sketches.minhash_docs_per_s": "1/s",
    "sketches.simhash_docs_per_s": "1/s", "dedup.candidates_per_pair": "ratio",
    "similarity.candidates_per_probe": "count",
    "stream.add_batch_s": "s", "stream.query_planning_s": "s", "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s", "stream.state_rows": "count", "stream.state_mb": "MB",
    "stream.state_commit_s": "s", "stream.leaked_sinks": "count", "sinks.write_s": "s", "sinks.written_mb": "MB",
    "mem.peak_rss_mb": "MB", "mem.heap_live_mb": "MB", "host.steal_frac": "ratio", "host.iowait_frac": "ratio",
    "trace.span_coverage": "ratio", "trace.overhead_frac": "ratio",
}


def layer_metrics(tracer, passes, untraced, jobs, log, progress, probe, setup, n_cores,
                  leaked, heap, peak_rss) -> dict[str, float]:
    """Per-pass averages over the traced passes."""
    n = len(passes)
    wall = sum(p["wall_s"] for p in passes)
    dur = {}
    for s in tracer.spans:
        dur[s["name"]] = dur.get(s["name"], 0.0) + s["end"] - s["start"]
    # build self time: build minus its nested load and sink spans
    build_self = dur.get("build", 0.0) - dur.get("load", 0.0) - dur.get("sink", 0.0)
    top = sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] is None)
    phase_jobs = {}
    for g, count in jobs.items():
        phase_jobs[tracer.groups[g]] = phase_jobs.get(tracer.groups[g], 0) + count

    def stream_sum(key):
        return sum(p.get("durationMs", {}).get(key, 0) for p in progress) / 1000.0

    last = {p["runId"]: p for p in progress}  # final state of each query run

    def state_sum(key):
        return sum(op.get(key, 0) for p in last.values() for op in p.get("stateOperators", ()))

    m = {
        "session.start_s": setup["start_s"],
        "session.configure_s": setup["configure_s"],
        "session.first_call_s": setup["first_call_s"],
        "catalog.load_s": dur.get("load", 0.0) / n,
        "catalog.load_jobs": phase_jobs.get("load", 0) / n,
        "catalog.scan_mb": log["input_b"] / MB / n,
        "queries.build_s": build_self / n,
        "queries.build_jobs": phase_jobs.get("build", 0) / n,
        "catalyst.plan_s": dur.get("plan", 0.0) / n,
        "exec.wall_s": dur.get("exec", 0.0) / n,
        "exec.task_cpu_s": log["cpu_ns"] / 1e9 / n,
        "exec.task_run_s": log["run_ms"] / 1e3 / n,
        "exec.core_busy_frac": log["run_ms"] / 1e3 / (wall * n_cores),
        "exec.gc_s": log["gc_ms"] / 1e3 / n,
        "exec.shuffle_read_mb": log["shuf_r_b"] / MB / n,
        "exec.shuffle_write_mb": log["shuf_w_b"] / MB / n,
        "exec.spill_mb": log["spill_b"] / MB / n,
        "exec.task_skew": log["skew"],
        "python.sent_mb": log["py_sent_b"] / MB / n,
        "python.received_mb": log["py_recv_b"] / MB / n,
        "python.rows": log["py_rows"] / n,
        "python.worker_init_s": log["py_init_ms"] / 1e3 / n,
        **probe,
        "stream.add_batch_s": stream_sum("addBatch") / n,
        "stream.query_planning_s": stream_sum("queryPlanning") / n,
        "stream.wal_commit_s": stream_sum("walCommit") / n,
        "stream.commit_offsets_s": stream_sum("commitOffsets") / n,
        "stream.state_rows": state_sum("numRowsTotal") / n,
        "stream.state_mb": state_sum("memoryUsedBytes") / MB / n,
        "stream.state_commit_s": state_sum("commitTimeMs") / 1e3 / n,
        "stream.leaked_sinks": leaked / n,
        "sinks.write_s": dur.get("sink", 0.0) / n,
        "sinks.written_mb": sum(s.get("bytes", 0) for s in tracer.spans if s["name"] == "sink") / MB / n,
        "mem.peak_rss_mb": peak_rss,
        "mem.heap_live_mb": heap,
        "host.steal_frac": statistics.fmean(p["steal_frac"] for p in passes),
        "host.iowait_frac": statistics.fmean(p["iowait_frac"] for p in passes),
        "trace.span_coverage": top / wall,
        "trace.overhead_frac": (wall / n) / statistics.fmean(u["wall_s"] for u in untraced) - 1.0,
    }
    return m
