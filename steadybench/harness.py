"""Cold set-up, the checked warm-up pass and the timed closed loop.

End-to-end metrics come only from here, with tracing off.
"""

from __future__ import annotations

import contextlib
import os
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

from . import check, host
from .workloads import SETUP_TABLE, Workload, input_rows, mix

#: JVM heap, pre-sized (-Xms = -Xmx) so lazy heap growth does not move
#: RSS and GC between runs.
HEAP = "2g"
PERCENTILES = (99, 95, 90, 75, 50, 25)


def cores() -> int:
    return min(4, os.cpu_count() or 1)


def spark_conf(work: str, n_cores: int, extra: dict[str, str] | None = None) -> dict[str, str]:
    """Session settings. Every temp, local and checkpoint directory lives in
    ``work`` (temporary stream checkpoints go to java.io.tmpdir)."""
    conf = {
        "spark.master": f"local[{n_cores}]",
        "spark.app.name": "steadybench",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.shuffle.partitions": str(n_cores),
    }
    conf.update(extra or {})
    return conf


def cold_setup(work: str, data_dir: str, n_cores: int, extra: dict[str, str] | None = None):
    """Start the JVM and SparkSession, apply ``session.configure`` and force
    one small table through ``io.load_table``. Returns (spark, phases)."""
    from pyspark.sql import SparkSession

    from social_media_big_data_analyzer_spark import io, session

    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    builder = SparkSession.builder
    for k, v in spark_conf(work, n_cores, extra).items():
        builder = builder.config(k, v)
    t0 = time.perf_counter()
    spark = builder.getOrCreate()
    t1 = time.perf_counter()
    session.configure(spark)
    t2 = time.perf_counter()
    io.load_table(spark, data_dir, SETUP_TABLE).collect()
    t3 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"start_s": t1 - t0, "configure_s": t2 - t1, "first_call_s": t3 - t2}


def stop_jvm(timeout: float = 30.0) -> None:
    """Shut down the JVM PySpark launched (and, with it, the Python-worker
    daemon) and wait until every process of the tree has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    others = [p for p in host.process_tree() if p != os.getpid()]
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while others and time.monotonic() < deadline:
        others = [p for p in others if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        time.sleep(0.1)
    for p in others:
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return False


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def call(spark, fn, data_dir: str) -> float:
    """One timed call: builder, planning and noop-sink execution, starting
    from parquet (intra-session memos are dropped first)."""
    import social_media_big_data_analyzer_spark as engine

    engine.clear_caches()
    t0 = time.perf_counter()
    noop_write(fn(spark, data_dir))
    return time.perf_counter() - t0


def checked_pass(spark, queries, data_dir: str, oracles: dict, n_cores: int) -> tuple[list[dict], int]:
    """The untimed warm-up pass: each query once, result collected and checked."""
    con = check.connect(data_dir, n_cores, os.path.join(os.path.dirname(data_dir), "duckdb"))
    try:
        checker = check.Checker(con, oracles, [name for name, _ in queries])
        try:
            return _check_each(spark, queries, data_dir, checker)
        finally:
            checker.close()
    finally:
        con.close()


def _check_each(spark, queries, data_dir: str, checker: check.Checker) -> tuple[list[dict], int]:
    import social_media_big_data_analyzer_spark as engine

    out, failed = [], 0
    for name, fn in queries:
        engine.clear_caches()
        t0 = t1 = time.perf_counter()
        try:
            result = fn(spark, data_dir).toArrow()
            t1 = time.perf_counter()
            err = checker.check(name, result)
        except Exception as e:  # noqa: BLE001 - a failing query is a failed check, reported below
            err = f"{name}: {type(e).__name__}: {e}"
        t2 = time.perf_counter()
        out.append({"query": name, "collect_s": t1 - t0, "check_s": t2 - t1, "error": err})
        failed += err is not None
    return out, failed


def timed_pass(spark, queries, data_dir: str) -> dict:
    ticks0, cpu0 = host.cpu_ticks(), host.tree_cpu_s()
    t0 = time.perf_counter()
    calls, failed = [], 0
    for name, fn in queries:
        try:
            calls.append((name, call(spark, fn, data_dir)))
        except Exception as e:  # noqa: BLE001 - counted in `failed`, the run exits non-zero
            failed += 1
            calls.append((name, None))
            print(f"steadybench: {name} failed: {type(e).__name__}: {e}", file=sys.stderr, flush=True)
    wall = time.perf_counter() - t0
    rec = {"wall_s": wall, "cpu_s": host.tree_cpu_s() - cpu0, "calls": calls, "failed": failed,
           "rss_mb": host.tree_rss_mb()}
    rec.update(host.host_fracs(ticks0, host.cpu_ticks()))
    return rec


def settle_jit(spark, quiet_s: float = 0.25, limit_s: float = 10.0) -> float:
    """Wait until the JVM's JIT compilers are idle (no compilation time
    added for ``quiet_s``), so the compile backlog the warm-up queued does
    not run inside the timed window. Returns the seconds waited."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    t0 = time.perf_counter()
    last = bean.getTotalCompilationTime()
    while time.perf_counter() - t0 < limit_s:
        time.sleep(quiet_s)
        now = bean.getTotalCompilationTime()
        if now == last:
            break
        last = now
    return time.perf_counter() - t0


def timed_window(spark, queries, data_dir: str, seconds: float, min_passes: int) -> list[dict]:
    """Whole passes over the mix until ``seconds`` have elapsed and at least
    ``min_passes`` passes are done."""
    passes, t0 = [], time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
        passes.append(timed_pass(spark, queries, data_dir))
    return passes


def tail_percentile(samples: list[float]) -> dict | None:
    """The highest of PERCENTILES with at least ten samples beyond it."""
    n = len(samples)
    for p in PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            return {"percentile": p, "value": statistics.quantiles(samples, n=100)[p - 1], "samples": n}
    return None


def hd_median(samples: list[float]) -> float:
    """Harrell-Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)-weighted
    mean of all order statistics. A mix of a few distinct queries gives call
    times in clusters, where the plain sample median jumps between clusters
    from one run to the next; this estimate moves smoothly."""
    xs = sorted(samples)
    n = len(xs)
    a = (n + 1) / 2
    grid = np.linspace(0.0, 1.0, 4001)
    pdf = grid ** (a - 1) * (1 - grid) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(np.dot(weights, xs))


def summarize(workload: Workload, passes: list[dict], rows: dict[str, int], setup: dict) -> dict:
    """End-to-end metrics plus the run record that explains them."""
    times = [t for p in passes for _, t in p["calls"] if t is not None]
    wall = sum(p["wall_s"] for p in passes)
    read = sum(input_rows(workload, n, rows) for p in passes for n, t in p["calls"] if t is not None)
    metrics = {
        "setup_s": {"value": sum(setup.values()), "unit": "s"},
        "rows_per_s": {"value": read / wall, "unit": "rows/s"},
        "query_p50_s": {"value": hd_median(times) if times else float("nan"), "unit": "s"},
        "cpu_s_per_pass": {"value": sum(p["cpu_s"] for p in passes) / len(passes), "unit": "s"},
    }
    record = {
        "sample_median_s": statistics.median(times) if times else None,
        "setup": setup,
        "passes": passes,
        "calls": len(times),
        "tail": tail_percentile(times) if times else None,
        "drift": passes[-1]["wall_s"] / passes[0]["wall_s"] - 1 if len(passes) > 1 else None,
    }
    return {"metrics": metrics, "record": record}


def run(workload: Workload, registry: dict, oracles: dict, data_dir: str, rows: dict[str, int],
        work: str, seconds: float) -> dict:
    n_cores = cores()
    spark, setup = cold_setup(work, data_dir, n_cores)
    try:
        queries = mix(workload, registry)
        warm, failed = checked_pass(spark, queries, data_dir, oracles, n_cores)
        settled = settle_jit(spark)
        passes = timed_window(spark, queries, data_dir, seconds, workload.min_passes)
    finally:
        spark.stop()
    out = summarize(workload, passes, rows, setup)
    failed += sum(p["failed"] for p in passes)
    out.update(attempted=len(warm) + sum(len(p["calls"]) for p in passes), failed=failed)
    out["record"].update(warmup=warm, jit_settle_s=settled)
    return out
