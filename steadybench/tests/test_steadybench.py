"""Harness tests: a tiny pass per workload in both modes, generator
determinism per seed, metric names matching BENCHMARK.json, and the
refusal to run without the program.

Run from the repository root: ``python -m pytest steadybench/tests -q``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from steadybench import gen, harness, trace
from steadybench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = {
    "corpus_batch": {"documents": 400, "doc_files": 4},
    "dashboard_stream": {"star": 0.002, "events": 2000, "embeddings": 300},
}


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tables(d):
    return {e: pq.read_table(os.path.join(d, e)) for e in sorted(os.listdir(d)) if e.endswith(".parquet")}


def test_generator_is_deterministic_per_seed(tmp_path):
    sizes = {"documents": 300, "doc_files": 3, "events": 500, "star": 0.001, "embeddings": 50}
    a, b, c = (gen.generate(str(tmp_path / n), s, sizes) for n, s in (("a", 5), ("b", 5), ("c", 6)))
    assert a == b and c["documents"] == a["documents"]
    ta, tb, tc = (_tables(str(tmp_path / n)) for n in "abc")
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert not ta["documents.parquet"].equals(tc["documents.parquet"])
    assert not ta["events.parquet"].equals(tc["events.parquet"])


def test_generator_writes_declared_schemas(tmp_path):
    gen.generate(str(tmp_path), 1, {"documents": 200, "doc_files": 2, "events": 100, "star": 0.001, "embeddings": 20})
    for entry, table in _tables(str(tmp_path)).items():
        assert table.schema.remove_metadata() == gen.arrow_schema(entry[: -len(".parquet")])


def test_corpus_has_noise_and_duplicates(tmp_path):
    gen.generate(str(tmp_path), 2, {"documents": 2000, "doc_files": 1})
    texts = pq.read_table(str(tmp_path / "documents.parquet")).column("text").to_pylist()
    joined = " ".join(texts)
    for marker in ("https://", "@", "#"):
        assert marker in joined
    assert any(t != t.lower() for t in texts)
    assert len(set(texts)) < len(texts)  # exact duplicates are present


def test_metric_names_match_benchmark_json():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [w["why"] for w in bench["workloads"]] == [w.why for w in WORKLOADS.values()]
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == trace.PER_LAYER_UNITS
    setup = {"start_s": 1.0, "configure_s": 0.1, "first_call_s": 0.5}
    passes = [{"wall_s": 2.0, "cpu_s": 3.0, "calls": [("clean_tokens_freq", 1.0), ("lemma_freq", 1.0)]}]
    out = harness.summarize(WORKLOADS["corpus_batch"], passes, {"documents": 10}, setup)
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in bench["end_to_end"]}


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "steadybench"), tmp_path / "steadybench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "steadybench/run.py", "--workload", "corpus_batch", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


@pytest.fixture(scope="module")
def env():
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    yield
    harness.stop_jvm()


def _entry():
    sys.path.insert(0, ROOT)
    from steadybench.run import _load_entry

    return _load_entry()


@pytest.mark.parametrize("name", list(WORKLOADS))
@pytest.mark.parametrize("traced", [False, True], ids=["untraced", "traced"])
def test_tiny_pass(env, tmp_path, name, traced):
    w = dataclasses.replace(WORKLOADS[name], sizes=TINY[name])
    data = str(tmp_path / "data")
    rows = gen.generate(data, 3, w.sizes)
    entry = _entry()
    args = (w, entry.queries(), entry.oracle_sql(), data, rows, str(tmp_path / "work"), 0.1)
    out = trace.run(*args, 3, entry) if traced else harness.run(*args)
    assert out["failed"] == 0, [x["error"] for x in out["record"]["warmup"] if x["error"]]
    assert out["attempted"] >= 2 * len(w.queries)
    bench = _bench()
    want = bench["per_layer"] if traced else bench["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    if traced:
        assert out["metrics"]["trace.span_coverage"]["value"] >= 0.9
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())
