"""Benchmark entry point.

    python3 steadybench/run.py --workload corpus_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under ``.scratch/steadybench/``, starts one cold SparkSession, checks
every query of the mix on an untimed warm-up pass, then measures whole
passes over the mix for at least ``--seconds``. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The full run record goes to
``.scratch/steadybench/records/``. Exits non-zero when any check or call
fails.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "social_media_big_data_analyzer_spark"
ENTRY = os.path.join(ROOT, "__spark_entry__.py")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _load_entry():
    spec = importlib.util.spec_from_file_location("__spark_entry__", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["__spark_entry__"] = mod
    spec.loader.exec_module(mod)
    return mod


def main(argv=None) -> int:
    args = _args(argv)
    if not (os.path.isdir(os.path.join(ROOT, PACKAGE)) and os.path.isfile(ENTRY)):
        print(f"steadybench: {PACKAGE} and __spark_entry__.py must sit next to steadybench/ "
              f"(looked in {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from steadybench import gen, harness
    from steadybench.workloads import WORKLOADS

    workload = WORKLOADS.get(args.workload)
    if workload is None:
        print(f"steadybench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    scratch = os.path.join(ROOT, ".scratch", "steadybench")
    work = os.path.join(scratch, f"run-{workload.name}-{args.seed}-{os.getpid()}")
    # Python workers import the package from the checkout; the JVM's and
    # the workers' temp and local dirs stay inside the run's work dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        os.makedirs(os.environ["TMPDIR"], exist_ok=True)
        data_dir = os.path.join(work, "data")
        rows = gen.generate(data_dir, args.seed, workload.sizes)
        entry = _load_entry()
        registry, oracles = entry.queries(), entry.oracle_sql()
        if args.trace:
            from steadybench import trace

            out = trace.run(workload, registry, oracles, data_dir, rows, work, args.seconds, args.seed, entry)
        else:
            out = harness.run(workload, registry, oracles, data_dir, rows, work, args.seconds)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    record_dir = os.path.join(scratch, "records")
    os.makedirs(record_dir, exist_ok=True)
    record = os.path.join(record_dir, f"{workload.name}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as f:
        json.dump({"workload": workload.name, "seed": args.seed, "rows": rows, **out}, f, indent=1, default=str)
    for w in out["record"].get("warmup", ()):
        if w["error"]:
            print(f"steadybench: check failed: {w['error']}", file=sys.stderr)
    print(f"steadybench: record written to {record}", file=sys.stderr)
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": out["metrics"],
    }))
    return 0 if out["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
