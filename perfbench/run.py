"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_batch --seed 1 --seconds 15 --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed, sets up the engine, measures for the given seconds, checks the
outputs and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric (``--trace 0``) or every per-layer metric (``--trace 1``) of
``BENCHMARK.json``.  A traced run also writes its spans, per-layer table
and tracing overhead to ``.perfbench_out/``; every run writes its exact
per-op-kind structural counts there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("lake_batch", "ingest_fresh")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    raise SystemExit(2)


def load_spec(root: str) -> dict:
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(path):
        _fail(f"no BENCHMARK.json in {root}")
    with open(path) as fh:
        return json.load(fh)


def select_metrics(spec: dict, values: dict, trace: bool) -> dict:
    """The printed metric block: every metric of the chosen list, with
    its unit.  A missing end-to-end value is an error; a layer the
    workload does not touch reads 0."""
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        if name not in values:
            if not trace:
                raise KeyError(f"workload produced no value for {name}")
            values[name] = 0.0
        out[name] = {"value": float(values[name]), "unit": m["unit"]}
    unknown = set(values) - {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    if unknown:
        raise KeyError(f"workload produced metrics not in BENCHMARK.json: {sorted(unknown)}")
    return out


def _isolate(work: str) -> None:
    """Keep every temp file of this process and its children in the
    run's work directory (must run before pyspark is imported)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_LAYOUT_CACHE"] = os.path.join(work, "layout")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isdir(os.path.join(ROOT, "iceberg_kafka_playgroud_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        _fail(f"the engine sources are not in {ROOT}; run from the repository root")
    spec = load_spec(ROOT)
    sys.path[:0] = [ROOT, os.path.dirname(HERE)]

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)

    from perfbench.context import Ctx

    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), work)
    t0 = time.perf_counter()
    try:
        if args.workload == "ingest_fresh":
            from perfbench import ingest as wl
        else:
            from perfbench import batch as wl
        res = wl.run(ctx)
    finally:
        ctx.stop()
        shutil.rmtree(work, ignore_errors=True)
    values = res["metrics"]
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    with open(stem + ("-trace" if args.trace else "") + ".json", "w") as fh:
        json.dump({"args": vars(args), "metrics": values, "detail": res["detail"]}, fh, indent=1, default=str)
    if args.trace:
        dump = ctx.tracer.dump()
        untraced = stem + ".json"
        if os.path.isfile(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]["latency_p50_s"]
            dump["tracing_overhead_s"] = values["latency_p50_s"] - base
            print(f"tracing overhead (latency_p50_s traced - untraced): {dump['tracing_overhead_s']:+.4f} s")
        with open(stem + "-spans.json", "w") as fh:
            json.dump(dump, fh)
        for name, row in sorted(dump["layers"].items()):
            print(f"  {name:36s} n={row['count']:4d} total={row['total_s']:8.3f}s self={row['self_s']:8.3f}s")

    failed = int(res["failed"])
    result = {
        "correct": failed == 0,
        "attempted": int(res["attempted"]),
        "failed": failed,
        "metrics": select_metrics(spec, values, bool(args.trace)),
    }
    print(f"run wall {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
