"""The closed-loop batch workload ``lake_batch``: the analyst's SQL and
the LLM-curation batch over one lake.

One client runs every op kind once per pass, in an order the seed
shuffles anew each pass.  The number of passes follows from the run's
seconds alone (one per ``PASS_S``), never from the host's speed, so
every run takes the same samples of every op kind.  An op is the
registry builder call plus a noop-sink action, and every op is preceded
by ``plan_cache.clear_materializations(spark)`` (the recompute regime
of ``bench.py``).  The check pass before the timed loop runs each op
kind once, collects its result and compares it with the DuckDB oracle;
it doubles as the warm-up.
"""

from __future__ import annotations

import math
import time

from perfbench import gen
from perfbench.context import Ctx
from perfbench.metrics import OPERATOR_MODULES
from perfbench.trace import median, quantile, task_totals_by_group, read_event_log

# 8 of bench.py's 13 relational headline queries: the joins, the
# multi-job shapes and one of each aggregate/window/CTE form
LAKE_SQL = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q10_returned_items",
    "q18_large_orders",
    "agg_cube",
    "window_rank",
    "cte_query",
)

CURATION = (
    "dedup_connected_components",
    "dedup_incremental_cc",
    "multimodal_phash_near_dup",
    "ann_pq_adc_topk",
    "text_bm25_retrieval",
    "graph_label_propagation",
    "curation_global_shuffle",
)

OPS = LAKE_SQL + CURATION
# input scale factors (gen.tables): star schema and events, curation corpora
SF, CORPUS_SF = 0.02, 0.01
PASS_S = 15  # nominal seconds of one pass on a 4-core host


def _module_of(names) -> dict[str, str]:
    import importlib

    out = {}
    for m in OPERATOR_MODULES:
        mod = importlib.import_module(f"iceberg_kafka_playgroud_spark.operators.{m}")
        for n in names:
            if n in mod.QUERIES:
                out[n] = m
    missing = set(names) - set(out)
    if missing:
        raise SystemExit(f"perfbench: ops not in any operator module: {sorted(missing)}")
    return out


def run(ctx: Ctx) -> dict:
    import duckdb

    from iceberg_kafka_playgroud_spark import schema, verify
    from iceberg_kafka_playgroud_spark.plan_cache import clear_materializations
    import __spark_entry__ as entry

    names = OPS
    module = _module_of(names)
    data = ctx.path("data")
    gen.write(data, ctx.seed, SF, CORPUS_SF)
    queries, oracles = entry.queries(), entry.oracle_sql()
    tr = ctx.tracer

    # ---- set-up: session, staging, check pass (the warm-up) ----------
    t_setup = time.perf_counter()
    spark = ctx.start_spark()
    t_session = time.perf_counter() - t_setup
    t0 = time.perf_counter()
    with tr.span("schema.stage"):
        for t in schema.FIXTURE_TABLES:
            schema.load_table(spark, data, t)
    t_stage = time.perf_counter() - t0
    con = duckdb.connect()
    verify.register_duckdb_views(con, data)
    mismatches, oracle_s, t_warm = 0, 0.0, 0.0
    for name in ctx.rng.sample(names, len(names)):
        t0 = time.perf_counter()
        with tr.span("warmup", op=f"check:{name}"):
            ctx.job_group(f"check:{name}")
            clear_materializations(spark)
            got = verify.spark_result(queries[name](spark, data))
        t_warm += time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("verify.oracle", op=f"check:{name}"):
            want = verify.duckdb_result(con, oracles[name])
        oracle_s += time.perf_counter() - t0
        errs = verify.compare(name, got, want)
        if errs:
            mismatches += 1
            print("\n".join(errs), flush=True)
    con.close()
    setup_s = time.perf_counter() - t_setup - oracle_s

    probe_start = ctx.probe() if ctx.trace else 0.0

    # ---- timed closed loop ------------------------------------------
    ops: list[dict] = []
    failed = 0
    k = 0
    t_loop = time.perf_counter()
    for _ in range(max(1, round(ctx.seconds / PASS_S))):
        for name in ctx.rng.sample(names, len(names)):
            op = f"{name}#{k}"
            k += 1
            try:
                with tr.span("op", op=op):
                    t0 = time.perf_counter()
                    with tr.span("plan_cache.clear"):
                        clear_materializations(spark)
                    t1 = time.perf_counter()
                    ctx.job_group(op + "/build")
                    with tr.span(f"operators.{module[name]}.build"):
                        df = queries[name](spark, data)
                    t2 = time.perf_counter()
                    ctx.job_group(op + "/act")
                    with tr.span("spark.action"):
                        df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, the loop goes on
                failed += 1
                print(f"op {op} failed: {type(exc).__name__}: {exc}", flush=True)
                continue
            ops.append(
                {"name": name, "group": op, "clear": t1 - t0, "build": t2 - t1, "action": t3 - t2}
            )
    wall = time.perf_counter() - t_loop

    probe_end = ctx.probe() if ctx.trace else 0.0
    peak_rss = ctx.peak_rss_mb()

    # ---- structural counts per op kind (exact, every run) ----------
    counts: dict[str, dict] = {}
    for o in ops:
        jb, sb, tb = ctx.group_counts(o["group"] + "/build")
        ja, sa, ta = ctx.group_counts(o["group"] + "/act")
        o.update(jobs=jb + ja, jobs_build=jb, stages=sb + sa, tasks=tb + ta)
        counts.setdefault(
            o["name"], {"jobs": o["jobs"], "jobs_build": jb, "stages": o["stages"], "tasks": o["tasks"]}
        )
    ctx.stop()

    lat = [o["build"] + o["action"] for o in ops]
    # every op kind moves the typical latency by the same share: the
    # geometric mean over kinds of each kind's median latency
    by_kind: dict[str, list[float]] = {}
    for o, t in zip(ops, lat):
        by_kind.setdefault(o["name"], []).append(t)
    typical = math.exp(sum(math.log(median(ts)) for ts in by_kind.values()) / len(by_kind))
    n = max(1, len(ops))
    out = {
        "latency_p50_s": typical,
        "latency_p90_s": quantile(lat, 0.9),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss,
        "session.start_s": t_session,
        "warmup_s": t_warm,
        "schema.stage_s": t_stage,
        "spark.action_s": sum(o["action"] for o in ops) / n,
        "plan_cache.clear_s": sum(o["clear"] for o in ops) / n,
        "spark.jobs_per_op": sum(o["jobs"] for o in ops) / n,
        "spark.jobs_build_per_op": sum(o["jobs_build"] for o in ops) / n,
        "spark.stages_per_op": sum(o["stages"] for o in ops) / n,
        "spark.tasks_per_op": sum(o["tasks"] for o in ops) / n,
        "verify.mismatches": mismatches,
        "verify.oracle_s": oracle_s,
        "host.probe_s": (probe_start + probe_end) / 2,
        "trace.latency_p50_s": typical if ctx.trace else 0.0,
    }
    for m in OPERATOR_MODULES:
        out[f"operators.{m}.build_s"] = sum(o["build"] for o in ops if module[o["name"]] == m) / n
    if ctx.trace:
        by_group = task_totals_by_group(read_event_log(ctx.event_log_lines()))
        for key in ("executor_run_s", "executor_cpu_s", "task_wait_s", "shuffle_read_bytes", "shuffle_write_bytes"):
            out[f"spark.{key}"] = (
                sum(by_group.get(o["group"] + sfx, {}).get(key, 0) for o in ops for sfx in ("/build", "/act")) / n
            )
        out["spark.max_task_s"] = median(
            [
                max(by_group.get(o["group"] + sfx, {}).get("max_task_s", 0.0) for sfx in ("/build", "/act"))
                for o in ops
            ]
        )
    detail = {"ops": ops, "counts_per_kind": counts, "passes_wall_s": wall, "failed": failed}
    return {"metrics": out, "attempted": k + len(names), "failed": failed + mismatches, "detail": detail}
