"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line (last line; a detail line precedes it):
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

Each query executes via the no-op sink so we measure full plan
execution (scan → shuffle → agg) without driver-collect overhead.

``value``/``ratio`` are the RECOMPUTE-warm column: engine memos and
the Spark block cache are cleared between timed reps, so every rep
re-executes the full distributed dataflow with a hot JVM — the same
work DuckDB pays per run.  ``value_cold`` (first run, pays JIT/AQE
specialization + one-time materializations) and ``value_cache_warm``
(prepared plans + cached intermediates left warm, the resident-engine
steady state) bracket it on either side.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q14_promo_revenue",
    "q18_large_orders",
    "q19_disjunctive_pred",
    "agg_cube",
    "window_rank",
    "top_k_per_group",
    "cte_query",
    "subquery_exists",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from iceberg_kafka_playgroud_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("bench")
    qs = entry.queries()
    missing = [n for n in HEADLINE if n not in qs]
    if missing:
        raise SystemExit(f"bench: unknown headline queries {missing!r}")
    names = list(HEADLINE)
    # extension headliners (SURVEY §2.9)
    for extra in (
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_simhash_hamming",
        "dedup_connected_components",
        "dedup_cluster_canonical",
        "multimodal_phash_near_dup",
        "ann_topk_blocked",
        "text_quality_score",
        "text_lang_id",
        "stream_sessionize",
        "text_bm25_retrieval",
        "graph_triangle_count",
        "orders_open_concurrency",
        # round-7 flagships: embedding-space dedup + the seeded
        # global shuffle (both data-heavy, the engine's target class)
        "dedup_semantic_semdedup",
        "curation_global_shuffle",
        # round-7 second wave: PQ codebook training + ADC scan,
        # trigram span-union coverage, signature-calibration join —
        # all corpus-sized, the 100 TB-representative class
        "ann_pq_adc_topk",
        "text_boilerplate_coverage",
        "dedup_minhash_calibration",
        # round-8 flagships: greedy MMR re-rank (one corpus pass + a
        # per-query pandas greedy), DBSCAN density roles over the
        # block-partitioned pair graph, IDF-weighted Jaccard over the
        # MinHash candidates — the data-heavy class; at sf0.1 the
        # first two already beat in-process DuckDB (0.55x / 0.24x)
        "ann_mmr_rerank",
        "embedding_dbscan_core",
        "dedup_weighted_jaccard",
        # round-11: LPA graduates to the headline set (r10 verdict #3:
        # the ≤2 s bar is driver-measured from now on); its per-round
        # aggregates are shuffle-free over the dst-partitioned edge
        # cache
        "graph_label_propagation",
        # round-13 flagships: the IVF hot-cell rebalance (split +
        # member-only reassign off the persisted partition-pruned
        # index) and incremental connected components (contract-
        # propagate-compose merge of the new batch's edges)
        "ann_ivf_rebalance",
        "dedup_incremental_cc",
    ):
        if extra not in qs:
            raise SystemExit(f"bench: unknown headline query {extra!r}")
        names.append(extra)

    # warmup on the smallest sf (excluded from timings): run every
    # headline plan once at sf0.001 so JVM classloading, whole-stage
    # codegen compilation, and the Python worker pool are warm — the
    # timed section then measures steady-state execution, not JIT.
    for name in names:
        try:
            qs[name](spark, "/root/testdata/sf0.001").write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass

    # Three timing columns per query (r11 verdict #1 — the warm
    # headline must measure RECOMPUTE, not cache reads):
    #
    #   cold            run 1 at target scale after a full engine
    #                   reset — pays plan compilation, AQE/codegen
    #                   specialization, JIT tiering, and every
    #                   one-time materialization.
    #   recompute-warm  best of N runs, each preceded by
    #                   plan_cache.clear_materializations(spark):
    #                   operator memos, released checkpoints, trained
    #                   models, the block cache and every prepared plan
    #                   are dropped, so every timed run rebuilds its
    #                   plan and re-executes the FULL distributed
    #                   dataflow with a hot JVM.  This is the HEADLINE
    #                   ratio, and it is apples-to-apples against
    #                   DuckDB, which re-plans and recomputes every run
    #                   (only plan-shaping statistics such as the
    #                   MinHash candidate count are kept, as a planner
    #                   keeps table stats).
    #   cache-warm      best of N runs with memos/caches left warm —
    #                   the prepared-plan + cached-intermediate
    #                   steady state a resident engine serves.
    from iceberg_kafka_playgroud_spark.plan_cache import (
        clear_materializations,
    )

    runs_warm = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    runs_rec = max(
        1, int(os.environ.get("SPARK_GRAFT_BENCH_RECOMPUTE_RUNS", "2"))
    )
    timings: dict[str, float] = {}
    recompute: dict[str, float] = {}
    cold: dict[str, float] = {}
    # per-regime run lists (r9 verdict #6 wants a variance band;
    # mixing regimes in one list would conflate systematically
    # different distributions — recompute reps re-materialize work
    # cache-warm reps don't)
    runs_recompute_all: dict[str, list[float]] = {}
    runs_cache_warm_all: dict[str, list[float]] = {}
    # self-adjudication against host noise (r14 verdict #1): every
    # recompute rep also records its STRUCTURAL job count (delta of
    # the monotonically-increasing Spark job id — robust to the UI
    # store's retention limit, unlike len()), and a fixed calibration
    # probe runs at bench start / after the Spark section / at the
    # very end.  A pathological wall-clock row then carries its own
    # verdict: unchanged job count + a spiked probe = host burst;
    # grown job count = a real plan regression.
    status = spark.sparkContext.statusTracker()

    def _max_job_id() -> int:
        ids = status.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _calibration_probe(reps: int = 3) -> list[float]:
        # the FIRST execution after a different workload systematically
        # pays ~0.2-0.4 s of plan construction / noop-writer setup —
        # all six committed r15-r17 detail snapshots show an inflated
        # rep 0 in their start AND mid checkpoints (even the calmest,
        # r16d: 0.274/0.354) — so one unrecorded warmup rep runs first
        # and the recorded reps all measure steady state.  Readers
        # detect this regime via "warmup_discarded" in the JSON.
        out = []
        for i in range(reps + 1):
            t0 = time.perf_counter()
            spark.range(10_000_000).selectExpr("sum(id)").write.format(
                "noop"
            ).mode("overwrite").save()
            if i > 0:
                out.append(round(time.perf_counter() - t0, 3))
        return out

    jobs_recompute_all: dict[str, list[int]] = {}
    jobs_cold: dict[str, int] = {}
    probe_start = _calibration_probe()
    for name in names:

        def timed_run(
            sink: list[float] | None = None,
            jobs_sink: list[int] | None = None,
        ) -> float:
            j0 = _max_job_id()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            if sink is not None:
                sink.append(round(dt, 3))
            if jobs_sink is not None:
                jobs_sink.append(_max_job_id() - j0)
            return dt

        clear_materializations(spark)
        cold_jobs_sink: list[int] = []
        cold[name] = round(timed_run(jobs_sink=cold_jobs_sink), 3)
        jobs_cold[name] = cold_jobs_sink[0]
        best = float("inf")
        runs_recompute_all[name] = []
        jobs_recompute_all[name] = []
        for _ in range(runs_rec):
            clear_materializations(spark)
            best = min(
                best,
                timed_run(
                    runs_recompute_all[name], jobs_recompute_all[name]
                ),
            )
        recompute[name] = round(best, 3)
        best = float("inf")
        runs_cache_warm_all[name] = []
        for _ in range(runs_warm):
            best = min(best, timed_run(runs_cache_warm_all[name]))
        timings[name] = round(best, 3)
    probe_mid = _calibration_probe()

    # streaming lifecycle floor (r11 verdict #4): time stream_
    # sessionize's machinery over ZERO rows so the detail JSON
    # decomposes its headline number into query start/stop +
    # state-store setup (scale-independent) vs data execution.
    lifecycle = None
    try:
        from iceberg_kafka_playgroud_spark.streaming import ingest as _ing

        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            _ing.stream_lifecycle_floor(spark)
            best = min(best, time.perf_counter() - t0)
        lifecycle = round(best, 3)
    except Exception as exc:  # diagnostic, never fatal
        print(f"bench: lifecycle floor skipped: {exc}", file=sys.stderr)

    # DuckDB comparator: time the IDENTICAL oracle SQLs on the same
    # parquet in the same process, so the recorded ratio cancels host
    # co-tenancy (r6 lesson: raw totals swung ±90% with host load
    # while the DuckDB-relative ratio stayed stable). Kept after the
    # Spark section so Spark timings never compete with DuckDB threads.
    duckdb_timings: dict[str, float] = {}
    duckdb_errors: dict[str, str] = {}
    try:
        import duckdb

        from iceberg_kafka_playgroud_spark.verify import register_duckdb_views

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        register_duckdb_views(con, sf_dir)
        for name in names:
            sql = oracles.get(name)
            if sql is None:
                continue
            # per-query guard: one failing oracle must not silently
            # truncate the comparator for everything after it — the
            # recorded ratio is only meaningful at full coverage, so
            # failures are carried IN the JSON, not just on stderr
            try:
                best = float("inf")
                for _ in range(max(runs_warm, runs_rec)):
                    t0 = time.perf_counter()
                    con.execute(sql).fetchall()
                    best = min(best, time.perf_counter() - t0)
                duckdb_timings[name] = round(best, 3)
            except Exception as exc:
                duckdb_errors[name] = str(exc)[:200]
        con.close()
    except Exception as exc:  # comparator is diagnostic, never fatal
        print(f"bench: duckdb comparator skipped: {exc}", file=sys.stderr)
    probe_end = _calibration_probe()

    spark_total = round(sum(recompute.values()), 3)
    duckdb_total = round(sum(duckdb_timings.values()), 3)
    # ratio over the common subset only; <1.0 means Spark is faster
    common = [n for n in names if n in duckdb_timings]
    rec_common = sum(recompute[n] for n in common)
    warm_common = sum(timings[n] for n in common)
    # r7 verdict task #6: the driver records only the last ~2 KB of
    # stdout, and one all-inclusive JSON line overflowed it (BENCH_r07
    # "parsed": null).  Emit the full detail FIRST (and to a side
    # file), then a compact summary as the LAST line so the captured
    # tail always parses.
    detail = {
        "metric": "headline_queries_detail",
        # regime marker (r12 advisor): "queries" switched meaning in
        # r12 from cache-warm best-of to RECOMPUTE-warm best-of; any
        # cross-round comparison of the bare "queries" key must check
        # this field first (BENCH_r02..r11 detail lines predate it and
        # are cache-warm)
        "ratio_semantics": "recompute_warm",
        "queries_regime": "recompute_warm_since_r12",
        "queries": recompute,
        "queries_recompute": recompute,
        "queries_cache_warm": timings,
        "queries_cold": cold,
        # every individual run per query (r9 verdict #6), SPLIT BY
        # REGIME: run-to-run spread on this shared host routinely
        # exceeds 25%, so a best-of delta between rounds is only a
        # regression if it clears the recorded variance band — and the
        # band must be computed within one regime (cold is in
        # queries_cold)
        "queries_runs_recompute": runs_recompute_all,
        "queries_runs_cache_warm": runs_cache_warm_all,
        # structural job counts per recompute rep + per cold run: the
        # plan-shape fingerprint.  A wall-clock regression whose job
        # counts match the previous round's detail file is host noise
        # (check the calibration probes), not a plan change.
        "queries_jobs_recompute": jobs_recompute_all,
        "queries_jobs_cold": jobs_cold,
        # fixed 10M-row sum, 3 reps at bench start / after the Spark
        # section / after DuckDB: the host-health reading the noise
        # adjudication keys on (scale-independent, ~0.05-0.3 s on a
        # healthy box; r14's degraded box spiked this shape to 3.7 s)
        "calibration_probe": {
            "rows": 10_000_000,
            # r17: rep lists exclude the discarded warmup execution;
            # pre-r17 files recorded it as rep 0 (systematically
            # ~0.2-0.4 s, no host signal)
            "warmup_discarded": True,
            "start": probe_start,
            "mid": probe_mid,
            "end": probe_end,
        },
        "duckdb_queries": duckdb_timings,
        "duckdb_errors": duckdb_errors,
        # zero-row run of the sessionize machinery: subtract from
        # stream_sessionize for its execution-only time
        "stream_lifecycle_floor": lifecycle,
        "sf": sf,
    }
    print(json.dumps(detail))
    try:
        with open("BENCH_DETAIL.json", "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    out = {
        "metric": "headline_queries_total",
        # HEADLINE value/ratio are the RECOMPUTE-warm column: every
        # timed run re-executed the full distributed plan (engine
        # memos + block cache cleared between reps), matching what
        # the DuckDB comparator pays per run.  cache-warm (prepared
        # plans + cached intermediates served) is reported alongside.
        "value": spark_total,
        "unit": "sec",
        "ratio_semantics": "recompute_warm",
        "queries": recompute,
        "value_cache_warm": round(sum(timings.values()), 3),
        "value_cold": round(sum(cold.values()), 3),
        # host-health PER TIMED SECTION, two complementary readings
        # (r16 verdict task 8 + r17 review):
        # - probe_sections: the WORSE of the section's two bracketing
        #   checkpoint MINIMA (bench_diff's convention).  >0.12 s =
        #   SUSTAINED degradation — every rep of a checkpoint slow.
        # - probe_burst_reps: count of steady-state probe reps above
        #   the 0.12 s ceiling — evidence of a burst OVERLAPPING a
        #   checkpoint (valid now that the warmup rep is discarded;
        #   pre-r17 rep 0 was systematic warmup, not burst).  Scope
        #   limit, learned from the r16 record run: a burst confined
        #   to the Spark section BETWEEN checkpoints is invisible to
        #   every probe statistic by construction — per-query
        #   adjudication of those stays with bench_diff's rule-3
        #   burst signatures (cold-inversion / rep-overlap), which is
        #   what actually flagged that run's q14.
        # Raw rep lists: BENCH_DETAIL.json.
        "probe_sections": {
            "spark": round(max(min(probe_start), min(probe_mid)), 3),
            "duckdb": round(max(min(probe_mid), min(probe_end)), 3),
        },
        "probe_burst_reps": {
            "spark": sum(
                1 for r in probe_start + probe_mid if r > 0.12
            ),
            "duckdb": sum(
                1 for r in probe_mid + probe_end if r > 0.12
            ),
        },
        # raw per-checkpoint minima (start/mid/end), kept for
        # continuity with pre-r17 summary lines
        "probe": [min(probe_start), min(probe_mid), min(probe_end)],
        "sf": sf,
    }
    if duckdb_timings:
        out["duckdb_total"] = duckdb_total
        out["ratio"] = round(rec_common / max(duckdb_total, 1e-9), 3)
        out["ratio_recompute"] = out["ratio"]
        out["ratio_cache_warm"] = round(
            warm_common / max(duckdb_total, 1e-9), 3
        )
    if duckdb_errors:
        out["duckdb_error_count"] = len(duckdb_errors)
    line = json.dumps(out)
    if len(line) > 2000:
        # keep only the 6 slowest warm queries if the map alone would
        # overflow the driver's tail capture
        worst = dict(sorted(recompute.items(), key=lambda kv: -kv[1])[:6])
        out["queries"] = worst
        out["queries_truncated_to_worst"] = len(worst)
        line = json.dumps(out)
    print(line)


if __name__ == "__main__":
    main()
