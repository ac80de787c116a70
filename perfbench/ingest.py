"""The open-loop ingest workload: ``ingest_fresh``.

Events are generated by Spark's ``rate`` source on a fixed schedule,
shaped by ``sources.rate_fabric.purchase_event_columns``, framed the way
the reference's producer frames them (``functions.scalar.confluent_header``
+ a JSON body) and decoded again (``strip_confluent_header`` +
``from_json``).  Each micro-batch then runs, in order:
``streaming.ingest.dual_sink_batch_writer(lake, raw)``,
``snapshots.commit_append``, every ``COMPACT_EVERY`` commits
``snapshots.rewrite_data_files``, and a read-back aggregate over
``snapshots.read_snapshot`` of the events this commit made visible.

The stream holds ``RATE`` events/s at a ``TRIGGER_S`` trigger; each
event's freshness is the time its read-back returned minus its creation
stamp from the source.  Capacity (``stream.capacity_rows_per_s``, a
per-layer metric) is committed rows per second of Spark's
``triggerExecution`` over the non-empty batches.  Rows are counted from
committed snapshots, never from ``numInputRows`` (``foreachBatch`` scans
a batch several times).  Afterwards the run checks exactly-once
delivery across the three sinks.
"""

from __future__ import annotations

import ast
import json
import math
import os
import threading
import time

from perfbench.context import Ctx
from perfbench.trace import median, quantile

RATE = 1000  # events/s
TRIGGER_S = 6
COMPACT_EVERY = 3  # commits between rewrite_data_files
MIN_BATCHES = 3  # committed non-empty batches, at least
STREAM_TIMEOUT_S = 90
N_BUCKETS = 4
DURATION_KEYS = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.get_batch_ms": "getBatch",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _offset(off):
    if not isinstance(off, str):
        return off
    try:
        return json.loads(off)
    except json.JSONDecodeError:
        return ast.literal_eval(off)


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


class Pipeline:
    """The foreachBatch body over one lake (lake, raw and snapshot table)."""

    def __init__(self, ctx: Ctx, root: str, threshold: float, id_base: int):
        from iceberg_kafka_playgroud_spark.streaming.ingest import dual_sink_batch_writer

        self.ctx = ctx
        self.lake, self.raw, self.table = (os.path.join(root, d) for d in ("lake", "raw", "table"))
        self.dual = dual_sink_batch_writer(self.lake, self.raw)
        self.threshold = threshold
        self.id_base = id_base  # the first event's id
        self.commits = 0
        self.committed = 0  # rows, from snapshot total_records
        self.batches: list[dict] = []
        self.error: BaseException | None = None
        # held while an epoch runs; once ``stopping`` is set, later epochs
        # write nothing, so the stream never stops inside an epoch
        self.lock = threading.Lock()
        self.stopping = False

    def frame(self, rate_df):
        """Rate rows → PurchaseEvent → Confluent-framed JSON → decoded."""
        from pyspark.sql import functions as F

        from iceberg_kafka_playgroud_spark.functions.scalar import (
            confluent_header,
            strip_confluent_header,
        )
        from iceberg_kafka_playgroud_spark.schema import PURCHASE_EVENT
        from iceberg_kafka_playgroud_spark.sources.rate_fabric import purchase_event_columns
        from pyspark.sql import types as T

        with self.ctx.tracer.span("sources.build"):
            eid = (F.col("value") + F.lit(self.id_base)).cast("long")
            events = rate_df.select(
                eid.alias("event_id"), *purchase_event_columns(eid, F.unix_millis("timestamp"))
            )
            wire = events.select(
                F.concat(confluent_header(1), F.encode(F.to_json(F.struct(*events.columns)), "UTF-8")).alias(
                    "value"
                )
            )
            schema = T.StructType([T.StructField("event_id", T.LongType()), *PURCHASE_EVENT.fields])
            body = F.from_json(F.decode(strip_confluent_header(F.col("value")), "UTF-8"), schema)
            return wire.select(body.alias("e")).select("e.*").withColumn(
                "ts", F.timestamp_millis("timestamp")
            )

    def __call__(self, batch_df, epoch_id: int) -> None:
        with self.lock:
            if self.stopping or self.error is not None:
                return
            try:
                self._batch(batch_df, epoch_id)
            except BaseException as exc:  # surfaced by the driving thread
                self.error = exc
                raise

    def _batch(self, batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from iceberg_kafka_playgroud_spark import snapshots

        spark, tr = batch_df.sparkSession, self.ctx.tracer
        op = f"epoch{len(self.batches)}"
        t0 = time.perf_counter()
        with tr.span("batch", op=op):
            with tr.span("streaming.ingest.dual_sink"):
                self.dual(batch_df, epoch_id)
            t1 = time.perf_counter()
            with tr.span("snapshots.commit"):
                sid = snapshots.commit_append(
                    spark, self.table, batch_df.withColumn("bucket", F.col("event_id") % N_BUCKETS)
                )
            t2 = time.perf_counter()
            manifest_bytes = os.path.getsize(os.path.join(self.table, snapshots.SNAP_DIR, f"v{sid}.json"))
            total = snapshots.load_manifest(self.table, sid)["total_records"]
            rows, lo = total - self.committed, self.committed
            self.committed = total
            self.commits += 1
            compact = self.commits % COMPACT_EVERY == 0
            if compact:
                with tr.span("snapshots.compact"):
                    snapshots.rewrite_data_files(spark, self.table)
            t3 = time.perf_counter()
            with tr.span("snapshots.readback"):
                snap = snapshots.read_snapshot(spark, self.table)
                fresh = (
                    snap.where((F.col("event_id") >= F.lit(self.id_base + lo)) & (F.col("amount") >= self.threshold))
                    .groupBy((F.col("timestamp") / 10).cast("long").alias("t10"))
                    .agg(F.count("*").alias("n"))
                    .collect()
                )
            t4 = time.perf_counter()
            visible_ms = time.time() * 1000.0
        live_files = len(snapshots.load_manifest(self.table, snapshots.current_snapshot_id(self.table))["files"])
        self.batches.append(
            {
                "epoch": epoch_id,
                "rows": rows,
                "end": time.time(),
                "dual_sink_s": t1 - t0,
                "commit_s": t2 - t1,
                "compact_s": t3 - t2 if compact else 0.0,
                "readback_s": t4 - t3,
                "manifest_bytes": manifest_bytes,
                "live_files": live_files,
                # freshness per visible event, at 10 ms resolution
                "fresh": [(visible_ms - (r["t10"] * 10 + 5)) / 1000.0 for r in fresh for _ in range(r["n"])],
            }
        )

    def run_stream(self, stream, batches: int, ckpt: str):
        """Drive the streaming query until ``batches`` non-empty epochs
        are committed; returns the progress of the epochs this pipeline
        committed."""
        w = (
            stream.writeStream.foreachBatch(self)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime=f"{TRIGGER_S} seconds")
        )
        # processing-time triggers fire on multiples of the interval since
        # the epoch; starting on one fixes where the rate source's
        # whole-second offsets fall within each trigger, and the first
        # batch's size, in every run
        time.sleep(-time.time() % TRIGGER_S)
        q = w.start()
        deadline = time.time() + STREAM_TIMEOUT_S

        def nonempty() -> int:
            return sum(1 for b in self.batches if b["rows"])

        while nonempty() < batches and time.time() < deadline and self.error is None and q.isActive:
            time.sleep(0.02)
        with self.lock:
            self.stopping = True
        # the last committed epoch's progress is posted after its body returns
        done = {b["epoch"] for b in self.batches}
        while time.time() < deadline and not done <= {p["batchId"] for p in _progress(q)}:
            time.sleep(0.02)
        q.stop()
        if self.error is not None:
            raise self.error
        if nonempty() < batches:
            raise RuntimeError(f"stream committed {nonempty()} of {batches} batches in {STREAM_TIMEOUT_S}s")
        return [p for p in _progress(q) if p["batchId"] in done]


def run(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from iceberg_kafka_playgroud_spark import snapshots
    from iceberg_kafka_playgroud_spark.streaming.ingest import with_time_partitions

    tr = ctx.tracer
    id_base = ctx.rng.randrange(1 << 30)
    threshold = round(ctx.rng.uniform(0.0, 2.0), 2)
    start_stamp = 1_740_787_200_000 + ctx.rng.randrange(24 * 30) * 3_600_000

    # ---- set-up: session, staging, one warm-up epoch on a static batch --
    t_setup = time.perf_counter()
    spark = ctx.start_spark()
    t_session = time.perf_counter() - t_setup
    t0 = time.perf_counter()
    with tr.span("warmup"):
        warm = Pipeline(ctx, ctx.path("warm"), threshold, 0)
        # a static rate-shaped batch of one trigger's events through the
        # same framing and body
        rate_like = spark.range(RATE * TRIGGER_S).select(
            F.col("id").alias("value"), F.timestamp_millis(F.lit(start_stamp) + F.col("id")).alias("timestamp")
        )
        warm(warm.frame(rate_like), 0)
        snapshots.rewrite_data_files(spark, warm.table)
    t_warm = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_setup

    probe_start = ctx.probe() if ctx.trace else 0.0

    # ---- the fixed-rate stream, for the run's seconds -----------------
    pipe = Pipeline(ctx, ctx.path("lake"), threshold, id_base)
    n = max(MIN_BATCHES, math.ceil(ctx.seconds / TRIGGER_S))
    rate = spark.readStream.format("rate").option("rowsPerSecond", RATE).load()
    t0 = time.perf_counter()
    stream = pipe.frame(rate)
    t_source = time.perf_counter() - t0
    prog = pipe.run_stream(stream, n, ctx.path("ck"))
    # rate-source offsets are whole seconds since the source started
    generated = RATE * int(_offset(prog[-1]["sources"][0]["endOffset"])) if prog else 0
    prog = [p for p in prog if p["numInputRows"] > 0]
    # capacity: committed rows per second of batch processing (Spark's
    # triggerExecution, trigger wait excluded) over every non-empty batch
    capacity = pipe.committed / max(1e-9, sum(p["durationMs"]["triggerExecution"] for p in prog) / 1000.0)

    probe_end = ctx.probe() if ctx.trace else 0.0
    peak_rss = ctx.peak_rss_mb()

    # ---- checks: exactly-once across the three sinks -------------------
    problems: list[str] = []
    manifest = snapshots.load_manifest(pipe.table, snapshots.current_snapshot_id(pipe.table))
    lake = spark.read.parquet(pipe.lake)
    raw = spark.read.parquet(pipe.raw)
    # one pass over the lake: ids, the first stamp and the payload bytes
    # (the framed JSON body plus the 5-byte header)
    payload = F.length(F.to_json(F.struct(*[c for c in lake.columns if c != "ts"]))) + 5
    ids = lake.agg(
        F.count("*").alias("n"),
        F.countDistinct("event_id").alias("ids"),
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
        F.min("timestamp").alias("first_ms"),
        F.sum(payload).alias("bytes"),
    ).first()
    # the rate source stamps value v at its start + v / RATE seconds, so
    # the first stamp is the source's start
    source_start = (ids["first_ms"] or 0) / 1000.0
    backlog, done = [], 0
    for b in pipe.batches:
        done += b["rows"]
        backlog.append(RATE * (b["end"] - source_start) - done)
    hours = ["year", "month", "day", "hour"]
    lake_h = {tuple(r[:4]): r[4] for r in with_time_partitions(lake).groupBy(*hours).count().collect()}
    raw_h = {tuple(r[:4]): r[4] for r in raw.groupBy(*hours).count().collect()}
    lake_n, raw_n = sum(lake_h.values()), sum(raw_h.values())
    if not (manifest["total_records"] == lake_n == raw_n == generated):
        problems.append(
            f"row counts differ: snapshot={manifest['total_records']} lake={lake_n} raw={raw_n} "
            f"generated={generated}"
        )
    got = (ids["n"], ids["ids"], ids["lo"], ids["hi"])
    if got != (generated, generated, id_base, id_base + generated - 1):
        problems.append(f"event ids from {id_base} not exactly-once: {got} for {generated} generated")
    if lake_h != raw_h:
        problems.append(f"per-hour counts differ: lake={lake_h} raw={raw_h}")
    # batches that outlast the trigger on average delay every next one:
    # the stream no longer holds its rate.  One slow batch (a compaction
    # on a busy host) is caught up by the next and is not saturation.
    trigger_ms = [p["durationMs"]["triggerExecution"] for p in prog]
    if sum(trigger_ms) > TRIGGER_S * 1000 * len(trigger_ms):
        problems.append(f"batches outlasted the {TRIGGER_S} s trigger on average: {trigger_ms} ms")
    # a batch end sees its own run time plus up to the source's 1 s
    # offset step of rows due
    limit = RATE * (TRIGGER_S + 1)
    if backlog and backlog[-1] > limit:
        problems.append(f"backlog {backlog[-1]:.0f} rows at the end (limit {limit})")
    half = len(backlog) // 2
    if half and backlog[-1] - backlog[half] > RATE * TRIGGER_S:
        problems.append(f"backlog grew over the second half: {backlog[half]:.0f} → {backlog[-1]:.0f}")
    for p in problems:
        print("ingest check failed:", p, flush=True)
    user_bytes = int(ids["bytes"] or 0)
    disk = _du(pipe.lake) + _du(pipe.raw) + _du(pipe.table)
    ctx.stop()

    fresh = [f for b in pipe.batches for f in b["fresh"]]
    busy = [b for b in pipe.batches if b["rows"]]
    out = {
        "latency_p50_s": median(fresh),
        "latency_p90_s": quantile(fresh, 0.9),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss,
        "session.start_s": t_session,
        "warmup_s": t_warm,
        "sources.build_s": t_source,
        "streaming.ingest.dual_sink_s": median([b["dual_sink_s"] for b in busy]),
        "snapshots.commit_s": median([b["commit_s"] for b in busy]),
        "snapshots.readback_s": median([b["readback_s"] for b in busy]),
        "snapshots.compact_s": sum(b["compact_s"] for b in pipe.batches) / max(1, pipe.commits // COMPACT_EVERY),
        "snapshots.compactions": pipe.commits // COMPACT_EVERY,
        "snapshots.live_files": max(b["live_files"] for b in pipe.batches),
        "snapshots.manifest_bytes": median([b["manifest_bytes"] for b in pipe.batches]),
        "storage.bytes_per_user_byte": disk / max(1, user_bytes),
        "stream.batch_rows": median([b["rows"] for b in busy]),
        "stream.backlog_rows": backlog[-1] if backlog else 0.0,
        "stream.capacity_rows_per_s": capacity,
        "verify.mismatches": len(problems),
        "host.probe_s": (probe_start + probe_end) / 2,
        "trace.latency_p50_s": median(fresh) if ctx.trace else 0.0,
    }
    for name, key in DURATION_KEYS.items():
        out[name] = median([p["durationMs"].get(key, 0) for p in prog])
    detail = {
        "rate": RATE,
        "trigger_s": TRIGGER_S,
        "compact_every": COMPACT_EVERY,
        "backlog": backlog,
        "trigger_ms": trigger_ms,
        "batches": [{k: v for k, v in b.items() if k != "fresh"} for b in pipe.batches],
        "problems": problems,
        "generated": generated,
    }
    return {"metrics": out, "attempted": len(pipe.batches), "failed": len(problems), "detail": detail}
