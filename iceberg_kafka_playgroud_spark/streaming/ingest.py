"""Streaming ingest pipeline (SURVEY §2.8, §3.3).

The reference's pipeline is: publisher → Kafka topic → two independent
sink connectors (Iceberg table + hour-partitioned Parquet). Here that
collapses into Structured Streaming:

    source stream → foreachBatch { lake append  +  partitioned parquet }

- ST1  5 s micro-batch cadence → ``trigger(processingTime="5 seconds")``
  (bounded replays run ``availableNow`` through ``_drain`` for
  determinism);
- ST2  dual-sink fan-out → one ``foreachBatch`` writing both sinks;
- ST3  hour partitions from event time (UTC) → year/month/day/hour
  columns derived with built-ins (s3-connector-config.json:17-25);
- ST4  file rotation → ``maxRecordsPerFile`` (flush.size=1000 analog);
- ST5/ST6  delivery: the plain-parquet lake sink is AT-LEAST-ONCE —
  ``foreachBatch`` re-runs an epoch after a crash and the append
  writes its rows again (a crash-replay of 1,000 events left 1,250
  lake rows). Exactly-once needs an epoch-keyed commit: the query and
  epoch ids recorded in the snapshot manifest, a replayed epoch a
  no-op (ROADMAP direction 1). With the Iceberg runtime on the
  classpath the same writer targets ``.format("iceberg")`` and gets
  snapshot-atomic commits (connector-config.json:24-27);
- ST7  late/duplicate handling → ``withWatermark`` + ``dropDuplicates``
  (absent in the reference; idiomatic upgrade).

The fixture `events` table is the batch stand-in for the topic
(FIXTURES.md §2); streaming tests replay it through the file source.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..plan_cache import cached, memoized, session_memo
from ..schema import normalize_event_ts
from ..session import scoped_conf
from ..tmpdirs import tmpdir_reclaimed_at_exit

MAX_RECORDS_PER_FILE = 1000  # reference flush.size, s3-connector-config.json:18

# Stateful streaming ops instantiate one state store per shuffle
# partition at query start; the replayed fixture streams have ~10²-10³
# keys, so 32 stores are pure setup overhead (~0.4 s/query measured;
# 8→4 stores re-measured best-of-3: 1.22 s → 1.08 s on sessionize).
# Production sizing: state partitions ≈ executor cores, set per query.
STREAM_SHUFFLE_PARTITIONS = 4

# staged drop zone per (session, logical plan of the staged frame):
# re-writing the corpus per call would leak a copy into /tmp each
# invocation (bench runs best-of-N)
_DOC_STAGE_MEMO = session_memo("retained")


def _staged_docs_stream(spark: SparkSession, df: DataFrame, subset: str):
    """Write df once to a 4-file drop zone and return a file stream
    over it (maxFilesPerTrigger=1 → 4 deterministic micro-batches);
    ``subset`` names the staging dir."""

    def stage_once():
        stage = tmpdir_reclaimed_at_exit(f"docs_{subset}_src_")
        df.repartition(4).write.mode("overwrite").parquet(stage)
        return stage, spark.read.parquet(stage).schema

    stage, doc_schema = _DOC_STAGE_MEMO.by_plan(df, stage_once)
    return (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def _drain(
    spark: SparkSession, writer: DataStreamWriter, ckpt: str | None = None
) -> None:
    """Run a configured bounded replay to completion: every streaming
    query in this module starts here, with the availableNow trigger and
    STREAM_SHUFFLE_PARTITIONS state partitions (a streaming query pins
    its shuffle-partition count from the session conf at start).

    Without ``ckpt`` the checkpoint is a private tmpfs dir — offset and
    commit logs are tiny and rewritten per micro-batch, so
    page-cache-backed is right — removed once the query has stopped.
    A caller that reads the checkpoint afterwards passes its own."""
    owned = ckpt is None
    if owned:
        base = "/dev/shm" if os.path.isdir("/dev/shm") else None
        ckpt = tempfile.mkdtemp(prefix="stream_ckpt_", dir=base)
    try:
        with scoped_conf(
            spark, "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
        ):
            q = (
                writer.option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        if owned:
            shutil.rmtree(ckpt, ignore_errors=True)


def _replay_batches(
    spark: SparkSession,
    stream: DataFrame,
    per_batch: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Drain a staged drop-zone replay through ``per_batch`` and return
    the appended per-micro-batch frames. Each frame is tagged with its
    epoch to prove the replay really ran as several micro-batches: the
    probes' whole point is per-batch work, so one batch means the staged
    drop zone degenerated — a real error, not an assert (asserts vanish
    under -O)."""
    out_dir = tmpdir_reclaimed_at_exit("replay_out_")

    def append(batch_df: DataFrame, epoch_id: int) -> None:
        (
            per_batch(batch_df)
            .withColumn("epoch_id", F.lit(epoch_id).cast("long"))
            .write.mode("append")
            .parquet(out_dir)
        )

    _drain(spark, stream.writeStream.foreachBatch(append))
    out = spark.read.parquet(out_dir)
    n_epochs = out.select("epoch_id").distinct().count()
    if n_epochs <= 1:
        raise RuntimeError(
            f"staged replay ran in {n_epochs} micro-batch(es); "
            "expected the 4-file drop zone to yield several"
        )
    return out.drop("epoch_id")


def iceberg_available(spark: SparkSession) -> bool:
    """True if the iceberg-spark-runtime jar is on the classpath.

    Must use Class.forName — attribute access on ``spark._jvm`` returns
    a lazy JavaPackage even for classes that don't exist.
    """
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.Schema"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the events fixture through the parquet file source
    (deterministic stand-in for the Kafka topic).

    The file source requires an explicit schema, so take it from a
    batch read of the same file (one footer read) rather than
    hardcoding a layout — the fixture has shipped both TIMESTAMP(NANOS)
    and TIMESTAMP_NTZ-micros ``ts`` across rounds, and a forced
    ``ts BIGINT`` + blind ``div 1000`` silently collapses µs data into
    1970. ``normalize_event_ts`` then applies the same layout-aware
    conversion as ``schema.load_table`` (batch/stream parity)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.abspath(f"{sf_dir.rstrip('/')}/events.parquet")
    file_schema, stage = _events_stage(spark, src)
    stream = spark.readStream.schema(file_schema).parquet(stage)
    return normalize_event_ts(stream)


# memoized per (session, source): every streaming query re-entry was
# paying a batch footer read + mkdtemp for an identical layout
@memoized("retained")
def _events_stage(spark: SparkSession, src: str) -> tuple:
    """(footer-read schema, symlink staging dir) of one events file:
    the file source wants a directory, so the single fixture file is
    exposed through a temp dir of symlinks."""
    stage = tmpdir_reclaimed_at_exit("events_stream_src_")
    os.symlink(src, os.path.join(stage, "events.parquet"))
    return spark.read.parquet(src).schema, stage


def with_time_partitions(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """ST3: the S3 sink's year/month/day/hour partition columns,
    derived from event time in UTC (s3-connector-config.json:21-25)."""
    return (
        df.withColumn("year", F.year(ts_col))
        .withColumn("month", F.month(ts_col))
        .withColumn("day", F.dayofmonth(ts_col))
        .withColumn("hour", F.hour(ts_col))
    )


def dual_sink_batch_writer(lake_dir: str, raw_dir: str):
    """ST2: the foreachBatch body — one micro-batch, two sinks.

    Sink 1 (K1 analog): append to the lake table. Plain parquet here;
    swap ``.parquet(lake_dir)`` for ``.format("iceberg").saveAsTable``
    when the runtime jar is present — the surrounding logic is
    identical.
    Sink 2 (K2): hour-partitioned parquet with bounded file sizes.
    """

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            (
                batch_df.write.mode("append")
                .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
                .parquet(lake_dir)
            )
            (
                with_time_partitions(batch_df)
                # hash the hour-dirs across ALL cores: each writer task
                # opens its parquet writers serially (~10 ms each), so
                # a replay batch spanning 720 hour-dirs needs the dirs
                # spread wide, while each dir's rows still land in one
                # task (one file per dir, no tasks×dirs blowup). A live
                # 5 s micro-batch touches 1-2 dirs and is unaffected.
                .repartition(
                    batch_df.sparkSession.sparkContext.defaultParallelism,
                    "year", "month", "day", "hour",
                )
                .write.mode("append")
                .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
                .partitionBy("year", "month", "day", "hour")
                .parquet(raw_dir)
            )
        finally:
            batch_df.unpersist()

    return write


def run_dual_sink_ingest(
    spark: SparkSession, sf_dir: str, lake_dir: str, raw_dir: str
) -> None:
    """Drive the full ingest synchronously (availableNow trigger)."""
    stream = events_file_stream(spark, sf_dir)
    _drain(
        spark,
        stream.writeStream.foreachBatch(dual_sink_batch_writer(lake_dir, raw_dir)),
    )


def _run_to_memory(stream_df: DataFrame, mode: str) -> DataFrame:
    """Run a streaming frame to completion into a memory sink and
    return the sink contents as a batch DataFrame."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    spark = stream_df.sparkSession
    _drain(
        spark,
        stream_df.writeStream.format("memory").queryName(name).outputMode(mode),
    )
    return spark.table(name)


# --- queries() entries (streaming semantics with batch-equivalent oracles) --


def stream_tumbling_counts(spark: SparkSession, sf: str) -> DataFrame:
    """ST3: watermarked 1-hour tumbling window aggregation, run as a
    real streaming query. With availableNow over a bounded replay the
    complete-mode result equals the batch aggregation — which is the
    oracle."""
    stream = events_file_stream(spark, sf)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").alias("hour_start"), "event_type", "n"
    )


def stream_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """ST7: streaming dropDuplicates (stateful) on the replayed topic;
    result folded to per-type counts for a stable oracle."""
    stream = events_file_stream(spark, sf)
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicates(["event_id"])
    out = _run_to_memory(deduped, "append")
    return out.groupBy("event_type").agg(F.count("*").alias("n_unique"))


def stream_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (30 min gap) as a streaming aggregation; oracle
    is the batch lag/cumsum sessionization — same session boundaries."""
    stream = events_file_stream(spark, sf)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
    )


def stream_lifecycle_floor(spark: SparkSession) -> None:
    """Run ``stream_sessionize``'s exact machinery over ZERO rows: the
    same file source (sf0.001 footer), the same watermark +
    session_window stateful aggregation, the same memory-sink
    availableNow lifecycle — but with a ``user_id < 0`` filter so no
    row survives the scan.  Wall time is therefore pure lifecycle:
    checkpoint-dir setup, query start, state-store instantiation for
    STREAM_SHUFFLE_PARTITIONS partitions, one empty micro-batch, and
    stop.  bench.py times this to decompose stream_sessionize's
    headline number into lifecycle floor vs data execution (r11
    verdict #4) — the DuckDB oracle pays neither."""
    stream = events_file_stream(spark, "/root/testdata/sf0.001")
    agg = (
        stream.where(F.col("user_id") < 0)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    _run_to_memory(agg, "complete").collect()


def stream_dual_sink(spark: SparkSession, sf: str) -> DataFrame:
    """ST2/ST3/ST4 end-to-end: run the dual-sink ingest into temp dirs,
    read the partitioned sink back, and return per-partition counts
    (oracle: the same counts straight off the events table)."""
    base = tmpdir_reclaimed_at_exit("dual_sink_")
    lake_dir, raw_dir = f"{base}/lake", f"{base}/raw"
    run_dual_sink_ingest(spark, sf, lake_dir, raw_dir)
    raw = spark.read.parquet(raw_dir)
    return (
        raw.groupBy("year", "month", "day", "hour")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("year").cast("int").alias("year"),
            F.col("month").cast("int").alias("month"),
            F.col("day").cast("int").alias("day"),
            F.col("hour").cast("int").alias("hour"),
            "n",
        )
    )


def stream_stateful_user_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary stateful processing via applyInPandasWithState — the
    custom-operator escape hatch (SURVEY §2.8 'not present in
    reference' tier + §2.9 X5). Keeps per-user running totals in
    explicit state; over the bounded replay the final update per user
    equals the batch aggregate, which is the oracle."""
    import pandas as pd  # local import: only the driver defines the fn

    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = events_file_stream(spark, sf)

    def totals(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    out = (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            totals,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sunk = _run_to_memory(out, "update")
    # one update row per user per micro-batch → keep the final one
    return (
        sunk.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )


def stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream inner interval join with watermarks on both sides
    (SURVEY §2.8's stretch tier): each view joined to the same user's
    purchases within the following hour. The watermark + time-range
    condition is what bounds join state, so the query runs unbounded at
    any scale. Folded to per-user pair counts for a stable oracle.
    """
    views = (
        events_file_stream(spark, sf)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "10 minutes")
    )
    purchases = (
        events_file_stream(spark, sf)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    out = _run_to_memory(joined, "append")
    return out.groupBy("user_id").agg(F.count("*").alias("n_pairs"))


N_RATE_FILES = 4  # fixture split for the rate-limit demo


def _stage_even_split(events: DataFrame, prefix: str) -> str:
    """Stage the events fixture as exactly N_RATE_FILES parquet files
    whose sizes are ROW-DETERMINISTIC: file i holds the rows with
    event_id % N_RATE_FILES == i (event_ids are consecutive 0..n-1 in
    every fixture, so the split is exactly even whenever n divides).

    ``repartition(n)`` round-robins and is only even to ±1 per INPUT
    partition — a multi-partition read of events (e.g. sf0.1 under a
    32-way layout) would yield batches differing by several rows and
    break the exact per-batch oracles that pin max=min=total/4."""
    stage = tmpdir_reclaimed_at_exit(prefix)
    for i in range(N_RATE_FILES):
        (
            events.filter(F.pmod(F.col("event_id"), F.lit(N_RATE_FILES)) == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(stage)
        )
    return stage


def stream_rate_limited_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """Source rate limiting / backpressure (the ``maxFilesPerTrigger``
    / ``maxOffsetsPerTrigger`` knob family): split the fixture into 4
    files and replay with maxFilesPerTrigger=1 — availableNow honors
    the cap, so ingestion proceeds in 4 bounded micro-batches instead
    of one unbounded gulp. That cap is what keeps a backlogged 100 TB
    topic from OOMing the first batch after downtime. Output pins the
    batch count and the exact per-batch row bounds."""
    from ..schema import load_table

    events = load_table(spark, sf, "events")
    stage = _stage_even_split(events, "rate_src_")

    batch_rows: list[int] = []

    def count_batch(bdf: DataFrame, _bid: int) -> None:
        batch_rows.append(bdf.count())

    _drain(
        spark,
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(count_batch),
    )
    return spark.createDataFrame(
        [
            (
                len(batch_rows),
                sum(batch_rows),
                max(batch_rows),
                min(batch_rows),
            )
        ],
        "n_batches long, total_rows long, max_batch_rows long, min_batch_rows long",
    )


def stream_upsert_latest(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming upsert (MERGE-on-key) sink: maintain latest-event-per-
    user across rate-limited micro-batches.

    Each foreachBatch epoch merges the batch into a keyed state table:
    union(previous state, batch) → keep the (ts, event_id)-max row per
    user — the same merge an Iceberg/Delta ``MERGE INTO ... WHEN
    MATCHED UPDATE`` performs, expressed engine-agnostically with a
    window rank and epoch-versioned parquet state (write-new-then-swap,
    so a failed epoch never corrupts the previous version — the same
    snapshot-isolation discipline as ``snapshots.py``).  The merge is
    associative with a total tie-break, so the result is independent of
    batch boundaries — which is exactly what makes it exactly-once
    under replay.  State shuffles on user_id only; at 100 TB the state
    table is keys-sized, not events-sized.
    """
    from ..schema import load_table

    events = load_table(spark, sf, "events")
    stage = _stage_even_split(events, "upsert_src_")
    state_root = tmpdir_reclaimed_at_exit("upsert_state_")
    state: dict[str, str | None] = {"dir": None}

    latest_w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def merge_batch(bdf: DataFrame, bid: int) -> None:
        merged = bdf.select("user_id", "ts", "event_id", "event_type", "value")
        if state["dir"] is not None:
            merged = merged.unionByName(
                spark.read.parquet(state["dir"])
            )
        new_dir = os.path.join(state_root, f"v{bid}")
        (
            merged.withColumn("rk", F.row_number().over(latest_w))
            .filter(F.col("rk") == 1)
            .drop("rk")
            .write.mode("overwrite")
            .parquet(new_dir)
        )
        state["dir"] = new_dir  # swap only after the full write succeeds

    _drain(
        spark,
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(merge_batch),
    )
    assert state["dir"] is not None
    return spark.read.parquet(state["dir"]).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def stream_snapshot_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's core loop, end to end: a rate-limited stream
    committing one SNAPSHOT per micro-batch into the versioned table
    layer (Kafka → Iceberg with 5 s commits, connector-config.json:24-27
    — here the file-replay source and the jar-absent snapshot analog,
    snapshots.py). Each foreachBatch epoch is one atomic manifest
    commit; the output reads the snapshot metadata BACK from the table
    and proves per-commit lineage: operation, files and records added
    per snapshot, and the exactly-once cumulative total.

    At 100 TB this is the pattern that bounds ingestion memory (bounded
    batches), keeps commits atomic (manifest swap), and makes the lake
    time-travelable per micro-batch.
    """
    from .. import snapshots as S
    from ..schema import load_table

    events = load_table(spark, sf, "events")
    stage = _stage_even_split(events, "snap_ingest_src_")
    table_dir = tmpdir_reclaimed_at_exit("snap_ingest_tbl_")

    def commit_batch(bdf: DataFrame, _bid: int) -> None:
        S.commit_append(
            spark,
            table_dir,
            bdf.select(
                "event_id",
                "user_id",
                "value",
                (F.col("user_id") % S.N_BUCKETS).alias(S.BUCKET_COL),
            ),
        )

    _drain(
        spark,
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .writeStream.foreachBatch(commit_batch),
    )
    snaps = S.snapshots_df(spark, table_dir)
    w = W.orderBy("snapshot_id")
    return snaps.select(
        "snapshot_id",
        "operation",
        "total_records",
        (
            F.col("total_records")
            - F.coalesce(F.lag("total_records").over(w), F.lit(0))
        ).alias("added_records"),
    ).orderBy("snapshot_id")


def stream_windowed_approx_users(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming daily-active-users via HLL++ sketch: exact
    COUNT(DISTINCT) is unsupported inside a streaming aggregation
    (unbounded state), so production DAU dashboards run
    approx_count_distinct in the watermarked window — the
    sketch-in-stream pattern. The result is audited against the BATCH
    exact count per window and the oracle pins the ±5% bound (the
    agg_approx_distinct contract: sketch internals differ per engine,
    error bounds don't).
    """
    from ..schema import load_table

    stream = events_file_stream(spark, sf)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "24 hours"))
        .agg(F.approx_count_distinct("user_id", 0.02).alias("approx_users"))
    )
    out = _run_to_memory(agg, "complete").select(
        F.col("window.start").alias("day_start"), "approx_users"
    )
    exact = (
        load_table(spark, sf, "events")
        .groupBy(F.window("ts", "24 hours"))
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
        .select(F.col("window.start").alias("day_start"), "exact_users")
    )
    return (
        out.join(exact, "day_start")
        .select(
            "day_start",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_5pct"),
        )
        .orderBy("day_start")
    )


SESSION_GAP = "30 minutes"


def stream_session_window_native(spark: SparkSession, sf: str) -> DataFrame:
    """ST7 (native form): sessionization with Spark's built-in
    ``session_window`` — dynamic-gap windows merged in the state
    store, the declarative twin of the ``applyInPandasWithState``
    sessionizer (``stream_sessionize``). Watermark bounds state;
    window end = last event + gap (end-exclusive merge: an event
    landing exactly on the end starts a new session).

    The oracle is the batch gaps-and-islands formulation — new
    session when the gap to the previous event is >= 30 minutes —
    which is exactly the semantics the state store implements, so the
    streaming result must equal it on a bounded replay.
    """
    stream = events_file_stream(spark, sf)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("sess_start"),
        F.col("session_window.end").alias("sess_end"),
        "n_events",
        "value_cents",
    ).orderBy("user_id", "sess_start")


def stream_sliding_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding (hopping) windows: 1-hour windows advancing every 30
    minutes, so each event lands in exactly two windows. Same
    watermarked streaming aggregation as the tumbling form; state is
    2× per event, still keyed and bounded. Oracle expands each event
    into its two window starts in SQL."""
    stream = events_file_stream(spark, sf)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").alias("win_start"), "event_type", "n"
    )


ANOMALY_Z = 2.0  # |z| threshold for the streaming anomaly gate


def stream_anomaly_zscore(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming anomaly gate: per-event z-score against BATCH-computed
    per-type moments (the reference-profile pattern — train the profile
    offline, score the live stream). The moments table is types-sized
    and broadcasts into every micro-batch; the row-level |z| filter is
    batch-boundary-independent, so the per-type anomaly counts equal
    the batch equivalent, which is the oracle. Moment math is the exact
    int64-cents formulation shared with ``events_zscore_normalize``.
    """
    from ..schema import load_table

    e = load_table(spark, sf, "events")
    vc = F.round(F.col("value") * 100).cast("long")
    moments = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(vc).alias("sv"),
        F.sum(vc * vc).alias("svv"),
    )
    nd = F.col("n").cast("double")
    sv, svv = F.col("sv").cast("double"), F.col("svv").cast("double")
    stats = moments.select(
        "event_type",
        (sv / F.lit(100.0) / nd).alias("mean_v"),
        (F.sqrt((nd * svv - sv * sv) / (nd * nd)) / F.lit(100.0)).alias(
            "std_v"
        ),
    )
    stream = events_file_stream(spark, sf)
    flagged = (
        stream.join(F.broadcast(stats), "event_type")
        .withColumn(
            "z", (F.col("value") - F.col("mean_v")) / F.col("std_v")
        )
        .filter(F.abs(F.col("z")) >= ANOMALY_Z)
    )
    out = _run_to_memory(flagged, "append")
    return out.groupBy("event_type").agg(F.count("*").alias("n_anomalies"))


def _replay_minhash_probe(
    spark: SparkSession,
    ref_docs: DataFrame,
    new_docs: DataFrame,
    subset: str,
    per_batch: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """Replay ``new_docs`` as a staged 4-file drop zone (one file per
    trigger — the bounded stand-in for the Kafka doc topic) against a
    STATIC MinHash index of ``ref_docs``: the index's shingles and
    bands are cached ONCE and reused by every micro-batch, each batch
    shingles and bands only its own documents, and ``per_batch`` —
    the batch operator's own body (``dedup.match_new_docs``,
    ``curation.contamination_hits``) — probes it.  Batch size bounds
    per-trigger work."""
    from ..operators import dedup

    sh_ref = cached(dedup.shingle_set(ref_docs))
    bands_ref = cached(dedup.minhash_bands(sh_ref))

    def probe(batch_df: DataFrame) -> DataFrame:
        sh_new = dedup.shingle_set(batch_df)
        pairs = dedup.minhash_probe(
            sh_ref.unionByName(sh_new),
            bands_ref,
            dedup.minhash_bands(sh_new),
            per_batch=True,
        )
        return per_batch(batch_df, pairs)

    stream = _staged_docs_stream(spark, new_docs, subset)
    return _replay_batches(spark, stream, probe)


def stream_incremental_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time near-dup gate as a STREAMING query: new documents
    arrive in micro-batches and each batch is probed against the
    static corpus MinHash index via ``foreachBatch`` — the dedup gate
    a 100 TB daily-ingest pipeline runs in front of its lake (the
    reference's ingest loop shape, kafka_publisher.py:366-376, with
    dedup added).

    Scale design: the OLD corpus index (shingles + band buckets) is
    built ONCE and reused by every micro-batch; each batch computes
    bands for its own documents only and candidate generation is the
    old×new band equi-join — old×old pairs are never generated, and
    batch size bounds per-trigger work. Per-doc results depend only on
    (doc, old corpus), so micro-batch boundaries cannot change the
    output: the result equals ``dedup_incremental_minhash`` run in one
    batch, which is the oracle.
    """
    from ..operators import dedup
    from ..schema import load_table

    d = load_table(spark, sf, "documents")
    is_new = (F.col("doc_id") % dedup.NEW_BATCH_MOD) == dedup.NEW_BATCH_RESIDUE
    ref, new = d.filter(~is_new), d.filter(is_new)
    return _replay_minhash_probe(spark, ref, new, "newbatch", dedup.match_new_docs)


def stream_quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time quality gating as a streaming query: documents
    arrive in micro-batches and each batch is scored with the SAME
    row-local predicates as the batch funnel (length gate, language
    gate — ``quality_filter_funnel`` stages 1-2), with per-source
    accept/reject counts accumulated across batches — the front-door
    filter a training-data pipeline runs before anything touches the
    lake (cross-batch dedup is the separate ``stream_exact_dedup`` /
    ``stream_incremental_dedup`` stage).

    Row-local predicates are batch-boundary-independent, so the
    rolled-up counts equal the batch equivalent — the oracle. Scale:
    the gate itself is a zero-shuffle projection per micro-batch; only
    the sources-sized count table shuffles.
    """
    from ..operators.curation import MAX_CHARS, MIN_CHARS
    from ..schema import load_table

    d = load_table(spark, sf, "documents")
    stream = _staged_docs_stream(spark, d, "all")

    def gate(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                "source",
                F.col("n_chars").between(MIN_CHARS, MAX_CHARS)
                .cast("long")
                .alias("len_ok"),
                (
                    F.col("n_chars").between(MIN_CHARS, MAX_CHARS)
                    & (F.col("lang") == "en")
                )
                .cast("long")
                .alias("lang_ok"),
            )
            .groupBy("source")
            .agg(
                F.count("*").alias("n_raw"),
                F.sum("len_ok").alias("n_len"),
                F.sum("lang_ok").alias("n_len_lang"),
            )
        )

    return (
        _replay_batches(spark, stream, gate)
        .groupBy("source")
        .agg(
            F.sum("n_raw").cast("long").alias("n_raw"),
            F.sum("n_len").cast("long").alias("n_pass_length"),
            F.sum("n_len_lang").cast("long").alias("n_pass_lang"),
        )
        .orderBy("source")
    )


def stream_windowed_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 event types per 1-hour event-time window: the live
    "trending" query — a watermarked streaming aggregation whose
    per-window ranking runs over the (window-count-sized) sink, never
    the event stream. Tie-break (n DESC, event_type ASC) is a total
    order, so the cut is deterministic in both engines."""
    stream = events_file_stream(spark, sf)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_memory(agg, "complete")
    counts = out.select(
        F.col("window.start").alias("hour_start"), "event_type", "n"
    )
    w = W.partitionBy("hour_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


def stream_dim_enrichment(spark: SparkSession, sf: str) -> DataFrame:
    """Stream–static join: the replayed event stream enriched with the
    customer dimension (Spark joins a static DataFrame into a stream
    natively — no state store, the dimension broadcasts into every
    micro-batch). The row-level join result is independent of batch
    boundaries, so the oracle is the plain batch join.

    This is the slowly-changing-dimension enrichment every ingest
    pipeline runs; at 100 TB the dimension side stays broadcast-sized
    or becomes a keyed state join (``stream_stream_join`` covers the
    stateful case)."""
    from ..schema import load_table

    stream = events_file_stream(spark, sf)
    dim = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    enriched = stream.join(F.broadcast(dim), "user_id").select(
        "event_id", "user_id", "event_type", "c_name", "c_mktsegment"
    )
    return _run_to_memory(enriched, "append")




ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def stream_state_rocksdb(spark: SparkSession, sf: str) -> DataFrame:
    """Watermarked stateful aggregation under the ROCKSDB state-store
    provider — the large-state deployment configuration.  The default
    HDFS-backed provider keeps every state key on the executor HEAP,
    which caps total streaming state at cluster memory; RocksDB spills
    state to local SSD with incremental checkpointing, the setting
    every production Spark deployment with 100 GB+ of state runs
    (it ships in OSS Spark, no extra jar).  The provider changes
    STORAGE only — with availableNow over the bounded replay the
    complete-mode result must equal the batch aggregate, which is the
    oracle; running the same stateful shape as the heap-provider
    queries proves provider-independence of results, not just that
    the config parses.

    The provider conf is pinned by the query AT START, so the scoped
    save/restore cannot affect the running query or other operators.
    """
    stream = events_file_stream(spark, sf)
    with scoped_conf(
        spark, "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    ):
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "6 hours"), "event_type")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long"))
                .cast("long")
                .alias("cents"),
            )
        )
        out = _run_to_memory(agg, "complete")
    return out.select(
        F.col("window.start").alias("bucket_start"), "event_type", "n", "cents"
    )


QUERIES = {
    "stream_tumbling_counts": stream_tumbling_counts,
    "stream_sliding_counts": stream_sliding_counts,
    "stream_session_window_native": stream_session_window_native,
    "stream_windowed_approx_users": stream_windowed_approx_users,
    "stream_dim_enrichment": stream_dim_enrichment,
    "stream_snapshot_ingest": stream_snapshot_ingest,
    "stream_upsert_latest": stream_upsert_latest,
    "stream_rate_limited_ingest": stream_rate_limited_ingest,
    "stream_stream_join": stream_stream_join,
    "stream_exact_dedup": stream_exact_dedup,
    "stream_sessionize": stream_sessionize,
    "stream_dual_sink": stream_dual_sink,
    "stream_stateful_user_totals": stream_stateful_user_totals,
    "stream_windowed_topk": stream_windowed_topk,
    "stream_anomaly_zscore": stream_anomaly_zscore,
    "stream_incremental_dedup": stream_incremental_dedup,
    "stream_quality_gate": stream_quality_gate,
    "stream_state_rocksdb": stream_state_rocksdb,
}

ORACLES = {
    "stream_dim_enrichment": """
        SELECT event_id, user_id, event_type, c_name, c_mktsegment
        FROM events JOIN customer ON user_id = c_custkey
    """,
    # every event belongs to the two 1-hour windows whose starts are
    # the two preceding 30-minute boundaries. make_timestamp (not
    # to_timestamp) so the oracle emits a NAIVE timestamp — DuckDB's
    # to_timestamp returns TIMESTAMPTZ, which the driver's schema
    # compare rejects against Spark's (UTC-naive-collected) TimestampType.
    # 24h tumbling windows are epoch-aligned in both engines; the
    # oracle pins the exact count AND the TRUE error-bound flag
    "stream_windowed_approx_users": """
        SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day_start,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               TRUE AS within_5pct
        FROM events
        GROUP BY 1 ORDER BY 1
    """,
    "stream_session_window_native": """
        WITH e AS (
          SELECT user_id, ts, event_id,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events
        ),
        m AS (
          SELECT user_id, ts, event_id, cents,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_sess
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        s AS (
          SELECT user_id, ts, cents,
                 SUM(new_sess) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sess_id
          FROM m
        )
        SELECT user_id, MIN(ts) AS sess_start,
               MAX(ts) + INTERVAL 30 MINUTE AS sess_end,
               COUNT(*) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS value_cents
        FROM s GROUP BY user_id, sess_id
        ORDER BY user_id, sess_start
    """,
    "stream_sliding_counts": """
        WITH expanded AS (
          SELECT event_type,
                 make_timestamp((epoch_us(ts) // 1800000000 * 1800
                                 - unnest([CAST(0 AS BIGINT),
                                           CAST(1800 AS BIGINT)]))
                                * 1000000) AS win_start
          FROM events
        )
        SELECT win_start, event_type, COUNT(*) AS n
        FROM expanded GROUP BY win_start, event_type
    """,
    # 4 even micro-batches (row count divisible by 4 at all sf), one
    # append snapshot per batch, strictly cumulative totals
    "stream_snapshot_ingest": """
        WITH n AS (SELECT COUNT(*) AS total FROM events)
        SELECT CAST(s AS BIGINT) AS snapshot_id,
               'append' AS operation,
               CAST(total / 4 * s AS BIGINT) AS total_records,
               CAST(total / 4 AS BIGINT) AS added_records
        FROM n, (SELECT unnest(generate_series(1, 4)) AS s)
        ORDER BY snapshot_id
    """,
    "stream_upsert_latest": """
        SELECT user_id, ts AS last_ts, event_id AS last_event_id,
               event_type AS last_event_type, value AS last_value
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rk FROM events)
        WHERE rk = 1
    """,
    # 4-way even split of the fixture (row count divisible by 4 at all
    # sf), one file per micro-batch
    "stream_rate_limited_ingest": """
        SELECT CAST(4 AS BIGINT) AS n_batches,
               COUNT(*) AS total_rows,
               CAST(COUNT(*) / 4 AS BIGINT) AS max_batch_rows,
               CAST(COUNT(*) / 4 AS BIGINT) AS min_batch_rows
        FROM events
    """,
    "stream_stream_join": """
        SELECT e1.user_id, COUNT(*) AS n_pairs
        FROM events e1 JOIN events e2
          ON e2.user_id = e1.user_id
         AND e1.event_type = 'view' AND e2.event_type = 'purchase'
         AND e2.ts >= e1.ts AND e2.ts <= e1.ts + INTERVAL 1 HOUR
        GROUP BY e1.user_id
    """,
    "stream_tumbling_counts": """
        SELECT date_trunc('hour', ts) AS hour_start, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    """,
    "stream_anomaly_zscore": """
        WITH m AS (
          SELECT event_type, COUNT(*) AS n,
                 SUM(CAST(round(value * 100) AS BIGINT)) AS sv,
                 SUM(CAST(round(value * 100) AS BIGINT)
                     * CAST(round(value * 100) AS BIGINT)) AS svv
          FROM events GROUP BY event_type
        ),
        s AS (
          SELECT event_type,
                 CAST(sv AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS mean_v,
                 SQRT((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                       - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / 100.0
                   AS std_v
          FROM m
        )
        SELECT e.event_type, COUNT(*) AS n_anomalies
        FROM events e JOIN s ON e.event_type = s.event_type
        WHERE abs((value - mean_v) / std_v) >= 2.0
        GROUP BY e.event_type
    """,
    "stream_windowed_topk": """
        WITH counts AS (
          SELECT date_trunc('hour', ts) AS hour_start, event_type,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2
        ),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY hour_start
                      ORDER BY n DESC, event_type ASC) AS rk
          FROM counts
        )
        SELECT hour_start, event_type, n, CAST(rk AS INTEGER) AS rk
        FROM ranked WHERE rk <= 3
    """,
    "stream_exact_dedup": """
        SELECT event_type, COUNT(*) AS n_unique
        FROM (SELECT DISTINCT ON (event_id) event_id, event_type FROM events)
        GROUP BY event_type
    """,
    "stream_sessionize": """
        WITH gaps AS (
          SELECT user_id, ts,
                 CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           > INTERVAL 30 MINUTE
                      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
        ),
        sessions AS (
          SELECT user_id, ts,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM gaps
        )
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
    """,
    "stream_dual_sink": """
        SELECT CAST(year(ts) AS INTEGER) AS year,
               CAST(month(ts) AS INTEGER) AS month,
               CAST(day(ts) AS INTEGER) AS day,
               CAST(hour(ts) AS INTEGER) AS hour,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3, 4
    """,
    "stream_stateful_user_totals": """
        SELECT user_id, COUNT(*) AS n_events,
               round(SUM(value), 6) AS total_value
        FROM events GROUP BY user_id
    """,
}

# the streaming probe is batch-boundary-independent by construction, so
# its oracle IS the single-batch incremental dedup's oracle
from ..operators.dedup import ORACLES as _DEDUP_ORACLES  # noqa: E402

ORACLES["stream_state_rocksdb"] = """
SELECT make_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 * 1000000
                           AS BIGINT)) AS bucket_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""
ORACLES["stream_incremental_dedup"] = _DEDUP_ORACLES["dedup_incremental_minhash"]

from ..operators.curation import MAX_CHARS as _QMAX  # noqa: E402
from ..operators.curation import MIN_CHARS as _QMIN  # noqa: E402

# row-local gates are micro-batch-boundary-independent; the rolled-up
# counts equal this one-pass batch funnel
ORACLES["stream_quality_gate"] = f"""
    SELECT source, COUNT(*) AS n_raw,
           CAST(SUM(CASE WHEN n_chars BETWEEN {_QMIN} AND {_QMAX}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_length,
           CAST(SUM(CASE WHEN n_chars BETWEEN {_QMIN} AND {_QMAX}
                          AND lang = 'en'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_lang
    FROM documents GROUP BY source ORDER BY source
"""


def stream_ann_cell_assign(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming vector ingestion against a FROZEN clustering model:
    embedding micro-batches arrive and each batch is assigned to its
    nearest k-means centroid via the shared assignment expression —
    the index-maintenance loop of a streaming vector store (train
    offline, assign online; the streaming twin of
    ``ann_incremental_assign``'s batch formulation).

    The codebook is driver-state broadcast into every batch as
    literals (K·d ints — constant size at any corpus scale); per-vec
    assignment depends only on (vector, codebook), so micro-batch
    boundaries cannot change the rolled-up per-cell counts: the result
    equals the batch assignment, which is the oracle (the unrolled
    Lloyd CTE's final assign).
    """
    from ..operators.similarity import (
        _kmeans_final_assign,
        _nearest,
        fixed_point,
    )
    from ..schema import load_table

    _, cents = _kmeans_final_assign(spark, sf)  # frozen trained model
    em = load_table(spark, sf, "embeddings")
    stream = _staged_docs_stream(spark, em, "embs")

    def assign_batch(batch_df: DataFrame) -> DataFrame:
        return batch_df.select(
            "vec_id", fixed_point(F.col("embedding")).alias("qx")
        ).select("vec_id", _nearest("qx", cents)["cid"].alias("cid"))

    return (
        _replay_batches(spark, stream, assign_batch)
        .groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum("vec_id").cast("long").alias("vec_id_sum"),
        )
        .select(F.col("cid").cast("int").alias("cluster_id"), "n_vecs", "vec_id_sum")
        .orderBy("cluster_id")
    )


QUERIES["stream_ann_cell_assign"] = stream_ann_cell_assign

from ..operators.similarity import KM_ASSIGN3_CTES as _KM_CTES  # noqa: E402

# the streaming rollup equals the batch assignment: reuse the unrolled
# Lloyd oracle's CTE chain, aggregated per final-assignment cell
ORACLES["stream_ann_cell_assign"] = f"""
WITH {_KM_CTES}
SELECT CAST(cid AS INTEGER) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(vec_id) AS BIGINT) AS vec_id_sum
FROM assign3 GROUP BY cid ORDER BY cluster_id
"""


def stream_decontaminate_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time benchmark-contamination gate as a STREAMING query —
    the front-door twin of ``decontaminate_fuzzy_minhash``: training
    documents arrive in micro-batches and each batch is band-probed
    against the STATIC eval-set MinHash index, with exact-Jaccard
    verification on candidates only; per-source accept/flag counts
    accumulate across batches. This is the gate a 100 TB ingest runs
    so benchmark copies never reach the lake at all (cheaper than
    retroactive decontamination of a built corpus).

    Scale design mirrors ``stream_incremental_dedup``: the eval index
    (shingles + band buckets) is built ONCE and reused per trigger;
    candidates are an eval×batch band equi-join; per-doc verdicts
    depend only on (doc, eval index), so micro-batch boundaries cannot
    change the rollup — the batch formulation is the oracle.
    """
    from ..operators import curation
    from ..schema import load_table

    d = load_table(spark, sf, "documents")
    is_eval = (F.col("doc_id") % curation.DECON_MOD) == 0
    ref, new = d.filter(is_eval), d.filter(~is_eval)
    hits = _replay_minhash_probe(
        spark, ref, new, "trainset", curation.contamination_hits
    )
    return curation.contamination_rollup(hits)


QUERIES["stream_decontaminate_gate"] = stream_decontaminate_gate

from ..operators.curation import ORACLES as _CUR_ORACLES  # noqa: E402

# batch-boundary-independent: the streaming rollup equals the batch
# fuzzy-decontamination pass, whose oracle is shared verbatim
ORACLES["stream_decontaminate_gate"] = _CUR_ORACLES[
    "decontaminate_fuzzy_minhash"
]


def stream_dedup_within_watermark(spark: SparkSession, sf: str) -> DataFrame:
    """ST7 via the NATIVE ``dropDuplicatesWithinWatermark`` (Spark
    3.5+): unlike plain streaming ``dropDuplicates`` — whose per-key
    state lives forever — this evicts a key's state once the watermark
    passes its event time + delay, the production configuration for an
    unbounded at-least-once bus (state is bounded by the watermark
    horizon, not topic history).

    The replayed topic is unioned with itself, so every event arrives
    exactly twice AT THE SAME EVENT TIME — each duplicate pair is
    always inside any watermark window regardless of how the file
    source batches the replay, which keeps the result
    batch-boundary-independent: per-type counts of distinct events,
    the batch-DISTINCT oracle. (Duplicates farther apart than the
    delay may legitimately survive this operator; the fixture has no
    cross-time duplicate ids — ``stream_exact_dedup`` covers the
    infinite-retention semantics.)
    """
    stream = events_file_stream(spark, sf)
    doubled = stream.union(stream)
    deduped = doubled.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = _run_to_memory(deduped, "append")
    return (
        out.groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_unique"))
        .orderBy("event_type")
    )


QUERIES["stream_dedup_within_watermark"] = stream_dedup_within_watermark
ORACLES["stream_dedup_within_watermark"] = """
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
    FROM events GROUP BY event_type ORDER BY event_type
"""


def batch_session_window_native(spark: SparkSession, sf: str) -> DataFrame:
    """Native ``session_window`` in a BATCH aggregation — the same
    30-minute-gap session grouping as ``stream_sessionize`` without a
    streaming harness (Spark's session_window is a plain grouping
    expression in batch; most engines make sessionization a
    window-function exercise). The oracle is the identical lag/cumsum
    sessionization — pinning that the native operator and the manual
    rewrite (``event_sessionize_batch``) agree event-for-event.

    Scale: one user-keyed shuffle with map-side session merging —
    exactly the plan the lag/cumsum rewrite produces, minus one
    window pass.
    """
    from ..schema import load_table

    e = load_table(spark, sf, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


QUERIES["batch_session_window_native"] = batch_session_window_native
ORACLES["batch_session_window_native"] = ORACLES["stream_sessionize"]


def stream_chained_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Chained stateful windows (Spark 3.5+/4 multiple-stateful-ops):
    a 10-minute tumbling count per event type re-aggregated into
    1-hour sums INSIDE the same streaming query via ``window_time`` —
    the two-tier rollup (fine pre-agg feeding a coarse serving window)
    that previously required two jobs and an intermediate topic.
    Append mode end-to-end, so both tiers keep watermark-driven state
    eviction; with availableNow over the bounded replay the result
    equals the batch double-aggregation oracle.

    Scale: tier 1 shuffles on (10-min window, type) with map-side
    partial counts; tier 2 re-keys the ALREADY-AGGREGATED stream
    (windows × types rows, not events), so the second stateful op is
    orders of magnitude lighter than the first — the canonical
    pre-aggregation cascade.
    """
    stream = events_file_stream(spark, sf)
    fine = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n10"))
    )
    coarse = (
        fine.groupBy(
            F.window(F.window_time("window"), "1 hour").alias("hour_w"),
            "event_type",
        )
        .agg(F.sum("n10").cast("long").alias("n"))
    )
    out = _run_to_memory(coarse, "append")
    return out.select(
        F.col("hour_w.start").alias("hour_start"), "event_type", "n"
    ).orderBy("hour_start", "event_type")


QUERIES["stream_chained_windows"] = stream_chained_windows
# append-mode semantics: a window is emitted only once the final
# watermark (max event time − 10 min delay) passes its END, so the
# oracle applies the same cutoff to the batch double-aggregation —
# the replay's trailing windows are *correctly* unemitted state.
ORACLES["stream_chained_windows"] = """
WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events),
fine AS (
  SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS w10, event_type,
         COUNT(*) AS n10
  FROM events GROUP BY w10, event_type
)
SELECT time_bucket(INTERVAL 1 HOUR, w10) AS hour_start, event_type,
       CAST(SUM(n10) AS BIGINT) AS n
FROM fine, wm
GROUP BY hour_start, event_type
HAVING hour_start + INTERVAL 1 HOUR <= MAX(wm.w)
ORDER BY hour_start, event_type
"""


# -- left-outer stream-stream join ------------------------------------


SS_LOUTER_WINDOW_MIN = 60  # join interval: purchase within 1 h of view
SS_LOUTER_DELAY_MIN = 10  # watermark delay (late-data allowance)
SS_LOUTER_MARGIN_MIN = 10  # sentinel slack past the emit bound


def stream_stream_left_outer(
    spark: SparkSession, sf: str, delay_min: int = SS_LOUTER_DELAY_MIN
) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the semantics tier
    above ``stream_stream_join``: views with NO purchase in the
    following hour must still emit (with nulls), which the engine can
    only do once the watermark proves no matching purchase can arrive.
    That makes outer stream joins the canonical watermark-correctness
    test: get the watermark wrong and unmatched rows either never
    appear or appear early.

    Determinism harness: the replay is staged as TWO files consumed
    in order (maxFilesPerTrigger=1) — the fixture, then a far-future
    sentinel pair (negative user ids).  The sentinel's offset is
    DERIVED from the contract, not hard-coded: a real view emits its
    unmatched row only once the watermark (max event time − delay)
    passes view_ts + window, so the sentinel sits
    window + delay + margin past the corpus max ts — advancing BOTH
    sides' watermarks past every real view's emit bound for ANY
    delay ≤ the staged offset (pinned across delays by
    tests/test_stream_restart.py::test_louter_sentinel_contract_over_delays).
    The corpus max ts itself comes from parquet FOOTER statistics
    (``table_column_bounds``) — deriving a bound must not cost a full
    scan. Only the sentinels stay in state at stop, excluded from the
    result. At scale the same topology runs unbounded — state is
    pruned to the interval + watermark delay, so join state is
    O(rate × window), not O(stream).
    """
    out = _ss_outer_join_replay(spark, sf, delay_min, "leftOuter")
    return (
        out.where(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count("purchase_ts").cast("long").alias("n_matched"),
            (F.count("*") - F.count("purchase_ts"))
            .cast("long")
            .alias("n_unmatched"),
        )
        .orderBy("user_id")
    )


def _ss_outer_join_replay(
    spark: SparkSession, sf: str, delay_min: int, join_type: str
) -> DataFrame:
    """Shared outer stream-stream harness (see
    ``stream_stream_left_outer``'s docstring for the sentinel
    contract): stage fixture + derived-offset sentinels as two files,
    run the watermarked interval join to completion, return the
    materialized joined rows."""
    import shutil

    from ..schema import load_table, table_column_bounds

    events = load_table(spark, sf, "events").select(
        "user_id", "event_type", "ts"
    )
    # fixture-sized replay copy per call: reclaimed at exit (the
    # memory-sink read is lazy, so it can't be deleted synchronously)
    stage = tmpdir_reclaimed_at_exit("ss_louter_")
    _, max_ts = table_column_bounds(sf, "events", "ts")
    offset_min = SS_LOUTER_WINDOW_MIN + delay_min + SS_LOUTER_MARGIN_MIN
    sentinels = spark.createDataFrame(
        [(-1, "view", max_ts), (-2, "purchase", max_ts)],
        "user_id long, event_type string, ts timestamp",
    ).select(
        "user_id",
        "event_type",
        (F.col("ts") + F.expr(f"INTERVAL {offset_min} MINUTES")).alias("ts"),
    )

    def _stage_one(df: DataFrame, name: str, mtime: float) -> None:
        tmp = tempfile.mkdtemp(prefix="ss_louter_w_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            p for p in os.listdir(tmp)
            if p.startswith("part-") and p.endswith(".parquet")
        )
        dst = os.path.join(stage, name)
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp, ignore_errors=True)

    import time as _time

    now = _time.time()
    _stage_one(events, "a.parquet", now - 120)
    _stage_one(sentinels, "b.parquet", now - 60)

    schema = "user_id long, event_type string, ts timestamp"
    views = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", f"{delay_min} minutes")
    )
    purchases = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", f"{delay_min} minutes")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts")
            + F.expr(f"INTERVAL {SS_LOUTER_WINDOW_MIN} MINUTES")
        ),
        join_type,
    )
    return _run_to_memory(joined, "append")


def stream_stream_full_outer(
    spark: SparkSession, sf: str, delay_min: int = SS_LOUTER_DELAY_MIN
) -> DataFrame:
    """FULL OUTER stream-stream interval join — completes the outer
    matrix next to ``stream_stream_join`` (inner) and
    ``stream_stream_left_outer``: views with no purchase in the
    following hour AND purchases with no view in the preceding hour
    must both still emit once the watermark proves no match can
    arrive. Same derived-sentinel replay harness
    (``_ss_outer_join_replay``); per user the result counts matched
    pairs plus each side's orphans — the funnel-integrity view (every
    view and every purchase accounted for exactly once).

    Scale: identical state shape to the left-outer — both sides'
    state prunes to interval + delay, O(rate × window).
    """
    out = _ss_outer_join_replay(spark, sf, delay_min, "fullOuter")
    uid = F.coalesce(F.col("user_id"), F.col("p_user_id"))
    return (
        out.where(uid >= 0)
        .groupBy(uid.alias("uid"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count(
                F.when(
                    F.col("view_ts").isNotNull()
                    & F.col("purchase_ts").isNotNull(),
                    1,
                )
            )
            .cast("long")
            .alias("n_matched"),
            F.count(F.when(F.col("purchase_ts").isNull(), 1))
            .cast("long")
            .alias("n_view_only"),
            F.count(F.when(F.col("view_ts").isNull(), 1))
            .cast("long")
            .alias("n_purchase_only"),
        )
        .orderBy("uid")
    )


QUERIES["stream_stream_full_outer"] = stream_stream_full_outer
ORACLES["stream_stream_full_outer"] = """
WITH v AS (SELECT user_id, ts AS view_ts FROM events
           WHERE event_type = 'view'),
p AS (SELECT user_id AS p_user, ts AS pts FROM events
      WHERE event_type = 'purchase'),
j AS (
  SELECT v.user_id, v.view_ts, p.p_user, p.pts
  FROM v FULL JOIN p
    ON v.user_id = p.p_user
   AND p.pts >= v.view_ts
   AND p.pts <= v.view_ts + INTERVAL 1 HOUR
)
SELECT COALESCE(user_id, p_user) AS uid,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(CASE WHEN view_ts IS NOT NULL AND pts IS NOT NULL
                       THEN 1 END) AS BIGINT) AS n_matched,
       CAST(COUNT(CASE WHEN pts IS NULL THEN 1 END) AS BIGINT)
         AS n_view_only,
       CAST(COUNT(CASE WHEN view_ts IS NULL THEN 1 END) AS BIGINT)
         AS n_purchase_only
FROM j GROUP BY uid ORDER BY uid
"""


QUERIES["stream_stream_left_outer"] = stream_stream_left_outer
ORACLES["stream_stream_left_outer"] = """
WITH v AS (SELECT user_id, ts AS view_ts FROM events
           WHERE event_type = 'view'),
p AS (SELECT user_id AS p_user, ts AS pts FROM events
      WHERE event_type = 'purchase'),
j AS (
  SELECT v.user_id, v.view_ts, p.pts
  FROM v LEFT JOIN p
    ON v.user_id = p.p_user
   AND p.pts >= v.view_ts
   AND p.pts <= v.view_ts + INTERVAL 1 HOUR
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(pts) AS BIGINT) AS n_matched,
       CAST(COUNT(*) - COUNT(pts) AS BIGINT) AS n_unmatched
FROM j GROUP BY user_id ORDER BY user_id
"""


def stream_state_store_read(spark: SparkSession, sf: str) -> DataFrame:
    """State-store READER (Spark 4 ``statestore`` data source): run a
    keyed streaming aggregation over the events replay, then open its
    checkpoint's state store as a batch table — the operational
    surface behind "what is my streaming job actually holding in
    state" (skew hunts, state-bloat audits, recovery forensics)
    without stopping the job or adding instrumentation.

    For a complete-mode count/sum aggregation the state IS the full
    aggregate, so the store contents must equal the batch aggregation
    over the same replay — the oracle. Money crosses as exact integer
    cents (the module rule); the state schema nests key/value structs,
    flattened here to the oracle's column names.

    Scale: the reader is partition-parallel over the store's shards
    (one task per state partition — ``partition_id`` is first-class in
    its schema), so state inspection at 100 TB is a distributed scan,
    not a driver dump.
    """
    stream = events_file_stream(spark, sf)
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents_sum"),
    )
    # its own checkpoint, not _drain's tmpfs one (removed on stop):
    # this checkpoint carries the state-store shards the returned frame
    # lazily reads, so it lives on disk and is reclaimed at exit.  The
    # sink is noop — the state IS the output here; retaining a
    # memory-sink copy per call would stack dead driver-side aggregates
    # across warm repetitions.
    ckpt = tmpdir_reclaimed_at_exit("ssread_ckpt_")
    _drain(spark, agg.writeStream.format("noop").outputMode("complete"), ckpt)
    return (
        spark.read.format("statestore")
        .load(ckpt)
        # the store's value struct carries the aggregation BUFFER
        # field names (count/sum), not the query's output aliases
        .select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("long").alias("n_events"),
            F.col("value.sum").cast("long").alias("cents_sum"),
        )
        .orderBy("event_type")
    )


QUERIES["stream_state_store_read"] = stream_state_store_read
ORACLES["stream_state_store_read"] = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
         AS cents_sum
FROM events
GROUP BY event_type ORDER BY event_type
"""
