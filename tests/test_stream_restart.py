"""Checkpoint-recovery / exactly-once-across-restart proof (ST5/ST6).

A streaming query crashes mid-stream (batch 3 of 6 raises on its
first attempt), then restarts against the SAME checkpoint. The
restart must resume at the failed batch — committed batches are never
reprocessed, the failed batch re-runs, and the per-batch idempotent
sink (overwrite into batch=<id> directories) yields EXACTLY the batch
input: no loss, no duplicates. This is the recovery contract the
reference's Kafka→Iceberg 5 s commit loop depends on.
"""

import os

import pytest

from pyspark.sql import functions as F

FAIL_BATCH = 3
N_FILES = 6


@pytest.fixture()
def staged_source(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    from iceberg_kafka_playgroud_spark.schema import load_table

    load_table(spark, sf_dir, "events").repartition(N_FILES).write.parquet(src)
    n_files = len(
        [f for f in os.listdir(src) if f.endswith(".parquet")]
    )
    assert n_files == N_FILES
    return src


def test_restart_resumes_exactly_once(spark, sf_dir, staged_source, tmp_path):
    from iceberg_kafka_playgroud_spark.schema import load_table

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    marker = str(tmp_path / "crashed_once")

    schema = spark.read.parquet(staged_source).schema

    def sink(df, batch_id):
        if batch_id == FAIL_BATCH and not os.path.exists(marker):
            open(marker, "w").close()
            raise RuntimeError("injected mid-stream crash")
        df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    def run():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged_source)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    with pytest.raises(Exception, match="injected mid-stream crash"):
        run()
    assert os.path.exists(marker), "crash must have fired on first run"
    committed_before = len(
        [d for d in os.listdir(out) if d.startswith("batch=")]
    )
    assert committed_before == FAIL_BATCH  # batches 0..FAIL_BATCH-1 only

    run()  # restart from the same checkpoint — must drain to the end

    got = spark.read.option("basePath", out).parquet(f"{out}/batch=*")
    exp = load_table(spark, sf_dir, "events")
    assert got.count() == exp.count(), "row loss or duplication"
    assert (
        got.select(F.count_distinct("event_id")).first()[0] == exp.count()
    ), "duplicate event_ids across batch dirs"
    gc = got.agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
    ).first()[0]
    ec = exp.agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
    ).first()[0]
    assert gc == ec, "content drift across restart"


def test_louter_sentinel_contract_over_delays(spark, sf_dir):
    """The left-outer stream-stream sentinel offset is DERIVED
    (window + delay + margin past the footer max ts), so varying the
    watermark delay must not change the result: every unmatched view
    still flushes before the bounded replay drains.  A hard-coded
    offset would silently drop unmatched views once
    delay > offset − window (r8 verdict #7 / r9 #8)."""
    from iceberg_kafka_playgroud_spark.streaming import ingest

    base = [
        r.asDict()
        for r in ingest.stream_stream_left_outer(spark, sf_dir).collect()
    ]
    assert any(r["n_unmatched"] > 0 for r in base)  # contract has teeth
    for delay in (45, 90):
        got = [
            r.asDict()
            for r in ingest.stream_stream_left_outer(
                spark, sf_dir, delay_min=delay
            ).collect()
        ]
        assert got == base, f"delay={delay} changed the flushed result"


def test_footer_max_matches_scan(spark, sf_dir):
    """table_column_bounds (footer statistics) must equal the scan
    min and max — the sentinel bound may never under-report."""
    from iceberg_kafka_playgroud_spark.schema import (
        load_table,
        table_column_bounds,
    )

    scan_min, scan_max = (
        load_table(spark, sf_dir, "events")
        .agg(F.min("ts"), F.max("ts"))
        .collect()[0]
    )
    lo, hi = table_column_bounds(sf_dir, "events", "ts")
    assert hi == scan_max
    assert lo == scan_min


@pytest.mark.skipif(not os.path.isdir("/dev/shm"), reason="no tmpfs checkpoint base")
def test_stream_runs_leave_no_checkpoint_behind(spark, sf_dir):
    """Bounded replays checkpoint on tmpfs (RAM), so each run must
    remove its checkpoint once the query stops: a memory-sink query
    and a foreachBatch query leave no new entry in /dev/shm."""
    from iceberg_kafka_playgroud_spark.streaming import ingest

    before = set(os.listdir("/dev/shm"))
    assert ingest.stream_tumbling_counts(spark, sf_dir).count() > 0
    rate = ingest.stream_rate_limited_ingest(spark, sf_dir).first()
    assert rate["n_batches"] == ingest.N_RATE_FILES
    assert set(os.listdir("/dev/shm")) - before == set()
