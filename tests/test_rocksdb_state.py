"""RocksDB state-store LARGE-STATE battery (r11 verdict #6).

``stream_state_rocksdb`` proves provider-independence of RESULTS; this
battery proves the deployment claim behind choosing RocksDB at all:
state that must not live on the executor heap.  It runs a stateful
aggregation over a keyspace of millions of DISTINCT keys with RocksDB's
memory budget bounded far below the state's natural size, then reads
the query's own ``stateOperators`` progress metrics to verify

  1. every key is in state (``numRowsTotal`` == the keyspace), and
  2. RocksDB held its bounded memory budget while doing it
     (``rocksdbTotalMemoryUsage`` <= the configured cap), with the
     overflow in SST files (``rocksdbSstFileSize`` > 0) — i.e. the
     state SPILLED, it wasn't just configured to be allowed to.

Gated behind SPARK_GRAFT_PERF=1: generates a multi-million-row fixture
and runs ~1 min of stateful streaming.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from iceberg_kafka_playgroud_spark.streaming.ingest import ROCKSDB_PROVIDER

PERF = os.environ.get("SPARK_GRAFT_PERF") == "1"
pytestmark = pytest.mark.skipif(
    not PERF, reason="large-state timing battery; set SPARK_GRAFT_PERF=1"
)

N_KEYS = 4_000_000
MEM_CAP_MB = 100  # << the ~50-byte/key natural state size (~200+ MB)


def _scoped_confs(spark, confs):
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    return saved


def _restore_confs(spark, saved):
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_rocksdb_state_spills_under_bounded_memory(spark, tmp_path):
    src = str(tmp_path / "keys")
    # N_KEYS distinct keys, one event-time column inside the watermark
    (
        spark.range(N_KEYS)
        .select(
            F.col("id").alias("k"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
        .write.mode("overwrite")
        .parquet(src)
    )
    schema = spark.read.parquet(src).schema
    confs = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
        "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB": str(
            MEM_CAP_MB
        ),
        # few state partitions so per-instance state is large enough
        # that the cap genuinely binds
        "spark.sql.shuffle.partitions": "4",
    }
    saved = _scoped_confs(spark, confs)
    try:
        stream = spark.readStream.schema(schema).parquet(src)
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy("k")
            .agg(F.count("*").alias("n"))
        )
        # checkpoint on real DISK, not ingest._drain's tmpfs default:
        # this query uploads state-store snapshots comparable to the
        # full state size, and the test's claim is precisely that the
        # state does NOT live in host memory
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .option(
                "checkpointLocation",
                str(tmp_path / "ckpt"),
            )
            .queryName(f"rocksdb_perf_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.lastProgress
    finally:
        _restore_confs(spark, saved)

    ops = progress["stateOperators"]
    assert len(ops) == 1
    op = ops[0]
    assert op["numRowsTotal"] == N_KEYS, op
    cm = op.get("customMetrics", {})
    # Spark 4.1's RocksDB custom metrics carry SST bytes and pinned-
    # block memory; the provider's total memory (memtables + block
    # cache under the shared bounded budget) is the operator-level
    # memoryUsedBytes.  The spill claim: all keys in state, memory at/
    # under the cap (+25% allocator slack), the bulk of the state in
    # SST files on disk.
    mem = op["memoryUsedBytes"]
    sst = cm.get("rocksdbSstFileSize")
    pinned = cm.get("rocksdbPinnedBlocksMemoryUsage")
    assert sst is not None, sorted(cm)
    assert mem <= MEM_CAP_MB * 1024 * 1024 * 1.25, mem
    assert sst > 0, cm
    # record the measured evidence for NOTES
    print(
        f"rocksdb large-state: keys={op['numRowsTotal']:,} "
        f"mem={mem / 1e6:.1f} MB (cap {MEM_CAP_MB} MB) "
        f"sst={sst / 1e6:.1f} MB pinned={(pinned or 0) / 1e6:.1f} MB"
    )
