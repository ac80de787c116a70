"""Custom Python DataSource (Spark 4 DataSource V2 Python API) —
SURVEY §2.1 source-category extension.

The reference's synthetic publisher (kafka_publisher.py's deterministic
purchase generator) re-expressed as a FIRST-CLASS Spark source: a
``spark.read.format("purchase_fabric")`` batch source implemented with
``pyspark.sql.datasource.DataSource`` — schema declaration, option
handling, and PARTITION-PARALLEL reads (each InputPartition generates
its own id range executor-side; the driver never materializes a row).

This is the integration shape for any Python-only system (internal
REST feeds, bespoke file formats, simulation generators) at 100 TB:
partition count scales with executors, generation is pure and
deterministic per partition, and Catalyst sees a normal relation it
can prune/aggregate over.

The row rule matches sources/rate_fabric.py exactly (ts = base +
id·5000 ms, amount = (ts//10 % 1000)/100), so the SQL oracle replays
the source from ``generate_series``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..plan_cache import memoized
from ..tmpdirs import tmpdir_reclaimed_at_exit

FABRIC_BASE_MS = 1740787200000
DEFAULT_ROWS = 1200
DEFAULT_PARTS = 8
N_BUCKETS = 4


class FabricDataSource(DataSource):
    """Batch source producing the deterministic purchase fabric."""

    @classmethod
    def name(cls) -> str:
        return "purchase_fabric"

    def schema(self) -> str:
        return "id bigint, ts_ms bigint, user_id string, amount double"

    def reader(self, schema) -> "FabricReader":
        return FabricReader(self.options)


class FabricReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n_rows = int(options.get("n_rows", DEFAULT_ROWS))
        self.n_parts = int(options.get("n_parts", DEFAULT_PARTS))

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(i) for i in range(self.n_parts)]

    def read(self, partition: InputPartition):
        i = partition.value
        lo = i * self.n_rows // self.n_parts
        hi = (i + 1) * self.n_rows // self.n_parts
        for rid in range(lo, hi):
            ts = FABRIC_BASE_MS + rid * 5000
            yield (rid, ts, f"user_{rid % 1000}", (ts // 10 % 1000) / 100.0)


def _register(spark: SparkSession, cls=None) -> None:
    """Register a Python DataSource class once per session —
    re-registering the same name raises, so gate on a session-local
    marker keyed by the source name (one guard for every source/sink
    variant in this module)."""
    cls = cls or FabricDataSource
    key = f"spark_graft.pyds_registered.{cls.name()}"
    if spark.conf.get(key, None) != "1":
        spark.dataSource.register(cls)
        spark.conf.set(key, "1")


def _bucket_audit(df: DataFrame) -> DataFrame:
    """The shared per-bucket audit fold (count, exact cents, id-sum)
    every fabric variant proves itself with — one definition for the
    four source/sink/stream/pushdown entries."""
    return (
        df.groupBy((F.col("id") % N_BUCKETS).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.round(F.col("amount") * 100).cast("long"))
            .cast("long")
            .alias("cents_sum"),
            F.sum("id").cast("long").alias("id_sum"),
        )
        .orderBy("bucket")
    )


def source_python_datasource(spark: SparkSession, sf: str) -> DataFrame:
    """Read the custom Python source and fold it to a per-bucket audit
    (count, exact cents, id-sum) — proving the source's schema,
    options, partitioning, and row contents all at once. The oracle
    regenerates the identical rows from generate_series."""
    _register(spark)
    return _bucket_audit(
        spark.read.format("purchase_fabric")
        .option("n_rows", str(DEFAULT_ROWS))
        .option("n_parts", str(DEFAULT_PARTS))
        .load()
    )


QUERIES = {
    "source_python_datasource": source_python_datasource,
}

ORACLES = {
    "source_python_datasource": f"""
        WITH fab AS (
          SELECT id, ({FABRIC_BASE_MS} + id * 5000) // 10 % 1000 AS cents
          FROM (SELECT unnest(generate_series(0, {DEFAULT_ROWS - 1})) AS id)
        )
        SELECT CAST(id % {N_BUCKETS} AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(cents) AS BIGINT) AS cents_sum,
               CAST(SUM(id) AS BIGINT) AS id_sum
        FROM fab GROUP BY bucket ORDER BY bucket
    """,
}


# ---------------------------------------------------------------------------
# Custom Python data SINK (DataSourceWriter) — the write half of the
# Spark 4 Python DataSource V2 surface. Demonstrates the two-phase
# commit protocol: executors write to hidden temp files and return
# commit messages; the DRIVER publishes them atomically (rename) plus
# a manifest, so failed/speculative tasks can never leave partial
# output visible — the same write-audit-publish discipline as
# snapshots.py, at the task level.
# ---------------------------------------------------------------------------

import dataclasses as _dc

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


@_dc.dataclass
class _JsonlCommit(WriterCommitMessage):
    tmp_path: str
    n_rows: int


class JsonlCommitDataSource(DataSource):
    """Batch sink writing JSON-lines with driver-side atomic publish."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_commit_dir"

    def writer(self, schema, overwrite: bool) -> "JsonlCommitWriter":
        return JsonlCommitWriter(self.options)


class JsonlCommitWriter(DataSourceWriter):
    def __init__(self, options) -> None:
        self.path = options["path"]

    def write(self, iterator) -> _JsonlCommit:
        # executor-side: spool to a dot-prefixed temp file the readers
        # (glob "part-*.jsonl") can never see
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(tmp, "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _JsonlCommit(tmp_path=tmp, n_rows=n)

    def commit(self, messages) -> None:
        # driver-side publish: rename every temp spool to its visible
        # name, then write the manifest LAST — readers that require the
        # manifest observe either the full commit or nothing
        import json
        import os

        entries = []
        for i, m in enumerate(messages):
            final = os.path.join(self.path, f"part-{i:05d}.jsonl")
            os.replace(m.tmp_path, final)
            entries.append(
                {"file": os.path.basename(final), "n_rows": m.n_rows}
            )
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
            json.dump({"files": entries}, fh)

    def abort(self, messages) -> None:
        import os

        for m in messages:
            try:
                os.remove(m.tmp_path)
            except OSError:
                pass


def _register_sink(spark: SparkSession) -> None:
    _register(spark, JsonlCommitDataSource)


@memoized("retained")
def _sink_stage(spark: SparkSession) -> str:
    """The fabric written once per session through the custom Python
    sink; returns the published directory."""
    out = tmpdir_reclaimed_at_exit("jsonl_sink_")
    fab = (
        spark.read.format("purchase_fabric")
        .option("n_rows", str(DEFAULT_ROWS))
        .option("n_parts", str(DEFAULT_PARTS))
        .load()
    )
    fab.write.format("jsonl_commit_dir").option("path", out).mode(
        "append"
    ).save()
    return out


def sink_python_datasource(spark: SparkSession, sf: str) -> DataFrame:
    """Write the deterministic fabric through the custom Python SINK,
    then read the published files back and fold them to the same
    per-bucket audit as ``source_python_datasource`` — proving schema
    fidelity, the executor-spool/driver-publish commit protocol, and
    the manifest's row-count claim (cross-checked against the data) in
    one oracle-paired query. Temp spools are invisible to the
    read-back glob, so a partial commit would surface as a hash
    mismatch, not silence.
    """
    import json as _json
    import os

    _register(spark)
    _register_sink(spark)
    out = _sink_stage(spark)
    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        manifest_rows = sum(e["n_rows"] for e in _json.load(fh)["files"])
    # pathGlobFilter on the literal dir (not a glob-in-path) keeps the
    # reader off temp spools AND the manifest without tripping the
    # FileStreamSink metadata probe's noisy existence warning
    back = (
        spark.read.schema(
            "id bigint, ts_ms bigint, user_id string, amount double"
        )
        .option("pathGlobFilter", "part-*.jsonl")
        .json(out)
    )
    return (
        back.groupBy((F.col("id") % N_BUCKETS).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.round(F.col("amount") * 100).cast("long"))
            .cast("long")
            .alias("cents_sum"),
            F.sum("id").cast("long").alias("id_sum"),
        )
        # manifest audit rides along: its total must equal the fabric
        # row count in every bucket row (a constant column the oracle
        # replays), so a lost/duplicated spool breaks the hash
        .withColumn(
            "manifest_rows", F.lit(int(manifest_rows)).cast("long")
        )
        .orderBy("bucket")
    )


QUERIES["sink_python_datasource"] = sink_python_datasource
ORACLES["sink_python_datasource"] = f"""
WITH fab AS (
  SELECT id, ({FABRIC_BASE_MS} + id * 5000) // 10 % 1000 AS cents
  FROM (SELECT unnest(generate_series(0, {DEFAULT_ROWS - 1})) AS id)
)
SELECT CAST(id % {N_BUCKETS} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS cents_sum,
       CAST(SUM(id) AS BIGINT) AS id_sum,
       CAST({DEFAULT_ROWS} AS BIGINT) AS manifest_rows
FROM fab GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Custom Python STREAMING source (SimpleDataSourceStreamReader) — the
# readStream half of the Spark 4 Python DataSource V2 surface. The
# driver tracks offsets as plain dicts ({"i": next_row}); each
# micro-batch reads [start, end) of the same deterministic fabric, so
# offset bookkeeping — not the row rule — is what this source proves:
# every row is emitted exactly once across however many micro-batches
# the trigger schedules.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader

STREAM_CHUNK = 120  # rows per micro-batch read


def _fabric_rows(lo: int, hi: int):
    # a LIST iterator, not a generator: the driver-side prefetch cache
    # copy.copy()s the returned iterator, which generators don't support
    return iter(
        [
            (
                rid,
                FABRIC_BASE_MS + rid * 5000,
                f"user_{rid % 1000}",
                ((FABRIC_BASE_MS + rid * 5000) // 10 % 1000) / 100.0,
            )
            for rid in range(lo, hi)
        ]
    )


class FabricStreamReader(SimpleDataSourceStreamReader):
    """Bounded stream: offsets advance by STREAM_CHUNK until n_rows."""

    def __init__(self, options) -> None:
        self.n_rows = int(options.get("n_rows", DEFAULT_ROWS))

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        i = start["i"]
        hi = min(i + STREAM_CHUNK, self.n_rows)
        return _fabric_rows(i, hi), {"i": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay path for recovery: offsets alone reconstruct the batch
        return _fabric_rows(start["i"], end["i"])

    def commit(self, end: dict) -> None:
        pass


class FabricStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "purchase_fabric_stream"

    def schema(self) -> str:
        return "id bigint, ts_ms bigint, user_id string, amount double"

    def simpleStreamReader(self, schema) -> FabricStreamReader:
        return FabricStreamReader(self.options)


def _register_stream(spark: SparkSession) -> None:
    _register(spark, FabricStreamDataSource)


def source_python_stream_reader(spark: SparkSession, sf: str) -> DataFrame:
    """Read the fabric through the custom Python STREAMING source and
    fold to the per-bucket audit — proving initialOffset/read offset
    bookkeeping delivers every row exactly once across micro-batches.
    The Python microbatch stream does not support Trigger.AvailableNow
    (Spark logs the single-batch fallback), so the query runs the real
    default-trigger loop and stops once the bounded generator drains —
    exactly DEFAULT_ROWS rows in ≥ n_rows/STREAM_CHUNK micro-batches.
    The oracle regenerates the rows from generate_series, identical to
    the batch source's: same rule, different transport.
    """
    import time
    import uuid

    _register_stream(spark)
    ckpt = tmpdir_reclaimed_at_exit("fab_stream_ckpt_")
    name = f"fab_stream_{uuid.uuid4().hex[:12]}"
    stream = (
        spark.readStream.format("purchase_fabric_stream")
        .option("n_rows", str(DEFAULT_ROWS))
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.monotonic() + 120
        while spark.table(name).count() < DEFAULT_ROWS:
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"python stream source stalled: "
                    f"{spark.table(name).count()}/{DEFAULT_ROWS} rows"
                )
            time.sleep(0.3)
    finally:
        q.stop()
    return (
        spark.table(name)
        .groupBy((F.col("id") % N_BUCKETS).alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.round(F.col("amount") * 100).cast("long"))
            .cast("long")
            .alias("cents_sum"),
            F.sum("id").cast("long").alias("id_sum"),
        )
        .orderBy("bucket")
    )


QUERIES["source_python_stream_reader"] = source_python_stream_reader
ORACLES["source_python_stream_reader"] = ORACLES["source_python_datasource"]


# ---------------------------------------------------------------------------
# Custom Python STREAMING sink (DataSourceStreamWriter) — the last
# quadrant of the Python DataSource V2 surface (batch read, batch
# write, stream read, stream write).  Per-EPOCH transactional commit:
# executors spool dot-prefixed temp files; the driver's commit(batchId)
# renames them to epoch-addressed visible names and THEN atomically
# publishes a per-epoch manifest — a reader that trusts manifests
# observes each micro-batch all-or-nothing, which is the foreachBatch/
# FileStreamSink guarantee re-expressed through the Python API.
# Reference counterpart: kafka_publisher.py's per-send delivery
# callbacks — same at-least-once-spool/exactly-once-publish split.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import DataSourceStreamWriter


@_dc.dataclass
class _EpochCommit(WriterCommitMessage):
    tmp_path: str
    n_rows: int


class JsonlEpochStreamWriter(DataSourceStreamWriter):
    def __init__(self, options) -> None:
        self.path = options["path"]

    def write(self, iterator) -> _EpochCommit:
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(tmp, "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _EpochCommit(tmp_path=tmp, n_rows=n)

    def commit(self, messages, batchId: int) -> None:
        # NOTE: commit() runs on the DRIVER while write() spooled the
        # temp files on EXECUTORS — the os.replace() below therefore
        # assumes driver and executors share a filesystem.  That holds
        # in local mode (and any shared-FS deployment: NFS, a fuse
        # mount); on a multi-host cluster with node-local disks the
        # write() half must stage to a driver-visible path (object
        # store / DFS) before this protocol applies as-is.
        import json
        import os

        cdir = os.path.join(self.path, "_commits")
        os.makedirs(cdir, exist_ok=True)
        entries = []
        for i, m in enumerate(messages):
            final = os.path.join(
                self.path, f"epoch-{batchId:05d}-part-{i:04d}.jsonl"
            )
            os.replace(m.tmp_path, final)
            entries.append(
                {"file": os.path.basename(final), "n_rows": m.n_rows}
            )
        # manifest LAST, via temp+rename: the epoch becomes visible to
        # manifest-trusting readers atomically or not at all
        tmp = os.path.join(cdir, f".tmp-{batchId:05d}.json")
        with open(tmp, "w") as fh:
            json.dump({"batch_id": batchId, "files": entries}, fh)
        os.replace(tmp, os.path.join(cdir, f"{batchId:05d}.json"))

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            try:
                os.remove(m.tmp_path)
            except OSError:
                pass


class JsonlEpochSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_epoch_sink"

    def streamWriter(self, schema, overwrite) -> JsonlEpochStreamWriter:
        return JsonlEpochStreamWriter(self.options)


@memoized("retained")
def _stream_sink_stage(spark: SparkSession) -> str:
    """The fabric streamed once per session from the custom Python
    stream source into the custom Python stream sink; returns the sink
    directory once every row is committed."""
    import json as _json
    import os
    import time

    out = tmpdir_reclaimed_at_exit("jsonl_stream_sink_")
    ckpt = tmpdir_reclaimed_at_exit("jsonl_stream_sink_ckpt_")
    stream = (
        spark.readStream.format("purchase_fabric_stream")
        .option("n_rows", str(DEFAULT_ROWS))
        .load()
    )
    q = (
        stream.writeStream.format("jsonl_epoch_sink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )

    def _committed() -> int:
        cdir = os.path.join(out, "_commits")
        if not os.path.isdir(cdir):
            return 0
        tot = 0
        for f in os.listdir(cdir):
            if f.startswith("."):
                continue
            with open(os.path.join(cdir, f)) as fh:
                tot += sum(e["n_rows"] for e in _json.load(fh)["files"])
        return tot

    try:
        deadline = time.monotonic() + 120
        while _committed() < DEFAULT_ROWS:
            # surface the query's own failure immediately instead
            # of spinning out the deadline and masking it with a
            # generic TimeoutError
            exc = q.exception()
            if exc is not None:
                raise exc
            if not q.isActive:
                # the query may have failed between the exception()
                # check above and the isActive check — re-check so
                # the real streaming error isn't masked by the
                # generic RuntimeError
                exc = q.exception()
                if exc is not None:
                    raise exc
                raise RuntimeError(
                    "python stream sink query terminated without "
                    f"an exception at {_committed()}/{DEFAULT_ROWS}"
                    " committed rows"
                )
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"python stream sink stalled: "
                    f"{_committed()}/{DEFAULT_ROWS} rows committed"
                )
            time.sleep(0.3)
    finally:
        q.stop()
    return out


def sink_python_stream_writer(spark: SparkSession, sf: str) -> DataFrame:
    """Full Python-V2 streaming loop: the custom Python STREAM source
    feeds the custom Python STREAM sink, micro-batch by micro-batch,
    with the sink's per-epoch rename-then-manifest commit protocol in
    between.  Read-back opens ONLY manifest-listed files (an
    uncommitted epoch is invisible even if its rename half landed) and
    folds to the shared per-bucket audit plus the manifests' total row
    claim — so a lost epoch, a replayed epoch, or an over/under-counted
    manifest all surface as a hash mismatch.  The oracle regenerates
    the fabric from ``generate_series``: same rows, two custom
    transports and one commit protocol apart.
    """
    import json as _json
    import os

    _register_stream(spark)
    _register(spark, JsonlEpochSinkDataSource)
    out = _stream_sink_stage(spark)
    cdir = os.path.join(out, "_commits")
    files, manifest_rows = [], 0
    for f in sorted(os.listdir(cdir)):
        if f.startswith("."):
            continue
        with open(os.path.join(cdir, f)) as fh:
            man = _json.load(fh)
        for e in man["files"]:
            files.append(os.path.join(out, e["file"]))
            manifest_rows += e["n_rows"]
    back = spark.read.schema(
        "id bigint, ts_ms bigint, user_id string, amount double"
    ).json(files)
    return _bucket_audit(back).withColumn(
        "committed_rows", F.lit(int(manifest_rows)).cast("long")
    )


QUERIES["sink_python_stream_writer"] = sink_python_stream_writer
ORACLES["sink_python_stream_writer"] = f"""
WITH fab AS (
  SELECT id, ({FABRIC_BASE_MS} + id * 5000) // 10 % 1000 AS cents
  FROM (SELECT unnest(generate_series(0, {DEFAULT_ROWS - 1})) AS id)
)
SELECT CAST(id % {N_BUCKETS} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS cents_sum,
       CAST(SUM(id) AS BIGINT) AS id_sum,
       CAST({DEFAULT_ROWS} AS BIGINT) AS committed_rows
FROM fab GROUP BY bucket ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Filter pushdown (Spark 4.1 DataSourceReader.pushFilters): the source
# receives the query's conjunctive filters at PLANNING time and prunes
# entire partitions before any executor runs — the Python-source
# equivalent of parquet row-group pruning, and the difference between
# "scan everything, filter in Spark" and a real predicate-pushdown
# source at 100 TB.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402
    GreaterThanOrEqual,
    LessThan,
)

class FabricPushdownDataSource(DataSource):
    """Purchase fabric with id-range filter pushdown."""

    @classmethod
    def name(cls) -> str:
        return "purchase_fabric_pushdown"

    def schema(self) -> str:
        return "id bigint, ts_ms bigint, user_id string, amount double"

    def reader(self, schema) -> "FabricPushdownReader":
        return FabricPushdownReader(self.options)


class FabricPushdownReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n_rows = int(options.get("n_rows", DEFAULT_ROWS))
        self.n_parts = int(options.get("n_parts", DEFAULT_PARTS))
        self.id_lo = 0
        self.id_hi = self.n_rows  # exclusive

    def pushFilters(self, filters):
        # accept id >= X and id < Y (the partition-prunable shapes);
        # everything else stays Spark-side.  Per the API contract the
        # accepted filters are FULLY handled here, so they are not
        # yielded back.
        for f in filters:
            if isinstance(f, GreaterThanOrEqual) and f.attribute == ("id",):
                self.id_lo = max(self.id_lo, int(f.value))
            elif isinstance(f, LessThan) and f.attribute == ("id",):
                self.id_hi = min(self.id_hi, int(f.value))
            else:
                yield f

    def partitions(self) -> list[InputPartition]:
        parts = []
        for i in range(self.n_parts):
            lo = i * self.n_rows // self.n_parts
            hi = (i + 1) * self.n_rows // self.n_parts
            # whole-partition pruning against the pushed id range
            if hi <= self.id_lo or lo >= self.id_hi:
                continue
            parts.append(
                InputPartition((max(lo, self.id_lo), min(hi, self.id_hi)))
            )
        # NB: this runs in the Python PLANNER WORKER, not the driver
        # process — pruning is observable from the driver as the scan
        # RDD's partition count (see the plan test)
        return parts

    def read(self, partition: InputPartition):
        lo, hi = partition.value
        for rid in range(lo, hi):
            ts = FABRIC_BASE_MS + rid * 5000
            yield (rid, ts, f"user_{rid % 1000}", (ts // 10 % 1000) / 100.0)


PUSHDOWN_ID_LO = 300
PUSHDOWN_ID_HI = 750


def source_python_pushdown(spark: SparkSession, sf: str) -> DataFrame:
    """Filter-pushdown Python source (Spark 4.1 ``pushFilters``): the
    id-range predicate reaches the source at planning time and prunes
    whole partitions before any task launches — only the id ranges
    that can match are ever generated (pinned by
    tests/test_plans.py::test_python_source_pushdown_prunes_partitions).
    Same row rule as ``purchase_fabric``, so the oracle replays the
    surviving range from generate_series.
    """
    # Pushdown is opt-in (runtime conf).  Deliberately NOT scoped
    # with session.scoped_conf like the streaming confs: the returned
    # frame is lazy and every later action RE-PLANS it (AQE + DSv2
    # pushFilters run per QueryExecution), so restoring after build
    # would silently disable the pushdown this operator exists to
    # exercise.  Leaving it on is safe session-wide — the flag only
    # enables an optimization hook for Python sources that implement
    # pushFilters; it changes no operator's semantics.  get_spark()
    # sets it at session setup; this set covers plain sessions (the
    # grading driver's) and is skipped when already on.
    if spark.conf.get("spark.sql.python.filterPushdown.enabled", None) != "true":
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    _register(spark, FabricPushdownDataSource)
    return _bucket_audit(
        spark.read.format("purchase_fabric_pushdown")
        .option("n_rows", str(DEFAULT_ROWS))
        .option("n_parts", str(DEFAULT_PARTS))
        .load()
        .where(
            (F.col("id") >= PUSHDOWN_ID_LO) & (F.col("id") < PUSHDOWN_ID_HI)
        )
    )


QUERIES["source_python_pushdown"] = source_python_pushdown
ORACLES["source_python_pushdown"] = f"""
WITH fab AS (
  SELECT id, ({FABRIC_BASE_MS} + id * 5000) // 10 % 1000 AS cents
  FROM (SELECT unnest(generate_series({PUSHDOWN_ID_LO},
                                      {PUSHDOWN_ID_HI - 1})) AS id)
)
SELECT CAST(id % {N_BUCKETS} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS cents_sum,
       CAST(SUM(id) AS BIGINT) AS id_sum
FROM fab GROUP BY bucket ORDER BY bucket
"""
