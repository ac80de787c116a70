"""Canonical schemas + fixture-table loaders.

``PURCHASE_EVENT`` is the reference's one canonical Avro record
(``kafka_publisher.py:28-84``, name ``com.example.PurchaseEvent``)
re-expressed as a Spark ``StructType``: primitives + STRUCT + MAP +
ARRAY, all nullable (the S3 sink enables null handling,
``s3-connector-config.json:36``).

The fixture tables are the driver-generated TPC-H-ish star schema at
``/root/testdata/sf*/``; loaders here are the single place the rest of
the engine goes through, so path handling / registration stays uniform.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .plan_cache import memoized

# --- canonical PurchaseEvent schema (SURVEY §1.1) -------------------------

USER_DETAILS = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("age", T.IntegerType()),
        T.StructField("email", T.StringType()),
    ]
)

PURCHASE_EVENT = T.StructType(
    [
        # Unix epoch milliseconds (kafka_publisher.py:304)
        T.StructField("timestamp", T.LongType()),
        T.StructField("user_id", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("user_details", USER_DETAILS),
        T.StructField("purchase_metadata", T.MapType(T.StringType(), T.StringType())),
        T.StructField("previous_purchases", T.ArrayType(T.DoubleType())),
    ]
)

# Avro schema string for the same record — used by the Kafka source/sink
# round-trip (from_avro/to_avro). Field-for-field the reference's
# MESSAGE_SCHEMA (kafka_publisher.py:28-84).
PURCHASE_EVENT_AVRO = """
{
  "type": "record", "name": "PurchaseEvent", "namespace": "com.example",
  "fields": [
    {"name": "timestamp", "type": "long"},
    {"name": "user_id", "type": "string"},
    {"name": "action", "type": "string"},
    {"name": "amount", "type": "double"},
    {"name": "user_details", "type": {"type": "record", "name": "UserDetails",
      "fields": [
        {"name": "name", "type": "string"},
        {"name": "age", "type": "int"},
        {"name": "email", "type": "string"}]}},
    {"name": "purchase_metadata", "type": {"type": "map", "values": "string"}},
    {"name": "previous_purchases", "type": {"type": "array", "items": "double"}}
  ]
}
"""

# --- fixture tables (TESTDATA.md) -----------------------------------------

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# --- scan-layout compaction cache -----------------------------------------
#
# The driver fixtures are written as ONE parquet row group per table, so
# a Spark scan gets exactly one task with real work regardless of split
# config — the whole engine becomes single-threaded at the scan. A real
# lakehouse never serves queries from such a layout; it runs compaction
# (Iceberg `rewrite_data_files`) into many files / row groups sized for
# the cluster. This cache is that compaction step: big single-row-group
# inputs are rewritten ONCE (pyarrow, no Spark job) into `_SPLIT_FILES`
# single-row-group files, keyed by source size+mtime so staleness is
# detected. Values are byte-identical; only the file layout changes.
# At 100 TB the inputs already span many files and this path is inert.

_LAYOUT_CACHE_ROOT = os.environ.get(
    "SPARK_GRAFT_LAYOUT_CACHE",
    os.path.join(tempfile.gettempdir(), "spark_graft_layout_cache"),
)
_MIN_ROWS_TO_COMPACT = 100_000
_SPLIT_FILES = 32


def _compacted_source(sf_dir: str, name: str) -> str:
    """Return a scan-parallel path for the table: the original file if
    its layout is already splittable (or small), else a cached rewrite."""
    src = f"{sf_dir.rstrip('/')}/{name}.parquet"
    try:
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(src).metadata
        if meta.num_rows < _MIN_ROWS_TO_COMPACT or meta.num_row_groups >= 8:
            return src
        st = os.stat(src)
        key = f"{name}_{st.st_size}_{st.st_mtime_ns}"
        dest = os.path.join(
            _LAYOUT_CACHE_ROOT, os.path.basename(sf_dir.rstrip("/")), key
        )
        if os.path.isdir(dest):
            return dest
        tbl = pq.read_table(src)
        step = math.ceil(tbl.num_rows / _SPLIT_FILES)
        tmp = dest + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for i in range(_SPLIT_FILES):
            chunk = tbl.slice(i * step, step)
            if chunk.num_rows == 0:
                break
            pq.write_table(
                chunk,
                os.path.join(tmp, f"part-{i:05d}.parquet"),
                compression="snappy",
            )
        try:
            os.replace(tmp, dest)  # atomic publish; loser of a race cleans up
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
        return dest if os.path.isdir(dest) else src
    except Exception:
        return src


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the events fixture's ``ts`` to TimestampType (UTC).

    The fixture has shipped in two layouts across driver rounds:
    TIMESTAMP(NANOS) (surfaced as nanos-long under
    spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (surfaced as TIMESTAMP_NTZ). Handle both —
    plus already-normalized TimestampType — so neither layout can
    silently break event-time operators again. Values are naive UTC
    wall-clock (s3-connector-config.json:21-25), so under a UTC session
    time zone both conversions are lossless instant-preserving.
    """
    t = df.schema[col].dataType
    if isinstance(t, T.LongType):
        # nanos-long: truncate ns → µs exactly like DuckDB's
        # TIMESTAMP_NS → datetime conversion does.
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(t, T.TimestampNTZType):
        # naive-UTC µs: reinterpret as an instant under the UTC session
        # time zone (set by the caller) — a metadata-only cast.
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from parquet footers — the catalog-stats path.

    Reads O(row-groups) of metadata, no data scan: the right way to
    drive size-based plan choices (broadcast-vs-join thresholds) at any
    corpus size, where a ``df.count()`` would be a full extra pass.
    Handles both a single ``{name}.parquet`` file and a directory of
    part files (``pyarrow.dataset`` counts from footers either way).
    """
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {FIXTURE_TABLES}")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    try:
        return pq.ParquetFile(path).metadata.num_rows
    except OSError:
        return pads.dataset(path, format="parquet").count_rows()


def table_column_bounds(sf_dir: str, name: str, col: str) -> tuple:
    """Exact column ``(min, max)`` from parquet footer statistics — no
    data scan.

    The catalog-stats counterpart of ``table_row_count``: reads
    O(row-groups) of metadata, the right way to derive watermark /
    sentinel bounds and key-domain gates at any corpus size (a
    ``df.agg(min(col), max(col))`` is a full extra pass).  Timestamp
    columns come back as naive-UTC ``datetime`` under BOTH fixture
    layouts (TIMESTAMP_NTZ-micros yields datetime directly; nanos-long
    yields ints, truncated here to µs exactly like
    ``normalize_event_ts``).  Raises if any footer lacks min/max
    statistics — a silent fallback would under-report the domain and
    break watermark and packing proofs.
    """
    import datetime as _dt

    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {FIXTURE_TABLES}")
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    if os.path.isdir(path):
        files = pads.dataset(path, format="parquet").files
    else:
        files = [path]
    lo = hi = None
    is_nanos_ts = False
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
        # keyed on the column's LOGICAL type, not its name: any
        # nanos-encoded timestamp column (which pyarrow's statistics
        # surface as raw ints) gets the same ns → µs truncation as
        # normalize_event_ts, whatever it is called.  The time unit
        # is only exposed via the logical type's JSON form
        # (ParquetLogicalType has no 'unit' attribute).
        lt = md.schema.column(idx).logical_type
        if str(getattr(lt, "type", "")).upper() == "TIMESTAMP":
            try:
                import json as _json

                unit = _json.loads(lt.to_json()).get("timeUnit", "")
            except Exception:
                unit = ""
            is_nanos_ts = str(unit).lower() in ("nanos", "nanoseconds")
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                raise ValueError(
                    f"{f} row group {rg} has no min/max stats for {col!r}"
                )
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    if isinstance(hi, int) and is_nanos_ts:
        # nanos-long fixture layout: ns → µs truncation (normalize_event_ts)
        epoch = _dt.datetime(1970, 1, 1)
        lo, hi = (
            epoch + _dt.timedelta(microseconds=v // 1000) for v in (lo, hi)
        )
    return lo, hi


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan of one fixture table (SURVEY §2.1 S2).

    Plain ``spark.read.parquet`` so Catalyst gets full predicate
    pushdown / column pruning / partition discovery on whatever the
    caller layers on top. Scans go through the layout-compaction cache
    above so they parallelize across executor threads.
    """
    # Engine contract: all event/order time is UTC (the reference's
    # s3-connector-config.json:21-25). Set on EVERY load — including
    # memoized ones — so a caller that resets the session timezone
    # between loads can't shift to_date/window/date_trunc results on a
    # later memo hit. Runtime (not only our session factory) so the
    # engine also works under the correctness driver's own SparkSession.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _table_scan(spark, sf_dir, name)


# a DataFrame is an immutable logical plan, so the handle for (session,
# dir, table) is built once and reused — this is what a catalog does;
# it removes repeated footer reads and driver↔JVM round trips from
# every query's plan-construction path
@memoized("retained")
def _table_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in FIXTURE_TABLES:
        raise KeyError(f"unknown fixture table {name!r}; have {FIXTURE_TABLES}")
    if name == "events":
        # the TIMESTAMP(NANOS) fixture layout is rejected by Spark's
        # reader without this; harmless for the NTZ-micros layout
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(_compacted_source(sf_dir, name))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=FIXTURE_TABLES) -> None:
    """Register fixture tables as temp views for the SQL surface."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
