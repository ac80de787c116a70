"""Relational query inventory — SURVEY §2.3 (P1-P6) + §2.6 + §2.7.

The reference exposes this surface through its arbitrary-SQL passthrough
endpoint (``duckdb_rest_server.py:67-84``); here every category is a
declarative DataFrame/SQL plan so Catalyst gets pushdown, pruning, join
selection and AQE for free.

Oracle-parity rules used throughout (so the driver's order-insensitive
value-hash matches DuckDB bit-for-bit):

- money math is integer-cents arithmetic: ``round(x*100)`` → BIGINT,
  summed as int64 (exact and association-order-independent; Spark keeps
  the whole aggregate in primitive-long codegen, ~1.5× faster than the
  DECIMAL path it replaces), cast to DOUBLE only at the end. Products
  with rate columns keep the constant factors OUT of the sum —
  ``Σ p(100−d) = 100·Σp − Σ(p·d)`` — so the per-row magnitude is
  ≤ price_cents·rate_cents ≈ 10⁹ and the int64 sum is exact to ~10¹⁰
  rows PER GROUP (≈ sf10⁴, far past the bench scales; for groups beyond
  that, widen the final accumulator to DECIMAL(38) — the formulation
  this replaced — or two-level the sum as in ``agg_salted_skew``);
- averages are written ``CAST(sum AS DOUBLE) / CAST(n AS DOUBLE)``
  (one well-defined IEEE division) instead of native AVG-over-double;
- every computed column is aliased identically in the DataFrame plan and
  the oracle SQL;
- queries with LIMIT > 0 carry a total ORDER BY (unique tie-break) so the
  selected row set is deterministic;
- rounding of genuinely-floating outputs happens at ≥6 decimals only.
- DuckDB sums BIGINT into HUGEINT (int128) — identical integers while
  Spark's long doesn't overflow, so the final CAST AS DOUBLE agrees.
  ``round()`` ties can't bite: every money column is 2-decimal, so
  x·100 is within 1e-9 of an integer, never at .5 (asserted in
  tests/test_properties.py).

Scale notes are attached per query; the common posture: dimension joins
(region/nation/customer/supplier/part) broadcast — at 100 TB the fact
tables (lineitem/orders/events) are the only shuffled inputs, and those
shuffles carry pre-aggregated / pre-projected rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..plan_cache import memoized
from ..schema import load_table
from ..session import scoped_conf
from ..tmpdirs import tmpdir_reclaimed_at_exit


def _cents(col: str | F.Column) -> F.Column:
    """Exact integer cents of a 2-decimal money column (int64)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def _dbl(c: F.Column) -> F.Column:
    return c.cast("double")


def _revenue_sum() -> F.Column:
    """``Σ p·(1−d)`` as exact factored int64 sums, surfaced in dollars:
    ``(100·Σp − Σ(p·d)) / 10⁴`` — constants stay out of the sums, so the
    per-row magnitude is price_cents·disc_cents ≤ ~10⁹."""
    p, d = _cents("l_extendedprice"), _cents("l_discount")
    return _dbl(F.lit(100) * F.sum(p) - F.sum(p * d)) / F.lit(10000.0)


# SQL twins of the helpers above (DuckDB sums BIGINT→HUGEINT; values are
# identical to Spark's long sums while in range, so the DOUBLE casts agree)
_C = "CAST(round({c} * 100) AS BIGINT)"
_CSUM = "CAST(SUM(CAST(round({c} * 100) AS BIGINT)) AS DOUBLE) / 100.0"
_REV_SQL = (
    f"CAST(100 * SUM({_C.format(c='l_extendedprice')}) "
    f"- SUM({_C.format(c='l_extendedprice')} * {_C.format(c='l_discount')}) "
    "AS DOUBLE) / 10000.0"
)


# --------------------------------------------------------------------------
# §2.3 — projections / filters / limits
# --------------------------------------------------------------------------


def scan_project(spark: SparkSession, sf: str) -> DataFrame:
    """P1: projection narrowed at the parquet scan (column pruning)."""
    return load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )


def limit0_probe(spark: SparkSession, sf: str) -> DataFrame:
    """P3: LIMIT 0 schema probe (reference duckdb_rest_server.py:101-104)."""
    return load_table(spark, sf, "events").limit(0)


def sort_topk(spark: SparkSession, sf: str) -> DataFrame:
    """P2 + §2.6 top-k: total order + LIMIT → TakeOrderedAndProject
    (no global sort materialization; each partition keeps k rows)."""
    return (
        load_table(spark, sf, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


def filter_predicates(spark: SparkSession, sf: str) -> DataFrame:
    """Comparison + IN + BETWEEN predicates, all pushed to the scan."""
    l = load_table(spark, sf, "lineitem")
    return l.filter(
        F.col("l_returnflag").isin("A", "N")
        & F.col("l_quantity").between(10, 20)
        & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


def filter_like(spark: SparkSession, sf: str) -> DataFrame:
    """LIKE / prefix predicates (parquet dictionary + string pushdown)."""
    p = load_table(spark, sf, "part")
    return p.filter(
        F.col("p_name").like("%small%") | F.col("p_type").like("SMALL%")
    ).select("p_partkey", "p_name", "p_type")


def partition_prune_time(spark: SparkSession, sf: str) -> DataFrame:
    """P6: time-range predicate → row-group/partition pruning; on a
    date-partitioned lake layout this prunes whole directories."""
    e = load_table(spark, sf, "events")
    return (
        e.filter(
            (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-12").cast("timestamp"))
        )
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day_ts"))
        .agg(F.count("*").alias("n_events"))
    )


def files_glob_listing(spark: SparkSession, sf: str) -> DataFrame:
    """S4: file listing via input_file_name over a scan (reference
    ``SELECT * FROM glob(...)`` at duckdb_rest_server.py:111).

    Listed over ``documents`` (small at every bench scale) so the name
    set is layout-stable; big tables go through the compaction cache
    and would list cache part-files instead of the source name."""
    l = load_table(spark, sf, "documents")
    return (
        l.select(
            F.regexp_extract(F.input_file_name(), r"([^/]+\.parquet)", 1).alias(
                "file_name"
            )
        )
        .distinct()
    )


# --------------------------------------------------------------------------
# §2.6 — aggregation
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter → hash agg (partial+final) → sort.
    The shuffle carries only 4 grouped rows per partition — optimal at
    any scale. All six money sums are primitive int64 (module
    docstring): ``(100−d)(100+t)`` is expanded so the sums carry only
    p, p·d, p·t, p·d·t and the constants multiply the FINISHED sums."""
    l = load_table(spark, sf, "lineitem")
    p, q, d, t = (
        _cents("l_extendedprice"),
        _cents("l_quantity"),
        _cents("l_discount"),
        _cents("l_tax"),
    )
    n = F.count("*")
    sp, sq, sd = F.sum(p), F.sum(q), F.sum(d)
    spd, spt, spdt = F.sum(p * d), F.sum(p * t), F.sum(p * d * t)
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (_dbl(sq) / F.lit(100.0)).alias("sum_qty"),
            (_dbl(sp) / F.lit(100.0)).alias("sum_base_price"),
            (_dbl(F.lit(100) * sp - spd) / F.lit(10000.0)).alias("sum_disc_price"),
            (
                _dbl(F.lit(10000) * sp + F.lit(100) * spt - F.lit(100) * spd - spdt)
                / F.lit(1000000.0)
            ).alias("sum_charge"),
            (_dbl(sq) / F.lit(100.0) / _dbl(n)).alias("avg_qty"),
            (_dbl(sp) / F.lit(100.0) / _dbl(n)).alias("avg_price"),
            (_dbl(sd) / F.lit(100.0) / _dbl(n)).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_P = _C.format(c="l_extendedprice")
_Q1_Q = _C.format(c="l_quantity")
_Q1_D = _C.format(c="l_discount")
_Q1_T = _C.format(c="l_tax")

ORACLE_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({_Q1_Q}) AS DOUBLE) / 100.0 AS sum_qty,
       CAST(SUM({_Q1_P}) AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(100 * SUM({_Q1_P}) - SUM({_Q1_P} * {_Q1_D}) AS DOUBLE) / 10000.0 AS sum_disc_price,
       CAST(10000 * SUM({_Q1_P}) + 100 * SUM({_Q1_P} * {_Q1_T}) - 100 * SUM({_Q1_P} * {_Q1_D}) - SUM({_Q1_P} * {_Q1_D} * {_Q1_T}) AS DOUBLE) / 1000000.0 AS sum_charge,
       CAST(SUM({_Q1_Q}) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
       CAST(SUM({_Q1_P}) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS avg_price,
       CAST(SUM({_Q1_D}) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def agg_count_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """COUNT(DISTINCT) — expand+two-phase agg under the hood."""
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


def agg_having(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY + HAVING (post-aggregation filter)."""
    l = load_table(spark, sf, "lineitem")
    return (
        l.groupBy("l_partkey")
        .agg((_dbl(F.sum(_cents("l_quantity"))) / F.lit(100.0)).alias("total_qty"))
        .filter(F.col("total_qty") > 900)
    )


def agg_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total)."""
    l = load_table(spark, sf, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            (_dbl(F.sum(_cents("l_quantity"))) / F.lit(100.0)).alias("qty"),
        )
    )


def agg_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE grouping sets (all combinations)."""
    o = load_table(spark, sf, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            (_dbl(F.sum(_cents("o_totalprice"))) / F.lit(100.0)).alias("total"),
        )
    )


def pivot_linestatus(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot — conditional aggregation per pivot value."""
    l = load_table(spark, sf, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(_dbl(F.sum(_cents("l_quantity"))) / F.lit(100.0))
    )


def unpivot_part_measures(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot (melt) — wide numeric columns to (measure, value) long
    format, the inverse of ``pivot_linestatus``. A pure narrow
    projection (each input row fans out to k rows scan-locally), so it
    costs zero shuffle at any scale."""
    p = load_table(spark, sf, "part")
    return p.select("p_partkey", "p_size", "p_retailprice").unpivot(
        ["p_partkey"],
        ["p_size", "p_retailprice"],
        "measure",
        "value",
    ).withColumn("value", F.col("value").cast("double"))


def table_profile_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Column-level profiling (the ANALYZE/data-quality pass): per
    column of ``orders`` — null count, exact distinct count, and the
    table row count. One pass with conditional aggregates; the
    distinct counts shuffle once each, all map-side combined. At
    100 TB swap exact COUNT(DISTINCT) for approx_count_distinct
    per-column without changing the output contract."""
    o = load_table(spark, sf, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    total = o.count()
    aggs = []
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"n_{c}"))
        aggs.append(F.countDistinct(c).alias(f"d_{c}"))
    row = o.agg(*aggs)
    stacked = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"n_{c}").cast("long").alias("n_nulls"),
                        F.col(f"d_{c}").cast("long").alias("n_distinct"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return stacked.select(
        "p.column", "p.n_nulls", "p.n_distinct",
        F.lit(total).cast("long").alias("n_rows"),
    )


ZORDER_BITS = 8  # bits interleaved per dimension
ZORDER_BUCKET_SHIFT = 8  # z >> shift → layout bucket

# identical arithmetic text for Spark expr() and the DuckDB oracle:
# bit i of x extracted as (x % 2^(i+1)) >= 2^i — no shift or integer-
# division operator exists in BOTH SQL dialects (Spark lacks //,
# DuckDB lacks DIV), but %, comparison, and CASE are shared
_Z_INTERLEAVE = " + ".join(
    f"(CASE WHEN ({{a}} % {1 << (i + 1)}) >= {1 << i}"
    f" THEN {1 << (2 * i)} ELSE 0 END)"
    f" + (CASE WHEN ({{b}} % {1 << (i + 1)}) >= {1 << i}"
    f" THEN {1 << (2 * i + 1)} ELSE 0 END)"
    for i in range(ZORDER_BITS)
)


def zorder_layout_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Z-ORDER clustering audit — the lake-maintenance primitive behind
    OPTIMIZE ZORDER BY: interleave the bits of two scan dimensions
    (customer bucket, order-day) into a space-filling-curve key, group
    rows into z-buckets, and report each bucket's min/max per
    dimension. Tight per-bucket ranges on BOTH dimensions are exactly
    what makes file-level min/max stats prune multi-predicate scans.

    The interleave is pure integer arithmetic (shared expression text
    with the oracle — no engine-specific shift builtins), zero-shuffle
    until the bucket rollup. At 100 TB this keys a repartitionByRange
    write; the audit itself is the cheap part.
    """
    o = load_table(spark, sf, "orders")
    a = f"(o_custkey % {1 << ZORDER_BITS})"
    # Spark lacks epoch_us; the oracle spells the SAME day number via
    # epoch_us/86400e6 (floors agree for non-negative times)
    day_spark = "CAST(floor(unix_timestamp(o_orderdate) / 86400) AS BIGINT)"
    b = f"({{day}} % {1 << ZORDER_BITS})"
    z_spark = _Z_INTERLEAVE.format(a=a, b=b.format(day=day_spark))
    return (
        o.select(
            F.col("o_custkey"),
            F.expr(day_spark).alias("day_num"),
            F.expr(f"({z_spark}) DIV {1 << ZORDER_BUCKET_SHIFT}").alias(
                "z_bucket"
            ),
        )
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
            F.min("day_num").alias("min_day"),
            F.max("day_num").alias("max_day"),
        )
        .orderBy("z_bucket")
    )


def events_daily_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Day-over-day growth: daily event counts plus the lag-based
    delta and growth ratio — the trend-dashboard query. One shuffle
    for the daily rollup; the lag window runs over the days-sized
    result. Counts are integers; the ratio is one IEEE division."""
    e = load_table(spark, sf, "events")
    from pyspark.sql import Window as W

    daily = (
        e.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    w = W.orderBy("day")
    prev = F.lag("n").over(w)
    return daily.select(
        "day",
        "n",
        (F.col("n") - prev).cast("long").alias("delta"),
        (F.col("n").cast("double") / prev.cast("double")).alias("growth"),
    )


def rollup_serving_equivalence(spark: SparkSession, sf: str) -> DataFrame:
    """Continuous-aggregate serving (the TimescaleDB/materialized-view
    pattern): materialize an HOURLY rollup once, answer the DAILY
    query from the rollup, and emit both the rollup-served and
    raw-computed answers side by side — the aggregate-navigation
    correctness check a serving layer runs before switching a
    dashboard onto precomputed aggregates. Counts and int64 cent sums
    re-aggregate losslessly (the invariant that makes hierarchical
    rollups valid; averages would not).

    At 100 TB the hourly table is hours-sized, so the daily query
    reads ~24 rows per day instead of the raw events — this operator
    IS that cost argument, stated as a query.
    """
    e = load_table(spark, sf, "events")
    vc = F.round(F.col("value") * 100).cast("long")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count("*").alias("n"), F.sum(vc).alias("cents"))
    from_rollup = hourly.groupBy(
        F.to_date("hour_start").alias("day")
    ).agg(
        F.sum("n").cast("long").alias("n_served"),
        (F.sum("cents").cast("double") / F.lit(100.0)).alias("value_served"),
    )
    from_raw = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n_raw"),
        (F.sum(vc).cast("double") / F.lit(100.0)).alias("value_raw"),
    )
    return (
        from_rollup.join(from_raw, "day")
        .select(
            "day",
            "n_served",
            "n_raw",
            "value_served",
            "value_raw",
            (
                (F.col("n_served") == F.col("n_raw"))
                & (F.col("value_served") == F.col("value_raw"))
            ).alias("served_matches_raw"),
        )
        .orderBy("day")
    )


def events_time_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Time-hierarchy rollup: event counts at (year, month, day),
    (year, month), (year), and grand-total levels in ONE pass via
    ROLLUP — the calendar drill-down every dashboard materializes.
    Partial aggregation handles all levels map-side; NULL level
    markers are replaced with -1 so the driver's hasher sees integers.
    """
    e = load_table(spark, sf, "events")
    return (
        e.select(
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            F.dayofmonth("ts").alias("d"),
        )
        .rollup("y", "m", "d")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("y", F.lit(-1)).cast("int").alias("y"),
            F.coalesce("m", F.lit(-1)).cast("int").alias("m"),
            F.coalesce("d", F.lit(-1)).cast("int").alias("d"),
            "n",
        )
    )


# staged alternate-format copies of the orders table per (session,
# sf, fmt) — written once, reclaimed at exit
@memoized("retained")
def _staged_orders(spark: SparkSession, sf: str, fmt: str) -> str:
    stage = tmpdir_reclaimed_at_exit(f"orders_{fmt}_")
    w = load_table(spark, sf, "orders").write.mode("overwrite")
    if fmt == "csv":
        w.option("header", "true").csv(stage)
    elif fmt == "orc":
        w.orc(stage)
    elif fmt == "xml":
        w.format("xml").option("rowTag", "order").save(stage)
    else:
        w.json(stage)
    return stage


def _orders_in_format(spark: SparkSession, sf: str, fmt: str) -> DataFrame:
    """Write orders once as CSV/JSONL and read it back through the
    matching file source — the interchange-format ingestion path (S2
    family beyond parquet). The CSV read supplies an explicit schema
    (header-inferred types would drift); JSON reads with the same
    schema, exercising its field-name-based resolution. Timestamps
    round-trip as ISO-8601 text in both formats under the UTC session.
    """
    o = load_table(spark, sf, "orders")
    stage = _staged_orders(spark, sf, fmt)
    if fmt == "csv":
        return (
            spark.read.schema(o.schema).option("header", "true").csv(stage)
        )
    if fmt == "orc":
        # columnar self-describing format: read with its embedded
        # schema (no re-supply) — the summary hash proves no
        # type/precision drift against the parquet-sourced oracle
        return spark.read.orc(stage)
    if fmt == "xml":
        return (
            spark.read.schema(o.schema)
            .format("xml")
            .option("rowTag", "order")
            .load(stage)
        )
    return spark.read.schema(o.schema).json(stage)


def _format_roundtrip_summary(df: DataFrame) -> DataFrame:
    """Roundtrip proof: exact counts, integer cents total, and key
    checksum per order status — any type/precision loss in the text
    format breaks the hash against the parquet-sourced oracle."""
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents_total"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            F.countDistinct(F.to_date("o_orderdate"))
            .cast("long")
            .alias("n_days"),
        )
        .orderBy("o_orderstatus")
    )


def source_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """CSV source: orders → CSV files → schema-driven read → summary
    identical to the parquet path (the oracle reads parquet)."""
    return _format_roundtrip_summary(_orders_in_format(spark, sf, "csv"))


def source_jsonl_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSON-lines source: same contract as ``source_csv_roundtrip``
    through the JSON reader's name-based field resolution."""
    return _format_roundtrip_summary(_orders_in_format(spark, sf, "json"))


def source_orc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """ORC source: orders → ORC files → embedded-schema read → summary
    identical to the parquet path — the second columnar interchange
    format (vectorized reader, predicate pushdown, column pruning all
    apply exactly as for parquet)."""
    return _format_roundtrip_summary(_orders_in_format(spark, sf, "orc"))


def source_xml_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """XML source (native in Spark 4): orders → row-tagged XML files →
    schema-driven read → the shared roundtrip summary. Exercises the
    StAX record reader + explicit-schema coercion path; the same
    exact-cents hash as CSV/JSONL/ORC proves no type or precision
    drift through the markup roundtrip."""
    return _format_roundtrip_summary(_orders_in_format(spark, sf, "xml"))


# --------------------------------------------------------------------------
# §2.6 — joins (every `how` the SQL surface promises)
# --------------------------------------------------------------------------


def join_inner_dim(spark: SparkSession, sf: str) -> DataFrame:
    """Inner equi-join of two dims — broadcast at any scale."""
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner")
        .select("n_nationkey", "n_name", "r_name")
    )


def join_left_outer(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT OUTER with a filtered right side so null rows actually occur;
    grouped count-of-matches keeps the output stable and small."""
    c = load_table(spark, sf, "customer")
    big = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 450000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


def join_right_outer(spark: SparkSession, sf: str) -> DataFrame:
    big = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 450000)
    c = load_table(spark, sf, "customer")
    return (
        big.join(c, big.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


def join_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """FULL OUTER between two disjointly-filtered key sets."""
    # both sides derive from ONE cached scan of orders, so the join key
    # is renamed per side before joining — df.attr references across a
    # common-lineage join are ambiguous (same expression ids)
    hi = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 450000)
        .groupBy(F.col("o_custkey").alias("custkey_hi"))
        .agg(F.count("*").alias("n_hi"))
    )
    lo = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_totalprice") < 5000)
        .groupBy(F.col("o_custkey").alias("custkey_lo"))
        .agg(F.count("*").alias("n_lo"))
    )
    return (
        hi.join(lo, F.col("custkey_hi") == F.col("custkey_lo"), "full")
        .select(
            F.coalesce("custkey_hi", "custkey_lo").alias("custkey"),
            F.coalesce("n_hi", F.lit(0)).alias("n_hi"),
            F.coalesce("n_lo", F.lit(0)).alias("n_lo"),
        )
    )


def join_semi(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT SEMI (EXISTS): customers with any 400k+ order."""
    c = load_table(spark, sf, "customer")
    big = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


def join_anti(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers with no 400k+ order."""
    c = load_table(spark, sf, "customer")
    big = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


def join_cross(spark: SparkSession, sf: str) -> DataFrame:
    """CROSS join of two tiny dims (5 × 25 rows)."""
    r = load_table(spark, sf, "region").select("r_name")
    n = load_table(spark, sf, "nation").select("n_name")
    return r.crossJoin(n)


def join_theta_range(spark: SparkSession, sf: str) -> DataFrame:
    """Non-equi (theta) join: price-band lookup. Broadcast-NL on the
    5-row band table — the only sane physical plan for pure theta."""
    bands = spark.createDataFrame(
        [(0.0, 100000.0, "S"), (100000.0, 250000.0, "M"), (250000.0, 600000.0, "L")],
        "lo double, hi double, band string",
    )
    o = load_table(spark, sf, "orders")
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
            "inner",
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            (_dbl(F.sum(_cents("o_totalprice"))) / F.lit(100.0)).alias("total"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: dim-filter → join → agg → top-k. Customer side
    broadcasts after its filter; lineitem↔orders co-shuffle on orderkey."""
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue_sum().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake joins, dims broadcast, facts shuffled."""
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf, "nation")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_revenue_sum().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


# --------------------------------------------------------------------------
# §2.6 — window functions
# --------------------------------------------------------------------------


def window_rank(spark: SparkSession, sf: str) -> DataFrame:
    """row_number / rank / dense_rank per group, top-3-per-supplier."""
    l = load_table(spark, sf, "lineitem")
    w = W.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    return (
        l.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


def window_lag_lead(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic lag/lead over event time per user (no arithmetic —
    values pass through exactly)."""
    e = load_table(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


def window_running_sum(spark: SparkSession, sf: str) -> DataFrame:
    """ROWS UNBOUNDED PRECEDING frame: exact running total per user."""
    e = load_table(spark, sf, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        (_dbl(F.sum(_cents("value")).over(w)) / F.lit(100.0)).alias("running_total"),
    )


def window_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    """ROWS BETWEEN 2 PRECEDING AND CURRENT: 3-row moving mean, computed
    as exact-decimal sum / exact count to stay engine-stable."""
    e = load_table(spark, sf, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, W.currentRow)
    )
    return e.select(
        "event_id",
        (
            _dbl(F.sum(_cents("value")).over(w))
            / F.lit(100.0)
            / _dbl(F.count("*").over(w))
        ).alias("mavg_3"),
    )


def window_range_numeric(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE frame keyed on a numeric order column."""
    o = load_table(spark, sf, "orders")
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy(F.col("o_custkey"))
        .rangeBetween(-10, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_custkey",
        F.count("*").over(w).alias("n_near"),
    )


def window_range_time(spark: SparkSession, sf: str) -> DataFrame:
    """Time-interval RANGE frame: per-user trailing 1-hour activity
    (event count + cents sum) — the sliding-window-on-event-time shape
    telemetry queries run constantly. Spark's rangeBetween needs a
    numeric order key, so the frame runs on floor(epoch seconds); the
    oracle uses the identical integer key, making the inclusive
    [t−3600, t] bound engine-exact (ties at the same second are all
    in-frame by RANGE semantics in both engines).

    One shuffle keyed by user_id; the frame scan is partition-local.
    """
    e = load_table(spark, sf, "events")
    epoch = F.unix_timestamp("ts")
    w = (
        W.partitionBy("user_id")
        .orderBy(epoch)
        .rangeBetween(-3600, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).cast("long").alias("n_trailing_1h"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .over(w)
        .cast("long")
        .alias("cents_trailing_1h"),
    )


def top_k_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical top-k-per-group (window + filter → no global sort)."""
    o = load_table(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# --------------------------------------------------------------------------
# §2.6 — set operations / distinct
# --------------------------------------------------------------------------


def set_union_all(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    s = load_table(spark, sf, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    return c.unionAll(s).groupBy("nationkey").agg(F.count("*").alias("n"))


def set_intersect(spark: SparkSession, sf: str) -> DataFrame:
    hi = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    lo = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_totalprice") < 50000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return hi.intersect(lo)


def set_except(spark: SparkSession, sf: str) -> DataFrame:
    all_c = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    big = (
        load_table(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return all_c.exceptAll(big.distinct())


def distinct_proj(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


# --------------------------------------------------------------------------
# §2.6 — subqueries / CTE (via spark.sql; Catalyst decorrelates)
# --------------------------------------------------------------------------


def _views(spark: SparkSession, sf: str, *names: str) -> None:
    for name in names:
        load_table(spark, sf, name).createOrReplaceTempView(name)


def subquery_scalar(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar subquery (exact MAX — no float aggregation drift)."""
    _views(spark, sf, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 0.98 * (SELECT MAX(o_totalprice) FROM orders)
        """
    )


def subquery_in(spark: SparkSession, sf: str) -> DataFrame:
    _views(spark, sf, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment
        FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        """
    )


def subquery_exists(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated EXISTS — decorrelated to a semi-join by Catalyst."""
    _views(spark, sf, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderkey
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49
        )
        """
    )


_CTE_SQL = """
WITH cust_totals AS (
  SELECT o_custkey,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
)
SELECT c.c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(SUM(t.spend_c) AS DOUBLE) / 100.0 AS segment_spend
FROM cust_totals t JOIN customer c ON t.o_custkey = c.c_custkey
WHERE t.n_orders >= 5
GROUP BY c.c_mktsegment
"""


def cte_query(spark: SparkSession, sf: str) -> DataFrame:
    """CTE + two-level rollup; the identical SQL string is the oracle
    (integer-cents spend, so per-customer partials re-sum exactly)."""
    _views(spark, sf, "orders", "customer")
    return spark.sql(_CTE_SQL)


def recursive_cte_hierarchy(spark: SparkSession, sf: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4 recursive CTE support): walk the
    decimal-prefix hierarchy over customer keys (parent = key div 10 —
    a deterministic org-chart/BOM stand-in), computing each node's
    depth iteratively, then fold to a depth histogram with exact key
    sums. Recursion is the one relational shape pre-4.0 Spark could
    not express declaratively; the engine now runs it natively (the
    iterative-join loop Catalyst unrolls is the same shape as the
    hand-built label-propagation in dedup_connected_components).

    Each recursion step is one join keyed on the parent key — at
    scale, depth-many joins over the (shrinking) frontier, the
    standard transitive-closure cost model.
    """
    _views(spark, sf, "customer")
    return spark.sql(
        """
        WITH RECURSIVE h AS (
          SELECT c_custkey, 0 AS depth FROM customer WHERE c_custkey < 10
          UNION ALL
          SELECT c.c_custkey, h.depth + 1
          FROM customer c JOIN h ON c.c_custkey DIV 10 = h.c_custkey
          WHERE c.c_custkey >= 10
        )
        SELECT depth, COUNT(*) AS n_customers,
               CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        FROM h GROUP BY depth ORDER BY depth
        """
    )


def lateral_join_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark 3.2+ SQL surface): for each
    order status, the top-2 orders by (price, key) via a per-row
    dependent subquery — the SQL-standard alternative to the window
    top-k (top_k_per_group), exercising Catalyst's
    DecorrelateInnerQuery path. Compiles to the same
    window/aggregate shapes; the surface is what's under test.
    """
    _views(spark, sf, "orders")
    return spark.sql(
        """
        SELECT s.o_orderstatus, t.o_orderkey, t.hdr_cents
        FROM (SELECT DISTINCT o_orderstatus FROM orders) s,
        LATERAL (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS hdr_cents
          FROM orders o
          WHERE o.o_orderstatus = s.o_orderstatus
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
        ) t
        ORDER BY s.o_orderstatus, t.hdr_cents DESC, t.o_orderkey
        """
    )


def window_ntile_first_last(spark: SparkSession, sf: str) -> DataFrame:
    """ntile / first_value / last_value with an explicit full frame —
    completes the analytic-window family. Total order (unique
    tie-break) keeps every value deterministic."""
    o = load_table(spark, sf, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.first("o_orderkey").over(wf).alias("top_orderkey"),
        F.last("o_orderkey").over(wf).alias("bottom_orderkey"),
    )


def map_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Map family: create_map / map_concat / map_from_entries /
    map_keys / element_at / size, verified by value (§2.7 Map)."""
    e = load_table(spark, sf, "events")
    base = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    extra = F.map_from_entries(
        F.array(F.struct(F.lit("bucket").alias("key"),
                         F.pmod(F.col("value").cast("long"), F.lit(10))
                         .cast("string").alias("value")))
    )
    m = F.map_concat(base, extra)
    return e.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_csv"),
        F.element_at(m, "type").alias("type_val"),
        F.element_at(m, "bucket").alias("bucket_val"),
        F.size(m).alias("n_entries"),
    )


def q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter → global agg. The whole query is one
    scan with every predicate pushed; the shuffle carries ONE partial
    row per task — the cheapest possible plan at any scale."""
    l = load_table(spark, sf, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & _cents("l_discount").between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                _dbl(F.sum(_cents("l_extendedprice") * _cents("l_discount")))
                / F.lit(10000.0)
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: returned-lineitem revenue per customer, top 20.
    Facts co-shuffle on orderkey/custkey; nation broadcasts; top-k is
    TakeOrderedAndProject, never a global sort."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    l = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_revenue_sum().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregate ratio over a broadcast
    part join — promo revenue share for one month."""
    p = load_table(spark, sf, "part")
    l = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    pc, dc = _cents("l_extendedprice"), _cents("l_discount")
    is_promo = F.col("p_type") == "PROMO"
    promo_i = F.lit(100) * F.sum(F.when(is_promo, pc).otherwise(F.lit(0))) - F.sum(
        F.when(is_promo, pc * dc).otherwise(F.lit(0))
    )
    total_i = F.lit(100) * F.sum(pc) - F.sum(pc * dc)
    promo_rev = _dbl(promo_i) / F.lit(10000.0)
    total_rev = _dbl(total_i) / F.lit(10000.0)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (F.lit(100.0) * promo_rev / total_rev).alias("promo_revenue_pct"),
            total_rev.alias("total_revenue"),
        )
    )


def q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: groupBy-HAVING subquery keys, then fact joins.
    The heavy-order key set is tiny (HAVING prunes hard) → broadcast
    semi-join back onto orders; lineitem is aggregated BEFORE joining,
    so the shuffle carries one row per order."""
    l = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    qty = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_cents("l_quantity")).alias("sum_qty_c"))
        .filter(F.col("sum_qty_c") > 30000)
    )
    return (
        o.join(F.broadcast(qty), o.o_orderkey == qty.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            (_dbl(F.col("sum_qty_c")) / F.lit(100.0)).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def q19_disjunctive_pred(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    ranges across a part join. Catalyst extracts the common l_quantity
    bounds from the OR for scan pushdown; the join stays broadcast."""
    p = load_table(spark, sf, "part")
    l = load_table(spark, sf, "lineitem")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity") >= 1)
            & (F.col("l_quantity") <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & (F.col("p_size").between(1, 35))
            & (F.col("l_quantity") >= 20)
            & (F.col("l_quantity") <= 30)
        )
    )
    return j.filter(cond).agg(
        _revenue_sum().alias("revenue"),
        F.count("*").alias("n_lines"),
    )


def q4_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: fixture lineitem has no commit/receipt
    dates, so the EXISTS condition is l_shipdate > o_orderdate): count
    1996-H1 orders per priority having at least one late-shipping line.
    The correlated EXISTS becomes a LEFT SEMI join — both facts shuffle
    once on orderkey, the natural plan at any scale."""
    o = load_table(spark, sf, "orders")
    l = load_table(spark, sf, "lineitem")
    o96 = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    return (
        o96.join(
            l,
            (l.l_orderkey == o96.o_orderkey) & (l.l_shipdate > o96.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q7_volume_shipping(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral shipping volume between every distinct
    nation pair by year. supplier+nation broadcast; lineitem/orders/
    customer co-shuffle on their join keys. Revenue via the factored
    int64 cents sums (module docstring)."""
    l = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n1 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_revenue_sum().alias("revenue"))
    )


def q8_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_1 suppliers' share of PROMO-part revenue
    to EUROPE customers, by order year. The share is one IEEE division
    of two exact factored int64 sums, so it hash-matches the oracle.
    part/supplier/nation/region broadcast; the three facts co-shuffle."""
    l = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    p = load_table(spark, sf, "part").filter(F.col("p_type") == "PROMO")
    n1 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    pc, dc = _cents("l_extendedprice"), _cents("l_discount")
    is_n1 = F.col("supp_nation") == "NATION_1"
    numer = F.lit(100) * F.sum(F.when(is_n1, pc).otherwise(F.lit(0))) - F.sum(
        F.when(is_n1, pc * dc).otherwise(F.lit(0))
    )
    denom = F.lit(100) * F.sum(pc) - F.sum(pc * dc)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cr_key") == r.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (_dbl(numer) / _dbl(denom)).alias("mkt_share"),
            (_dbl(denom) / F.lit(10000.0)).alias("total_revenue"),
        )
    )


def q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: histogram of orders-per-customer including
    zero-order customers (LEFT join + count of the right key). Two
    aggregations, each a single shuffle; the second one's input is one
    row per customer."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def join_bucketed_colocated(spark: SparkSession, sf: str) -> DataFrame:
    """Storage-bucketed fact-fact join (the co-located join pattern).

    Both facts are written ``bucketBy(8, orderkey).sortBy(orderkey)``
    into the session catalog once per session; the join then runs as a
    SortMergeJoin with NO Exchange and NO Sort on either side — the
    only shuffle left in the plan is the final small aggregation. This
    is the pattern that amortizes one up-front bucketed write across
    every subsequent join on the same key; at 100 TB it is the
    difference between re-shuffling 100 TB per join and zero.
    """
    import re as _re

    tag = _re.sub(r"\W", "_", sf.rstrip("/").rsplit("/", 1)[-1])
    sides = {
        f"orders_bkt_{tag}": ("orders", "o_orderkey"),
        f"lineitem_bkt_{tag}": ("lineitem", "l_orderkey"),
    }
    for tbl, (src, key) in sides.items():
        if not spark.catalog.tableExists(tbl):
            (
                load_table(spark, sf, src)
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", tmpdir_reclaimed_at_exit(f"{tbl}_"))
                .mode("overwrite")
                .saveAsTable(tbl)
            )
    ob = spark.table(f"orders_bkt_{tag}")
    lb = spark.table(f"lineitem_bkt_{tag}")
    return (
        ob.join(lb.hint("merge"), ob.o_orderkey == lb.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_lines"),
            _revenue_sum().alias("revenue"),
        )
    )


IDLE_SINCE = "2000-03-01"  # ~last 18 months of the fixture date range


def q22_idle_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: fixture customer has no phone, so the
    cohort is per-nation, and every customer has SOME order at fixture
    scales, so "idle" = no order since IDLE_SINCE): above-average-
    balance customers gone idle. The scalar average broadcasts; the
    idleness test is a LEFT ANTI join against the date-filtered orders
    key projection — the filter prunes at the scan, so the anti side
    ships only recent keys."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    n = load_table(spark, sf, "nation")
    pos = c.filter(F.col("c_acctbal") > 0)
    thresh = pos.agg(
        (
            _dbl(F.sum(_cents("c_acctbal"))) / F.lit(100.0) / _dbl(F.count("*"))
        ).alias("avg_bal")
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit(IDLE_SINCE).cast("timestamp")
    ).select("o_custkey")
    return (
        c.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            (_dbl(F.sum(_cents("c_acctbal"))) / F.lit(100.0)).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H completion set — the 9 remaining shapes (q2 q9 q11 q12 q15 q16
# q17 q20 q21).  The fixture has no partsupp table and lineitem lacks
# shipmode/commitdate/receiptdate, so where the canonical query needs
# those, the shape is adapted (documented per query) the same way
# q4/q22 adapt: the operator pattern under test — correlated min,
# double-EXISTS, scalar-subquery threshold — is preserved exactly.
# --------------------------------------------------------------------------


def _supply(spark: SparkSession, sf: str) -> DataFrame:
    """Derived supply relation standing in for partsupp: one row per
    distinct (partkey, suppkey) observed in lineitem, with the minimum
    unit price as the supply-cost analog.  At 100 TB this is one
    map-side-combined shuffle on the pair key; the result is ~10×
    smaller than lineitem and reusable across q2/q16/q20."""
    l = load_table(spark, sf, "lineitem")
    return l.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_cost")
    )


_SUPPLY_SQL = (
    "SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, "
    "MIN(l_extendedprice / l_quantity) AS ps_cost "
    "FROM lineitem GROUP BY 1, 2"
)


def q2_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (partsupp derived from lineitem — see _supply):
    for each STANDARD mid-size part, the EUROPE supplier offering the
    minimum supply cost.  The correlated-min subquery is a window min
    per partkey with a (cost, suppkey) tie-break — one shuffle on
    partkey after the supply aggregation; all dims broadcast."""
    sup = _supply(spark, sf)
    p = load_table(spark, sf, "part").filter(
        (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20)
    )
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "EUROPE")
    w = W.partitionBy("ps_partkey").orderBy(
        F.col("ps_cost").asc(), F.col("ps_suppkey").asc()
    )
    return (
        sup.join(F.broadcast(p), sup.ps_partkey == p.p_partkey)
        .join(F.broadcast(s), sup.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.col("ps_cost").alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), F.col("p_partkey").asc())
        .limit(100)
    )


def q9_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape (no ps_supplycost → cost proxy = 60% of
    p_retailprice, documented constant): profit on 'red' parts by
    supplier nation and order year.  Exact integer arithmetic at scale
    1e5: profit = (10·(100·Σp − Σp·d) − 6·Σ(retail_c·qty_c)) / 1e5 —
    both engines sum int64 (DuckDB→HUGEINT) so the final double cast
    agrees bit-for-bit.  part broadcast-filtered before the fact join."""
    l = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    p = load_table(spark, sf, "part").filter(F.col("p_name").like("%red%"))
    pc, dc = _cents("l_extendedprice"), _cents("l_discount")
    rc, qc = _cents("p_retailprice"), _cents("l_quantity")
    profit_e5 = F.lit(10) * (
        F.lit(100) * F.sum(pc) - F.sum(pc * dc)
    ) - F.lit(6) * F.sum(rc * qc)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((_dbl(profit_e5) / F.lit(100000.0)).alias("sum_profit"))
    )


IMPORTANT_NATION = "NATION_2"
IMPORTANT_FRACTION_DENOM = 2000  # part qualifies if value > total/2000


def q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (value = lineitem revenue from NATION_2
    suppliers instead of availqty·supplycost): parts whose supply value
    exceeds 1/2000 of the nation total.  The scalar-subquery threshold
    is a broadcast cross join; the comparison stays in int64 cents
    (2000·value_c > total_c) so no float threshold wobble."""
    l = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation").filter(
        F.col("n_name") == IMPORTANT_NATION
    )
    nat_lines = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("l_partkey", _cents("l_extendedprice").alias("val_c"))
    )
    per_part = nat_lines.groupBy("l_partkey").agg(
        F.sum("val_c").alias("value_c")
    )
    total = per_part.agg(F.sum("value_c").alias("total_c"))
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.lit(IMPORTANT_FRACTION_DENOM) * F.col("value_c")
            > F.col("total_c")
        )
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            (_dbl(F.col("value_c")) / F.lit(100.0)).alias("value"),
        )
        .orderBy(F.col("value").desc(), F.col("ps_partkey").asc())
    )


def q12_ship_priority_class(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (no l_shipmode/receiptdate → ship class derived
    from quantity, late = shipped after the order date): per class,
    count critical- vs normal-priority orders among late 1997 lines.
    One fact-fact shuffle on orderkey; the CASE aggregation is
    map-side combinable."""
    l = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .withColumn(
            "ship_class",
            F.when(F.col("l_quantity") > 25, "BULK").otherwise("SMALL"),
        )
        .groupBy("ship_class")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum 1996-Q1 revenue.
    The MAX scalar subquery is an unpartitioned window max evaluated on
    the already-aggregated per-supplier rows (one row per supplier —
    tiny), and the equality test runs on exact int64 cents·cents so
    float ties can't split Spark and the oracle."""
    l = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    pc, dc = _cents("l_extendedprice"), _cents("l_discount")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            (F.lit(100) * F.sum(pc) - F.sum(pc * dc)).alias("rev_e4")
        )
    )
    w = W.partitionBy()  # global max over the small aggregated frame
    return (
        rev.withColumn("max_e4", F.max("rev_e4").over(w))
        .filter(F.col("rev_e4") == F.col("max_e4"))
        .join(F.broadcast(load_table(spark, sf, "supplier")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            (_dbl(F.col("rev_e4")) / F.lit(10000.0)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q16_supplier_counts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape (supply relation derived; the "complaints"
    exclusion becomes s_acctbal < 0): distinct supplier count per
    (brand, type, size) for non-Brand#5, non-PROMO parts.  The supply
    pairs shuffle once on partkey for the part join; the negative-
    balance suppliers are a broadcast anti join."""
    sup = _supply(spark, sf)
    p = load_table(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").like("PROMO%"))
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad_s = load_table(spark, sf, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("bad_key"))
    return (
        sup.join(F.broadcast(p), sup.ps_partkey == p.p_partkey)
        .join(
            F.broadcast(bad_s),
            sup.ps_suppkey == F.col("bad_key"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), F.col("p_brand").asc(),
            F.col("p_type").asc(), F.col("p_size").asc(),
        )
    )


def q17_small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost to small-quantity
    orders of Brand#3 small parts.  The correlated per-part AVG is a
    self-aggregation joined back on partkey (both sides shuffle once on
    partkey; the avg side is one row per part).  The 0.2·avg threshold
    is the same IEEE expression in both engines."""
    l = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 10)
    )
    avg_q = (
        l.groupBy(F.col("l_partkey").alias("ap_key"))
        .agg(
            (
                _dbl(F.sum(_cents("l_quantity")))
                / F.lit(100.0)
                / _dbl(F.count("*"))
            ).alias("avg_qty")
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(avg_q, l.l_partkey == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            (
                _dbl(F.sum(_cents("l_extendedprice")))
                / F.lit(100.0)
                / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


DOMINANT_NATION = "NATION_3"


def q20_dominant_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (no ps_availqty → "excess availability" becomes
    shipped-quantity dominance): NATION_3 suppliers who shipped more
    than half of some 'blue' part's total 1997 volume.  Quantity share
    compares exact int64 cents (2·supp > part); per-part totals reuse
    the per-(part,supp) aggregation via a second map-side combine."""
    l = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").filter(F.col("p_name").like("%blue%"))
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation").filter(
        F.col("n_name") == DOMINANT_NATION
    )
    shipped = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_cents("l_quantity")).alias("supp_qty_c"))
    )
    per_part = shipped.groupBy(F.col("l_partkey").alias("pp_key")).agg(
        F.sum("supp_qty_c").alias("part_qty_c")
    )
    dominant = (
        shipped.join(per_part, shipped.l_partkey == F.col("pp_key"))
        .filter(F.lit(2) * F.col("supp_qty_c") > F.col("part_qty_c"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        dominant.join(F.broadcast(s), dominant.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name")
        .orderBy("s_name")
    )


WAITING_NATION = "NATION_1"


def q21_last_shipper(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (no receipt/commit dates → "kept the order
    waiting" = strictly latest-shipping supplier of a multi-supplier
    finished order).  The double EXISTS/NOT EXISTS pair compiles to one
    LEFT SEMI + one LEFT ANTI join, both co-shuffled on orderkey with
    the probe side — the canonical Spark plan for Q21 at any scale."""
    l = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation").filter(
        F.col("n_name") == WAITING_NATION
    )
    l1 = l.select(
        F.col("l_orderkey").alias("ok1"),
        F.col("l_suppkey").alias("sk1"),
        F.col("l_shipdate").alias("sd1"),
    )
    l2 = l.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = l.select(
        F.col("l_orderkey").alias("ok3"),
        F.col("l_suppkey").alias("sk3"),
        F.col("l_shipdate").alias("sd3"),
    )
    return (
        l1.join(o, F.col("ok1") == o.o_orderkey)
        .join(F.broadcast(s), F.col("sk1") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            l2,
            (F.col("ok2") == F.col("ok1")) & (F.col("sk2") != F.col("sk1")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("ok3") == F.col("ok1"))
            & (F.col("sk3") != F.col("sk1"))
            & (F.col("sd3") > F.col("sd1")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES = {
    "window_ntile_first_last": window_ntile_first_last,
    "map_functions": map_functions,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_items": q10_returned_items,
    "q14_promo_revenue": q14_promo_revenue,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive_pred": q19_disjunctive_pred,
    "scan_project": scan_project,
    "limit0_probe": limit0_probe,
    "sort_topk": sort_topk,
    "filter_predicates": filter_predicates,
    "filter_like": filter_like,
    "partition_prune_time": partition_prune_time,
    "files_glob_listing": files_glob_listing,
    "q1_pricing_summary": q1_pricing_summary,
    "agg_count_distinct": agg_count_distinct,
    "agg_having": agg_having,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "pivot_linestatus": pivot_linestatus,
    "unpivot_part_measures": unpivot_part_measures,
    "table_profile_orders": table_profile_orders,
    "zorder_layout_audit": zorder_layout_audit,
    "events_daily_growth": events_daily_growth,
    "events_time_rollup": events_time_rollup,
    "rollup_serving_equivalence": rollup_serving_equivalence,
    "source_csv_roundtrip": source_csv_roundtrip,
    "source_jsonl_roundtrip": source_jsonl_roundtrip,
    "source_orc_roundtrip": source_orc_roundtrip,
    "source_xml_roundtrip": source_xml_roundtrip,
    "join_inner_dim": join_inner_dim,
    "join_left_outer": join_left_outer,
    "join_right_outer": join_right_outer,
    "join_full_outer": join_full_outer,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_cross": join_cross,
    "join_theta_range": join_theta_range,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "window_rank": window_rank,
    "window_lag_lead": window_lag_lead,
    "window_running_sum": window_running_sum,
    "window_moving_avg": window_moving_avg,
    "window_range_numeric": window_range_numeric,
    "window_range_time": window_range_time,
    "top_k_per_group": top_k_per_group,
    "set_union_all": set_union_all,
    "set_intersect": set_intersect,
    "set_except": set_except,
    "distinct_proj": distinct_proj,
    "subquery_scalar": subquery_scalar,
    "subquery_in": subquery_in,
    "subquery_exists": subquery_exists,
    "cte_query": cte_query,
    "recursive_cte_hierarchy": recursive_cte_hierarchy,
    "lateral_join_topk": lateral_join_topk,
    "q4_order_priority": q4_order_priority,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q13_customer_distribution": q13_customer_distribution,
    "q22_idle_customers": q22_idle_customers,
    "join_bucketed_colocated": join_bucketed_colocated,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q9_product_profit": q9_product_profit,
    "q11_important_parts": q11_important_parts,
    "q12_ship_priority_class": q12_ship_priority_class,
    "q15_top_supplier": q15_top_supplier,
    "q16_supplier_counts": q16_supplier_counts,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q20_dominant_suppliers": q20_dominant_suppliers,
    "q21_last_shipper": q21_last_shipper,
}

# kept for queries that still cast single VALUES through decimal
_MONEY_SUM = "CAST(SUM(CAST({c} AS DECIMAL(12,2))) AS DOUBLE)"

ORACLES = {
    "window_ntile_first_last": (
        "SELECT o_orderkey, o_orderstatus, "
        "NTILE(4) OVER w AS quartile, "
        "FIRST_VALUE(o_orderkey) OVER wf AS top_orderkey, "
        "LAST_VALUE(o_orderkey) OVER wf AS bottom_orderkey "
        "FROM orders "
        "WINDOW w AS (PARTITION BY o_orderstatus "
        "             ORDER BY o_totalprice DESC, o_orderkey ASC), "
        "wf AS (PARTITION BY o_orderstatus "
        "       ORDER BY o_totalprice DESC, o_orderkey ASC "
        "       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    ),
    "map_functions": (
        # the map pipeline's outputs are exactly predictable, so the
        # oracle states them directly (keys sort to a constant; bucket
        # mirrors pmod(trunc(value), 10))
        "SELECT event_id, 'bucket,type,uid' AS keys_csv, "
        "event_type AS type_val, "
        "CAST(((CAST(trunc(value) AS BIGINT) % 10) + 10) % 10 AS VARCHAR) "
        "AS bucket_val, "
        "3 AS n_entries FROM events"
    ),
    "q6_forecast_revenue": (
        f"SELECT CAST(SUM({_C.format(c='l_extendedprice')} "
        f"* {_C.format(c='l_discount')}) AS DOUBLE) / 10000.0 AS revenue, "
        "COUNT(*) AS n_lines "
        "FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
        f"AND {_C.format(c='l_discount')} BETWEEN 5 AND 7 "
        "AND l_quantity < 24"
    ),
    "q10_returned_items": (
        "SELECT c_custkey, c_name, c_acctbal, n_name, "
        f"{_REV_SQL} AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE l_returnflag = 'R' "
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00' "
        "GROUP BY c_custkey, c_name, c_acctbal, n_name "
        "ORDER BY revenue DESC, c_custkey ASC LIMIT 20"
    ),
    "q14_promo_revenue": (
        "SELECT 100.0 * (CAST(100 * SUM(CASE WHEN p_type = 'PROMO' "
        f"THEN {_C.format(c='l_extendedprice')} ELSE 0 END) "
        "- SUM(CASE WHEN p_type = 'PROMO' "
        f"THEN {_C.format(c='l_extendedprice')} * {_C.format(c='l_discount')} "
        "ELSE 0 END) AS DOUBLE) / 10000.0) "
        f"/ ({_REV_SQL}) AS promo_revenue_pct, "
        f"{_REV_SQL} AS total_revenue "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'"
    ),
    "q18_large_orders": (
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, "
        "CAST(q.sum_qty_c AS DOUBLE) / 100.0 AS sum_qty "
        "FROM orders "
        f"JOIN (SELECT l_orderkey, SUM({_C.format(c='l_quantity')}) AS sum_qty_c "
        "      FROM lineitem GROUP BY l_orderkey "
        f"      HAVING SUM({_C.format(c='l_quantity')}) > 30000) q "
        "ON o_orderkey = q.l_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"
    ),
    "q19_disjunctive_pred": (
        f"SELECT {_REV_SQL} AS revenue, "
        "COUNT(*) AS n_lines "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 "
        "       AND l_quantity >= 1 AND l_quantity <= 11) "
        "   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25 "
        "       AND l_quantity >= 10 AND l_quantity <= 20) "
        "   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 35 "
        "       AND l_quantity >= 20 AND l_quantity <= 30)"
    ),
    "scan_project": "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
    "limit0_probe": "SELECT * FROM events LIMIT 0",
    "sort_topk": (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20"
    ),
    "filter_predicates": (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem "
        "WHERE l_returnflag IN ('A','N') AND l_quantity BETWEEN 10 AND 20 "
        "AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'"
    ),
    "filter_like": (
        "SELECT p_partkey, p_name, p_type FROM part "
        "WHERE p_name LIKE '%small%' OR p_type LIKE 'SMALL%'"
    ),
    "partition_prune_time": (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day_ts, COUNT(*) AS n_events FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-12 00:00:00' "
        "GROUP BY 1"
    ),
    "files_glob_listing": (
        # sf-wildcard: every sf dir yields the same DISTINCT basename,
        # so the oracle is valid at any scale factor
        "SELECT DISTINCT regexp_extract(file, '([^/]+\\.parquet)', 1) AS file_name "
        "FROM glob('/root/testdata/sf*/documents.parquet')"
    ),
    "q1_pricing_summary": ORACLE_Q1,
    "agg_count_distinct": (
        "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers, "
        "COUNT(*) AS n_orders FROM orders GROUP BY o_orderstatus"
    ),
    "agg_having": (
        f"SELECT l_partkey, {_CSUM.format(c='l_quantity')} AS total_qty "
        "FROM lineitem GROUP BY l_partkey "
        f"HAVING {_CSUM.format(c='l_quantity')} > 900"
    ),
    "agg_rollup": (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        f"{_CSUM.format(c='l_quantity')} AS qty "
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
    ),
    "agg_cube": (
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
        f"{_CSUM.format(c='o_totalprice')} AS total "
        "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"
    ),
    "zorder_layout_audit": f"""
        WITH dd AS (
          SELECT o_custkey,
                 CAST(floor(CAST(epoch_us(o_orderdate) AS DOUBLE)
                      / 86400000000) AS BIGINT) AS day_num
          FROM orders
        ),
        z AS (
          SELECT o_custkey, day_num,
                 ({_Z_INTERLEAVE.format(
                     a=f"(o_custkey % {1 << ZORDER_BITS})",
                     b=f"(day_num % {1 << ZORDER_BITS})")})
                   // {1 << ZORDER_BUCKET_SHIFT} AS z_bucket
          FROM dd
        )
        SELECT z_bucket, COUNT(*) AS n_rows,
               MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
               MIN(day_num) AS min_day, MAX(day_num) AS max_day
        FROM z GROUP BY z_bucket ORDER BY z_bucket
    """,
    "events_daily_growth": """
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
          FROM events GROUP BY 1
        )
        SELECT day, n,
               CAST(n - LAG(n) OVER (ORDER BY day) AS BIGINT) AS delta,
               CAST(n AS DOUBLE) / CAST(LAG(n) OVER (ORDER BY day) AS DOUBLE)
                 AS growth
        FROM daily
    """,
    "source_csv_roundtrip": """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents_total,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)
                 AS n_days
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "source_jsonl_roundtrip": """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents_total,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)
                 AS n_days
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "source_xml_roundtrip": """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents_total,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)
                 AS n_days
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "source_orc_roundtrip": """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents_total,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT)
                 AS n_days
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "rollup_serving_equivalence": """
        WITH hourly AS (
          SELECT date_trunc('hour', ts) AS hour_start, COUNT(*) AS n,
                 SUM(CAST(round(value * 100) AS BIGINT)) AS cents
          FROM events GROUP BY 1
        ),
        served AS (
          SELECT CAST(hour_start AS DATE) AS day,
                 CAST(SUM(n) AS BIGINT) AS n_served,
                 CAST(SUM(cents) AS DOUBLE) / 100.0 AS value_served
          FROM hourly GROUP BY 1
        ),
        raw AS (
          SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n_raw,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   / 100.0 AS value_raw
          FROM events GROUP BY 1
        )
        SELECT s.day, s.n_served, r.n_raw, s.value_served, r.value_raw,
               (s.n_served = r.n_raw AND s.value_served = r.value_raw)
                 AS served_matches_raw
        FROM served s JOIN raw r USING (day) ORDER BY s.day
    """,
    "events_time_rollup": """
        SELECT CAST(coalesce(y, -1) AS INTEGER) AS y,
               CAST(coalesce(m, -1) AS INTEGER) AS m,
               CAST(coalesce(d, -1) AS INTEGER) AS d,
               COUNT(*) AS n
        FROM (SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d FROM events)
        GROUP BY ROLLUP (y, m, d)
    """,
    "unpivot_part_measures": (
        "SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value"
        " FROM part UNION ALL "
        "SELECT p_partkey, 'p_retailprice' AS measure,"
        " CAST(p_retailprice AS DOUBLE) AS value FROM part"
    ),
    "table_profile_orders": """
        WITH t AS (SELECT COUNT(*) AS n_rows FROM orders)
        SELECT p.column, p.n_nulls, p.n_distinct, t.n_rows FROM (
          SELECT 'o_orderkey' AS column,
                 CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                 CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
          UNION ALL SELECT 'o_custkey',
                 CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
          UNION ALL SELECT 'o_orderstatus',
                 CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) FROM orders
          UNION ALL SELECT 'o_totalprice',
                 CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) FROM orders
          UNION ALL SELECT 'o_orderdate',
                 CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) FROM orders
          UNION ALL SELECT 'o_orderpriority',
                 CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                 CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM orders
        ) p, t
    """,
    "pivot_linestatus": (
        "SELECT l_returnflag, "
        f"CAST(SUM(CASE WHEN l_linestatus='O' THEN {_C.format(c='l_quantity')} END) AS DOUBLE) / 100.0 AS \"O\", "
        f"CAST(SUM(CASE WHEN l_linestatus='F' THEN {_C.format(c='l_quantity')} END) AS DOUBLE) / 100.0 AS \"F\" "
        "FROM lineitem GROUP BY l_returnflag"
    ),
    "join_inner_dim": (
        "SELECT n_nationkey, n_name, r_name FROM nation "
        "JOIN region ON n_regionkey = r_regionkey"
    ),
    "join_left_outer": (
        "SELECT c_custkey, COUNT(o_orderkey) AS n_big_orders FROM customer "
        "LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o "
        "ON c_custkey = o.o_custkey GROUP BY c_custkey"
    ),
    "join_right_outer": (
        "SELECT c_custkey, COUNT(o_orderkey) AS n_big_orders "
        "FROM (SELECT * FROM orders WHERE o_totalprice > 450000) o "
        "RIGHT JOIN customer ON o.o_custkey = c_custkey GROUP BY c_custkey"
    ),
    "join_full_outer": (
        "WITH hi AS (SELECT o_custkey, COUNT(*) AS n_hi FROM orders "
        "            WHERE o_totalprice > 450000 GROUP BY o_custkey), "
        "     lo AS (SELECT o_custkey, COUNT(*) AS n_lo FROM orders "
        "            WHERE o_totalprice < 5000 GROUP BY o_custkey) "
        "SELECT COALESCE(hi.o_custkey, lo.o_custkey) AS custkey, "
        "       COALESCE(n_hi, 0) AS n_hi, COALESCE(n_lo, 0) AS n_lo "
        "FROM hi FULL OUTER JOIN lo ON hi.o_custkey = lo.o_custkey"
    ),
    "join_semi": (
        "SELECT c_custkey, c_mktsegment FROM customer WHERE EXISTS "
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)"
    ),
    "join_anti": (
        "SELECT c_custkey, c_mktsegment FROM customer WHERE NOT EXISTS "
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)"
    ),
    "join_cross": "SELECT r_name, n_name FROM region CROSS JOIN nation",
    "join_theta_range": (
        "WITH bands(lo, hi, band) AS (VALUES (0.0, 100000.0, 'S'), "
        "(100000.0, 250000.0, 'M'), (250000.0, 600000.0, 'L')) "
        "SELECT band, COUNT(*) AS n_orders, "
        f"{_CSUM.format(c='o_totalprice')} AS total "
        "FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi "
        "GROUP BY band"
    ),
    "q3_shipping_priority": (
        "SELECT l_orderkey, o_orderdate, o_orderpriority, "
        f"{_REV_SQL} AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00' "
        "AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00' "
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
        "ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"
    ),
    "q5_region_revenue": (
        "SELECT n_name, "
        f"{_REV_SQL} AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'ASIA' "
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' "
        "GROUP BY n_name ORDER BY revenue DESC, n_name ASC"
    ),
    "window_rank": (
        "SELECT * FROM ("
        "SELECT l_suppkey, l_orderkey, l_linenumber, "
        "ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk "
        "FROM lineitem "
        "WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC)"
        ") WHERE rn <= 3"
    ),
    "window_lag_lead": (
        "SELECT event_id, user_id, "
        "LAG(value) OVER w AS prev_value, LEAD(value) OVER w AS next_value "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"
    ),
    "window_running_sum": (
        "SELECT event_id, user_id, "
        f"CAST(SUM({_C.format(c='value')}) OVER w AS DOUBLE) / 100.0 AS running_total "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    ),
    "window_moving_avg": (
        "SELECT event_id, "
        f"CAST(SUM({_C.format(c='value')}) OVER w AS DOUBLE) / 100.0 / CAST(COUNT(*) OVER w AS DOUBLE) AS mavg_3 "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"
    ),
    "window_range_numeric": (
        "SELECT o_orderkey, o_orderstatus, o_custkey, COUNT(*) OVER w AS n_near "
        "FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_custkey "
        "RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)"
    ),
    "recursive_cte_hierarchy": (
        "WITH RECURSIVE h AS ("
        "  SELECT c_custkey, 0 AS depth FROM customer WHERE c_custkey < 10"
        "  UNION ALL"
        "  SELECT c.c_custkey, h.depth + 1"
        "  FROM customer c JOIN h ON c.c_custkey // 10 = h.c_custkey"
        "  WHERE c.c_custkey >= 10"
        ") "
        "SELECT depth, COUNT(*) AS n_customers, "
        "CAST(SUM(c_custkey) AS BIGINT) AS key_sum "
        "FROM h GROUP BY depth ORDER BY depth"
    ),
    "lateral_join_topk": (
        "SELECT s.o_orderstatus, t.o_orderkey, t.hdr_cents "
        "FROM (SELECT DISTINCT o_orderstatus FROM orders) s, "
        "LATERAL ("
        "  SELECT o_orderkey, "
        "         CAST(round(o_totalprice * 100) AS BIGINT) AS hdr_cents "
        "  FROM orders o "
        "  WHERE o.o_orderstatus = s.o_orderstatus "
        "  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2"
        ") t "
        "ORDER BY s.o_orderstatus, t.hdr_cents DESC, t.o_orderkey"
    ),
    "window_range_time": (
        "SELECT event_id, user_id, ts, "
        "CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_1h, "
        "CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) "
        "  AS cents_trailing_1h "
        "FROM events WINDOW w AS (PARTITION BY user_id "
        "ORDER BY CAST(floor(epoch(ts)) AS BIGINT) "
        "RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)"
    ),
    "top_k_per_group": (
        "SELECT o_custkey, o_orderkey, o_totalprice, rn FROM ("
        "SELECT o_custkey, o_orderkey, o_totalprice, "
        "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn "
        "FROM orders) WHERE rn <= 2"
    ),
    "set_union_all": (
        "SELECT nationkey, COUNT(*) AS n FROM ("
        "SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer "
        "UNION ALL SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier"
        ") GROUP BY nationkey"
    ),
    "set_intersect": (
        "SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000 "
        "INTERSECT "
        "SELECT o_custkey AS custkey FROM orders WHERE o_totalprice < 50000"
    ),
    "set_except": (
        "SELECT c_custkey AS custkey FROM customer "
        "EXCEPT ALL "
        "SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000"
    ),
    "distinct_proj": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "subquery_scalar": (
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_totalprice > 0.98 * (SELECT MAX(o_totalprice) FROM orders)"
    ),
    "subquery_in": (
        "SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey IN "
        "(SELECT o_custkey FROM orders WHERE o_totalprice > 400000)"
    ),
    "subquery_exists": (
        "SELECT o_orderkey FROM orders o WHERE EXISTS ("
        "SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)"
    ),
    "cte_query": _CTE_SQL,
    "q4_order_priority": (
        "SELECT o_orderpriority, COUNT(*) AS order_count "
        "FROM orders o "
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00' "
        "AND EXISTS (SELECT 1 FROM lineitem l "
        "            WHERE l.l_orderkey = o.o_orderkey "
        "            AND l.l_shipdate > o.o_orderdate) "
        "GROUP BY o_orderpriority"
    ),
    "q7_volume_shipping": (
        "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
        "CAST(year(l_shipdate) AS BIGINT) AS l_year, "
        f"{_REV_SQL} AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' "
        "AND n1.n_name != n2.n_name "
        "GROUP BY 1, 2, 3"
    ),
    "q8_market_share": (
        "SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, "
        "CAST(100 * SUM(CASE WHEN n1.n_name = 'NATION_1' "
        f"THEN {_C.format(c='l_extendedprice')} ELSE 0 END) "
        "- SUM(CASE WHEN n1.n_name = 'NATION_1' "
        f"THEN {_C.format(c='l_extendedprice')} * {_C.format(c='l_discount')} "
        "ELSE 0 END) AS DOUBLE) "
        f"/ CAST(100 * SUM({_C.format(c='l_extendedprice')}) "
        f"- SUM({_C.format(c='l_extendedprice')} * {_C.format(c='l_discount')}) "
        "AS DOUBLE) AS mkt_share, "
        f"{_REV_SQL} AS total_revenue "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
        "JOIN region ON n2.n_regionkey = r_regionkey "
        "WHERE p_type = 'PROMO' AND r_name = 'EUROPE' "
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' "
        "GROUP BY 1"
    ),
    "q13_customer_distribution": (
        "SELECT c_count, COUNT(*) AS custdist FROM ("
        "  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count "
        "  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey "
        "  GROUP BY c.c_custkey"
        ") GROUP BY c_count"
    ),
    "q22_idle_customers": (
        "WITH t AS (SELECT CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)"
        " / 100.0 / CAST(COUNT(*) AS DOUBLE) AS avg_bal "
        "FROM customer WHERE c_acctbal > 0) "
        "SELECT n_name, COUNT(*) AS numcust, "
        f"{_CSUM.format(c='c_acctbal')} AS totacctbal "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey CROSS JOIN t "
        "WHERE c_acctbal > t.avg_bal "
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
        "                AND o_orderdate >= TIMESTAMP '2000-03-01 00:00:00') "
        "GROUP BY n_name"
    ),
    "join_bucketed_colocated": (
        "SELECT o_orderstatus, COUNT(*) AS n_lines, "
        f"{_REV_SQL} AS revenue "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "GROUP BY o_orderstatus"
    ),
    "q2_min_cost_supplier": (
        f"WITH sup AS ({_SUPPLY_SQL}) "
        "SELECT s_acctbal, s_name, n_name, p_partkey, p_name, "
        "ps_cost AS supplycost "
        "FROM (SELECT sup.*, s.s_acctbal, s.s_name, n.n_name, "
        "             p.p_partkey, p.p_name, "
        "             ROW_NUMBER() OVER (PARTITION BY ps_partkey "
        "                 ORDER BY ps_cost ASC, ps_suppkey ASC) AS rk "
        "      FROM sup "
        "      JOIN part p ON ps_partkey = p.p_partkey "
        "      JOIN supplier s ON ps_suppkey = s.s_suppkey "
        "      JOIN nation n ON s.s_nationkey = n.n_nationkey "
        "      JOIN region r ON n.n_regionkey = r.r_regionkey "
        "      WHERE p.p_type = 'STANDARD' AND p.p_size BETWEEN 10 AND 20 "
        "        AND r.r_name = 'EUROPE') "
        "WHERE rk = 1 "
        "ORDER BY s_acctbal DESC, p_partkey ASC LIMIT 100"
    ),
    "q9_product_profit": (
        "SELECT n_name AS nation, "
        "CAST(year(o_orderdate) AS INT) AS o_year, "
        f"CAST(10 * (100 * SUM({_C.format(c='l_extendedprice')}) "
        f"- SUM({_C.format(c='l_extendedprice')} * {_C.format(c='l_discount')})) "
        f"- 6 * SUM({_C.format(c='p_retailprice')} * {_C.format(c='l_quantity')}) "
        "AS DOUBLE) / 100000.0 AS sum_profit "
        "FROM lineitem "
        "JOIN part ON l_partkey = p_partkey "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE p_name LIKE '%red%' "
        "GROUP BY n_name, year(o_orderdate)"
    ),
    "q11_important_parts": (
        "WITH nat AS (SELECT l_partkey, "
        f"SUM({_C.format(c='l_extendedprice')}) AS value_c "
        "FROM lineitem "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        f"WHERE n_name = '{IMPORTANT_NATION}' "
        "GROUP BY l_partkey), "
        "tot AS (SELECT SUM(value_c) AS total_c FROM nat) "
        "SELECT l_partkey AS ps_partkey, "
        "CAST(value_c AS DOUBLE) / 100.0 AS value "
        "FROM nat CROSS JOIN tot "
        f"WHERE {IMPORTANT_FRACTION_DENOM} * value_c > total_c "
        "ORDER BY value DESC, ps_partkey ASC"
    ),
    "q12_ship_priority_class": (
        "SELECT CASE WHEN l_quantity > 25 THEN 'BULK' ELSE 'SMALL' END "
        "AS ship_class, "
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') "
        "    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
        "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') "
        "    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' "
        "AND l_shipdate > o_orderdate "
        "GROUP BY 1 ORDER BY 1"
    ),
    "q15_top_supplier": (
        "WITH rev AS (SELECT l_suppkey, "
        f"100 * SUM({_C.format(c='l_extendedprice')}) "
        f"- SUM({_C.format(c='l_extendedprice')} * {_C.format(c='l_discount')}) "
        "AS rev_e4 "
        "FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' "
        "GROUP BY l_suppkey) "
        "SELECT s_suppkey, s_name, "
        "CAST(rev_e4 AS DOUBLE) / 10000.0 AS total_revenue "
        "FROM rev JOIN supplier ON l_suppkey = s_suppkey "
        "WHERE rev_e4 = (SELECT MAX(rev_e4) FROM rev) "
        "ORDER BY s_suppkey"
    ),
    "q16_supplier_counts": (
        f"WITH sup AS ({_SUPPLY_SQL}) "
        "SELECT p_brand, p_type, p_size, "
        "COUNT(DISTINCT ps_suppkey) AS supplier_cnt "
        "FROM sup JOIN part ON ps_partkey = p_partkey "
        "WHERE p_brand <> 'Brand#5' AND p_type NOT LIKE 'PROMO%' "
        "AND p_size IN (1,5,10,15,20,25,30,35) "
        "AND ps_suppkey NOT IN "
        "    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) "
        "GROUP BY p_brand, p_type, p_size "
        "ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC"
    ),
    "q17_small_qty_revenue": (
        "SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) "
        "AS DOUBLE) / 100.0 / 7.0 AS avg_yearly "
        "FROM lineitem "
        "JOIN part ON l_partkey = p_partkey "
        "JOIN (SELECT l_partkey AS ap_key, "
        "             CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) "
        "             AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS avg_qty "
        "      FROM lineitem GROUP BY l_partkey) a ON l_partkey = ap_key "
        "WHERE p_brand = 'Brand#3' AND p_size < 10 "
        "AND l_quantity < 0.2 * avg_qty"
    ),
    "q20_dominant_suppliers": (
        "WITH shipped AS (SELECT l_partkey, l_suppkey, "
        f"SUM({_C.format(c='l_quantity')}) AS supp_qty_c "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' "
        "AND p_name LIKE '%blue%' "
        "GROUP BY l_partkey, l_suppkey), "
        "per_part AS (SELECT l_partkey AS pp_key, SUM(supp_qty_c) AS part_qty_c "
        "FROM shipped GROUP BY 1) "
        "SELECT DISTINCT s_name "
        "FROM shipped JOIN per_part ON l_partkey = pp_key "
        "JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        f"WHERE 2 * supp_qty_c > part_qty_c AND n_name = '{DOMINANT_NATION}' "
        "ORDER BY s_name"
    ),
    "q21_last_shipper": (
        "SELECT s_name, COUNT(*) AS numwait "
        "FROM lineitem l1 "
        "JOIN orders ON l1.l_orderkey = o_orderkey "
        "JOIN supplier ON l1.l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "WHERE o_orderstatus = 'F' "
        f"AND n_name = '{WAITING_NATION}' "
        "AND EXISTS (SELECT 1 FROM lineitem l2 "
        "            WHERE l2.l_orderkey = l1.l_orderkey "
        "            AND l2.l_suppkey <> l1.l_suppkey) "
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 "
        "                WHERE l3.l_orderkey = l1.l_orderkey "
        "                AND l3.l_suppkey <> l1.l_suppkey "
        "                AND l3.l_shipdate > l1.l_shipdate) "
        "GROUP BY s_name "
        "ORDER BY numwait DESC, s_name ASC LIMIT 100"
    ),
}


def batch_observe_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """`df.observe()` — accumulator-style metrics riding the SAME job
    as the real work (Spark's named-observation API, the streaming
    StreamingQueryProgress surface in batch form): the orders scan is
    written out once (noop sink stands in for the production write)
    and the row count, exact cents total, and max key are collected as
    a side effect of THAT job — no second scan, which at 100 TB is the
    difference between free observability and doubling the pipeline.
    The returned frame is the metrics row itself; the oracle
    recomputes the same aggregates relationally.
    """
    from pyspark.sql import Observation

    o = load_table(spark, sf, "orders")
    obs = Observation("orders_write_audit")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents_total"
        ),
        F.max("o_orderkey").alias("max_orderkey"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["cents_total"]),
                int(m["max_orderkey"]),
            )
        ],
        "n_rows long, cents_total long, max_orderkey long",
    )


QUERIES["batch_observe_metrics"] = batch_observe_metrics
ORACLES["batch_observe_metrics"] = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_total,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey
FROM orders
"""


DPO_YEAR, DPO_MONTH = 1995, 3  # the partition the second write replaces


def write_dynamic_partition_overwrite(spark: SparkSession, sf: str) -> DataFrame:
    """Dynamic partition overwrite (`partitionOverwriteMode=dynamic`):
    the idempotent-backfill write mode — a full per-month partitioned
    orders extract, then a CORRECTED rewrite of exactly one month
    (its cents doubled); dynamic mode replaces ONLY the partitions the
    second write touches, static mode would wipe the whole table (the
    classic backfill foot-gun this op pins). Read back per-year
    totals: every month keeps its original cents except the corrected
    one.

    Scale: partition-pruned writes are how a 100 TB lake re-states a
    bad day without touching the other 3650; the audit is one
    partition-discovering scan folded per year.
    """
    out = tmpdir_reclaimed_at_exit("dpo_orders_")
    o = load_table(spark, sf, "orders").select(
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    o.write.partitionBy("y", "m").parquet(out, mode="overwrite")
    fix = o.where(
        (F.col("y") == DPO_YEAR) & (F.col("m") == DPO_MONTH)
    ).withColumn("cents", F.col("cents") * 2)
    (
        fix.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy("y", "m")
        .parquet(out, mode="overwrite")
    )
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.col("y").cast("int").alias("year"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_total"),
        )
        .orderBy("year")
    )


QUERIES["write_dynamic_partition_overwrite"] = write_dynamic_partition_overwrite
ORACLES["write_dynamic_partition_overwrite"] = f"""
SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)
                * CASE WHEN year(o_orderdate) = {DPO_YEAR}
                        AND month(o_orderdate) = {DPO_MONTH}
                       THEN 2 ELSE 1 END) AS BIGINT) AS cents_total
FROM orders GROUP BY 1 ORDER BY 1
"""


CORRUPT_ROWS = 500
CORRUPT_MOD = 7  # every 7th line is truncated mid-record


def source_json_corrupt_records(spark: SparkSession, sf: str) -> DataFrame:
    """Permissive malformed-record ingestion — the production JSON
    posture: a feed where every CORRUPT_MOD-th line is truncated
    mid-record is read with `mode=PERMISSIVE` +
    `columnNameOfCorruptRecord`, so bad lines become rows with the
    raw line preserved in the quarantine column and fields NULL
    instead of failing the job (FAILFAST) or silently vanishing
    (DROPMALFORMED). The audit proves all three contracts at once:
    good rows parse with exact values, corrupt rows are COUNTED not
    dropped, and the quarantine column captures the raw text for
    replay. The oracle replays the deterministic corruption rule
    closed-form.

    Scale: schema-explicit JSONL scan (no inference pass), narrow
    fold — the quarantine pattern is how a 100 TB ingest keeps one
    bad producer from stalling the lake.
    """
    import json as _json
    import os

    stage = tmpdir_reclaimed_at_exit("corrupt_jsonl_")
    path = os.path.join(stage, "feed.jsonl")
    with open(path, "w") as fh:
        for i in range(CORRUPT_ROWS):
            line = _json.dumps(
                {"id": i, "cents": (i * 37) % 1000}, separators=(",", ":")
            )
            if i % CORRUPT_MOD == 0:
                line = line[:-2]  # truncate mid-record: invalid JSON
            fh.write(line + "\n")
    df = (
        spark.read.schema("id long, cents long, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.count(F.col("id")).cast("long").alias("n_good"),
        F.count(F.col("_bad")).cast("long").alias("n_quarantined"),
        F.sum("cents").cast("long").alias("cents_good_sum"),
        F.sum(F.length("_bad")).cast("long").alias("quarantine_chars"),
    )


QUERIES["source_json_corrupt_records"] = source_json_corrupt_records
ORACLES["source_json_corrupt_records"] = f"""
WITH lines AS (
  SELECT id, (id * 37) % 1000 AS cents,
         length('{{"id":' || id || ',"cents":' || ((id * 37) % 1000)
                || '}}') - 2 AS bad_len,
         id % {CORRUPT_MOD} = 0 AS corrupt
  FROM (SELECT unnest(generate_series(0, {CORRUPT_ROWS - 1})) AS id)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS n_good,
       CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quarantined,
       CAST(SUM(CASE WHEN corrupt THEN NULL ELSE cents END) AS BIGINT)
         AS cents_good_sum,
       CAST(SUM(CASE WHEN corrupt THEN bad_len ELSE NULL END) AS BIGINT)
         AS quarantine_chars
FROM lines
"""


def stat_crosstab_contingency(spark: SparkSession, sf: str) -> DataFrame:
    """`df.stat.crosstab` — the contingency-table API (event type ×
    ISO weekday here): one pass, counts materialized wide. Column
    names come from the data (`1`..`7`), so the op pins both the
    counting and the name-mangling contract; the oracle is the
    equivalent conditional-sum pivot. At scale crosstab is a single
    groupBy under the hood — distinct-value count on the pivoted axis
    must be bounded (7 here), same rule as any pivot.
    """
    e = load_table(spark, sf, "events").select(
        "event_type", F.dayofweek("ts").alias("dow")
    )
    ct = e.stat.crosstab("event_type", "dow")
    cols = [F.col("event_type_dow").alias("event_type")] + [
        F.col(f"`{d}`").cast("long").alias(f"dow_{d}") for d in range(1, 8)
    ]
    return ct.select(*cols).orderBy("event_type")


QUERIES["stat_crosstab_contingency"] = stat_crosstab_contingency
ORACLES["stat_crosstab_contingency"] = """
SELECT event_type,
       {cols}
FROM (SELECT event_type, dayofweek(ts) + 1 AS dow FROM events)
GROUP BY event_type ORDER BY event_type
""".format(
    cols=",\n       ".join(
        f"CAST(SUM(CASE WHEN dow = {d} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS dow_{d}"
        for d in range(1, 8)
    )
)


def rollup_grouping_id(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP with GROUPING_ID disambiguation — the bit that makes
    subtotal rows machine-readable: a NULL group key is ambiguous
    (real NULL vs subtotal) until grouping_id() labels the aggregation
    level. Exact cents rollup over (priority, status) with the level
    id and per-level NULL-free labels.
    """
    o = load_table(spark, sf, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents_total"),
            F.grouping_id().cast("long").alias("level_id"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            "n_orders",
            "cents_total",
            "level_id",
        )
        .orderBy("level_id", "priority", "status")
    )


QUERIES["rollup_grouping_id"] = rollup_grouping_id
ORACLES["rollup_grouping_id"] = """
SELECT COALESCE(o_orderpriority, '(all)') AS priority,
       COALESCE(o_orderstatus, '(all)') AS status,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_total,
       CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus)
            AS BIGINT) AS level_id
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY level_id, priority, status
"""


# -- parameterized SQL ------------------------------------------------

PARAM_PRIORITY = "1-URGENT"
PARAM_MIN_CENTS = 15_000_000  # o_totalprice floor, exact cents


def sql_parameterized_query(spark: SparkSession, sf: str) -> DataFrame:
    """Named-parameter SQL (Spark 4 ``spark.sql(..., args={...})``) —
    the injection-safe API surface the reference's REST endpoint
    (duckdb_rest_server.py:63-88, raw string interpolation) should
    have used: parameters bind as typed literals in the analyzer, so
    user values can never splice into the query text. The plan is
    identical to the literal query — Catalyst folds the bound
    literals and pushes the filters into the scan like any constant.

    Money follows the module's integer-cents rule: the floor binds as
    integer cents and rows compare on ``round(x*100)`` → BIGINT (the
    truncating-CAST form differs between engines on FP-error cents).
    """
    _views(spark, sf, "orders", "customer")
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                 AS BIGINT) AS revenue_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderpriority = :prio
          AND CAST(round(o_totalprice * 100) AS BIGINT) >= :min_cents
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """,
        args={"prio": PARAM_PRIORITY, "min_cents": PARAM_MIN_CENTS},
    )


QUERIES["sql_parameterized_query"] = sql_parameterized_query
ORACLES["sql_parameterized_query"] = f"""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderpriority = '{PARAM_PRIORITY}'
  AND CAST(round(o_totalprice * 100) AS BIGINT) >= {PARAM_MIN_CENTS}
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def sql_udf_scalar_tvf(spark: SparkSession, sf: str) -> DataFrame:
    """Spark 4 SQL-language UDFs — the declarative cousin of the
    Python/pandas UDF tiers (X5): a scalar SQL UDF
    (``CREATE TEMPORARY FUNCTION ... RETURNS BIGINT RETURN expr``)
    encapsulating the module's integer-cents money rule, plus a SQL
    TABLE-VALUED function returning the quantity-bracket dimension,
    consumed via a range join. SQL UDFs are inlined by the analyzer —
    the optimized plan is identical to writing the expressions by
    hand (no serialization boundary, full codegen/pushdown), which is
    exactly why they beat opaque UDFs for pure-SQL logic; the tiny
    TVF output broadcasts onto the fact scan.

    The oracle replays the same query with the function bodies
    inlined — bit-identical because inlining is semantically exact.
    """
    _views(spark, sf, "lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_cents(ep DOUBLE, d DOUBLE) "
        "RETURNS BIGINT RETURN CAST(round(ep * (1 - d) * 100) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qty_brackets() "
        "RETURNS TABLE (lo INT, hi INT, bucket STRING) RETURN "
        "SELECT * FROM VALUES (0, 10, 'small'), (11, 25, 'mid'), "
        "(26, 100, 'large') t(lo, hi, bucket)"
    )
    return spark.sql(
        """
        SELECT b.bucket,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(disc_cents(l_extendedprice, l_discount)) AS BIGINT)
                 AS revenue_cents
        FROM lineitem l
        JOIN qty_brackets() b
          ON l.l_quantity >= b.lo AND l.l_quantity <= b.hi
        GROUP BY b.bucket
        ORDER BY b.bucket
        """
    )


QUERIES["sql_udf_scalar_tvf"] = sql_udf_scalar_tvf
ORACLES["sql_udf_scalar_tvf"] = """
SELECT b.bucket,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN (SELECT * FROM (VALUES (0, 10, 'small'), (11, 25, 'mid'),
      (26, 100, 'large')) t(lo, hi, bucket)) b
  ON l.l_quantity >= b.lo AND l.l_quantity <= b.hi
GROUP BY b.bucket
ORDER BY b.bucket
"""


def sql_session_variables(spark: SparkSession, sf: str) -> DataFrame:
    """SQL session variables + EXECUTE IMMEDIATE (Spark 4 scripting
    surface): ``DECLARE VARIABLE`` / ``SET VAR`` hold session-scoped
    typed values, and ``EXECUTE IMMEDIATE ... USING`` passes them to a
    statement as BIND PARAMETERS — with ``sql_parameterized_query``
    and ``sql_udf_scalar_tvf`` this completes the injection-safe SQL
    scripting toolkit the reference's interpolating REST handler
    (duckdb_rest_server.py:63-88) lacked. Variables bind as typed
    literals in the analyzer, so Catalyst folds them and pushes the
    filter into the scan exactly like a hand-written constant.

    Money follows the module's integer-cents rule on both engine
    sides.
    """
    _views(spark, sf, "orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE big_order_cents BIGINT DEFAULT 0"
    )
    spark.sql("SET VAR big_order_cents = 25000000")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority,
                  CAST(COUNT(*) AS BIGINT) AS n_big,
                  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
           FROM orders
           WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= ?
           GROUP BY o_orderpriority ORDER BY o_orderpriority'
          USING big_order_cents
        """
    )


QUERIES["sql_session_variables"] = sql_session_variables
ORACLES["sql_session_variables"] = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_big,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= 25000000
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def agg_listagg_ordered(spark: SparkSession, sf: str) -> DataFrame:
    """``listagg(expr, sep) WITHIN GROUP (ORDER BY ...)`` — the Spark
    4.1 ordered string aggregation (SQL:2016 T625).  Deterministic by
    construction: the WITHIN GROUP order is the aggregated column
    itself (unique nation names per region), so both engines emit the
    identical byte string — the property ``collect_list`` never had
    (engine-order-dependent) and the reason listagg is the right tool
    for stable concatenated keys / fingerprints at any scale.  The
    second column aggregates over a DISTINCT set (listagg_distinct's
    SQL form) to pin de-dup-before-concat semantics too.

    Plan: one region-keyed shuffle of 25 nation rows after a broadcast
    join — string build-up happens once per group at the reducer, so
    output size is group-bounded regardless of input row count.
    """
    _views(spark, sf, "nation", "region")
    return spark.sql(
        """
        SELECT r.r_name,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name)
                 AS nations_csv,
               listagg(DISTINCT substring(n.n_name, 1, 1), '')
                 WITHIN GROUP (ORDER BY substring(n.n_name, 1, 1))
                 AS initials,
               CAST(COUNT(*) AS BIGINT) AS n_nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name
        """
    )


QUERIES["agg_listagg_ordered"] = agg_listagg_ordered
ORACLES["agg_listagg_ordered"] = """
SELECT r.r_name,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv,
       string_agg(DISTINCT substring(n.n_name, 1, 1), ''
                  ORDER BY substring(n.n_name, 1, 1)) AS initials,
       CAST(COUNT(*) AS BIGINT) AS n_nations
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name ORDER BY r.r_name
"""


def sql_scripting_control_flow(spark: SparkSession, sf: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN…END compound statements, SQL/PSM):
    DECLARE'd local variables and a WHILE loop drive a data-dependent
    search — double a price threshold until at most 100 orders remain
    above it — entirely in SQL, the procedural tier the reference's
    REST server pushed into Python glue.  Each loop iteration is one
    scalar aggregate job; the loop is O(log(max_price)) iterations by
    construction, so the script costs a handful of tiny jobs at any
    corpus size (the driver never sees row data, only the scalar).

    The DuckDB oracle replays the identical doubling as a recursive
    CTE — same start, same predicate, same exit state — so parity
    covers the loop's termination semantics, not just the final
    aggregate.
    """
    _views(spark, sf, "orders")
    # Scoped conf: the script body executes — loop jobs and all —
    # inside spark.sql, and the returned frame is the already-planned
    # final SELECT, so restoring the flag immediately after the call is
    # safe and keeps the shared grading session's conf untouched.
    with scoped_conf(spark, "spark.sql.scripting.enabled", "true"):
        return spark.sql(
            """
            BEGIN
              DECLARE th BIGINT DEFAULT 1000000;
              DECLARE n INT DEFAULT 0;
              DECLARE cnt BIGINT DEFAULT 0;
              SET cnt = (SELECT COUNT(*) FROM orders
                         WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= th);
              WHILE cnt > 100 DO
                SET th = th * 2;
                SET n = n + 1;
                SET cnt = (SELECT COUNT(*) FROM orders
                           WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= th);
              END WHILE;
              SELECT CAST(n AS BIGINT) AS n_doublings,
                     CAST(th AS BIGINT) AS final_threshold_cents,
                     CAST(cnt AS BIGINT) AS n_above;
            END
            """
        )


QUERIES["sql_scripting_control_flow"] = sql_scripting_control_flow
ORACLES["sql_scripting_control_flow"] = """
WITH RECURSIVE steps(i, th) AS (
  SELECT 0, CAST(1000000 AS BIGINT)
  UNION ALL
  SELECT i + 1, th * 2 FROM steps
  WHERE (SELECT COUNT(*) FROM orders
         WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= th) > 100
),
fin AS (SELECT i, th FROM steps ORDER BY i DESC LIMIT 1)
SELECT CAST(fin.i AS BIGINT) AS n_doublings,
       CAST(fin.th AS BIGINT) AS final_threshold_cents,
       CAST((SELECT COUNT(*) FROM orders
             WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= fin.th)
         AS BIGINT) AS n_above
FROM fin
"""
