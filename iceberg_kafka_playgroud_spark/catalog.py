"""Catalog / metadata operators (SURVEY §2.4 C1-C7).

The reference exposes namespace/table listing + table describe through
its PyIceberg REST server (``pyiceberg_rest_server.py:101-171``) and
auto-creates namespace+table on first write
(``connector-config.json:19-26``). Here every operation is the Spark
catalog primitive; with the Iceberg runtime on the classpath the same
DDL targets ``USING iceberg`` and the metadata tables
(``tbl.snapshots`` / ``tbl.files``) light up — locally the built-in
session catalog + parquet tables carry the identical surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.rate_fabric import purchase_events_batch
from .streaming.ingest import iceberg_available
from .tmpdirs import tmpdir_reclaimed_at_exit

# table properties the reference sink configures (connector-config.json:24-26)
REFERENCE_TBLPROPERTIES = {
    "format-version": "2",
    "write.parquet.compression-codec": "snappy",
}


def list_namespaces(spark: SparkSession) -> DataFrame:
    """C1 (pyiceberg_rest_server.py:101-112)."""
    return spark.sql("SHOW NAMESPACES")


def list_tables(spark: SparkSession, namespace: str = "default") -> DataFrame:
    """C2 (pyiceberg_rest_server.py:114-127)."""
    return spark.sql(f"SHOW TABLES IN {namespace}")


def describe_table(spark: SparkSession, table: str) -> DataFrame:
    """C3 (pyiceberg_rest_server.py:129-171): schema + metadata."""
    return spark.sql(f"DESCRIBE TABLE EXTENDED {table}")


def create_namespace(
    spark: SparkSession, namespace: str, location: str | None = None
) -> None:
    """C4: idempotent namespace creation (auto-create analog).

    Always pins LOCATION (default: fresh temp dir) so a caller-owned
    session never materializes ./spark-warehouse in its cwd.
    """
    loc = location or tmpdir_reclaimed_at_exit(f"ns_{namespace}_")
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {namespace} LOCATION '{loc}'")


def create_purchase_events_table(
    spark: SparkSession, namespace: str = "default_db", location: str | None = None
) -> str:
    """C4: idempotent creation of the canonical table
    (``default_db.purchase_events``, connector-config.json:20) with the
    reference's table properties. USING iceberg when the runtime is on
    the classpath, else parquet with identical schema/properties."""
    create_namespace(spark, namespace)
    fq = f"{namespace}.purchase_events"
    fmt = "iceberg" if iceberg_available(spark) else "parquet"
    props = ", ".join(f"'{k}'='{v}'" for k, v in REFERENCE_TBLPROPERTIES.items())
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(
        f"""
        CREATE TABLE IF NOT EXISTS {fq} (
          timestamp BIGINT, user_id STRING, action STRING, amount DOUBLE,
          user_details STRUCT<name: STRING, age: INT, email: STRING>,
          purchase_metadata MAP<STRING, STRING>,
          previous_purchases ARRAY<DOUBLE>
        ) USING {fmt}{loc} TBLPROPERTIES ({props})
        """
    )
    return fq


def table_properties(spark: SparkSession, table: str) -> DataFrame:
    return spark.sql(f"SHOW TBLPROPERTIES {table}")


def streaming_query_status(spark: SparkSession) -> DataFrame:
    """C6/C7 analog: connector lifecycle/status → StreamingQuery
    listing (replaces Connect REST status probes,
    s3_connector_deployer.py:120-126)."""
    rows = [
        (q.id, q.name or "", q.isActive) for q in spark.streams.active
    ]
    return spark.createDataFrame(rows or [], "id string, name string, active boolean")


# --- queries() entries ------------------------------------------------------


def catalog_table_columns(spark: SparkSession, sf: str) -> DataFrame:
    """C3/C4 end-to-end: create namespace + canonical table, then
    DESCRIBE. Output is deterministic → exact VALUES oracle."""
    loc = tmpdir_reclaimed_at_exit("purchase_events_tbl_")
    fq = create_purchase_events_table(spark, "default_db", location=loc)
    return (
        describe_table(spark, fq)
        .select("col_name", "data_type")
        .filter(
            F.col("col_name").isin(
                "timestamp",
                "user_id",
                "action",
                "amount",
                "user_details",
                "purchase_metadata",
                "previous_purchases",
            )
        )
    )


def catalog_write_read_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """C4 + K1 analog: append the synthetic fabric into the canonical
    table, read it back through the catalog, aggregate. Deterministic
    fabric → exact oracle (computed over the same derivations)."""
    ns = "roundtrip_db"
    loc = tmpdir_reclaimed_at_exit("roundtrip_tbl_")
    create_namespace(spark, ns)
    spark.sql(f"DROP TABLE IF EXISTS {ns}.purchase_events")
    fq = f"{ns}.purchase_events"
    fmt = "iceberg" if iceberg_available(spark) else "parquet"
    spark.sql(
        f"""CREATE TABLE {fq} (
          timestamp BIGINT, user_id STRING, action STRING, amount DOUBLE,
          user_details STRUCT<name: STRING, age: INT, email: STRING>,
          purchase_metadata MAP<STRING, STRING>,
          previous_purchases ARRAY<DOUBLE>
        ) USING {fmt} LOCATION '{loc}'"""
    )
    # insertInto: position-based v1 append (writeTo().append() needs a
    # v2 source; with Iceberg on the classpath either path works)
    purchase_events_batch(spark, 1000).write.insertInto(fq)
    t = spark.table(fq)
    return t.groupBy("action").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("timestamp").alias("first_ts"),
        F.max("timestamp").alias("last_ts"),
        F.round(F.sum(F.col("amount").cast("decimal(12,2)")).cast("double"), 2).alias(
            "total_amount"
        ),
    )


def schema_evolution_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Schema evolution on the write path (connector-config.json:5,23):
    v1 rows land first; the widened v2 PurchaseEvent (new NULLABLE
    ``discount_pct``) must pass the BACKWARD checker BEFORE it is
    appended; mergeSchema then reads old+new rows together — exactly
    the reference sink's auto-evolve flow, minus the Iceberg jar.

    At scale this is metadata-only: parquet footers carry each file's
    schema, mergeSchema unions them at planning time, and old files are
    never rewritten (reads project the missing column as null).
    """
    from .functions.schema_compat import SchemaRegistry

    out = tmpdir_reclaimed_at_exit("evolve_tbl_")
    base = 1_740_787_200_000
    fab = purchase_events_batch(spark, 800).select(
        "timestamp", "user_id", "action", "amount"
    )
    idx = ((F.col("timestamp") - base) / 5000).cast("long")
    v1 = fab.filter(idx < 500)
    v2 = fab.filter(idx >= 500).withColumn(
        "discount_pct", (idx % 50).cast("double") / 100.0
    )

    reg = SchemaRegistry()
    reg.register("purchase_events-value", v1.schema)
    issues = reg.test_compatibility("purchase_events-value", v2.schema)
    if issues:  # the reference rejects the produce; so do we
        raise ValueError(f"schema evolution rejected: {issues}")
    reg.register("purchase_events-value", v2.schema)

    v1.write.mode("append").parquet(out)
    v2.write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    ver = F.when(F.col("discount_pct").isNull(), 1).otherwise(2).cast("long")
    return (
        merged.groupBy(ver.alias("schema_version"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("discount_pct").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_missing_discount"),
            (F.sum(cents(F.col("amount"))).cast("double") / F.lit(100.0)).alias(
                "amount_sum"
            ),
            (
                F.sum(F.coalesce(cents(F.col("discount_pct")), F.lit(0)))
                .cast("double")
                / F.lit(100.0)
            ).alias("discount_sum"),
        )
    )


QUERIES = {
    "catalog_table_columns": catalog_table_columns,
    "catalog_write_read_roundtrip": catalog_write_read_roundtrip,
    "schema_evolution_roundtrip": schema_evolution_roundtrip,
}

ORACLES = {
    "catalog_table_columns": """
        SELECT * FROM (VALUES
          ('timestamp', 'bigint'),
          ('user_id', 'string'),
          ('action', 'string'),
          ('amount', 'double'),
          ('user_details', 'struct<name:string,age:int,email:string>'),
          ('purchase_metadata', 'map<string,string>'),
          ('previous_purchases', 'array<double>')
        ) AS t(col_name, data_type)
    """,
    # fabric invariants: n=1000 rows 5 s apart from 2025-03-01T00:00:00Z,
    # user ids cycle mod 1000, amount = (ts_ms//10 % 1000)/100
    "catalog_write_read_roundtrip": """
        WITH ids AS (SELECT unnest(generate_series(0, 999)) AS id),
        fab AS (
          SELECT 1740787200000 + id * 5000 AS ts_ms,
                 'user_' || CAST(id % 1000 AS VARCHAR) AS user_id,
                 CAST((1740787200000 + id * 5000) // 10 % 1000 AS DOUBLE) / 100 AS amount
          FROM ids)
        SELECT 'purchase' AS action,
               COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS n_users,
               MIN(ts_ms) AS first_ts,
               MAX(ts_ms) AS last_ts,
               round(CAST(SUM(CAST(amount AS DECIMAL(12,2))) AS DOUBLE), 2) AS total_amount
        FROM fab
    """,
    # v1 = fabric rows 0-499 (no discount column), v2 = rows 500-799
    # with discount cents id % 50; amount cents = ts_ms//10 % 1000
    "schema_evolution_roundtrip": """
        WITH fab AS (
          SELECT id, (1740787200000 + id * 5000) // 10 % 1000 AS ac
          FROM (SELECT unnest(generate_series(0, 799)) AS id)
        )
        SELECT CAST(1 AS BIGINT) AS schema_version, COUNT(*) AS n,
               COUNT(*) AS n_missing_discount,
               CAST(SUM(ac) AS DOUBLE) / 100.0 AS amount_sum,
               CAST(0 AS DOUBLE) AS discount_sum
        FROM fab WHERE id < 500
        UNION ALL
        SELECT CAST(2 AS BIGINT), COUNT(*), CAST(0 AS BIGINT),
               CAST(SUM(ac) AS DOUBLE) / 100.0,
               CAST(SUM(id % 50) AS DOUBLE) / 100.0
        FROM fab WHERE id >= 500
    """,
}


def catalog_view_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """View surface (C-family completion): a TEMP VIEW defined as SQL
    over the orders table, visible in the session catalog's table
    listing with tableType VIEW, queried through a second view layered
    on the first (view-on-view resolution), and dropped — the
    query-layer abstraction the reference exposes through its SQL
    passthrough. The result is the layered view's aggregate; catalog
    visibility is pinned by the in_catalog column (count of the two
    names present while live).

    Views are logical-plan macros: Catalyst inlines them, so the
    layered read compiles to the same single-scan aggregate as the
    raw query — zero materialization.
    """
    from .schema import load_table

    load_table(spark, sf, "orders").createOrReplaceTempView(
        "orders_base_v"
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW orders_year_v AS
           SELECT year(o_orderdate) AS y,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders_base_v"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY VIEW orders_year_sum_v AS
           SELECT y, COUNT(*) AS n_orders, SUM(cents) AS cents_total
           FROM orders_year_v GROUP BY y"""
    )
    live = {
        t.name
        for t in spark.catalog.listTables()
        if t.tableType in ("TEMPORARY", "VIEW") or t.isTemporary
    }
    n_visible = len({"orders_year_v", "orders_year_sum_v"} & live)
    out = spark.sql(
        f"""SELECT CAST(y AS INTEGER) AS year,
                   CAST(n_orders AS BIGINT) AS n_orders,
                   CAST(cents_total AS BIGINT) AS cents_total,
                   CAST({n_visible} AS BIGINT) AS in_catalog
            FROM orders_year_sum_v ORDER BY y"""
    )
    # materialization-free drop: the result plan above is already
    # resolved (views are inlined at analysis), so dropping now
    # proves the frame does not depend on the catalog entries
    spark.catalog.dropTempView("orders_year_v")
    spark.catalog.dropTempView("orders_year_sum_v")
    return out


QUERIES["catalog_view_roundtrip"] = catalog_view_roundtrip
ORACLES["catalog_view_roundtrip"] = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_total,
       CAST(2 AS BIGINT) AS in_catalog
FROM orders GROUP BY 1 ORDER BY 1
"""
