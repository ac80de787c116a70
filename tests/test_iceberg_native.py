"""Native Iceberg runtime path (SURVEY §2.4, snapshots.py's "native
path when the runtime jar is present" claim).

The sandbox has no iceberg-spark-runtime jar, so the native tests SKIP
here — but they execute (and gate regressions) in any environment that
does carry the jar, turning the snapshots layer's claim into a checked
contract instead of an assertion. The fallback test always runs: with
the jar absent, the catalog must create parquet tables with the same
schema and reference table properties.

Reference semantics being proven: connector-config.json:8-27 (Iceberg
sink table, format-version 2, snappy) and
init-iceberg-catalog.sql:10-38 (catalog DDL).
"""

import pytest

from pyspark.sql import functions as F

from iceberg_kafka_playgroud_spark.catalog import (
    REFERENCE_TBLPROPERTIES,
    create_purchase_events_table,
)
from iceberg_kafka_playgroud_spark.sources.rate_fabric import (
    purchase_events_batch,
)
from iceberg_kafka_playgroud_spark.streaming.ingest import iceberg_available


def _provider(spark, fq: str) -> str:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {fq}").collect()
    return next(
        (r["data_type"] for r in rows if r["col_name"] == "Provider"), ""
    ).lower()


def test_catalog_falls_back_to_parquet_without_jar(spark, tmp_path):
    if iceberg_available(spark):
        pytest.skip("jar present; fallback path not exercised")
    fq = create_purchase_events_table(
        spark, "fallback_db", location=str(tmp_path)
    )
    assert _provider(spark, fq) == "parquet"
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {fq}").collect()
    }
    for k, v in REFERENCE_TBLPROPERTIES.items():
        assert props.get(k) == v


@pytest.fixture(scope="module")
def iceberg_spark(spark, tmp_path_factory):
    if not iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime jar not on classpath")
    # native path needs the Iceberg SQL extensions + a catalog; the
    # session-catalog wrapper keeps plain `db.table` names working
    spark.conf.set(
        "spark.sql.catalog.spark_catalog",
        "org.apache.iceberg.spark.SparkSessionCatalog",
    )
    spark.conf.set("spark.sql.catalog.spark_catalog.type", "hadoop")
    spark.conf.set(
        "spark.sql.catalog.spark_catalog.warehouse",
        str(tmp_path_factory.mktemp("iceberg_wh_")),
    )
    return spark


def test_native_iceberg_write_snapshots_time_travel(iceberg_spark, tmp_path):
    """K1/S3 native form: USING iceberg table, two appends, snapshot
    metadata table, VERSION AS OF time travel — the real-runtime twin
    of snapshots.py's parquet+manifest analog."""
    spark = iceberg_spark
    fq = create_purchase_events_table(
        spark, "native_db", location=str(tmp_path)
    )
    assert _provider(spark, fq) == "iceberg"

    purchase_events_batch(spark, 100).write.insertInto(fq)
    purchase_events_batch(spark, 50).write.insertInto(fq)

    snaps = spark.sql(
        f"SELECT snapshot_id, operation FROM {fq}.snapshots "
        "ORDER BY committed_at"
    ).collect()
    assert len(snaps) == 2
    assert all(s["operation"] == "append" for s in snaps)

    first = snaps[0]["snapshot_id"]
    n_then = spark.sql(
        f"SELECT COUNT(*) AS n FROM {fq} VERSION AS OF {first}"
    ).first()["n"]
    n_now = spark.table(fq).count()
    assert (n_then, n_now) == (100, 150)

    files = spark.sql(f"SELECT record_count FROM {fq}.files").agg(
        F.sum("record_count").alias("rc")
    ).first()["rc"]
    assert files == 150
