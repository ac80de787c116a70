"""Drive the REST façade through its HTTP surface (Flask test client).

Covers the reference's golden request corpus (rest-api.http:6-72 +
README curl examples) re-expressed over the fixture tables, and
asserts the two deliberate bug-fixes: limits pushed into the plan and
honored on the table-scan path.
"""

import pytest

from iceberg_kafka_playgroud_spark.api.server import create_app


@pytest.fixture(scope="module")
def client(spark, sf_dir):
    app = create_app(spark, sf_dir)
    app.config["TESTING"] = True
    with app.test_client() as c:
        yield c


def test_health(client):
    r = client.get("/health")
    assert r.status_code == 200
    assert r.get_json()["status"] == "healthy"


def test_query_select_one(client):
    # README.md:499 smoke
    r = client.post("/query", json={"query": "SELECT 1 AS x"})
    assert r.get_json()["rows"] == [{"x": 1}]


def test_query_limit_pushed(client):
    # rest-api.http:26-36 analog: SELECT * with limit 10
    r = client.post(
        "/query", json={"query": "SELECT * FROM lineitem", "limit": 10}
    )
    assert len(r.get_json()["rows"]) == 10


def test_query_limit_zero_schema_probe(client):
    # duckdb_rest_server.py:101-104 LIMIT 0 connectivity probe
    r = client.post("/query", json={"query": "SELECT * FROM orders", "limit": 0})
    assert r.get_json()["rows"] == []


def test_query_aggregate(client):
    r = client.post(
        "/query",
        json={"query": "SELECT COUNT(*) AS n FROM lineitem"},
    )
    assert r.get_json()["rows"][0]["n"] > 0


def test_query_missing_field_400(client):
    r = client.post("/query", json={})
    assert r.status_code == 400


def test_query_bad_sql_400(client):
    r = client.post("/query", json={"query": "SELEKT broken"})
    assert r.status_code == 400
    assert "error" in r.get_json()


def test_query_non_numeric_limit_400(client):
    # a bad limit must be a 400 validation error, not an unhandled 500
    for ep, body in (
        ("/query", {"query": "SELECT 1 AS x", "limit": "ten"}),
        ("/table_query", {"table": "region", "limit": "ten"}),
    ):
        r = client.post(ep, json=body)
        assert r.status_code == 400, ep
        assert "error" in r.get_json()


def test_env_substitution_helper(monkeypatch):
    # T8 (kafka_publisher.py:225-245): ${VAR} replacement through
    # nested config trees; unset vars stay literal; non-strings pass
    from iceberg_kafka_playgroud_spark.functions.config import (
        substitute_env_vars,
    )

    monkeypatch.setenv("KAFKA_HOST", "broker-1")
    monkeypatch.setenv("TOPIC", "iceberg-topic")
    monkeypatch.delenv("MISSING_VAR", raising=False)
    cfg = {
        "url": "http://${KAFKA_HOST}:8083",
        "topics": ["${TOPIC}", "${MISSING_VAR}"],
        "nested": {"pair": "${KAFKA_HOST}/${TOPIC}", "n": 5, "flag": True},
    }
    out = substitute_env_vars(cfg)
    assert out == {
        "url": "http://broker-1:8083",
        "topics": ["iceberg-topic", "${MISSING_VAR}"],
        "nested": {"pair": "broker-1/iceberg-topic", "n": 5, "flag": True},
    }
    # input tree is not mutated
    assert cfg["url"] == "http://${KAFKA_HOST}:8083"


def test_list_and_query_parquet(client, sf_dir):
    r = client.get(f"/list_parquet?path={sf_dir}")
    files = r.get_json()["files"]
    assert any(f.endswith("region.parquet") for f in files)
    r2 = client.post(
        "/query_parquet", json={"path": f"{sf_dir}/region.parquet", "limit": 3}
    )
    assert len(r2.get_json()["rows"]) == 3


def test_namespaces_tables_table(client, spark, tmp_path):
    r = client.get("/namespaces")
    assert "default" in r.get_json()["namespaces"]
    r2 = client.get("/tables?namespace=default")
    assert r2.status_code == 200
    # create the canonical table, then describe it through the API
    from iceberg_kafka_playgroud_spark.catalog import create_purchase_events_table

    create_purchase_events_table(spark, "default_db", str(tmp_path))
    r3 = client.get("/table?namespace=default_db&table=purchase_events")
    body = r3.get_json()
    names = [f["name"] for f in body["schema"]]
    assert names[:4] == ["timestamp", "user_id", "action", "amount"]
    assert body["properties"].get("format-version") == "2"


def test_table_query_limit_honored(client, spark, tmp_path):
    # the reference IGNORES this limit (pyiceberg_rest_server.py:210-215);
    # we assert it is honored
    from iceberg_kafka_playgroud_spark.catalog import create_namespace
    from iceberg_kafka_playgroud_spark.sources.rate_fabric import (
        purchase_events_batch,
    )

    create_namespace(spark, "apitest_db")
    spark.sql("DROP TABLE IF EXISTS apitest_db.pe")
    loc = str(tmp_path / "pe")
    purchase_events_batch(spark, 50).write.option("path", loc).saveAsTable(
        "apitest_db.pe"
    )
    r = client.post(
        "/table_query", json={"namespace": "apitest_db", "table": "pe", "limit": 7}
    )
    assert len(r.get_json()["rows"]) == 7


def test_streams_endpoint(client):
    r = client.get("/streams")
    assert r.status_code == 200
    assert "streams" in r.get_json()
