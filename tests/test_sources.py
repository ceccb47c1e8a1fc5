"""NDJSON / json-skinner sources and the config catalog.

Mirrors the reference's format tests (tests/dn/local/tst.format_skinner.sh —
weight closure under re-aggregation, including the 3x-duplication check)
and config CRUD tests (tests/dn/local/tst.config.sh)."""

import json

import pytest

from dragnet_spark.config import Catalog, ConfigError, DatasourceConfig, MetricConfig
from dragnet_spark.query import QueryConfig
from dragnet_spark.scan import scan
from dragnet_spark.sources.ndjson import (
    read_ndjson,
    read_skinner,
    to_skinner_points,
)

EVENTS = [
    {"host": "a", "req": {"method": "GET"}, "latency": "3"},
    {"host": "a", "req": {"method": "PUT"}, "latency": "10"},
    {"host": "b", "req": {"method": "GET"}, "latency": "5"},
]


@pytest.fixture
def ndjson_dir(tmp_path):
    p = tmp_path / "events.log"
    lines = [json.dumps(e) for e in EVENTS] + ["{not json", ""]
    p.write_text("\n".join(lines) + "\n")
    return str(tmp_path)


def test_read_ndjson_drops_corrupt_lines(spark, ndjson_dir):
    df = read_ndjson(spark, ndjson_dir)
    assert df.count() == 3
    assert "_corrupt_record" not in df.columns


def test_read_ndjson_explicit_schema(spark, ndjson_dir):
    df = read_ndjson(
        spark, ndjson_dir, schema="host string, req struct<method:string>"
    )
    assert df.count() == 3
    assert [f.name for f in df.schema.fields] == ["host", "req"]


def test_skinner_round_trip_weight_closure(spark, tmp_path, ndjson_dir):
    """scan → points → re-scan of 3x-concatenated points triples values
    (reference tests/dn/local/tst.format_skinner.sh:27-38)."""
    raw = read_ndjson(spark, ndjson_dir)
    q = QueryConfig.load(breakdowns=["host"])
    res1 = scan(raw, q)

    points = to_skinner_points(res1).toJSON().collect()
    skinner = tmp_path / "points.log"
    skinner.write_text("\n".join(points * 3) + "\n")

    pts = read_skinner(spark, str(skinner))
    res3 = scan(pts, q, value_col="value")
    m1 = {r["host"]: r["value"] for r in res1.collect()}
    m3 = {r["host"]: r["value"] for r in res3.collect()}
    assert m3 == {k: 3 * v for k, v in m1.items()}
    assert m1 == {"a": 2, "b": 1}


def test_catalog_crud_and_persistence(tmp_path):
    cat = Catalog()
    ds = DatasourceConfig(
        name="logs",
        path="/data/logs",
        time_format="%Y/%m/%d",
        time_field="time",
        filter={"eq": ["audit", "true"]},
    )
    cat.datasource_add(ds)
    with pytest.raises(ConfigError, match="already exists"):
        cat.datasource_add(ds)
    cat.metric_add(
        MetricConfig(
            name="requests",
            datasource="logs",
            breakdowns=[{"name": "host"}, {"name": "latency", "aggr": "quantize"}],
        )
    )
    with pytest.raises(ConfigError, match="unknown datasource"):
        cat.metric_add(MetricConfig(name="x", datasource="nope", breakdowns=[]))

    path = str(tmp_path / "cfg.json")
    cat.save(path)
    back = Catalog.load(path)
    assert back.datasource("logs").time_field == "time"
    assert back.metrics_for("logs")[0].name == "requests"

    back.metric_remove("logs", "requests")
    back.datasource_remove("logs")
    with pytest.raises(ConfigError, match="does not exist"):
        back.datasource_remove("logs")


def test_catalog_validates_filters_and_breakdowns():
    with pytest.raises(Exception):
        DatasourceConfig(name="bad", path="/x", filter={"bogus": ["a", 1]})
    with pytest.raises(Exception):
        MetricConfig(
            name="bad",
            datasource="logs",
            breakdowns=[{"name": "x", "aggr": "lquantize"}],  # missing step
        )


def test_boolean_filter_on_variant_ndjson(spark, tmp_path):
    """{"eq": ["audit", true]} over raw NDJSON: JSON booleans arrive as
    variant 'true'/'false' strings and must match a boolean constant
    (the reference's tst.empty.sh filter shape on real data)."""
    p = tmp_path / "a.log"
    p.write_text(
        '{"audit": true, "op": "x"}\n'
        '{"audit": false, "op": "y"}\n'
        '{"op": "z"}\n'
        '{"audit": "yes", "op": "w"}\n'
    )
    from dragnet_spark.scan import scan_ndjson

    q = QueryConfig.load("op", filter={"eq": ["audit", True]})
    got = {(r["op"], r["value"]) for r in scan_ndjson(spark, str(p), q).collect()}
    # true matches; "yes" string-casts to true (Spark vocabulary);
    # false fails; missing audit drops
    assert got == {("x", 1), ("w", 1)}
