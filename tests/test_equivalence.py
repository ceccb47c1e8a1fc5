"""Scan-vs-index-query equivalence — the reference's key test idea
(tests/dn/local/tst.index_file.sh runs the SAME scan_testcases.sh
corpus with `scan` redefined as `dn query`).

Build one wide metric over the seeded ``events_tree`` (perfbench/gen.py
writes every field the cases use, ``req.caller == "poseidon"``
included), then answer every corpus query from the materialized view
and compare row-for-row with the raw scan."""

import pytest

from dragnet_spark.index.build import Metric, build_index
from dragnet_spark.index.query import NoMetricError, find_metric, query_index
from dragnet_spark.query import QueryConfig
from dragnet_spark.scan import scan_ndjson

GET = {"eq": ["req.method", "GET"]}

# the scan_testcases.sh corpus that big_metric can serve (quantize-last
# cases included; multi-breakdown order also exercised)
CASES = [
    (None, None),
    (None, "operation"),
    (None, "operation,req.method,host"),
    (None, "req.caller"),
    (None, "operation,req.caller"),
    (GET, None),
    (GET, "operation,req.method,host"),
    ({"eq": ["req.caller", "poseidon"]}, None),
    ({"eq": ["req.caller", "poseidon"]}, "req.caller"),
    (None, "latency[aggr=quantize]"),
    (None, "latency[aggr=quantize],operation,host"),
    (None, "host,operation,latency[aggr=quantize]"),
]


@pytest.fixture(scope="module")
def data(events_tree):
    return events_tree[0]


@pytest.fixture(scope="module")
def big_index(spark, tmp_path_factory, data):
    idx = str(tmp_path_factory.mktemp("eq") / "index")
    metrics = [
        Metric.load(
            "big_metric",
            "host,operation,req.caller,req.method,latency[aggr=quantize],"
            "timestamp[date,field=time,aggr=lquantize,step=86400]",
        )
    ]
    from dragnet_spark.datasource import load_datasource
    from dragnet_spark.config import DatasourceConfig

    ds = DatasourceConfig(name="input", path=data)
    df, resolver, _ = load_datasource(spark, ds, QueryConfig.load())
    build_index(
        spark, df, metrics, idx, interval="day", time_field="time",
        resolver=resolver,
    )
    return idx


@pytest.mark.parametrize(
    "filt,bd", CASES, ids=[f"{i}:{bd or 'count'}" for i, (filt, bd) in enumerate(CASES)]
)
def test_query_matches_scan(spark, data, big_index, filt, bd):
    q = QueryConfig.load(breakdowns=bd, filter=filt)
    want = {tuple(r) for r in scan_ndjson(spark, data, q).collect()}
    got = {tuple(r) for r in query_index(spark, big_index, q).collect()}
    assert got == want


def test_filtered_metric_serves_identical_filter(spark, tmp_path, data):
    """A metric with a filter serves only queries with a structurally
    identical filter, which is then dropped from the rollup
    (tst.index_file.sh:33-38; lib/index-query.js:169-188)."""
    idx = str(tmp_path / "index")
    metrics = [Metric.load("filtered_metric", "", filter=GET)]
    from dragnet_spark.datasource import load_datasource
    from dragnet_spark.config import DatasourceConfig

    ds = DatasourceConfig(name="input", path=data)
    df, resolver, _ = load_datasource(spark, ds, QueryConfig.load())
    build_index(spark, df, metrics, idx, interval="all", resolver=resolver)

    q = QueryConfig.load(filter=GET)
    want = {tuple(r) for r in scan_ndjson(spark, data, q).collect()}
    got = {tuple(r) for r in query_index(spark, idx, q).collect()}
    assert got == want

    with pytest.raises(NoMetricError):
        query_index(spark, idx, QueryConfig.load())  # no filter → no metric
    with pytest.raises(NoMetricError):
        query_index(
            spark, idx, QueryConfig.load(filter={"eq": ["req.method", "PUT"]})
        )


def test_find_metric_first_match_wins():
    m1 = Metric.load("narrow", "operation")
    m2 = Metric.load("wide", "operation,host")
    q = QueryConfig.load("operation")
    m, ignore = find_metric(q, [m1, m2])
    assert m.name == "narrow" and not ignore
    q2 = QueryConfig.load("host")
    m, _ = find_metric(q2, [m1, m2])
    assert m.name == "wide"
