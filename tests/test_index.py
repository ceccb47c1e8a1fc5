"""Build+query equivalence: the reference's key test idea — the same
query corpus answered from raw scan and from the index must agree
(tests/dn/local/tst.index_file.sh redefines scan as `dn query`)."""

from collections import Counter
from datetime import datetime, timezone

import pytest

from dragnet_spark.index import Metric, NoMetricError, build_index, find_metric, query_index
from dragnet_spark.query import QueryConfig
from dragnet_spark.scan import scan
from dragnet_spark.sources.tables import load_table
from perfbench.gen import DAYS, FILES_PER_DAY, START, TIME_FORMAT

from tests.conftest import rows_set


METRICS = [
    Metric.load(
        "by_type_day",
        "event_type,day[date,field=ts,aggr=lquantize,step=86400]",
    ),
    Metric.load(
        "clicks_by_day",
        "day[date,field=ts,aggr=lquantize,step=86400]",
        filter={"eq": ["event_type", "click"]},
    ),
    Metric.load("by_bucket", "val[field=value,aggr=lquantize,step=25]"),
]


@pytest.fixture(scope="module")
def index_path(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dnindex"))
    events = load_table(spark, sf_dir, "events")
    build_index(spark, events, METRICS, path, interval="day", time_field="ts")
    return path


# the shared corpus, scan-vs-index (reference scan_testcases.sh pattern)
CORPUS = [
    QueryConfig.load("event_type"),
    QueryConfig.load("event_type,day[date,field=ts,aggr=lquantize,step=86400]"),
    QueryConfig.load("day[date,field=ts,aggr=lquantize,step=86400]"),
    QueryConfig.load(
        "day[date,field=ts,aggr=lquantize,step=86400]",
        filter={"eq": ["event_type", "click"]},
    ),
    QueryConfig.load(
        "event_type",
        filter={"eq": ["event_type", "click"]},
    ),
    QueryConfig.load("val[field=value,aggr=lquantize,step=25]"),
    QueryConfig.load(
        "event_type,day[date,field=ts,aggr=lquantize,step=86400]",
        time_after="2024-01-05T00:00:00Z",
        time_before="2024-01-12T00:00:00Z",
        time_field="ts",
    ),
]


@pytest.mark.parametrize("qi", range(len(CORPUS)))
def test_scan_index_equivalence(spark, sf_dir, index_path, qi):
    q = CORPUS[qi]
    events = load_table(spark, sf_dir, "events")
    # the scan side must express time bounds through the same breakdown
    # names the index uses, so compare on identical QueryConfigs
    want = rows_set(scan(events, q))
    got = rows_set(query_index(spark, index_path, q))
    assert got == want


def test_routing_prefers_first_match():
    q = QueryConfig.load("event_type")
    m, ignore = find_metric(q, METRICS)
    assert m.name == "by_type_day" and not ignore


def test_routing_filter_identity():
    q = QueryConfig.load(
        "day[date,field=ts,aggr=lquantize,step=86400]",
        filter={"eq": ["event_type", "click"]},
    )
    # by_type_day serves it (filter fields are indexed columns); the
    # dedicated filtered metric only matches if listed first
    m, ignore = find_metric(q, METRICS)
    assert m.name == "by_type_day" and not ignore
    m2, ignore2 = find_metric(q, [METRICS[1]])
    assert m2.name == "clicks_by_day" and ignore2


def test_routing_rejects_unserveable():
    with pytest.raises(NoMetricError):
        find_metric(QueryConfig.load("no_such_col"), METRICS)
    with pytest.raises(NoMetricError):
        # filter on a field the filterless metrics don't index, and not
        # identical to the filtered metric's filter
        find_metric(
            QueryConfig.load("event_type", filter={"eq": ["user_id", 3]}), METRICS
        )
    with pytest.raises(NoMetricError):
        # step mismatch
        find_metric(
            QueryConfig.load("val[field=value,aggr=lquantize,step=50]"), METRICS
        )


def test_time_bounds_need_date_breakdown():
    q = QueryConfig.load(
        "val[field=value,aggr=lquantize,step=25]",
        time_after="2024-01-05T00:00:00Z",
        time_before="2024-01-12T00:00:00Z",
        time_field="ts",
    )
    with pytest.raises(NoMetricError):
        find_metric(q, [METRICS[2]])


def test_empty_interval_yields_zero(spark, index_path):
    q = QueryConfig.load(
        time_after="2030-01-01T00:00:00Z",
        time_before="2030-01-02T00:00:00Z",
        time_field="day",
    )
    # zero-breakdown total over an empty time range → single 0 row
    q = QueryConfig(
        breakdowns=QueryConfig.load(
            "day[date,field=ts,aggr=lquantize,step=86400]"
        ).breakdowns,
        time_after=q.time_after,
        time_before=q.time_before,
        time_field="ts",
    )
    rows = query_index(spark, index_path, q).collect()
    assert rows == []


def _ops(tallies) -> set:
    """(operation, count) rows of the whole generated tree."""
    out = Counter()
    for (_, op, *_rest), n in tallies.big.items():
        out[op] += n
    return set(out.items())


def _label(secs: int, fmt: str) -> str:
    return datetime.fromtimestamp(secs, tz=timezone.utc).strftime(fmt)


def test_hourly_interval_build_and_query(spark, tmp_path, events_tree):
    """interval=hour partitions by YYYY-MM-DDTHH and bounded queries
    prune to the hour (reference by_hour indexes,
    lib/dragnet-impl.js:204-228)."""
    import glob

    from dragnet_spark.config import DatasourceConfig
    from dragnet_spark.datasource import load_datasource
    from dragnet_spark.index.build import Metric
    from dragnet_spark.scan import scan_ndjson

    tree, tallies = events_tree
    # the first file holds the first 86400/FILES_PER_DAY seconds
    data = f"{tree}/{_label(START, TIME_FORMAT)}/0.log"
    span = 86400 // FILES_PER_DAY
    idx = str(tmp_path / "hourly")
    ds = DatasourceConfig(name="i", path=data)
    df, resolver, _ = load_datasource(spark, ds, QueryConfig.load())
    build_index(
        spark, df,
        [Metric.load("ops", "operation,timestamp[date,field=time,aggr=lquantize,step=3600]")],
        idx, interval="hour", time_field="time", resolver=resolver,
    )
    parts = sorted(
        p.split("=")[-1]
        for p in glob.glob(f"{idx}/ops/__dn_bucket=*")
    )
    assert parts == sorted(
        _label(h, "%Y-%m-%dT%H") for h in tallies.hour if h < START + span
    )

    q = QueryConfig.load(
        "operation",
        time_after="2014-05-01T02:00:00Z",
        time_before="2014-05-01T03:00:00Z",
        time_field="time",
    )
    got = {tuple(r) for r in query_index(spark, idx, q).collect()}
    want = {tuple(r) for r in scan_ndjson(spark, data, q).collect()}
    assert got == want
    assert sum(n for _, n in got) == tallies.hour[START + 2 * 3600] > 0


def test_bounded_rebuild_replaces_only_touched_buckets(spark, tmp_path,
                                                       events_tree):
    """Incremental rebuild: a build bounded to one day rewrites only
    that day's bucket (dynamic partition overwrite); every other
    interval survives and query results are unchanged."""
    from dragnet_spark.config import DatasourceConfig
    from dragnet_spark.datasource import load_datasource
    from dragnet_spark.index.build import Metric

    data, tallies = events_tree
    idx = str(tmp_path / "incr")
    ds = DatasourceConfig(name="i", path=data)
    metrics = [
        Metric.load(
            "ops", "operation,timestamp[date,field=time,aggr=lquantize,step=86400]"
        )
    ]

    df, resolver, _ = load_datasource(spark, ds, QueryConfig.load())
    build_index(spark, df, metrics, idx, interval="day", time_field="time",
                resolver=resolver)
    q = QueryConfig.load("operation")
    before = {tuple(r) for r in query_index(spark, idx, q).collect()}
    assert before == _ops(tallies)

    # rebuild ONLY 2014-05-02 from its files (pruned datasource load)
    bounds = QueryConfig.load(
        time_after="2014-05-02T00:00:00Z",
        time_before="2014-05-03T00:00:00Z",
        time_field="time",
    )
    ds2 = DatasourceConfig(name="i", path=data, time_format=TIME_FORMAT,
                           time_field="time")
    df2, resolver2, _ = load_datasource(spark, ds2, bounds)
    build_index(spark, df2, metrics, idx, interval="day", time_field="time",
                resolver=resolver2,
                time_after=bounds.time_after, time_before=bounds.time_before)

    after = {tuple(r) for r in query_index(spark, idx, q).collect()}
    assert after == before  # nothing lost, nothing doubled

    import glob

    days = sorted(
        p.split("=")[-1] for p in glob.glob(f"{idx}/ops/__dn_bucket=*")
    )
    assert days == [_label(START + d * 86400, "%Y-%m-%d") for d in range(DAYS)]


def test_bounded_index_query_prunes_partitions(spark, tmp_path, capsys,
                                               events_tree):
    """A bounded index query must prune bucket directories
    (PartitionFilters on __dn_bucket) AND push the record-level
    timestamp bounds into the parquet scan — the two layers that make
    interval queries cheap at thousands of buckets."""
    from dragnet_spark.config import DatasourceConfig
    from dragnet_spark.datasource import load_datasource
    from dragnet_spark.index.build import Metric

    idx = str(tmp_path / "prune")
    ds = DatasourceConfig(name="i", path=events_tree[0])
    df, r, _ = load_datasource(spark, ds, QueryConfig.load())
    build_index(
        spark, df,
        [Metric.load("ops", "operation,timestamp[date,field=time,aggr=lquantize,step=86400]")],
        idx, interval="day", time_field="time", resolver=r,
    )
    q = QueryConfig.load(
        "operation",
        time_after="2014-05-02T00:00:00Z",
        time_before="2014-05-03T00:00:00Z",
        time_field="time",
    )
    query_index(spark, idx, q).explain("formatted")
    plan = capsys.readouterr().out
    assert "PartitionFilters: [isnotnull(__dn_bucket" in plan
    assert f"GreaterThanOrEqual(timestamp,{START + 86400})" in plan
    assert f"LessThan(timestamp,{START + 2 * 86400})" in plan


def test_view_files_are_clustered_on_breakdowns(spark, tables, tmp_path):
    """build_index writes each bucket's file sorted by the breakdown
    columns: sorted runs give parquet row groups disjoint min/max
    stats (skippable under pushed filters) and tighter RLE. A refactor
    that drops the sortWithinPartitions would silently lose both."""
    import glob as _glob

    import pyarrow.parquet as pq

    from dragnet_spark.index.build import Metric, build_index

    idx = str(tmp_path / "sorted_idx")
    build_index(
        spark,
        tables["events"],
        [Metric.load("m", "event_type,ub[field=user_id,aggr=lquantize,step=100]")],
        idx,
        interval="day",
        time_field="ts",
    )
    files = _glob.glob(f"{idx}/m/**/*.parquet", recursive=True)
    assert files
    for f in files:
        t = pq.read_table(f)
        rows = list(zip(t["event_type"].to_pylist(), t["ub"].to_pylist()))
        assert rows == sorted(rows), f"unsorted view file: {f}"
