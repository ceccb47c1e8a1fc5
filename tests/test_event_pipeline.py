"""One event pipeline: every path from raw NDJSON to an answer shares
the parse, the record filters, the metric aggregation and the view
writer, so the paths agree.

* ``dn scan``, ``dn build`` + ``dn query``, ``dn index-scan |
  dn index-read`` + ``dn query`` and ``stream_scan`` give equal answers
  on a seeded tree (perfbench/gen.py, via the ``events_tree`` fixture);
* a bounded ``index-scan`` applies the record-level time bounds
  ``dn build`` applies, and ``index-read`` replaces only the buckets it
  writes, keeping the build's sort;
* ``scan --warnings`` reports the parser count ``--counters`` reports,
  from the same pass, and ``build`` and ``index-scan`` report it from
  their one read at no extra job;
* empty and missing views, hour and unbucketed views, a value-only
  view and dotted and quantized breakdowns answer what ``dn scan``
  answers, and ``dn build`` and ``dn query`` keep their job budgets;
* every view write of ``dn build`` leaves one file per bucket, runs
  under the caller's job group and tags, and a failed one is the
  build's error, with nothing left persisted or running.
"""

import glob
import io
import json
import sys

import pytest

from dragnet_spark.cli import main
from dragnet_spark.fieldspec import parse_breakdowns
from dragnet_spark.query import QueryConfig
from dragnet_spark.streaming import read_ndjson_stream, stream_scan

DAY_STATUS = "timestamp[date,field=time,aggr=lquantize,step=86400],res.statusCode"
HOURLY = "timestamp[date,field=time,aggr=lquantize,step=3600]"
GET = {"eq": ["req.method", "GET"]}


@pytest.fixture
def cfg(tmp_path, monkeypatch):
    path = str(tmp_path / "dnconfig.json")
    monkeypatch.setenv("DRAGNET_CONFIG", path)
    return path


def run(args, cfg_path, stdin=None):
    out, err = io.StringIO(), io.StringIO()
    old_err, old_in = sys.stderr, sys.stdin
    sys.stderr = err
    if stdin is not None:
        sys.stdin = io.StringIO(stdin)
    try:
        rc = main(args, out=out, config_path=cfg_path)
    finally:
        sys.stderr, sys.stdin = old_err, old_in
    assert rc == 0, err.getvalue()
    return out.getvalue(), err.getvalue()


def points(text, names):
    """--points output → {(field values in breakdown order, value)}."""
    got = set()
    for line in text.splitlines():
        pt = json.loads(line)
        got.add((tuple(pt["fields"][n] for n in names), pt["value"]))
    return got


def add_datasource(cfg, name, path, index_path, metrics):
    run(["datasource-add", name, f"--path={path}", "--time-format=%Y/%m-%d",
         "--time-field=time", f"--index-path={index_path}"], cfg)
    for metric, bds, flt in metrics:
        argv = ["metric-add", name, metric]
        if bds:
            argv += ["-b", bds]
        if flt:
            argv += ["-f", json.dumps(flt)]
        run(argv, cfg)


# ------------------------------------------------------ four-way equality

QUERIES = [
    # (breakdowns, filter, after, before)
    ("host,req.caller", None, None, None),
    ("latency[aggr=quantize]", GET, None, None),
    (DAY_STATUS, None, "2014-05-03", "2014-05-06"),
    ("", None, "2014-05-10", "2014-05-12"),
]


def _argv(bds, flt, after, before):
    argv = ["--points"]
    if bds:
        argv += ["-b", bds]
    if flt:
        argv += ["-f", json.dumps(flt)]
    if after:
        argv += ["--after", after, "--before", before]
    return argv


def _stream_points(spark, tree, query, name):
    res = stream_scan(read_ndjson_stream(spark, tree), query)
    q = (res.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    return {(tuple(r[:-1]), r[-1]) for r in spark.sql(f"select * from {name}").collect()}


def test_scan_build_indexread_stream_agree(spark, cfg, tmp_path, events_tree):
    tree, tallies = events_tree
    metrics = [
        ("big", "host,operation,req.caller,req.method,latency[aggr=quantize]", None),
        ("get", "", GET),
        ("bycode", DAY_STATUS, None),
    ]
    add_datasource(cfg, "built", tree, str(tmp_path / "idx_build"), metrics)
    add_datasource(cfg, "mapred", tree, str(tmp_path / "idx_mapred"), metrics)
    run(["build", "built"], cfg)
    pts, _ = run(["index-scan", "mapred"], cfg)
    run(["index-read", "mapred"], cfg, stdin=pts)

    for n, (bds, flt, after, before) in enumerate(QUERIES):
        names = [b.name for b in parse_breakdowns(bds)] if bds else []
        argv = _argv(bds, flt, after, before)
        scanned = points(run(["scan", *argv, "built"], cfg)[0], names)
        assert scanned, bds
        assert points(run(["query", *argv, "built"], cfg)[0], names) == scanned, bds
        assert points(run(["query", *argv, "mapred"], cfg)[0], names) == scanned, bds
        query = QueryConfig.load(breakdowns=bds or None, filter=flt,
                                 time_after=after, time_before=before,
                                 time_field="time")
        assert _stream_points(spark, tree, query, f"pipeline_{n}") == scanned, bds

    # and the shared answer is the generator's exact one
    host_caller = {}
    for (host, _op, caller, _m, _lat), c in tallies.big.items():
        host_caller[(host, caller)] = host_caller.get((host, caller), 0) + c
    scanned = points(run(["scan", *_argv(*QUERIES[0]), "built"], cfg)[0],
                     ["host", "req.caller"])
    assert scanned == set(host_caller.items())


# ---------------------------------------------- bounded index-scan / read

def _event(ts, host, latency=5):
    return json.dumps({"time": ts, "host": host, "latency": str(latency)})


@pytest.fixture
def three_days(tmp_path):
    """Three days under %Y/%m-%d; the 05-02 file also holds records
    stamped on 05-01 and 05-03 (late and early data, which path
    pruning cannot separate), and an odd-lines file sits beside it."""
    root = tmp_path / "three_days"
    days = {
        "05-01": ["2014-05-01T01:00:00Z", "2014-05-01T13:30:00Z"],
        "05-02": ["2014-05-01T23:50:00Z", "2014-05-02T02:00:00Z",
                  "2014-05-02T02:10:00Z", "2014-05-02T20:00:00Z",
                  "2014-05-03T00:10:00Z"],
        "05-03": ["2014-05-03T04:00:00Z", "2014-05-03T05:00:00Z"],
    }
    hosts = ("ralph", "janey", "kearney")
    for day, stamps in days.items():
        d = root / "2014" / day
        d.mkdir(parents=True)
        lines = [_event(ts, hosts[i % 3], 1 << i) for i, ts in enumerate(stamps)]
        (d / "a.log").write_text("\n".join(lines) + "\n")
    odd = ['{bad', '5', '[1,2]', '"str"', '[{"time":"2014-05-02T03:00:00Z"}]', '']
    (root / "2014" / "05-02" / "odd.log").write_text("\n".join(odd) + "\n")
    return str(root)


METRICS_3D = [
    ("byhost", "host", None),
    ("hourly", f"{HOURLY},latency[aggr=quantize]", None),
]


def test_bounded_index_scan_applies_time_bounds(cfg, tmp_path, three_days, spark):
    add_datasource(cfg, "d", three_days, str(tmp_path / "idx"), METRICS_3D)
    pts, _ = run(["index-scan", "--after", "2014-05-02", "--before",
                  "2014-05-03", "d"], cfg)
    lo, hi = 1398988800, 1399075200  # 2014-05-02, 2014-05-03
    got = [json.loads(line)["fields"] for line in pts.splitlines()]
    assert got
    assert {f["__dn_bucket"] for f in got} == {"2014-05-02"}
    hours = [f["timestamp"] for f in got if "timestamp" in f]
    assert hours and all(lo <= h < hi for h in hours)


def test_bounded_index_read_matches_bounded_build(cfg, tmp_path, three_days, spark):
    """A bounded rebuild by map/reduce (index-scan | index-read) leaves
    the other days in place and answers like a bounded dn build."""
    import pyarrow.parquet as pq

    bounds = ["--after", "2014-05-02", "--before", "2014-05-03"]
    add_datasource(cfg, "built", three_days, str(tmp_path / "a"), METRICS_3D)
    add_datasource(cfg, "mapred", three_days, str(tmp_path / "b"), METRICS_3D)
    for ds in ("built", "mapred"):
        run(["build", ds], cfg)
    run(["build", *bounds, "built"], cfg)
    pts, _ = run(["index-scan", *bounds, "mapred"], cfg)
    run(["index-read", "mapred"], cfg, stdin=pts)

    for argv in (["-b", "host"], ["-b", HOURLY], ["-b", "latency[aggr=quantize]"],
                 ["-b", f"{HOURLY},latency[aggr=quantize]"],
                 ["--after", "2014-05-01", "--before", "2014-05-02"],
                 ["--after", "2014-05-03", "--before", "2014-05-04",
                  "-b", "latency[aggr=quantize]"]):
        want, _ = run(["query", "--points", *argv, "built"], cfg)
        got, _ = run(["query", "--points", *argv, "mapred"], cfg)
        assert want.strip() and got == want, argv

    # the rewritten bucket keeps the build's layout: one file, sorted
    files = glob.glob(f"{tmp_path}/b/by_day/hourly/__dn_bucket=2014-05-02/*.parquet")
    assert len(files) == 1
    t = pq.read_table(files[0])
    rows = list(zip(t["timestamp"].to_pylist(), t["latency"].to_pylist()))
    assert rows == sorted(rows)


# ------------------------------------------------------------- --warnings

def test_warnings_count_is_the_counters_count(cfg, tmp_path, three_days, spark):
    """--warnings reads the parser counts of the scan's own pass: the
    number --counters reports as invalid json, at zero extra jobs."""
    from perfbench.ledger import Ledger

    run(["datasource-add", "d", f"--path={three_days}"], cfg)
    _out, err = run(["scan", "--counters", "--warnings", "-b", "host", "d"], cfg)
    invalid = [ln for ln in err.splitlines() if "invalid json:" in ln]
    warned = [ln for ln in err.splitlines() if ln.startswith("warn:")]
    assert len(invalid) == 1 and len(warned) == 1, err
    n = int(invalid[0].split()[-1])
    assert n == 2  # '{bad' and the blank line; 5, [1,2] ... are JSON
    assert warned[0] == "warn: %d unparseable input lines" % n

    ledger = Ledger(spark)
    jobs = {}
    for flags in ((), ("--warnings",)):
        with ledger.scope("scan") as group:
            run(["scan", *flags, "-b", "host", "d"], cfg)
        jobs[flags] = ledger.read(group)["jobs"]
    assert jobs[()] > 0
    assert jobs[("--warnings",)] == jobs[()]


def test_build_and_index_scan_counters_ride_the_aggregate(cfg, tmp_path,
                                                        three_days, job_count):
    """dn build --counters/--warnings and dn index-scan --counters
    report the parse counts dn scan --counters reports, observed on
    the persisted aggregate's one read of the raw data: each flag
    leaves the job count unchanged."""
    add_datasource(cfg, "d", three_days, str(tmp_path / "idx"), METRICS_3D)
    _out, err = run(["scan", "--counters", "d"], cfg)
    parser = [ln for ln in err.splitlines() if ln.startswith("json parser")]
    assert len(parser) == 3, err  # ninputs, noutputs, invalid json

    def counted(argv):
        errs = []
        n = job_count(lambda: errs.append(run(argv, cfg)[1]))
        return n, errs[0]

    base = counted(["build", "d"])[0]
    jobs, err = counted(["build", "--counters", "d"])
    assert jobs == base and [ln for ln in err.splitlines()
                             if ln.startswith("json parser")] == parser
    jobs, err = counted(["build", "--warnings", "d"])
    assert jobs == base and "warn: 2 unparseable input lines" in err

    base = counted(["index-scan", "d"])[0]
    jobs, err = counted(["index-scan", "--counters", "d"])
    assert jobs == base and err.splitlines() == parser


def test_compact_rewrites_with_the_build_writer(spark, tmp_path, three_days):
    """Compaction of appended partials (the continuous-build shape)
    keeps every answer and rewrites each bucket as the build writes
    it: one file, one row per group, sorted."""
    import pyarrow.parquet as pq

    from dragnet_spark.index.build import Metric, build_index, compact_index
    from dragnet_spark.index.query import query_index
    from dragnet_spark.scan import VariantResolver
    from dragnet_spark.sources.ndjson import parse_ndjson

    raw = parse_ndjson(
        spark.read.option("recursiveFileLookup", "true").text(three_days))
    metrics = [Metric.load("hourly", f"{HOURLY},latency[aggr=quantize]")]
    idx = str(tmp_path / "idx")
    for _ in range(2):
        build_index(spark, raw, metrics, idx, interval="day", time_field="time",
                    mode="append", resolver=VariantResolver())
    query = QueryConfig.load(f"{HOURLY},latency[aggr=quantize]")
    before = {tuple(r) for r in query_index(spark, idx, query).collect()}
    appended = spark.read.parquet(f"{idx}/hourly").count()

    compact_index(spark, idx)
    assert {tuple(r) for r in query_index(spark, idx, query).collect()} == before
    assert spark.read.parquet(f"{idx}/hourly").count() * 2 == appended
    for bucket in glob.glob(f"{idx}/hourly/__dn_bucket=*"):
        files = glob.glob(f"{bucket}/*.parquet")
        assert len(files) == 1
        t = pq.read_table(files[0])
        rows = list(zip(t["timestamp"].to_pylist(), t["latency"].to_pylist()))
        assert rows == sorted(rows)


# ------------------------------------------------- empty and missing views

NOPE = {"eq": ["req.method", "NOPE"]}  # matches no record
EMPTY_METRICS = [("get", "host", GET), ("nope", "host", NOPE)]
NOPE_QUERIES = (["-f", json.dumps(NOPE)], ["-f", json.dumps(NOPE), "-b", "host"])


def _answers_like_scan(cfg, ds, argvs):
    """Each ``dn query`` prints the bytes ``dn scan`` prints, in the
    table and the --points form."""
    for argv in argvs:
        for mode in ([], ["--points"]):
            want, _ = run(["scan", *mode, *argv, ds], cfg)
            got, _ = run(["query", *mode, *argv, ds], cfg)
            assert got == want, (mode, argv)


def test_empty_view_answers_like_scan(cfg, tmp_path, events_tree, spark):
    """A metric whose filter matches nothing gets an empty view (a
    bucket-partitioned write of no rows leaves no data file): a count
    answers 0 and a grouped query nothing, as dn scan does."""
    add_datasource(cfg, "d", events_tree[0], str(tmp_path / "idx"),
                   EMPTY_METRICS)
    run(["build", "d"], cfg)
    assert not glob.glob(f"{tmp_path}/idx/by_day/nope/**/*.parquet",
                         recursive=True)
    _answers_like_scan(cfg, "d", NOPE_QUERIES)
    assert run(["scan", *NOPE_QUERIES[0], "d"], cfg)[0] == "VALUE\n    0\n"


def test_index_read_writes_every_view(cfg, tmp_path, events_tree, spark):
    """index-read writes a view for every defined metric, as dn build
    does, so a query routed to a metric without points answers like
    dn scan instead of finding no view directory."""
    add_datasource(cfg, "d", events_tree[0], str(tmp_path / "idx"),
                   EMPTY_METRICS)
    pts, _ = run(["index-scan", "d"], cfg)
    assert {json.loads(p)["fields"]["__dn_metric"] for p in pts.splitlines()} == {0}
    run(["index-read", "d"], cfg, stdin=pts)
    _answers_like_scan(cfg, "d", NOPE_QUERIES)


def test_compact_empty_and_dotted_views(cfg, tmp_path, events_tree, spark):
    """dn compact passes over an empty view and groups a dotted
    breakdown name (req.caller) as the literal column, and every
    answer after it is still dn scan's."""
    add_datasource(cfg, "d", events_tree[0], str(tmp_path / "idx"),
                   [*EMPTY_METRICS, ("callers", "req.caller", None)])
    run(["build", "d"], cfg)
    out, _ = run(["compact", "d"], cfg)
    assert out == 'compacted day index for "d"\n'
    _answers_like_scan(cfg, "d", [*NOPE_QUERIES, ["-b", "req.caller"],
                                  ["-f", json.dumps(GET), "-b", "host"]])


# ------------------------------------------------------ view shapes

VIEW_SHAPES = {
    # interval: (metrics, query argvs); each metric is a (name,
    # breakdowns, filter) row; the argvs take the dotted breakdown
    # req.caller and the quantized latency through each shape
    "hour": (
        [("h", f"{HOURLY},req.caller,latency[aggr=quantize]", None)],
        [[], ["-b", "req.caller"], ["-b", f"{HOURLY},latency[aggr=quantize]"],
         ["-b", "latency[aggr=quantize]", "-f", '{"eq":["req.caller","poseidon"]}'],
         ["-b", "req.caller", "--after", "2014-05-02T05:00:00",
          "--before", "2014-05-02T09:00:00"]],
    ),
    "all": (
        [("total", "", None),
         ("callers", "req.caller,latency[aggr=quantize]", None)],
        [[], ["-b", "req.caller"], ["-b", "latency[aggr=quantize],req.caller"],
         ["-f", '{"eq":["req.caller","poseidon"]}']],
    ),
}


@pytest.mark.parametrize("interval", sorted(VIEW_SHAPES))
def test_view_shapes_answer_like_scan(cfg, tmp_path, events_tree, spark,
                                      interval):
    """Hour-bucketed and unbucketed (--interval=all) views, a
    zero-breakdown view holding only ``value``, the dotted breakdown
    name and the quantized breakdown all answer what dn scan answers."""
    metrics, argvs = VIEW_SHAPES[interval]
    add_datasource(cfg, "d", events_tree[0], str(tmp_path / "idx"), metrics)
    run(["build", f"--interval={interval}", "d"], cfg)
    if interval == "all":
        t = spark.read.parquet(f"{tmp_path}/idx/by_all/total")
        assert t.columns == ["value"]
    for argv in argvs:
        want, _ = run(["scan", "--points", *argv, "d"], cfg)
        got, _ = run(["query", f"--interval={interval}", "--points", *argv,
                      "d"], cfg)
        assert want.strip(), argv
        assert sorted(got.splitlines()) == sorted(want.splitlines()), argv


# ---------------------------------------------------------- job budgets

FIXTURE_METRICS = [  # FIXTURES.md §3, bycode's filter as a metric filter
    ("big_metric", "host,operation,req.caller,req.method,latency[aggr=quantize]",
     None),
    ("filtered_metric", "", GET),
    ("bycode", "res.statusCode", GET),
    ("requests_bystatus",
     "timestamp[field=time,date,aggr=lquantize,step=60],res.statusCode", None),
]


def _one_file_per_bucket(root):
    """Every ``__dn_bucket=*`` dir of every view under ``root`` holds
    exactly one parquet file; returns the number of bucket dirs."""
    buckets = glob.glob(f"{root}/*/__dn_bucket=*")
    for b in buckets:
        assert len(glob.glob(f"{b}/*.parquet")) == 1, b
    return len(buckets)


def test_build_and_query_job_budget(cfg, tmp_path, events_tree, spark,
                                    job_count):
    """dn build of the four FIXTURES.md §3 metrics is 8 Spark jobs: the
    fan-out aggregate's shuffle, its one bucket exchange, the two that
    materialize it, and one shuffle-free write per metric. Each dn
    query is 2: the rollup's shuffle and its result, with no job to
    infer the view's schema (which made 3). Every bucket dir holds one
    file. Measured on a 4-core machine with 8 shuffle partitions,
    under local[8] (the test session) and local[4] alike."""
    add_datasource(cfg, "d", events_tree[0], str(tmp_path / "idx"),
                   FIXTURE_METRICS)
    assert job_count(lambda: run(["build", "d"], cfg)) == 8
    buckets = _one_file_per_bucket(f"{tmp_path}/idx/by_day")
    assert buckets == 28 * len(FIXTURE_METRICS)
    queries = {
        "count": [],
        "grouped": ["-b", "host,req.method"],
        "filtered metric": ["-b", "res.statusCode", "-f", json.dumps(GET)],
        "time-bounded": ["--after", "2014-05-03", "--before", "2014-05-06"],
    }
    jobs = {name: job_count(lambda: run(["query", *argv, "d"], cfg))
            for name, argv in queries.items()}
    assert jobs == dict.fromkeys(queries, 2)


def test_hourly_build_and_bounded_query(cfg, tmp_path, events_tree, spark,
                                        job_count):
    """An hourly build of the 28-day tree writes one file per bucket,
    and a 1-day bounded hourly query lists only the bucket dirs its
    bounds keep, on the driver: 2 jobs, as at a day interval, where
    handing the whole view (672 bucket dirs, past Spark's parallel
    listing threshold of 32) to the file index adds a listing job.
    Its answer is dn scan's."""
    add_datasource(cfg, "d", events_tree[0], str(tmp_path / "idx"),
                   FIXTURE_METRICS)
    run(["build", "--interval=hour", "d"], cfg)
    assert _one_file_per_bucket(f"{tmp_path}/idx/by_hour") > 3 * 32
    argv = ["--points", "-b", "res.statusCode", "--after", "2014-05-03",
            "--before", "2014-05-04"]
    want, _ = run(["scan", *argv, "d"], cfg)
    got = []
    jobs = job_count(lambda: got.append(
        run(["query", "--interval=hour", *argv, "d"], cfg)[0]))
    assert jobs == 2
    assert want.strip()
    assert sorted(got[0].splitlines()) == sorted(want.splitlines())


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_failed_view_write_surfaces_and_cleans_up(cfg, tmp_path, three_days,
                                                  spark):
    """A view write that fails (a file stands where the view's
    directory goes) is dn build's error, raised once every other
    write has ended: the persisted aggregate is released and no writer
    thread is left."""
    import threading

    add_datasource(cfg, "d", three_days, str(tmp_path / "idx"),
                   [*METRICS_3D, ("bymethod", "host,latency", None)])
    (tmp_path / "idx" / "by_day").mkdir(parents=True)
    (tmp_path / "idx" / "by_day" / "byhost").write_text("not a view\n")
    threads, persisted = set(threading.enumerate()), _persisted_rdds(spark)
    with pytest.raises(Exception):
        main(["build", "d"], out=io.StringIO(), config_path=cfg)
    assert _persisted_rdds(spark) == persisted
    assert set(threading.enumerate()) <= threads
    # the other views were written whole
    assert _one_file_per_bucket(f"{tmp_path}/idx/by_day") == 2 * 3


def test_build_jobs_carry_callers_group_and_tag(cfg, tmp_path, three_days,
                                                spark):
    """Every job of dn build, the concurrent view writes included,
    carries the caller's job group and a job tag the caller set on the
    session, so a ledger, a job count or a cancellation by either
    reaches all of them."""
    import uuid

    add_datasource(cfg, "d", three_days, str(tmp_path / "idx"), METRICS_3D)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = store.jobsList(None)
        return {j.jobId(): j for j in map(jobs.apply, range(jobs.size()))}

    before = set(job_ids())
    group, tag = f"g-{uuid.uuid4().hex}", f"t-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    spark.addTag(tag)
    try:
        run(["build", "d"], cfg)
    finally:
        spark.removeTag(tag)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    new = {i: j for i, j in job_ids().items() if i not in before}
    assert len(new) > len(METRICS_3D)
    for job in new.values():
        assert job.jobGroup().get() == group
        tags = job.jobTags()
        assert any(tags.apply(k).endswith("-" + tag)
                   for k in range(tags.size())), job.jobId()
