"""CLI tests: config CRUD output parity (tests/dn/local/tst.config.sh
formats), scan/build/query lifecycle over the reference fixture tree,
and the distributed index-scan → index-read plumbing."""

import io
import json
import os
import subprocess
import sys
from collections import Counter
from datetime import datetime, timezone

import pytest

from dragnet_spark import cli
from dragnet_spark.cli import main
from perfbench.gen import FILES_PER_DAY, START, TIME_FORMAT

REF_DATA = "/root/reference/tests/data"
# positions in the generator's ``Tallies.big`` key
OPERATION, METHOD = 1, 3


def _day_dir(day: int) -> str:
    """The generated tree's directory for day ``day`` (0 = START)."""
    return datetime.fromtimestamp(START + day * 86400, tz=timezone.utc).strftime(
        TIME_FORMAT)


def _per(tallies, pos: int) -> dict:
    """Valid-record count per value of one ``Tallies.big`` key field."""
    out = Counter()
    for key, n in tallies.big.items():
        out[key[pos]] += n
    return dict(out)


@pytest.fixture
def cfg(tmp_path, monkeypatch):
    path = str(tmp_path / "dnconfig.json")
    monkeypatch.setenv("DRAGNET_CONFIG", path)
    return path


def run(args, cfg_path=None):
    out = io.StringIO()
    err = io.StringIO()
    old = sys.stderr
    sys.stderr = err
    try:
        rc = main(args, out=out, config_path=cfg_path)
    finally:
        sys.stderr = old
    return rc, out.getvalue(), err.getvalue()


def test_config_crud_output_parity(cfg):
    rc, out, _ = run(["datasource-list"], cfg)
    assert rc == 0
    assert out == "%-20s %-59s\n" % ("DATASOURCE", "LOCATION")

    rc, _, err = run(["datasource-add", "junk3"], cfg)
    assert rc == 2
    assert err.splitlines()[0] == 'dn: "path" option is required'
    assert "usage: dn SUBCOMMAND" in err

    rc, _, _ = run(["datasource-add", "junk", "--path=/junk"], cfg)
    assert rc == 0
    rc, _, _ = run(
        ["datasource-add", "junk2", "--path=/junk",
         "--filter", '{ "eq": [ "req.method", "GET" ] }'], cfg
    )
    assert rc == 0

    rc, out, _ = run(["datasource-list", "-v"], cfg)
    lines = out.splitlines()
    assert lines[1].startswith("junk                 file://junk")
    assert lines[2] == '    dataFormat: "json"'
    assert lines[4] == '    filter:     {"eq":["req.method","GET"]}'

    rc, _, err = run(["datasource-add", "junk", "--path=/junk"], cfg)
    assert rc == 1
    assert err == 'dn: datasource "junk" already exists\n'

    rc, _, _ = run(
        ["datasource-update", "junk2", "--backend=manta", "--path=/foo/bar",
         "--index-path=/bar/foo", "--data-format=json-skinner",
         "--time-format=%Y", "--time-field=foo"], cfg
    )
    assert rc == 0
    rc, out, _ = run(["datasource-show", "-v", "junk2"], cfg)
    lines = out.splitlines()
    assert lines[1].startswith("junk2                manta://us-east.manta.joyent.com/foo/bar")
    assert '    dataFormat: "json-skinner"' in lines
    assert '    indexPath:  "/bar/foo"' in lines
    assert '    timeFormat: "%Y"' in lines
    assert '    timeField:  "foo"' in lines

    rc, _, _ = run(
        ["metric-add", "junk", "reqs", "-b", "req.method,host",
         "-f", '{"eq":["audit","true"]}'], cfg
    )
    assert rc == 0
    rc, out, _ = run(["metric-list", "-v", "junk"], cfg)
    lines = out.splitlines()
    assert lines[1].startswith("junk                 reqs")
    assert '    filter:     {"eq":["audit","true"]}' in lines
    assert "    breakdowns: req.method, host" in lines

    rc, out, _ = run(["index-config", "junk"], cfg)
    got = json.loads(out)
    assert got["metrics"][0]["name"] == "reqs"

    rc, _, _ = run(["metric-remove", "junk", "reqs"], cfg)
    assert rc == 0
    rc, _, _ = run(["datasource-remove", "junk2"], cfg)
    assert rc == 0

    rc, _, err = run(["bogus-command"], cfg)
    assert rc == 2
    assert 'unknown command: "bogus-command"' in err


def test_scan_dry_run_lists_pruned_files(cfg, events_tree):
    tree, _ = events_tree
    run(["datasource-add", "logs", f"--path={tree}",
         f"--time-format={TIME_FORMAT}", "--time-field=time"], cfg)
    rc, out, _ = run(
        ["scan", "--dry-run", "--after", "2014-05-01", "--before", "2014-05-03",
         "logs"], cfg
    )
    assert rc == 0
    lines = out.splitlines()
    assert lines[0] == "would scan files:"
    got = [ln.strip() for ln in lines[1:]]
    assert got == [
        f"{tree}/{_day_dir(d)}/{i}.log"
        for d in range(2) for i in range(FILES_PER_DAY)
    ]


@pytest.mark.skipif(not os.path.exists(REF_DATA), reason="no reference data")
def test_scan_build_query_lifecycle(cfg, tmp_path, spark):
    idx = str(tmp_path / "index")
    run(["datasource-add", "logs", f"--path={REF_DATA}",
         "--time-format=%Y/%m-%d", "--time-field=time",
         f"--index-path={idx}"], cfg)
    run(["metric-add", "logs", "ops",
         "-b", "operation,timestamp[date,field=time,aggr=lquantize,step=86400]"],
        cfg)

    rc, scan_out, _ = run(["scan", "-b", "operation", "logs"], cfg)
    assert rc == 0
    assert scan_out.splitlines()[0].startswith("OPERATION")

    rc, _, err = run(["build", "logs"], cfg)
    assert rc == 0, err
    assert 'indexes for "logs" built' in err

    rc, q_out, _ = run(["query", "-b", "operation", "logs"], cfg)
    assert rc == 0
    # scan sees 2252 records; the index drops the 2 with unparseable
    # dates (same delta as the reference, README.md:394-397)
    scan_total = sum(int(ln.split()[-1]) for ln in scan_out.splitlines()[1:])
    q_total = sum(int(ln.split()[-1]) for ln in q_out.splitlines()[1:])
    assert scan_total == 2252
    assert q_total == 2250

    # bounded query: one day's worth
    rc, day_out, _ = run(
        ["query", "--after", "2014-05-01", "--before", "2014-05-02", "logs"], cfg
    )
    assert rc == 0
    assert day_out.splitlines()[1].strip() == "500"

    # a query no metric can serve
    rc, _, err = run(["query", "-b", "host", "logs"], cfg)
    assert rc == 1
    assert "no metrics available to serve query" in err


@pytest.mark.skipif(not os.path.exists(REF_DATA), reason="no reference data")
def test_index_scan_read_roundtrip(cfg, tmp_path, spark, monkeypatch):
    """Map/reduce plumbing: index-scan points piped into index-read
    must build the same queryable index (reference
    tests/dn/manta/tst.index_manta.sh shape)."""
    idx = str(tmp_path / "index2")
    run(["datasource-add", "logs2", f"--path={REF_DATA}",
         "--time-format=%Y/%m-%d", "--time-field=time",
         f"--index-path={idx}"], cfg)
    run(["metric-add", "logs2", "ops",
         "-b", "operation,timestamp[date,field=time,aggr=lquantize,step=86400]"],
        cfg)

    rc, points, _ = run(["index-scan", "logs2"], cfg)
    assert rc == 0
    assert points.strip()

    monkeypatch.setattr(sys, "stdin", io.StringIO(points))
    rc, _, err = run(["index-read", "logs2"], cfg)
    assert rc == 0, err

    rc, q_out, _ = run(["query", "-b", "operation", "logs2"], cfg)
    assert rc == 0
    q_total = sum(int(ln.split()[-1]) for ln in q_out.splitlines()[1:])
    assert q_total == 2250


def test_empty_input_semantics(cfg, tmp_path, spark):
    """tst.empty.sh: zero-breakdown scan of empty input prints a zero
    VALUE (and one zero point); grouped scans print nothing."""
    empty = tmp_path / "empty.log"
    empty.write_text("")
    run(["datasource-add", "devnull", f"--path={empty}"], cfg)

    rc, out, _ = run(["scan", "devnull"], cfg)
    assert rc == 0
    assert out == "VALUE\n    0\n"

    rc, out, _ = run(["scan", "--points", "devnull"], cfg)
    assert rc == 0
    assert out == '{"fields":{},"value":0}\n'

    rc, out, _ = run(["scan", "-b", "timestamp", "devnull"], cfg)
    assert rc == 0
    assert out == ""

    rc, out, _ = run(
        ["scan", "-b", "timestamp[aggr=quantize],req.method", "devnull"], cfg
    )
    assert rc == 0
    assert out == ""

    rc, out, _ = run(
        ["scan", "-f", '{ "eq": [ "audit", true ] }', "devnull"], cfg
    )
    assert rc == 0
    assert out == "VALUE\n    0\n"


@pytest.mark.skipif(not os.path.exists(REF_DATA), reason="no reference data")
def test_scan_counters_one_pass(cfg, spark):
    """--counters piggybacks Observations on the scan's single pass and
    reports the reference's parser numbers (2254 lines, 2252 parsed,
    2 invalid — tst.scan_fileset.sh.out:2475-2477)."""
    run(["datasource-add", "clogs", f"--path={REF_DATA}"], cfg)
    rc, out, err = run(["scan", "--counters", "-b", "req.method", "clogs"], cfg)
    assert rc == 0
    assert out.splitlines()[0].startswith("REQ.METHOD")
    assert "json parser        ninputs:         2254" in err
    assert "json parser        noutputs:        2252" in err
    assert "json parser        invalid json:       2" in err
    assert "Aggregator         noutputs:           4" in err


def test_bad_arguments_parity(cfg, tmp_path):
    """tst.badargs.sh: breakdown-grammar and filter errors with the
    reference's message shapes; --gnuplot arity is validated before any
    scan runs."""
    f = tmp_path / "x.log"
    f.write_text("{}\n")
    run(["datasource-add", "input", f"--path={f}"], cfg)

    rc, _, err = run(["scan", "-b", "host", "-b", "req.method,x[=bar]", "input"], cfg)
    assert rc == 2
    assert err.splitlines()[0] == (
        'dn: bad value for "breakdowns" ("req.method,x[=bar]"): missing attribute name'
    )

    rc, _, err = run(["scan", "-b", "req.method,[]", "input"], cfg)
    assert rc == 2
    assert 'bad value for "breakdowns" ("req.method,[]"): missing field name' in err

    rc, _, err = run(["scan", "-b", "req.method,foo[", "input"], cfg)
    assert rc == 2
    assert 'bad value for "breakdowns" ("req.method,foo["): unexpected end of string' in err

    rc, _, err = run(["scan", "-f", "{", "input"], cfg)
    assert rc == 2
    assert err.splitlines()[0].startswith("dn: invalid filter:")

    rc, _, err = run(["scan", "-f", '{ "junk": [ "foo", "bar" ] }', "input"], cfg)
    assert rc == 1
    assert "unknown predicate operator" in err

    rc, _, err = run(["scan", "--gnuplot", "input"], cfg)
    assert rc == 1
    assert err == "dn: --gnuplot can only be used with exactly one breakdown\n"

    rc, _, err = run(
        ["scan", "-b", "req.method,res.statusCode", "--gnuplot", "input"], cfg
    )
    assert rc == 1
    assert err == "dn: --gnuplot can only be used with exactly one breakdown\n"

    rc, _, err = run(
        ["datasource-add", "junkfmt", f"--path={f}", "--data-format=junk"], cfg
    )
    assert rc == 1
    assert "unsupported data format: junk" in err


def test_raw_output_mode(cfg, spark, events_tree):
    """--raw emits one JSON array of flattened rows (distinct from
    --points NDJSON; reference dnOutputRaw, bin/dn:972-975)."""
    tree, tallies = events_tree
    run(["datasource-add", "r1", f"--path={tree}"], cfg)
    rc, out, _ = run(["scan", "--raw", "-b", "req.method", "r1"], cfg)
    assert rc == 0
    got = json.loads(out)
    assert got == sorted(map(list, _per(tallies, METHOD).items()))

    rc, out, _ = run(["scan", "--raw", "r1"], cfg)
    assert rc == 0
    assert json.loads(out) == [tallies.valid]


@pytest.mark.skipif(not os.path.exists(REF_DATA), reason="no reference data")
def test_day_and_hour_indexes_coexist(cfg, tmp_path, spark):
    """by_day/ and by_hour/ subtrees live under one index path;
    --interval picks at query time (reference by_day/by_hour layout)."""
    idx = str(tmp_path / "multi")
    run(["datasource-add", "ml", "--path=/root/reference/tests/data/2014/05-01/one.log",
         "--time-field=time", f"--index-path={idx}"], cfg)
    run(["metric-add", "ml", "ops",
         "-b", "operation,timestamp[date,field=time,aggr=lquantize,step=3600]"], cfg)
    assert run(["build", "ml"], cfg)[0] == 0                       # day
    assert run(["build", "--interval=hour", "ml"], cfg)[0] == 0    # hour
    assert os.path.isdir(f"{idx}/by_day") and os.path.isdir(f"{idx}/by_hour")

    rc, day_out, _ = run(["query", "ml"], cfg)
    rc2, hour_out, _ = run(["query", "--interval=hour", "ml"], cfg)
    assert rc == 0 and rc2 == 0
    assert day_out.splitlines()[1].strip() == hour_out.splitlines()[1].strip() == "250"


def test_parquet_datasource_scan(cfg, spark):
    """Columnar datasources scan through the same CLI with the schema
    resolver (events.parquet from the driver testdata)."""
    run(["datasource-add", "pq", "--path=/root/testdata/sf0.001/events.parquet",
         "--data-format=parquet"], cfg)
    rc, out, _ = run(["scan", "-b", "event_type", "pq"], cfg)
    assert rc == 0
    lines = out.splitlines()
    assert lines[0].startswith("EVENT_TYPE")
    total = sum(int(ln.split()[-1]) for ln in lines[1:])
    rc, out2, _ = run(["scan", "pq"], cfg)
    assert int(out2.splitlines()[1].strip()) == total


def test_csv_datasource_scan(cfg, spark, tmp_path):
    """CSV trees scan through the same CLI: header names the fields,
    filters and breakdowns work unchanged."""
    d = tmp_path / "csv" / "sub"
    d.mkdir(parents=True)
    (d / "a.csv").write_text("op,code\nGET,200\nGET,404\nPUT,204\n")
    (d / "b.csv").write_text("op,code\nGET,200\nDELETE,204\n")
    run(["datasource-add", "cs", f"--path={tmp_path / 'csv'}",
         "--data-format=csv"], cfg)
    rc, out, _ = run(["scan", "-b", "op", "cs"], cfg)
    assert rc == 0
    rows = {tuple(ln.split()) for ln in out.splitlines()[1:]}
    assert rows == {("DELETE", "1"), ("GET", "3"), ("PUT", "1")}
    # loose-equality filter on the inferred numeric column
    rc, out, _ = run(["scan", "-b", "op",
                      "-f", '{"eq": ["code", "200"]}', "cs"], cfg)
    assert rc == 0
    assert {tuple(ln.split()) for ln in out.splitlines()[1:]} == {("GET", "2")}


def test_compact_cli_preserves_answers(cfg, spark, tmp_path, events_tree):
    """dn build (twice, append via second build) then dn compact: query
    output is identical, the view shrinks."""
    tree, tallies = events_tree
    idx = str(tmp_path / "cidx")
    run(["datasource-add", "cm", f"--path={tree}",
         "--time-field=time", f"--index-path={idx}"], cfg)
    run(["metric-add", "cm", "ops",
         "-b", "operation,timestamp[date,field=time,aggr=lquantize,step=86400]"], cfg)
    assert run(["build", "cm"], cfg)[0] == 0
    rc, before, _ = run(["query", "cm", "-b", "operation"], cfg)
    assert rc == 0
    got = {ln.split()[0]: int(ln.split()[1]) for ln in before.splitlines()[1:]}
    assert got == _per(tallies, OPERATION)
    rows_before = spark.read.parquet(f"{idx}/by_day/ops").count()
    assert run(["compact", "cm"], cfg)[0] == 0
    rc, after, _ = run(["query", "cm", "-b", "operation"], cfg)
    assert rc == 0 and after == before
    assert spark.read.parquet(f"{idx}/by_day/ops").count() <= rows_before


def test_vector_index_cli_roundtrip(cfg, tmp_path, spark):
    """vindex-build + vindex-query: CLI surface over the materialized
    IVF index; exhaustive probe equals exact top-k semantics."""
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "vidx")
    rc, out, _ = run(["vindex-build", emb, "--out", idx, "--centroids", "8"], cfg)
    assert rc == 0 and "built vector index: 8 cells" in out

    q = str(tmp_path / "q.parquet")
    spark.read.parquet(emb).filter("vec_id < 3").write.parquet(q)
    rc, out, _ = run(
        ["vindex-query", idx, "--queries", q, "--k", "3", "--probe", "8"], cfg
    )
    assert rc == 0
    rows = [json.loads(line) for line in out.splitlines()]
    assert len(rows) == 9  # 3 queries x k=3
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    assert all(r["rank"] in (1, 2, 3) for r in rows)

    # missing required option is a usage error
    rc, _, err = run(["vindex-query", idx], cfg)
    assert rc == 2 and '"queries" option is required' in err


def test_vector_index_cli_quantized_append(cfg, tmp_path, spark):
    """vindex-build --quantize + vindex-append + vindex-query: the
    int8 store roundtrips through the CLI and appended vectors are
    probe-visible."""
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "vidxq")
    rc, out, _ = run(
        ["vindex-build", emb, "--out", idx, "--centroids", "8",
         "--quantize"], cfg
    )
    assert rc == 0 and "(int8)" in out
    dt = dict(spark.read.parquet(f"{idx}/vectors").dtypes)
    assert dt["qvec"] == "array<tinyint>" and "embedding" not in dt

    extra = str(tmp_path / "extra.parquet")
    spark.read.parquet(emb).filter("vec_id < 2").selectExpr(
        "vec_id + 100000 AS vec_id", "embedding"
    ).write.parquet(extra)
    rc, out, _ = run(["vindex-append", extra, "--out", idx], cfg)
    assert rc == 0 and "appended" in out

    q = str(tmp_path / "q.parquet")
    spark.read.parquet(emb).filter("vec_id < 2").write.parquet(q)
    rc, out, _ = run(
        ["vindex-query", idx, "--queries", q, "--k", "1", "--probe", "8"],
        cfg,
    )
    assert rc == 0
    rows = [json.loads(line) for line in out.splitlines()]
    # each query's appended twin is an exact duplicate vector -> must
    # surface as the top neighbor with score 1.0
    assert {r["query_id"]: r["neighbor_id"] for r in rows} == {
        0: 100000, 1: 100001
    }


def test_fingerprint_store_cli_roundtrip(cfg, tmp_path, spark):
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [(1, "hello world"), (2, "other text entirely")],
        "doc_id long, text string",
    ).write.parquet(corpus)
    store = str(tmp_path / "fps")
    rc, out, _ = run(["fp-build", corpus, "--out", store], cfg)
    assert rc == 0 and "built fingerprint store" in out

    batch = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        [(10, "HELLO   world"), (11, "genuinely new")],
        "doc_id long, text string",
    ).write.parquet(batch)
    rc, out, _ = run(["fp-probe", store, "--queries", batch], cfg)
    assert rc == 0
    lines = out.splitlines()
    assert lines[-1] == "1 of 2 already ingested"
    recs = {json.loads(x)["doc_id"]: json.loads(x) for x in lines[:-1]}
    assert recs[10]["is_duplicate"] and recs[10]["dup_of"] == 1
    assert not recs[11]["is_duplicate"]


def test_band_store_cli_roundtrip(cfg, tmp_path, spark):
    """band-build + band-probe + band-compact: CLI surface over the
    minhash band store; a token-swapped twin probes as near-dup."""
    base = ("the quick brown fox jumps over the lazy dog while many "
            "other animals watch quietly from the tall grass nearby")
    twin = ("the quick brown fox jumps over the lazy dog while many "
            "other animals watch quietly from the grass tall nearby")
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    ).write.parquet(corpus)
    store = str(tmp_path / "bstore")
    rc, out, _ = run(["band-build", corpus, "--out", store], cfg)
    assert rc == 0 and "16 hashes x 8 bands" in out

    q = str(tmp_path / "q.parquet")
    spark.createDataFrame(
        [(10, twin), (11, "wholly different content about compilers "
                          "optimizing loops and registers")],
        "doc_id long, text string",
    ).write.parquet(q)
    rc, out, _ = run(["band-probe", store, "--queries", q], cfg)
    assert rc == 0
    lines = out.strip().splitlines()
    rows = {json.loads(ln)["doc_id"]: json.loads(ln) for ln in lines[:-1]}
    assert rows[10]["is_near_duplicate"] and rows[10]["dup_of"] == 1
    assert not rows[11]["is_near_duplicate"]
    assert "1 of 2 near-duplicate" in lines[-1]

    rc, out, _ = run(["band-compact", store], cfg)
    assert rc == 0 and "compacted band store" in out
    rc, out, _ = run(["band-probe", store, "--queries", q], cfg)
    assert rc == 0 and "1 of 2 near-duplicate" in out


def test_store_maintenance_cli(cfg, tmp_path, spark):
    """fp-compact / vindex-compact / vindex-recenter smoke via CLI."""
    corpus = str(tmp_path / "c.parquet")
    spark.createDataFrame(
        [(1, "hello world content"), (2, "other text entirely stored")],
        "doc_id long, text string",
    ).write.parquet(corpus)
    fpstore = str(tmp_path / "fp")
    assert run(["fp-build", corpus, "--out", fpstore], cfg)[0] == 0
    rc, out, _ = run(["fp-compact", fpstore], cfg)
    assert rc == 0 and "compacted fingerprint store" in out

    emb = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "vi")
    assert run(["vindex-build", emb, "--out", idx, "--centroids", "4"], cfg)[0] == 0
    rc, out, _ = run(["vindex-compact", idx], cfg)
    assert rc == 0 and "compacted vector index" in out
    rc, out, _ = run(["vindex-recenter", idx, "--centroids", "8"], cfg)
    assert rc == 0 and "recentered vector index: 8 cells" in out


def test_flag_with_inline_value_is_usage_error(cfg):
    """--quantize=false must be rejected, not silently treated as
    --quantize (the worst possible parse of a boolean intent)."""
    rc, _, err = run(
        ["vindex-build", "x.parquet", "--out", "/tmp/i",
         "--quantize=false"], cfg
    )
    assert rc == 2 and 'is a flag and takes no value' in err


def test_vindex_stats_cli(cfg, tmp_path, spark):
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "vs")
    assert run(["vindex-build", emb, "--out", idx, "--centroids", "4"], cfg)[0] == 0
    rc, out, _ = run(["vindex-stats", idx], cfg)
    assert rc == 0
    assert "vectors in" in out and "max/mean skew" in out
    assert "recommendation:" in out


def test_srp_store_cli_roundtrip(cfg, tmp_path, spark):
    """srp-build + srp-append + srp-probe + srp-compact: CLI surface
    over the SRP band store; a perturbed-embedding twin probes as a
    semantic near-dup."""
    import numpy as np

    rng = np.random.RandomState(4)
    base = rng.standard_normal((3, 16))
    corpus = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(3)],
        "vec_id long, embedding array<double>",
    ).write.parquet(corpus)
    store = str(tmp_path / "srps")
    rc, out, _ = run(["srp-build", corpus, "--out", store], cfg)
    assert rc == 0 and "8 bands x 16 bits (16 dims)" in out

    extra = str(tmp_path / "extra.parquet")
    newv = rng.standard_normal(16).tolist()
    spark.createDataFrame(
        [(50, newv)], "vec_id long, embedding array<double>"
    ).write.parquet(extra)
    rc, out, _ = run(["srp-append", store, "--vectors", extra], cfg)
    assert rc == 0 and "appended SRP band keys" in out

    q = str(tmp_path / "q.parquet")
    twin = (base[1] + rng.standard_normal(16) * 1e-4).tolist()
    fresh = (rng.standard_normal(16) * 2).tolist()
    spark.createDataFrame(
        [(10, twin), (11, fresh), (12, newv)],
        "vec_id long, embedding array<double>",
    ).write.parquet(q)
    rc, out, _ = run(
        ["srp-probe", store, "--queries", q, "--min-band-hits", "4"], cfg
    )
    assert rc == 0
    lines = out.strip().splitlines()
    rows = {json.loads(ln)["vec_id"]: json.loads(ln) for ln in lines[:-1]}
    assert rows[10]["is_near_duplicate"] and rows[10]["dup_of"] == 1
    assert not rows[11]["is_near_duplicate"]
    assert rows[12]["is_near_duplicate"] and rows[12]["dup_of"] == 50
    assert "2 of 3 near-duplicate" in lines[-1]

    rc, out, _ = run(["srp-compact", store], cfg)
    assert rc == 0 and "compacted SRP store" in out
    rc, out, _ = run(
        ["srp-probe", store, "--queries", q, "--min-band-hits", "4"], cfg
    )
    assert rc == 0 and "2 of 3 near-duplicate" in out


def test_vindex_ingest_cli_drains_pending(cfg, tmp_path, spark):
    """vindex-ingest: availableNow drain of pending parquet files into
    the index through the streaming ingest loop; a re-run with the
    same checkpoint is a no-op (nothing pending)."""
    import glob
    import shutil

    import numpy as np

    from dragnet_spark.index.vector import build_vector_index

    rng = np.random.RandomState(8)
    sch = "vec_id long, embedding array<double>"
    base = rng.standard_normal((60, 8))
    corpus = spark.createDataFrame(
        [(i, base[i].tolist()) for i in range(60)], sch
    )
    idx = str(tmp_path / "ivx")
    build_vector_index(spark, corpus, idx, n_centroids=4)

    sdir = tmp_path / "pending"
    sdir.mkdir()
    batch = [(500 + i, rng.standard_normal(8).tolist()) for i in range(30)]
    stage = tmp_path / "istage"
    spark.createDataFrame(batch, sch).coalesce(1).write.parquet(str(stage))
    shutil.copyfile(
        glob.glob(str(stage / "*.parquet"))[0], str(sdir / "b0.parquet")
    )

    ck = str(tmp_path / "ick")
    rc, out, _ = run(
        ["vindex-ingest", idx, "--stream-dir", str(sdir),
         "--checkpoint", ck], cfg
    )
    assert rc == 0 and "drained pending batches" in out
    assert spark.read.parquet(f"{idx}/vectors").count() == 90
    # idempotent re-run: checkpoint already consumed the file
    rc, out, _ = run(
        ["vindex-ingest", idx, "--stream-dir", str(sdir),
         "--checkpoint", ck], cfg
    )
    assert rc == 0
    assert spark.read.parquet(f"{idx}/vectors").count() == 90


def test_vindex_ingest_cli_string_ids(cfg, tmp_path, spark):
    """ADVICE r7 #4: the ingest stream schema must come from the
    id/vec types PERSISTED at build time — a string-id index
    previously failed (or mis-read) under the hardcoded
    'id long, vec array<double>' schema."""
    import glob
    import json
    import shutil

    import numpy as np

    from dragnet_spark.index.vector import build_vector_index

    rng = np.random.RandomState(9)
    sch = "doc string, embedding array<double>"
    corpus = spark.createDataFrame(
        [(f"doc-{i}", rng.standard_normal(8).tolist()) for i in range(40)],
        sch,
    )
    idx = str(tmp_path / "svx")
    build_vector_index(spark, corpus, idx, id_col="doc", n_centroids=4)
    meta = json.load(open(f"{idx}/_vector_index.json"))
    assert meta["id_type"] == "string"
    assert meta["vec_type"] == "array<double>"

    sdir = tmp_path / "spending"
    sdir.mkdir()
    batch = [
        (f"new-{i}", rng.standard_normal(8).tolist()) for i in range(10)
    ]
    stage = tmp_path / "sstage"
    spark.createDataFrame(batch, sch).coalesce(1).write.parquet(str(stage))
    shutil.copyfile(
        glob.glob(str(stage / "*.parquet"))[0], str(sdir / "b0.parquet")
    )
    rc, out, _ = run(
        ["vindex-ingest", idx, "--stream-dir", str(sdir),
         "--checkpoint", str(tmp_path / "sck")], cfg
    )
    assert rc == 0 and "drained pending batches" in out
    got = spark.read.parquet(f"{idx}/vectors")
    assert got.count() == 50
    assert dict(got.dtypes)["vec_id"] == "string"
    assert {r["vec_id"] for r in got.collect()} >= {"doc-0", "new-9"}


def test_vindex_growth_policy_cli(cfg, tmp_path, spark):
    """--target-rows-per-cell persists the growth policy; vindex-stats
    flags the outgrown store and vindex-recenter (no explicit
    --centroids) auto-grows the cell count to the policy's size."""
    from dragnet_spark.index.vector import load_vector_index_meta

    emb = "/root/testdata/sf0.001/embeddings.parquet"
    idx = str(tmp_path / "vg")
    assert run(
        ["vindex-build", emb, "--out", idx, "--centroids", "2",
         "--target-rows-per-cell", "5"], cfg
    )[0] == 0
    assert load_vector_index_meta(idx)["target_rows_per_cell"] == 5

    # the 50-vector sf0.001 corpus over 2 cells is ~25 rows/cell —
    # already past 2x the 5-row target, so stats recommends growth
    rc, out, _ = run(["vindex-stats", idx], cfg)
    assert rc == 0 and "target-rows-per-cell" in out

    rc, out, _ = run(["vindex-recenter", idx], cfg)
    assert rc == 0
    meta = load_vector_index_meta(idx)
    assert meta["n_centroids"] > 2  # grew without an explicit count
    assert meta["target_rows_per_cell"] == 5


def test_maintain_cli(cfg, tmp_path, spark):
    """dn maintain: discovers the fleet, dry-run plans without
    touching, apply heals; summary line counts pending work."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.fingerprints import (
        append_fingerprints,
        build_fingerprint_store,
    )
    from dragnet_spark.sources.tables import load_table

    root = str(tmp_path / "fleet")
    fp = root + "/fp"
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    build_fingerprint_store(spark, docs, fp)
    for i in range(1, 6):
        append_fingerprints(
            spark,
            docs.select((F.col("doc_id") + i * 10**6).alias("doc_id"), "text"),
            fp,
        )

    rc, out, _ = run(["maintain", root, "--dry-run"], cfg)
    assert rc == 0 and "would run compact" in out
    assert "1 stores, 1 with pending work" in out

    rc, out, _ = run(["maintain", root], cfg)
    assert rc == 0 and "ran compact" in out

    rc, out, _ = run(["maintain", root], cfg)
    assert rc == 0 and "0 with pending work" in out


def test_sink_compact_cli(cfg, tmp_path, spark):
    """dn sink-compact: folds a curated sink's batch dirs via the CLI;
    reader-visible rows unchanged."""
    import os

    from dragnet_spark.index.fingerprints import build_fingerprint_store
    from dragnet_spark.ops.text import fingerprint
    from dragnet_spark.streaming.pipeline import make_live_store_ingester

    store = str(tmp_path / "store")
    build_fingerprint_store(
        spark,
        spark.createDataFrame(
            [(1, "previously stored text here ok")], "doc_id long, text string"
        ),
        store,
    )
    sink = str(tmp_path / "sink")
    ingest = make_live_store_ingester(
        store, sink, "id", checkpoint=str(tmp_path / "ck")
    )
    for i in range(3):
        b = spark.createDataFrame(
            [(str(10 * i + j), f"cli sink doc {i} {j} words") for j in range(2)],
            "id string, text string",
        )
        ingest(b.select("id", "text", fingerprint("text").alias("__dn_fp")), i)
    before = spark.read.parquet(sink).count()

    rc, out, _ = run(["sink-compact", sink], cfg)
    assert rc == 0 and "folded 3 batch dirs into __dn_batch=-1" in out
    assert spark.read.parquet(sink).count() == before
    assert sorted(os.listdir(sink)) == ["__dn_batch=-1", "_dn_sink.json"]

    rc, out, _ = run(["sink-compact", sink], cfg)
    assert rc == 0 and "nothing to fold" in out


def test_sink_compact_cli_missing_marker_is_one_line(cfg, tmp_path, spark):
    """A sink without its _dn_sink.json marker (written before the live
    ingesters stamped one) names the governing store nowhere: dn
    sink-compact says so in one line and exits 1, no traceback."""
    sink = tmp_path / "oldsink"
    spark.createDataFrame([("1", "x")], "id string, text string") \
        .write.parquet(str(sink / "__dn_batch=0"))

    rc, out, err = run(["sink-compact", str(sink)], cfg)
    assert rc == 1 and out == ""
    assert err.startswith("dn: ") and len(err.strip().splitlines()) == 1
    assert "_dn_sink.json" in err and "store_path" in err
    assert "Traceback" not in err


def test_lm_build_score_cli(cfg, spark, tmp_path):
    """dn lm-build / lm-score: freeze a reference LM, score and gate
    a batch through the CLI."""
    ref = str(tmp_path / "ref")
    fluent = "the cat sat on the mat and the dog sat on the rug"
    spark.createDataFrame(
        [(i, fluent) for i in range(8)], "doc_id long, text string"
    ).write.parquet(ref)
    lm = str(tmp_path / "lm")
    rc, out, _ = run(["lm-build", ref, f"--out={lm}"], cfg)
    assert rc == 0 and "104 tokens, 8 vocab" in out  # 8 x 13 tokens

    batch = str(tmp_path / "batch")
    spark.createDataFrame(
        [(1, fluent), (2, "zz qq ww ee rr")], "doc_id long, text string"
    ).write.parquet(batch)
    rc, out, _ = run(["lm-score", lm, f"--docs={batch}"], cfg)
    assert rc == 0 and "scored 2 docs" in out

    rc, out, _ = run(
        ["lm-score", lm, f"--docs={batch}", "--min-mean-logp=-5.0"], cfg
    )
    assert rc == 0 and "kept 1 of 2 docs" in out
    assert '"doc_id": 1' in out


def test_bloom_build_gate_cli(cfg, spark, tmp_path):
    """dn bloom-build / bloom-gate: freeze the benchmark gram set,
    score and gate a batch through the CLI."""
    bench = str(tmp_path / "bench")
    leaked = "the quick brown fox jumps over the lazy dog tonight"
    spark.createDataFrame([(leaked,)], "text string").write.parquet(bench)
    store = str(tmp_path / "bloom")
    rc, out, _ = run(["bloom-build", bench, f"--out={store}"], cfg)
    assert rc == 0 and "3 grams (n=8)" in out  # 10 tokens -> 3 8-grams

    batch = str(tmp_path / "batch")
    spark.createDataFrame(
        [
            (1, leaked + " verbatim"),
            (2, "completely unrelated sentence with eight other tokens here"),
        ],
        "doc_id long, text string",
    ).write.parquet(batch)
    rc, out, _ = run(["bloom-gate", store, f"--docs={batch}"], cfg)
    assert rc == 0 and "scored 2 docs" in out

    rc, out, _ = run(
        ["bloom-gate", store, f"--docs={batch}", "--max-hit-frac=0"], cfg
    )
    assert rc == 0 and "kept 1 of 2 docs" in out
    assert '"doc_id": 2' in out

    # attribution: rebuild the store with --src-field, ask which
    # benchmark doc 1 leaked from
    bench2 = str(tmp_path / "bench2")
    spark.createDataFrame(
        [(leaked, "mmlu")], "text string, src string"
    ).write.parquet(bench2)
    store2 = str(tmp_path / "bloom2")
    rc, out, _ = run(
        ["bloom-build", bench2, f"--out={store2}", "--src-field=src"], cfg
    )
    assert rc == 0 and "with src attribution" in out
    rc, out, _ = run(
        ["bloom-gate", store2, f"--docs={batch}", "--attribute"], cfg
    )
    assert rc == 0 and "attributed 1 (doc, benchmark) leaks" in out
    assert '"bench_src": "mmlu"' in out and '"n_hit_grams": 3' in out


def test_profile_cli(cfg, spark, tmp_path):
    """dn profile: one-scan per-column stats over a parquet table."""
    d = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", None), (3, None, 7.5)],
        "k long, s string, v double",
    ).write.parquet(d)
    rc, out, _ = run(["profile", d], cfg)
    assert rc == 0
    lines = {ln.split()[0]: ln.split() for ln in out.splitlines()[1:] if ln}
    assert lines["k"][1:4] == ["3", "0", "3"]
    assert lines["s"][1:4] == ["3", "1", "2"]
    assert lines["v"][1:4] == ["3", "1", "2"]
    assert lines["v"][4] == "2.5" and lines["v"][5] == "7.5"
    assert lines["s"][4] == "a" and lines["s"][5] == "b"


def test_orc_datasource_scan(cfg, spark, tmp_path):
    """ORC trees scan through the same CLI dispatch as parquet: schema
    rides the file, filters and breakdowns work unchanged."""
    d = str(tmp_path / "orc")
    spark.createDataFrame(
        [("GET", 200), ("GET", 404), ("PUT", 204), ("GET", 200),
         ("DELETE", 204)],
        "op string, code int",
    ).coalesce(1).write.orc(d)
    run(["datasource-add", "oc", f"--path={d}", "--data-format=orc"], cfg)
    rc, out, _ = run(["scan", "-b", "op", "oc"], cfg)
    assert rc == 0
    rows = {tuple(ln.split()) for ln in out.splitlines()[1:]}
    assert rows == {("DELETE", "1"), ("GET", "3"), ("PUT", "1")}
    rc, out, _ = run(["scan", "-b", "op",
                      "-f", '{"eq": ["code", 200]}', "oc"], cfg)
    assert rc == 0
    assert {tuple(ln.split()) for ln in out.splitlines()[1:]} == {("GET", "2")}


def _semdedup_fixture(spark, tmp_path):
    """Six well-separated 16-dim vectors plus exact duplicates of 0
    (id 100) and 3 (id 101), as a parquet path."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((6, 16))
    rows = [(i, base[i].tolist()) for i in range(6)]
    rows.append((100, base[0].tolist()))  # exact dup of 0
    rows.append((101, base[3].tolist()))  # exact dup of 3
    src = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(src)
    return src


#: the three ways `dn semdedup` sizes its k-means: pinned k, auto-k
#: (ceil(8/4) = 2, flat below the two-level switch) and forced two-level
SEMDEDUP_MODES = {
    "k": ["--k", "2"],
    "target": ["--target-rows", "4"],
    "two_level": ["--two-level", "--target-rows", "4"],
}


def test_semdedup_cli(cfg, tmp_path, spark):
    """dn semdedup: k-means + within-cluster prune + survivor output,
    every stdout line pinned in each mode. The two exact-duplicate
    pairs must each drop one member (the higher id); survivors parquet
    excludes exactly the dropped. The two-level form's cluster ids
    differ (packed super·2^20+sub) but its sizes and pairs do not."""
    src = _semdedup_fixture(spark, tmp_path)
    for mode, flags in SEMDEDUP_MODES.items():
        outp = str(tmp_path / f"kept_{mode}.parquet")
        rc, out, _ = run(
            ["semdedup", src, *flags, "--iterations", "2",
             "--threshold", "0.99", "--out", outp],
            cfg,
        )
        assert rc == 0, mode
        assert out.splitlines() == [
            "k-means: 8 vectors -> 2 clusters (sizes 4,4)",
            "semdedup: 2 within-cluster pairs >= 0.99, 2 docs dropped",
            f"survivors -> {outp}",
        ], mode
        kept = {r["vec_id"] for r in spark.read.parquet(outp).collect()}
        assert kept == {0, 1, 2, 3, 4, 5}, mode  # lower ids win


def test_semdedup_cli_job_budget(cfg, tmp_path, spark, job_count):
    """`dn semdedup --out` is one fused prune call, one checkpoint of
    its pairs (which also fills the cluster sizes), two counts and the
    survivors write. Spark jobs on the 8-row fixture at --iterations 2,
    measured on a 4-core machine with 8 shuffle partitions under
    local[8] (the test session), local[4] and local[2] alike: --k 16,
    --target-rows 19, --two-level 19. The
    composed path this replaced (assignment, a sizes aggregate, then a
    prune that joined the clusters back onto the vectors and ran once
    per action) issued 23 / 25 / 27."""
    src = _semdedup_fixture(spark, tmp_path)

    def jobs(mode):
        outp = str(tmp_path / f"jobs_{mode}.parquet")
        argv = ["semdedup", src, *SEMDEDUP_MODES[mode], "--iterations", "2",
                "--threshold", "0.99", "--out", outp]
        return job_count(lambda: run(argv, cfg))

    assert {m: jobs(m) for m in SEMDEDUP_MODES} == {
        "k": 16, "target": 19, "two_level": 19,
    }


def test_distinct_cli(cfg, tmp_path, spark):
    """dn distinct: exact below k, grouped + --exact columns, and the
    global (no --group-by) path."""
    src = str(tmp_path / "t.parquet")
    rows = [("a", f"w{i % 30}") for i in range(200)] + [
        ("b", f"w{i}") for i in range(50)
    ]
    spark.createDataFrame(rows, "src string, tok string").write.parquet(src)
    rc, out, _ = run(
        ["distinct", src, "--col", "tok", "--group-by", "src",
         "--k", "64", "--exact"],
        cfg,
    )
    assert rc == 0
    lines = [ln.split() for ln in out.strip().splitlines()[1:]]
    got = {ln[0]: (int(ln[1]), int(ln[2])) for ln in lines}
    assert got["a"] == (30, 30)  # below k: sketch is exact
    assert got["b"] == (50, 50)
    rc, out, _ = run(["distinct", src, "--col", "tok"], cfg)
    assert rc == 0 and out.splitlines()[1].split()[0] == "all"
    rc, _, err = run(["distinct", src], cfg)
    assert rc != 0  # --col required


def test_kmv_store_cli_roundtrip(cfg, tmp_path, spark):
    """kmv-build + kmv-merge + kmv-est: the sketch folds a batch in
    and the estimate tracks (exact below k)."""
    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    spark.createDataFrame(
        [("x", "t%d" % i) for i in range(30)], "src string, tok string"
    ).write.parquet(a)
    spark.createDataFrame(
        [("x", "t%d" % i) for i in range(20, 70)], "src string, tok string"
    ).write.parquet(b)
    store = str(tmp_path / "kmv")
    rc, out, _ = run(
        ["kmv-build", a, "--col", "tok", "--group-by", "src",
         "--out", store, "--k", "128"],
        cfg,
    )
    assert rc == 0 and out.splitlines()[-1].split() == ["x", "30"]
    rc, out, _ = run(["kmv-merge", store, "--data", b], cfg)
    assert rc == 0 and out.splitlines()[-1].split() == ["x", "70"]
    rc, out, _ = run(["kmv-est", store], cfg)
    assert rc == 0 and out.splitlines()[-1].split() == ["x", "70"]
    rc, _, _ = run(["kmv-merge", store], cfg)
    assert rc != 0  # --data required


def test_graph_cli(cfg, tmp_path, spark):
    """dn graph over a precomputed pair table: pagerank, trustrank
    (with seeds), triangles (explicit zeros), clustering, components;
    --out roundtrip."""
    pairs = [(0, 1), (1, 2), (2, 0), (10, 11)]
    src = str(tmp_path / "pairs.parquet")
    spark.createDataFrame(pairs, "id_a long, id_b long").write.parquet(src)
    rc, out, _ = run(["graph", src, "--op", "triangles"], cfg)
    assert rc == 0
    rows = {int(l.split()[0]): int(l.split()[1])
            for l in out.strip().splitlines()[1:]}
    assert rows == {0: 1, 1: 1, 2: 1, 10: 0, 11: 0}
    outp = str(tmp_path / "pr.parquet")
    rc, out, _ = run(["graph", src, "--op", "pagerank", "--out", outp], cfg)
    assert rc == 0 and "pagerank ->" in out
    assert spark.read.parquet(outp).count() == 5
    seeds = str(tmp_path / "seeds.parquet")
    spark.createDataFrame([(0,)], "id long").write.parquet(seeds)
    rc, out, _ = run(["graph", src, "--op", "trustrank", "--seeds", seeds], cfg)
    assert rc == 0
    scores = {int(l.split()[0]): float(l.split()[1])
              for l in out.strip().splitlines()[1:]}
    assert scores[10] == 0.0 and scores[0] > 0  # unreachable component
    rc, out, _ = run(["graph", src, "--op", "clustering"], cfg)
    assert rc == 0 and out.splitlines()[0].split()[-1] == "clustering"
    rc, out, _ = run(["graph", src, "--op", "components"], cfg)
    assert rc == 0
    rc, _, err = run(["graph", src, "--op", "trustrank"], cfg)
    assert rc != 0  # seeds required
    rc, _, err = run(["graph", src, "--op", "nope"], cfg)
    assert rc != 0


def test_graph_cli_trustrank_output_bytes(cfg, tmp_path, spark):
    """dn graph --op=trustrank prints exactly these bytes: header, then
    rows by (score desc, id). Seed 99 is in no pair; it still counts
    in |S| (the restart mass splits three ways), as in the DuckDB
    twin personalized_pagerank_sql."""
    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (3, 4), (5, 6), (6, 7),
             (8, 9), (2, 8)]
    src = str(tmp_path / "pairs.parquet")
    spark.createDataFrame(pairs, "id_a long, id_b long").write.parquet(src)
    seeds = str(tmp_path / "seeds.parquet")
    spark.createDataFrame([(0,), (6,), (99,)], "id long").write.parquet(seeds)
    rc, out, _ = run(
        ["graph", src, "--op", "trustrank", "--seeds", seeds], cfg
    )
    assert rc == 0
    assert out == (
        "id  trustrank\n"
        "6  0.260127083332\n"
        "0  0.129616229421\n"
        "2  0.057148726849\n"
        "1  0.045917271088\n"
        "5  0.036603125\n"
        "7  0.036603125\n"
        "4  0.033410050153\n"
        "8  0.03042379115\n"
        "3  0.030277970677\n"
        "9  0.00653929398\n"
    )


def test_components_store_cli(cfg, tmp_path, spark):
    """comp-build + comp-merge + comp-read: fold == batch through the
    CLI; maintain compacts it (kind=components)."""
    p0 = str(tmp_path / "p0.parquet")
    p1 = str(tmp_path / "p1.parquet")
    spark.createDataFrame([(0, 1), (2, 3)], "id_a long, id_b long").write.parquet(p0)
    spark.createDataFrame([(1, 2), (9, 10)], "id_a long, id_b long").write.parquet(p1)
    store = str(tmp_path / "comp")
    rc, out, _ = run(["comp-build", p0, "--out", store], cfg)
    assert rc == 0
    rc, out, _ = run(["comp-merge", store, "--data", p1], cfg)
    assert rc == 0
    rc, out, _ = run(["comp-read", store], cfg)
    assert rc == 0
    got = {tuple(map(int, l.split())) for l in out.strip().splitlines()}
    assert got == {(0, 0), (1, 0), (2, 0), (3, 0), (9, 9), (10, 9)}


def test_band_pairs_cli(cfg, tmp_path, spark):
    """band-pairs: store-amortized near-dup pair discovery as a dn
    verb (VERDICT r12 #1) — oneshot NDJSON print, parquet sink, and
    the bounded sliced verify all from the CLI."""
    base = ("the quick brown fox jumps over the lazy dog while many "
            "other animals watch quietly from the tall grass nearby")
    twin = base.replace("tall grass", "grass tall")
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [(1, base), (2, twin),
         (3, "wholly different content about compilers optimizing "
             "loops registers and instruction scheduling pipelines")],
        "doc_id long, text string",
    ).write.parquet(corpus)
    store = str(tmp_path / "bstore")
    rc, out, _ = run(["band-build", corpus, "--out", store], cfg)
    assert rc == 0

    # oneshot, printed
    rc, out, _ = run(
        ["band-pairs", store, "--docs", corpus, "--threshold", "0.5"], cfg
    )
    assert rc == 0
    lines = out.strip().splitlines()
    rows = [json.loads(ln) for ln in lines[:-1]]
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    assert rows[0]["jaccard"] >= 0.5
    assert "1 near-duplicate pairs (jaccard >= 0.5)" in lines[-1]

    # oneshot, parquet sink
    sink = str(tmp_path / "pairs_oneshot")
    rc, out, _ = run(
        ["band-pairs", store, "--docs", corpus, "--threshold", "0.5",
         "--out", sink], cfg,
    )
    assert rc == 0 and "1 near-duplicate pairs" in out
    assert {tuple(r) for r in
            spark.read.parquet(sink).select("id_a", "id_b").collect()
            } == {(1, 2)}

    # bounded sliced verify
    bsink = str(tmp_path / "pairs_bounded")
    rc, out, _ = run(
        ["band-pairs", store, "--docs", corpus, "--threshold", "0.5",
         "--bounded", "--slices", "2", "--out", bsink], cfg,
    )
    assert rc == 0 and "bounded verify, 2 slices" in out
    assert {tuple(r) for r in
            spark.read.parquet(bsink).select("id_a", "id_b").collect()
            } == {(1, 2)}

    # usage errors
    rc, _, err = run(["band-pairs", store], cfg)
    assert rc == 2 and '"docs" option is required' in err
    rc, _, err = run(
        ["band-pairs", store, "--docs", corpus, "--bounded"], cfg
    )
    assert rc == 2 and '"--bounded" requires "--out"' in err


def test_srp_pairs_cli(cfg, tmp_path, spark):
    """srp-pairs: semantic pair discovery from the SRP store as a dn
    verb — oneshot print, sliced, and bucket-local verify modes."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((12, 8))
    rows = [(i, base[i].tolist()) for i in range(12)]
    rows += [(100 + i, base[i].tolist()) for i in range(4)]  # twins
    vecs = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(vecs)
    store = str(tmp_path / "sstore")
    rc, out, _ = run(
        ["srp-build", vecs, "--out", store, "--bands", "6", "--bits", "6"],
        cfg,
    )
    assert rc == 0

    rc, out, _ = run(["srp-pairs", store, "--vectors", vecs], cfg)
    assert rc == 0
    lines = out.strip().splitlines()
    printed = {(json.loads(ln)["id_a"], json.loads(ln)["id_b"])
               for ln in lines[:-1]}
    assert {(i, 100 + i) for i in range(4)} <= printed
    assert "semantic near-duplicate pairs (cosine >= 0.9)" in lines[-1]

    for mode, marker in (
        ("sliced", "sliced verify"), ("bucket", "bucket-local verify")
    ):
        sink = str(tmp_path / f"pairs_{mode}")
        rc, out, _ = run(
            ["srp-pairs", store, "--vectors", vecs, "--mode", mode,
             "--out", sink], cfg,
        )
        assert rc == 0 and marker in out, mode
        got = {tuple(r) for r in
               spark.read.parquet(sink).select("id_a", "id_b").collect()}
        assert got == printed, mode

    rc, _, err = run(
        ["srp-pairs", store, "--vectors", vecs, "--mode", "nope"], cfg
    )
    assert rc == 2 and 'bad value for "mode" ("nope")' in err
    rc, _, err = run(
        ["srp-pairs", store, "--vectors", vecs, "--mode", "bucket"], cfg
    )
    assert rc == 2 and 'requires "--out"' in err


def test_band_append_cli(cfg, tmp_path, spark):
    """band-append: the ingest-loop append verb — new docs' band keys
    land under the persisted banding params, and a subsequent
    band-pairs run discovers pairs spanning the original build and
    the appended batch (the store-amortized loop end to end as
    CLI verbs: build -> append -> pairs)."""
    base = ("the quick brown fox jumps over the lazy dog while many "
            "other animals watch quietly from the tall grass nearby")
    twin = base.replace("tall grass", "grass tall")
    corpus = str(tmp_path / "c.parquet")
    spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    ).write.parquet(corpus)
    store = str(tmp_path / "bstore")
    rc, _, _ = run(["band-build", corpus, "--out", store], cfg)
    assert rc == 0

    batch = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        [(2, twin)], "doc_id long, text string"
    ).write.parquet(batch)
    rc, out, _ = run(["band-append", store, "--docs", batch], cfg)
    assert rc == 0 and "appended band keys" in out

    alldocs = str(tmp_path / "all.parquet")
    spark.createDataFrame(
        [(1, base), (2, twin)], "doc_id long, text string"
    ).write.parquet(alldocs)
    rc, out, _ = run(
        ["band-pairs", store, "--docs", alldocs, "--threshold", "0.5"], cfg
    )
    assert rc == 0
    lines = out.strip().splitlines()
    assert json.loads(lines[0])["id_a"] == 1
    assert json.loads(lines[0])["id_b"] == 2
    assert "1 near-duplicate pairs" in lines[-1]

    rc, _, err = run(["band-append", store], cfg)
    assert rc == 2 and '"docs" option is required' in err


def test_band_pairs_contract_error_is_one_line(cfg, tmp_path, spark):
    """VERDICT r13 #2: contract failures reachable from a dn verb must
    exit as 'dn: <message>' + rc 1, never a Python traceback — here
    the bounded-resume mismatch (wrong --slices into an existing
    out_path) and the manifest-less out_path refusal."""
    base = ("the quick brown fox jumps over the lazy dog while many "
            "other animals watch quietly from the tall grass nearby")
    corpus = str(tmp_path / "c.parquet")
    spark.createDataFrame(
        [(1, base), (2, base.replace("tall grass", "grass tall"))],
        "doc_id long, text string",
    ).write.parquet(corpus)
    store = str(tmp_path / "bstore")
    rc, _, _ = run(["band-build", corpus, "--out", store], cfg)
    assert rc == 0
    sink = str(tmp_path / "pairs")
    rc, _, _ = run(
        ["band-pairs", store, "--docs", corpus, "--threshold", "0.5",
         "--bounded", "--slices", "2", "--out", sink], cfg,
    )
    assert rc == 0

    # resume with a different modulus: one-line error, exit 1
    rc, _, err = run(
        ["band-pairs", store, "--docs", corpus, "--threshold", "0.5",
         "--bounded", "--slices", "3", "--out", sink], cfg,
    )
    assert rc == 1
    assert "resume mismatch" in err and "slices" in err
    assert "Traceback" not in err

    # manifest-less out_path holding slice dirs: same delivery
    stale = tmp_path / "stale"
    (stale / "slice=0").mkdir(parents=True)
    rc, _, err = run(
        ["band-pairs", store, "--docs", corpus, "--threshold", "0.5",
         "--bounded", "--slices", "2", "--out", str(stale)], cfg,
    )
    assert rc == 1
    assert "no run manifest" in err and "Traceback" not in err


def test_srp_build_auto_bits(cfg, tmp_path, spark):
    """srp-build --bits auto: corpus-sized band width (the
    auto_bits_per_band formula, prefix-sliced planes) and
    --no-pair-keys, from the CLI — the build shape the CLI-routed
    store entry and the 10^5 ladder use."""
    import numpy as np

    from dragnet_spark.index.fingerprints import load_srp_store_meta
    from dragnet_spark.ops.dedup import auto_bits_per_band

    rng = np.random.RandomState(3)
    base = rng.standard_normal((8, 16))
    rows = []
    for i in range(8):
        rows.append((i, base[i].tolist()))
        rows.append((100 + i, (base[i] * 1.0001).tolist()))
    vecs = str(tmp_path / "v.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(vecs)

    store = str(tmp_path / "sstore")
    rc, out, _ = run(
        ["srp-build", vecs, "--out", store, "--bands", "4",
         "--bits", "auto", "--seed", "42", "--no-pair-keys"], cfg,
    )
    assert rc == 0
    meta = load_srp_store_meta(store)
    assert meta["bits_per_band"] == auto_bits_per_band(16, 4)
    assert meta["pair_keys"] is False
    assert f"{meta['bits_per_band']} bits" in out

    # bucket-verify pair discovery over the auto store finds the twins
    sink = str(tmp_path / "spairs")
    rc, out, _ = run(
        ["srp-pairs", store, "--vectors", vecs, "--threshold", "0.99",
         "--mode", "bucket", "--out", sink], cfg,
    )
    assert rc == 0
    got = {
        tuple(r)
        for r in spark.read.parquet(sink)
        .select("id_a", "id_b").distinct().collect()
    }
    assert {(i, 100 + i) for i in range(8)} <= got


def test_pairs_candidates_only(cfg, tmp_path, spark):
    """--candidates-only on band-pairs/srp-pairs: the bounded
    collision-join stage alone (the 10^5-tier posture where verify
    runs wherever the corpus durably lives) — no --docs/--vectors
    needed, candidates land in --out."""
    import numpy as np

    base = ("the quick brown fox jumps over the lazy dog while many "
            "other animals watch quietly from the tall grass nearby")
    corpus = str(tmp_path / "c.parquet")
    spark.createDataFrame(
        [(1, base), (2, base.replace("tall grass", "grass tall"))],
        "doc_id long, text string",
    ).write.parquet(corpus)
    store = str(tmp_path / "bstore")
    rc, _, _ = run(["band-build", corpus, "--out", store], cfg)
    assert rc == 0
    sink = str(tmp_path / "cands")
    rc, out, _ = run(
        ["band-pairs", store, "--candidates-only", "--slices", "2",
         "--out", sink], cfg,
    )
    assert rc == 0 and "unverified" in out
    # the sink is the DEDUPLICATED set: row count == printed count
    rows = spark.read.parquet(sink + "/pairs").select(
        "id_a", "id_b"
    ).collect()
    got = {tuple(r) for r in rows}
    assert (1, 2) in got
    assert len(rows) == len(got)
    assert ("%d candidate pairs" % len(rows)) in out
    rc, _, err = run(["band-pairs", store, "--candidates-only"], cfg)
    assert rc == 2 and '"--candidates-only" requires "--out"' in err

    rng = np.random.RandomState(5)
    b = rng.standard_normal((4, 8))
    rows = [(i, b[i].tolist()) for i in range(4)]
    rows += [(100 + i, (b[i] * 1.0001).tolist()) for i in range(4)]
    vecs = str(tmp_path / "v.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(vecs)
    sstore = str(tmp_path / "sstore")
    rc, _, _ = run(
        ["srp-build", vecs, "--out", sstore, "--bands", "4",
         "--no-pair-keys"], cfg,
    )
    assert rc == 0
    ssink = str(tmp_path / "scands")
    rc, out, _ = run(
        ["srp-pairs", sstore, "--candidates-only", "--slices", "2",
         "--out", ssink], cfg,
    )
    assert rc == 0 and "unverified" in out
    srows = spark.read.parquet(ssink + "/pairs").select(
        "id_a", "id_b"
    ).collect()
    got = {tuple(r) for r in srows}
    assert {(i, 100 + i) for i in range(4)} <= got
    assert len(srows) == len(got)  # twins collide in EVERY band


# ----------------------------------------------------------- option contract
#
# Table-driven over cli.COMMANDS, so a new command's declared options
# are covered as soon as it is registered. Every case fails in argument
# parsing or in a config check, before a SparkSession exists: the
# ``no_spark`` fixture turns a started session into a test failure.

def _spec_cases(pred):
    return [(name, opt) for name, (_fn, _n, spec) in sorted(cli.COMMANDS.items())
            for opt, default in spec.items() if pred(default)]


REQUIRED_CASES = _spec_cases(lambda d: d is cli.REQUIRED)
NUMBER_CASES = _spec_cases(
    lambda d: d in (int, float) or type(d) in (int, float)
) + [("srp-build", "bits")]  # an int or "auto"
CHOICE_CASES = _spec_cases(lambda d: isinstance(d, tuple))


@pytest.fixture
def no_spark(monkeypatch):
    def started():
        raise AssertionError("a SparkSession was started")

    monkeypatch.setattr(cli, "_get_spark", started)


def _argv(name, skip=None):
    """``dn NAME`` with placeholder positionals and every required
    option except ``skip``."""
    _fn, nargs, spec = cli.COMMANDS[name]
    return [name, *["x"] * nargs] + [
        f"--{opt}=x" for opt, d in spec.items() if d is cli.REQUIRED and opt != skip
    ]


def test_contract_tables_cover_the_cli():
    assert {("distinct", "k"), ("graph", "iterations"),
            ("semdedup", "threshold")} <= set(NUMBER_CASES)
    assert {("kmv-build", "col"), ("kmv-build", "out"), ("comp-build", "out"),
            ("comp-merge", "data"), ("kmv-merge", "data"),
            ("distinct", "col")} <= set(REQUIRED_CASES)
    assert {("build", "interval"), ("srp-pairs", "mode")} <= set(CHOICE_CASES)


@pytest.mark.parametrize("name,opt", REQUIRED_CASES)
def test_required_option_omitted(cfg, no_spark, name, opt):
    rc, _, err = run(_argv(name, skip=opt), cfg)
    assert rc == 2
    assert err.splitlines() == [f'dn: "{opt}" option is required', cli.USAGE]


@pytest.mark.parametrize("name,opt", NUMBER_CASES)
def test_number_option_rejects_non_number(cfg, no_spark, name, opt):
    rc, _, err = run(_argv(name) + [f"--{opt}=abc"], cfg)
    assert rc == 2
    assert err.splitlines() == [f'dn: bad value for "{opt}" ("abc")', cli.USAGE]


@pytest.mark.parametrize("name,opt", CHOICE_CASES)
def test_choice_option_rejects_other_values(cfg, no_spark, name, opt):
    rc, _, err = run(_argv(name) + [f"--{opt}", "bogus"], cfg)
    assert rc == 2
    assert err.splitlines() == [f'dn: bad value for "{opt}" ("bogus")', cli.USAGE]


CONFIG_RUNS = [
    ["datasource-add", "d", "--path=/nonexistent", "--index-path=/nonexistent"],
    ["datasource-update", "d", "--time-field=time"],
    ["datasource-show", "-v", "d"],
    ["datasource-list", "-v"],
    ["metric-add", "d", "m", "-b", "host"],
    ["metric-list", "-v", "d"],
    ["index-config", "d"],
    ["metric-remove", "d", "m"],
    ["datasource-remove", "d"],
]


def test_config_commands_start_no_spark(cfg, no_spark):
    config = {n for n in cli.COMMANDS
              if n.startswith(("datasource-", "metric-")) or n == "index-config"}
    assert {argv[0] for argv in CONFIG_RUNS} == config
    for argv in CONFIG_RUNS:
        rc, _, err = run(argv, cfg)
        assert rc == 0, (argv, err)


@pytest.fixture
def indexed(cfg, tmp_path):
    """Datasources "timed" (timeField "time") and "untimed", each with
    one metric by host; returns the parent of their index paths."""
    idx = tmp_path / "idx"
    for ds, extra in (("timed", ["--time-field=time"]), ("untimed", [])):
        assert run(["datasource-add", ds, f"--path={tmp_path}",
                    f"--index-path={idx / ds}", *extra], cfg)[0] == 0
        assert run(["metric-add", ds, "m", "-b", "host"], cfg)[0] == 0
    return idx


@pytest.mark.parametrize(
    "verb", ["build", "query", "index-scan", "index-read", "compact"])
def test_interval_is_day_hour_or_all(cfg, no_spark, indexed, verb):
    rc, _, err = run([verb, "--interval=week", "timed"], cfg)
    assert rc == 2
    assert err.splitlines()[0] == 'dn: bad value for "interval" ("week")'
    assert not indexed.exists()


@pytest.mark.parametrize("interval", ["day", "hour"])
@pytest.mark.parametrize("verb", ["build", "index-scan", "index-read"])
def test_time_interval_needs_a_time_field(cfg, no_spark, indexed, verb, interval):
    rc, _, err = run([verb, "-i", interval, "untimed"], cfg)
    assert rc == 1
    assert err == (f'dn: datasource "untimed" has no time field, which '
                   f'--interval={interval} needs (use --interval=all)\n')


@pytest.mark.parametrize("bad,why", [
    ("{not json", "invalid JSON: Expecting property name"),
    ("[1]", 'a point needs "fields" and "value"'),
    ('{"value":1}', 'a point needs "fields" and "value"'),
    ('{"fields":{"host":"a"}}', 'a point needs "fields" and "value"'),
    ('{"fields":{},"value":1}', 'missing breakdown "host"'),
    ('{"fields":{"host":"a","__dn_metric":1},"value":1}',
     "__dn_metric 1 is not one of 1 metrics"),
    ('{"fields":{"host":"a","__dn_metric":-1},"value":1}',
     "__dn_metric -1 is not one of 1 metrics"),
    ('{"fields":{"host":"a"},"value":"1"}', 'value "1" is not an integer'),
])
def test_index_read_rejects_bad_points(cfg, no_spark, indexed, monkeypatch,
                                       bad, why):
    """Every input line is checked before a view is written, so a bad
    point anywhere fails with its line number and writes nothing."""
    good = '{"fields":{"host":"a","__dn_metric":0},"value":3}'
    monkeypatch.setattr(sys, "stdin", io.StringIO(f"{good}\n\n{bad}\n{good}\n"))
    rc, _, err = run(["index-read", "--interval=all", "timed"], cfg)
    assert rc == 1
    assert len(err.splitlines()) == 1
    assert err.startswith(f"dn: index-read: line 3: {why}")
    assert not indexed.exists()


@pytest.mark.parametrize("opt", [["-f", '{"eq":["host","a"]}'], ["-b", "host"],
                                 ["--filter={}"], ["--breakdowns=host"]])
def test_index_scan_has_no_filter_or_breakdowns(cfg, no_spark, indexed, opt):
    """The map phase emits every metric's points unfiltered, so it
    takes no query filter or breakdowns rather than ignore them."""
    rc, _, err = run(["index-scan", *opt, "timed"], cfg)
    assert rc == 2
    assert "unknown option" in err


def test_query_dry_run_starts_no_spark(cfg, no_spark, indexed):
    (indexed / "timed" / "by_hour").mkdir(parents=True)
    rc, out, _ = run(["query", "-n", "-i", "hour", "-b", "host", "timed"], cfg)
    assert rc == 0
    assert out == 'would query hour index for "timed"\n'


@pytest.mark.parametrize("argv,rc,needle", [
    ([], 2, cli.USAGE),
    (["nosuch"], 2, 'dn: unknown command: "nosuch"'),
    (["datasource-list"], 0, ""),
])
def test_bin_dn_smoke(tmp_path, argv, rc, needle):
    dn = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bin", "dn")
    env = dict(os.environ, DRAGNET_CONFIG=str(tmp_path / "dn.json"))
    p = subprocess.run([sys.executable, dn, *argv], env=env,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == rc
    assert "Traceback" not in p.stderr
    assert needle in p.stderr
    if rc == 0:
        assert p.stdout.split() == ["DATASOURCE", "LOCATION"]
