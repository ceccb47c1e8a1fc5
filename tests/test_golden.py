"""Golden-output parity with the reference.

Runs the reference's canonical scan corpus (tests/dn/scan_testcases.sh)
over the reference's own fixture data (tests/data/2014/05-01/one.log,
250 records) and compares our rendered output byte-for-byte against
the checked-in golden file tests/dn/local/tst.scan_file.sh.out.

Table/histogram sections must match exactly. --points sections are
piped through `sort -d` in the reference runner, so they are compared
as line sets (same data, locale-proof)."""

import os
import re

import pytest

from dragnet_spark.output.format import format_points, render
from dragnet_spark.query import QueryConfig
from dragnet_spark.scan import scan_ndjson

REF = "/root/reference"
DATA = f"{REF}/tests/data/2014/05-01/one.log"
GOLDEN = f"{REF}/tests/dn/local/tst.scan_file.sh.out"

if not os.path.exists(GOLDEN):
    # _sections() below reads the golden file at import
    pytest.skip(f"reference golden file {GOLDEN} not present",
                allow_module_level=True)

# the scan_testcases.sh corpus, in file order, plus the two
# datasource-filter cases appended by tst.scan_file.sh:26-34
GET = {"eq": ["req.method", "GET"]}
CASES = [
    # (filter, breakdowns, datasource_filter)
    (None, None, None),
    (None, "operation", None),
    (None, "operation,req.method,host", None),
    (None, "req.caller", None),
    (None, "operation,req.caller", None),
    (GET, None, None),
    (GET, "operation,req.method,host", None),
    ({"eq": ["req.caller", "poseidon"]}, None, None),
    ({"eq": ["req.caller", "poseidon"]}, "req.caller", None),
    (None, "latency[aggr=quantize]", None),
    (None, "latency[aggr=quantize],operation,host", None),
    (None, "host,operation,latency[aggr=quantize]", None),
    (None, "latency[aggr=lquantize,step=100]", None),
    (None, None, GET),
    ({"eq": ["res.statusCode", "200"]}, None, GET),
]


def _sections(path=GOLDEN):
    """Split a golden file into (header, body) pairs in order."""
    with open(path) as f:
        lines = f.read().split("\n")
    sections = []
    header, body = None, []
    for ln in lines:
        if ln.startswith("# dn scan"):
            if header is not None:
                sections.append((header, body))
            header, body = ln, []
        elif header is not None:
            body.append(ln)
    if header is not None:
        sections.append((header, body))
    # each scan invocation echoes one trailing blank line; drop it
    out = []
    for header, body in sections:
        while body and body[-1] == "":
            body.pop()
        out.append((header, body))
    return out


SECTIONS = _sections()


@pytest.fixture(scope="module")
def results(spark):
    """One scan per corpus case, collected once."""
    out = []
    for filt, bd, dsf in CASES:
        q = QueryConfig.load(breakdowns=bd, filter=filt)
        df = scan_ndjson(spark, DATA, q, datasource_filter=dsf)
        out.append((q, [tuple(r) for r in df.collect()]))
    return out


@pytest.mark.parametrize("i", range(len(CASES)))
def test_pretty_section(results, i):
    q, rows = results[i]
    want = "\n".join(SECTIONS[2 * i][1])
    got = render(rows, q, mode="table").rstrip("\n")
    # histogram sections keep interior blank lines; normalize only the ends
    assert got == want.rstrip("\n"), (
        f"section {SECTIONS[2 * i][0]!r}\n--- got ---\n{got}\n--- want ---\n{want}"
    )


@pytest.mark.parametrize("i", range(len(CASES)))
def test_points_section(results, i):
    q, rows = results[i]
    want = {ln for ln in SECTIONS[2 * i + 1][1] if ln}
    got = set(format_points(rows, q))
    assert got == want, f"section {SECTIONS[2 * i + 1][0]!r}"


def test_section_headers_line_up():
    """The golden file must contain exactly our 15 cases × 2 modes."""
    assert len(SECTIONS) == 2 * len(CASES)
    for i in range(len(CASES)):
        assert not SECTIONS[2 * i][0].startswith("# dn scan --points")
        assert SECTIONS[2 * i + 1][0].startswith("# dn scan --points")


def test_corrupt_tolerance_fileset(spark):
    """The full 9-file tree contains 2 deliberately-broken lines; a
    whole-tree count must still work and see 2252 valid records
    (reference tests/dn/local/tst.scan_fileset.sh.out:2475-2477)."""
    import glob

    files = sorted(glob.glob(f"{REF}/tests/data/2014/*/*.log"))
    q = QueryConfig.load()
    got = scan_ndjson(spark, files, q).collect()[0]["value"]
    assert got == 2252


FILESET_GOLDEN = f"{REF}/tests/dn/local/tst.scan_fileset.sh.out"


def _gnuplot_blocks():
    """Extract the two generated-gnuplot blocks from the fileset golden."""
    with open(FILESET_GOLDEN) as f:
        lines = f.read().split("\n")
    blocks, cur = [], None
    for i, ln in enumerate(lines):
        if ln == "# This is a GNUplot input file generated automatically":
            cur = ["#", ln]
        elif cur is not None:
            cur.append(ln)
            if ln == "\te":
                blocks.append("\n".join(cur) + "\n")
                cur = None
    return blocks


@pytest.mark.skipif(
    not os.path.exists(FILESET_GOLDEN), reason="fileset golden not present"
)
def test_gnuplot_golden_parity(spark):
    """Byte-exact gnuplot scripts for the date-window and categorical
    cases (tst.scan_fileset.sh:29-31)."""
    from dragnet_spark.output.format import format_gnuplot

    files = sorted(glob_files())
    want_date, want_cat = _gnuplot_blocks()

    q1 = QueryConfig.load("timestamp[field=time,date,aggr=lquantize,step=86400]")
    rows1 = [tuple(r) for r in scan_ndjson(spark, files, q1).collect()]
    assert format_gnuplot(rows1, q1, "test_input") == want_date

    q2 = QueryConfig.load("req.method")
    rows2 = [tuple(r) for r in scan_ndjson(spark, files, q2).collect()]
    assert format_gnuplot(rows2, q2, "test_input") == want_cat


def glob_files():
    import glob as g

    return g.glob(f"{REF}/tests/data/2014/*/*.log")


def test_date_histogram_golden_parity(spark):
    """Daily tumbling-window histogram over the whole tree — the
    date-axis variant (ISO labels, 21-space header, trailing empty
    bucket) diffed byte-for-byte against the fileset golden
    (tst.scan_fileset.sh.out:2455-2463)."""
    q = QueryConfig.load("timestamp[date,field=time,aggr=lquantize,step=86400]")
    rows = [tuple(r) for r in scan_ndjson(spark, glob_files(), q).collect()]
    got = render(rows, q, mode="table")
    want = (
        "\n"
        + " " * 21
        + "value  ------------- Distribution ------------- count\n"
        "  2014-05-01T00:00:00.000Z |@@@@@@@@@                                500\n"
        "  2014-05-02T00:00:00.000Z |@@@@@@@@@                                500\n"
        "  2014-05-03T00:00:00.000Z |@@@@@@@@@                                500\n"
        "  2014-05-04T00:00:00.000Z |@@@@@@@@@                                500\n"
        "  2014-05-05T00:00:00.000Z |@@@@                                     250\n"
        "  2014-05-06T00:00:00.000Z |                                         0\n"
    )
    assert got == want


def test_distribution_negative_buckets_terminate():
    """lquantize of negative values yields negative bucket minima; the
    histogram zero-fill must render them, not loop forever."""
    from dragnet_spark.output.format import format_histogram
    from dragnet_spark.query import QueryConfig

    q = QueryConfig.load("val[field=v,aggr=lquantize,step=10]")
    out = format_histogram([(-20, 2), (0, 1), (10, 3)], q)
    assert "-20" in out and out.count("|") >= 4


# --------------------------------------------------- fileset corpus
# (VERDICT r8 #7): the SAME 13 scan_testcases.sh cases, over the full
# 9-file/5-day tree (2252 valid records) — byte-exact pretty sections,
# line-set points — plus the --counters blocks via df.observe.

FILESET_CASES = CASES[:13]  # tst.scan_fileset.sh sources scan_testcases.sh


@pytest.fixture(scope="module")
def fileset_sections():
    secs = _sections(FILESET_GOLDEN)
    # the corpus is the leading 13 cases x 2 modes; later sections are
    # --dry-run/--counters variants covered by the CLI tests below
    corpus = secs[: 2 * len(FILESET_CASES)]
    for header, _ in corpus:
        assert "--dry-run" not in header and "--counters" not in header
    return corpus


@pytest.fixture(scope="module")
def fileset_results(spark):
    out = []
    for filt, bd, dsf in FILESET_CASES:
        q = QueryConfig.load(breakdowns=bd, filter=filt)
        df = scan_ndjson(spark, sorted(glob_files()), q, datasource_filter=dsf)
        out.append((q, [tuple(r) for r in df.collect()]))
    return out


@pytest.mark.skipif(
    not os.path.exists(FILESET_GOLDEN), reason="fileset golden not present"
)
@pytest.mark.parametrize("i", range(13))
def test_fileset_pretty_section(fileset_results, fileset_sections, i):
    q, rows = fileset_results[i]
    want = "\n".join(fileset_sections[2 * i][1])
    got = render(rows, q, mode="table").rstrip("\n")
    assert got == want.rstrip("\n"), (
        f"section {fileset_sections[2 * i][0]!r}\n"
        f"--- got ---\n{got}\n--- want ---\n{want}"
    )


@pytest.mark.skipif(
    not os.path.exists(FILESET_GOLDEN), reason="fileset golden not present"
)
@pytest.mark.parametrize("i", range(13))
def test_fileset_points_section(fileset_results, fileset_sections, i):
    q, rows = fileset_results[i]
    # the final points section's raw body also captures the two
    # echoed gnuplot scripts (no '# dn scan' header of their own);
    # points lines are exactly the JSON lines
    want = {ln for ln in fileset_sections[2 * i + 1][1]
            if ln.startswith("{")}
    got = set(format_points(rows, q))
    assert got == want, f"section {fileset_sections[2 * i + 1][0]!r}"


# ------------------------------------------------ --counters parity
# The golden's counters blocks, asserted through the real CLI: the
# Observations ride the scan's single pass (df.observe — zero extra
# jobs) and must reproduce the reference's per-stage numbers for the
# whole tree, a day-pruned window, and a sub-day minute window.


def _run_cli(args, cfg_path):
    import io as _io
    import sys as _sys

    from dragnet_spark.cli import main

    out, err = _io.StringIO(), _io.StringIO()
    old = _sys.stderr
    _sys.stderr = err
    try:
        rc = main(args, out=out, config_path=cfg_path)
    finally:
        _sys.stderr = old
    return rc, out.getvalue(), err.getvalue()


@pytest.fixture
def fileset_cfg(tmp_path, monkeypatch, spark):
    cfg = str(tmp_path / "dnconfig.json")
    monkeypatch.setenv("DRAGNET_CONFIG", cfg)
    rc, _, _ = _run_cli(
        ["datasource-add", "test_input", f"--path={REF}/tests/data",
         "--time-format=%Y/%m-%d", "--time-field=time"], cfg,
    )
    assert rc == 0
    return cfg


def _counter_lines(err):
    return [ln for ln in err.splitlines()
            if ln.split(":")[0].rstrip().split("  ")[0] in
            ("json parser", "Datetime parser", "Time filter", "Aggregator")]


def test_fileset_counters_whole_tree(fileset_cfg, spark):
    """tst.scan_fileset.sh.out:2455-2487 — the semantic counter values
    our pipeline shares with the reference (its Find*/Flattener
    stages are walker internals with no analog here)."""
    rc, out, err = _run_cli(
        ["scan", "--counters", "-b",
         "timestamp[date,field=time,aggr=lquantize,step=86400]",
         "test_input"], fileset_cfg,
    )
    assert rc == 0
    for want in [
        "json parser        ninputs:         2254",
        "json parser        noutputs:        2252",
        "json parser        invalid json:       2",
        "Datetime parser    baddate:            1",
        "Datetime parser    ninputs:         2252",
        "Datetime parser    noutputs:        2250",
        "Datetime parser    undef:              1",
        "Aggregator         noutputs:           5",
    ]:
        assert want in err, f"missing {want!r} in:\n{err}"
    assert "2014-05-05T00:00:00.000Z |@@@@" in out


def test_fileset_counters_day_window_prunes_files(fileset_cfg, spark):
    """tst.scan_fileset.sh.out:2526-2555 — the --after/--before window
    prunes the path enumeration to 05-02's two files (504 lines), and
    every downstream counter matches the reference."""
    rc, out, err = _run_cli(
        ["scan", "--counters", "--after", "2014-05-02",
         "--before", "2014-05-03", "test_input"], fileset_cfg,
    )
    assert rc == 0
    assert out.splitlines()[:2] == ["VALUE", "  500"]
    for want in [
        "json parser        ninputs:          504",
        "json parser        noutputs:         502",
        "json parser        invalid json:       2",
        "Datetime parser    baddate:            1",
        "Datetime parser    ninputs:          502",
        "Datetime parser    noutputs:         500",
        "Datetime parser    undef:              1",
        "Time filter        ninputs:          500",
        "Time filter        noutputs:         500",
        "Aggregator         noutputs:           1",
    ]:
        assert want in err, f"missing {want!r} in:\n{err}"


def test_fileset_counters_minute_window(fileset_cfg, spark):
    """tst.scan_fileset.sh.out:2593-2630 — sub-day bounds with
    millisecond precision: 4 of 500 records survive, nfilteredout
    496, and the minute-step histogram renders byte-exact."""
    rc, out, err = _run_cli(
        ["scan", "--counters",
         "-b", "timestamp[date,field=time,aggr=lquantize,step=60]",
         "--after", "2014-05-02T04:05:06.123",
         "--before", "2014-05-02T04:15:10", "test_input"], fileset_cfg,
    )
    assert rc == 0
    for want in [
        "Datetime parser    noutputs:         500",
        "Time filter        nfilteredout:     496",
        "Time filter        ninputs:          500",
        "Time filter        noutputs:           4",
        "Aggregator         noutputs:           2",
    ]:
        assert want in err, f"missing {want!r} in:\n{err}"
    want_hist = (
        "\n"
        + " " * 21
        + "value  ------------- Distribution ------------- count\n"
        "  2014-05-02T04:07:00.000Z |@@@@@@@@@@@@@@@@@@@@                     2\n"
        "  2014-05-02T04:08:00.000Z |                                         0\n"
        "  2014-05-02T04:09:00.000Z |                                         0\n"
        "  2014-05-02T04:10:00.000Z |                                         0\n"
        "  2014-05-02T04:11:00.000Z |                                         0\n"
        "  2014-05-02T04:12:00.000Z |                                         0\n"
        "  2014-05-02T04:13:00.000Z |@@@@@@@@@@@@@@@@@@@@                     2\n"
        "  2014-05-02T04:14:00.000Z |                                         0\n"
    )
    assert out == want_hist
