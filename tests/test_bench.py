"""bench.py, the registry benchmark.

* ``bench.py NAME… --runs N`` prints each entry's min/median seconds
  and the Spark jobs and shuffle-read bytes of its last run, and
  writes no file;
* the headline run writes per-query seconds, jobs and shuffle-read
  bytes to the detail file, appends one history line and prints the
  compact line with exactly its keys.
"""

import json
import re

import pytest

import bench

COMPACT_KEYS = {
    "metric", "value", "unit", "sf", "n_queries", "queries", "cpus",
    "master", "default_parallelism", "detail",
}


@pytest.fixture
def scratch_bench(keep_conf, sf_dir, tmp_path, monkeypatch):
    """bench.py against the test tables, recording under ``tmp_path``."""
    monkeypatch.setattr(bench, "SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "HISTORY", tmp_path / "HISTORY.jsonl")
    monkeypatch.setattr(bench, "DETAIL", tmp_path / "DETAIL.json")
    return tmp_path


def test_named_entry_prints_times_and_jobs_and_writes_nothing(
    scratch_bench, capsys
):
    bench.main(["scan_by_type", "--runs", "2"])
    (line,) = capsys.readouterr().out.splitlines()
    m = re.fullmatch(
        r"scan_by_type: min=([\d.]+) med=([\d.]+) all=\[(.*)\] "
        r"jobs=(\d+) shuffle_read_bytes=(\d+)",
        line,
    )
    assert m, line
    assert float(m[1]) <= float(m[2])
    assert len(m[3].split(",")) == 2
    assert int(m[4]) >= 1
    assert list(scratch_bench.iterdir()) == []


def test_headline_records_jobs_per_query(scratch_bench, capsys, monkeypatch):
    families = [("scan", ["scan_count", "scan_by_type"]),
                ("tpch", ["q6_forecast_revenue"])]
    monkeypatch.setattr(bench, "BENCH_FAMILIES", families)
    bench.main([])
    (line,) = capsys.readouterr().out.splitlines()
    compact = json.loads(line)
    assert set(compact) == COMPACT_KEYS
    assert compact["n_queries"] == 3
    assert set(compact["queries"]) == {"scan", "tpch"}

    detail = json.loads(bench.DETAIL.read_text())
    names = {"scan_count", "scan_by_type", "q6_forecast_revenue"}
    assert set(detail["queries"]) == set(detail["counters"]) == names
    for c in detail["counters"].values():
        assert set(c) == {"jobs", "shuffle_read_bytes"}
        assert c["jobs"] >= 1 and c["shuffle_read_bytes"] >= 0
    assert detail["value"] == compact["value"] == pytest.approx(
        sum(detail["queries"].values()), abs=1e-3
    )
    assert set(detail) == COMPACT_KEYS - {"n_queries", "detail"} | {
        "counters", "store_backed_probe_only"
    }

    (hist,) = bench.HISTORY.read_text().splitlines()
    row = json.loads(hist)
    assert set(row) == {"ts", "round", "sf", "cpus", "queries", "jobs"}
    assert row["queries"] == detail["queries"]
    assert row["jobs"] == {q: c["jobs"] for q, c in detail["counters"].items()}
