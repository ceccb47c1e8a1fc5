"""The machine-trend alarm in bench.py (VERDICT r13 #3): trailing-median
grading absorbs a slow monotonic riser by construction, so the bench now
tests the canary's round-median series directly and normalizes the
headline total by the measured machine-speed factor."""

import importlib.util
import json
import sys
from pathlib import Path

import pytest


@pytest.fixture()
def bench(tmp_path, monkeypatch):
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", Path(__file__).resolve().parents[1] / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    mod.HISTORY = tmp_path / "hist.jsonl"
    return mod


def _write_history(path, rows):
    with path.open("w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _row(rd, probe):
    return {
        "round": rd,
        "sf": 0.1,
        "canary": {"scan": 9.9, "tpch": probe, "events": probe},
    }


def test_round_probe_meds_excludes_warmup_probe(bench):
    _write_history(bench.HISTORY, [_row(1, 0.1), _row(1, 0.2), _row(2, 0.3)])
    meds = bench._round_probe_meds(0.1, 32)
    # the 9.9 'scan' (first/warmup) probe never enters the median
    assert meds == {1: 0.1, 2: 0.3} or meds[1] in (0.1, 0.2)
    assert all(v < 1 for v in meds.values())


def test_trend_alarm_fires_on_sustained_rise(bench):
    _write_history(
        bench.HISTORY, [_row(1, 0.10), _row(2, 0.11), _row(3, 0.12)]
    )
    m = bench._machine_trend(0.1, 0.13, 32)
    # 4 strictly-rising points, +30% cumulative: alarm
    assert m["trend_alarm"] is True
    assert m["machine_speed_factor"] == pytest.approx(1.3)


def test_trend_alarm_quiet_on_jitter(bench):
    # non-monotonic history (the real r10-r13 shape): no alarm even if
    # the current probe is high — that's the per-run load gate's job
    _write_history(
        bench.HISTORY, [_row(1, 0.16), _row(2, 0.15), _row(3, 0.135)]
    )
    m = bench._machine_trend(0.1, 0.20, 32)
    assert m["trend_alarm"] is False
    assert m["machine_speed_factor"] == pytest.approx(0.2 / 0.135, rel=1e-3)


def test_trend_alarm_quiet_on_small_rise(bench):
    # strictly rising but under the 15% jitter floor: no alarm
    _write_history(
        bench.HISTORY, [_row(1, 0.100), _row(2, 0.101), _row(3, 0.102)]
    )
    m = bench._machine_trend(0.1, 0.103, 32)
    assert m["trend_alarm"] is False


def test_trend_needs_enough_history(bench):
    _write_history(bench.HISTORY, [_row(1, 0.1)])
    m = bench._machine_trend(0.1, 0.2, 32)
    assert m["trend_alarm"] is False  # 2 points is not a trend


def _timed(sf, q, cpus=None, rd=1, probe=0.1):
    row = {"round": rd, "sf": sf, "queries": {"q": q},
           "canary": {"scan": 9.9, "tpch": probe}}
    if cpus is not None:
        row["cpus"] = cpus
    return row


def test_history_row_without_cpus_counts_as_32(bench):
    assert bench.history_row_matches({"sf": 0.1}, 0.1, 32)
    assert not bench.history_row_matches({"sf": 0.1}, 0.1, 4)
    assert bench.history_row_matches({"sf": 0.1, "cpus": 4}, 0.1, 4)
    assert not bench.history_row_matches({"sf": 0.01, "cpus": 4}, 0.1, 4)
    # sf=None (a per-tier history file) matches any sf, never any cpus
    assert bench.history_row_matches({"sf": 0.01, "cpus": 8}, None, 8)
    assert not bench.history_row_matches({"sf": 0.01, "cpus": 8}, None, 4)


def test_trailing_medians_keyed_by_sf_and_cpus(bench):
    _write_history(bench.HISTORY, [
        _timed(0.1, 9.0),            # legacy line: a 32-core run
        _timed(0.1, 1.0, cpus=4),
        _timed(0.1, 1.1, cpus=4),
        _timed(0.1, 1.2, cpus=4),
        _timed(0.01, 0.2, cpus=4),   # other sf
        _timed(0.1, 3.0, cpus=8),    # other core count
    ])
    assert bench.trailing_medians(bench.HISTORY, 8, 0.1, cpus=4) == {"q": 1.1}
    assert bench.trailing_medians(bench.HISTORY, 8, 0.1, cpus=32) == {"q": 9.0}
    assert bench.trailing_medians(bench.HISTORY, 8, 0.1, cpus=8) == {"q": 3.0}
    assert bench.trailing_medians(bench.HISTORY, 8, 0.1, cpus=16) == {}


def test_round_probe_meds_keyed_by_cpus(bench):
    _write_history(bench.HISTORY, [
        _timed(0.1, 1.0, rd=1, probe=0.5),          # 32-core
        _timed(0.1, 1.0, cpus=4, rd=1, probe=0.2),
        _timed(0.1, 1.0, cpus=4, rd=2, probe=0.3),
    ])
    assert bench._round_probe_meds(0.1, 4) == {1: 0.2, 2: 0.3}
    assert bench._round_probe_meds(0.1, 32) == {1: 0.5}


def test_trend_ignores_other_core_counts(bench):
    # a rising 32-core series must not raise a 4-core run's alarm
    _write_history(
        bench.HISTORY, [_row(1, 0.10), _row(2, 0.11), _row(3, 0.12)]
    )
    m = bench._machine_trend(0.1, 0.13, cpus=4)
    assert m["trend_alarm"] is False
    assert m["probe_med_by_round"] == {}
    assert m["machine_speed_factor"] == 1.0
    assert bench._machine_trend(0.1, 0.13, cpus=32)["trend_alarm"] is True


def test_bench_octave_seeds_history_with_artifact_cpus(tmp_path):
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools.bench_octave import _seed_history_if_absent

    out, hist = tmp_path / "BENCH_T.json", tmp_path / "BENCH_T_HISTORY.jsonl"
    out.write_text(json.dumps({"round": 3, "queries": {"q": 1.0}}))
    _seed_history_if_absent(hist, out)
    assert json.loads(hist.read_text())["cpus"] == 32  # pre-cpus artifact
    hist.unlink()
    out.write_text(json.dumps({"round": 4, "cpus": 4, "queries": {"q": 1.0}}))
    _seed_history_if_absent(hist, out)
    assert json.loads(hist.read_text())["cpus"] == 4
