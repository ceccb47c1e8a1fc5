"""The generator's tallies are exact and its output is seeded.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import workloads as W  # noqa: E402


def _reparse(root: str):
    """Tallies recomputed from the files, and the corrupt-line count."""
    big, hour, corrupt, files = Counter(), Counter(), 0, []
    for d, _dirs, names in os.walk(root):
        for name in names:
            path = os.path.join(d, name)
            files.append(os.path.relpath(path, root))
            for line in open(path):
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    corrupt += 1
                    continue
                req = rec["req"]
                caller = ("undefined" if "caller" not in req
                          else "null" if req["caller"] is None else req["caller"])
                lat = int(rec["latency"])
                assert rec["operation"] in gen.OPERATIONS[req["method"]]
                assert isinstance(rec["dataLatency"], int) and 0 <= rec["dataSize"] < 1 << 30
                big[(rec["host"], rec["operation"], caller, req["method"],
                     gen.quantize(lat))] += 1
                sec = int(datetime.fromisoformat(
                    rec["time"].replace("Z", "+00:00")).timestamp())
                hour[sec - sec % 3600] += 1
    return big, hour, corrupt, files


def test_tallies_match_the_written_tree(tmp_path):
    t = gen.write_events(str(tmp_path), seed=3, n_records=20_000)
    big, hour, corrupt, files = _reparse(str(tmp_path))
    assert t.big == big and t.hour == hour and t.corrupt == corrupt
    assert t.valid == sum(big.values()) == sum(t.file_records.values()) == 20_000
    assert 0 < corrupt < 60
    assert sorted(files) == sorted(t.file_records)
    assert all(re.fullmatch(r"2014/05-\d\d/\d\.log", f) for f in files)
    assert {c for (_h, _o, c, _m, _q) in big} == set(gen.CALLERS)


def test_same_seed_same_tree(tmp_path):
    a = gen.write_events(str(tmp_path / "a"), seed=5, n_records=3_000)
    b = gen.write_events(str(tmp_path / "b"), seed=5, n_records=3_000)
    c = gen.write_events(str(tmp_path / "c"), seed=6, n_records=3_000)
    assert a.to_json() == b.to_json() != c.to_json()
    assert gen.Tallies.from_json(json.loads(json.dumps(a.to_json()))).to_json() == a.to_json()


def test_expected_answers_marginalise_the_tallies(tmp_path):
    t = gen.write_events(str(tmp_path), seed=7, n_records=5_000)
    total = W.expected(t, W.Call("scan"))
    assert total == Counter({(): t.valid})
    by_method = W.expected(t, W.Call("scan", ("req.method",)))
    get_only = W.expected(t, W.Call("scan", (), W.GET))
    assert get_only == Counter({(): by_method[("GET",)]})
    day = W.expected(t, W.Call("query", (W.STATUS,), after=gen.START,
                               before=gen.START + 86400))
    hourly = W.expected(t, W.Call("scan", (W.HOURLY,), after=gen.START,
                                  before=gen.START + 86400))
    assert sum(day.values()) == sum(hourly.values()) and len(hourly) == 24
