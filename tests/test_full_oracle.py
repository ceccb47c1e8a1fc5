"""Opt-in driver-strength sweep: every registry query vs its DuckDB
oracle at sf0.01 (the driver's grading scale), not just the 50-entry
prefix the driver samples.

Run with::

    python -m pytest -m full_oracle tests/test_full_oracle.py -q

or equivalently ``python tools/check_correctness.py /root/testdata/sf0.01
CORRECTNESS_FULL.json`` (same code path; also writes the JSON report).
"""

import json
import os

import pytest

import __spark_entry__ as entrymod

pytestmark = pytest.mark.full_oracle

FULL_SF_DIR = os.environ.get("SPARK_GRAFT_FULL_SF_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(os.path.dirname(os.path.dirname(__file__)), "CORRECTNESS_FULL.json")


def test_full_registry_oracle_sweep(spark):
    from tools.check_correctness import oracle_con, sweep

    report, bad = sweep(
        spark, oracle_con(FULL_SF_DIR), FULL_SF_DIR, list(entrymod.queries())
    )
    with open(OUT, "w") as f:
        json.dump(report, f, indent=2)
    assert not bad, (
        f"{len(bad)} queries failed the sf0.01 oracle sweep: "
        f"{[(n, report[n].get('err') or report[n].get('detail')) for n in bad]}"
    )
