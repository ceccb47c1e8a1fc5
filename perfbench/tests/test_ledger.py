"""The ledger keys on job groups and reads them without running a job.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))

from ledger import Ledger, busy_seconds  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from dragnet_spark.session import get_spark

    return get_spark(app_name="perfbench_tests", master="local[2]",
                     shuffle_partitions=2)


def _jobs_so_far(spark) -> int:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return jsc.statusStore().jobsList(None).size()


def test_reading_the_ledger_runs_no_job(spark):
    ledger = Ledger(spark)
    with ledger.scope("agg") as group:
        spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    before = _jobs_so_far(spark)
    reads = [ledger.read(group) for _ in range(3)]
    assert _jobs_so_far(spark) == before
    assert reads[0] == reads[1] == reads[2]
    c = reads[0]
    assert c["jobs"] >= 1 and c["stages"] >= 2 and c["tasks"] >= 2
    assert c["shuffle_write_bytes"] > 0 and c["shuffle_read_bytes"] > 0
    assert c["executor_run_s"] > 0 and len(c["intervals"]) == c["jobs"]


def test_counters_belong_to_their_group_only(spark):
    ledger = Ledger(spark)
    with ledger.scope("one") as one:
        spark.range(100).collect()
    spark.range(100).collect()  # outside every group
    with ledger.scope("two") as two:
        spark.range(100).collect()
        spark.range(100).collect()
    assert ledger.read(two)["jobs"] == 2 * ledger.read(one)["jobs"] > 0


def test_busy_seconds_is_the_union_of_intervals():
    assert busy_seconds([(0, 1000), (500, 1500), (3000, 3500), (3100, 3200)]) == 2.0
    assert busy_seconds([]) == 0.0
