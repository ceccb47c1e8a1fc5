#!/usr/bin/env python
"""Time individual registry queries with the noop sink (guide §1.4) —
the fast inner loop for optimization work. Unlike bench.py this warms
once, labels each job, runs each query `--runs` times (default 3) and
prints min/median per query. Results are NOT recorded in history.

Usage: python tools/time_queries.py q1 q2 ...  [--runs N]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from dragnet_spark.session import get_spark, session_cpus  # noqa: E402
from dragnet_spark import registry  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    spark = get_spark(app_name="time_queries")
    spark.range(1).count()
    from pyspark.sql.functions import col, pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    cpus = session_cpus()
    spark.range(1024).repartition(cpus).select(_warm(col("id"))).count()

    for name in args:
        e = registry.REGISTRY.get(name)
        if e is None:
            print(f"{name}: UNKNOWN")
            continue
        ts = []
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"{name} run{r}")
            t0 = time.perf_counter()
            df = e.spark(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        ts_s = sorted(ts)
        print(
            f"{name}: min={ts_s[0]:.3f} med={ts_s[len(ts_s)//2]:.3f} "
            f"all={[round(t,3) for t in ts]}"
        )


if __name__ == "__main__":
    main()
