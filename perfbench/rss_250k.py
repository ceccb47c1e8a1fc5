"""Peak RSS of one count-only ``dn scan`` over 250k records, in a fresh
process: the reference publishes <= 90,000 KB for this scan
(BASELINE.md, ``tst.scan_250k.sh``). Context for the traced run, not a
gate.

    python3 perfbench/rss_250k.py SEED

Prints one JSON object: the driver JVM's and this process's VmHWM in
KB, and whether the count was right.
"""

from __future__ import annotations

import io
import json
import os
import sys

import run
import workloads as W

RECORDS = 250_000


def main() -> int:
    seed = int(sys.argv[1])
    work = os.path.join(run.ROOT, ".perfbench")
    run._environment(work, len(os.sched_getaffinity(0)))
    # a pre-touched heap would read as RSS; this probe compares with the
    # reference, so the JVM grows its heap as it would for a user
    del os.environ["PYSPARK_SUBMIT_ARGS"]
    sys.path.insert(1, run.ROOT)
    from dragnet_spark import cli
    from dragnet_spark.session import get_spark

    tree, tallies = W.cached_events(work, seed, RECORDS)
    cfg = os.path.join(work, "rss_250k_catalog.json")
    if os.path.exists(cfg):
        os.remove(cfg)
    spark = get_spark(app_name="dn")
    try:
        out = io.StringIO()
        rc = cli.main(["datasource-add", W.DS, "--path", tree], out=out,
                      config_path=cfg)
        rc = rc or cli.main(["scan", "--points", W.DS], out=out, config_path=cfg)
        count = json.loads(out.getvalue().splitlines()[-1])["value"]
        jvm_kb = run._vm_hwm_mb(spark.sparkContext._gateway.proc.pid) * 1024
    finally:
        run.stop_session(spark)
    print(json.dumps({"jvm_kb": round(jvm_kb), "python_kb": round(run._vm_hwm_mb("self") * 1024),
                      "correct": rc == 0 and count == tallies.valid}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
