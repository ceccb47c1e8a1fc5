"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[N]``; production is a multi-executor
cluster. Every knob here is chosen so the same code is correct in
both: AQE for runtime re-planning (skew joins, partition coalescing),
UTC session timezone (matches the DuckDB oracle and avoids
executor-local TZ drift), ANSI mode (overflow raises instead of
wrapping), Arrow for the Pandas-UDF slow path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dragnet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master``/``shuffle_partitions`` default from the environment
    (``SPARK_GRAFT_CPUS``) so tests, bench.py, and the driver all agree.
    On a real cluster, pass ``master=None`` with spark-submit supplying
    the master URL, and size ``shuffle_partitions`` ~2-3x total cores.
    """
    # Pandas-UDF closures reference this package by module name; make
    # sure executor Python workers can import it no matter where the
    # driver process was launched from (cluster equivalent: ship the
    # package with --py-files / a venv archive).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # overflow is an error, never a silent wrap: the engine's exact
        # long/decimal sums rely on it, so pin it instead of inheriting
        # the session default
        .config("spark.sql.ansi.enabled", "true")
        # the driver's events.parquet carries TIMESTAMP(NANOS); read as
        # long nanos and convert in sources/tables.py
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # at 100 TB the default 128 MiB split is fine; keep it explicit
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("DRAGNET_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
