"""Canonical testdata table loader.

The driver's synthetic tables (TESTDATA.md) are single parquet files.
``events.ts`` is TIMESTAMP_MICROS with isAdjustedToUTC=0, which Spark
reads as TIMESTAMP_NTZ; with the session timezone pinned UTC (here
and in session.py) its epoch values match DuckDB's ``epoch(ts)``.
Older data drops wrote TIMESTAMP(NANOS), which Spark's reader rejects
by default — ``nanosAsLong`` plus the bigint→timestamp conversion
below keeps those readable too.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_warned_tz_override = False

#: (path, st_mtime_ns, st_size) → the schema its first load read.
#: Reading a parquet path without a schema runs one footer-reading
#: Spark job, on every load; a rewritten table stamps a new key.
_schemas: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Sessions not built by dragnet_spark.session.get_spark (e.g. the
    # driver harness's own) may carry a machine-local timezone; every
    # NTZ→epoch conversion (synthetic_date_column, ts_micros) and the
    # DuckDB oracle comparison assume UTC, so pin it here — the one
    # chokepoint every query loads tables through. DELIBERATELY
    # permanent, not save/restore: conversions execute lazily, long
    # after this call returns, so a scoped pin cannot protect them.
    # UTC-everywhere is the engine's documented contract (session.py,
    # README). Warn once if the pin actually overrides a different
    # timezone a host application had set — the change is global for
    # the shared session, and silent retiming of the host's own
    # queries is the one surprise worth a message.
    global _warned_tz_override
    prev = spark.conf.get("spark.sql.session.timeZone", None)
    if prev not in (None, "UTC") and not _warned_tz_override:
        import warnings

        warnings.warn(
            f"dragnet_spark pins spark.sql.session.timeZone=UTC for the "
            f"whole session (was {prev!r}); NTZ→epoch conversions and "
            f"oracle comparisons require it",
            stacklevel=2,
        )
        _warned_tz_override = True
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # required for older data drops where ts was TIMESTAMP(NANOS)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = None  # a missing path: Spark's read raises its own error
    if os.path.exists(path):
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    if key in _schemas:
        df = spark.read.schema(_schemas[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        _schemas[key] = df.schema
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanosAsLong read the TIMESTAMP(NANOS) column as int64 nanos
        # integer division: double division loses integer precision past
        # 2^53 ns (~104 days), which can shift a microsecond
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    out = {}
    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            out[t] = load_table(spark, sf_dir, t)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table and register it as a temp view for spark.sql."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
