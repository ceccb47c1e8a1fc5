"""Datasource resolution: config → (DataFrame, resolver, weight column).

The reference's datasource backends (lib/datasource-file.js,
lib/datasource-manta.js) differ only in listing/transport; the scan
semantics are identical. Here every backend is "paths Spark can read",
and the differences collapse into:

* which reader (text→variant for raw NDJSON, schema'd JSON for
  skinner points, parquet/ORC for columnar, header'd CSV), and
* time-partition pruning of the path list when the datasource has a
  ``time_format`` and the query has bounds (reference S5,
  lib/path-enum.js — at 100 TB this prunes the listing itself, so
  out-of-range files are never even stat'd).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from dragnet_spark.config import DatasourceConfig
from dragnet_spark.query import QueryConfig
from dragnet_spark.scan import SchemaResolver, VariantResolver
from dragnet_spark.sources.ndjson import parse_ndjson, read_skinner
from dragnet_spark.sources.pathenum import prune_paths


def hadoop_exists(spark: SparkSession):
    """Existence predicate over Spark's Hadoop filesystems — works for
    any scheme the cluster can read (s3a://, hdfs://, file:), unlike a
    driver-local os.path.exists."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def _exists(path: str) -> bool:
        p = jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(conf).exists(p)

    return _exists


def resolve_paths(
    ds: DatasourceConfig, query: QueryConfig, spark: SparkSession | None = None
) -> list[str]:
    """The concrete path list for a scan, time-pruned when possible.
    With ``spark`` given, URI roots are pruned through the Hadoop
    filesystem; without it they are enumerated unpruned (a driver-local
    stat on s3://... is always False and would silently empty the scan).
    """
    if ds.time_format and query.time_after is not None:
        exists = (
            hadoop_exists(spark) if spark is not None and "://" in ds.path else None
        )
        pruned = prune_paths(
            ds.path, ds.time_format, query.time_after, query.time_before,
            exists=exists,
        )
        if pruned:
            return pruned
        return []
    return [ds.path]


def list_files(paths: list[str]) -> list[str]:
    """Recursive file listing (reference FindStream, lib/fs-find.js) —
    used by --dry-run to show what a scan would read."""
    out: list[str] = []
    for p in paths:
        if os.path.isfile(p):
            out.append(p)
        else:
            for root, _dirs, files in os.walk(p):
                for f in sorted(files):
                    out.append(os.path.join(root, f))
    return sorted(out)


def load_datasource(
    spark: SparkSession,
    ds: DatasourceConfig,
    query: QueryConfig,
    observations: dict | None = None,
):
    """Return (df, resolver, value_col) ready for ``scan()``.

    Returns (None, None, None) when time pruning eliminates every path
    (the scan is provably empty without touching storage).

    Pass a dict as ``observations`` to get per-stage counters
    piggybacked on the same single pass (the reference's vstream
    counters, --counters): it is filled with pyspark Observation
    objects keyed by stage name; read them after an action runs.
    """
    paths = resolve_paths(ds, query, spark)
    if not paths:
        return None, None, None

    if ds.data_format == "parquet" or ds.backend == "parquet":
        df = spark.read.parquet(*paths)
        return df, SchemaResolver(df), None

    if ds.data_format == "orc":
        # columnar sibling to parquet: schema rides the file, filters
        # and column pruning push down the same way (Spark-native ORC
        # reader; no extra package)
        df = spark.read.option("recursiveFileLookup", "true").orc(*paths)
        return df, SchemaResolver(df), None

    if ds.data_format == "json-skinner":
        df = read_skinner(spark, paths, schema=ds.schema)
        return df, SchemaResolver(df), "value"

    if ds.data_format == "csv":
        # header row names the fields; with no declared schema one
        # inference pass types them (cluster note: supply ds.schema to
        # skip that extra read over large trees)
        reader = (
            spark.read.option("header", "true")
            .option("recursiveFileLookup", "true")
        )
        if ds.schema:
            reader = reader.schema(ds.schema)
        else:
            reader = reader.option("inferSchema", "true")
        df = reader.csv(paths)
        return df, SchemaResolver(df), None

    # raw NDJSON: one-pass text → variant parse; corrupt lines dropped
    # (counted by the observations, --counters / --warnings)
    txt = spark.read.option("recursiveFileLookup", "true").text(paths)
    return parse_ndjson(txt, observations), VariantResolver(), None
