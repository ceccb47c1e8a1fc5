"""Index query: route a QueryConfig to a materialized view and roll up.

The reference's most interesting planner is findMetric
(lib/index-query.js:154-263): pick the first metric whose
pre-aggregated table can serve a query. The rules are deliberately
conservative ("we may reject queries here that we could actually
serve", lib/index-query.js:178-188) and are preserved here:

1. metric has a filter → the query must carry a structurally identical
   filter (canonical-JSON equality), which is then *dropped* from the
   rollup (it's already baked into the view);
2. metric has no filter but the query does → every field the query
   filter references must be a column of the view;
3. time bounds require the metric to have a date breakdown;
4. every query breakdown must match a metric breakdown by name with
   compatible bucketization;
5. first match wins; no match → NoMetricError.

The rollup itself is one groupBy().sum(value) over the partitioned
parquet view. A time-bounded query reads only the bucket directories
its bounds keep, picked by name from one driver-side listing, as the
reference's filename-pattern path enumerator picks interval files
(lib/path-enum.js); the per-file SQLite SUM + merge re-aggregation
(A6/A7, lib/datasource-file.js:609-618) collapses into the single
distributed aggregate.

The view is read with the schema its metric definition fixes
(build.view_schema), as the reference opens each interval's table
with the layout its metric definition fixes
(lib/datasource-file.js:573-618): no job reads a parquet footer and
no pass types the bucket directories, so a query is the rollup's
jobs alone, and an empty view answers as empty input does.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dragnet_spark.fieldspec import Breakdown
from dragnet_spark.index.build import (
    BUCKET_COL,
    INDEX_META_FILE,
    Metric,
    view_schema,
)
from dragnet_spark.krill import compile_predicate, predicate_fields
from dragnet_spark.query import QueryConfig
from dragnet_spark.scan import VALUE_COL


class NoMetricError(LookupError):
    """No materialized view can serve this query
    (reference: 'no metrics available to serve query')."""


def _canonical(pred: Any) -> str:
    return json.dumps(pred, sort_keys=True, separators=(",", ":"))


def load_index_meta(index_path: str) -> dict:
    with open(os.path.join(index_path, INDEX_META_FILE)) as f:
        return json.load(f)


def _breakdown_compatible(qb: Breakdown, mb: Breakdown) -> bool:
    """Can a query breakdown be answered by a metric column?

    Names must match; a bucketized query breakdown needs the same
    bucketization in the view (a quantized column can't be
    un-bucketized); an un-bucketized query breakdown needs an
    un-bucketized column. Date breakdowns match date columns whose
    step divides... kept strict: equal aggr/step (the reference
    compares breakdown identity, lib/index-query.js:234-250).
    """
    return (
        qb.name == mb.name
        and qb.aggr == mb.aggr
        and (qb.step or None) == (mb.step or None)
        and qb.date == mb.date
    )


def find_metric(query: QueryConfig, metrics: list[Metric]) -> tuple[Metric, bool]:
    """Return (metric, ignore_filter). First match wins."""
    reasons: list[str] = []
    for m in metrics:
        ignore_filter = False
        mcols = {b.name: b for b in m.breakdowns}
        if m.filter is not None:
            if query.filter is None or _canonical(query.filter) != _canonical(m.filter):
                reasons.append(f"{m.name}: filter mismatch")
                continue
            ignore_filter = True
        elif query.filter is not None:
            missing = [f for f in predicate_fields(query.filter) if f not in mcols]
            if missing:
                reasons.append(f"{m.name}: filter fields not indexed: {missing}")
                continue
        if query.time_after is not None and not any(b.date for b in m.breakdowns):
            reasons.append(f"{m.name}: no date breakdown for time bounds")
            continue
        unmatched = [
            qb.name
            for qb in query.breakdowns
            if qb.name not in mcols or not _breakdown_compatible(qb, mcols[qb.name])
        ]
        if unmatched:
            reasons.append(f"{m.name}: breakdowns not served: {unmatched}")
            continue
        return m, ignore_filter
    raise NoMetricError(
        "no metrics available to serve query: " + "; ".join(reasons)
    )


def _bucket_bounds(epoch: int, interval: str) -> str:
    dt = datetime.fromtimestamp(epoch, tz=timezone.utc)
    return dt.strftime("%Y-%m-%d" if interval == "day" else "%Y-%m-%dT%H")


def _bucket_dirs(
    spark: SparkSession, path: str, lo: str, hi: str
) -> list[str]:
    """The bucket directories of the view at ``path`` whose bucket
    lies in [lo, hi], from one driver-side listing of the view
    directory. Handing the file index only these keeps a bounded query
    of a many-bucket view (672 hourly buckets in 28 days) from a Spark
    listing job: the file index lists its paths on the driver up to
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    paths, and with a job past that."""
    hadoop = spark._jvm.org.apache.hadoop.fs
    hpath = hadoop.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    paths = hadoop.FileUtil.stat2Paths(fs.listStatus(hpath))
    names = [p.getName() for p in paths]
    prefix = BUCKET_COL + "="
    return [
        os.path.join(path, n) for n in names
        if n.startswith(prefix) and lo <= n[len(prefix):] <= hi
    ]


def query_index(
    spark: SparkSession,
    index_path: str,
    query: QueryConfig,
    meta: dict | None = None,
) -> DataFrame:
    """Answer a QueryConfig from the cheapest covering view.

    Time bounds are interpreted at the index's bucket granularity, as
    in the reference: the bound compares against each row's bucket
    minimum, so an ``after`` falling mid-bucket excludes that whole
    partial bucket (the index has no finer data to answer with). Use
    ``dn scan`` when bounds must be record-exact.

    The view is read with :func:`~dragnet_spark.index.build.view_schema`
    of the routed metric, never an inferred schema: no footer read, no
    partition-value typing (the bucket column is the string its
    directory names), and an empty view is zero rows, so a count
    answers 0 and a grouped query no rows, as ``dn scan`` does.
    """
    meta = meta or load_index_meta(index_path)
    if not str(meta.get("version", "")).startswith("2."):
        raise ValueError(f"unsupported index version: {meta.get('version')}")
    metrics = [Metric.from_json(m) for m in meta["metrics"]]
    metric, ignore_filter = find_metric(query, metrics)
    interval = meta.get("interval", "day")

    schema = view_schema(metric, interval)
    path = os.path.join(index_path, metric.name)
    if query.time_after is not None and interval != "all":
        # partition pruning: bucket-name string bounds match the
        # directory layout, so only intervals overlapping [after,
        # before) are listed and read
        lo = _bucket_bounds(query.time_after, interval)
        hi = _bucket_bounds(query.time_before, interval)
        kept = _bucket_dirs(spark, path, lo, hi)
        if kept:
            df = (spark.read.schema(schema).option("basePath", path)
                  .parquet(*kept))
        else:
            df = spark.createDataFrame([], schema)
        df = df.filter((F.col(BUCKET_COL) >= lo) & (F.col(BUCKET_COL) <= hi))
    else:
        df = spark.read.schema(schema).parquet(path)

    # view columns are breakdown NAMES, which may contain dots
    # (req.caller) — quote them so Spark doesn't parse struct access
    def vcol(name: str):
        return F.col("`%s`" % name)

    if query.filter is not None and not ignore_filter:
        df = df.filter(compile_predicate(query.filter, vcol))

    # record-level time bounds on the date breakdown column (the bucket
    # prune above is directory-granular, this is exact)
    if query.time_after is not None:
        date_col = next(b.name for b in metric.breakdowns if b.date)
        ts = vcol(date_col)
        df = df.filter((ts >= query.time_after) & (ts < query.time_before))

    if not query.breakdowns:
        return df.agg(
            F.coalesce(F.sum(VALUE_COL), F.lit(0)).cast("long").alias(VALUE_COL)
        )
    return df.groupBy(
        *[vcol(b.name).alias(b.name) for b in query.breakdowns]
    ).agg(F.sum(VALUE_COL).cast("long").alias(VALUE_COL))
