"""Index build: materialize pre-aggregated, time-partitioned views.

The reference's ``dn build`` (lib/dragnet.js:330-395,
lib/datasource-file.js:307-433) scans raw data once and writes one
SQLite file per time interval, each holding one table per metric
(lib/index-sink.js:121-163), with hand-built fan-out/multiplex/barrier
plumbing. Here every metric shares one fan-out aggregate, and each
metric's view is one write of its slice:

    agg = fanout_aggregate(raw, metrics)    # one read, one groupBy
            .repartition(__k[0]).persist()  # one exchange by bucket
    for each metric, concurrently:
        select_metric(agg, i).sortWithinPartitions(bucket, ...)
            .write.partitionBy(bucket).parquet(index_path/metric)

Spark's partitioned-parquet layout replaces the reference's
one-SQLite-per-interval multiplexing (S9/S10) — and gives the query
path automatic partition pruning, which the reference implements by
hand with a filename-pattern enumerator (S5, lib/path-enum.js).

Scale notes: the groupBy does map-side partial aggregation so its
shuffle carries unique tuples, not raw rows. The one bucket exchange
clusters every metric's rows by bucket (the bucket is the first key of
every metric), so each view write is a shuffle-free job of many tasks
that still writes one file per bucket (small-file protection at
thousands of buckets); the writes run concurrently from a driver
thread pool, so N metrics cost one write phase, not N serial ones.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor, as_completed
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dragnet_spark.fieldspec import Breakdown, parse_breakdowns
from dragnet_spark.index.lease import hold_lease
from dragnet_spark.krill import compile_predicate, validate_predicate
from dragnet_spark.query import QueryConfig
from dragnet_spark.scan import (
    VALUE_COL,
    ColumnOverlayResolver,
    SchemaResolver,
    breakdown_column,
    in_time_bounds,
    scan,
    synthetic_date_column,
)

INDEX_META_FILE = "_dragnet_index.json"
INDEX_VERSION = "2.0.0"  # tracks the reference's dragnet_config version
BUCKET_COL = "__dn_bucket"

_INTERVAL_SECONDS = {"hour": 3600, "day": 86400}


@dataclass(frozen=True)
class Metric:
    """A materialized-view definition (reference config 'metric',
    lib/config-common.js:27-108)."""

    name: str
    breakdowns: tuple[Breakdown, ...]
    filter: Any = None

    @staticmethod
    def load(name: str, breakdowns: str | list, filter: Any = None) -> "Metric":
        validate_predicate(filter)
        return Metric(
            name=name,
            breakdowns=tuple(parse_breakdowns(breakdowns)),
            filter=filter if filter else None,
        )

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "filter": self.filter,
            "breakdowns": [
                {"name": b.name, **b.attrs} for b in self.breakdowns
            ],
        }

    @staticmethod
    def from_json(obj: dict) -> "Metric":
        return Metric.load(
            obj["name"], [dict(b) for b in obj["breakdowns"]], obj.get("filter")
        )


def bucket_column(time_src, interval: str, dtype=None):
    """Partition key for an interval: day → 'YYYY-MM-DD', hour →
    'YYYY-MM-DDTHH' (mirrors the reference's by_day/by_hour file names,
    lib/dragnet-impl.js:194-236). ``time_src`` is a column name or the
    Column carrying the raw time value; ``dtype`` is its schema type
    when known (see scan.synthetic_date_column)."""
    if isinstance(time_src, str):
        time_src = F.col(time_src)
    secs = synthetic_date_column(time_src, dtype)
    ts = F.timestamp_seconds(secs)
    fmt = "yyyy-MM-dd" if interval == "day" else "yyyy-MM-dd'T'HH"
    return F.date_format(ts, fmt)


def fanout_aggregate(src, per_metric, resolver) -> DataFrame:
    """One-pass multiplexed aggregation (the reference's S10 fan-out,
    lib/dragnet.js:330-395): every row emits one (metric_id,
    key-tuple) record per metric whose filter matches — each metric's
    krill filter and scan()'s drop+warn validity (unparseable dates,
    non-numeric bucketized values) folded into its branch condition —
    so N metrics cost ONE read of the raw data and ONE shuffle, not N
    of each. Keys ride as array<string>; :func:`select_metric`
    restores each metric's typed columns from the (small) aggregate.

    ``per_metric``: list of (krill_filter_or_None, breakdown-tuple).
    Returns a DataFrame (__m int, __k array<string>, value long).
    """
    # each distinct breakdown expression is computed ONCE into a named
    # projection; branches reference the name from both the null guard
    # and the key array. Inlining the expression at every use (the
    # previous shape) doubled per-breakdown codegen and re-evaluated
    # shared breakdowns per metric on wide metric sets.
    uniq: dict[tuple, object] = {}
    for _flt, bds in per_metric:
        for b in bds:
            uniq.setdefault((b.name, b.field, b.date, b.aggr, b.step), b)
    names = {k: f"__dn_bc{j}" for j, k in enumerate(uniq)}
    proj = src.select(
        "*",
        *[
            breakdown_column(resolver, b).alias(names[k])
            for k, b in uniq.items()
        ],
    )

    def bc(b):
        return F.col(names[(b.name, b.field, b.date, b.aggr, b.step)])

    branches = []
    for i, (flt, bds) in enumerate(per_metric):
        cond = F.lit(True)
        if flt:
            cond = compile_predicate(flt, resolver.raw)
        for b in bds:
            # date and bucketized breakdowns both carry scan()'s
            # drop+warn guard (unparseable date / non-numeric value)
            if b.date or b.bucketized:
                cond = cond & bc(b).isNotNull()
        keys = F.array(*[bc(b).cast("string") for b in bds])
        branches.append(
            F.when(cond, F.struct(F.lit(i).alias("m"), keys.alias("k")))
        )
    fan = proj.select(
        F.explode(
            F.filter(F.array(*branches), lambda x: x.isNotNull())
        ).alias("f")
    )
    return (
        fan.groupBy(F.col("f.m").alias("__m"), F.col("f.k").alias("__k"))
        .agg(F.sum(F.lit(1)).cast("long").alias(VALUE_COL))
    )


def _key_type(b: Breakdown) -> DataType:
    """A view key column's type: long for a bucketized or date
    breakdown, string for any other (the bucket column included)."""
    return LongType() if (b.bucketized or b.date) else StringType()


def select_metric(agg: DataFrame, i: int, bds) -> DataFrame:
    """Project metric ``i``'s typed result out of a fanout_aggregate:
    key strings cast back to each key's :func:`_key_type`."""
    cols = [
        F.col("__k")[j].cast(_key_type(b)).alias(b.name)
        for j, b in enumerate(bds)
    ]
    return agg.filter(F.col("__m") == i).select(*cols, F.col(VALUE_COL))


def metric_keys(m: Metric, interval: str) -> tuple[Breakdown, ...]:
    """A metric's aggregation keys in a view: the bucket column first
    (unless ``interval`` is "all"), then the metric's breakdowns."""
    if interval == "all":
        return m.breakdowns
    return (Breakdown(BUCKET_COL, BUCKET_COL),) + m.breakdowns


def view_schema(m: Metric, interval: str) -> StructType:
    """The schema of ``m``'s view as a read returns it: each breakdown
    typed by :func:`_key_type`, then ``value``, then the bucket
    partition column unless ``interval`` is "all". Reading with it
    skips the footer read and the partition-value typing an inferring
    read runs, and an empty view reads as zero rows. Field names are
    literal, so dotted names (req.caller) need no quoting."""
    fields = [StructField(b.name, _key_type(b)) for b in m.breakdowns]
    fields.append(StructField(VALUE_COL, LongType()))
    if interval != "all":
        fields.append(StructField(BUCKET_COL, StringType()))
    return StructType(fields)


@contextmanager
def clustered(agg: DataFrame | None, interval: str):
    """Persist a fan-out aggregate (``__m``, ``__k``, ``value``) for
    the block, clustered by bucket unless ``interval`` is "all": one
    exchange on ``__k[0]``, the first key of every metric at a day or
    hour interval, puts all of a bucket's rows of every metric in one
    partition, which :func:`write_view` requires. Yields the persisted
    frame (None passes through) and unpersists it on exit."""
    if agg is None:
        yield None
        return
    if interval != "all":
        agg = agg.repartition(F.col("__k")[0])
    agg = agg.persist()
    try:
        yield agg
    finally:
        agg.unpersist()


@contextmanager
def aggregate_metrics(
    df: DataFrame,
    metrics: list[Metric],
    interval: str = "day",
    time_field: str | None = None,
    datasource_filter: Any = None,
    resolver=None,
    time_after: int | None = None,
    time_before: int | None = None,
):
    """Yield ``(agg, views)``: ``views`` holds ``(metric, keys,
    result)`` for each metric, in order — the aggregate ``dn build``
    writes and ``dn index-scan`` emits as points. ``keys`` is
    :func:`metric_keys`; ``result`` has one column per key plus
    ``value``. ``agg`` is the persisted fan-out aggregate the results
    read (None when no metric has keys); it stays persisted, clustered
    by bucket (:func:`clustered`), until the block exits.

    The raw records pass the datasource filter and, with
    ``time_after``/``time_before`` (epoch seconds, [after, before)),
    the record-level time bounds: path pruning alone can admit
    records of neighbouring intervals from overlapping files. Each
    record gets its interval's bucket column (unparseable dates
    dropped); ``resolver`` carries the field access of the raw data
    (VariantResolver for NDJSON) and the bucket column shadows it via
    ColumnOverlayResolver.

    One-pass multiplexed aggregation (the reference's S10 fan-out,
    lib/dragnet.js:330-395): every metric whose filter matches a row
    emits one (metric_id, key-tuple) record, so N metrics cost ONE
    read of the raw data and ONE shuffle — not N of each. At 100 TB
    the N× raw re-read is the difference between a nightly build
    fitting its window and not. The aggregate is small (unique
    tuples). Only the zero-group total shape (interval "all", no
    breakdowns) is a plain scan, since its empty-input answer — one 0
    row — is not a group-by's.
    """
    if interval not in ("hour", "day", "all"):
        raise ValueError(f"invalid interval: {interval}")
    if interval != "all" and not time_field:
        raise ValueError("hour/day intervals require a time_field")

    base = resolver or SchemaResolver(df)
    src = df
    if datasource_filter:
        src = src.filter(compile_predicate(datasource_filter, base.raw))
    if time_after is not None and time_field:
        src = src.filter(
            in_time_bounds(base.date_seconds(time_field), time_after, time_before)
        )
    scan_resolver = base
    if interval != "all":
        src = src.withColumn(
            BUCKET_COL,
            bucket_column(
                base.raw(time_field), interval, base.dtype(time_field)
            ),
        ).filter(F.col(BUCKET_COL).isNotNull())  # drop+warn semantics (P2)
        scan_resolver = ColumnOverlayResolver(base, [BUCKET_COL])

    keyed = [(m, metric_keys(m, interval)) for m in metrics]
    fanned = [(m.filter, keys) for m, keys in keyed if keys]
    fan = fanout_aggregate(src, fanned, scan_resolver) if fanned else None
    with clustered(fan, interval) as agg:
        views, i = [], 0
        for m, keys in keyed:
            if keys:
                views.append((m, keys, select_metric(agg, i, keys)))
                i += 1
            else:
                total = QueryConfig(filter=m.filter)
                res = scan(src, total, resolver=scan_resolver)
                views.append((m, keys, res))
        yield agg, views


def write_view(
    out: DataFrame, index_path: str, m: Metric, interval: str,
    mode: str = "overwrite",
) -> None:
    """Write one metric's aggregate under ``index_path/<metric>``.

    At a day or hour interval ``out`` must be clustered by bucket
    (every row of a bucket in one partition, as :func:`clustered`
    leaves it): the write then needs no shuffle, runs one task per
    partition, and still writes one file per bucket. Partitioned by
    bucket; an overwrite is *dynamic*, so it replaces only the buckets
    ``out`` holds and every other interval's data survives (bounded
    rebuilds). Within each file, rows are clustered by the leading
    breakdowns: sorted runs dictionary/RLE-encode tighter AND give
    each parquet row group disjoint min/max stats, so a query-path
    filter on a breakdown (krill → pushed predicate) skips whole row
    groups at 100 TB instead of decoding them. The sort is
    per-partition (sortWithinPartitions, not orderBy). At interval
    "all" the view is one file.
    """
    path = os.path.join(index_path, m.name)
    # breakdown names may contain dots (req.caller): backtick-quote
    # so the sort resolves the literal column, not a struct path
    sort_cols = [F.col(f"`{b.name}`") for b in m.breakdowns]
    if interval != "all":
        (
            out.sortWithinPartitions(F.col(BUCKET_COL), *sort_cols)
            .write.mode(mode)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(path)
        )
    else:
        sorted_out = (
            out.coalesce(1).sortWithinPartitions(*sort_cols)
            if m.breakdowns
            else out.coalesce(1)
        )
        sorted_out.write.mode(mode).parquet(path)


def write_views(
    spark: SparkSession,
    agg: DataFrame | None,
    views: list,
    index_path: str,
    interval: str,
    mode: str = "overwrite",
) -> None:
    """Write every ``(metric, keys, result)`` of ``views`` with
    :func:`write_view`, concurrently. ``agg`` is the persisted
    aggregate the results read (see :func:`clustered`); one no-op
    write materializes it first (the cheapest action: no exchange and
    no result rows), so the raw data is read once and no write
    recomputes it. The writes then run from a driver pool of at most
    min(#views, defaultParallelism) threads; each thread carries the
    caller's job group, local properties and session tags, so the
    writes' jobs are attributed and cancelled with the caller's. The
    first failure is re-raised once every started write has ended;
    writes not yet started are dropped. The caller unpersists ``agg``
    after this returns."""
    if not views:
        return
    if agg is not None:
        agg.write.format("noop").mode("overwrite").save()
    workers = min(len(views), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=workers) as pool:
        # one wrapper per write: each copies the caller's local
        # properties, and the writes must not share one Properties
        # object (each SQL execution sets its id in it)
        futures = [
            pool.submit(inheritable_thread_target(spark)(write_view),
                        out, index_path, m, interval, mode)
            for m, _keys, out in views
        ]
        try:
            for f in as_completed(futures):
                f.result()
        except BaseException:
            for f in futures:
                f.cancel()
            raise


def write_index_meta(
    index_path: str,
    metrics: list[Metric],
    interval: str,
    time_field: str | None,
    datasource_filter: Any = None,
) -> None:
    """The index definition the query path routes by
    (``_dragnet_index.json``)."""
    meta = {
        "version": INDEX_VERSION,
        "interval": interval,
        "time_field": time_field,
        "datasource_filter": datasource_filter,
        "metrics": [m.to_json() for m in metrics],
    }
    os.makedirs(index_path, exist_ok=True)
    with open(os.path.join(index_path, INDEX_META_FILE), "w") as f:
        json.dump(meta, f, indent=2)


def build_index(
    spark: SparkSession,
    df: DataFrame,
    metrics: list[Metric],
    index_path: str,
    interval: str = "day",
    time_field: str | None = None,
    datasource_filter: Any = None,
    mode: str = "overwrite",
    resolver=None,
    time_after: int | None = None,
    time_before: int | None = None,
) -> None:
    """Materialize every metric as a partitioned parquet view: one
    :func:`aggregate_metrics` pass, every view written concurrently by
    :func:`write_views`, then the index definition. The aggregate
    stays persisted until every write has ended.

    ``time_after``/``time_before`` bound the build to a time slice —
    the incremental-rebuild path: only the buckets the slice touches
    are replaced (dynamic partition overwrite). Rebuilding one
    late-data day at 100 TB costs one day of input, not the full
    history.
    """
    with aggregate_metrics(
        df, metrics, interval, time_field, datasource_filter, resolver,
        time_after, time_before,
    ) as (agg, views):
        write_views(spark, agg, views, index_path, interval, mode)
    write_index_meta(index_path, metrics, interval, time_field, datasource_filter)


def compact_index(
    spark: SparkSession,
    index_path: str,
    wait_s: float | None = None,
) -> None:
    """Compact a view tree that accumulated appended partial aggregates
    (the continuous-build path): re-aggregate each metric's rows to one
    row per group and rewrite, bucket partition by bucket partition.

    Correctness rests on the weighted-count closure — the query path
    re-aggregates anyway, so compaction changes row counts, never
    answers. The rewrite uses dynamic partition overwrite computed from
    a staged aggregate (never read-and-overwrite the same files in one
    job), and per-bucket output stays one file. At scale this is the
    periodic maintenance job that keeps a streaming view's file count
    and query-side merge work bounded.

    Writer concurrency is enforced by the store lease (lease.py): a
    continuous build's micro-batch append and this job serialize, so
    rows can no longer land between the snapshot read and a bucket's
    overwrite and be silently replaced by the stale aggregate. A
    late-comer waits its turn or fails loudly (LeaseHeldError).

    Staging lives beside the view (``<metric>.compact_tmp``), so it is
    on the same filesystem as the index (works on shared storage) and
    is removed afterwards.
    """
    from dragnet_spark.index.query import load_index_meta

    meta = load_index_meta(index_path)
    interval = meta.get("interval", "day")
    with hold_lease(index_path, "compact-index", wait_s=wait_s):
        _compact_index_locked(spark, index_path, meta, interval)


def _compact_index_locked(spark, index_path, meta, interval):
    import shutil

    from dragnet_spark.index.lease import ensure_lease

    for m in (Metric.from_json(j) for j in meta["metrics"]):
        ensure_lease(index_path)  # stolen-lease check (lease.py)
        path = os.path.join(index_path, m.name)
        schema = view_schema(m, interval)
        df = spark.read.schema(schema).parquet(path)
        group_cols = [F.col(f"`{c}`") for c in df.columns if c != VALUE_COL]
        compacted = df.groupBy(*group_cols).agg(
            F.sum(VALUE_COL).cast("long").alias(VALUE_COL)
        )
        # stage first: Spark cannot overwrite the parquet tree it is
        # currently reading; the rewrite keeps the build's layout
        stage = path + ".compact_tmp"
        try:
            compacted.write.mode("overwrite").parquet(stage)
            staged = spark.read.schema(schema).parquet(stage)
            if interval != "all":
                staged = staged.repartition(BUCKET_COL)  # write_view's input
            write_view(staged, index_path, m, interval)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
