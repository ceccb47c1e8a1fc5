"""The scan operator: filter → breakdowns → weighted count.

This is the reference's whole execution pipeline (StreamScan,
lib/stream-scan.js:40-96: krill filter → synthetic date parse →
time-bounds filter → skinner hash aggregation) re-expressed as one
declarative DataFrame plan:

    df.filter(...).withColumn(dates...).filter(bounds)
      .groupBy(breakdowns).agg(sum(value))

Catalyst then gives us what the reference hand-builds: predicate
pushdown to the scan, column pruning (only referenced fields are
read), map-side partial aggregation before the shuffle (the
reference's two-phase Manta map/reduce, lib/datasource-manta.js:36-62),
and spill instead of the reference's documented OOM on high-cardinality
group-bys (README.md:666-698).

Group-key normalization preserved from the reference: NULL group
values become the string "null"; a missing field becomes "undefined"
(tests/dn/local/tst.scan_file.sh.out:136-147). Two field resolvers
supply the values:

* :class:`SchemaResolver` — typed DataFrames (parquet tables, schema'd
  JSON). Columnar storage conflates JSON null with absent, so
  "undefined" only appears when the field is absent from the schema.
* :class:`VariantResolver` — raw NDJSON parsed to a VariantType column
  (``parse_json``). Preserves the reference's *per-record* distinction:
  a key present with JSON null groups as "null", an absent key as
  "undefined" (lib/stream-synthetic + jsprim.pluck semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DateType,
    NumericType,
    TimestampNTZType,
    TimestampType,
)

from dragnet_spark.buckets import lquantize, quantize
from dragnet_spark.fieldspec import Breakdown
from dragnet_spark.krill import compile_predicate
from dragnet_spark.query import QueryConfig

VALUE_COL = "value"
VARIANT_COL = "__dn_v"


def _field_type(df: DataFrame, path: str) -> DataType | None:
    """The (possibly dotted/nested) field's DataType, or None if absent."""
    parts = path.split(".")
    fields = df.schema
    dt: DataType | None = None
    for i, part in enumerate(parts):
        names = {f.name: f for f in fields.fields} if hasattr(fields, "fields") else {}
        if part not in names:
            return None
        dt = names[part].dataType
        if i < len(parts) - 1:
            if not hasattr(dt, "fields"):
                return None
            fields = dt
    return dt


def _has_field(df: DataFrame, path: str) -> bool:
    """True if a (possibly dotted/nested) field exists in the schema."""
    return _field_type(df, path) is not None


class _DateSecondsMixin:
    """Shared recipe: raw value + schema dtype → floored unix seconds.

    This is the ONE place a time field becomes epoch seconds, so every
    consumer (scan bounds, date breakdowns, index bucketing, streaming
    windows) handles native timestamp columns identically."""

    def dtype(self, path: str) -> DataType | None:
        return None

    def date_seconds(self, path: str) -> Column:
        return synthetic_date_column(self.raw(path), self.dtype(path))


class SchemaResolver(_DateSecondsMixin):
    """Field access for typed DataFrames."""

    def __init__(self, df: DataFrame):
        self.df = df

    def dtype(self, path: str) -> DataType | None:
        return _field_type(self.df, path)

    def raw(self, path: str) -> Column:
        """The field's value; NULL when null-or-missing."""
        if not _has_field(self.df, path):
            return F.lit(None).cast("string")
        return F.col(path)

    def grouped(self, path: str) -> Column:
        """Group-key string with null→"null" / missing→"undefined"."""
        if not _has_field(self.df, path):
            return F.lit("undefined")
        return F.coalesce(F.col(path).cast("string"), F.lit("null"))


class VariantResolver(_DateSecondsMixin):
    """Field access over a VariantType column parsed from raw JSON.

    ``try_variant_get`` returns SQL NULL for an absent path but a
    *variant null* for a key explicitly set to JSON null — exactly the
    distinction the reference preserves and columnar schemas erase.
    """

    def __init__(self, vcol: str = VARIANT_COL):
        self.vcol = vcol

    def _get(self, path: str, typ: str) -> Column:
        return F.try_variant_get(F.col(self.vcol), f"$.{path}", typ)

    def raw(self, path: str) -> Column:
        return self._get(path, "string")

    def grouped(self, path: str) -> Column:
        v = self._get(path, "variant")
        return (
            F.when(F.isnull(v), F.lit("undefined"))
            .when(F.is_variant_null(v), F.lit("null"))
            .otherwise(self._get(path, "string"))
        )


class ColumnOverlayResolver(_DateSecondsMixin):
    """Delegating resolver where a set of real DataFrame columns (e.g.
    an injected bucket/partition column) shadows the inner resolver —
    used by the index build, where ``__dn_bucket`` is a computed column
    on top of variant-parsed raw data."""

    def __init__(self, inner, names):
        self.inner = inner
        self.names = set(names)

    def dtype(self, path: str) -> DataType | None:
        if path in self.names:
            return None
        return self.inner.dtype(path)

    def raw(self, path: str) -> Column:
        if path in self.names:
            return F.col(path)
        return self.inner.raw(path)

    def grouped(self, path: str) -> Column:
        if path in self.names:
            return F.coalesce(F.col(path).cast("string"), F.lit("null"))
        return self.inner.grouped(path)


def synthetic_date_column(col: Column, dtype: DataType | None = None) -> Column:
    """Parse a time value to floored unix epoch seconds.

    Reference semantics (lib/stream-synthetic.js:58-79): numbers pass
    through floored; strings go through Date.parse; failures yield NULL
    here — the caller drops those rows, matching the reference's
    drop+warn. Beyond the reference (which only ever sees JSON strings
    and numbers), a column that is *already* timestamp-typed — the
    natural shape in a parquet lakehouse — converts directly.

    ``dtype`` is the source column's schema type when known; branching
    on it at plan time keeps each case a single native expression
    (a timestamp never detours through a string render+reparse, and a
    numeric column never hits ``try_cast`` — which is an analysis-time
    error, not a NULL, for non-castable types like TIMESTAMP_NTZ).
    With the session timezone pinned UTC (session.py), TIMESTAMP_NTZ
    epochs match DuckDB's ``epoch(ts)``.
    """
    if isinstance(dtype, (TimestampType, TimestampNTZType, DateType)):
        return F.unix_timestamp(col)
    if isinstance(dtype, NumericType):
        return _floor_epoch(col.cast("double"))
    # string / variant-extracted / unknown: dual try-path. The leading
    # cast-to-string makes the expression total over any remaining type.
    s = col.cast("string")
    num = s.try_cast("double")
    return F.coalesce(
        _floor_epoch(num), F.unix_timestamp(F.try_to_timestamp(s))
    )


# int64-representable bound for a floored epoch; beyond it Spark's
# FLOOR clamps to Long.MaxValue while DuckDB's BIGINT cast raises —
# both wrong answers. NULL (row dropped as unparseable) on both sides
# instead. NaN/Inf fail the between() and drop the same way.
_EPOCH_BOUND = 9.2e18


def _floor_epoch(num: Column) -> Column:
    return F.when(
        num.between(-_EPOCH_BOUND, _EPOCH_BOUND), F.floor(num).cast("long")
    )


def breakdown_column(resolver, b: Breakdown) -> Column:
    """The group-by expression for one breakdown.

    Bucketized → long bucket minimum; date → unix seconds; plain →
    string with null→"null" / missing→"undefined" normalization.
    """
    if b.date:
        src = resolver.date_seconds(b.field)
        # a date breakdown may additionally bucketize (per-hour windows:
        # timestamp[date,field=time,aggr=lquantize,step=3600])
        if b.aggr == "quantize":
            return quantize(src)
        if b.aggr == "lquantize":
            return lquantize(src, b.step or 1)
        return src
    if b.aggr == "quantize":
        return quantize(resolver.raw(b.field))
    if b.aggr == "lquantize":
        return lquantize(resolver.raw(b.field), b.step or 1)
    return resolver.grouped(b.field)


def scan_prelude(
    df: DataFrame,
    query: QueryConfig,
    resolver,
    datasource_filter=None,
    observations: dict | None = None,
) -> DataFrame:
    """The record-level half of :func:`scan`: the datasource and query
    filters, the time bounds, and the drop of records whose date will
    not parse or whose bucketized value is not a number. Shared with
    the windowed streaming scan, which groups the same records on an
    event-time window instead.

    With ``observations`` (the --counters path) it adds a "datetime"
    Observation (ninputs/baddate/undef — reference "Datetime parser",
    lib/stream-synthetic.js counters) before the date-validity drop,
    and a "timefilter" Observation after the time bounds ("Time
    filter"). Zero extra jobs — Observations ride the scan's one
    action.
    """
    out = df

    # datasource filter first, right after parse (lib/datasource-file.js:154-166)
    if datasource_filter:
        out = out.filter(compile_predicate(datasource_filter, resolver.raw))
    if query.filter:
        out = out.filter(compile_predicate(query.filter, resolver.raw))

    has_bounds = query.time_after is not None and query.time_field is not None
    date_field = (
        query.time_field
        if has_bounds
        else (query.synthetic_dates[0].field if query.synthetic_dates else None)
    )
    if observations is not None and date_field is not None:
        raw = resolver.raw(date_field)
        secs = resolver.date_seconds(date_field)
        obs = Observation("datetime")
        observations["datetime"] = obs
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("ninputs"),
            F.sum(raw.isNull().cast("long")).alias("undef"),
            F.sum((raw.isNotNull() & secs.isNull()).cast("long")).alias(
                "baddate"
            ),
        )

    # synthetic date columns; unparseable/missing dates are dropped
    # with a warning in the reference (lib/stream-synthetic.js:48-77)
    if has_bounds:
        out = out.filter(
            in_time_bounds(
                resolver.date_seconds(query.time_field),
                query.time_after, query.time_before,
            )
        )
        if observations is not None:
            tobs = Observation("timefilter")
            observations["timefilter"] = tobs
            out = out.observe(tobs, F.count(F.lit(1)).alias("noutputs"))
    for b in query.synthetic_dates:
        out = out.filter(resolver.date_seconds(b.field).isNotNull())
    # a bucketized non-date breakdown on a non-numeric/missing value is
    # dropped with a warning in the reference ("value is not a number",
    # skinner bucketizer) — not grouped as a null bucket
    for b in query.breakdowns:
        if b.bucketized and not b.date:
            out = out.filter(breakdown_column(resolver, b).isNotNull())
    return out


def in_time_bounds(secs: Column, after: int, before: int) -> Column:
    """A record's epoch seconds lie in ``[after, before)``; an
    unparseable date (NULL) is out."""
    return secs.isNotNull() & (secs >= F.lit(after)) & (secs < F.lit(before))


def scan(
    df: DataFrame,
    query: QueryConfig,
    datasource_filter=None,
    value_col: str | None = None,
    resolver=None,
    observations: dict | None = None,
) -> DataFrame:
    """Run a QueryConfig against a DataFrame of raw events.

    Returns breakdown columns (named per the query) plus a ``value``
    long column. ``value_col`` names a pre-existing weight column
    (the skinner-point re-aggregation path, reference
    lib/format-json.js:55-73); raw scans weigh each record 1.

    Zero breakdowns → a single total row, 0 on empty input
    (tests/dn/local/tst.empty.sh.out); with breakdowns, empty input
    yields zero rows.

    ``observations``: see :func:`scan_prelude`.
    """
    resolver = resolver or SchemaResolver(df)
    out = scan_prelude(df, query, resolver, datasource_filter, observations)

    weight = (
        F.col(value_col).cast("long") if value_col else F.lit(1).cast("long")
    )

    if not query.breakdowns:
        return out.agg(F.coalesce(F.sum(weight), F.lit(0)).cast("long").alias(VALUE_COL))

    keys = [breakdown_column(resolver, b).alias(b.name) for b in query.breakdowns]
    return (
        out.groupBy(*keys)
        .agg(F.sum(weight).cast("long").alias(VALUE_COL))
    )


def scan_ndjson(
    spark: SparkSession,
    paths: str | list[str],
    query: QueryConfig,
    datasource_filter=None,
) -> DataFrame:
    """Scan raw NDJSON with full reference semantics (per-record
    null-vs-missing, loose typing, corrupt-line tolerance).

    One pass: text lines → the shared variant parse
    (sources.ndjson.parse_ndjson; corrupt lines dropped — the
    reference's parser-warning path) → the standard scan plan over a
    VariantResolver. The single-pass variant parse replaces schema
    inference (which would be a second full read of the data —
    untenable at 100 TB).
    """
    from dragnet_spark.sources.ndjson import parse_ndjson

    txt = spark.read.option("recursiveFileLookup", "true").text(paths)
    return scan(
        parse_ndjson(txt), query, datasource_filter=datasource_filter,
        resolver=VariantResolver(),
    )


def ordered(result: DataFrame) -> DataFrame:
    """Presentation-layer total sort: column-major, left to right
    (reference bin/dn:980-999). Numeric columns sort numerically,
    strings lexicographically — Spark's orderBy already does both."""
    cols = [c for c in result.columns if c != VALUE_COL]
    return result.orderBy(*cols) if cols else result
