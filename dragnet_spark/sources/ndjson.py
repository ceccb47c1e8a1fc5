"""NDJSON event sources (the reference's only raw formats).

* ``json``        — newline-separated JSON objects, one event per line
  (reference S1, lib/format-json.js:26-46). Corrupt lines are
  tolerated and countable, never fatal (the reference counts them as
  parser warnings; tests/data ships 2 deliberately broken lines).
* ``json-skinner`` — newline-separated pre-aggregated points
  ``{"fields": {...}, "value": n}`` (reference S2,
  lib/format-json.js:55-73), used to feed one scan's output into
  another; here it flattens to the fields' columns plus ``value``.

Raw ``json`` events go through :func:`parse_ndjson`, the one text →
variant parse every path shares (batch scan, build, index-scan,
streaming): no schema, no inference pass, corrupt lines dropped and
counted by Observations on the same pass. The schema'd reader
(:func:`read_ndjson`, used for skinner points) uses Spark's
DROPMALFORMED mode, or PERMISSIVE with an explicit
``_corrupt_record`` column when the caller wants to inspect bad
lines. At scale prefer an explicit schema — inference is an extra
full pass over 100 TB of input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from dragnet_spark.scan import VARIANT_COL

CORRUPT_COL = "_corrupt_record"


def read_ndjson(
    spark: SparkSession,
    paths: str | list[str],
    schema: str | None = None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Read NDJSON events, tolerating corrupt lines.

    With ``keep_corrupt`` the ``_corrupt_record`` column carries the
    raw text of unparseable lines (NULL for good rows) so callers can
    count/inspect them (reference --counters: 'json parser ninputs' vs
    adapter ninputs). Otherwise corrupt lines are dropped inside the
    reader (DROPMALFORMED — no extra pass, no corrupt-column-only
    query restriction).
    """
    if keep_corrupt:
        reader = spark.read.option("recursiveFileLookup", "true").option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", CORRUPT_COL
        )
        if schema is not None:
            reader = reader.schema(f"{schema}, {CORRUPT_COL} string")
        df = reader.json(paths)
        if CORRUPT_COL not in df.columns:  # clean input, inferred schema
            df = df.withColumn(CORRUPT_COL, F.lit(None).cast("string"))
        return df

    reader = spark.read.option("recursiveFileLookup", "true").option("mode", "DROPMALFORMED")
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(paths)
    if CORRUPT_COL in df.columns:  # inference saw corrupt lines
        df = df.drop(CORRUPT_COL)
    return df


def parse_ndjson(txt: DataFrame, observations: dict | None = None) -> DataFrame:
    """Text lines (a ``value`` string column, batch or streaming) → one
    VariantType column: blank lines dropped, each line through
    ``try_parse_json``, unparseable lines (NULL) dropped.

    Pass a dict as ``observations`` (batch only) to count on the same
    pass: "json parser" ``ninputs`` (every line, blank ones included)
    and "adapter" ``noutputs`` (parsed records) — the reference's
    parser counters; their difference is the invalid-json count.
    """
    if observations is not None:
        obs = observations["json parser"] = Observation("json parser")
        txt = txt.observe(obs, F.count(F.lit(1)).alias("ninputs"))
    df = (
        txt.filter(F.trim(F.col("value")) != "")
        .select(F.try_parse_json(F.col("value")).alias(VARIANT_COL))
        .filter(F.col(VARIANT_COL).isNotNull())
    )
    if observations is not None:
        obs = observations["adapter"] = Observation("adapter")
        df = df.observe(obs, F.count(F.lit(1)).alias("noutputs"))
    return df


def read_skinner(
    spark: SparkSession, paths: str | list[str], schema: str | None = None
) -> DataFrame:
    """Read json-skinner points and flatten to fields.* + value.

    The closure property (aggregated output is valid input) is what
    makes distributed re-aggregation work (reference A5; SURVEY §1.1).
    """
    full_schema = None
    if schema is not None:
        full_schema = f"fields struct<{schema}>, value long"
    df = read_ndjson(spark, paths, schema=full_schema)
    field_cols = [
        F.col(f"fields.{f.name}").alias(f.name)
        for f in df.schema["fields"].dataType.fields
    ]
    return df.select(*field_cols, F.col("value").cast("long").alias("value"))


def to_skinner_points(result: DataFrame, value_col: str = "value") -> DataFrame:
    """Inverse of read_skinner: pack a scan result into
    {"fields": {...}, "value": n} rows ready for write.json (the
    reference's --points output, S11)."""
    keys = [c for c in result.columns if c != value_col]
    return result.select(
        F.struct(*[F.col(k) for k in keys]).alias("fields"),
        F.col(value_col).cast("long").alias("value"),
    )
