"""Streaming variant: the same QueryConfig over Structured Streaming.

The reference is a batch engine over time-partitioned files; its
incremental story is "rebuild the affected interval" (acknowledged
future work, lib/datasource-manta.js:258-264). This module is the
north-star extension: continuous ``dn scan`` / ``dn build`` where new
NDJSON files landing in the watched tree flow through the *identical*
filter → breakdown → weighted-count semantics. The batch code is
called, not copied: the text → variant parse is
``sources.ndjson.parse_ndjson``, an unwindowed ``stream_scan`` is
``scan()`` itself and a windowed one shares its record prelude
(``scan_prelude``), and the continuous build appends through
``build_index`` — the batch/streaming split is only source/sink
wiring (SURVEY §7.2 step 8).

Design for scale:

* **Event-time windows, not processing time** — a date breakdown with
  ``lquantize`` becomes ``window(event_time, step)``; the window start
  is projected back to floored epoch seconds so streaming output is
  row-compatible with the batch scan.
* **Watermarks bound state** — the reference's documented failure mode
  is the unbounded aggregation hash (README.md:666-698); a watermark
  lets Spark evict finalized windows, so state ∝ active windows ×
  group cardinality, not history.
* **Incremental build appends partial aggregates** — each micro-batch
  appends its per-window partial counts to the partitioned view. The
  skinner closure property (aggregated output is valid input,
  SURVEY §1.1) makes this correct: the query path re-aggregates, so
  duplicate group rows across micro-batches merge at read time.
  Compaction = re-aggregate + overwrite, a pure metadata-driven batch
  job.

Live ingest splits along one line: the micro-batch loop is this
module's, the stores' keys are ``index/fingerprints.py``'s. Every
ledgered foreachBatch body runs in one replay skeleton
(:func:`_replay_once`: skip a ledgered or empty batch, optional store
lease, body, ledger mark), both sink-writing ingesters commit through
one staged sink commit (:func:`_sink_commit`), and every query starts
through one ``writeStream`` wiring (:func:`_start`). Which data dir to
read, how a band or band-pair key is spelled, how a batch anti-joins
a store slice and how rows are appended are decided only in
``index/fingerprints.py`` (``fp_miss``, ``band_miss``, ``srp_miss``,
``append_fingerprint_rows``, ``append_srp_keys``), so stream, store
and batch keys cannot drift apart.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dragnet_spark.query import QueryConfig
from dragnet_spark.scan import (
    VALUE_COL,
    VARIANT_COL,
    VariantResolver,
    breakdown_column,
    scan,
    scan_prelude,
)
from dragnet_spark.sources.ndjson import parse_ndjson

EVENT_TIME_COL = "__dn_event_time"


def drain_stream(q, min_data_batches: int = 1, timeout: float = 120.0) -> int:
    """Block until the live query has processed at least
    ``min_data_batches`` micro-batches WITH data and reports no more
    available, then return the data-batch count (the query is left
    running — callers own stop()).

    Exists because the obvious wait loop — ``not
    q.status['isDataAvailable'] and q.recentProgress`` — is RACY for
    any source that feeds more than one trigger: between trigger N
    and N+1 the flag is transiently False while progress is already
    non-empty, so a loaded machine stops the query after batch 1 and
    loses every later file (observed as a flaky live-store test under
    a load-40 box). Counting data batches makes the wait condition
    state what the test actually requires."""
    import time as _time

    deadline = _time.time() + timeout
    n = 0
    while _time.time() < deadline:
        n = sum(
            1 for p in (q.recentProgress or [])
            if p.get("numInputRows", 0) > 0
        )
        if n >= min_data_batches and not q.status["isDataAvailable"]:
            return n
        _time.sleep(0.5)
    return n


def read_ndjson_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream raw NDJSON files from a directory tree as a variant
    column: the streaming file source feeding the same text → variant
    parse the batch reader uses (sources.ndjson.parse_ndjson — blank
    and corrupt lines dropped, no schema inference pass)."""
    reader = (
        spark.readStream.option("recursiveFileLookup", "true")
        .format("text")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return parse_ndjson(reader.load(path))


def stream_scan(
    sdf: DataFrame,
    query: QueryConfig,
    datasource_filter=None,
    resolver=None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Compile a QueryConfig against a streaming DataFrame.

    Returns a streaming aggregation whose rows match the batch
    ``scan()`` output (breakdown columns + ``value``). When the query
    has a date breakdown with lquantize (a tumbling window), the
    aggregation is windowed on event time with a watermark — append
    mode works and state is bounded; the records are those of
    ``scan_prelude``. Otherwise it is ``scan()`` itself, a running
    global aggregation (complete/update mode).
    """
    resolver = resolver or VariantResolver()
    # locate a tumbling-window breakdown: date + lquantize
    window_b = next(
        (b for b in query.breakdowns if b.date and b.aggr == "lquantize"), None
    )
    if window_b is None:
        return scan(sdf, query, datasource_filter=datasource_filter,
                    resolver=resolver)

    out = scan_prelude(sdf, query, resolver, datasource_filter)
    step = window_b.step or 1
    secs = resolver.date_seconds(window_b.field)
    # the prelude already dropped records whose date will not parse
    out = out.withColumn(
        EVENT_TIME_COL, F.timestamp_seconds(secs)
    ).withWatermark(EVENT_TIME_COL, watermark)
    other = [b for b in query.breakdowns if b is not window_b]
    keys = [breakdown_column(resolver, b).alias(b.name) for b in other]
    win = F.window(F.col(EVENT_TIME_COL), f"{step} seconds")
    agg = out.groupBy(win.alias("__dn_window"), *keys).agg(
        F.sum(F.lit(1)).cast("long").alias(VALUE_COL)
    )
    # project the window start back to floored epoch seconds so rows
    # are column-compatible with the batch scan() output
    cols = []
    for b in query.breakdowns:
        if b is window_b:
            cols.append(
                F.unix_timestamp(F.col("__dn_window.start")).alias(b.name)
            )
        else:
            # names may contain dots (res.statusCode): the literal column
            cols.append(F.col(f"`{b.name}`"))
    return agg.select(*cols, F.col(VALUE_COL))



# ------------------------------------------------- live-ingest wiring


def _start(sdf: DataFrame, body, checkpoint: str | None = None,
           trigger_available_now: bool = False):
    """Start ``sdf`` as a foreachBatch query running ``body`` — the one
    ``writeStream`` wiring of every continuous build and ingest.
    Returns the StreamingQuery."""
    writer = sdf.writeStream.foreachBatch(body).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _replay_once(ledger, body, lease: str | None = None):
    """The micro-batch replay skeleton every ledgered foreachBatch body
    runs in.

    ``foreachBatch`` is at-least-once: Spark commits a batch to the
    checkpoint only AFTER the function returns, so a restart replays
    an in-flight batch. The returned function skips a batch the ledger
    (``index/store.BatchLedger``) already marked, or an empty one;
    otherwise it runs ``body(batch_df, batch_id)`` — under the ledger
    root's store lease when ``lease`` names the holder — then marks
    the id. It returns whether the body ran, so follow-up work runs
    strictly after the mark and never for a skipped replay."""
    from contextlib import nullcontext

    from dragnet_spark.index.lease import hold_lease

    def run(batch_df: DataFrame, batch_id: int) -> bool:
        if ledger.done(batch_id) or batch_df.isEmpty():
            return False
        with hold_lease(ledger.root, lease) if lease else nullcontext():
            body(batch_df, batch_id)
            ledger.mark(batch_id)
        return True

    return run


def _sink_commit(ledger, sink_path: str):
    """The staged sink commit of both live ingesters: exactly-once on
    the sink. At wiring time it stamps the sink marker with the
    ledger's store, whose lease and ledger govern the sink — how
    ``streaming/sink.compact_sink`` and ``dn maintain`` find it.

    ``commit(batch_df, batch_id, misses)`` returns the batch's
    survivors, which land in their own ``__dn_batch=<id>`` dir. When
    that dir's ``_dn_committed`` sentinel (``index/store.COMMIT_SENTINEL``,
    written after the sink write) carries THIS checkpoint's key, the
    dir IS the survivor set: recomputing would find zero survivors
    (the first attempt's fold-in already put their keys in the store)
    and overwriting would erase the sink output. Otherwise —
    including a dir committed by a DIFFERENT checkpoint, whose batch
    ids restarted at 0 — ``misses()`` is materialized once (the
    caller's fold-in reuses it), overwrites the dir, and the sentinel
    is stamped."""
    from dragnet_spark.streaming import sink

    os.makedirs(sink_path, exist_ok=True)
    marker = os.path.join(sink_path, sink.SINK_MARKER)
    if not os.path.exists(marker):
        with open(marker, "w") as f:
            json.dump(
                {"version": "1.0",
                 "store_path": os.path.abspath(ledger.root)}, f
            )

    def commit(batch_df: DataFrame, batch_id: int, misses) -> DataFrame:
        bdir = os.path.join(sink_path, f"__dn_batch={batch_id}")
        if ledger.sink_committed(bdir):
            return batch_df.sparkSession.read.parquet(bdir)
        survivors = misses().localCheckpoint(eager=True)
        survivors.write.mode("overwrite").parquet(bdir)
        ledger.mark_sink_committed(bdir)
        return survivors

    return commit


def _dedup_vectors(sdf: DataFrame, vec_field: str, time_field: str | None,
                   watermark: str) -> DataFrame:
    """Exact vector dedup, keyed on the md5 of the vector: within the
    watermark horizon on a stream with an event-time column (state is
    one hash per surviving vector), over the whole frame otherwise.
    Rows with a NULL event time are dropped."""
    out = sdf
    if time_field is not None:
        out = out.filter(F.col(time_field).isNotNull())
        if out.isStreaming:
            out = out.withWatermark(time_field, watermark)
    out = out.withColumn(
        "__dn_vfp", F.md5(F.to_json(F.struct(F.col(vec_field))))
    )
    if out.isStreaming and time_field is not None:
        out = out.dropDuplicatesWithinWatermark(["__dn_vfp"])
    else:
        out = out.dropDuplicates(["__dn_vfp"])
    return out.drop("__dn_vfp")


def make_batch_appender(
    metrics,
    index_path: str,
    interval: str = "day",
    time_field: str | None = None,
    datasource_filter=None,
    resolver=None,
    checkpoint: str | None = None,
):
    """The foreachBatch body of :func:`stream_build`, factored out so
    its replay behavior is directly testable.

    A replayed batch would double-count; the ledger under the index
    (:func:`_replay_once`) skips it. (A crash strictly inside
    build_index can still leave a partial append — closing that too
    needs a transactional table format; the ledger reduces the
    exposure from 'any restart with an in-flight batch' to 'crash
    mid-write'.)
    """
    from dragnet_spark.index.build import build_index
    from dragnet_spark.index.store import BatchLedger

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        r = resolver
        if r is None and VARIANT_COL in batch_df.columns:
            r = VariantResolver()
        build_index(
            batch_df.sparkSession,
            batch_df,
            metrics,
            index_path,
            interval=interval,
            time_field=time_field,
            datasource_filter=datasource_filter,
            mode="append",
            resolver=r,
        )

    # the index lease serializes against compact_index: an append
    # landing between its snapshot and a bucket overwrite would be
    # silently replaced by the stale aggregate (lease.py)
    return _replay_once(
        BatchLedger(index_path, checkpoint), write_batch, lease="append-index"
    )


def stream_build(
    sdf: DataFrame,
    metrics,
    index_path: str,
    interval: str = "day",
    time_field: str | None = None,
    datasource_filter=None,
    resolver=None,
    checkpoint: str | None = None,
    trigger_available_now: bool = False,
):
    """Continuous ``dn build``: append each micro-batch's partial
    aggregates to the same partitioned parquet views the batch build
    writes. Correct under re-aggregation (closure property); the query
    path's groupBy().sum() merges partials from different batches.
    Batch replays after a restart are deduplicated by a marker ledger
    (see :func:`make_batch_appender`).

    Returns the StreamingQuery handle.
    """
    write_batch = make_batch_appender(
        metrics,
        index_path,
        interval=interval,
        time_field=time_field,
        datasource_filter=datasource_filter,
        resolver=resolver,
        checkpoint=checkpoint,
    )
    return _start(sdf, write_batch, checkpoint, trigger_available_now)


def stream_sliding_counts(
    sdf: DataFrame,
    time_field: str,
    length_sec: int,
    slide_sec: int,
    keys: list | None = None,
    resolver=None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding event-time windows over a variant record stream: count
    per (window, keys), window start emitted as epoch-second ``ws``.
    Each event expands into length/slide overlapping windows *before*
    the shuffle (built-in window() generator); watermarked, so append
    mode finalizes past windows and state stays bounded. The identical
    expression over a static DataFrame is the batch twin — tested for
    equivalence."""
    resolver = resolver or VariantResolver()
    secs = resolver.date_seconds(time_field)
    out = (
        sdf.withColumn(EVENT_TIME_COL, F.timestamp_seconds(secs))
        .filter(F.col(EVENT_TIME_COL).isNotNull())
    )
    if out.isStreaming:
        out = out.withWatermark(EVENT_TIME_COL, watermark)
    key_cols = [
        breakdown_column(resolver, b).alias(b.name) for b in (keys or [])
    ]
    win = F.window(
        F.col(EVENT_TIME_COL), f"{length_sec} seconds", f"{slide_sec} seconds"
    )
    return (
        out.groupBy(win.alias("__dn_window"), *key_cols)
        .agg(F.sum(F.lit(1)).cast("long").alias(VALUE_COL))
        .select(
            F.unix_timestamp(F.col("__dn_window.start")).alias("ws"),
            *[F.col(b.name) for b in (keys or [])],
            F.col(VALUE_COL),
        )
    )


def stream_dedup(
    sdf: DataFrame,
    key_fields: list[str],
    time_field: str,
    resolver=None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication with bounded state:
    dropDuplicatesWithinWatermark keeps each key's state only for the
    watermark horizon, so a continuous ingest pipeline can dedup an
    unbounded stream — the streaming twin of exact_dup_groups'
    keep-first semantics for keys that repeat within the horizon.
    Emits the deduplicated records (first arrival wins)."""
    resolver = resolver or VariantResolver()
    secs = resolver.date_seconds(time_field)
    out = (
        sdf.withColumn(EVENT_TIME_COL, F.timestamp_seconds(secs))
        .filter(F.col(EVENT_TIME_COL).isNotNull())
    )
    for f in key_fields:
        out = out.withColumn(
            f"__dn_key_{f.replace('.', '_')}",
            resolver.raw(f).cast("string"),
        )
    key_cols = [f"__dn_key_{f.replace('.', '_')}" for f in key_fields]
    if out.isStreaming:
        out = out.withWatermark(EVENT_TIME_COL, watermark)
        return out.dropDuplicatesWithinWatermark(key_cols)
    return out.dropDuplicates(key_cols)


def stream_enrich(
    sdf: DataFrame,
    dim: DataFrame,
    on,
    how: str = "left",
    fields: list[str] | None = None,
    resolver=None,
) -> DataFrame:
    """Stream-static enrichment join (the reference's future-work
    "replacing one set of ids for another",
    docs/design-stateful.md:163-165, as a continuous operator).

    ``fields`` projects the named variant fields out of a raw record
    stream first (strings), so callers can join a dimension onto raw
    NDJSON without a schema. The static side is broadcast: each
    micro-batch then enriches map-side — no per-batch shuffle of the
    stream, no state. Works identically on a static ``sdf`` (batch
    twin for equivalence tests).
    """
    resolver = resolver or VariantResolver()
    if fields:
        sdf = sdf.select(*[resolver.raw(f).alias(f) for f in fields])
    return sdf.join(F.broadcast(dim), on, how)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    max_lag_sec: int,
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each left event pairs with the
    right events of the same key whose timestamp falls in
    ``[left_ts - max_lag_sec, left_ts]`` — e.g. purchases joined to
    the clicks that preceded them (attribution).

    ``how="left_outer"`` keeps unmatched left events (purchase with no
    qualifying click → right columns null). In streaming, an unmatched
    left row is only emitted once the watermark has passed its match
    window — rows near the head of the stream stay buffered until
    later data advances event time, so an availableNow run reports
    null-extended rows only for lefts older than the final watermark.

    Both sides are watermarked and the join condition bounds event-time
    distance, which is exactly what lets Spark evict right-side state
    older than ``watermark + max_lag_sec`` instead of buffering the
    stream forever — the two requirements for a stream-stream inner
    join to run with bounded state. On static inputs the same
    expression is the batch twin (watermarks skipped), so equivalence
    is testable.

    Timestamp columns must already be TIMESTAMP type; the key column
    name must be identical on both sides (output carries it once), and
    the two timestamp columns must be named differently — project/alias
    before joining (a shared name would make every condition reference
    ambiguous).
    """
    if left_ts == right_ts:
        raise ValueError(
            f"left_ts and right_ts must have distinct names, got {left_ts!r}"
            " on both sides — alias one before joining"
        )
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    lcol = f"__l_{on}"
    left = left.withColumnRenamed(on, lcol)
    cond = (
        (F.col(lcol) == F.col(on))
        & (
            F.col(right_ts)
            >= F.col(left_ts) - F.expr(f"INTERVAL {max_lag_sec} SECONDS")
        )
        & (F.col(right_ts) <= F.col(left_ts))
    )
    joined = left.join(right, cond, how)
    # restore the key from the left copy: on null-extended left-outer
    # rows the right side's key is NULL, and the left key is exactly
    # what identifies the unmatched row
    return joined.withColumn(on, F.coalesce(F.col(lcol), F.col(on))).drop(lcol)


def stream_curate(
    sdf: DataFrame,
    text_field: str,
    time_field: str,
    fields: list[str] | None = None,
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
    watermark: str = "1 hour",
    resolver=None,
) -> DataFrame:
    """Continuous-ingest curation gate: the streaming counterpart of
    the batch pipeline in PIPELINE.md, restricted to bounded-state
    constructs.

    Stages: (1) variant-field projection, (2) stateless quality
    expressions (token count, punctuation ratio — the cheap gates),
    (3) exact-duplicate suppression on the whitespace/case-normalized
    content fingerprint via dropDuplicatesWithinWatermark — state is
    one fingerprint per surviving doc per horizon, bounded by the
    watermark regardless of stream length. Corpus-level NEAR-dedup
    (MinHash-LSH, embedding) stays a batch/compaction-time pass over
    the curated store — it needs cross-document shuffles no streaming
    state budget survives.

    Works identically on a static DataFrame (batch twin for
    equivalence tests). Output: projected fields + __dn_fp +
    event-time column; first arrival of each fingerprint wins.
    """
    from dragnet_spark.ops.text import fingerprint, token_count

    resolver = resolver or VariantResolver()
    secs = resolver.date_seconds(time_field)
    text = resolver.raw(text_field).cast("string")
    cols = [
        resolver.raw(f).cast("string").alias(f)
        for f in (fields or [text_field])
    ]
    out = (
        sdf.select(
            *cols,
            text.alias("__dn_text"),
            F.timestamp_seconds(secs).alias(EVENT_TIME_COL),
        )
        .filter(F.col(EVENT_TIME_COL).isNotNull())
    )
    n_chars = F.length("__dn_text")
    n_punct = n_chars - F.length(
        F.regexp_replace("__dn_text", r"[^\w\s]", "")
    )
    out = out.filter(
        (token_count("__dn_text") >= min_tokens)
        & (n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
           < max_punct_ratio)
    )
    out = out.withColumn("__dn_fp", fingerprint("__dn_text")).drop("__dn_text")
    if out.isStreaming:
        out = out.withWatermark(EVENT_TIME_COL, watermark)
        return out.dropDuplicatesWithinWatermark(["__dn_fp"])
    return out.dropDuplicates(["__dn_fp"])


def stream_curate_against_store(
    sdf: DataFrame,
    store_path: str,
    text_field: str,
    time_field: str,
    fields: list[str] | None = None,
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
    watermark: str = "1 hour",
    resolver=None,
) -> DataFrame:
    """:func:`stream_curate` + the MATERIALIZED fingerprint store
    (index/fingerprints.py): survivors must be new within the stream's
    watermark horizon AND unseen by the persisted corpus.

    The store side is static and projects only its fingerprint column
    — a stream-static LEFT ANTI join (``fingerprints.fp_miss``), so
    each micro-batch drops already-ingested documents without any
    streaming state beyond the horizon dedup, and without ever reading
    corpus text. This closes the continuous-ingest loop: probe here,
    then fold survivors into the store with ``append_fingerprints`` at
    compaction time (the event index's compact discipline). Works
    identically on a static DataFrame (batch twin for equivalence
    tests).

    **Store-snapshot contract**: the static side's parquet file
    listing is resolved when the streaming query STARTS, not per
    micro-batch. Fingerprints appended with ``append_fingerprints``
    while the query runs are NOT seen until the query restarts (and a
    partition-overwrite compaction can invalidate the cached listing
    mid-run). "Probe here, fold survivors in" therefore holds *across
    query restarts*: append at compaction time, then restart (or roll
    to the next query) to pick the fold up. For within-run freshness
    use :func:`stream_ingest_with_live_store` — it re-reads the store
    every micro-batch and folds survivors straight back in, at the
    cost of a per-batch file listing.
    """
    from dragnet_spark.index.fingerprints import fp_miss

    curated = stream_curate(sdf, text_field, time_field, fields, min_tokens,
                            max_punct_ratio, watermark, resolver)
    return fp_miss(curated, store_path)


def stream_curate_against_band_store(
    sdf: DataFrame,
    store_path: str,
    text_field: str,
    time_field: str,
    fields: list[str] | None = None,
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
    watermark: str = "1 hour",
    resolver=None,
) -> DataFrame:
    """:func:`stream_curate` + the persisted MINHASH BAND store
    (index/fingerprints.build_band_store): survivors must clear the
    quality gates, be exact-new within the watermark horizon, AND
    collide with no stored band key — i.e. near-duplicates of the
    persisted corpus (token-swapped twins, light edits) are dropped
    in-stream, which the exact-fingerprint store cannot do.

    Mechanics (``fingerprints.band_miss``): the arriving batch
    computes its band keys as NARROW per-row expressions
    (ops/dedup.minhash_band_array — the 56-bit md5-prefix BIGINT batch
    LSH buckets on, value-identical to the explode+groupBy signature
    and to band-store v2's persisted keys, so stream, store, and batch
    agree bit-for-bit), then runs one stream-static LEFT ANTI join per
    band against that band's store slice. Per-band slices
    partition-prune (the store is partitioned by band); each anti-join
    ships only 8-byte keys; a doc survives iff every band misses —
    exactly minhash-LSH's candidate rule. Documents with no shingles
    have NULL band keys and can never collide, matching batch
    semantics.

    Same store-snapshot contract as :func:`stream_curate_against_store`:
    keys appended via ``append_band_keys`` while the query runs are
    seen after a query restart. Works identically on a static frame
    (batch twin for stream==batch equivalence tests).
    """
    from dragnet_spark.index.fingerprints import band_miss

    curated = stream_curate(sdf, text_field, time_field, fields, min_tokens,
                            max_punct_ratio, watermark, resolver)
    if text_field not in curated.columns:
        raise ValueError(
            "stream_curate_against_band_store needs the text field in "
            f"`fields` to band-hash survivors (missing {text_field!r})"
        )
    return band_miss(curated, store_path, text_field)


def stream_curate_against_srp_store(
    sdf: DataFrame,
    store_path: str,
    vec_field: str = "embedding",
    time_field: str | None = None,
    id_field: str | None = None,
    watermark: str = "1 hour",
    min_band_hits: int = 2,
) -> DataFrame:
    """In-stream SEMANTIC near-dedup: the embedding twin of
    :func:`stream_curate_against_band_store`, closing the last
    ingest-loop gap (VERDICT r6 #1) — a paraphrase or light rewrite
    whose embedding sits within a few degrees of a stored vector is
    dropped the micro-batch it arrives, instead of surviving until
    the next batch SemDeDup pass.

    Input is a TYPED stream (id, vector array, optional event-time
    column) — embeddings come out of an upstream encoder with a
    schema, unlike raw NDJSON text. Stages: (1) watermark + exact-dup
    suppression on the vector's md5 within the horizon (state one
    hash per surviving vector), (2) ONE projection computes the SRP
    band-bucket array with the store's PERSISTED planes
    (ops/dedup._band_buckets_udf — bit-identical to the store keys
    and to batch SRP-LSH, by the quantized integer sign arithmetic),
    (3) one stream-static LEFT ANTI join per key slice against the
    partition-pruned store (``fingerprints.srp_miss``). Vectors that
    are NULL or the wrong dimensionality can never collide and pass
    through (match the batch probe, which emits no rows for them).

    ``min_band_hits`` picks the key space: **1** anti-joins the 8
    single-band slices (SRP-LSH's raw candidate rule — at 16-bit
    buckets a stray collision is ~2^-16 per (pair, band), which FLOODS
    once the corpus passes ~10⁴ vectors: every fresh vector collides
    somewhere). **2 (default)** anti-joins the C(bands,2)=28 BAND-PAIR
    slices materialized at build time (``srp_band_pairs``): a vector
    is dropped iff it shares ≥2 bands with ONE stored vector —
    corroborated evidence, bucket space 2^(2·bits)=2^32, stray rate
    ~2·10⁻⁴ per query even against a 10⁹-vector store — the same
    single-collision anti-join machinery, lifted to pair keys.
    Evidence thresholds above 2 belong in the batch probe
    (``probe_srp_near_duplicates``), which counts per-pair bands
    exactly.

    Same store-snapshot contract as the band store: keys appended via
    ``append_srp_keys`` while the query runs are seen after a query
    restart. Works identically on a static frame (the batch twin for
    stream==batch equivalence tests).
    """
    from dragnet_spark.index.fingerprints import srp_miss

    return srp_miss(
        _dedup_vectors(sdf, vec_field, time_field, watermark),
        store_path, vec_field, min_band_hits,
    )


def make_live_store_ingester(
    store_path: str,
    sink_path: str,
    id_field: str,
    checkpoint: str | None = None,
):
    """foreachBatch body for :func:`stream_ingest_with_live_store`,
    factored out like :func:`make_batch_appender` so replay behavior
    is directly testable.

    Per micro-batch: (1) re-read the fingerprint store's CURRENT
    contents (a fresh file listing — this is the within-run-freshness
    path the plan-time snapshot join cannot give), (2) anti-join the
    curated batch's ``__dn_fp`` against it, (3) write survivors to the
    parquet sink, (4) fold the survivors' fingerprints straight
    back into the store so the NEXT micro-batch — and any concurrent
    batch probe — already sees them. Replays after a restart are
    skipped via the same batch-id marker ledger as the index build.

    Exactly-once on the SINK (:func:`_sink_commit`; fold-in runs
    strictly after the sink commit, so a replay re-folds a committed
    dir): readers (``spark.read.parquet(sink_path)``) see each batch's
    rows once, plus a discovered ``__dn_batch`` partition column they
    can ignore. The STORE side stays a plain append and merely
    tolerates replay double-appends (probes take min doc_id; the next
    compaction collapses them).
    """
    from dragnet_spark.index.fingerprints import (
        append_fingerprint_rows,
        fp_miss,
    )
    from dragnet_spark.index.store import BatchLedger

    ledger = BatchLedger(store_path, checkpoint)
    commit = _sink_commit(ledger, sink_path)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        survivors = commit(
            batch_df, batch_id, lambda: fp_miss(batch_df, store_path)
        )
        append_fingerprint_rows(
            survivors.select(
                F.col("__dn_fp").alias("fp"),
                F.col(id_field).cast("long").alias("doc_id"),
            ),
            store_path,
        )

    # the whole batch body (store listing + anti-join + fold-in) holds
    # the store lease: compaction's snapshot-and-swap and this append
    # serialize instead of silently losing rows, and the anti-join
    # never reads a directory mid-swap (lease.py)
    return _replay_once(ledger, ingest, lease="live-ingest")


def make_live_srp_ingester(
    store_path: str,
    sink_path: str,
    id_field: str,
    vec_field: str,
    checkpoint: str | None = None,
):
    """foreachBatch body for :func:`stream_ingest_with_live_srp_store`
    — the SEMANTIC twin of :func:`make_live_store_ingester`.

    Per micro-batch: (1) compute the batch's SRP band array ONCE with
    the store's persisted planes, (2) re-read the band-PAIR store's
    CURRENT contents (fresh file listing — within-run freshness) and
    drop every vector sharing ≥2 bands with ONE stored vector (the
    corroborated-evidence rule, ``fingerprints.srp_miss``), (3) sink
    survivors through the exact-store loop's commit
    (:func:`_sink_commit`), then (4) fold the survivors' band AND pair
    keys straight back into the store so the NEXT micro-batch already
    sees them. A paraphrase arriving ten days after its original is
    dropped even though no watermark state could span the gap.
    Survivors of the SAME batch are not checked against each other
    (parity with the exact loop; the next batch sees them all).
    """
    from dragnet_spark.index.fingerprints import (
        append_srp_keys,
        load_srp_store_meta,
        srp_miss,
    )
    from dragnet_spark.index.store import BatchLedger

    ledger = BatchLedger(store_path, checkpoint)
    commit = _sink_commit(ledger, sink_path)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        survivors = commit(
            batch_df, batch_id,
            lambda: srp_miss(batch_df, store_path, vec_field, min_band_hits=2),
        )
        meta = load_srp_store_meta(store_path)
        append_srp_keys(
            batch_df.sparkSession,
            survivors.select(
                F.col(id_field).alias(meta["id_col"]),
                F.col(vec_field).alias(meta["vec_col"]),
            ),
            store_path,
        )

    # whole-batch lease, as in make_live_store_ingester: the pair store
    # listing, the 28 anti-joins, and the fold-in (via append_srp_keys
    # — its own acquire is a reentrant no-op) serialize against
    # compact_srp_store instead of losing rows
    return _replay_once(ledger, ingest, lease="live-srp-ingest")


def stream_ingest_with_live_srp_store(
    sdf: DataFrame,
    store_path: str,
    sink_path: str,
    checkpoint: str,
    vec_field: str = "embedding",
    id_field: str = "vec_id",
    time_field: str | None = None,
    watermark: str = "1 hour",
):
    """The CLOSED semantic-ingest loop: exact-dedup within the
    watermark horizon, probe the LIVE SRP store, sink survivors, fold
    their band keys back in — every micro-batch.

    :func:`stream_curate_against_srp_store` joins a plan-time store
    snapshot (appends visible only across restarts — right for a
    store that changes at compaction cadence); this variant pays a
    per-batch pair-store listing so semantic ingest is self-feeding,
    exactly as :func:`stream_ingest_with_live_store` is for exact
    fingerprints. Returns the started StreamingQuery.
    """
    ingest = make_live_srp_ingester(
        store_path, sink_path, id_field, vec_field, checkpoint=checkpoint
    )
    return _start(
        _dedup_vectors(sdf, vec_field, time_field, watermark),
        ingest, checkpoint,
    )


def make_vindex_appender(
    index_path: str,
    checkpoint: str | None = None,
    recenter_trigger: float | None = None,
    recenter_every: int = 0,
):
    """foreachBatch body for :func:`stream_ingest_vector_index`,
    factored out like :func:`make_live_store_ingester` so replay
    behavior is directly testable.

    Each micro-batch's embeddings are cell-assigned against the
    index's PERSISTED centroids and appended one-file-per-cell
    (``append_vector_index(files_per_cell=1)`` — the livestore
    repartition lesson). Replays after a restart are skipped via the
    same batch-id marker ledger as the index build and live store:
    the append is NOT idempotent (a replayed batch would double every
    vector in its cells), so the marker writes strictly after the
    append, shrinking the at-least-once window to crash-mid-write —
    which ``compact_vector_index`` cannot repair (duplicates are real
    rows); recovery from a crash INSIDE an append is a rebuild, the
    same contract as the event index's partial-append window.

    **Mid-run recenter** (VERDICT r8 #2): with ``recenter_trigger``
    set and ``recenter_every`` > 0, every N-th appended batch checks
    the max/mean cell skew (``vector_index_cell_stats`` — cheap
    partition metadata, no vector I/O) and runs
    ``recenter_vector_index`` when appends have drifted the layout
    past the trigger, so a long-running ingest against drifting
    embeddings heals its cell balance WITHOUT a restart. Safe under
    the store lease: the recenter runs between appends in this same
    foreachBatch thread (never concurrent with them) and takes the
    store lease against everyone else; a recenter that dies mid-swap
    is repaired by the layout-token + staged-recovery machinery, the
    ledger keeps the batch sequence exact, and the check runs strictly
    AFTER the batch's marker commit so a replayed batch never re-pays
    (or double-runs) a recenter.
    """
    from dragnet_spark.index.store import BatchLedger
    from dragnet_spark.index.vector import (
        append_vector_index,
        maybe_recenter_vector_index,
    )

    append = _replay_once(
        BatchLedger(index_path, checkpoint),
        lambda batch_df, _: append_vector_index(
            batch_df.sparkSession, batch_df, index_path, files_per_cell=1
        ),
    )
    since_check = {"n": 0}

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not append(batch_df, batch_id):
            return  # a skipped replay never counts toward recenter_every
        if recenter_trigger is not None and recenter_every > 0:
            since_check["n"] += 1
            if since_check["n"] >= recenter_every:
                since_check["n"] = 0
                maybe_recenter_vector_index(
                    batch_df.sparkSession,
                    index_path,
                    skew_trigger=recenter_trigger,
                )

    return append_batch


def stream_ingest_vector_index(
    sdf: DataFrame,
    index_path: str,
    checkpoint: str,
    recenter_trigger: float | None = 4.0,
    recenter_every: int = 8,
    trigger_available_now: bool = False,
):
    """Continuous embedding ingest into the materialized IVF index
    (VERDICT r6 #2): the vector twin of
    :func:`stream_ingest_with_live_store`'s fold-in loop.

    Every micro-batch runs ``append_vector_index`` with the PERSISTED
    centroids (append-then-probe equals rebuild-with-same-centroids,
    the pytest-enforced contract), ledger-deduplicated against
    restarts. The documented ~4× max/mean skew trigger is checked at
    STARTUP and, since round 9, MID-RUN every ``recenter_every``
    appended batches (VERDICT r8 #2): a long-running ingest whose
    embeddings drift recenters in-loop instead of degrading until the
    next restart. The skew check is cell-count metadata only; the
    recenter itself runs between appends in the foreachBatch thread,
    lease-serialized against external maintenance. An index built
    with a ``target_rows_per_cell`` growth policy also recenters —
    and GROWS its cell count (``index/vector.auto_cell_count``) —
    once mean rows/cell passes 2× the target, so a store that
    absorbs many times its build size keeps probe cost flat without
    any ingest-loop configuration. Pass
    ``recenter_trigger=None`` to manage recentering externally, or
    ``recenter_every=0`` for the pre-r9 startup-only behavior. The
    input stream must carry the index's ``id_col``/``vec_col``
    columns. Returns the StreamingQuery.
    """
    from dragnet_spark.index.vector import maybe_recenter_vector_index

    if recenter_trigger is not None:
        maybe_recenter_vector_index(
            sdf.sparkSession, index_path, skew_trigger=recenter_trigger
        )
    append_batch = make_vindex_appender(
        index_path,
        checkpoint=checkpoint,
        recenter_trigger=recenter_trigger,
        recenter_every=recenter_every,
    )
    return _start(sdf, append_batch, checkpoint, trigger_available_now)


def stream_ingest_with_live_store(
    sdf: DataFrame,
    store_path: str,
    sink_path: str,
    checkpoint: str,
    text_field: str,
    time_field: str,
    id_field: str,
    fields: list[str] | None = None,
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
    watermark: str = "1 hour",
    resolver=None,
):
    """The CLOSED continuous-ingest loop: curate → probe the LIVE
    store → sink survivors → fold their fingerprints back in, every
    micro-batch.

    :func:`stream_curate_against_store` joins a plan-time store
    snapshot (appends become visible only across query restarts —
    cheap, zero per-batch listing cost, right for a store that
    changes at compaction cadence). This variant pays a per-batch
    store listing to make ingest self-feeding: a duplicate arriving
    ten days after its original — far beyond any watermark horizon
    the in-stream dedup state could hold — is still dropped, because
    the original's fingerprint went into the store the moment it was
    sunk. Streaming state stays bounded by the watermark; corpus-
    lifetime memory lives in the store, which is exactly the
    reference's index discipline (never rescan, persist the rollup).

    Returns the started StreamingQuery.
    """
    curated = stream_curate(sdf, text_field, time_field, fields, min_tokens,
                            max_punct_ratio, watermark, resolver)
    if id_field not in curated.columns:
        raise ValueError(
            f"stream_ingest_with_live_store needs {id_field!r} in `fields`"
        )
    ingest = make_live_store_ingester(
        store_path, sink_path, id_field, checkpoint=checkpoint
    )
    return _start(curated, ingest, checkpoint)


def make_live_components_ingester(
    components_path: str,
    band_store_path: str,
    checkpoint: str | None = None,
):
    """foreachBatch body: maintain the INCREMENTAL connected-components
    store (index/components.py) from a document stream — the
    continuous form of cluster-level dedup, closing the loop the
    batch-only components soak left open (the store folded batches
    exactly, but the streaming path still computed clusters per batch
    independently).

    Per micro-batch: (1) band-hash the batch with the band store's
    PERSISTED basis (same md5 minhash expressions as the batch LSH, so
    stream keys and batch keys agree bit-for-bit), (2) candidate
    near-dup pairs = within-batch band collisions ∪ batch×store
    collisions — because every prior batch's keys were appended in
    step (4), the union of per-fold pair sets over the whole stream
    equals the ONE-SHOT LSH collision set over all documents, (3) fold
    (batch ids, pairs) into the components store
    (merge_components_batch — min-label closure composes
    associatively, so store reads are bit-identical to a one-shot
    closure), (4) append the batch's band keys so later batches
    collide with this one.

    Exactly-once state without a sink sentinel: a replayed batch
    re-merges pairs whose endpoints already share roots (no new
    redirects) and whose ids already exist (anti-joined away) — the
    components fold is IDEMPOTENT, like the KMV ingester; the band
    append merely tolerates replay double-appends (probes dedup,
    compaction collapses). The optional batch-id ledger just skips
    the redundant work. The whole body runs under the components
    store's lease, so compaction's stage-then-swap and this fold
    serialize — a concurrent ``dn maintain`` / compact_components_store
    racing the stream never loses a fold (asserted by
    tools/soak_components_stream.py).
    """
    from dragnet_spark.index.components import merge_components_batch
    from dragnet_spark.index.fingerprints import (
        _append_band_rows,
        _banded_rows,
        _read_bands,
        load_band_store_meta,
    )
    from dragnet_spark.index.lease import hold_lease
    from dragnet_spark.index.store import BatchLedger

    meta = load_band_store_meta(band_store_path)  # fail at wiring time
    id_col = meta["id_col"]

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # the band-store window — listing, candidate join, and the
        # key append — runs under ONE lease hold: compaction's
        # stage-then-swap deletes the listed files, so an unleased
        # read races FileNotFound (measured in the racing soak). The
        # candidate pairs are MATERIALIZED (localCheckpoint) before
        # the lease releases; the components fold below then never
        # touches band files.
        with hold_lease(band_store_path, "live-components"):
            banded = _banded_rows(
                batch_df, meta["text_col"], meta["id_col"],
                meta["num_hashes"], meta["bands"], meta["ngram"],
            ).localCheckpoint(eager=True)  # one signature pass, 3 uses
            # a FRESH band store (continuous ingest bootstrapped from
            # empty) has no files yet
            store = _read_bands(
                spark, band_store_path, may_be_empty=True
            ).select("band", "bhash", F.col("doc_id").alias("id_a"))
            cross = (
                store.join(
                    banded.select(
                        "band", "bhash", F.col("doc_id").alias("id_b")
                    ),
                    ["band", "bhash"],
                )
                .filter(F.col("id_a") != F.col("id_b"))
                .select("id_a", "id_b")
            )
            A = banded.select(
                "band", "bhash", F.col("doc_id").alias("id_a")
            )
            B = banded.select(
                "band", "bhash", F.col("doc_id").alias("id_b")
            )
            within = (
                A.join(B, ["band", "bhash"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
            )
            pairs = (
                cross.unionByName(within)
                .distinct()
                .localCheckpoint(eager=True)
            )
            # append the CHECKPOINTED band rows under the same hold
            # (append_band_keys would re-hash every shingle and
            # re-acquire)
            _append_band_rows(banded, band_store_path)
        ids = batch_df.select(F.col(id_col).cast("long").alias("id"))
        merge_components_batch(spark, pairs, components_path, ids=ids)

    return _replay_once(BatchLedger(components_path, checkpoint), ingest)


def stream_ingest_with_live_components(
    sdf: DataFrame,
    components_path: str,
    band_store_path: str,
    checkpoint: str,
):
    """Continuous cluster-level dedup: every micro-batch folds into
    the incremental components store via
    :func:`make_live_components_ingester`, so
    ``components_store_read`` serves the CURRENT cluster assignment
    of everything ever ingested — bit-identical to a one-shot closure
    over the full corpus — without any full-corpus recompute. Returns
    the started StreamingQuery."""
    ingest = make_live_components_ingester(
        components_path, band_store_path, checkpoint=checkpoint
    )
    return _start(sdf, ingest, checkpoint)


def make_kmv_vocab_ingester(
    store_path: str,
    text_field: str = "text",
    group_field: str = "source",
):
    """foreachBatch hook: fold each micro-batch's token hashes into a
    persisted KMV vocabulary sketch (index/kmv.py) — the live "how big
    is each source's vocabulary" census, O(groups·k) state however
    long the stream runs.

    No replay ledger needed, unlike the sink-writing ingesters:
    bottom-k folding is IDEMPOTENT (re-merging an already-folded
    batch unions values the sketch already minimized over — the
    bottom-k is unchanged), so at-least-once foreachBatch delivery is
    exactly-once state for free. The merge itself is lease-guarded
    and stage-swapped by merge_kmv_batch, so it also serializes
    against any concurrent dn kmv-merge / dn maintain sweep."""
    from dragnet_spark.index.kmv import load_kmv_meta, merge_kmv_batch
    from dragnet_spark.ops.text import tokens

    meta = load_kmv_meta(store_path)  # fail at wiring time, not batch 1
    vcol = meta["value_col"]
    if len(meta["group_cols"]) != 1:
        raise ValueError(
            "make_kmv_vocab_ingester supports single-group stores, got "
            f"{meta['group_cols']}"
        )
    (gcol,) = meta["group_cols"]

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        toks = batch_df.select(
            F.col(group_field).alias(gcol),
            F.explode(tokens(text_field)).alias(vcol),
        )
        merge_kmv_batch(batch_df.sparkSession, toks, store_path)

    return ingest
