"""Curated-sink compaction: fold committed ``__dn_batch=<id>`` dirs
into consolidated base segments.

Two live ingesters write curated sinks, both through the one staged
sink commit (``streaming/pipeline._sink_commit``):
:func:`dragnet_spark.streaming.pipeline.make_live_store_ingester`
(exact dedup; its store keys are document fingerprints) and
:func:`dragnet_spark.streaming.pipeline.make_live_srp_ingester`
(semantic dedup; its store keys are SRP band and band-pair keys).
Each gives its sink exactly-once semantics by writing each
micro-batch's survivors into their own ``__dn_batch=<id>`` directory,
and stamps the sink's ``_dn_sink.json`` marker with the governing
store. Correct — and unbounded: a year of 1-minute batches is ~500k
directories, so every full read pays 500k listings and the
discovered-partition planning cost grows without limit. This module
is the missing maintenance leg:

* **what is safe to fold**: a batch dir whose ``_dn_committed``
  sentinel names checkpoint key K *and* whose id appears in the
  store's ``_dn_batch_ledger/<K>/`` ledger. The ledger marker is
  written strictly AFTER the store fold-in, so a ledgered batch's
  keys (its fingerprints, or its SRP band and pair keys) are provably
  in the store — a later replay of that id recomputes its anti-join,
  finds zero survivors (the store already has them), and writes an
  empty dir: harmless, the rows live in the base segment. Folding a
  committed-but-unledgered dir would be a REAL loss window (crash
  between sink commit and fold-in → replay re-folds from the dir; see
  ``_sink_commit``), so those are never touched. Legacy
  ``_SUCCESS``-only dirs carry no key and are skipped for the same
  reason (conservative; they fold after their first post-upgrade
  replay stamps the sentinel).
* **where they go**: base segments are NEGATIVE batch ids
  (``__dn_batch=-1``, ``-2``, …) — the same discovered partition
  column, so any existing reader keeps working, and real batch ids
  (≥ 0) can never collide. Each segment carries a ``_dn_compacted``
  manifest (source dirs + keys + row count) for audit.
* **crash safety**: stage → swap-marker → hide sources → show stage →
  cleanup. The swap marker (``.dn_compact_swap``) makes every crash
  window recoverable: marker present + staged manifest → roll
  FORWARD (finish hiding, show the segment); stage without marker →
  roll BACK (delete the invisible stage; sources untouched). Rows are
  never visible twice and never lost; recovery runs at the top of
  every compaction and from the guarded reader.
* **readers**: the swap's hide-then-show window (milliseconds of
  renames) can transiently hide rows from a bare
  ``spark.read.parquet(sink)``. :func:`read_curated_sink` is the
  contract-following reader: it waits out a LIVE compactor's swap
  (store lease + swap marker), repairs a DEAD one, and raises the
  retryable ``StoreBusyError`` — never a partial read — through the
  stores' own wait loop (``index/store.wait_out_maintenance``).

Writer concurrency: the whole compaction holds the STORE lease — the
same lease every live-ingest batch holds — so folding never races a
batch's sink write or fold-in.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from dragnet_spark.errors import ContractError
from dragnet_spark.index.lease import hold_lease
from dragnet_spark.index.store import (
    batch_marked,
    sink_commit_key,
    wait_out_maintenance,
)

SINK_MARKER = "_dn_sink.json"
SEGMENT_MANIFEST = "_dn_compacted"
_STAGE = ".dn_compact_stage"
_TRASH = ".dn_compact_trash"
_SWAP = ".dn_compact_swap"
_BATCH_RE = re.compile(r"^__dn_batch=(-?\d+)$")


def _batch_dirs(sink_path: str) -> dict[int, str]:
    """{batch_id: dirname} for every ``__dn_batch=<int>`` child."""
    out: dict[int, str] = {}
    try:
        names = os.listdir(sink_path)
    except FileNotFoundError:
        return out
    for name in names:
        m = _BATCH_RE.match(name)
        if m and os.path.isdir(os.path.join(sink_path, name)):
            out[int(m.group(1))] = name
    return out


def load_sink_marker(sink_path: str) -> dict:
    """The sink's marker record; its ``store_path`` names the store
    whose lease and batch ledger govern the sink. A sink without the
    marker (written before the live ingesters stamped one, or not a
    curated sink at all) fails loudly: the governing store is then
    unknown and must be passed as ``store_path``."""
    marker = os.path.join(sink_path, SINK_MARKER)
    try:
        with open(marker) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ContractError(
            f"no sink marker {SINK_MARKER} in {sink_path!r}: the store "
            "that governs this sink is unknown — pass store_path (the "
            "store whose lease and batch ledger its live ingester used)"
        ) from None


def _recover_sink(sink_path: str) -> None:
    """Complete (or roll back) a crashed compaction. Caller must hold
    the store lease or have established the compactor is dead."""
    stage = os.path.join(sink_path, _STAGE)
    swap = os.path.join(sink_path, _SWAP)
    trash = os.path.join(sink_path, _TRASH)
    if os.path.exists(swap):
        with open(swap) as f:
            info = json.load(f)
        target = os.path.join(sink_path, info["target"])
        manifest = os.path.join(stage, SEGMENT_MANIFEST)
        if os.path.exists(stage) and os.path.exists(manifest):
            # staged and manifested: roll FORWARD
            os.makedirs(trash, exist_ok=True)
            for name in info["sources"]:
                src = os.path.join(sink_path, name)
                if os.path.exists(src):
                    os.rename(src, os.path.join(trash, name))
            if not os.path.exists(target):
                os.rename(stage, target)
        elif os.path.exists(stage):
            # marker written but manifest missing: impossible in the
            # healthy protocol (manifest precedes marker) — treat as
            # torn stage, roll back
            shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(trash, ignore_errors=True)
        os.remove(swap)
    else:
        # stage without a swap marker = crash before the point of no
        # return: the stage was never visible, sources are intact
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(trash, ignore_errors=True)


def compact_sink(
    spark: SparkSession,
    sink_path: str,
    store_path: str | None = None,
    min_batches: int = 2,
    keep_last: int = 0,
    files_per_segment: int = 8,
    wait_s: float | None = None,
    order_by: str | None = None,
) -> dict:
    """Fold every provably-folded ``__dn_batch`` dir into one new base
    segment. Returns a report dict (``folded``, ``segment``,
    ``skipped_unledgered``). ``store_path`` defaults to the sink
    marker's recorded store; ``keep_last`` optionally exempts the
    highest N real batch ids; ``files_per_segment`` bounds the
    segment's file count (the whole point is fewer files).

    ``order_by`` sorts the segment by a column while folding
    (range-partitioned sort → one sorted parquet file per range), so
    parquet row-group min/max statistics become selective for that
    column: a downstream filter or store probe on it prunes most of
    the segment's row groups instead of scanning the year's corpus.
    Micro-batch dirs are written in arrival order and can't have this
    layout — compaction is exactly the place clustering is free."""
    store_path = store_path or load_sink_marker(sink_path)["store_path"]
    with hold_lease(store_path, "compact-sink", wait_s=wait_s):
        _recover_sink(sink_path)
        dirs = _batch_dirs(sink_path)
        real = sorted(i for i in dirs if i >= 0)
        if keep_last:
            real = real[: -keep_last or None]
        safe, skipped = [], []
        for i in real:
            key = sink_commit_key(os.path.join(sink_path, dirs[i]))
            if key is not None and batch_marked(store_path, key, i):
                safe.append(dirs[i])
            else:
                skipped.append(dirs[i])
        report = {
            "folded": [],
            "segment": None,
            "skipped_unledgered": skipped,
        }
        if len(safe) < min_batches:
            return report

        target_id = min([i for i in dirs if i < 0], default=0) - 1
        target = f"__dn_batch={target_id}"
        stage = os.path.join(sink_path, _STAGE)
        shutil.rmtree(stage, ignore_errors=True)
        src_paths = [os.path.join(sink_path, n) for n in safe]
        df = spark.read.parquet(*src_paths)
        n_rows = df.count()
        if order_by:
            df = df.repartitionByRange(files_per_segment, order_by)
            df = df.sortWithinPartitions(order_by)
        else:
            df = df.repartition(files_per_segment)
        df.write.mode("overwrite").parquet(stage)
        with open(os.path.join(stage, SEGMENT_MANIFEST), "w") as f:
            json.dump(
                {"sources": safe, "rows": n_rows, "target": target}, f
            )
        # point of no return: after the marker lands, recovery rolls
        # FORWARD; before it, the invisible stage just gets deleted
        swap = os.path.join(sink_path, _SWAP)
        tmp = swap + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"target": target, "sources": safe}, f)
        os.replace(tmp, swap)
        trash = os.path.join(sink_path, _TRASH)
        os.makedirs(trash, exist_ok=True)
        for name in safe:
            os.rename(
                os.path.join(sink_path, name), os.path.join(trash, name)
            )
        os.rename(stage, os.path.join(sink_path, target))
        shutil.rmtree(trash, ignore_errors=True)
        os.remove(swap)
        report["folded"] = safe
        report["segment"] = target
        return report


def read_curated_sink(
    spark: SparkSession, sink_path: str, store_path: str | None = None
) -> DataFrame:
    """Contract-following sink reader: returns the sink DataFrame,
    never a partial view. A LIVE compactor's swap window (store lease
    held, ``.dn_compact_swap`` present) is waited out, then raises the
    retryable ``StoreBusyError``; a DEAD compactor's crash state is
    repaired under the store lease before reading."""
    swap = os.path.join(sink_path, _SWAP)
    stage = os.path.join(sink_path, _STAGE)

    def settled() -> bool:
        return not (os.path.exists(swap) or os.path.exists(stage))

    if not settled():
        store_path = store_path or load_sink_marker(sink_path)["store_path"]
        if not wait_out_maintenance(
            store_path, settled, f"sink {sink_path!r}"
        ):
            # lease dead with leftover state: crashed compactor —
            # repair before reading (serialized via the lease)
            with hold_lease(store_path, "sink-reader-repair"):
                _recover_sink(sink_path)
    return spark.read.parquet(sink_path)
