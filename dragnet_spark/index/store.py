"""The store commit protocol: one owner for every decision the
persisted stores (fingerprint, band and SRP stores, vector index,
components store, KMV sketch) and the streaming ingesters make about
committing, recovering and reading their data directories.

The reference commits every index file the same way — write a temp
file, then rename it (lib/index-sink.js). The stores here commit whole
directories, and four decisions make that safe:

* **Layout token** (:func:`layout_token` / :func:`write_layout` /
  :func:`check_layout`): a digest of everything that defines a data
  directory's keys lives in BOTH the meta file and (as the
  underscore-prefixed, Spark-invisible ``_dn_layout``) inside the data
  directory. A maintenance job that dies between swapping the data
  directory and replacing the meta file leaves the two out of sync,
  which every read and append then reports loudly instead of
  answering against mismatched keys.
* **Staged swap and its recovery** (:func:`staged_swap` /
  :func:`recover_staged`): a rewrite is written to a stage beside the
  data directory (same filesystem), then swapped in by the one rename
  pair (:func:`_swap_in`). A crash strictly between the two renames
  leaves the data alive only in the old-dir sibling; the next read,
  append, compaction or merge renames it back.
* **Guarded read** (:func:`read_store`): recovery, the layout check,
  then a plan-time parquet read that keeps the reader contract under
  concurrent maintenance — readers see the old answer, the new
  answer, or a retryable error, never a partial read, and never
  repair under a live lease holder (:func:`wait_out_maintenance`, the
  one wait loop, shared with the curated sink's reader).
* **Micro-batch replay ledger** (:class:`BatchLedger`): foreachBatch
  delivery is at-least-once, so a batch whose work committed is
  marked under ``<root>/_dn_batch_ledger/<sha256(checkpoint)[:12]>/``
  and a replay of its id is skipped. Sink-writing ingesters also
  stamp each batch dir with the ``_dn_committed`` sentinel
  (:data:`COMMIT_SENTINEL`).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import functions as F

from dragnet_spark.errors import ContractError
from dragnet_spark.index.lease import (
    StoreBusyError,
    ensure_lease,
    held_by_this_thread,
    lease_is_live,
)

#: the data directory's copy of the layout token
LAYOUT_FILE = "_dn_layout"
_STAGE = ".compact_tmp"
_OLD = ".compact_old"
_LEDGER = "_dn_batch_ledger"
#: how long a reader waits out a LIVE job's swap window (two renames —
#: microseconds in practice) before giving up with the clean,
#: retryable StoreBusyError.
_READER_SWAP_WAIT_S = 5.0


# ------------------------------------------------------- layout token


def layout_token(basis: dict) -> str:
    """Deterministic digest of the parameters that define a layout."""
    return hashlib.sha256(
        json.dumps(basis, sort_keys=True).encode()
    ).hexdigest()[:16]


def write_layout(data_dir: str, token: str) -> None:
    with open(os.path.join(data_dir, LAYOUT_FILE), "w") as f:
        f.write(token)


def check_layout(path: str, meta_file: str, data_dir: str, what: str) -> None:
    """Fail loudly when the data directory's layout token disagrees
    with the meta file's — the signature of a maintenance job (compact,
    recenter, rebuild-with-new-params) that crashed between its
    directory swap and its meta replace. Back-compat: stores built
    before tokens existed (either side missing) are accepted unchecked."""
    meta_path = os.path.join(path, meta_file)
    tok_path = os.path.join(path, data_dir, LAYOUT_FILE)
    if not (os.path.exists(meta_path) and os.path.exists(tok_path)):
        return
    with open(meta_path) as f:
        expect = json.load(f).get("layout_token")
    if not expect:
        return
    with open(tok_path) as f:
        disk = f.read().strip()
    if disk != expect:
        raise ContractError(
            f"{what} layout/meta mismatch (a maintenance job crashed "
            f"mid-swap?): data dir carries layout {disk!r} but metadata "
            f"expects {expect!r} — rebuild or re-run the maintenance job"
        )


# --------------------------------------------- staged swap + recovery


def wait_out_maintenance(store_root: str, settled, what: str) -> bool:
    """Poll ``settled()`` while ANOTHER job's lease on ``store_root``
    is live. Returns True once it holds, False as soon as no live
    lease remains (the holder finished — or crashed, and the caller
    may now repair). Raises the retryable :class:`StoreBusyError` when
    the window does not close within ``_READER_SWAP_WAIT_S``."""
    deadline = time.monotonic() + _READER_SWAP_WAIT_S
    while lease_is_live(store_root):
        if settled():
            return True
        if time.monotonic() >= deadline:
            raise StoreBusyError(
                f"{what} is mid-maintenance (a live job holds the lease "
                f"of {store_root!r} and its swap hasn't settled after "
                f"{_READER_SWAP_WAIT_S:.0f}s); no data was read or "
                f"modified — retry after the maintenance job finishes."
            )
        time.sleep(0.05)
    return False


def recover_staged(dest: str) -> None:
    """Repair :func:`staged_swap`'s crash window: a swap that died
    strictly BETWEEN its two renames leaves ``dest`` absent with the
    data alive only in the old-dir sibling — rename it back. A no-op
    in the healthy state.

    Lease-aware, because the same missing-dir state is what a reader
    sees INSIDE a live job's swap window, where a repair would undo
    the live swap's first rename and crash its second: under another
    job's LIVE lease the reader waits the window out
    (:func:`wait_out_maintenance`). Only a dead lease, or this
    thread's own hold, repairs. Under its own hold the caller also
    clears a crashed job's leftover stage and old-dir sibling: only a
    lease holder stages, so any it did not write are garbage."""
    old = dest + _OLD
    store_root = os.path.dirname(dest)
    held = held_by_this_thread(store_root)
    if (
        not os.path.exists(dest)
        and os.path.exists(old)
        and (held or not wait_out_maintenance(
            store_root, lambda: os.path.exists(dest), f"store {store_root!r}"
        ))
        and not os.path.exists(dest)  # resolved while we watched
    ):
        # crashed job (or our own hold): repair. Two readers can race
        # here — exactly one rename wins; the loser just needs dest.
        try:
            os.rename(old, dest)
        except OSError:
            if not os.path.exists(dest):
                raise
    if held:
        shutil.rmtree(dest + _STAGE, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)


def _swap_in(stage: str, dest: str) -> None:
    """The rename pair. A job that stalled past its lease TTL may have
    had the lease stolen by a live appender — fail loudly BEFORE the
    swap rather than clobber the thief's work (lease.py). A failed
    second rename undoes the first, so ``dest`` is never left absent
    by a live process."""
    old = dest + _OLD
    ensure_lease(os.path.dirname(dest))
    os.rename(dest, old)
    try:
        os.rename(stage, dest)
    except BaseException:
        os.rename(old, dest)
        raise
    shutil.rmtree(old, ignore_errors=True)


def staged_swap(dest: str, write, token: str | None = None) -> None:
    """Replace data directory ``dest`` with what ``write(stage)``
    writes: Spark cannot overwrite the parquet tree it is reading, so
    the rewrite goes to a stage beside ``dest``, carries ``token``
    (when given) as its layout file, and is swapped in by
    :func:`_swap_in`. The caller holds the store lease, so leftovers of
    an earlier crash are recovered and cleared first
    (:func:`recover_staged`); the stage never outlives the call."""
    stage = dest + _STAGE
    recover_staged(dest)
    try:
        write(stage)
        if token:
            write_layout(stage, token)
        _swap_in(stage, dest)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def rewrite_partitioned(
    df,
    part_col: str,
    dest: str,
    key_col: str,
    files_per_partition: int = 1,
    token: str | None = None,
) -> None:
    """Compaction rewrite of a partitioned data dir through
    :func:`staged_swap`. ``files_per_partition`` bounds output files
    per partition dir by routing each (partition, key-hash slice) to
    one task. The default 1 is right locally and for the 256-bucket fp
    store; for the 8-way band store at real scale, pass enough slices
    that a slice is one task's worth of data — one file per band would
    funnel 1/8 of the store through a single task."""
    slice_col = F.pmod(
        F.xxhash64(F.col(key_col)), F.lit(files_per_partition)
    )
    staged_swap(
        dest,
        lambda stage: df.repartition(F.col(part_col), slice_col)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(stage),
        token,
    )


# ------------------------------------------------------- guarded read


#: error shapes of a plan-time parquet read whose just-listed files
#: vanished — a directory swap racing the read, never a wrong answer
#: (no row was produced). Matched by message: they arrive as a
#: py4j-wrapped Java cause chain.
_SWAP_RACE_ERRORS = (
    "FileNotFoundException", "FILE_NOT_EXIST", "FAILED_READ_FILE",
    "PATH_NOT_FOUND",
)


def _read_store_parquet(
    spark, store_root: str, data_dir: str, schema: str | None = None
):
    """Plan-time parquet read of a store data dir under concurrent
    maintenance.

    ``spark.read.parquet`` eagerly lists files and reads footers for
    schema inference, so a swap landing between the listing and the
    footer reads surfaces as a raw FileNotFoundException. This maps
    that shape back to the reader contract: retry while ANOTHER
    holder's live swap settles (the post-swap directory is readable at
    once), raise the retryable ``StoreBusyError`` if it won't, and
    never mask the error otherwise — under this thread's own lease it
    is a real bug, and with no live lease it gets exactly one recovery
    pass (the holder may have crashed mid-swap) before it propagates."""
    dest = os.path.join(store_root, data_dir)
    reader = spark.read if schema is None else spark.read.schema(schema)
    last = []

    def attempt() -> bool:
        try:
            last.append(reader.parquet(dest))
            return True
        except Exception as e:  # noqa: BLE001 — filtered just below
            if held_by_this_thread(store_root) or not any(
                m in str(e) for m in _SWAP_RACE_ERRORS
            ):
                raise
            last.append(e)
            return False

    if attempt() or wait_out_maintenance(
        store_root, attempt, f"store {store_root!r}"
    ):
        return last[-1]
    recover_staged(dest)
    if attempt():
        return last[-1]
    raise last[-1]


def guard_store(path: str, data_dir: str, meta_file: str, what: str) -> None:
    """Recovery, then the layout check — what every read and append of
    a swapped data dir runs first (an append into the crash window
    would otherwise create a fresh ``data_dir`` and strand the real
    data in the old-dir sibling)."""
    recover_staged(os.path.join(path, data_dir))
    check_layout(path, meta_file, data_dir, what)


def read_store(
    spark,
    path: str,
    data_dir: str,
    meta_file: str,
    what: str,
    schema: str | None = None,
):
    """The guarded read of store ``path``'s ``data_dir``:
    :func:`guard_store`, then :func:`_read_store_parquet`. ``schema``
    skips inference (a fresh store may hold no files yet)."""
    guard_store(path, data_dir, meta_file, what)
    return _read_store_parquet(spark, path, data_dir, schema)


# ---------------------------------------------- micro-batch replay ledger


#: framework-owned sink-commit sentinel. Spark's _SUCCESS marker is
#: NOT a reliable commit record: with
#: mapreduce.fileoutputcommitter.marksuccessfuljobs=false (common on
#: object stores) no _SUCCESS is ever written, so a replay would
#: recompute the anti-join against the already-folded store, find zero
#: survivors, and OVERWRITE the committed batch dir — silent sink data
#: loss. The sentinel is written after the sink write, independent of
#: committer config, and records the checkpoint key so a committed
#: ``__dn_batch=0`` from a PREVIOUS checkpoint (fresh checkpoints
#: restart batch ids at 0) is never aliased as this run's survivor set.
COMMIT_SENTINEL = "_dn_committed"


def _marker(root: str, key: str, batch_id: int) -> str:
    return os.path.join(root, _LEDGER, key, f"{batch_id:012d}")


def batch_marked(root: str, key: str, batch_id: int) -> bool:
    """True iff batch ``batch_id`` of the run keyed ``key`` committed
    its work against the store at ``root``."""
    return os.path.exists(_marker(root, key, batch_id))


def sink_commit_key(bdir: str) -> str | None:
    """The checkpoint key a batch dir's sentinel records, or None."""
    try:
        with open(os.path.join(bdir, COMMIT_SENTINEL)) as f:
            return f.read().strip()
    except OSError:
        return None


class BatchLedger:
    """The replay ledger of one foreachBatch body writing to ``root``.

    Keyed by a digest of the checkpoint path because batch ids restart
    from 0 with every fresh checkpoint; without a checkpoint there is
    no replay, so nothing is marked (the key still names the run's
    sink commits). A body skips when :meth:`done`, and calls
    :meth:`mark` strictly after its work committed — a crash between
    the two replays the batch, never loses it."""

    def __init__(self, root: str, checkpoint: str | None):
        self.root = root
        self.key = hashlib.sha256((checkpoint or "").encode()).hexdigest()[:12]
        self.enabled = bool(checkpoint)

    def done(self, batch_id: int) -> bool:
        return self.enabled and batch_marked(self.root, self.key, batch_id)

    def mark(self, batch_id: int) -> None:
        if self.enabled:
            p = _marker(self.root, self.key, batch_id)
            os.makedirs(os.path.dirname(p), exist_ok=True)
            with open(p, "w"):
                pass

    def mark_sink_committed(self, bdir: str) -> None:
        with open(os.path.join(bdir, COMMIT_SENTINEL), "w") as f:
            f.write(self.key)

    def sink_committed(self, bdir: str) -> bool:
        """True iff ``bdir`` holds a COMPLETE sink write from THIS
        checkpoint's run — the only case where replay may reuse it.
        Upgrade path: a dir committed before the sentinel existed
        (``_SUCCESS`` only) is this run's own survivor set — recomputing
        it against the already-folded store would overwrite it with
        nothing — so it counts as committed and is stamped on reuse."""
        key = sink_commit_key(bdir)
        if key is None:
            if os.path.exists(os.path.join(bdir, "_SUCCESS")):
                self.mark_sink_committed(bdir)
                return True
            return False
        return key == self.key
