"""Unified store maintenance: discover every dragnet store under a
root, read its health signals, and run exactly the lease-guarded
maintenance it needs.

The reference leaves maintenance to the operator (re-run `dn build`
when an index drifts; nothing watches file counts). At 100 TB the
stores are long-lived and continuously appended, so maintenance must
be a scheduled job, not a human judgment call — this module is that
job's brain: one `dn maintain <root>` (cron-able, like `dn
vindex-ingest`) walks the tree, classifies each store by its marker
file, computes the cheap health signals, and applies the documented
policies:

* **fragmentation** (every store): per-batch appends write one file
  per touched partition per batch; after N batches a partition holds
  N small files and every probe pays N file-opens. Signal: max
  parquet files in any leaf partition directory — a pure filesystem
  listing, no Spark job. Past ``max_files`` → the store's compact
  (answer-preserving, staged, lease-serialized).
* **drift** (vector index): max/mean cell skew past the documented
  ~4× trigger → recenter (which rewrites everything, so compaction is
  subsumed and skipped).
* **growth** (vector index built with ``target_rows_per_cell``):
  mean rows/cell past 2× the target → recenter with cell-count
  growth (``auto_cell_count``).
* **saturation** (bloom store): bitset fill factor and the implied
  false-positive rate (fill^k). The store is immutable by contract,
  so a saturated bitset (est. fpp past ``fpp_advisory``) yields an
  ADVISORY — ``rebuild-recommended(larger m_bits)`` in the record's
  ``advisories`` — never an executed action: a bloom past its design
  fpp still never loses a true hit (no false negatives), it just
  pays a bigger verify join, so the rebuild is an operator decision.

Every action runs through the store's own API, so the lease,
staged-rewrite crash recovery, and layout-token machinery all apply;
a store whose lease is held by a live writer raises ``LeaseHeldError``
loudly rather than waiting forever (callers pick the cadence).

Discovery prunes at store boundaries (a store's internals are never
scanned for nested stores) and classifies strictly by marker file:

==========================  ==========================================
marker file                 store kind
==========================  ==========================================
``_dragnet_index.json``     ``index`` (metric views, index/build.py)
``_fp_store.json``          ``fp`` (exact fingerprints)
``_band_store.json``        ``band`` (minhash LSH bands)
``_srp_store.json``         ``srp`` (SRP semantic bands)
``_vector_index.json``      ``vindex`` (IVF ANN index)
``_dn_sink.json``           ``sink`` (curated streaming sink)
``_lm_store.json``          ``lm`` (frozen reference LM)
``_bloom_store.json``       ``bloom`` (frozen benchmark Bloom)
``_kmv_store.json``         ``kmv`` (KMV sketch, self-compacting)
``_components_store.json``  ``components`` (connected components)
==========================  ==========================================

The curated sink's fragmentation unit is the BATCH DIRECTORY (one per
micro-batch, unbounded over a stream's lifetime); past ``max_files``
committed dirs it is folded into negative-id base segments by
``streaming/sink.compact_sink`` (only provably-folded batches move —
see that module's ledger proof).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# marker file → (kind, data subdirectories holding partitioned parquet)
_MARKERS = {
    "_dragnet_index.json": ("index", None),  # data dirs come from meta
    "_fp_store.json": ("fp", ("fingerprints",)),
    "_band_store.json": ("band", ("bands",)),
    "_srp_store.json": ("srp", ("srp_bands", "srp_band_pairs")),
    "_vector_index.json": ("vindex", ("vectors",)),
    "_dn_sink.json": ("sink", None),  # curated sink: batch-dir count
    # immutable by contract (the frozen-judge property, index/lm.py,
    # index/bloom.py): listed so the fleet view is complete, never
    # compacted
    "_lm_store.json": ("lm", ("unigrams", "bigrams")),
    "_bloom_store.json": ("bloom", ("grams",)),
    # self-compacting: every merge stage-swaps the whole (sketch-sized)
    # state back to one file, so there is never fold-in debt to sweep
    "_kmv_store.json": ("kmv", ("sketch",)),
    # round-10: incremental connected components — folds append new
    # labels + redirect rows; compaction folds the redirect forest
    # into the base table
    "_components_store.json": ("components", ("labels", "redirects")),
}

#: store kinds whose layout is written once at build and never
#: appended to — the maintenance planner lists them but never
#: schedules a compaction. The kmv store is mutable but rewrites
#: itself whole on every merge, so it carries no compactable debt
#: either.
IMMUTABLE_KINDS = ("lm", "bloom", "kmv")


def discover_stores(root: str) -> list[dict]:
    """Walk ``root`` and return ``[{"path", "kind"}]`` for every store
    found, classified by marker file. Descent stops at each store (its
    internals are data, not a place to find more stores). Deterministic
    order (sorted walk) so repeated runs plan identically."""
    found = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        kinds = [k for m, (k, _) in _MARKERS.items() if m in filenames]
        if kinds:
            # a dir carrying two markers is corrupt, not two stores
            if len(kinds) > 1:
                raise ValueError(
                    f"{dirpath}: multiple store markers {sorted(kinds)}"
                )
            found.append({"path": dirpath, "kind": kinds[0]})
            dirnames[:] = []  # prune: never descend into a store
    return sorted(found, key=lambda s: s["path"])


def _data_dirs(path: str, kind: str) -> list[str]:
    if kind == "index":
        # one directory per metric view, named in the index metadata
        from dragnet_spark.index.query import load_index_meta

        meta = load_index_meta(path)
        return [
            os.path.join(path, m["name"])
            for m in meta.get("metrics", [])
        ]
    subs = next(s for _m, (k, s) in _MARKERS.items() if k == kind)
    return [os.path.join(path, s) for s in subs]


def _max_files_per_leaf(data_dir: str) -> int:
    """Max parquet data files in any leaf directory under ``data_dir``
    — the fragmentation signal. Pure local listing (the 100 TB analog
    is one object-store LIST per partition; still no Spark job)."""
    worst = 0
    for dirpath, _dirnames, filenames in os.walk(data_dir):
        n = sum(
            1 for f in filenames
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        worst = max(worst, n)
    return worst


def store_health(spark: SparkSession, path: str, kind: str) -> dict:
    """Health signals for one store. Filesystem-only except the vector
    index's cell stats (parquet row-group metadata)."""
    h: dict = {"path": path, "kind": kind}
    if kind == "sink":
        # the sink's fragmentation unit is the BATCH DIR, not files
        # within one (one dir per micro-batch, unbounded over time)
        from dragnet_spark.streaming.sink import _batch_dirs

        h["n_batch_dirs"] = sum(
            1 for i in _batch_dirs(path) if i >= 0
        )
        h["max_files_per_partition"] = h["n_batch_dirs"]
        return h
    h["max_files_per_partition"] = max(
        (_max_files_per_leaf(d) for d in _data_dirs(path, kind)),
        default=0,
    )
    if kind == "bloom":
        import numpy as np

        from dragnet_spark.index.bloom import load_bloom_meta

        meta = load_bloom_meta(path)
        bits = np.fromfile(
            os.path.join(path, "bitset.bin"), dtype=np.uint8
        )
        fill = float(np.unpackbits(bits).mean()) if len(bits) else 0.0
        h["bloom_fill"] = round(fill, 6)
        h["bloom_est_fpp"] = round(fill ** meta["k"], 9)
        h["n_grams"] = meta["n_grams"]
    if kind == "vindex":
        from dragnet_spark.index.vector import (
            load_vector_index_meta,
            vector_index_cell_stats,
        )

        meta = load_vector_index_meta(path)
        counts = [
            r["n_vectors"]
            for r in vector_index_cell_stats(spark, path).collect()
        ]
        total = sum(counts)
        h["rows"] = total
        h["skew"] = (
            max(counts) / (total / len(counts)) if counts else 0.0
        )
        target = meta.get("target_rows_per_cell")
        h["target_rows_per_cell"] = target
        h["mean_rows_per_cell"] = total / max(
            int(meta.get("n_centroids", 1)), 1
        )
    return h


def plan_maintenance(
    spark: SparkSession,
    root: str,
    max_files: int = 4,
    skew_trigger: float = 4.0,
    growth_trigger: float = 2.0,
    fpp_advisory: float = 0.01,
) -> list[dict]:
    """Health-check every store under ``root`` and decide its actions.
    Returns one record per store: the health dict plus ``actions``
    (possibly empty) and ``advisories`` (flags the planner never
    executes). Decision order: a vindex that needs recentering
    (drift OR growth) gets ``recenter`` alone — the rebuild rewrites
    every cell, so a compact would be wasted work; otherwise any store
    past ``max_files`` gets ``compact``. A bloom store whose implied
    fpp exceeds ``fpp_advisory`` gets the rebuild advisory."""
    plan = []
    for store in discover_stores(root):
        h = store_health(spark, store["path"], store["kind"])
        actions = []
        h["advisories"] = []
        if store["kind"] == "bloom" and h["bloom_est_fpp"] > fpp_advisory:
            h["advisories"].append("rebuild-recommended(larger m_bits)")
        if store["kind"] == "vindex":
            target = h.get("target_rows_per_cell")
            if (h["skew"] and h["skew"] >= skew_trigger) or (
                target is not None
                and h["mean_rows_per_cell"] >= growth_trigger * target
            ):
                actions.append("recenter")
        if (
            not actions
            and store["kind"] not in IMMUTABLE_KINDS
            and h["max_files_per_partition"] > max_files
        ):
            actions.append("compact")
        h["actions"] = actions
        plan.append(h)
    return plan


_COMPACT = {
    "index": "dragnet_spark.index.build:compact_index",
    "fp": "dragnet_spark.index.fingerprints:compact_fingerprint_store",
    "band": "dragnet_spark.index.fingerprints:compact_band_store",
    "srp": "dragnet_spark.index.fingerprints:compact_srp_store",
    "vindex": "dragnet_spark.index.vector:compact_vector_index",
    "sink": "dragnet_spark.streaming.sink:compact_sink",
    "components": "dragnet_spark.index.components:compact_components_store",
}


def _resolve(spec: str):
    import importlib

    mod, fn = spec.split(":")
    return getattr(importlib.import_module(mod), fn)


def run_maintenance(
    spark: SparkSession,
    root: str,
    dry_run: bool = False,
    max_files: int = 4,
    skew_trigger: float = 4.0,
    growth_trigger: float = 2.0,
    lease_wait_s: float = 10.0,
) -> list[dict]:
    """Plan and (unless ``dry_run``) execute maintenance for every
    store under ``root``. Each record gains ``applied`` (actions that
    ran) and, on failure, ``error`` (the exception text — one store's
    held lease or corruption must not abort the fleet's sweep).
    ``lease_wait_s`` deliberately undercuts the lease module's
    5-minute default: a fleet sweep should skip a store whose writer
    is mid-batch (LeaseHeldError → error record; the next scheduled
    run retries) rather than stall the whole fleet behind it."""
    plan = plan_maintenance(
        spark, root, max_files=max_files,
        skew_trigger=skew_trigger, growth_trigger=growth_trigger,
    )
    for rec in plan:
        rec["applied"] = []
        if dry_run:
            continue
        try:
            for action in rec["actions"]:
                if action == "recenter":
                    from dragnet_spark.index.vector import (
                        recenter_vector_index,
                    )

                    recenter_vector_index(
                        spark, rec["path"], wait_s=lease_wait_s
                    )
                else:
                    _resolve(_COMPACT[rec["kind"]])(
                        spark, rec["path"], wait_s=lease_wait_s
                    )
                rec["applied"].append(action)
        except Exception as exc:  # noqa: BLE001 — reported per store
            rec["error"] = f"{type(exc).__name__}: {exc}"
    return plan
