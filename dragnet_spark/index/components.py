"""Incremental connected-components store: dedup-cluster assignments
a continuous-ingest pipeline maintains per batch instead of
recomputing the whole graph.

Why a STORE: cluster-level dedup (connected components over the
near-dup pair graph) is the one curation stage whose natural batch
form touches EVERYTHING — a new pair can merge two existing clusters,
so the naive response to an arriving batch is a full-corpus closure.
But the merge structure is tiny: an arriving batch of E pairs can
merge at most E+1 existing components. This store folds a batch with
work proportional to the BATCH (plus the redirect table, which is
component-count-sized), by the classic union-find-as-dataframes
decomposition:

1. resolve each batch endpoint to its CURRENT root (base label from
   ``labels/``, then the flattened ``redirects/`` chain — both joins
   against batch-sized or component-count-sized tables);
2. run min-label closure over the QUOTIENT graph — nodes are the
   resolved roots touched by the batch, edges are the batch pairs
   mapped to root space; ≤ 2E nodes regardless of corpus size;
3. append the resulting root merges as (old_label, new_label)
   redirect rows, and the batch's genuinely-new ids as self-labeled
   rows in ``labels/``.

Reads resolve ``labels`` through the flattened redirect forest (the
redirect table pointer-jumps to its roots in O(log chain) self-joins
of a SMALL table, then one join against labels). ``compact`` folds
the redirects into the base table (one full pass, stage-then-swap,
lease-serialized) — the same amortization contract as every other
store's compaction.

EXACTNESS (the stream==batch discipline all dragnet stores hold):
because every label is the minimum id of the node set it stands for,
min-label closure over the quotient graph composes associatively —
N incremental folds in ANY batch order produce bit-identical
assignments to one closure over the concatenated pair set. Tested in
``test_components_store.py`` (including fold-order permutations) and
graded in the registry (``dedup_clusters_incremental``) against the
same recursive-closure DuckDB oracle as the batch entry.

Layout (marker-file convention of index/maintain.py):

    <path>/_components_store.json   {version, id_col}
    <path>/labels/                  (id, component) parquet
    <path>/redirects/               (old_label, new_label) parquet

Folds are lease-serialized (index/lease.py); compaction stages then
swaps, so a reader mid-compact sees the old state or the new, never a
partial directory.

Reference parity: the reference engine has no graph or store of this
kind; this is a beyond-reference continuous-curation addition (the
brief's dedup family under streaming ingest).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dragnet_spark.index.lease import ensure_lease, hold_lease
from dragnet_spark.index.store import read_store, staged_swap
from dragnet_spark.ops.graph import connected_components

COMP_META = "_components_store.json"
LABELS_DIR = "labels"
REDIRECTS_DIR = "redirects"


def _meta_path(path: str) -> str:
    return os.path.join(path, COMP_META)


def load_components_meta(path: str) -> dict:
    with open(_meta_path(path)) as f:
        return json.load(f)


def build_components_store(
    spark: SparkSession,
    ids: DataFrame,
    pairs: DataFrame,
    path: str,
    id_col: str = "id",
) -> None:
    """Full closure over (ids, pairs) materialized at ``path``."""
    os.makedirs(path, exist_ok=True)
    labels = connected_components(ids, pairs, id_col=id_col)
    labels.write.mode("overwrite").parquet(os.path.join(path, LABELS_DIR))
    _write_empty_redirects(spark, path)
    with open(_meta_path(path), "w") as f:
        json.dump({"version": "1.0", "id_col": id_col}, f)


def _read_labels(spark: SparkSession, path: str) -> DataFrame:
    return read_store(spark, path, LABELS_DIR, COMP_META, "components store")


def _write_empty_redirects(spark: SparkSession, path: str) -> None:
    spark.createDataFrame(
        [], "old_label long, new_label long"
    ).write.mode("overwrite").parquet(os.path.join(path, REDIRECTS_DIR))


def _flat_redirects(spark: SparkSession, path: str) -> DataFrame:
    """(old_label, new_label) with every chain pointer-jumped to its
    root. The redirect table is component-count-sized (each old label
    appears exactly once as a source across the store's lifetime —
    folds resolve through the current redirects first, so a retired
    label never re-enters), and chains halve per jump round."""
    r = spark.read.parquet(os.path.join(path, REDIRECTS_DIR))
    for _ in range(20):  # 2^20 chain depth — unreachable in practice
        n2 = r.select(
            F.col("old_label").alias("o2"), F.col("new_label").alias("n2")
        )
        jumped = (
            r.join(n2, r.new_label == n2.o2, "left")
            .select(
                "old_label",
                F.coalesce(F.col("n2"), F.col("new_label")).alias("new_label"),
            )
        )
        # converged when no redirect target is itself redirected
        still = (
            jumped.alias("j")
            .join(n2.alias("x"), F.col("j.new_label") == F.col("x.o2"))
            .limit(1)
            .count()
        )
        r = jumped
        if still == 0:
            break
    else:
        raise RuntimeError("redirect chains did not flatten in 20 jumps")
    return r


def merge_components_batch(
    spark: SparkSession, pairs: DataFrame, path: str,
    ids: DataFrame | None = None,
) -> None:
    """Fold one arriving batch of undirected (id_a, id_b) pairs into
    the store. Work ∝ batch size + redirect-table size: the corpus
    labels are only ever JOINED against the batch's endpoints; the
    closure runs over the quotient graph (≤ 2·|batch| nodes).

    ``ids`` (optional, one ``id`` column): the batch's FULL id set —
    isolated new ids (no pair this batch) enter ``labels/`` as
    self-labeled singletons, which is what a continuous-ingest
    caller needs so every sunk document has a cluster row the moment
    it lands (the streaming live-components loop passes the batch's
    doc ids here). Re-folding the same batch is idempotent: resolved
    endpoints already share roots (no new redirects) and existing ids
    anti-join away (no duplicate labels)."""
    meta = load_components_meta(path)
    del meta  # id space is the caller's; nothing else to configure yet
    labels_path = os.path.join(path, LABELS_DIR)
    with hold_lease(path, "components-merge"):
        labels = _read_labels(spark, path)
        red = _flat_redirects(spark, path)
        ends = (
            pairs.select(F.col("id_a").alias("id"))
            .unionByName(pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
        if ids is not None:
            ends = ends.unionByName(ids.select("id")).distinct()
        # current root per batch endpoint: base label (self for new
        # ids), then one hop through the flattened redirect forest
        resolved = (
            ends.join(labels, "id", "left")
            .select(
                "id", F.coalesce("component", "id").alias("base")
            )
            .join(red, F.col("base") == red.old_label, "left")
            .select(
                "id", F.coalesce("new_label", "base").alias("root")
            )
            .persist()
        )
        ra = resolved.select(
            F.col("id").alias("id_a"), F.col("root").alias("ra")
        )
        rb = resolved.select(
            F.col("id").alias("id_b"), F.col("root").alias("rb")
        )
        qedges = (
            pairs.join(ra, "id_a")
            .join(rb, "id_b")
            .filter(F.col("ra") != F.col("rb"))
            .select(F.col("ra").alias("id_a"), F.col("rb").alias("id_b"))
            .distinct()
        )
        qnodes = resolved.select(F.col("root").alias("id")).distinct()
        comp = connected_components(qnodes, qedges)
        merges = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("old_label"),
            F.col("component").alias("new_label"),
        )
        new_nodes = (
            resolved.join(labels.select("id"), "id", "left_anti")
            .select("id", F.col("id").alias("component"))
        )
        ensure_lease(path)
        merges.write.mode("append").parquet(
            os.path.join(path, REDIRECTS_DIR)
        )
        new_nodes.write.mode("append").parquet(labels_path)
        resolved.unpersist()


def components_store_read(spark: SparkSession, path: str) -> DataFrame:
    """(id, component) with redirects applied — the current
    assignment, identical to a from-scratch closure over every pair
    ever folded."""
    labels = _read_labels(spark, path)
    red = _flat_redirects(spark, path)
    return (
        labels.join(red, labels.component == red.old_label, "left")
        .select(
            "id", F.coalesce("new_label", "component").alias("component")
        )
    )


def compact_components_store(spark: SparkSession, path: str) -> None:
    """Fold the redirect forest into the base table: one full pass
    over labels (stage-then-swap), after which reads skip the
    redirect join entirely. The per-batch folds stay O(batch); this
    is the amortized cost, run on the maintenance cadence like every
    other store compaction."""
    with hold_lease(path, "components-compact"):
        resolved = components_store_read(spark, path)
        staged_swap(
            os.path.join(path, LABELS_DIR),
            lambda stage: resolved.write.mode("overwrite").parquet(stage),
        )
        _write_empty_redirects(spark, path)
