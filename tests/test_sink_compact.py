"""Curated-sink compaction (streaming/sink.py): only provably-folded
batch dirs move, readers see every row exactly once through every
crash window, and dn maintain folds an outgrown sink."""

# multi-minute store/ladder/soak tier: deselected from the default
# gate (pytest.ini addopts) so the driver's suite run completes;
# run with `pytest -m slow` (the builder's sessions do).
pytestmark = __import__("pytest").mark.slow

import json
import os
import shutil
from collections import namedtuple

import numpy as np
import pytest
from pyspark.sql import functions as F

from dragnet_spark.index.fingerprints import (
    build_fingerprint_store,
    build_srp_store,
)
from dragnet_spark.ops.text import fingerprint
from dragnet_spark.streaming.pipeline import (
    make_live_srp_ingester,
    make_live_store_ingester,
)
from dragnet_spark.streaming.sink import (
    _batch_dirs,
    _recover_sink,
    compact_sink,
    load_sink_marker,
    read_curated_sink,
)


def _mk_batch(spark, i, n=3):
    # numeric-string ids: the store fold-in casts id_field to long
    rows = [(str(1000 * i + j), f"unique survivor text {i} {j} padded out")
            for j in range(n)]
    return spark.createDataFrame(rows, "id string, text string").select(
        "id", "text", fingerprint("text").alias("__dn_fp")
    )


_SRP_SCHEMA = "id long, text string, embedding array<double>"


def _mk_srp_batch(spark, i, n=3):
    # fresh random vectors: no band pair collides with the store
    vecs = np.random.RandomState(100 + i).standard_normal((n, 16))
    rows = [(1000 * i + j, f"srp survivor {i} {j}", vecs[j].tolist())
            for j in range(n)]
    return spark.createDataFrame(rows, _SRP_SCHEMA)


#: a live-ingested sink: ``batch(spark, i)`` makes batch i, ``cols``
#: are the hashable sink columns compared across folds, ``store_dir``
#: the store data dir the ingester folds keys into
Sink = namedtuple("Sink", "store sink ingest batch cols store_dir")


@pytest.fixture(params=["fp", "srp"])
def sinkworld(request, spark, tmp_path):
    """Six batches live-ingested by either sink-writing ingester: the
    exact-fingerprint one or the SRP one (whose sink ``compact_sink``
    and ``dn maintain`` find by the marker alone)."""
    store = str(tmp_path / "store")
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    if request.param == "fp":
        build_fingerprint_store(
            spark,
            spark.createDataFrame(
                [(1, "previously stored text here ok")],
                "doc_id long, text string",
            ),
            store,
        )
        ingest = make_live_store_ingester(store, sink, "id", checkpoint=ck)
        world = Sink(store, sink, ingest, _mk_batch,
                     ("id", "text", "__dn_fp"), "fingerprints")
    else:
        build_srp_store(
            spark, _mk_srp_batch(spark, 99, n=1), store,
            vec_col="embedding", id_col="id", dims=16,
        )
        ingest = make_live_srp_ingester(
            store, sink, "id", "embedding", checkpoint=ck
        )
        world = Sink(store, sink, ingest, _mk_srp_batch, ("id", "text"),
                     "srp_bands")
    for i in range(6):
        ingest(world.batch(spark, i), i)
    return world


def test_compact_folds_ledgered_dirs_exactly_once(spark, sinkworld):
    store, sink, ingest = sinkworld.store, sinkworld.sink, sinkworld.ingest
    cols = sinkworld.cols
    before = {tuple(r) for r in spark.read.parquet(sink)
              .select(*cols).collect()}
    assert len(before) == 18
    assert load_sink_marker(sink)["store_path"] == os.path.abspath(store)

    report = compact_sink(spark, sink)
    assert len(report["folded"]) == 6
    assert report["segment"] == "__dn_batch=-1"
    assert report["skipped_unledgered"] == []
    dirs = _batch_dirs(sink)
    assert set(dirs) == {-1}

    after = {tuple(r) for r in read_curated_sink(spark, sink)
             .select(*cols).collect()}
    assert after == before

    # audit manifest rides in the segment
    man = json.load(open(os.path.join(sink, "__dn_batch=-1",
                                      "_dn_compacted")))
    assert man["rows"] == 18 and len(man["sources"]) == 6

    # idempotent: nothing left to fold
    report2 = compact_sink(spark, sink)
    assert report2["folded"] == [] and report2["segment"] is None

    # new batches after compaction fold into the NEXT negative segment
    for i in range(6, 9):
        ingest(sinkworld.batch(spark, i), i)
    report3 = compact_sink(spark, sink)
    assert report3["segment"] == "__dn_batch=-2"
    final = {tuple(r) for r in read_curated_sink(spark, sink)
             .select(*cols).collect()}
    assert len(final) == 27 and before <= final


def test_replay_of_folded_batch_is_harmless(spark, sinkworld):
    store, sink, ingest = sinkworld.store, sinkworld.sink, sinkworld.ingest
    store_dir = f"{store}/{sinkworld.store_dir}"
    compact_sink(spark, sink)
    rows = spark.read.parquet(sink).count()
    store_rows = spark.read.parquet(store_dir).count()
    # replay of a folded id: the store ledger short-circuits it
    ingest(sinkworld.batch(spark, 2), 2)
    assert spark.read.parquet(sink).count() == rows
    assert spark.read.parquet(store_dir).count() == store_rows


def test_unledgered_dirs_are_never_folded(spark, tmp_path):
    """A committed-but-unledgered dir is the crash-between-commit-and-
    fold-in window: folding it would lose the replay's re-fold source."""
    store = str(tmp_path / "ustore")
    build_fingerprint_store(
        spark,
        spark.createDataFrame([(1, "previously stored text here ok")],
                              "doc_id long, text string"),
        store,
    )
    sink = str(tmp_path / "usink")
    ck = str(tmp_path / "uck")
    ingest = make_live_store_ingester(store, sink, "id", checkpoint=ck)
    for i in range(4):
        ingest(_mk_batch(spark, i), i)
    # simulate the crash window for batch 3: ledger marker never landed
    import hashlib

    key = hashlib.sha256(ck.encode()).hexdigest()[:12]
    os.remove(os.path.join(store, "_dn_batch_ledger", key, f"{3:012d}"))

    report = compact_sink(spark, sink)
    assert report["skipped_unledgered"] == ["__dn_batch=3"]
    assert set(report["folded"]) == {f"__dn_batch={i}" for i in range(3)}
    assert set(_batch_dirs(sink)) == {-1, 3}
    assert spark.read.parquet(sink).count() == 12  # nothing lost


def test_crash_recovery_forward_and_rollback(spark, sinkworld):
    sink, cols = sinkworld.sink, sinkworld.cols
    before = {tuple(r) for r in spark.read.parquet(sink)
              .select(*cols).collect()}

    # ROLLBACK: a stage without the swap marker was never visible
    stage = os.path.join(sink, ".dn_compact_stage")
    os.makedirs(stage)
    open(os.path.join(stage, "junk.parquet"), "w").close()
    _recover_sink(sink)
    assert not os.path.exists(stage)
    assert {tuple(r) for r in spark.read.parquet(sink)
            .select(*cols).collect()} == before

    # FORWARD: stage + manifest + swap marker, crash before any rename
    sources = [_n for i, _n in sorted(_batch_dirs(sink).items())[:3]]
    spark.read.parquet(*[os.path.join(sink, n) for n in sources]) \
        .coalesce(1).write.mode("overwrite").parquet(stage)
    with open(os.path.join(stage, "_dn_compacted"), "w") as f:
        json.dump({"sources": sources, "rows": 9,
                   "target": "__dn_batch=-1"}, f)
    with open(os.path.join(sink, ".dn_compact_swap"), "w") as f:
        json.dump({"target": "__dn_batch=-1", "sources": sources}, f)
    _recover_sink(sink)
    assert -1 in _batch_dirs(sink)
    assert all(not os.path.exists(os.path.join(sink, n)) for n in sources)
    assert {tuple(r) for r in read_curated_sink(spark, sink)
            .select(*cols).collect()} == before

    # FORWARD, mid-rename crash: marker present, stage already shown,
    # one source still visible in the sink and also in trash-limbo —
    # recovery must finish hiding it (no double-visibility)
    # (constructed: hide of sources done, stage renamed, trash remains)
    trash = os.path.join(sink, ".dn_compact_trash")
    os.makedirs(trash)
    with open(os.path.join(sink, ".dn_compact_swap"), "w") as f:
        json.dump({"target": "__dn_batch=-1", "sources": []}, f)
    _recover_sink(sink)
    assert not os.path.exists(trash)
    assert not os.path.exists(os.path.join(sink, ".dn_compact_swap"))


def test_reader_busy_during_live_swap(spark, sinkworld):
    """A live compactor's swap window: the guarded reader waits, then
    raises the clean retryable StoreBusyError — never a partial read."""
    import threading

    from dragnet_spark.index.lease import StoreBusyError, hold_lease
    from dragnet_spark.index import store as storemod

    store, sink = sinkworld.store, sinkworld.sink
    with open(os.path.join(sink, ".dn_compact_swap"), "w") as f:
        json.dump({"target": "__dn_batch=-1", "sources": []}, f)

    holding = threading.Event()
    done = threading.Event()

    def live():
        with hold_lease(store, "compact-sink"):
            holding.set()
            done.wait(30)

    t = threading.Thread(target=live, daemon=True)
    t.start()
    assert holding.wait(10)
    old_wait = storemod._READER_SWAP_WAIT_S
    storemod._READER_SWAP_WAIT_S = 0.5
    try:
        with pytest.raises(StoreBusyError):
            read_curated_sink(spark, sink)
    finally:
        storemod._READER_SWAP_WAIT_S = old_wait
        done.set()
        t.join(10)
    # dead compactor: the reader repairs and reads
    rows = read_curated_sink(spark, sink).count()
    assert rows == 18
    assert not os.path.exists(os.path.join(sink, ".dn_compact_swap"))


def test_ordered_fold_clusters_rowgroups(spark, sinkworld):
    """compact_sink(order_by=...) writes range-disjoint sorted files:
    parquet min/max stats become selective for the cluster column."""
    import pyarrow.parquet as pq

    sink = sinkworld.sink
    before = {tuple(r) for r in spark.read.parquet(sink)
              .select("id", "text").collect()}
    report = compact_sink(spark, sink, files_per_segment=3,
                          order_by="id")
    assert len(report["folded"]) == 6
    seg = os.path.join(sink, report["segment"])
    ranges = []
    for f in sorted(os.listdir(seg)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(seg, f)).metadata
        col = next(
            i for i in range(len(md.schema))
            if md.schema.column(i).name == "id"
        )
        stats = [md.row_group(g).column(col).statistics
                 for g in range(md.num_row_groups)]
        ranges.append((min(s.min for s in stats),
                       max(s.max for s in stats)))
    assert len(ranges) >= 2  # actually split into ranges
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint: min/max stats prune probes
    after = {tuple(r) for r in read_curated_sink(spark, sink)
             .select("id", "text").collect()}
    assert after == before


def test_maintain_folds_outgrown_sink(spark, sinkworld):
    from dragnet_spark.index.maintain import plan_maintenance, run_maintenance

    sink = sinkworld.sink
    root = os.path.dirname(sink)
    plan = {r["path"]: r for r in plan_maintenance(spark, root)}
    assert plan[sink]["kind"] == "sink"
    assert plan[sink]["n_batch_dirs"] == 6
    assert plan[sink]["actions"] == ["compact"]

    before = spark.read.parquet(sink).count()
    report = {r["path"]: r for r in run_maintenance(spark, root)}
    assert report[sink]["applied"] == ["compact"]
    assert "error" not in report[sink]
    assert spark.read.parquet(sink).count() == before
    again = {r["path"]: r for r in plan_maintenance(spark, root)}
    assert again[sink]["actions"] == []
