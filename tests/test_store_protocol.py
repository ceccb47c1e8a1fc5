"""The store commit protocol (index/store.py) across every persisted
store: a maintenance job that died between its two renames — data dir
renamed to its old-dir sibling, stage written but never moved in —
must leave each store readable with its pre-crash answer, its next
compaction or merge must succeed, and no staging leftovers may stay
behind."""

# multi-minute store/ladder/soak tier: deselected from the default
# gate (pytest.ini addopts); run with `pytest -m slow`.
pytestmark = __import__("pytest").mark.slow

import glob
import os
import shutil

import numpy as np
import pytest

from dragnet_spark.index import components, fingerprints, kmv, vector


def _texts(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "Hello   WORLD"),
            (3, "something else entirely different here"),
        ],
        "doc_id long, text string",
    )


def _probe_texts(spark):
    return spark.createDataFrame(
        [
            (90, "the quick brown fox jumps over the lazy dog"),
            (91, "hello world"),
            (92, "never stored before at all"),
        ],
        "doc_id long, text string",
    )


def _vectors(spark):
    rng = np.random.RandomState(7)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _fp(spark, path):
    fingerprints.build_fingerprint_store(spark, _texts(spark), path)
    return (
        fingerprints.STORE_DIR,
        lambda: _rows(fingerprints.probe_new_documents(
            spark, path, _probe_texts(spark))),
        lambda: fingerprints.compact_fingerprint_store(spark, path),
    )


def _band(spark, path):
    fingerprints.build_band_store(spark, _texts(spark), path)
    return (
        fingerprints.BAND_DIR,
        lambda: _rows(fingerprints.probe_near_duplicates(
            spark, path, _probe_texts(spark))),
        lambda: fingerprints.compact_band_store(spark, path),
    )


def _srp(spark, path):
    vecs = _vectors(spark)
    fingerprints.build_srp_store(spark, vecs, path, dims=8)
    return (
        fingerprints.SRP_DIR,
        lambda: _rows(fingerprints.probe_srp_near_duplicates(
            spark, path, vecs.limit(5))),
        lambda: fingerprints.compact_srp_store(spark, path),
    )


def _vindex(spark, path, maintain):
    vecs = _vectors(spark)
    vector.build_vector_index(spark, vecs, path, n_centroids=4, seed=3)
    # n_probe == n_centroids: exhaustive, so the answer is the exact
    # top-k whatever the centroids (a recenter may move every vector)
    return (
        vector.VECTORS_DIR,
        lambda: _rows(vector.query_vector_index(
            spark, path, vecs.limit(4), k=3, n_probe=4)),
        lambda: maintain(spark, path),
    )


def _components(spark, path):
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(6)], "id long")
    components.build_components_store(spark, ids, pairs, path)
    folded = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    components.merge_components_batch(spark, folded, path)
    return (
        components.LABELS_DIR,
        lambda: _rows(components.components_store_read(spark, path)),
        # re-folding an already-folded batch is idempotent
        lambda: components.merge_components_batch(spark, folded, path),
    )


def _kmv(spark, path):
    docs = spark.createDataFrame(
        [("s%d" % (i % 2), "tok%d" % (i % 50)) for i in range(200)],
        "src string, tok string",
    )
    kmv.build_kmv_store(spark, docs, path, "tok", ["src"], k=16)
    return (
        kmv.SKETCH_DIR,
        lambda: _rows(kmv.kmv_store_estimate(spark, path)),
        # bottom-k folding is idempotent: re-merging changes nothing
        lambda: kmv.merge_kmv_batch(spark, docs, path),
    )


STORES = {
    "fp": _fp,
    "band": _band,
    "srp": _srp,
    "vector-compact": lambda spark, path: _vindex(
        spark, path, vector.compact_vector_index),
    "vector-recenter": lambda spark, path: _vindex(
        spark, path, vector.recenter_vector_index),
    "components": _components,
    "kmv": _kmv,
}


@pytest.mark.parametrize("kind", sorted(STORES))
def test_crash_between_swap_renames_recovers(spark, tmp_path, kind):
    path = str(tmp_path / kind)
    data_dir, read, maintain = STORES[kind](spark, path)
    before = read()
    assert before

    dest = os.path.join(path, data_dir)
    os.rename(dest, dest + ".compact_old")
    shutil.copytree(dest + ".compact_old", dest + ".compact_tmp")

    assert read() == before
    maintain()
    assert read() == before
    leftovers = glob.glob(os.path.join(path, "*.compact_old")) + glob.glob(
        os.path.join(path, "*.compact_tmp")
    )
    assert leftovers == []
