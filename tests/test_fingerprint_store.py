"""Materialized fingerprint store (index/fingerprints.py): probe
correctness, append semantics, and the never-read-text contract."""

# multi-minute store/ladder/soak tier: deselected from the default
# gate (pytest.ini addopts) so the driver's suite run completes;
# run with `pytest -m slow` (the builder's sessions do).
pytestmark = __import__("pytest").mark.slow

import pytest
from pyspark.sql import functions as F

from dragnet_spark.index.fingerprints import (
    append_fingerprints,
    build_fingerprint_store,
    probe_new_documents,
)


@pytest.fixture()
def store(spark, tmp_path):
    corpus = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "Hello   WORLD"),  # same fingerprint as 1
            (3, "something else"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "fp")
    build_fingerprint_store(spark, corpus, path)
    return path


def test_probe_flags_known_and_fresh(spark, store):
    batch = spark.createDataFrame(
        [
            (10, "  hello  world "),  # dup of min(1,2) = 1
            (11, "brand new document"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in probe_new_documents(spark, store, batch).collect()}
    assert out[10]["is_duplicate"] and out[10]["dup_of"] == 1
    assert not out[11]["is_duplicate"] and out[11]["dup_of"] is None


def test_append_extends_the_store(spark, store):
    newdocs = spark.createDataFrame(
        [(20, "fresh content here")], "doc_id long, text string"
    )
    append_fingerprints(spark, newdocs, store)
    probe = spark.createDataFrame(
        [(30, "FRESH  content here")], "doc_id long, text string"
    )
    (row,) = probe_new_documents(spark, store, probe).collect()
    assert row["is_duplicate"] and row["dup_of"] == 20


def test_append_writes_one_file_per_touched_bucket(spark, store):
    """An append lands as ONE file in every bucket it touches, however
    many input partitions feed that bucket — the layout the live
    ingest fold needs (without it every batch adds a file per task to
    each touched bucket). Answers are unchanged."""
    import os

    data = os.path.join(store, "fingerprints")

    def files():
        return {
            d: len([f for f in os.listdir(os.path.join(data, d))
                    if f.endswith(".parquet")])
            for d in os.listdir(data) if d.startswith("fp_bucket=")
        }

    # ids 0..23 in 4 contiguous range partitions; text i%12 puts every
    # document (so every touched bucket) in two input partitions
    docs = spark.range(0, 24, 1, numPartitions=4).select(
        (F.col("id") + 100).alias("doc_id"),
        F.concat(F.lit("layout probe document number "),
                 (F.col("id") % 12).cast("string")).alias("text"),
    )
    assert docs.rdd.getNumPartitions() == 4
    before = files()
    append_fingerprints(spark, docs, store)
    after = files()
    touched = {d for d in after if after[d] != before.get(d, 0)}
    assert touched
    assert {d: after[d] - before.get(d, 0) for d in touched} == {
        d: 1 for d in touched
    }
    probe = spark.createDataFrame(
        [(300, "layout probe document number 3")], "doc_id long, text string"
    )
    (row,) = probe_new_documents(spark, store, probe).collect()
    assert row["is_duplicate"] and row["dup_of"] == 103


def test_probe_reads_only_fingerprint_columns(spark, store):
    """The probe plan must scan the store's (fp, doc_id) — never any
    text column — and keep the store side a broadcast-joinable shape."""
    batch = spark.createDataFrame(
        [(40, "hello world")], "doc_id long, text string"
    )
    plan = (
        probe_new_documents(spark, store, batch)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the parquet scan of the store reads fp/doc_id only
    assert "text" not in plan.split("Location")[-1][:400]


def test_probe_against_registry_oracle(spark, sf_dir, oracle):
    from dragnet_spark.registry import REGISTRY

    got = {
        tuple(r)
        for r in REGISTRY["dedup_incremental_probe"].spark(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in oracle.execute(
            REGISTRY["dedup_incremental_probe"].oracle
        ).fetchall()
    }
    assert got == want and got


def test_probe_plan_uses_dpp_and_broadcast(spark, tmp_path):
    """The probe must broadcast the batch side and dynamic-partition-
    prune the store's fp_bucket directories — the two plan properties
    that keep per-batch cost proportional to the batch, not the
    corpus. (A corpus-sized store: the optimizer skips DPP when the
    store is a handful of rows.)"""
    from pyspark.sql import functions as F

    corpus = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text number "), F.col("id")).alias("text"),
    )
    path = str(tmp_path / "bigfp")
    build_fingerprint_store(spark, corpus, path)
    batch = corpus.filter(F.col("doc_id") < 5)
    plan = (
        probe_new_documents(spark, path, batch)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "dynamicpruningexpression" in plan.lower(), (
        "store scan lost dynamic partition pruning on fp_bucket"
    )


# ------------------------------------------------- minhash band store

BASE = ("the quick brown fox jumps over the lazy dog while seventeen "
        "other animals watch quietly from the tall grass nearby today")
# token-swapped twin: same token multiset minus one adjacent swap ->
# high shingle overlap, DIFFERENT exact fingerprint
TWIN = ("the quick brown fox jumps over the lazy dog while seventeen "
        "other animals watch quietly from the grass tall nearby today")
OTHER = ("completely unrelated content about distributed query engines "
         "processing parquet files with adaptive execution plans")


@pytest.fixture()
def band_store(spark, tmp_path):
    from dragnet_spark.index.fingerprints import build_band_store

    corpus = spark.createDataFrame(
        [(1, BASE), (2, OTHER)], "doc_id long, text string"
    )
    path = str(tmp_path / "bands")
    build_band_store(spark, corpus, path, num_hashes=16, bands=8)
    return path


def test_band_probe_flags_near_dup_not_fresh(spark, band_store):
    from dragnet_spark.index.fingerprints import probe_near_duplicates

    batch = spark.createDataFrame(
        [(10, TWIN), (11, "entirely novel text mentioning ten fresh "
                          "unique concepts never stored anywhere")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["is_near_duplicate"], r["dup_of"])
        for r in probe_near_duplicates(spark, band_store, batch).collect()
    }
    assert got[10] == (True, 1), got  # token-swapped twin caught
    assert got[11] == (False, None), got


def test_band_probe_exact_self_hit_all_bands(spark, band_store):
    """A stored document probing itself collides in EVERY band."""
    from dragnet_spark.index.fingerprints import probe_near_duplicates

    batch = spark.createDataFrame([(99, BASE)], "doc_id long, text string")
    row = probe_near_duplicates(spark, band_store, batch).collect()[0]
    assert row["n_band_hits"] == 8 and row["dup_of"] == 1


def test_band_append_extends(spark, band_store):
    from dragnet_spark.index.fingerprints import (
        append_band_keys,
        probe_near_duplicates,
    )

    newdoc = "freshly appended corpus text with its own distinct shingles here"
    append_band_keys(
        spark,
        spark.createDataFrame([(50, newdoc)], "doc_id long, text string"),
        band_store,
    )
    batch = spark.createDataFrame([(60, newdoc)], "doc_id long, text string")
    row = probe_near_duplicates(spark, band_store, batch).collect()[0]
    assert row["is_near_duplicate"] and row["dup_of"] == 50


def test_band_no_shingles_never_collides(spark, band_store):
    """Short text (no 3-token shingle) has NULL bands -> survives."""
    from dragnet_spark.index.fingerprints import probe_near_duplicates

    batch = spark.createDataFrame([(70, "too short")], "doc_id long, text string")
    row = probe_near_duplicates(spark, band_store, batch).collect()[0]
    assert row["n_band_hits"] == 0 and not row["is_near_duplicate"]


def test_narrow_band_hashes_match_groupby_signature(spark, sf_dir):
    """ops/dedup.minhash_band_array (per-row array_min) must be
    bit-identical to minhash_lsh_pairs' explode+groupBy signature:
    same candidate pairs on the same corpus."""
    from dragnet_spark.index.fingerprints import (
        build_band_store,
        probe_near_duplicates,
    )
    from dragnet_spark.ops.dedup import minhash_lsh_pairs
    from dragnet_spark.sources.tables import load_table
    import tempfile

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="bandeq_")
    build_band_store(spark, docs, path, num_hashes=16, bands=8)
    probed = probe_near_duplicates(spark, path, docs)
    # every doc self-collides in all 8 bands (same keys both paths
    # would diverge on ANY signature difference)
    bad = probed.filter(
        (F.col("n_band_hits") < 8) | (F.col("dup_of") > F.col("doc_id"))
    ).count()
    assert bad == 0
    # and the band-store candidate pairs cover the batch LSH pairs
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=16, bands=8, threshold=0.8
        ).collect()
    }
    flagged = {
        r["doc_id"]
        for r in probed.filter(
            F.col("dup_of") < F.col("doc_id")
        ).collect()
    }
    for a, b in lsh:
        assert b in flagged, f"LSH pair ({a},{b}) missed by band store"


def test_fp_compact_preserves_probe_and_shrinks(spark, store, tmp_path):
    """Compaction collapses each fingerprint to its min doc_id, cuts
    file counts, and can never change a probe answer."""
    import os

    from dragnet_spark.index.fingerprints import (
        compact_fingerprint_store,
    )

    # append twice to fragment the store
    extra = spark.createDataFrame(
        [(10, "hello world"), (11, "fresh appended content here")],
        "doc_id long, text string",
    )
    append_fingerprints(spark, extra, store)
    append_fingerprints(spark, extra, store)

    batch = spark.createDataFrame(
        [(20, "HELLO world"), (21, "fresh appended content here"),
         (22, "never seen before text")],
        "doc_id long, text string",
    )
    before = {
        (r["doc_id"], r["dup_of"], r["is_duplicate"])
        for r in probe_new_documents(spark, store, batch).collect()
    }

    def n_files(p):
        return sum(
            1 for root, _, fs in os.walk(p) for f in fs
            if f.endswith(".parquet")
        )
    files_before = n_files(store)
    compact_fingerprint_store(spark, store)
    after = {
        (r["doc_id"], r["dup_of"], r["is_duplicate"])
        for r in probe_new_documents(spark, store, batch).collect()
    }
    assert after == before
    assert (20, 1, True) in after and (21, 11, True) in after
    assert n_files(store) < files_before


def test_band_compact_preserves_probe(spark, band_store):
    """Band-store compaction: distinct rows, identical probe output
    including n_band_hits."""
    from dragnet_spark.index.fingerprints import (
        append_band_keys,
        compact_band_store,
        probe_near_duplicates,
    )

    dup_batch = spark.createDataFrame(
        [(1, BASE)], "doc_id long, text string"
    )
    # re-append the same doc twice: duplicate (band,bhash,doc_id) rows
    append_band_keys(spark, dup_batch, band_store)
    append_band_keys(spark, dup_batch, band_store)

    batch = spark.createDataFrame(
        [(30, TWIN), (31, "totally different never stored words about "
                          "graphs and planners")],
        "doc_id long, text string",
    )
    compact_band_store(spark, band_store)
    after = {
        (r["doc_id"], r["n_band_hits"], r["dup_of"], r["is_near_duplicate"])
        for r in probe_near_duplicates(spark, band_store, batch).collect()
    }
    # after compaction the store holds each (band,bhash,doc_id) once;
    # the twin's hits equal its colliding-band count exactly
    twin_row = next(r for r in after if r[0] == 30)
    assert twin_row[3] is True and twin_row[2] == 1
    fresh_row = next(r for r in after if r[0] == 31)
    assert fresh_row == (31, 0, None, False)


# --------------------------------------- layout tokens + crash recovery


def test_fp_layout_mismatch_raises(spark, store):
    """A maintenance crash that leaves the data dir and meta out of
    sync must be LOUD at probe time (the vector index's token
    discipline, ported per VERDICT r6 #5)."""
    import json
    import os

    from dragnet_spark.index.fingerprints import FP_META

    meta_path = os.path.join(store, FP_META)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["layout_token"] = "deadbeefdeadbeef"
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    batch = spark.createDataFrame(
        [(90, "hello world")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="layout/meta mismatch"):
        probe_new_documents(spark, store, batch).collect()
    with pytest.raises(ValueError, match="layout/meta mismatch"):
        append_fingerprints(spark, batch, store)


def test_band_layout_mismatch_raises(spark, band_store):
    import os

    from dragnet_spark.index.fingerprints import (
        BAND_DIR,
        LAYOUT_FILE,
        append_band_keys,
        probe_near_duplicates,
    )

    with open(os.path.join(band_store, BAND_DIR, LAYOUT_FILE), "w") as f:
        f.write("0000000000000000")  # stale data dir, fresh meta
    batch = spark.createDataFrame([(91, BASE)], "doc_id long, text string")
    with pytest.raises(ValueError, match="layout/meta mismatch"):
        probe_near_duplicates(spark, band_store, batch).collect()
    with pytest.raises(ValueError, match="layout/meta mismatch"):
        append_band_keys(spark, batch, band_store)


def test_vindex_append_checks_layout(spark, tmp_path):
    """ADVICE r6: append_vector_index must enforce the same token check
    as the probe — appending through a recenter crash window would
    cell-assign new vectors against the wrong centroids."""
    import json
    import os

    from pyspark.sql import functions as F

    from dragnet_spark.index.vector import (
        META_FILE,
        append_vector_index,
        build_vector_index,
    )

    vecs = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 3).cast("double"),
        ).alias("embedding"),
    )
    path = str(tmp_path / "vx")
    build_vector_index(spark, vecs, path, n_centroids=4)
    meta_path = os.path.join(path, META_FILE)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["layout_token"] = "deadbeefdeadbeef"
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="layout/meta mismatch"):
        append_vector_index(spark, vecs.limit(2), path)


def test_staged_rewrite_interrupted_swap_recovers(spark, store):
    """ADVICE r6: a compaction crash strictly between the two renames
    leaves the store dir absent with data only in <dest>.compact_old;
    the next probe/compact must restore it automatically."""
    import os

    from dragnet_spark.index.fingerprints import (
        STORE_DIR,
        compact_fingerprint_store,
    )

    dest = os.path.join(store, STORE_DIR)
    os.rename(dest, dest + ".compact_old")  # the crash window
    batch = spark.createDataFrame(
        [(95, "hello world"), (96, "never stored before")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["is_duplicate"]
        for r in probe_new_documents(spark, store, batch).collect()
    }
    assert out == {95: True, 96: False}
    # and a subsequent compact works on the recovered store too
    os.rename(dest, dest + ".compact_old")
    compact_fingerprint_store(spark, store)
    out2 = {
        r["doc_id"]: r["is_duplicate"]
        for r in probe_new_documents(spark, store, batch).collect()
    }
    assert out2 == out


def test_probe_count_hint_skips_gate(spark, store):
    """The caller-supplied row-count hint must produce identical
    results (and still broadcast a small batch) without running the
    limit(n+1).count() gate job."""
    batch = spark.createDataFrame(
        [(97, "hello world"), (98, "fresh text")], "doc_id long, text string"
    )
    hinted = probe_new_documents(spark, store, batch, probe_count=2)
    plan = hinted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = {(r["doc_id"], r["is_duplicate"]) for r in hinted.collect()}
    assert got == {(97, True), (98, False)}


# ------------------------------------------------------ SRP band store


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture()
def srp_store(spark, tmp_path):
    from dragnet_spark.index.fingerprints import build_srp_store

    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.standard_normal((4, 8)).tolist()
    corpus = _emb_df(spark, [(i, base[i]) for i in range(4)])
    path = str(tmp_path / "srp")
    build_srp_store(spark, corpus, path, dims=8)
    return path, base


def test_srp_probe_flags_perturbed_twin(spark, srp_store):
    """A tiny perturbation of a stored embedding (a paraphrase's
    vector) collides in nearly every band; an independent random
    vector collides in none-to-few and is never min-matched first."""
    import numpy as np

    from dragnet_spark.index.fingerprints import probe_srp_near_duplicates

    path, base = srp_store
    rng = np.random.RandomState(99)
    twin = (np.asarray(base[2]) + rng.standard_normal(8) * 1e-4).tolist()
    fresh = (rng.standard_normal(8) * 3).tolist()
    batch = _emb_df(spark, [(10, twin), (11, fresh)])
    got = {
        r["vec_id"]: (r["is_near_duplicate"], r["dup_of"], r["n_band_hits"])
        for r in probe_srp_near_duplicates(spark, path, batch).collect()
    }
    assert got[10][0] and got[10][1] == 2 and got[10][2] >= 6, got
    # fresh vector: 16-bit buckets make a stray collision ~2^-16 per
    # (pair, band) — a random vector collides nowhere
    assert got[11] == (False, None, 0), got


def test_srp_probe_exact_self_hit_all_bands(spark, srp_store):
    from dragnet_spark.index.fingerprints import probe_srp_near_duplicates

    path, base = srp_store
    batch = _emb_df(spark, [(20, base[0])])
    row = probe_srp_near_duplicates(spark, path, batch).collect()[0]
    assert row["n_band_hits"] == 8 and row["dup_of"] == 0


def test_srp_append_compact_token_lifecycle(spark, srp_store):
    """append with persisted planes, compaction invariance, and the
    layout-token loudness — the full maintenance lifecycle in one."""
    import json
    import os

    import numpy as np

    from dragnet_spark.index.fingerprints import (
        SRP_META,
        append_srp_keys,
        compact_srp_store,
        probe_srp_near_duplicates,
    )

    path, base = srp_store
    rng = np.random.RandomState(3)
    newv = rng.standard_normal(8).tolist()
    append_srp_keys(spark, _emb_df(spark, [(50, newv)]), path)
    append_srp_keys(spark, _emb_df(spark, [(50, newv)]), path)  # replay
    batch = _emb_df(spark, [(60, newv)])
    # min_band_hits=8 demands full-evidence pairs: dup_of is then the
    # exact stored copy, immune to stray one-band collisions that
    # low-dim test vectors can produce
    before = probe_srp_near_duplicates(
        spark, path, batch, min_band_hits=8
    ).collect()[0]
    assert before["is_near_duplicate"] and before["dup_of"] == 50
    assert before["n_band_hits"] == 8  # replayed append didn't double
    compact_srp_store(spark, path)
    after = probe_srp_near_duplicates(
        spark, path, batch, min_band_hits=8
    ).collect()[0]
    assert tuple(after) == tuple(before)
    # token mismatch is loud on probe AND append
    meta_path = os.path.join(path, SRP_META)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["layout_token"] = "deadbeefdeadbeef"
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="layout/meta mismatch"):
        probe_srp_near_duplicates(spark, path, batch).collect()
    with pytest.raises(ValueError, match="layout/meta mismatch"):
        append_srp_keys(spark, batch, path)


def test_srp_null_and_wrong_dims_never_collide(spark, srp_store):
    from dragnet_spark.index.fingerprints import probe_srp_near_duplicates

    path, base = srp_store
    batch = _emb_df(spark, [(70, None), (71, [1.0, 2.0]), (72, base[1])])
    got = {
        r["vec_id"]: (r["n_band_hits"], r["is_near_duplicate"])
        for r in probe_srp_near_duplicates(spark, path, batch).collect()
    }
    assert got[70] == (0, False) and got[71] == (0, False)
    assert got[72] == (8, True)


def test_srp_store_catches_planted_twins_on_real_corpus(spark, sf_dir):
    """Parity with the batch SRP-LSH family on REAL 64-dim data: the
    testdata corpus has no natural near-dup pairs (max pairwise cosine
    ~0.51), so twins are PLANTED — each a stored vector plus ~1e-3
    noise (cosine > 0.9999). Every twin must self-evidently collide
    (same planes, same integer sign arithmetic as the store keys), and
    every probe row's structure must hold corpus-wide."""
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    from dragnet_spark.index.fingerprints import (
        build_srp_store,
        probe_srp_near_duplicates,
    )
    from dragnet_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="srpeq_")
    build_srp_store(spark, emb, path, dims=64)
    # self-probe: every vector collides with itself in all 8 bands
    probed = probe_srp_near_duplicates(spark, path, emb)
    bad = probed.filter(
        (F.col("n_band_hits") < 8) | (F.col("dup_of") > F.col("vec_id"))
    ).count()
    assert bad == 0
    # planted twins: original + tiny noise, probed under fresh ids
    rng = np.random.RandomState(11)
    originals = emb.limit(40).collect()
    twins = [
        (int(r["vec_id"]) + 1_000_000,
         (np.asarray(r["embedding"], dtype=np.float64)
          + rng.standard_normal(64) * 1e-3).tolist())
        for r in originals
    ]
    tdf = spark.createDataFrame(twins, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["is_near_duplicate"], r["n_band_hits"])
        for r in probe_srp_near_duplicates(
            spark, path, tdf, min_band_hits=4
        ).collect()
    }
    missed = [k for k, v in got.items() if not v[0]]
    assert not missed, f"planted twins missed by SRP store: {missed}"
    assert all(v[1] >= 4 for v in got.values())


def test_fp_algo_drift_raises_and_compact_keeps_meta_token(
    spark, store, monkeypatch
):
    """ADVICE r7 #2: a store built under a DIFFERENT fingerprint
    algorithm (meta token != the current code's _fp_token) must fail
    loudly at probe/append/compact — the persisted-vs-persisted check
    alone would probe a stale store silently. And compaction must
    rewrite the token it VALIDATED from meta, never a freshly
    computed one (which would manufacture a phantom crash error after
    an algo bump)."""
    import json
    import os

    from dragnet_spark import index as _idx  # noqa: F401
    from dragnet_spark.index import fingerprints as fps

    # healthy store: compact leaves meta and disk token in agreement
    fps.compact_fingerprint_store(spark, store)
    with open(os.path.join(store, fps.FP_META)) as f:
        meta_tok = json.load(f)["layout_token"]
    with open(os.path.join(store, fps.STORE_DIR, fps.LAYOUT_FILE)) as f:
        assert f.read().strip() == meta_tok

    # simulate an algo bump in the CODE while the store stays stale
    monkeypatch.setattr(fps, "_FP_ALGO", "md5-normalized-v2")
    batch = spark.createDataFrame(
        [(90, "hello world")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="different fingerprint algo"):
        probe_new_documents(spark, store, batch).collect()
    with pytest.raises(ValueError, match="different fingerprint algo"):
        append_fingerprints(spark, batch, store)
    with pytest.raises(ValueError, match="different fingerprint algo"):
        fps.compact_fingerprint_store(spark, store)


def test_srp_dims_inferred_from_non_null_row(spark, tmp_path):
    """ADVICE r7 #5: a NULL first embedding must not poison dims
    inference (F.size(NULL) = -1 silently built an EMPTY store —
    every future probe then reported no near-duplicates)."""
    from dragnet_spark.index.fingerprints import build_srp_store

    docs = spark.createDataFrame(
        [(1, None), (2, [0.5] * 8), (3, [0.25] * 8)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "srp_null_first")
    meta = build_srp_store(spark, docs, path)
    assert meta["dims"] == 8
    import os

    got = spark.read.parquet(os.path.join(path, "srp_bands"))
    assert got.select("vec_id").distinct().count() == 2  # non-null rows

    all_null = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no non-null vectors"):
        build_srp_store(spark, all_null, str(tmp_path / "srp_empty"))


def test_band_store_v1_rejected_loudly(spark, tmp_path):
    """A band store persisted under the v1 key discipline (full-md5
    string bhash) must be rejected at meta-load time: v2 code joins
    long keys, so probing a v1 store would silently report zero hits."""
    import json
    import os

    import pytest

    from dragnet_spark.index.fingerprints import (
        build_band_store,
        load_band_store_meta,
        probe_near_duplicates,
    )

    path = str(tmp_path / "v1store")
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    build_band_store(spark, docs, path)
    meta_file = os.path.join(path, "_band_store.json")
    with open(meta_file) as f:
        meta = json.load(f)
    meta["version"] = "1.0"
    with open(meta_file, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="key\\s+discipline|rebuild"):
        load_band_store_meta(path)
    with pytest.raises(ValueError, match="rebuild"):
        probe_near_duplicates(spark, path, docs).collect()


def test_band_store_keys_bit_identical_to_batch_lsh(spark, sf_dir):
    """Band-store v2's persisted bhash must equal the 56-bit BIGINT
    bucket key minhash_lsh_pairs shuffles on, key-for-key — the
    store-amortized dedup posture (pay the signature at ingest, run
    pair discovery from persisted rows) depends on exact key equality,
    not just candidate coverage."""
    import tempfile

    from pyspark.sql import functions as F

    from dragnet_spark.index.fingerprints import build_band_store
    from dragnet_spark.ops.text import (
        MINHASH_P,
        minhash_coeffs,
        shingle_hash,
        shingles,
    )
    from dragnet_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="bandkeys_")
    build_band_store(spark, docs, path, num_hashes=16, bands=8)
    store = spark.read.parquet(path + "/bands")
    assert dict(store.dtypes)["bhash"] == "bigint"
    # batch-side keys: the explode+groupBy signature, banded exactly
    # as minhash_lsh_pairs does
    r = 2
    ex = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(shingles("text", 3))).alias("sh"),
    )
    h = shingle_hash(F.col("sh"))
    base = ex.groupBy("id").agg(
        *[
            F.min((F.lit(a) * h + F.lit(b)) % MINHASH_P).alias(f"__m{i}")
            for i, (a, b) in enumerate(minhash_coeffs(16))
        ]
    )
    batch = base.select(
        "id",
        *[
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "\x1f", *[F.col(f"__m{i * r + j}") for j in range(r)]
                        )
                    ),
                    1,
                    14,
                ),
                16,
                10,
            ).cast("long").alias(f"b{i}")
            for i in range(8)
        ],
    )
    batch_keys = {
        (row["id"], i, row[f"b{i}"])
        for row in batch.collect()
        for i in range(8)
    }
    store_keys = {
        (row["doc_id"], row["band"], row["bhash"])
        for row in store.collect()
    }
    assert store_keys == batch_keys


def test_band_store_pairs_equal_batch_lsh(spark, sf_dir):
    """Store-amortized pair discovery (band_store_pairs over persisted
    v2 rows) must be bit-identical to the batch minhash_lsh_pairs —
    the invariant that makes "pay the signature at ingest" a free
    refactoring of the dedup pipeline, not an approximation."""
    import tempfile

    from dragnet_spark.index.fingerprints import (
        band_store_pairs,
        build_band_store,
    )
    from dragnet_spark.ops.dedup import minhash_lsh_pairs
    from dragnet_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="storepairs_")
    build_band_store(spark, docs, path, num_hashes=16, bands=8, ngram=3)
    batch = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=16, bands=8,
            threshold=0.8, ngram=3,
        ).collect()
    }
    for semi in (False, True):
        from_store = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in band_store_pairs(
                spark, path, docs, threshold=0.8, verify_semi=semi
            ).collect()
        }
        assert from_store == batch, f"verify_semi={semi}"
    # append replay: duplicated store rows must not change the output
    from dragnet_spark.index.fingerprints import append_band_keys

    append_band_keys(spark, docs.limit(20), path)
    replayed = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in band_store_pairs(spark, path, docs, threshold=0.8).collect()
    }
    assert replayed == batch


def test_srp_store_pairs_equal_batch_lsh(spark):
    """srp_store_pairs over a with_pairs=False auto-width store must
    equal embedding_near_dup_lsh with the same prefix planes — both
    verify routes — and the pair-key-dependent consumers must reject
    the pairless store loudly instead of failing on a missing path."""
    import tempfile

    import numpy as np
    import pytest

    from dragnet_spark.index.fingerprints import (
        build_srp_store,
        srp_store_pairs,
    )
    from dragnet_spark.ops.dedup import (
        auto_bits_per_band,
        embedding_near_dup_lsh,
        srp_planes_q_prefix,
    )
    from dragnet_spark.streaming.pipeline import (
        stream_curate_against_srp_store,
    )

    rng = np.random.RandomState(11)
    base = rng.standard_normal((40, 16))
    rows = [(i, base[i].tolist()) for i in range(40)]
    rows += [(1000 + i, base[i].tolist()) for i in range(15)]  # twins
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bands = 6
    bits = auto_bits_per_band(len(rows), bands)
    planes = srp_planes_q_prefix(16, bands, bits, 42)
    path = tempfile.mkdtemp(prefix="srppairs_")
    build_srp_store(
        spark, df, path, bands=bands, bits_per_band=bits, dims=16,
        planes_q=planes, with_pairs=False,
    )
    batch = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_dup_lsh(
            df, threshold=0.9, dims=16, bits_per_band=bits, bands=bands,
            planes_q=planes,
        ).collect()
    }
    assert batch  # the planted twins must be found
    for semi in (False, True):
        from_store = {
            (r["id_a"], r["id_b"], r["cosine"])
            for r in srp_store_pairs(
                spark, path, df, threshold=0.9, verify_semi=semi
            ).collect()
        }
        assert from_store == batch, f"verify_semi={semi}"
    with pytest.raises(ValueError, match="with_pairs=False"):
        stream_curate_against_srp_store(df, path, min_band_hits=2)


def test_bounded_sliced_verify_equals_one_shot(spark, sf_dir, tmp_path):
    """band_store_pairs_bounded / srp_store_pairs_bounded (sequential
    per-slice verify jobs, the single-box footprint knob) must produce
    exactly the one-shot pair set — slices partition the candidates,
    so the union is bit-identical; resumability must skip completed
    slices."""
    import os
    import tempfile

    import numpy as np

    from dragnet_spark.index.fingerprints import (
        band_store_pairs,
        band_store_pairs_bounded,
        build_band_store,
        build_srp_store,
        srp_store_pairs,
        srp_store_pairs_bounded,
    )
    from dragnet_spark.ops.dedup import (
        auto_bits_per_band,
        srp_planes_q_prefix,
    )
    from dragnet_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = tempfile.mkdtemp(prefix="bounded_band_")
    build_band_store(spark, docs, store, num_hashes=16, bands=8, ngram=3)
    one_shot = {
        tuple(r) for r in band_store_pairs(
            spark, store, docs, threshold=0.8
        ).collect()
    }
    out = str(tmp_path / "band_pairs")
    sliced = band_store_pairs_bounded(
        spark, store, docs, out, threshold=0.8, slices=3
    )
    assert {tuple(r) for r in sliced.collect()} == one_shot
    # resumability: re-run skips completed slices and reads the sink
    mtimes = {
        d: os.path.getmtime(os.path.join(out, d))
        for d in os.listdir(out) if d.startswith("slice=")
    }
    again = band_store_pairs_bounded(
        spark, store, docs, out, threshold=0.8, slices=3
    )
    assert {tuple(r) for r in again.collect()} == one_shot
    for d, m in mtimes.items():
        assert os.path.getmtime(os.path.join(out, d)) == m, d

    rng = np.random.RandomState(5)
    base = rng.standard_normal((30, 16))
    rows = [(i, base[i].tolist()) for i in range(30)]
    rows += [(500 + i, base[i].tolist()) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bands = 6
    bits = auto_bits_per_band(len(rows), bands)
    sstore = tempfile.mkdtemp(prefix="bounded_srp_")
    build_srp_store(
        spark, emb, sstore, bands=bands, bits_per_band=bits, dims=16,
        planes_q=srp_planes_q_prefix(16, bands, bits, 42),
        with_pairs=False,
    )
    srp_one = {
        tuple(r) for r in srp_store_pairs(
            spark, sstore, emb, threshold=0.9
        ).collect()
    }
    assert srp_one
    srp_sliced = srp_store_pairs_bounded(
        spark, sstore, emb, str(tmp_path / "srp_pairs"),
        threshold=0.9, slices=4,
    )
    assert {tuple(r) for r in srp_sliced.collect()} == srp_one


def test_srp_bucket_verify_equals_one_shot(spark, tmp_path):
    """Per-band bucket-local verification (the degree-proof bounded
    SRP verify) must produce the identical (id_a, id_b, cosine) set —
    values included (the np-matmul HALF_UP rounding must agree with
    the expression-side _vdot after round-6)."""
    import numpy as np

    import tempfile

    from dragnet_spark.index.fingerprints import (
        build_srp_store,
        srp_store_pairs,
        srp_store_pairs_bucket_verify,
    )
    from dragnet_spark.ops.dedup import (
        auto_bits_per_band,
        srp_planes_q_prefix,
    )

    rng = np.random.RandomState(21)
    base = rng.standard_normal((50, 16))
    rows = [(i, base[i].tolist()) for i in range(50)]
    rows += [(900 + i, base[i].tolist()) for i in range(20)]  # twins
    rows += [(800, [0.0] * 16)]  # zero vector: must score 0, never NaN
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bands = 6
    bits = auto_bits_per_band(len(rows), bands)
    path = tempfile.mkdtemp(prefix="bucketverify_")
    build_srp_store(
        spark, df, path, bands=bands, bits_per_band=bits, dims=16,
        planes_q=srp_planes_q_prefix(16, bands, bits, 42),
        with_pairs=False,
    )
    one_shot = {
        tuple(r) for r in srp_store_pairs(
            spark, path, df, threshold=0.9
        ).collect()
    }
    assert one_shot
    got = {
        tuple(r) for r in srp_store_pairs_bucket_verify(
            spark, path, df, str(tmp_path / "bv"), threshold=0.9
        ).collect()
    }
    assert got == one_shot


def test_bounded_verify_manifest_guards_resume(spark, tmp_path):
    """A bounded run's out_path records its parameters: resuming (or
    re-invoking after completion) with a different slices count or
    threshold must fail loudly naming the mismatch — the per-slice
    _SUCCESS markers are meaningless under a different pmod modulus,
    and silently mixing moduli duplicates/loses pairs."""
    import tempfile

    from dragnet_spark.index.fingerprints import (
        band_store_pairs_bounded,
        build_band_store,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "totally different words about compilers and loops"),
        ],
        "doc_id long, text string",
    )
    store = tempfile.mkdtemp(prefix="manifest_band_")
    build_band_store(spark, docs, store, num_hashes=8, bands=4, ngram=3)
    out = str(tmp_path / "pairs")
    band_store_pairs_bounded(
        spark, store, docs, out, threshold=0.5, slices=2
    ).collect()
    # same params: fine (skips completed slices)
    band_store_pairs_bounded(
        spark, store, docs, out, threshold=0.5, slices=2
    ).collect()
    with pytest.raises(ValueError, match="resume mismatch.*slices"):
        band_store_pairs_bounded(
            spark, store, docs, out, threshold=0.5, slices=3
        )
    with pytest.raises(ValueError, match="resume mismatch.*threshold"):
        band_store_pairs_bounded(
            spark, store, docs, out, threshold=0.6, slices=2
        )


def test_semi_broadcast_cap_is_configurable(spark, monkeypatch):
    """ADVICE r12: the 16M-id force-broadcast cap must be tunable for
    small-driver deployments — Spark conf wins, then the env var,
    then the documented default."""
    from dragnet_spark.ops.dedup import (
        MAX_SEMI_BROADCAST_IDS,
        _max_semi_broadcast_ids,
    )

    monkeypatch.delenv("DRAGNET_MAX_SEMI_BROADCAST_IDS", raising=False)
    assert _max_semi_broadcast_ids(spark) == MAX_SEMI_BROADCAST_IDS
    monkeypatch.setenv("DRAGNET_MAX_SEMI_BROADCAST_IDS", "2000000")
    assert _max_semi_broadcast_ids(spark) == 2_000_000
    spark.conf.set("spark.dragnet.semiBroadcastMaxIds", "500000")
    try:
        assert _max_semi_broadcast_ids(spark) == 500_000
    finally:
        spark.conf.unset("spark.dragnet.semiBroadcastMaxIds")


def test_reclaim_slice_scratch_drops_new_checkpoints(tmp_path):
    """The bounded runs reclaim reliable-checkpoint dirs their slices
    created (the sink write completed, so that lineage is dead) —
    without this a long sliced run accumulates one checkpointed sets
    table per slice on exactly the disk-constrained box the slicing
    exists for. Pre-existing entries (someone else's live checkpoint)
    must survive."""
    import os

    from dragnet_spark.index.fingerprints import (
        _checkpoint_baseline,
        _reclaim_slice_scratch,
    )

    ck = tmp_path / "ckpt"
    ck.mkdir()
    (ck / "rdd-live").mkdir()

    class _SC:
        def getCheckpointDir(self):
            return f"file:{ck}"

    class _Spark:
        sparkContext = _SC()

    fake = _Spark()
    baseline = _checkpoint_baseline(fake)
    assert baseline == {"rdd-live"}
    (ck / "rdd-slice-scratch").mkdir()
    after = _reclaim_slice_scratch(fake, baseline)
    assert after == baseline
    assert os.path.isdir(ck / "rdd-live")
    assert not os.path.exists(ck / "rdd-slice-scratch")

    class _NoneSC:
        def getCheckpointDir(self):
            return None

    class _NoneSpark:
        sparkContext = _NoneSC()

    assert _checkpoint_baseline(_NoneSpark()) == set()
    assert _reclaim_slice_scratch(_NoneSpark(), {"x"}) == {"x"}


def test_bounded_verify_manifest_pins_store_content(spark, tmp_path):
    """ADVICE r13 (medium): banding params alone don't pin a resume —
    if the store is GROWN via append between a crash and the resume,
    the stale _candidates/_SUCCESS markers would skip while the
    params still match, silently dropping pairs that involve the
    appended docs. The manifest now records a store-content token so
    that resume fails loudly instead."""
    import tempfile

    from dragnet_spark.index.fingerprints import (
        append_band_keys,
        band_store_pairs_bounded,
        build_band_store,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        "doc_id long, text string",
    )
    store = tempfile.mkdtemp(prefix="content_band_")
    build_band_store(spark, docs, store, num_hashes=8, bands=4, ngram=3)
    out = str(tmp_path / "pairs")
    band_store_pairs_bounded(
        spark, store, docs, out, threshold=0.5, slices=2
    ).collect()
    # unchanged store: resume/no-op re-run is fine
    band_store_pairs_bounded(
        spark, store, docs, out, threshold=0.5, slices=2
    ).collect()
    # grow the store, then resume into the SAME out_path: must refuse
    batch = spark.createDataFrame(
        [(3, "alpha beta gamma delta epsilon zeta eta kappa")],
        "doc_id long, text string",
    )
    append_band_keys(spark, batch, store)
    alldocs = docs.union(batch)
    with pytest.raises(ValueError, match="resume mismatch.*store_content"):
        band_store_pairs_bounded(
            spark, store, alldocs, out, threshold=0.5, slices=2
        )
    # a fresh out_path over the grown store works and sees the new doc
    out2 = str(tmp_path / "pairs2")
    got = {
        (r.id_a, r.id_b)
        for r in band_store_pairs_bounded(
            spark, store, alldocs, out2, threshold=0.5, slices=2
        ).collect()
    }
    assert (1, 3) in got or (2, 3) in got


def test_manifestless_out_path_refused(spark, tmp_path):
    """ADVICE r13: an out_path that already holds slice/band dirs but
    NO manifest was written under unknown parameters (pre-manifest
    version, another tool) — stamping current params over it and
    skipping its markers is the skip-and-mix hazard. Refuse."""
    from dragnet_spark.errors import ContractError
    from dragnet_spark.index.fingerprints import _check_run_manifest

    out = tmp_path / "stale_out"
    (out / "slice=0").mkdir(parents=True)
    with pytest.raises(ContractError, match="no run manifest"):
        _check_run_manifest(str(out), {"kind": "minhash_band_pairs"})
    # an out_path with only unrelated content (no slice/band dirs) is
    # treated as fresh
    out2 = tmp_path / "fresh_out"
    out2.mkdir()
    (out2 / "notes.txt").write_text("x")
    _check_run_manifest(str(out2), {"kind": "minhash_band_pairs"})
    assert (out2 / "_dn_run_manifest.json").exists()


def test_semi_broadcast_cap_malformed_value_raises(spark):
    """ADVICE r13: a malformed spark.dragnet.semiBroadcastMaxIds
    (e.g. '2M') must fail loudly, not silently fall back to the 16M
    default the knob was set to override."""
    from dragnet_spark.errors import ContractError
    from dragnet_spark.ops.dedup import _max_semi_broadcast_ids

    spark.conf.set("spark.dragnet.semiBroadcastMaxIds", "2M")
    try:
        with pytest.raises(ContractError, match="semiBroadcastMaxIds"):
            _max_semi_broadcast_ids(spark)
    finally:
        spark.conf.unset("spark.dragnet.semiBroadcastMaxIds")


def test_band_store_candidates_bounded_matches_oneshot(spark, tmp_path):
    """Bounded candidate discovery (the 10^5-tier knob: at 5e8 docs
    the one-shot collision exchange alone exceeds local disk) must
    return EXACTLY the one-shot candidate set — the slices partition
    the join on one of its own keys."""
    import tempfile

    from dragnet_spark.index.fingerprints import (
        BAND_DIR,
        band_store_candidates_bounded,
        build_band_store,
    )
    from dragnet_spark.ops.dedup import _collision_pairs
    from pyspark.sql import functions as F

    words = ["alpha", "beta", "gamma", "delta", "epsilon",
             "zeta", "eta", "theta", "iota", "kappa"]
    rows = []
    for i in range(20):
        w = list(words)
        if i % 3:
            w[i % len(w)] = f"uniq{i}"
        rows.append((i, " ".join(w)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = tempfile.mkdtemp(prefix="candb_")
    build_band_store(spark, docs, store, num_hashes=8, bands=4, ngram=3)

    import os as _os

    banded = spark.read.parquet(_os.path.join(store, BAND_DIR)).select(
        F.col("doc_id").alias("id"), "band", "bhash"
    )
    want = {
        (r.id_a, r.id_b)
        for r in _collision_pairs(banded, "id", ["band", "bhash"]).collect()
    }
    assert want  # the corpus must actually produce candidates

    for slices in (1, 3):
        out = str(tmp_path / f"cand_s{slices}")
        got = {
            (r.id_a, r.id_b)
            for r in band_store_candidates_bounded(
                spark, store, out, slices=slices
            ).collect()
        }
        assert got == want

    # resume under a different modulus: loud refusal
    from dragnet_spark.errors import ContractError

    with pytest.raises(ContractError, match="resume mismatch"):
        band_store_candidates_bounded(
            spark, store, str(tmp_path / "cand_s3"), slices=4
        )


def test_srp_store_candidates_bounded_matches_oneshot(spark, tmp_path):
    import os as _os
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    from dragnet_spark.index.fingerprints import (
        SRP_DIR,
        build_srp_store,
        srp_store_candidates_bounded,
    )
    from dragnet_spark.ops.dedup import _collision_pairs

    rng = np.random.RandomState(11)
    base = rng.standard_normal((6, 8))
    rows = []
    for i in range(6):
        rows.append((i, base[i].tolist()))
        rows.append((100 + i, (base[i] * 1.0001).tolist()))  # twin
    corpus = _emb_df(spark, rows)
    store = tempfile.mkdtemp(prefix="cands_")
    build_srp_store(spark, corpus, store, dims=8, with_pairs=False)

    banded = spark.read.parquet(_os.path.join(store, SRP_DIR)).select(
        F.col("vec_id").alias("__id"), "band", "bucket"
    )
    want = {
        (r.id_a, r.id_b)
        for r in _collision_pairs(
            banded, "__id", ["band", "bucket"]
        ).collect()
    }
    assert want
    got = {
        (r.id_a, r.id_b)
        for r in srp_store_candidates_bounded(
            spark, store, str(tmp_path / "cand"), slices=3
        ).collect()
    }
    assert got == want
