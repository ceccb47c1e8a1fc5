#!/usr/bin/env python
"""Store-amortized LSH measurement at the 10⁴ octave (VERDICT r11 #1):
the two families whose one-shot batch DAGs exceeded this box's disk at
50M docs / 20M embeddings, run in the posture a continuous-ingest
pipeline actually uses — build the band/SRP store ONCE (the signature
stage, measured 48% of the minhash wall at sf1000, paid at ingest by
append_band_keys/append_srp_keys in production), then run pair
discovery from the persisted rows (registry entries
dedup_minhash_lsh_store / dedup_embedding_lsh_autobits_store — the
same code path the driver oracle-grades at sf0.01/0.1).

Each family runs three GOVERNED phases with a GC nudge between (the
bench_octave ContextCleaner discipline — one phase's dead shuffle must
not sit under the next phase's spills):

  build  — store build wall + on-disk bytes (signature stage)
  cand   — candidate count from persisted rows (band-shuffle stage);
           also the disk gate: projected verify-exchange bytes =
           n_cand × verify row width × 2 joins. If the projection
           exceeds the configured disk budget the verify phase is a
           DECLARED skip carrying the measured candidate count and
           projection — a regime measurement, not an error.
  verify — full pair discovery wall + verified-pair count
           (probe − cand ≈ the verify stage; with the build wall this
           is the tier's per-stage attribution)

Results merge into BENCH_SF10000.json: per-phase rows under
"queries" (store_build / store_cand / store_probe suffixes), a
"store_amortized" detail block, and the two batch rows recorded as
declared skips that cite these measured rows — closing the artifact's
one raw error (VERDICT r11 #2: errors must be {} and every non-green
row a reasoned declared skip).

Usage: python tools/bench_sf10000_store.py [--family minhash|srp|both]
         [--sf-dir DIR] [--out BENCH_SF10000.json]
         [--store-root .stores_sf10000] [--disk-budget-gb N]
         [--keep-stores]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.bench_octave import gc_nudge  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent


def _du_bytes(path: str) -> int:
    out = subprocess.run(
        ["du", "-sb", path], capture_output=True, text=True, check=False
    ).stdout
    try:
        return int(out.split()[0])
    except (IndexError, ValueError):
        return 0


def _free_bytes(path: str) -> int:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize


def run(
    family: str,
    sf_dir: str,
    store_root: str,
    disk_budget: int,
    keep_stores: bool,
) -> dict:
    """One family's build→cand→verify ladder. Returns the detail
    record; raises nothing — every phase outcome (timing, skip,
    error) is recorded."""
    from pyspark.sql import functions as F

    from dragnet_spark import registry
    from dragnet_spark.registry._base import _t
    from dragnet_spark.registry.curation import (
        _EMB_LSH_BANDS,
        _EMB_LSH_DIMS,
        _JACCARD_T,
        _NGRAM,
        _TWIN_SHIFT,
        _store_amort_path,
    )
    from dragnet_spark.session import get_spark

    spark = get_spark(app_name=f"bench_sf10000_store_{family}")
    rec: dict = {"family": family, "sf_dir": sf_dir}

    if family == "minhash":
        from dragnet_spark.index.fingerprints import (
            BAND_DIR,
            BAND_META,
            build_band_store,
            load_band_store_meta,
        )
        from dragnet_spark.ops.dedup import _collision_pairs

        docs = _t(spark, sf_dir, "documents")
        path = _store_amort_path(sf_dir, "minhash_band")
        t0 = time.time()
        if not os.path.exists(os.path.join(path, BAND_META)):
            build_band_store(
                spark, docs, path, num_hashes=16, bands=8, ngram=_NGRAM
            )
            rec["build_s"] = round(time.time() - t0, 1)
        else:
            rec["build_s"] = None  # pre-existing store: build not timed
        rec["store_bytes"] = _du_bytes(path)
        gc_nudge(spark)

        load_band_store_meta(path)  # version guard
        banded = spark.read.parquet(os.path.join(path, BAND_DIR)).select(
            F.col("doc_id").alias("id"), "band", "bhash"
        )
        t0 = time.time()
        n_cand = _collision_pairs(banded, "id", ["band", "bhash"]).count()
        rec["cand_s"] = round(time.time() - t0, 1)
        rec["n_candidates"] = n_cand
        gc_nudge(spark)

        # verify exchange projection: two joins each shuffling the
        # semi-filtered shingle-set table (collision-family docs ×
        # ~doc-length string arrays). Estimated per-doc set bytes from
        # a 100k-doc sample of the corpus.
        sample = docs.limit(100_000)
        from dragnet_spark.ops.dedup import token_sets

        per_doc = (
            token_sets(sample, "text", "doc_id", _NGRAM)
            .select(
                F.aggregate(
                    F.transform("tset", lambda s: F.length(s) + F.lit(8)),
                    F.lit(0),
                    lambda a, b: a + b,
                ).alias("b")
            )
            .agg(F.avg("b"))
            .first()[0]
            or 0
        )
        # distinct candidate ids bound the semi'd sets table
        n_ids_est = min(2 * n_cand, docs.count())
        projection = int(2 * n_ids_est * per_doc)
        rec["verify_projection_bytes"] = projection
        rec["per_doc_set_bytes_est"] = int(per_doc)
        if projection > disk_budget:
            # one-shot verify won't fit — run the BOUNDED sliced form
            # (band_store_pairs_bounded): sequential per-slice jobs,
            # peak exchange ~projection/slices
            from dragnet_spark.index.fingerprints import (
                band_store_pairs_bounded,
            )

            # per-slice footprint after the broadcast-semi +
            # materialize-once fixes: ~2.2x the slice's survivor sets
            # (one checkpointed copy + two join exchanges of it);
            # slices sized so that fits the budget. Each slice still
            # pays one full corpus text scan, so fewer slices = less
            # total wall — the budget, not a fixed fraction, is the
            # right divisor.
            slices = min(64, max(2, -(-projection // disk_budget)))
            out_dir = os.path.join(store_root, "minhash_pairs_out")
            t0 = time.time()
            n_pairs = band_store_pairs_bounded(
                spark, path, docs, out_dir, threshold=_JACCARD_T,
                slices=int(slices),
            ).count()
            rec["verify_bounded_s"] = round(time.time() - t0, 1)
            rec["verify_slices"] = int(slices)
            rec["n_verified_pairs"] = n_pairs
            rec["attributed"] = {
                "signature_build": rec["build_s"],
                "band_shuffle_and_dedup": rec["cand_s"],
                "verify_bounded": rec["verify_bounded_s"],
            }
            shutil.rmtree(out_dir, ignore_errors=True)
        else:
            t0 = time.time()
            n_pairs = registry.queries()["dedup_minhash_lsh_store"](
                spark, sf_dir
            ).count()
            rec["probe_s"] = round(time.time() - t0, 1)
            rec["n_verified_pairs"] = n_pairs
            rec["attributed"] = {
                "signature_build": rec["build_s"],
                "band_shuffle_and_dedup": rec["cand_s"],
                "verify_join": round(rec["probe_s"] - rec["cand_s"], 1),
            }
    else:
        from dragnet_spark.index.fingerprints import (
            SRP_DIR,
            SRP_META,
            build_srp_store,
        )
        from dragnet_spark.ops.dedup import (
            AUTOBITS_MAX,
            _collision_pairs,
            auto_bits_per_band,
            srp_planes_q_prefix,
        )

        emb = _t(spark, sf_dir, "embeddings")
        twins = emb.select(
            (F.col("vec_id") + _TWIN_SHIFT).alias("vec_id"),
            F.col("embedding"),
        )
        corpus = emb.select("vec_id", "embedding").unionByName(twins)
        path = _store_amort_path(sf_dir, "srp_autobits")
        n = corpus.count()
        rec["n_vectors"] = n
        t0 = time.time()
        if not os.path.exists(os.path.join(path, SRP_META)):
            bits = min(AUTOBITS_MAX, auto_bits_per_band(n, _EMB_LSH_BANDS))
            rec["bits"] = bits
            build_srp_store(
                spark, corpus, path,
                vec_col="embedding", id_col="vec_id",
                bands=_EMB_LSH_BANDS, bits_per_band=bits, seed=42,
                dims=_EMB_LSH_DIMS,
                planes_q=srp_planes_q_prefix(
                    _EMB_LSH_DIMS, _EMB_LSH_BANDS, bits, 42
                ),
                with_pairs=False,
            )
            rec["build_s"] = round(time.time() - t0, 1)
        else:
            rec["build_s"] = None
        rec["store_bytes"] = _du_bytes(path)
        gc_nudge(spark)

        banded = spark.read.parquet(os.path.join(path, SRP_DIR)).select(
            F.col("vec_id").alias("__id"), "band", "bucket"
        )
        t0 = time.time()
        n_cand = _collision_pairs(banded, "__id", ["band", "bucket"]).count()
        rec["cand_s"] = round(time.time() - t0, 1)
        rec["n_candidates"] = n_cand
        gc_nudge(spark)

        # verify projection: join #1's output (pair + one 64-dim
        # double array) shuffles for join #2 — the dominant exchange
        row_bytes = _EMB_LSH_DIMS * 8 + 24
        projection = int(n_cand * row_bytes) + int(
            2 * min(2 * n_cand, n) * (_EMB_LSH_DIMS * 8 + 16)
        )
        rec["verify_projection_bytes"] = projection
        if projection > disk_budget:
            # candidate DEGREE here defeats pair-slicing (each slice's
            # id families span most of the vector table) — the bounded
            # SRP verify is per-band BUCKET-LOCAL matmul: vectors ride
            # once per band, pairs never join vectors
            from dragnet_spark.index.fingerprints import (
                srp_store_pairs_bucket_verify,
            )
            from dragnet_spark.registry.curation import _EMB_LSH_T

            out_dir = os.path.join(store_root, "srp_pairs_out")
            t0 = time.time()
            n_pairs = srp_store_pairs_bucket_verify(
                spark, path, corpus, out_dir, threshold=_EMB_LSH_T
            ).count()
            rec["verify_bounded_s"] = round(time.time() - t0, 1)
            rec["verify_slices"] = _EMB_LSH_BANDS
            rec["verify_mode"] = "per-band bucket-local matmul"
            rec["n_verified_pairs"] = n_pairs
            rec["attributed"] = {
                "signature_build": rec["build_s"],
                "band_shuffle_and_dedup": rec["cand_s"],
                "verify_bounded": rec["verify_bounded_s"],
            }
            shutil.rmtree(out_dir, ignore_errors=True)
        else:
            t0 = time.time()
            n_pairs = registry.queries()[
                "dedup_embedding_lsh_autobits_store"
            ](spark, sf_dir).count()
            rec["probe_s"] = round(time.time() - t0, 1)
            rec["n_verified_pairs"] = n_pairs
            rec["attributed"] = {
                "signature_build": rec["build_s"],
                "band_shuffle_and_dedup": rec["cand_s"],
                "verify_join": round(rec["probe_s"] - rec["cand_s"], 1),
            }

    rec["free_disk_after_bytes"] = _free_bytes(store_root)
    if not keep_stores:
        shutil.rmtree(path, ignore_errors=True)
        rec["store_deleted_after_run"] = True
    print(json.dumps(rec), flush=True)
    return rec


def merge_into_artifact(out_path: Path, recs: list[dict]) -> None:
    """Fold the measured phases into BENCH_SF10000.json: per-phase
    query rows, a store_amortized detail block, batch rows as declared
    skips citing the measurements, errors cleared."""
    art = json.loads(out_path.read_text()) if out_path.exists() else {}
    art.setdefault("queries", {})
    art.setdefault("declared_skips", {})
    sa = art.setdefault("store_amortized", {})
    for rec in recs:
        fam = rec["family"]
        base = (
            "dedup_minhash_lsh" if fam == "minhash"
            else "dedup_embedding_lsh_autobits"
        )
        sa[base] = rec
        if rec.get("build_s") is not None:
            art["queries"][f"{base}_store_build"] = rec["build_s"]
        elif f"{base}_store_build" in art["queries"]:
            # resumed run reused a persisted store — carry the prior
            # run's build wall into this record's prose/attribution
            rec["build_s"] = art["queries"][f"{base}_store_build"]
            rec["build_note"] = "prior run's wall; store reused"
            rec.get("attributed", {})["signature_build"] = rec["build_s"]
        art["queries"][f"{base}_store_cand"] = rec["cand_s"]
        if "probe_s" in rec:
            art["queries"][f"{base}_store_probe"] = rec["probe_s"]
            art["declared_skips"][base] = (
                "batch one-shot DAG exceeds single-box disk at this tier "
                "(measured r11); the store-amortized two-phase form IS "
                f"measured here: build {rec['build_s']} s + probe "
                f"{rec['probe_s']} s, {rec['n_verified_pairs']} verified "
                "pairs — see store_amortized"
            )
        elif "verify_bounded_s" in rec:
            art["queries"][f"{base}_store_verify_bounded"] = (
                rec["verify_bounded_s"]
            )
            art["declared_skips"][base] = (
                "batch one-shot DAG exceeds single-box disk at this tier "
                "(one-shot verify exchange projects to "
                f"{rec['verify_projection_bytes'] / 1e9:.0f} GB); the "
                "store-amortized pipeline IS fully measured here: build "
                f"{rec['build_s']} s, {rec['n_candidates']} candidates in "
                f"{rec['cand_s']} s, BOUNDED sliced verify "
                f"({rec['verify_slices']} sequential jobs, peak exchange "
                f"~1/slices) {rec['verify_bounded_s']} s, "
                f"{rec['n_verified_pairs']} verified pairs — see "
                "store_amortized"
            )
        else:
            art["declared_skips"][base] = (
                "batch one-shot DAG exceeds single-box disk at this tier "
                "(measured r11); store-amortized build+candidate phases "
                f"measured here (build {rec['build_s']} s, "
                f"{rec['n_candidates']} candidates in {rec['cand_s']} s); "
                "verify phase governed-skipped: "
                + rec["verify"]["reason"]
            )
        art.get("errors", {}).pop(base, None)
    if not art.get("errors"):
        art.pop("errors", None)
    art["value"] = round(sum(art["queries"].values()), 3)
    out_path.write_text(json.dumps(art, indent=1))
    hist = ROOT / "BENCH_SF10000_HISTORY.jsonl"
    with hist.open("a") as f:
        f.write(json.dumps({
            "ts": time.time(),
            "store_amortized": {r["family"]: {
                k: r.get(k) for k in (
                    "build_s", "cand_s", "probe_s", "n_candidates",
                    "n_verified_pairs", "store_bytes",
                )
            } for r in recs},
        }) + "\n")


def main() -> None:
    args = list(sys.argv[1:])

    def _opt(name: str, default: str | None = None) -> str | None:
        if name in args:
            i = args.index(name)
            v = args[i + 1]
            del args[i:i + 2]
            return v
        return default

    keep = "--keep-stores" in args
    if keep:
        args.remove("--keep-stores")
    family = _opt("--family", "both")
    sf_dir = _opt("--sf-dir", str(ROOT / "testdata_sf10000"))
    out = Path(_opt("--out", str(ROOT / "BENCH_SF10000.json")))
    store_root = _opt("--store-root", str(ROOT / ".stores_sf10000"))
    budget_gb = float(_opt("--disk-budget-gb", "45"))

    os.makedirs(store_root, exist_ok=True)
    os.environ["DRAGNET_STORE_ROOT"] = store_root
    os.environ.setdefault("DRAGNET_DRIVER_MEM", "64g")

    fams = ["minhash", "srp"] if family == "both" else [family]
    recs = [
        run(f, sf_dir, store_root, int(budget_gb * 1e9), keep)
        for f in fams
    ]
    merge_into_artifact(out, recs)
    print(json.dumps({"merged": str(out), "families": fams}), flush=True)


if __name__ == "__main__":
    main()
