#!/usr/bin/env python
"""Headline benchmark: run the registry's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE COMPACT JSON line:

    {"metric": "headline_queries_total", "value": N, "unit": "sec",
     "sf": 0.1, "n_queries": 81, "queries": {<family>: total_sec, ...},
     "cpus": 4, "master": "local[4]", "default_parallelism": 4,
     "detail": "BENCH_DETAIL.json"}

plus ``"errors"`` and ``"incomplete": true`` when a query failed.
The driver records a bounded TAIL of stdout, so the printed line
carries per-FAMILY totals (~½ KB, survives any tail window); the
per-query seconds, Spark jobs and shuffle-read bytes go to the
committed BENCH_DETAIL.json sidecar, and one line per run is appended
to BENCH_HISTORY.jsonl.

    python bench.py NAME... [--runs N]

times only the named registry entries, N runs each (default 3), and
prints per entry its min/median seconds and the Spark jobs and
shuffle-read bytes of its last run. It writes nothing.

Each query is fully executed through the noop sink (no column-pruning
shortcut, nothing shipped to the driver) and runs under its own job
group of ``perfbench/ledger.Ledger``, whose counters come from the
status store at zero extra jobs. A query's time is the min of its
runs: run 1 also pays one-time Catalyst analysis and codegen
compilation (amortized to zero on a long-lived cluster). The session
is created and warmed before the clock starts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

from dragnet_spark.session import get_spark, session_cpus  # noqa: E402
from dragnet_spark import registry  # noqa: E402
from perfbench.ledger import Ledger  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: every family the engine implements, weighted toward
# the shapes that dominate at 100 TB (scans, star joins, windows).
# The compact line reports one total per family.
BENCH_FAMILIES = [
    ("scan", [
        "scan_count",
        "scan_by_type",
        "scan_multi_breakdown",
        "scan_filter_and_or",
        "scan_quantize",
        "scan_day_window",
        "scan_json_prop",
        "scan_weighted_reagg",
    ]),
    ("tpch", [
        "q1_pricing_summary",
        "q3_top_revenue_orders",
        "q5_revenue_by_nation",
        "top_customers_per_nation",
        "orders_with_discounted_lines",
        "q13_customer_order_distribution",
        "q18_large_volume_orders",
        "q6_forecast_revenue",
        "q7_volume_shipping",
        "q10_returned_top_customers",
        "q2_min_cost_supplier",
        "q11_important_parts",
        "q20_potential_promotion",
        "q21_waiting_suppliers",
        "sales_rollup_region_nation",
    ]),
    ("events", [
        "asof_purchase_last_click",
        "orders_in_promo_windows",
        "events_user_sessions",
        "events_value_percentiles",
        "events_sliding_window_5m",
        "events_pivot_type_by_day",
        "events_p99_outliers",
        "events_cube_type_day",
        # round-9 addition: one-scan profiler
        "events_profile",
    ]),
    ("text", [
        "text_tokens_by_source",
        "text_tfidf_top_terms",
        "text_unigram_logprob",
        "text_duplicate_spans",
        "text_repetition_stats",
        "decontam_benchmark_overlap",
        "dedup_cross_source_matrix",
        "source_unigram_kl",
        "docs_training_order",
        "corpus_version_diff",
        "text_bpe_fertility",
        "docs_source_mix_weights",
        "corpus_token_spectrum",
        "docs_weighted_sample",
        # round-9 additions: ranked retrieval + second-order LM gate
        # + bloom-prefiltered decontam (scale twin of the exact entry)
        "text_bm25_rank",
        "text_bigram_logprob",
        "decontam_bloom_prefilter",
        # round-9 addition: deterministic KMV cardinality sketch
        "corpus_vocab_kmv",
    ]),
    ("ann", [
        "ann_hard_negatives",
        "embedding_label_outliers",
        "split_leakage_report",
        "ann_vector_index_topk",
        "ann_vector_index_quantized",
    ]),
    ("dedup", [
        "dedup_exact",
        "dedup_minhash_lsh",
        "dedup_embedding_lsh",
        "customers_fuzzy_name_pairs",
        "ann_cosine_topk_blocked",
        "dedup_incremental_probe",
        "dedup_incremental_near_probe",
        "dedup_incremental_embedding_probe",
        # round-9 additions: asymmetric containment + graph centrality
        "dedup_containment",
        "docs_neardup_pagerank",
        # round-9 additions: SemDeDup — exact fixed-point k-means and
        # the cluster-restricted semantic prune it enables
        "semdedup_kmeans",
        "semdedup_prune",
        # round-10 additions: SRP-bucketed semantic clusters (the
        # 100x-graded scale form), TrustRank seed propagation, and
        # the quantitative cliques-vs-chains coefficient
        "dedup_embedding_clusters_lsh",
        "docs_neardup_trustrank",
        "docs_neardup_clustering",
        # round-11 additions: the two scale forms the 1000x tier
        # forced — hierarchical n*sqrt(k) SemDeDup assignment and the
        # corpus-scaled SRP band width
        "semdedup_prune_two_level",
        "dedup_embedding_lsh_autobits",
        # round-12 additions: store-amortized pair discovery (the
        # continuous-ingest posture measured at the 10^4 tier) and
        # the graded production router for SemDeDup assignment
        "dedup_minhash_lsh_store",
        "dedup_embedding_lsh_autobits_store",
        "semdedup_prune_auto",
    ]),
    # decode paths are timed like every other family (VERDICT r6 #4)
    # — multimodal throughput previously lived only in soak tables
    ("multimodal", [
        "multimodal_features",
        "multimodal_dhash_dedup",
        "multimodal_video_frames",
        "multimodal_resize",
        "multimodal_probe_roundtrip",
        # round-10: the decoder-injection hook, graded like the
        # native codecs
        "multimodal_injected_decoder",
    ]),
]
BENCH_QUERIES = [q for _, qs in BENCH_FAMILIES for q in qs]

#: Entries whose store/index BUILD lives in a module-level cache
#: (registry *_CACHE dicts) — their timing is the PROBE only, the
#: per-batch recurring cost a pipeline actually pays (builds amortize
#: and are timed by the soaks/BASELINE.md). Annotated in the output
#: so the number is never mistaken for end-to-end build+probe cost.
STORE_BACKED_PROBE_ONLY = [
    "ann_vector_index_topk",
    "ann_vector_index_quantized",
    "dedup_incremental_probe",
    "dedup_incremental_near_probe",
    "dedup_incremental_embedding_probe",
    "dedup_minhash_lsh_store",
    "dedup_embedding_lsh_autobits_store",
]


HISTORY = ROOT / "BENCH_HISTORY.jsonl"
DETAIL = ROOT / "BENCH_DETAIL.json"


def current_round() -> int:
    """The build round this run belongs to: $SPARK_GRAFT_ROUND if set,
    else inferred as (highest committed BENCH_r{N}.json) + 1 — the
    driver writes BENCH_r{N} only AFTER the round's bench runs, so
    during round N the highest committed artifact is N-1. Stamped into
    every BENCH_HISTORY.jsonl row so round-over-round attribution
    never needs timestamp archaeology (VERDICT r9 #7)."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env and env.isdigit():
        return int(env)
    rounds = [0]
    for p in ROOT.glob("BENCH_r*.json"):
        suffix = p.stem[len("BENCH_r"):]
        if suffix.isdigit():
            rounds.append(int(suffix))
    return max(rounds) + 1


#: The headline's runs per query (min taken).
HEADLINE_RUNS = 2
#: The ledger counters recorded per query.
RECORDED = ("jobs", "shuffle_read_bytes")


def _session():
    """The bench session, warmed: a trivial action starts the JVM and
    a no-op pandas UDF across all cores forks the Python workers
    (first-use fork + pandas import would otherwise bill the first UDF
    query ~6 s of local-only cold start)."""
    spark = get_spark(app_name="dragnet_bench")
    spark.range(1).count()
    from pyspark.sql.functions import col, pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    spark.range(1024).repartition(session_cpus()).select(
        _warm(col("id"))
    ).count()
    return spark


def time_query(spark, ledger: Ledger, name: str, runs: int):
    """(seconds of each run, counters of the last run) of registry
    entry ``name`` through the noop sink. The last run's counters are
    the recurring cost: run 1 may also build an entry's cached store
    (STORE_BACKED_PROBE_ONLY)."""
    e = registry.REGISTRY[name]
    secs = []
    for _ in range(runs):
        with ledger.scope(name) as group:
            t0 = time.perf_counter()
            e.spark(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            secs.append(time.perf_counter() - t0)
    c = ledger.read(group)
    return secs, {k: c[k] for k in RECORDED}


def time_named(spark, names: list[str], runs: int) -> None:
    """Print min/median seconds and the ledger counters of each named
    entry; record nothing."""
    ledger = Ledger(spark)
    for name in names:
        if name not in registry.REGISTRY:
            print(f"{name}: UNKNOWN")
            continue
        secs, c = time_query(spark, ledger, name, runs)
        s = sorted(secs)
        print(
            f"{name}: min={s[0]:.3f} med={s[len(s) // 2]:.3f} "
            f"all={[round(t, 3) for t in secs]} jobs={c['jobs']} "
            f"shuffle_read_bytes={c['shuffle_read_bytes']}"
        )


def headline(spark) -> dict:
    """Time every BENCH_FAMILIES query; write BENCH_DETAIL.json, append
    one BENCH_HISTORY.jsonl line and return the compact line. One
    broken query must not zero the whole bench: failures are recorded
    per query and the line is always returned."""
    ledger = Ledger(spark)
    timings: dict[str, float] = {}
    counters: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for _fam, names in BENCH_FAMILIES:
        for name in names:
            try:
                secs, counters[name] = time_query(
                    spark, ledger, name, HEADLINE_RUNS
                )
            except Exception as exc:  # noqa: BLE001 — degrade, don't die
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(f"bench: {name} failed: {errors[name]}", file=sys.stderr)
                continue
            timings[name] = round(min(secs), 3)

    sf_str = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf_str) if sf_str.replace(".", "").isdigit() else sf_str
    cpus = session_cpus()
    sc = spark.sparkContext
    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "counters": counters,
        "sf": sf,
        "cpus": cpus,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "store_backed_probe_only": [
            q for q in STORE_BACKED_PROBE_ONLY if q in timings
        ],
    }
    if errors:
        # the headline total excludes the failed queries' time, so it
        # is NOT comparable against a clean run or BASELINE.md — say so
        detail["errors"] = errors
        detail["incomplete"] = True
    try:
        with DETAIL.open("w") as f:
            json.dump(detail, f, indent=1)
        with HISTORY.open("a") as f:
            f.write(json.dumps({
                "ts": time.time(),
                "round": current_round(),
                "sf": sf,
                "cpus": cpus,
                "queries": timings,
                "jobs": {q: c["jobs"] for q, c in counters.items()},
            }) + "\n")
    except OSError as exc:  # pragma: no cover — read-only checkout
        print(f"bench: record write failed: {exc}", file=sys.stderr)
    # the compact line (VERDICT r8 #6): a full per-query line got
    # head-clipped by a bounded stdout tail two rounds running.
    # cpus/master/default_parallelism echo the live context
    # (VERDICT r14 #1/#2), so a core-count wiring bug shows as a
    # mismatch with $SPARK_GRAFT_CPUS
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": {
            fam: round(sum(timings[q] for q in qs if q in timings), 3)
            for fam, qs in BENCH_FAMILIES
        },
        "cpus": cpus,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "detail": DETAIL.name,
    }
    if errors:
        compact["errors"] = sorted(errors)
        compact["incomplete"] = True
    return compact


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description="Registry benchmark (see the module docstring)."
    )
    ap.add_argument(
        "names", nargs="*",
        help="time only these registry entries and write nothing",
    )
    ap.add_argument(
        "--runs", type=int,
        help="runs per named entry (default 3; the headline runs 2)",
    )
    args = ap.parse_args(argv)
    if args.runs is not None and (args.runs < 1 or not args.names):
        ap.error("--runs takes a count >= 1 and times named entries only")
    spark = _session()
    if args.names:
        time_named(spark, args.names, args.runs or 3)
    else:
        print(json.dumps(headline(spark)))


if __name__ == "__main__":
    main()
