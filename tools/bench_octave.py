#!/usr/bin/env python
"""The one octave-tier bench runner: every big tier (sf100, sf1000,
the 10⁴ tier) runs the same loop — each query once through
``count()`` under its own ``perfbench/ledger.Ledger`` job group
(seconds, Spark jobs and shuffle-read bytes per query), cost-shape
factors against the previous octave's committed artifact,
executed-plan audits (BNLJ/cartesian banned), and a self-describing
JSON artifact.

  python tools/bench_octave.py TIER [--sf-dir DIR] [--out PATH] [--skip SPEC]

TIER is a row of ``TIERS`` (sf100, sf1000, sf10000). ``--out``
defaults to ``BENCH_<TIER>.json`` at the repo root; the history file
is derived from it as ``<stem>_HISTORY.jsonl`` (so a run to a scratch
directory never touches the committed history).

Skips are DECLARED, never silent: ``--skip '{"name": "reason", ...}'``
(or the legacy ``name=reason;...``) excludes a subset row from a run
— e.g. a stage whose shuffle exceeds this box's disk at the tier, a
real regime measurement, not an inconvenience — and records it in
the artifact with its written reason.

Correctness for the same tiers is ``tools/check_correctness.py --tier
TIER``, which grades each row's graded subset against its DuckDB
oracle twin.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

# Subset rationale (each family's heaviest feasible representative —
# the all-pairs oracle baselines are excluded here for the same
# documented reason they carry CHECK_SKIP entries in the 100×
# correctness sweep: their COST is Ω(n²) by declared contract):
#
# * tpch:  q1 (6-col agg over 60M), q18 (group-filter-join, AQE skew),
#          q21 (4-way join + anti/semi)
# * events: skew-proof distinct users at 10M rows (salted two-phase)
# * text:  token stats ((doc,token) explode over 500k docs),
#          minhash LSH dedup (band shuffle, candidates-only verify),
#          prefix-filtered Jaccard, KMV vocabulary census,
#          bloom-prefiltered decontamination
# * embeddings: brute-force cosine top-k over all 200k vectors
#          (broadcast query side), IVF probe, materialized-index probe,
#          SRP-LSH near-dup + its closure clusters, SemDeDup k-means +
#          auto-k prune
# * graph: PageRank + triangle counts over the near-dup graph
# * multimodal: MJPEG-in-AVI frame decode (codec fan-out; the one
#          multimodal row with enough work at 100× to be worth a band)
SF100_BENCH = (
    "q1_pricing_summary",
    "q18_large_volume_orders",
    "q21_waiting_suppliers",
    "events_distinct_users_by_type",
    "text_token_stats",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_cosine_topk_blocked",
    "ann_ivf_topk",  # includes its in-query centroid build (see the note)
    "ann_vector_index_topk",
    "embedding_label_outliers",
    "semdedup_kmeans",
    # round-10 additions: the families whose 100× skips were retired
    # this round, plus the graph + text + codec representatives that
    # previously had correctness rows but no graded bench row
    "semdedup_prune",
    "dedup_embedding_lsh",
    "dedup_embedding_clusters_lsh",
    "dedup_jaccard_prefix",
    "docs_neardup_pagerank",
    "docs_neardup_triangles",
    "corpus_vocab_kmv",
    "decontam_bloom_prefilter",
    "multimodal_video_frames",
    # round-11 additions: the two scale forms the 1000x tier forced
    # into existence, now registry-graded — their sf100 rows are the
    # factor denominators the sf1000 tier reads from BENCH_SF100.json
    "semdedup_prune_two_level",
    "dedup_embedding_lsh_autobits",
)

#: queries touching ONLY documents/embeddings — each family's declared
#: scale path. sf100 factor denominators are read from the committed
#: BENCH_SF100.json at runtime. ``semdedup_prune`` (flat auto-k
#: assignment) is replaced by its successor ``semdedup_prune_two_level``
#: — the flat form's n·k·dims assignment measured factor 27.6 on 10×
#: data (SCALE.md). The 10⁴ tier benches the same list: the point of
#: the ladder is the SAME queries at every octave, so each tier's
#: factor column is a direct linearity measurement.
SF1000_BENCH = (
    "dedup_exact",
    "text_token_stats",
    "dedup_minhash_lsh",
    "dedup_embedding_lsh_autobits",
    "semdedup_kmeans",
    "semdedup_prune_two_level",
    "corpus_vocab_kmv",
    # round-13 (VERDICT r12 #2): the store-amortized forms pinned at
    # full 5M-doc width — one-shot from-store, and the CLI-routed
    # BOUNDED (sliced crash-resumable verify) pipeline; all three
    # minhash entries share one oracle SQL (bit-identical pairs by
    # construction), which check_correctness memoizes so the 10³-tier
    # DuckDB re-derivation is paid once, not three times
    "dedup_minhash_lsh_store",
    "dedup_minhash_lsh_store_cli",
    # round-14 (VERDICT r13 #4): the SRP store forms pinned at full
    # 2M-vector width, mirroring what r13 did for minhash — one-shot
    # from-store, and the CLI-routed bucket-verify pipeline
    # (`dn srp-build --bits auto` + `dn srp-pairs --mode bucket`).
    # Pairs are bit-identical to dedup_embedding_lsh_autobits by
    # construction, so its existing static oracle grades all three;
    # check_correctness memoizes the oracle SQL so DuckDB re-derives the
    # sign-matmul once for the family, not per entry
    "dedup_embedding_lsh_autobits_store",
    "dedup_embedding_lsh_autobits_store_cli",
)

#: slice predicates per table — the ONE definition of the 10⁴ tier's
#: sampled-oracle fixture. Full-tier grading is measured-infeasible
#: there (the minhash oracle alone cost 1,687 s at sf1000 and scales to
#: ~5 h at 50M docs; the two-level-prune oracle needed ~90 GB of
#: intermediates at 2M vectors), so the grader materializes this
#: deterministic slice of the tier's own parquet once and grades it on
#: BOTH engines.
#:
#: documents slice by WHOLE REPLICA, every 100th (1% of the corpus:
#: 100 of the 10⁴ replicas × 5k docs, spanning the full replica-index
#: range): near-dup pairs are within-replica by construction
#: (cross-replica shingle overlap is zero — gen_sf1's token salt), so
#: a replica-spread slice preserves the tier's pair structure
#: (~25,600 expected minhash pairs) where a mod-id slice graded
#: pair ops green-but-empty (both endpoints of a pair almost never
#: share id % 100).
#:
#: embeddings sample at 2%, not 1%: 400k vectors puts auto_k at
#: k = 1600 ≥ TWO_LEVEL_MIN_K, so `semdedup_prune_auto` routes its
#: TWO-LEVEL branch here — the k≥1024 side of the production router
#: gets oracle-graded (its flat side is graded at sf0.01/0.1), while
#: the slice stays small enough that every oracle is tractable (the
#: autobits pair structure is the in-query planted twins, present at
#: any slice).
SLICE_RULES = {
    "documents": "(doc_id // 100000) % 100 = 0",
    "embeddings": "vec_id % 50 = 0",
}

#: graded at the 10⁴ tier: the subset's oracle-bearing scale paths plus
#: the round-12 store-amortized forms (same oracles as their batch
#: siblings — so the from-store path gets cross-engine signal at this
#: octave too)
SF10000_GRADED = (
    "dedup_exact",
    "text_token_stats",
    "corpus_vocab_kmv",
    "semdedup_prune_two_level",
    "semdedup_prune_auto",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_store",
    "dedup_embedding_lsh_autobits",
    "dedup_embedding_lsh_autobits_store",
    # round-13 (VERDICT r12 #5): the graph family over slice-derived
    # near-dup pairs — the replica-spread slice preserves pair
    # structure (pairs are within-replica by construction), so the
    # components/triangles/pagerank path gets cross-engine signal one
    # octave past sf1000, where it was previously ungraded above 100×
    "dedup_clusters",
    "docs_neardup_triangles",
    "docs_neardup_pagerank",
)


@dataclass(frozen=True)
class Tier:
    """One octave tier: what the runner benches and the grader grades."""

    sf_dir: Path
    bench: tuple[str, ...]
    metric: str
    note: str
    #: graded subset; empty means the bench subset
    graded: tuple[str, ...] = ()
    #: previous tier's committed artifact and the factor key's label
    prev: Path | None = None
    factor_label: str = ""
    #: local JVM heap, honored only if DRAGNET_DRIVER_MEM isn't set:
    #: in local[N] mode all N scan threads share ONE heap
    driver_mem: str | None = None
    #: DuckDB ``SET`` statements the grader runs before the oracles
    duckdb: dict[str, str] = field(default_factory=dict)
    #: non-empty: grade a deterministic slice (see SLICE_RULES)
    slice_rules: dict[str, str] = field(default_factory=dict)

    @property
    def graded_names(self) -> tuple[str, ...]:
        return self.graded or self.bench


TIERS: dict[str, Tier] = {
    # 100× facts (60M lineitem, 10M events, 500k documents, 200k
    # embeddings — Zipf customer head, salted documents,
    # signed-permutation embeddings)
    "sf100": Tier(
        sf_dir=ROOT / "testdata_sf100",
        bench=SF100_BENCH,
        metric="sf100_subset_total",
        note=(
            "ann_ivf_topk includes its in-query centroid build each run; "
            "the materialized index/vector.py probe is the production "
            "path (ann_vector_index_topk row). Store-backed probes time "
            "the probe only (builds amortize; see bench.py "
            "STORE_BACKED_PROBE_ONLY)"
        ),
    ),
    # partial 1000× tier (5M documents, 2M embeddings — ``tools/gen_sf1.py
    # testdata_sf1000 --scale 1000 --tables documents,embeddings``; fact
    # tables deliberately absent)
    "sf1000": Tier(
        sf_dir=ROOT / "testdata_sf1000",
        bench=SF1000_BENCH,
        metric="sf1000_curation_subset_total",
        note=(
            "engine-only timings; correctness at this tier is "
            "CORRECTNESS_SF1000.json (graded subset + declared skips). "
            "factor ~10 vs sf100 = linear shape on 10x docs/embeddings. "
            "semdedup_prune (flat) replaced by semdedup_prune_two_level "
            "— the flat assignment's 27.6x factor is the r10-measured "
            "wall this form retires (SCALE.md)"
        ),
        prev=ROOT / "BENCH_SF100.json",
        factor_label="sf100_bench",
        # cap the oracle's RAM: DuckDB's default limit (80% of RAM)
        # plus the Spark JVM heap over-commits the box — the
        # two-level-prune oracle materializes tens of GB and the OS
        # OOM-killer takes the whole sweep down (measured r13: python
        # at 67.8 GB anon-rss killed mid-oracle with a 64g JVM
        # resident). The cap must stay ABOVE that oracle's ~90 GB
        # working set: at 80GB it spills past the box's ~66 GB of free
        # disk instead (measured r13: ENOSPC in duckdb_temp_storage) —
        # 95GB fits beside the default 8g JVM in 125 GB RAM and keeps
        # it in memory.
        #
        # NO temp_directory on purpose: with one configured, DuckDB
        # plans out-of-core operators proactively and the
        # two-level-prune oracle's ~60 GB of sort/join spill overruns
        # this box's ~65 GB of free disk (measured r13, twice) — while
        # the same query fits the in-RAM limit when spill is
        # impossible (r12's green run and r13's final one). In-memory
        # DBs without a temp dir cannot spill; a genuine over-limit
        # errors loudly instead of taking the disk down with it.
        duckdb={"memory_limit": "95GB"},
    ),
    # partial 10⁴ tier (50M documents, 20M embeddings —
    # ``tools/gen_octave.py testdata_sf10000 --scale 10000 --tables
    # documents,embeddings``)
    "sf10000": Tier(
        sf_dir=ROOT / "testdata_sf10000",
        bench=SF1000_BENCH,
        metric="sf10000_curation_subset_total",
        note=(
            "engine-only timings at the 10^4 octave (50M docs / 20M "
            "embeddings on one box); factor ~10 vs the committed "
            "sf1000 rows = linear cost shape on 10x the data. "
            "Correctness for these code paths is graded at "
            "sf0.01/0.1/10x/100x (CORRECTNESS_*) and sf1000 "
            "(CORRECTNESS_SF1000.json); this tier grades cost shape "
            "and plan safety"
        ),
        graded=SF10000_GRADED,
        prev=ROOT / "BENCH_SF1000.json",
        factor_label="sf1000",
        # the 8g session default OOMed the vectorized parquet readers
        # on this tier's 50M-doc scan, taking the JVM and every later
        # query's timing with it
        driver_mem="64g",
        # the slice's oracles are small, so spill is safe here
        duckdb={
            "memory_limit": "100GB",
            "temp_directory": str(ROOT / ".duckdb_tmp"),
        },
        slice_rules=SLICE_RULES,
    ),
}


def parse_skips(spec: str) -> dict[str, str]:
    """Parse a declared-skip spec. Preferred form is a JSON object
    ('{"name": "reason", ...}') — reasons are prose and may contain
    any character; the legacy 'name=reason;...' form survives for
    short reasons but truncates at the first ';' (the r11 artifact
    needed hand repair exactly because a skip reason contained one)."""
    spec = (spec or "").strip()
    if not spec:
        return {}
    if spec.startswith("{"):
        parsed = json.loads(spec)
        return {str(k): str(v) for k, v in parsed.items()}
    skips = {}
    for part in spec.split(";"):
        if "=" in part:
            n, _, why = part.partition("=")
            skips[n.strip()] = why.strip()
    return skips


def _prev_rows(prev: Path | None) -> dict[str, float]:
    """Factor denominators from the previous octave's committed
    artifact — never hard-coded (a moved row must move the factor)."""
    if prev is None or not prev.exists():
        return {}
    try:
        return json.loads(prev.read_text()).get("queries", {})
    except json.JSONDecodeError:
        return {}


def plan_bits(df) -> dict:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    return {
        "broadcast_joins": p.count("BroadcastHashJoin"),
        "smj": p.count("SortMergeJoin"),
        "skew": "isSkew=true" in p or "skewed=true" in p,
        "bnlj": "BroadcastNestedLoopJoin" in p,
        "cartesian": "CartesianProduct" in p,
    }


def gc_nudge(spark) -> None:
    """Shuffle files are deleted only when the JVM GCs the shuffle
    dependency objects (ContextCleaner is GC-driven), and a big octave
    heap may not GC for a whole run — so one query's (or phase's)
    shuffle data stays on disk under the NEXT one's spills. Measured at
    the 10⁴ tier: ~20 GB of dead shuffle from two finished queries
    helped push the minhash run over this box's free disk. Nudge a
    full GC; the sleep gives the async cleanup a moment to unlink."""
    try:
        spark.sparkContext._jvm.System.gc()
        time.sleep(3)
    except Exception:  # pragma: no cover — py4j hiccup
        pass


def run_tier(
    tier: Tier,
    out_path: str | Path,
    *,
    sf_dir: str | None = None,
    skips: dict[str, str] | None = None,
) -> int:
    """Run the tier's bench subset; write the artifact and append one
    history line; return the exit code."""
    import bench
    from dragnet_spark import registry
    from dragnet_spark.session import get_spark, session_cpus
    from perfbench.ledger import Ledger

    if tier.driver_mem:
        os.environ.setdefault("DRAGNET_DRIVER_MEM", tier.driver_mem)

    sf_dir = str(sf_dir or tier.sf_dir)
    out = Path(out_path)
    skips = dict(skips or {})
    history = out.with_name(f"{out.stem}_HISTORY.jsonl")
    meta_p = Path(sf_dir) / "_gen_meta.json"
    meta = json.loads(meta_p.read_text()) if meta_p.exists() else {}
    cpus = session_cpus()
    prev = _prev_rows(tier.prev)
    spark = get_spark(app_name="bench_octave")
    ledger = Ledger(spark)
    qs = registry.queries()
    timings: dict[str, float] = {}
    counters: dict[str, dict] = {}
    plans: dict[str, dict] = {}
    errors: dict[str, str] = {}

    for name in tier.bench:
        if name in skips:
            print(f"{name}: SKIP ({skips[name]})", file=sys.stderr)
            continue
        try:
            with ledger.scope(name) as group:
                t0 = time.time()
                df = qs[name](spark, sf_dir)
                n = df.count()
                timings[name] = round(time.time() - t0, 3)
            c = ledger.read(group)
            counters[name] = {k: c[k] for k in bench.RECORDED}
            # executed plan AFTER the action: AQE's isFinalPlan bits
            plans[name] = plan_bits(df)
            plans[name]["rows"] = n
        except Exception as exc:  # noqa: BLE001 — record, continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        print(f"{name}: {timings.get(name, 'ERR')}s", file=sys.stderr)
        gc_nudge(spark)

    rnd = bench.current_round()
    out_rec = {
        "metric": tier.metric,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "round": rnd,
        "cpus": cpus,
        "queries": timings,
        "counters": counters,
    }
    if tier.prev:
        out_rec[f"factor_vs_{tier.factor_label}"] = {
            q: round(timings[q] / prev[q], 2)
            for q in timings if prev.get(q)
        }
        out_rec["factor_denominators_from"] = f"{tier.prev.name} (committed)"
    out_rec["sf"] = (
        f"{Path(sf_dir).name} (gen_version={meta.get('gen_version')}, "
        f"scale={meta.get('scale')}, tables={meta.get('tables_subset')}, "
        f"rows={meta.get('rows')})"
    )
    out_rec["plans"] = plans
    out_rec["note"] = tier.note
    if skips:
        out_rec["declared_skips"] = skips
    if errors:
        out_rec["errors"] = errors
    banned = [
        n for n, p in plans.items() if p.get("bnlj") or p.get("cartesian")
    ]
    out_rec["banned_plan_shapes"] = banned
    with out.open("w") as f:
        json.dump(out_rec, f, indent=1)
    try:
        with history.open("a") as f:
            f.write(json.dumps({
                "ts": time.time(),
                "round": rnd,
                "cpus": cpus,
                "queries": timings,
                "jobs": {q: c["jobs"] for q, c in counters.items()},
            }) + "\n")
    except OSError as exc:  # pragma: no cover — read-only checkout
        print(f"{tier.metric}: history append failed: {exc}", file=sys.stderr)
    print(json.dumps({k: v for k, v in out_rec.items() if k != "plans"}))
    return 1 if (errors or banned) else 0


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Bench one octave tier's subset."
    )
    ap.add_argument("tier", choices=sorted(TIERS))
    ap.add_argument("--sf-dir", help="tier data dir (default: the tier's)")
    ap.add_argument("--out", help="artifact path (default BENCH_<TIER>.json)")
    ap.add_argument("--skip", default="", help="declared skips (see module doc)")
    args = ap.parse_args()
    sys.exit(run_tier(
        TIERS[args.tier],
        args.out or ROOT / f"BENCH_{args.tier.upper()}.json",
        sf_dir=args.sf_dir,
        skips=parse_skips(args.skip),
    ))


if __name__ == "__main__":
    main()
