"""Physical-plan regression net for the scale-critical properties.

Results being right is necessary but not sufficient at 100 TB — the
plan SHAPE is the deliverable: filters at the scan, pruned reads,
one pass for the multiplexed build. These assertions fail if a
refactor silently degrades a plan while keeping answers correct.
"""

import contextlib
import io

from pyspark.sql import functions as F

from dragnet_spark.fieldspec import parse_breakdowns
from dragnet_spark.index.build import fanout_aggregate
from dragnet_spark.registry import REGISTRY
from dragnet_spark.scan import SchemaResolver


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_filters_reach_the_parquet_scan(spark, sf_dir):
    plan = _plan(REGISTRY["q6_forecast_revenue"].spark(spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, "no PushedFilters line in the q6 plan"
    line = pushed[0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in line, f"{frag} filter not pushed to the scan: {line}"
    # projection pruned to the four referenced columns
    schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert schema.count(",") == 3, f"q6 read not pruned to 4 columns: {schema}"


def test_scan_filter_pushdown(tables, spark, sf_dir):
    plan = _plan(REGISTRY["scan_filter_eq"].spark(spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "event_type" in pushed


def test_fanout_build_scans_source_once(spark, sf_dir):
    """The one-pass guarantee of the multiplexed index build: N
    metrics, ONE scan of the raw source in the aggregate's plan."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_metric = [
        (None, tuple(parse_breakdowns("event_type"))),
        ({"eq": ["event_type", "click"]}, tuple(parse_breakdowns("event_type"))),
        (None, tuple(parse_breakdowns("ub[field=user_id,aggr=lquantize,step=100]"))),
    ]
    agg = fanout_aggregate(events, per_metric, SchemaResolver(events))
    plan = _plan(agg)
    # one file-scan node == one "Location:" detail line in the
    # formatted explain (the node name itself prints twice: tree+detail)
    n_scans = plan.count("Location:")
    assert n_scans == 1, f"multiplexed build plans {n_scans} scans, wanted 1"
    # and correctness of the fan: metric 0's total equals a plain count
    got = {
        tuple(r)
        for r in agg.filter(F.col("__m") == 0)
        .groupBy()
        .agg(F.sum("value").cast("long").alias("n"))
        .collect()
    }
    assert got == {(events.count(),)}


def test_adapted_tpch_plans_broadcast_dims_no_cartesian(spark, sf_dir):
    """q2/q20/q21: dims ride broadcast joins; the only shuffles are
    the fact-side aggregations. A cartesian/BNLJ anywhere in these
    plans would be a 100 TB scale-killer (q11's single-row scalar
    cross-join is the one sanctioned BNLJ — 1 row by construction)."""
    for name in ("q2_min_cost_supplier", "q20_potential_promotion",
                 "q21_waiting_suppliers"):
        plan = _plan(REGISTRY[name].spark(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name}: BNLJ"
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"


def test_q11_single_sanctioned_scalar_cross_join(spark, sf_dir):
    plan = _plan(REGISTRY["q11_important_parts"].spark(spark, sf_dir))
    # exactly one BNLJ node (tree line; formatted explain prints each
    # node again as a detail header), and it is the 1-row scalar total
    assert plan.count("BroadcastNestedLoopJoin Cross") == 1
    assert "CartesianProduct" not in plan


def test_curation_ops_plan_shapes(spark, sf_dir):
    """The round-4 curation additions keep their scale-critical
    shapes: no cartesian products or nested-loop joins anywhere, the
    decontamination probe and hard-negative mining broadcast their
    small sides, and the gram ops read `documents` exactly once
    (the window-over-gram form exists precisely to avoid the
    join-back double evaluation of gram assembly)."""
    for name in (
        "text_repetition_stats",
        "decontam_benchmark_overlap",
        "text_duplicate_spans",
        "dedup_cross_source_matrix",
        "source_unigram_kl",
        "ann_hard_negatives",
        "docs_quality_rank",
    ):
        plan = _plan(REGISTRY[name].spark(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
        # sanctioned BNLJs: the 1-row corpus total (unigram_kl) and the
        # brute-force score of every (corpus, query) pair against the
        # bounded broadcast query set (hard negatives — same shape as
        # cosine_topk; the corpus side never shuffles)
        bnlj_ok = name in ("source_unigram_kl", "ann_hard_negatives")
        if not bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, f"{name}: BNLJ"
    for name in ("decontam_benchmark_overlap", "ann_hard_negatives"):
        plan = _plan(REGISTRY[name].spark(spark, sf_dir))
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, (
            f"{name}: small side not broadcast"
        )
    for name in ("text_duplicate_spans", "text_repetition_stats"):
        plan = _plan(REGISTRY[name].spark(spark, sf_dir))
        n_scans = plan.count("Location:")
        limit = 1 if name == "text_duplicate_spans" else 2
        assert n_scans <= limit, (
            f"{name}: {n_scans} scans of documents, wanted <= {limit}"
        )


# --------------------------------------------------------------------
# Plan-net rule: no single-partition analytic windows (round-5).
# A windowspecdefinition whose FIRST argument is a sort spec has an
# empty partition spec — Spark executes it on ONE partition ("Window
# ... No Partition Defined" warning), a funnel that dies at 100 TB.
# Whitelist: windows over day-grain aggregates, whose frame is bounded
# by the calendar (~thousands of rows at ANY corpus scale), where a
# single ordered pass is the correct plan.
# --------------------------------------------------------------------

import re as _re

import pytest as _pytest

_DAY_GRAIN_WINDOW_OK = {
    "events_daily_moving_stats",
    "events_daily_ewma_anomalies",
}


def _unpartitioned_windows(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        m
        for m in _re.findall(r"windowspecdefinition\(([^,]+),", plan)
        if " ASC" in m or " DESC" in m
    ]


@_pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_unpartitioned_windowexec(name, spark, sf_dir):
    bad = _unpartitioned_windows(REGISTRY[name].spark(spark, sf_dir))
    if name in _DAY_GRAIN_WINDOW_OK:
        assert bad, (
            f"{name} no longer has its day-grain window — "
            "remove it from the whitelist"
        )
    else:
        assert not bad, (
            f"{name} plans a single-partition WindowExec over {bad}; "
            "use ops/rank.py (distributed range sort + offsets) or a "
            "partitioned window"
        )


def test_cube_is_one_scan_one_expand(spark, sf_dir):
    """Grouping sets must be the one-pass Expand plan: a naive
    4-subquery union would scan events 4x."""
    plan = _plan(REGISTRY["events_cube_type_day"].spark(spark, sf_dir))
    assert plan.count("Location:") == 1, "cube re-scanned the source"
    assert "Expand" in plan, "no Expand — cube planned as separate aggs?"


def test_rollup_broadcasts_all_dims(spark, sf_dir):
    plan = _plan(REGISTRY["sales_rollup_region_nation"].spark(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "a dim join demoted to SMJ"
    assert "Expand" in plan


def test_weighted_sample_is_takeordered_no_global_sort(spark, sf_dir):
    """Top-k by priority must be distributed TakeOrdered (per-partition
    heaps + driver merge of k rows), never a global Sort or an extra
    shuffle — the same class of fix as r5's q10."""
    plan = _plan(REGISTRY["docs_weighted_sample"].spark(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, "weighted sample shuffled the corpus"


# Cartesian/BNLJ ban and same-table re-scan net across the WHOLE
# registry, on one plan per entry. Sanctioned cross joins are
# 1-row-by-construction scalar broadcasts (a BNLJ against one row is a
# constant fold, not a scale risk) — each whitelisted entry is
# re-asserted to still HAVE its scalar join so the list cannot rot.
_SCALAR_CROSS_JOIN_OK = {
    # 1-row scalar broadcasts (constant fold, zero scale risk)
    "q11_important_parts",        # 1-row nation value total
    "q22_idle_high_balance",      # 1-row avg acctbal scalar subquery
    "docs_source_mix_weights",    # 1-row weight normalizer
    "source_mixture_weights",     # 1-row mixture normalizer
    "source_unigram_kl",          # 1-row vocab totals
    "text_unigram_logprob",       # 1-row corpus token count
    "text_bigram_logprob",        # 1-row corpus token count
    "pack_documents",             # 1-row distinct-bin audit scalar
    # bounded-broadcast brute-force baselines: the query side is a
    # hard-capped batch (max_queries contract) broadcast against the
    # corpus; the registry's scale paths are the blocked/LSH/IVF/
    # index variants, which this sweep verifies stay NLJ-free
    "ann_cosine_topk",
    "ann_hard_negatives",
    # dedup_embedding_cosine left this list when its all-pairs stage
    # became a broadcast + blocked BLAS matmul (no BNLJ in the plan)
}


# Parquet tables an entry's plan scans at least RESCAN_MIN times: a
# re-embedded lineage (Catalyst re-executing a subplan per reference)
# unless the repeat is deliberate. Multi-TABLE scans (joins) are
# expected. Derived at the test tables' scale; each entry is
# re-asserted to still scan its tables that often.
RESCAN_MIN = 3
_RESCAN_OK = {
    # store-backed probes: the probe side is read for the probe join,
    # for the dynamic-pruning subquery on the store and for the join
    # back to the text or vectors
    "dedup_incremental_probe": {"documents.parquet"},
    "dedup_incremental_near_probe": {"documents.parquet"},
    "dedup_probe_after_compact": {"documents.parquet"},
    "decontam_near_probe": {"documents.parquet"},
    "dedup_embedding_lsh_autobits_store": {"embeddings.parquet"},
    # the prefix-filter semi path: shingle frequencies, the prefix
    # candidates and the exact verify each read the corpus
    "dedup_jaccard_prefix": {"documents.parquet"},
    # two synthetic corpus versions plus the added docs, all derived
    # from one table
    "corpus_version_diff": {"documents.parquet"},
}


def _rescanned_tables(plan: str) -> set[str]:
    """Basenames of the parquet files ``plan`` scans RESCAN_MIN or more
    times (one ``Location: …[path, …]`` per file scan node)."""
    import collections
    import os

    paths = _re.findall(r"Location: [^\[\n]*\[([^,\]\n]*)", plan)
    n = collections.Counter(os.path.basename(p.rstrip("/")) for p in paths)
    return {t for t, c in n.items() if c >= RESCAN_MIN}


@_pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_unsanctioned_cartesian_or_bnlj(name, spark, sf_dir):
    plan = REGISTRY[name].spark(spark, sf_dir)._jdf.queryExecution(
    ).executedPlan().toString()
    rescanned = _rescanned_tables(plan)
    assert rescanned == _RESCAN_OK.get(name, set()), (
        f"{name} scans {sorted(rescanned)} >= {RESCAN_MIN} times each; "
        "a subplan re-executes per reference — checkpoint or restructure "
        "it, or whitelist a deliberate repeat"
    )
    has_nlj = (
        "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
    )
    if name in _SCALAR_CROSS_JOIN_OK:
        assert has_nlj, (
            f"{name} no longer has its sanctioned scalar cross-join — "
            "remove it from the whitelist"
        )
    else:
        assert not has_nlj, (
            f"{name} plans a cartesian/BNLJ — at 100 TB this is "
            "quadratic; reformulate as an equi-join or broadcast a "
            "1-row aggregate"
        )
