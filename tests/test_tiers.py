"""The octave tier table, its runner and the oracle grader.

* every tier's bench and graded subsets name registry entries, and
  every graded entry has an oracle;
* ``run_tier`` writes the artifact, with each query's Spark jobs and
  shuffle-read bytes and the factor block against the previous tier's
  committed artifact, and appends exactly one line to the history
  derived from the artifact's path;
* a ``CHECK_ONLY`` re-grade merges into an existing tier report (by
  default ``CORRECTNESS_<TIER>.json`` at the repo root): the other
  records stay, the fresh one is stamped, ``_meta`` is recomputed.
"""

import dataclasses
import json

import pytest

import __spark_entry__ as entrymod
from dragnet_spark.session import session_cpus
from tools import check_correctness
from tools.bench_octave import TIERS, run_tier


def test_tier_subsets_are_oracle_graded_registry_entries():
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    for name, tier in TIERS.items():
        assert set(tier.bench) <= set(queries), name
        assert set(tier.graded_names) <= set(oracles), name
    assert TIERS["sf1000"].graded_names == TIERS["sf1000"].bench
    assert TIERS["sf10000"].graded_names != TIERS["sf10000"].bench


def test_run_tier_writes_artifact_and_one_history_line(keep_conf, sf_dir,
                                                       tmp_path):
    tier = dataclasses.replace(
        TIERS["sf1000"], bench=("dedup_exact", "text_token_stats")
    )
    out = tmp_path / "BENCH_T.json"
    assert run_tier(tier, out, sf_dir=sf_dir) == 0

    art = json.loads(out.read_text())
    assert set(art["queries"]) == {"dedup_exact", "text_token_stats"}
    assert art["value"] == pytest.approx(sum(art["queries"].values()), abs=1e-3)
    # text_token_stats has a committed sf100 row; dedup_exact has none
    assert set(art["factor_vs_sf100_bench"]) == {"text_token_stats"}
    assert art["banned_plan_shapes"] == [] and "errors" not in art
    assert set(art["counters"]) == set(art["queries"])
    for c in art["counters"].values():
        assert c["jobs"] >= 1 and c["shuffle_read_bytes"] >= 0
    assert "grading" not in art
    lines = (tmp_path / "BENCH_T_HISTORY.jsonl").read_text().splitlines()
    assert len(lines) == 1
    assert json.loads(lines[0])["queries"] == art["queries"]
    assert json.loads(lines[0])["jobs"] == {
        q: c["jobs"] for q, c in art["counters"].items()
    }
    # history is keyed by core count, like bench.py's
    assert json.loads(lines[0])["cpus"] == art["cpus"] == session_cpus()

    no_prev = dataclasses.replace(tier, prev=None, bench=("dedup_exact",))
    assert run_tier(no_prev, tmp_path / "B2.json", sf_dir=sf_dir) == 0
    art = json.loads((tmp_path / "B2.json").read_text())
    assert not [k for k in art if k.startswith("factor_vs")]


def test_check_only_merges_into_default_tier_report(keep_conf, sf_dir,
                                                    tmp_path, monkeypatch):
    # no OUT_JSON: the tier's report at the (redirected) repo root
    monkeypatch.setattr(check_correctness, "ROOT", tmp_path)
    out = tmp_path / "CORRECTNESS_SF1000.json"
    kept = {"rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 3, "oracle_rows": 3, "err": None}
    stale = dict(kept, hash_match=False)
    out.write_text(json.dumps({
        "_meta": {"entries": 2, "green": 1},
        "text_token_stats": kept,
        "dedup_exact": stale,
    }))
    monkeypatch.setenv("CHECK_ONLY", "dedup_exact")
    monkeypatch.setattr(
        "sys.argv", ["check_correctness.py", "--tier", "sf1000", sf_dir]
    )
    with pytest.raises(SystemExit) as exit_:
        check_correctness.main()
    assert exit_.value.code == 0

    report = json.loads(out.read_text())
    assert report["text_token_stats"] == kept
    fresh = report["dedup_exact"]
    assert check_correctness.ok(fresh) and "regraded_at" in fresh
    assert fresh["regrade_conditions"] == {"duckdb": TIERS["sf1000"].duckdb}
    assert report["_meta"]["entries"] == 2
    assert report["_meta"]["green"] == 2
