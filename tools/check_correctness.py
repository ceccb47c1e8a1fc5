#!/usr/bin/env python
"""The one oracle grader: run registry entries on Spark and their
oracle SQL on DuckDB, and compare row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
values stringified).

  python tools/check_correctness.py [SF_DIR] [OUT_JSON]
  python tools/check_correctness.py --tier TIER [SF_DIR] [OUT_JSON]

Without ``--tier`` every registry entry is graded at SF_DIR (default
the sf0.01 test data) and OUT_JSON, when given, is written as a
name → record map. ``--tier`` grades that octave tier's graded subset
(``tools/bench_octave.TIERS``) at the tier's data dir under its DuckDB
settings; OUT_JSON defaults to ``CORRECTNESS_<TIER>.json`` at the repo
root and gains a ``_meta`` block; a sliced tier grades the
deterministic slice ``<SF_DIR>_slice``, built on first use.

Each record carries both engines' wall (``spark_s``/``oracle_s``);
entries sharing one oracle SQL pay for it once (``oracle_cached``).

Env:
  CHECK_ONLY=a,b  grade only the named entries; under ``--tier``,
                  when OUT_JSON exists their fresh records merge into
                  it, stamped ``regraded_at`` and the DuckDB settings
                  they ran under, and ``_meta`` is recomputed (an
                  untiered OUT_JSON is overwritten)
  CHECK_SKIP=...  declared skips, recorded with their reason: a JSON
                  object '{"name": "reason", ...}' or 'name=reason;...'
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from dragnet_spark.session import get_spark  # noqa: E402
from dragnet_spark.sources.tables import TABLES  # noqa: E402
from tools.bench_octave import TIERS, Tier, parse_skips  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def norm_cell(v):
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return repr(int(v))
        return repr(round(v, 9))
    if isinstance(v, int):
        return repr(v)
    if v is None:
        return "<null>"
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _collect(sdf) -> tuple[list[str], list[tuple]]:
    """(columns, rows) via Arrow batches: at the big tiers several
    entries return millions of rows, and the row-serialized
    ``collect()`` path is minutes-per-entry where ``toArrow`` is
    seconds. ``to_pylist`` yields the same Python-native values the
    Row path gives, so value_hash sees identical cells."""
    tbl = sdf.toArrow()
    cols = list(tbl.column_names)
    return cols, list(zip(*(c.to_pylist() for c in tbl.columns)))


def ok(rec: dict) -> bool:
    """A record passes: no error, and rows, schema and values match
    (a rows-only record with no oracle passes on no error)."""
    if rec.get("skipped"):
        return True
    if rec["err"]:
        return False
    return bool(rec.get("no_oracle")) or (
        rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
    )


def check_one(spark, con, sf_dir, name, fn, oracle, memo) -> dict:
    """Run one registry entry against its oracle SQL (None: rows-only,
    ``no_oracle=True``). Oracle results are memoized in ``memo`` by SQL
    text: the three minhash entries (batch, from-store, CLI-routed
    bounded) share ONE oracle string by construction, and at the 10³
    tier that oracle is a ~20-minute DuckDB signature re-derivation."""
    rec = {
        "rows_match": False,
        "schema_match": False,
        "hash_match": False,
        "spark_rows": None,
        "oracle_rows": None,
        "spark_s": None,
        "oracle_s": None,
        "err": None,
    }
    t0 = time.time()
    try:
        scols, srows = _collect(fn(spark, sf_dir))
        rec["spark_rows"] = len(srows)
        rec["spark_s"] = round(time.time() - t0, 1)
    except Exception as e:  # noqa: BLE001 — recorded per entry
        rec["err"] = f"spark error: {e}"[:500]
        return rec
    if oracle is None:
        rec["no_oracle"] = True
        return rec
    t0 = time.time()
    try:
        if oracle in memo:
            dcols, drows = memo[oracle]
            rec["oracle_cached"] = True
        else:
            cur = con.execute(oracle)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            memo[oracle] = (dcols, drows)
        rec["oracle_rows"] = len(drows)
        rec["oracle_s"] = round(time.time() - t0, 1)
    except Exception as e:  # noqa: BLE001 — recorded per entry
        rec["err"] = f"duckdb error: {e}"[:500]
        return rec
    rec["schema_match"] = sorted(scols) == sorted(dcols)
    rec["rows_match"] = len(srows) == len(drows)
    detail = []
    if rec["rows_match"] and rec["schema_match"]:
        h1 = value_hash(scols, srows)
        h2 = value_hash(dcols, drows)
        rec["hash_match"] = h1 == h2
        if not rec["hash_match"]:
            s = {tuple(norm_cell(v) for v in r) for r in srows}
            d = {tuple(norm_cell(v) for v in r) for r in drows}
            detail.append(f"valuehash {h1} != {h2}")
            if s - d:
                detail.append(f"spark-only: {list(s - d)[:3]}")
            if d - s:
                detail.append(f"duck-only: {list(d - s)[:3]}")
    else:
        if not rec["schema_match"]:
            detail.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if not rec["rows_match"]:
            detail.append(f"rowcount spark={len(srows)} duck={len(drows)}")
    if detail:
        rec["detail"] = "; ".join(detail)
    return rec


def register_views(con, sf_dir: str) -> None:
    """DuckDB views over a tier directory. Tables are either one
    parquet FILE (gen_sf1 single-shot) or a DIRECTORY of part files
    (gen_octave's parallel writer) — glob the latter so both layouts
    grade identically. Partial tiers (e.g. testdata_sf1000:
    documents+embeddings only) simply don't get the missing views; a
    query touching an absent table fails loudly at its own row."""
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            con.execute(
                f"CREATE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        elif os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )


def oracle_con(sf_dir: str, settings: dict[str, str] | None = None):
    """A DuckDB connection under ``settings`` with ``sf_dir``'s views."""
    con = duckdb.connect()
    for key, value in (settings or {}).items():
        con.execute(f"SET {key}='{value}'")
    register_views(con, sf_dir)
    return con


def sweep(spark, con, sf_dir, names, skips=None) -> tuple[dict, list[str]]:
    """Grade ``names`` in order (``skips``: name → reason, recorded
    instead of run). Returns the name → record report and the names
    that failed."""
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    skips = skips or {}
    report: dict[str, dict] = {}
    memo: dict = {}
    for name, why in skips.items():
        report[name] = {"skipped": True, "reason": why}
        print(f"SKIP  {name}: {why}", flush=True)
    for name in names:
        if name in skips:
            continue
        rec = check_one(
            spark, con, sf_dir, name, qs[name], oracles.get(name), memo
        )
        report[name] = rec
        if rec["err"]:
            print(f"FAIL  {name}: {rec['err']}", flush=True)
        elif rec.get("no_oracle"):
            print(f"rows  {name}: {rec['spark_rows']} rows (no oracle)")
        elif ok(rec):
            print(
                f"OK    {name}: {rec['spark_rows']} rows "
                f"(spark {rec['spark_s']}s, oracle {rec['oracle_s']}s)",
                flush=True,
            )
        else:
            print(f"FAIL  {name}: {rec['detail']}", flush=True)
    return report, [n for n, r in report.items() if not ok(r)]


def build_slice(tier_dir: str, out: str, rules: dict[str, str]) -> dict:
    """Materialize the deterministic slice of ``tier_dir`` under
    ``out`` (rules: table → predicate) and record it in its
    ``_gen_meta.json``."""
    con = duckdb.connect()
    counts = {}
    os.makedirs(out, exist_ok=True)
    for t, pred in rules.items():
        src = os.path.join(tier_dir, f"{t}.parquet")
        glob = f"{src}/*.parquet" if os.path.isdir(src) else src
        dst = os.path.join(out, f"{t}.parquet")
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{glob}') WHERE {pred}) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
        counts[t] = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{dst}')"
        ).fetchone()[0]
    meta = {
        "derived_from": tier_dir,
        "slice_rules": rules,
        "rows": counts,
        "note": (
            "deterministic sample of the tier's own parquet — the "
            "sampled-oracle correctness fixture "
            "(check_correctness.py --tier)"
        ),
        "generated_at": time.time(),
    }
    with open(os.path.join(out, "_gen_meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    con.close()
    return meta


def tier_meta(tier_name: str, tier: Tier, sf_dir: str, report: dict) -> dict:
    gen_p = Path(sf_dir) / "_gen_meta.json"
    gen = json.loads(gen_p.read_text()) if gen_p.exists() else {}
    records = {n: r for n, r in report.items() if not n.startswith("_")}
    meta = {
        "tier": (
            f"{tier_name} ({Path(sf_dir).name}, "
            f"gen_version={gen.get('gen_version')}, "
            f"tables={gen.get('tables_subset')}, rows={gen.get('rows')})"
        ),
        "entries": len(records),
        "green": sum(
            1 for r in records.values() if not r.get("skipped") and ok(r)
        ),
        "skipped": sum(1 for r in records.values() if r.get("skipped")),
        "generated_at": time.time(),
    }
    if tier.slice_rules:
        meta["slice"] = gen
    return meta


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Grade registry entries against their DuckDB oracles."
    )
    ap.add_argument("--tier", choices=sorted(TIERS))
    ap.add_argument("sf_dir", nargs="?")
    ap.add_argument("out_json", nargs="?")
    args = ap.parse_args()
    tier = TIERS[args.tier] if args.tier else None

    qs = entrymod.queries()
    if tier:
        sf_dir = args.sf_dir or str(tier.sf_dir)
        names = list(tier.graded_names)
        settings = dict(tier.duckdb)
    else:
        sf_dir = args.sf_dir or DEFAULT_SF_DIR
        names = list(qs)
        settings = {}
    if tier and tier.slice_rules:
        tier_dir, sf_dir = sf_dir, sf_dir.rstrip("/") + "_slice"
        if not os.path.exists(os.path.join(sf_dir, "_gen_meta.json")):
            build_slice(tier_dir, sf_dir, tier.slice_rules)

    only = [
        n.strip() for n in os.environ.get("CHECK_ONLY", "").split(",")
        if n.strip()
    ]
    skips = parse_skips(os.environ.get("CHECK_SKIP", ""))
    for var, given in (("CHECK_ONLY", only), ("CHECK_SKIP", skips)):
        unknown = set(given) - set(names)
        if unknown:
            print(f"{var} names not graded here: {sorted(unknown)}")
            sys.exit(2)
    if only:
        names = [n for n in names if n in only]

    spark = get_spark(app_name="check_correctness")
    con = oracle_con(sf_dir, settings)
    report, bad = sweep(spark, con, sf_dir, names, skips)
    if tier and tier.slice_rules:
        for name in names:
            report[name]["slice_rule"] = tier.slice_rules

    out = args.out_json
    if tier and not out:
        out = str(ROOT / f"CORRECTNESS_{args.tier.upper()}.json")
    if tier and only and os.path.exists(out):
        # a re-run must not re-pay the other entries' oracles: merge
        # the fresh records, stamped with the conditions they ran under
        with open(out) as f:
            prior = {k: v for k, v in json.load(f).items() if k != "_meta"}
        for name in names:
            report[name]["regraded_at"] = time.time()
            report[name]["regrade_conditions"] = {"duckdb": settings}
        report = {**prior, **report}
    if tier:
        report = {
            "_meta": tier_meta(args.tier, tier, sf_dir, report),
            **dict(sorted(report.items())),
        }
    if out:
        with open(out, "w") as f:
            json.dump(report, f, indent=1 if tier else 2)
        print(f"wrote {out}")
    graded = len(names) - len(set(names) & set(skips))
    print(f"\n{graded - len(bad)}/{graded} green, {len(skips)} skipped, "
          f"{len(bad)} failures")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
