"""The ``dn`` command-line interface.

Re-expresses the reference CLI (bin/dn) over the Spark engine, with
the same subcommand family, option names (dashdash table at
bin/dn:146-215), message shapes ("dn: <message>" to stderr, usage on
argument errors), and output formats (fixed-width datasource/metric
listings, bin/dn:421-489,572-614; scan/query output via
dragnet_spark.output.format).

Commands:
  datasource-add|-update|-remove|-list|-show
  metric-add|-list|-remove
  scan   — aggregate raw data        (bin/dn:869-896)
  build  — materialize index views   (bin/dn:640-694)
  query  — answer from index views   (bin/dn:837-864)
  index-config — print the effective index definition (bin/dn:729-749)
  index-scan   — emit the per-metric aggregated points a build would
                 index, tagged __dn_metric (the distributed map phase,
                 lib/datasource-manta.js:36-62)
  index-read   — build index views from pre-aggregated points on stdin
                 (the distributed reduce phase, lib/datasource-file.js:729-746)

A SparkSession is only created for the commands that touch data;
config CRUD is instant.
"""

from __future__ import annotations

import json
import sys
from typing import Any

from dragnet_spark.config import (
    Catalog,
    ConfigError,
    DatasourceConfig,
    MetricConfig,
    default_config_path,
)
from dragnet_spark.errors import ContractError
from dragnet_spark.fieldspec import FieldSpecError
from dragnet_spark.krill import KrillError
from dragnet_spark.query import QueryConfig, QueryError

USAGE = "usage: dn SUBCOMMAND [OPTIONS] ARGS"
ARG0 = "dn"


class UsageError(Exception):
    pass


class FatalError(Exception):
    pass


# ------------------------------------------------------------ option parsing

# name → (takes_value, default); shorts per the reference option table
_OPT_DEFS = {
    "after": True, "assetroot": True, "backend": True, "before": True,
    "breakdowns": True, "counters": False, "data-format": True,
    "dry-run": False, "filter": True, "gnuplot": False, "interval": True,
    "index-config": True, "index-path": True, "path": True, "points": False,
    "raw": False, "time-field": True, "time-format": True, "verbose": False,
    "warnings": False,
    # beyond-reference store subcommands (vindex-*, fp-*)
    "out": True, "centroids": True, "k": True, "probe": True,
    "queries": True, "id-field": True, "vec-field": True,
    "text-field": True, "quantize": False, "hashes": True, "bands": True,
    "bits": True, "vectors": True, "min-band-hits": True,
    "stream-dir": True, "checkpoint": True, "no-recenter": False,
    "target-rows-per-cell": True, "max-files": True,
    # round-9: sink fold, profiler, LM store
    "min-batches": True, "keep-last": True, "order-by": True,
    "format": True, "docs": True, "min-count": True, "lam-pct": True,
    "min-mean-logp": True, "gram-n": True, "m-bits": True,
    "max-hit-frac": True, "src-field": True, "attribute": False,
    # round-9: semdedup + KMV distinct
    "iterations": True, "threshold": True, "id-col": True,
    "vec-col": True, "col": True, "group-by": True, "exact": False,
    "data": True, "glob": True,
    # round-10: semdedup auto-k (the paper's k ∝ n regime) + graph CLI
    "target-rows": True, "op": True, "seeds": True, "id-a": True,
    "id-b": True, "top": True, "ids": True,
    # round-11: hierarchical (n·√k) SemDeDup assignment
    "two-level": False,
    # round-13: store-amortized pair discovery (band-pairs / srp-pairs)
    "bounded": False, "slices": True, "mode": True,
    # round-14: corpus-sized auto-width SRP builds from the CLI, and
    # discovery-only bounded collision joins (the 10^5-tier posture)
    "seed": True, "dims": True, "no-pair-keys": False,
    "candidates-only": False,
}
_SHORTS = {
    "A": "after", "B": "before", "b": "breakdowns", "n": "dry-run",
    "f": "filter", "i": "interval", "v": "verbose",
}


def _parse_args(argv: list[str], allowed: list[str]) -> dict:
    """Minimal dashdash-alike: --opt=v, --opt v, -x v, interspersed
    positionals collect into ``_args``. Unknown options are usage
    errors, like the reference's allowUnknown: false."""
    opts: dict[str, Any] = {"_args": []}
    i = 0
    while i < len(argv):
        a = argv[i]
        name = None
        inline = None
        if a.startswith("--") and len(a) > 2:
            body = a[2:]
            if "=" in body:
                name, inline = body.split("=", 1)
            else:
                name = body
        elif a.startswith("-") and len(a) > 1 and not a[1:].isdigit():
            short = a[1:]
            if short not in _SHORTS:
                raise UsageError(f'unknown option: "-{short}"')
            name = _SHORTS[short]
        if name is None:
            opts["_args"].append(a)
            i += 1
            continue
        if name not in allowed:
            raise UsageError(f'unknown option: "--{name}"')
        if _OPT_DEFS[name]:
            if inline is not None:
                val = inline
            else:
                if i + 1 >= len(argv):
                    raise UsageError(f'option "--{name}" requires an argument')
                i += 1
                val = argv[i]
            key = name.replace("-", "_")
            if name == "breakdowns":
                # comma-splitting is bracket-aware and happens in the
                # field-spec parser (reference: dnExpandArray → attrsParse)
                opts.setdefault("breakdowns", []).append(val)
            else:
                opts[key] = val
        else:
            if inline is not None:
                # '--quantize=false' silently ENABLING quantization is
                # the worst parse outcome; flags take no value at all
                raise UsageError(
                    f'option "--{name}" is a flag and takes no value'
                )
            opts[name.replace("-", "_")] = True
        i += 1
    if "filter" in opts:
        try:
            opts["filter"] = json.loads(opts["filter"])
        except json.JSONDecodeError as e:
            raise UsageError(f"invalid filter: {e.msg}")
    return opts


def _nargs(opts: dict, n: int) -> list[str]:
    args = opts["_args"]
    if len(args) < n:
        raise UsageError("missing arguments")
    if len(args) > n:
        raise UsageError('extra arguments: "%s"' % " ".join(args[n:]))
    return args


# ------------------------------------------------------------- config output

def _location(ds: DatasourceConfig) -> str:
    if ds.backend == "manta":
        return "manta://us-east.manta.joyent.com" + ds.path
    return "file:/" + ds.path


def _print_datasource(out, name: str, ds: DatasourceConfig, verbose: bool):
    out.write("%-20s %-59s\n" % (name, _location(ds)))
    if not verbose:
        return
    if ds.filter is not None:
        out.write("    %-11s %s\n" % ("filter:", json.dumps(ds.filter, separators=(",", ":"))))
    out.write("    %-11s %s\n" % ("dataFormat:", json.dumps(ds.data_format)))
    for label, v in (
        ("indexPath:", ds.index_path),
        ("timeFormat:", ds.time_format),
        ("timeField:", ds.time_field),
    ):
        if v is not None:
            out.write("    %-11s %s\n" % (label, json.dumps(v)))


# ------------------------------------------------------------ config commands

def _ds_config_from_opts(name: str, opts: dict) -> DatasourceConfig:
    return DatasourceConfig(
        name=name,
        path=opts["path"],
        backend=opts.get("backend", "file"),
        data_format=opts.get("data_format", "json"),
        index_path=opts.get("index_path"),
        time_format=opts.get("time_format"),
        time_field=opts.get("time_field"),
        filter=opts.get("filter"),
    )


def cmd_datasource_add(argv, cat: Catalog, out):
    opts = _parse_args(argv, ["backend", "data-format", "filter", "path",
                              "time-field", "time-format", "index-path"])
    if "path" not in opts:
        raise UsageError('"path" option is required')
    (name,) = _nargs(opts, 1)
    cat.datasource_add(_ds_config_from_opts(name, opts))
    cat.save()


def cmd_datasource_update(argv, cat: Catalog, out):
    opts = _parse_args(argv, ["backend", "data-format", "filter", "path",
                              "time-field", "time-format", "index-path"])
    (name,) = _nargs(opts, 1)
    old = cat.datasource(name)
    merged = DatasourceConfig(
        name=name,
        path=opts.get("path", old.path),
        backend=opts.get("backend", old.backend),
        data_format=opts.get("data_format", old.data_format),
        index_path=opts.get("index_path", old.index_path),
        time_format=opts.get("time_format", old.time_format),
        time_field=opts.get("time_field", old.time_field),
        filter=opts.get("filter", old.filter),
    )
    cat.datasource_add(merged, update=True)
    cat.save()


def cmd_datasource_remove(argv, cat: Catalog, out):
    opts = _parse_args(argv, [])
    (name,) = _nargs(opts, 1)
    cat.datasource_remove(name)
    cat.save()


def cmd_datasource_list(argv, cat: Catalog, out):
    opts = _parse_args(argv, ["verbose"])
    _nargs(opts, 0)
    out.write("%-20s %-59s\n" % ("DATASOURCE", "LOCATION"))
    for name in cat.datasources:
        _print_datasource(out, name, cat.datasources[name], opts.get("verbose", False))


def cmd_datasource_show(argv, cat: Catalog, out):
    opts = _parse_args(argv, ["verbose"])
    (name,) = _nargs(opts, 1)
    ds = cat.datasource(name)
    out.write("%-20s %-59s\n" % ("DATASOURCE", "LOCATION"))
    _print_datasource(out, name, ds, opts.get("verbose", False))


def cmd_metric_add(argv, cat: Catalog, out):
    from dragnet_spark.fieldspec import parse_breakdowns

    opts = _parse_args(argv, ["breakdowns", "filter"])
    dsname, metname = _nargs(opts, 2)
    parsed = parse_breakdowns(opts.get("breakdowns", []))
    cat.metric_add(
        MetricConfig(
            name=metname,
            datasource=dsname,
            breakdowns=[{"name": b.name, **b.attrs} for b in parsed],
            filter=opts.get("filter"),
        )
    )
    cat.save()


def cmd_metric_remove(argv, cat: Catalog, out):
    opts = _parse_args(argv, [])
    dsname, metname = _nargs(opts, 2)
    cat.metric_remove(dsname, metname)
    cat.save()


def cmd_metric_list(argv, cat: Catalog, out):
    opts = _parse_args(argv, ["verbose"])
    (dsname,) = _nargs(opts, 1)
    out.write("%-20s %-20s\n" % ("DATASOURCE", "METRIC"))
    for m in cat.metrics_for(dsname):
        out.write("%-20s %-20s\n" % (m.datasource, m.name))
        if not opts.get("verbose"):
            continue
        if m.filter is not None:
            out.write("    %-11s %s\n" % ("filter:", json.dumps(m.filter, separators=(",", ":"))))
        if m.breakdowns:
            out.write("    %-11s %s\n" % (
                "breakdowns:", ", ".join(b["name"] for b in m.breakdowns)
            ))


# -------------------------------------------------------------- data commands

def _get_spark():
    from dragnet_spark.session import get_spark

    return get_spark(app_name="dn")


def _query_from_opts(opts: dict, ds: DatasourceConfig) -> QueryConfig:
    from dragnet_spark.fieldspec import parse_breakdowns

    raw_bds = opts.get("breakdowns") or []
    for raw in raw_bds:  # attribute grammar errors to the offending -b value
        try:
            parse_breakdowns(raw)
        except FieldSpecError as e:
            raise UsageError(f'bad value for "breakdowns" ("{raw}"): {e}')
    bds = ",".join(raw_bds) if raw_bds else None
    query = QueryConfig.load(
        breakdowns=bds,
        filter=opts.get("filter"),
        time_after=opts.get("after"),
        time_before=opts.get("before"),
        time_field=ds.time_field,
    )
    if opts.get("gnuplot") and len(query.breakdowns) != 1:
        raise FatalError("--gnuplot can only be used with exactly one breakdown")
    return query


def _metrics_for_build(cat: Catalog, dsname: str, opts: dict):
    from dragnet_spark.index.build import Metric

    if "index_config" in opts:
        with open(opts["index_config"]) as f:
            cfg = json.load(f)
        return [Metric.from_json(m) for m in cfg.get("metrics", [])]
    out = [
        Metric.load(m.name, [dict(b) for b in m.breakdowns], m.filter)
        for m in cat.metrics_for(dsname)
    ]
    return out


def _index_root(ds: DatasourceConfig, interval: str) -> str:
    """Per-interval index subtree (reference: by_day/ by_hour/ under
    indexPath, lib/dragnet-impl.js:194-236) — day and hour indexes for
    one datasource coexist; --interval selects at query time."""
    import os

    return os.path.join(ds.index_path, f"by_{interval}")


def _render_result(df, query, opts, out, title):
    from dragnet_spark.output.format import render

    if opts.get("gnuplot") and len(query.breakdowns) != 1:
        raise FatalError("--gnuplot can only be used with exactly one breakdown")
    mode = (
        "points" if opts.get("points")
        else "raw" if opts.get("raw")
        else "gnuplot" if opts.get("gnuplot")
        else "table"
    )
    out.write(render(df, query, mode=mode, title=title))


def _print_counters(observations: dict, noutputs: int) -> None:
    """Per-stage counters to stderr (reference: vsDumpCounters shape,
    'NAME<pad19>label:<right-pad to 21> N'). Observations piggyback on
    the scan's single pass — no extra jobs."""

    def line(name, label, value):
        lbl = label + ":"
        sys.stderr.write("%-19s%s%s\n" % (name, lbl, str(value).rjust(21 - len(lbl))))

    parser = observations.get("json parser")
    adapter = observations.get("adapter")
    ninputs = parser.get.get("ninputs", 0) if parser else 0
    nparsed = adapter.get.get("noutputs", 0) if adapter else 0
    if parser:
        line("json parser", "ninputs", ninputs)
        line("json parser", "noutputs", nparsed)
        if ninputs > nparsed:
            line("json parser", "invalid json", ninputs - nparsed)
    dt = observations.get("datetime")
    dt_out = None
    if dt is not None:
        vals = dt.get
        dt_in = vals.get("ninputs", 0)
        baddate = vals.get("baddate") or 0
        undef = vals.get("undef") or 0
        dt_out = dt_in - baddate - undef
        # reference prints counters alphabetically (vsDumpCounters);
        # baddate/undef exist only once incremented
        if baddate:
            line("Datetime parser", "baddate", baddate)
        line("Datetime parser", "ninputs", dt_in)
        line("Datetime parser", "noutputs", dt_out)
        if undef:
            line("Datetime parser", "undef", undef)
    tf = observations.get("timefilter")
    if tf is not None and dt_out is not None:
        tf_out = tf.get.get("noutputs", 0)
        if dt_out > tf_out:
            line("Time filter", "nfilteredout", dt_out - tf_out)
        line("Time filter", "ninputs", dt_out)
        line("Time filter", "noutputs", tf_out)
    line("Aggregator", "noutputs", noutputs)


def cmd_scan(argv, cat: Catalog, out):
    from dragnet_spark.datasource import list_files, load_datasource, resolve_paths
    from dragnet_spark.scan import scan

    opts = _parse_args(argv, ["before", "after", "filter", "breakdowns", "raw",
                              "points", "counters", "warnings", "gnuplot",
                              "assetroot", "dry-run"])
    (dsname,) = _nargs(opts, 1)
    ds = cat.datasource(dsname)
    query = _query_from_opts(opts, ds)

    if opts.get("dry_run"):
        out.write("would scan files:\n")
        for f in list_files(resolve_paths(ds, query)):
            out.write("    %s\n" % f)
        return

    spark = _get_spark()
    # --warnings reads the parser counts of the scan's own pass
    want_obs = opts.get("counters") or opts.get("warnings")
    observations = {} if want_obs else None
    df, resolver, value_col = load_datasource(
        spark, ds, query, observations=observations
    )
    if df is None:
        _render_result([], query, opts, out, dsname)
        return
    res = scan(df, query, datasource_filter=ds.filter,
               value_col=value_col, resolver=resolver,
               observations=observations)
    rows = [tuple(r) for r in res.collect()]
    _render_result(rows, query, opts, out, dsname)
    if opts.get("counters"):
        _print_counters(observations, len(rows))
    if opts.get("warnings") and "json parser" in observations:
        n = (observations["json parser"].get["ninputs"]
             - observations["adapter"].get["noutputs"])
        if n:
            sys.stderr.write("warn: %d unparseable input lines\n" % n)


def cmd_build(argv, cat: Catalog, out):
    from dragnet_spark.datasource import load_datasource
    from dragnet_spark.index.build import build_index

    opts = _parse_args(argv, ["after", "before", "counters", "dry-run",
                              "index-config", "interval", "warnings",
                              "assetroot"])
    (dsname,) = _nargs(opts, 1)
    ds = cat.datasource(dsname)
    if not ds.index_path:
        raise FatalError(f'datasource "{dsname}" has no index path configured')
    metrics = _metrics_for_build(cat, dsname, opts)
    if not metrics:
        raise FatalError(f'datasource "{dsname}" has no metrics configured')
    interval = opts.get("interval", "day")
    query = _query_from_opts(opts, ds)

    if opts.get("dry_run"):
        out.write('would build %s index for "%s" (%d metrics)\n'
                  % (interval, dsname, len(metrics)))
        return

    spark = _get_spark()
    df, resolver, _vc = load_datasource(spark, ds, query)
    if df is None:
        raise FatalError("no input files in the requested time range")
    build_index(
        spark, df, metrics, _index_root(ds, interval), interval=interval,
        time_field=ds.time_field, datasource_filter=ds.filter,
        resolver=resolver,
        time_after=query.time_after, time_before=query.time_before,
    )
    sys.stderr.write('indexes for "%s" built\n' % dsname)


def cmd_query(argv, cat: Catalog, out):
    from dragnet_spark.index.query import NoMetricError, query_index

    opts = _parse_args(argv, ["before", "after", "filter", "breakdowns", "raw",
                              "points", "counters", "interval", "gnuplot",
                              "assetroot", "dry-run"])
    (dsname,) = _nargs(opts, 1)
    ds = cat.datasource(dsname)
    if not ds.index_path:
        raise FatalError(f'datasource "{dsname}" has no index path configured')
    query = _query_from_opts(opts, ds)
    import os

    interval = opts.get("interval", "day")
    idx = _index_root(ds, interval)
    if not os.path.exists(idx):
        raise FatalError(
            f'no index found for "{dsname}" (run "dn build {dsname}" first)'
        )
    spark = _get_spark()
    try:
        res = query_index(spark, idx, query)
    except NoMetricError:
        raise FatalError("no metrics available to serve query")
    except FileNotFoundError:
        raise FatalError(
            f'no index found for "{dsname}" (run "dn build {dsname}" first)'
        )
    _render_result(res, query, opts, out, dsname)


def cmd_index_config(argv, cat: Catalog, out):
    opts = _parse_args(argv, [])
    (dsname,) = _nargs(opts, 1)
    cat.datasource(dsname)
    metrics = [
        {"name": m.name, "filter": m.filter,
         "breakdowns": [dict(b) for b in m.breakdowns]}
        for m in cat.metrics_for(dsname)
    ]
    out.write(json.dumps({"metrics": metrics}, separators=(",", ":")) + "\n")


def cmd_index_scan(argv, cat: Catalog, out):
    """Map phase of a distributed build: emit each metric's aggregated
    points — the aggregate ``dn build`` writes — tagged with
    __dn_metric, ready to pipe into index-read."""
    from dragnet_spark.datasource import load_datasource
    from dragnet_spark.index.build import aggregate_metrics
    from dragnet_spark.output.format import format_points

    opts = _parse_args(argv, ["before", "after", "filter", "breakdowns",
                              "counters", "index-config", "interval"])
    (dsname,) = _nargs(opts, 1)
    ds = cat.datasource(dsname)
    metrics = _metrics_for_build(cat, dsname, opts)
    if not metrics:
        raise FatalError(f'datasource "{dsname}" has no metrics configured')
    interval = opts.get("interval", "day")
    query = _query_from_opts(opts, ds)
    spark = _get_spark()
    df, resolver, _vc = load_datasource(spark, ds, query)
    if df is None:
        return
    results = aggregate_metrics(
        df, metrics, interval, ds.time_field, ds.filter, resolver,
        query.time_after, query.time_before,
    )
    for i, (_m, keys, res) in enumerate(results):
        rows = [tuple(x) for x in res.collect()]
        for line in format_points(rows, QueryConfig(breakdowns=keys)):
            obj = json.loads(line)
            obj["fields"]["__dn_metric"] = i
            out.write(json.dumps(obj, separators=(",", ":")) + "\n")


def cmd_index_read(argv, cat: Catalog, out):
    """Reduce phase of a distributed build: read tagged points from
    stdin and write them as the index views, with the build's writer
    (only the buckets the points hold are replaced)."""
    from dragnet_spark.index.build import (
        metric_keys,
        select_metric,
        write_index_meta,
        write_view,
    )

    opts = _parse_args(argv, ["index-config", "interval"])
    (dsname,) = _nargs(opts, 1)
    ds = cat.datasource(dsname)
    if not ds.index_path:
        raise FatalError(f'datasource "{dsname}" has no index path configured')
    metrics = _metrics_for_build(cat, dsname, opts)
    interval = opts.get("interval", "day")
    spark = _get_spark()

    # points → the (metric id, key strings, value) rows of the build's
    # fan-out aggregate, so select_metric restores the typed columns;
    # a number's key string is its JSON text
    rows = []
    for line in sys.stdin:
        if not line.strip():
            continue
        pt = json.loads(line)
        fields = pt["fields"]
        i = int(fields.pop("__dn_metric", 0))
        keys = [fields[b.name] for b in metric_keys(metrics[i], interval)]
        rows.append((i, [k if isinstance(k, str) else json.dumps(k) for k in keys],
                     pt["value"]))
    points = spark.createDataFrame(rows, "__m int, __k array<string>, value long")

    root = _index_root(ds, interval)
    for i in sorted({r[0] for r in rows}):
        m = metrics[i]
        write_view(select_metric(points, i, metric_keys(m, interval)),
                   root, m, interval)
    write_index_meta(root, metrics, interval, ds.time_field, ds.filter)


def cmd_compact(argv, cat: Catalog, out):
    """dn compact <datasource> [--interval=day]: re-aggregate a view
    tree that accumulated appended partials (continuous builds) down to
    one row per group — answers unchanged, file count bounded. Stop
    any continuous build writing this tree first (overwrite-based
    maintenance is not concurrent-writer safe)."""
    import os

    from dragnet_spark.index.build import compact_index

    opts = _parse_args(argv, ["interval", "dry-run"])
    (dsname,) = _nargs(opts, 1)
    ds = cat.datasource(dsname)
    if not ds.index_path:
        raise FatalError(f'datasource "{dsname}" has no index path configured')
    interval = opts.get("interval", "day")
    root = _index_root(ds, interval)
    if not os.path.isdir(root):
        raise FatalError(f"no {interval} index at {root}")
    if opts.get("dry_run"):
        out.write('would compact %s index for "%s"\n' % (interval, dsname))
        return
    compact_index(_get_spark(), root)
    out.write('compacted %s index for "%s"\n' % (interval, dsname))


def cmd_vindex_build(argv, cat: Catalog, out):
    """dn vindex-build <embeddings.parquet> --out=PATH
    [--centroids=16] [--quantize] [--id-field=vec_id]
    [--vec-field=embedding] [--target-rows-per-cell=N]: materialize
    the IVF vector index (beyond-reference; index/vector.py) — the
    reference's build-once discipline applied to embeddings.
    --quantize stores int8 codes + scale (~4× less probe I/O; probes
    dequantize inline). --target-rows-per-cell persists the growth
    policy: recenter then auto-sizes the cell count to the store
    (auto_cell_count) so continuous ingest keeps probe cost flat."""
    from dragnet_spark.index.vector import build_vector_index

    opts = _parse_args(
        argv,
        ["out", "centroids", "quantize", "id-field", "vec-field",
         "target-rows-per-cell"],
    )
    (src,) = _nargs(opts, 1)
    if "out" not in opts:
        raise UsageError('"out" option is required')
    spark = _get_spark()
    meta = build_vector_index(
        spark,
        spark.read.parquet(src),
        opts["out"],
        id_col=opts.get("id_field", "vec_id"),
        vec_col=opts.get("vec_field", "embedding"),
        n_centroids=int(opts.get("centroids", "16")),
        quantize=bool(opts.get("quantize")),
        target_rows_per_cell=(
            int(opts["target_rows_per_cell"])
            if "target_rows_per_cell" in opts
            else None
        ),
    )
    out.write(
        "built vector index: %d cells, %d dims%s at %s\n"
        % (
            meta["n_centroids"],
            meta["dims"],
            " (int8)" if meta["quantized"] else "",
            opts["out"],
        )
    )


def cmd_vindex_append(argv, cat: Catalog, out):
    """dn vindex-append <embeddings.parquet> --out=PATH: append a
    batch into an existing vector index against its PERSISTED
    centroids (index/vector.append_vector_index) — continuous ingest
    without a rebuild; recenter when cell skew passes the documented
    trigger."""
    from dragnet_spark.index.vector import append_vector_index

    opts = _parse_args(argv, ["out"])
    (src,) = _nargs(opts, 1)
    if "out" not in opts:
        raise UsageError('"out" option is required')
    spark = _get_spark()
    append_vector_index(spark, spark.read.parquet(src), opts["out"])
    out.write("appended into vector index at %s\n" % opts["out"])


def cmd_vindex_query(argv, cat: Catalog, out):
    """dn vindex-query <index-path> --queries=<parquet> [--k=5]
    [--probe=4] [--id-field=vec_id] [--vec-field=embedding]: top-k
    neighbors from the materialized index as NDJSON lines (the
    points-emitter convention)."""
    from dragnet_spark.index.vector import query_vector_index

    opts = _parse_args(
        argv, ["queries", "k", "probe", "id-field", "vec-field"]
    )
    (idx,) = _nargs(opts, 1)
    if "queries" not in opts:
        raise UsageError('"queries" option is required')
    spark = _get_spark()
    res = query_vector_index(
        spark,
        idx,
        spark.read.parquet(opts["queries"]),
        k=int(opts.get("k", "5")),
        n_probe=int(opts.get("probe", "4")),
        id_col=opts.get("id_field", "vec_id"),
        vec_col=opts.get("vec_field", "embedding"),
    )
    # presentation-layer collect: the final top-k result only
    for line in res.orderBy("query_id", "rank").toJSON().collect():
        out.write(line + "\n")


def cmd_fp_build(argv, cat: Catalog, out):
    """dn fp-build <docs.parquet> --out=PATH [--id-field=doc_id]
    [--text-field=text]: materialize the fingerprint store
    (beyond-reference; index/fingerprints.py) for incremental-ingest
    dedup."""
    from dragnet_spark.index.fingerprints import build_fingerprint_store

    opts = _parse_args(argv, ["out", "id-field", "text-field"])
    (src,) = _nargs(opts, 1)
    if "out" not in opts:
        raise UsageError('"out" option is required')
    spark = _get_spark()
    build_fingerprint_store(
        spark,
        spark.read.parquet(src),
        opts["out"],
        text_col=opts.get("text_field", "text"),
        id_col=opts.get("id_field", "doc_id"),
    )
    out.write("built fingerprint store at %s\n" % opts["out"])


def cmd_fp_probe(argv, cat: Catalog, out):
    """dn fp-probe <store-path> --queries=<parquet>
    [--id-field=doc_id] [--text-field=text]: probe an arriving batch
    against the store; prints per-doc NDJSON (doc_id, dup_of,
    is_duplicate) and a summary line."""
    from dragnet_spark.index.fingerprints import probe_new_documents

    opts = _parse_args(argv, ["queries", "id-field", "text-field"])
    (store,) = _nargs(opts, 1)
    if "queries" not in opts:
        raise UsageError('"queries" option is required')
    spark = _get_spark()
    res = probe_new_documents(
        spark,
        store,
        spark.read.parquet(opts["queries"]),
        text_col=opts.get("text_field", "text"),
        id_col=opts.get("id_field", "doc_id"),
    ).orderBy("doc_id")
    rows = res.collect()  # presentation-layer: final result only
    for r in rows:
        out.write(
            json.dumps(
                {
                    "doc_id": r["doc_id"],
                    "dup_of": r["dup_of"],
                    "is_duplicate": bool(r["is_duplicate"]),
                }
            )
            + "\n"
        )
    n_dup = sum(1 for r in rows if r["is_duplicate"])
    out.write("%d of %d already ingested\n" % (n_dup, len(rows)))


def cmd_fp_compact(argv, cat: Catalog, out):
    """dn fp-compact <store-path>: compact the fingerprint store —
    collapse each fingerprint to its minimum doc_id, one file per
    bucket (answer-preserving; pause appenders first)."""
    from dragnet_spark.index.fingerprints import compact_fingerprint_store

    opts = _parse_args(argv, [])
    (store,) = _nargs(opts, 1)
    compact_fingerprint_store(_get_spark(), store)
    out.write("compacted fingerprint store at %s\n" % store)


def cmd_band_build(argv, cat: Catalog, out):
    """dn band-build <docs.parquet> --out=PATH [--hashes=16]
    [--bands=8] [--id-field=doc_id] [--text-field=text]: materialize
    the minhash band store (in-stream near-dedup;
    index/fingerprints.build_band_store)."""
    from dragnet_spark.index.fingerprints import build_band_store

    opts = _parse_args(
        argv, ["out", "hashes", "bands", "id-field", "text-field"]
    )
    (src,) = _nargs(opts, 1)
    if "out" not in opts:
        raise UsageError('"out" option is required')
    spark = _get_spark()
    meta = build_band_store(
        spark,
        spark.read.parquet(src),
        opts["out"],
        text_col=opts.get("text_field", "text"),
        id_col=opts.get("id_field", "doc_id"),
        num_hashes=int(opts.get("hashes", "16")),
        bands=int(opts.get("bands", "8")),
    )
    out.write(
        "built band store: %d hashes x %d bands at %s\n"
        % (meta["num_hashes"], meta["bands"], opts["out"])
    )


def cmd_band_probe(argv, cat: Catalog, out):
    """dn band-probe <store-path> --queries=<parquet>: probe an
    arriving batch for NEAR-duplicates of the stored corpus; prints
    per-doc NDJSON (doc_id, n_band_hits, dup_of, is_near_duplicate)
    and a summary line."""
    from dragnet_spark.index.fingerprints import probe_near_duplicates

    opts = _parse_args(argv, ["queries"])
    (store,) = _nargs(opts, 1)
    if "queries" not in opts:
        raise UsageError('"queries" option is required')
    spark = _get_spark()
    res = probe_near_duplicates(
        spark, store, spark.read.parquet(opts["queries"])
    ).orderBy("doc_id")
    rows = res.collect()  # presentation-layer: final result only
    for r in rows:
        out.write(
            json.dumps(
                {
                    "doc_id": r["doc_id"],
                    "n_band_hits": r["n_band_hits"],
                    "dup_of": r["dup_of"],
                    "is_near_duplicate": bool(r["is_near_duplicate"]),
                }
            )
            + "\n"
        )
    n_near = sum(1 for r in rows if r["is_near_duplicate"])
    out.write("%d of %d near-duplicate the corpus\n" % (n_near, len(rows)))


def cmd_band_append(argv, cat: Catalog, out):
    """dn band-append <store-path> --docs=<parquet>: append a new
    batch's band keys with the store's PERSISTED banding params —
    the ingest-loop step that pays the signature stage exactly once
    per document, making later `dn band-pairs` runs store-amortized
    (the srp-append twin for token-level near-dup)."""
    from dragnet_spark.index.fingerprints import append_band_keys

    opts = _parse_args(argv, ["docs"])
    (store,) = _nargs(opts, 1)
    if "docs" not in opts:
        raise UsageError('"docs" option is required')
    spark = _get_spark()
    append_band_keys(spark, spark.read.parquet(opts["docs"]), store)
    out.write("appended band keys into %s\n" % store)


def cmd_band_compact(argv, cat: Catalog, out):
    """dn band-compact <store-path>: compact the band store to
    distinct (band, bhash, doc_id) rows, one file per band."""
    from dragnet_spark.index.fingerprints import compact_band_store

    opts = _parse_args(argv, [])
    (store,) = _nargs(opts, 1)
    compact_band_store(_get_spark(), store)
    out.write("compacted band store at %s\n" % store)


def cmd_srp_build(argv, cat: Catalog, out):
    """dn srp-build <embeddings.parquet> --out=PATH [--bands=8]
    [--bits=16|auto] [--seed=42] [--dims=N] [--no-pair-keys]
    [--id-field=vec_id] [--vec-field=embedding]:
    materialize the SRP band store (in-stream SEMANTIC near-dedup;
    index/fingerprints.build_srp_store). ``--bits auto`` sizes the
    band width for THIS corpus (min(32, ceil(log2(n·bands/8))) —
    ops/dedup.auto_bits_per_band: a pinned width has a corpus
    ceiling) and keys a PREFIX of the static 32-bit plane matrix, so
    an auto-width store built at any tier stays comparable with the
    full-width form. ``--no-pair-keys`` skips the derived band-PAIR
    key dir (pair discovery via srp-pairs does not need it)."""
    from dragnet_spark.index.fingerprints import build_srp_store

    opts = _parse_args(
        argv,
        [
            "out", "bands", "bits", "seed", "dims",
            "no-pair-keys", "id-field", "vec-field",
        ],
    )
    (src,) = _nargs(opts, 1)
    if "out" not in opts:
        raise UsageError('"out" option is required')
    spark = _get_spark()
    df = spark.read.parquet(src)
    bands = int(opts.get("bands", "8"))
    seed = int(opts.get("seed", "42"))
    vec_col = opts.get("vec_field", "embedding")
    dims = int(opts["dims"]) if "dims" in opts else None
    kwargs = {}
    if opts.get("bits", "16") == "auto":
        from pyspark.sql import functions as F

        from dragnet_spark.ops.dedup import auto_srp_width

        if dims is None:
            first = (
                df.select(F.size(F.col(vec_col)).alias("d"))
                .filter(F.col("d") > 0)
                .first()
            )
            if first is None:
                raise FatalError(
                    "srp-build --bits auto: no non-null vectors and "
                    "no --dims to size the plane matrix from"
                )
            dims = int(first["d"])
        n = df.count()
        bits, kwargs["planes_q"] = auto_srp_width(n, bands, dims, seed)
    else:
        bits = int(opts.get("bits", "16"))
    meta = build_srp_store(
        spark,
        df,
        opts["out"],
        vec_col=vec_col,
        id_col=opts.get("id_field", "vec_id"),
        bands=bands,
        bits_per_band=bits,
        seed=seed,
        dims=dims,
        with_pairs="no_pair_keys" not in opts,
        **kwargs,
    )
    out.write(
        "built SRP store: %d bands x %d bits (%d dims) at %s\n"
        % (meta["bands"], meta["bits_per_band"], meta["dims"], opts["out"])
    )


def cmd_srp_append(argv, cat: Catalog, out):
    """dn srp-append <store-path> --vectors=<parquet>: append a new
    batch's band keys with the store's PERSISTED planes."""
    from dragnet_spark.index.fingerprints import append_srp_keys

    opts = _parse_args(argv, ["vectors"])
    (store,) = _nargs(opts, 1)
    if "vectors" not in opts:
        raise UsageError('"vectors" option is required')
    spark = _get_spark()
    append_srp_keys(spark, spark.read.parquet(opts["vectors"]), store)
    out.write("appended SRP band keys into %s\n" % store)


def cmd_srp_probe(argv, cat: Catalog, out):
    """dn srp-probe <store-path> --queries=<parquet>
    [--min-band-hits=1]: probe an arriving embedding batch for
    SEMANTIC near-duplicates of the stored corpus; prints per-vector
    NDJSON (vec_id, n_band_hits, dup_of, is_near_duplicate) and a
    summary line."""
    from dragnet_spark.index.fingerprints import probe_srp_near_duplicates

    opts = _parse_args(argv, ["queries", "min-band-hits"])
    (store,) = _nargs(opts, 1)
    if "queries" not in opts:
        raise UsageError('"queries" option is required')
    spark = _get_spark()
    res = probe_srp_near_duplicates(
        spark,
        store,
        spark.read.parquet(opts["queries"]),
        min_band_hits=int(opts.get("min_band_hits", "1")),
    ).orderBy("vec_id")
    rows = res.collect()  # presentation-layer: final result only
    for r in rows:
        out.write(
            json.dumps(
                {
                    "vec_id": r["vec_id"],
                    "n_band_hits": r["n_band_hits"],
                    "dup_of": r["dup_of"],
                    "is_near_duplicate": bool(r["is_near_duplicate"]),
                }
            )
            + "\n"
        )
    n_near = sum(1 for r in rows if r["is_near_duplicate"])
    out.write("%d of %d near-duplicate the corpus\n" % (n_near, len(rows)))


def _print_pair_rows(out, rows, score_col: str) -> None:
    for r in rows:
        out.write(
            json.dumps(
                {
                    "id_a": r["id_a"],
                    "id_b": r["id_b"],
                    score_col: r[score_col],
                }
            )
            + "\n"
        )


def _run_candidates_only(fn, store: str, opts: dict, out) -> None:
    """Shared --candidates-only body for band-pairs / srp-pairs: the
    bounded collision-join stage alone. The deduplicated candidate
    set is materialized at OUT/pairs (the library collapses
    cross-band duplicates into the sink, so the printed count IS the
    sink's row count); OUT also holds the resume manifest."""
    if "out" not in opts:
        raise UsageError('"--candidates-only" requires "--out"')
    slices = int(opts.get("slices", "8"))
    spark = _get_spark()
    n = fn(spark, store, opts["out"], slices=slices).count()
    out.write(
        "%d candidate pairs at %s/pairs (bounded discovery, %d slices; "
        "unverified — run verify where the corpus lives)\n"
        % (n, opts["out"], slices)
    )


def cmd_band_pairs(argv, cat: Catalog, out):
    """dn band-pairs <store-path> --docs=<parquet> [--threshold=0.8]
    [--out=DIR] [--bounded [--slices=8]]: near-duplicate PAIR
    DISCOVERY from the persisted minhash band store — the
    store-amortized production pipeline (signatures paid once at
    ingest by band-build/band-append; candidates come from the
    persisted (band, bhash, doc_id) rows; every candidate is verified
    with the exact Jaccard against --docs, which supplies the text).
    --bounded runs the verify as --slices SEQUENTIAL crash-resumable
    jobs writing into --out (required), bounding peak shuffle/spill
    to ~1/slices of the one-shot — the shape measured at the 10⁴
    octave (50M docs: 96 s candidates + 2180 s bounded verify where
    the one-shot exchange projected 145 GB). Output (id_a, id_b,
    jaccard) goes to --out as parquet when given, else prints NDJSON
    rows (small runs); always ends with a summary line.

    --candidates-only runs ONLY the bounded collision-join stage
    (band_store_candidates_bounded): --slices sequential hash-slice
    jobs writing (id_a, id_b) candidates into --out (required), no
    --docs needed since text never enters discovery. The 10⁵-tier
    posture: at 5×10⁸ docs the collision exchange itself exceeds
    one box's disk, and verify runs elsewhere (wherever the corpus
    durably lives)."""
    from dragnet_spark.index.fingerprints import (
        band_store_candidates_bounded,
        band_store_pairs,
        band_store_pairs_bounded,
    )

    opts = _parse_args(
        argv,
        ["docs", "threshold", "out", "bounded", "slices",
         "candidates-only"],
    )
    (store,) = _nargs(opts, 1)
    if opts.get("candidates_only"):
        _run_candidates_only(band_store_candidates_bounded, store, opts, out)
        return
    if "docs" not in opts:
        raise UsageError('"docs" option is required')
    thr = float(opts.get("threshold", "0.8"))
    spark = _get_spark()
    docs = spark.read.parquet(opts["docs"])
    if opts.get("bounded"):
        if "out" not in opts:
            raise UsageError('"--bounded" requires "--out"')
        slices = int(opts.get("slices", "8"))
        pairs = band_store_pairs_bounded(
            spark, store, docs, opts["out"], threshold=thr, slices=slices
        )
        n = pairs.count()
        out.write(
            "%d near-duplicate pairs (jaccard >= %g) at %s "
            "(bounded verify, %d slices)\n" % (n, thr, opts["out"], slices)
        )
        return
    pairs = band_store_pairs(spark, store, docs, threshold=thr)
    if "out" in opts:
        pairs.write.mode("overwrite").parquet(opts["out"])
        n = spark.read.parquet(opts["out"]).count()
        out.write(
            "%d near-duplicate pairs (jaccard >= %g) at %s\n"
            % (n, thr, opts["out"])
        )
        return
    rows = pairs.orderBy("id_a", "id_b").collect()  # presentation-layer
    _print_pair_rows(out, rows, "jaccard")
    out.write(
        "%d near-duplicate pairs (jaccard >= %g)\n" % (len(rows), thr)
    )


def cmd_srp_pairs(argv, cat: Catalog, out):
    """dn srp-pairs <store-path> --vectors=<parquet> [--threshold=0.9]
    [--out=DIR] [--mode=oneshot|sliced|bucket [--slices=8]]: SEMANTIC
    near-duplicate PAIR DISCOVERY from the persisted SRP band store —
    the embedding twin of band-pairs (candidates from persisted
    (band, bucket, vec_id) rows; exact rounded-cosine verify against
    --vectors). --mode picks the verify shape: oneshot (default) is
    the plain DAG; sliced partitions the candidate pairs into
    --slices sequential jobs (bounds footprint when candidate DEGREE
    is low); bucket runs per-band bucket-local matmuls and never
    joins vectors onto pairs at all — the shape that completed the
    10⁴ octave (40M vectors: 251 s candidates + 3941 s bucket verify
    where the one-shot exchange projected 455 GB; pick it when mean
    candidate degree is high). sliced/bucket require --out. Output
    (id_a, id_b, cosine) as for band-pairs. --candidates-only: the
    bounded collision-join stage alone (no --vectors, no verify) —
    see band-pairs."""
    from dragnet_spark.index.fingerprints import (
        srp_store_candidates_bounded,
        srp_store_pairs,
        srp_store_pairs_bounded,
        srp_store_pairs_bucket_verify,
    )

    opts = _parse_args(
        argv,
        ["vectors", "threshold", "out", "mode", "slices",
         "candidates-only"],
    )
    (store,) = _nargs(opts, 1)
    if opts.get("candidates_only"):
        _run_candidates_only(srp_store_candidates_bounded, store, opts, out)
        return
    if "vectors" not in opts:
        raise UsageError('"vectors" option is required')
    mode = opts.get("mode", "oneshot")
    if mode not in ("oneshot", "sliced", "bucket"):
        raise UsageError(
            f'unknown mode: "{mode}" (expected oneshot, sliced, or bucket)'
        )
    thr = float(opts.get("threshold", "0.9"))
    spark = _get_spark()
    vecs = spark.read.parquet(opts["vectors"])
    if mode != "oneshot":
        if "out" not in opts:
            raise UsageError(f'mode "{mode}" requires "--out"')
        if mode == "sliced":
            slices = int(opts.get("slices", "8"))
            pairs = srp_store_pairs_bounded(
                spark, store, vecs, opts["out"], threshold=thr, slices=slices
            )
            shape = "sliced verify, %d slices" % slices
        else:
            pairs = srp_store_pairs_bucket_verify(
                spark, store, vecs, opts["out"], threshold=thr
            )
            shape = "bucket-local verify"
        n = pairs.count()
        out.write(
            "%d semantic near-duplicate pairs (cosine >= %g) at %s (%s)\n"
            % (n, thr, opts["out"], shape)
        )
        return
    pairs = srp_store_pairs(spark, store, vecs, threshold=thr)
    if "out" in opts:
        pairs.write.mode("overwrite").parquet(opts["out"])
        n = spark.read.parquet(opts["out"]).count()
        out.write(
            "%d semantic near-duplicate pairs (cosine >= %g) at %s\n"
            % (n, thr, opts["out"])
        )
        return
    rows = pairs.orderBy("id_a", "id_b").collect()  # presentation-layer
    _print_pair_rows(out, rows, "cosine")
    out.write(
        "%d semantic near-duplicate pairs (cosine >= %g)\n"
        % (len(rows), thr)
    )


def cmd_srp_compact(argv, cat: Catalog, out):
    """dn srp-compact <store-path>: compact the SRP store (band and
    band-pair keys) to distinct rows, one file per slice."""
    from dragnet_spark.index.fingerprints import compact_srp_store

    opts = _parse_args(argv, [])
    (store,) = _nargs(opts, 1)
    compact_srp_store(_get_spark(), store)
    out.write("compacted SRP store at %s\n" % store)


def cmd_vindex_compact(argv, cat: Catalog, out):
    """dn vindex-compact <index-path>: rewrite each cell to one file
    after appends (assignments/centroids untouched)."""
    from dragnet_spark.index.vector import compact_vector_index

    opts = _parse_args(argv, [])
    (idx,) = _nargs(opts, 1)
    compact_vector_index(_get_spark(), idx)
    out.write("compacted vector index at %s\n" % idx)


def cmd_vindex_stats(argv, cat: Catalog, out):
    """dn vindex-stats <index-path>: cell-population stats and the
    recenter recommendation — the operational readout behind the
    documented ~4x max/mean skew trigger."""
    from dragnet_spark.index.vector import (
        load_vector_index_meta,
        vector_index_cell_stats,
    )

    opts = _parse_args(argv, [])
    (idx,) = _nargs(opts, 1)
    spark = _get_spark()
    meta = load_vector_index_meta(idx)
    rows = sorted(
        (r["cell"], r["n_vectors"])
        for r in vector_index_cell_stats(spark, idx).collect()
    )
    counts = [n for _, n in rows]
    total = sum(counts)
    mean = total / max(len(counts), 1)
    skew = (max(counts) / mean) if counts and mean else 0.0
    out.write(
        "%d vectors in %d/%d cells%s; max/mean skew %.2f\n"
        % (
            total,
            len(counts),
            meta["n_centroids"],
            " (int8)" if meta.get("quantized") else "",
            skew,
        )
    )
    for cell, n in rows:
        out.write("    cell=%-4d %d\n" % (cell, n))
    target = meta.get("target_rows_per_cell")
    outgrown = (
        target is not None
        and total / max(meta["n_centroids"], 1) >= 2 * target
    )
    if skew > 4.0 or len(counts) < meta["n_centroids"] or outgrown:
        why = (
            "mean rows/cell past 2x the target-rows-per-cell policy"
            if outgrown
            else "skew or empty cells past the trigger"
        )
        out.write(
            "recommendation: recenter (dn vindex-recenter) — %s\n" % why
        )
    else:
        out.write("recommendation: healthy; no recenter needed\n")


def cmd_vindex_ingest(argv, cat: Catalog, out):
    """dn vindex-ingest <index-path> --stream-dir=DIR
    --checkpoint=CKPT [--no-recenter]: drain all pending parquet
    files from DIR into the index via the streaming ingest loop
    (availableNow trigger — process everything, then exit), with the
    batch-id ledger deduplicating replays and the ~4x skew trigger
    checked at startup. Run it from cron for incremental ingest — the
    reference's rebuild-the-affected-interval discipline, as a
    drain-and-exit job."""
    from dragnet_spark.index.vector import (
        load_vector_index_meta,
        vector_index_skew,
    )
    from dragnet_spark.streaming.pipeline import (
        stream_ingest_vector_index,
    )

    opts = _parse_args(argv, ["stream-dir", "checkpoint", "no-recenter"])
    (idx,) = _nargs(opts, 1)
    for req in ("stream_dir", "checkpoint"):
        if req not in opts:
            raise UsageError(f'"{req.replace("_", "-")}" option is required')
    spark = _get_spark()
    meta = load_vector_index_meta(idx)
    # stream schema comes from the types persisted at build time (a
    # string-id index must not be scanned as bigint); pre-1.1 indexes
    # without persisted types fall back to the historical defaults
    id_type = meta.get("id_type", "long")
    vec_type = meta.get("vec_type", "array<double>")
    sdf = (
        spark.readStream.schema(
            f"`{meta['id_col']}` {id_type}, `{meta['vec_col']}` {vec_type}"
        )
        .parquet(opts["stream_dir"])
    )
    q = stream_ingest_vector_index(
        sdf,
        idx,
        opts["checkpoint"],
        recenter_trigger=None if "no_recenter" in opts else 4.0,
        trigger_available_now=True,
    )
    q.awaitTermination()
    skew = vector_index_skew(spark, idx)
    out.write(
        "drained pending batches into %s; cell skew %.2f%s\n"
        % (
            idx,
            skew,
            " (over the recenter trigger — next run recenters)"
            if skew >= 4.0
            else "",
        )
    )


def cmd_vindex_recenter(argv, cat: Catalog, out):
    """dn vindex-recenter <index-path> [--centroids=N]: retrain
    centroids on the current store contents and rebuild in place —
    the recenter action for a drift-skewed index."""
    from dragnet_spark.index.vector import recenter_vector_index

    opts = _parse_args(argv, ["centroids"])
    (idx,) = _nargs(opts, 1)
    meta = recenter_vector_index(
        _get_spark(),
        idx,
        n_centroids=int(opts["centroids"]) if "centroids" in opts else None,
    )
    out.write(
        "recentered vector index: %d cells at %s\n"
        % (meta["n_centroids"], idx)
    )


def cmd_sink_compact(argv, cat: Catalog, out):
    """dn sink-compact <sink-path> [--min-batches=2] [--keep-last=0]
    [--order-by=COL]: fold the curated sink's committed-and-ledgered
    ``__dn_batch`` directories into a consolidated base segment
    (negative batch id; readers keep working). Only provably-folded
    batches move; the swap holds the governing store's lease, so it
    is safe against a live ingest stream. --order-by clusters the
    segment on a column so parquet min/max stats prune probes
    (streaming/sink.py)."""
    from dragnet_spark.streaming.sink import compact_sink

    opts = _parse_args(argv, ["min-batches", "keep-last", "order-by"])
    (sink,) = _nargs(opts, 1)
    report = compact_sink(
        _get_spark(),
        sink,
        min_batches=int(opts.get("min_batches", "2")),
        keep_last=int(opts.get("keep_last", "0")),
        order_by=opts.get("order_by"),
    )
    if report["segment"]:
        out.write(
            "folded %d batch dirs into %s at %s\n"
            % (len(report["folded"]), report["segment"], sink)
        )
    else:
        out.write("nothing to fold at %s\n" % sink)
    if report["skipped_unledgered"]:
        out.write(
            "skipped %d unledgered dirs (replay sources): %s\n"
            % (
                len(report["skipped_unledgered"]),
                ",".join(report["skipped_unledgered"]),
            )
        )


def cmd_lm_build(argv, cat: Catalog, out):
    """dn lm-build <docs.parquet> --out=PATH [--text-field=text]
    [--min-count=2] [--lam-pct=80]: freeze the reference corpus's
    interpolated bigram-LM counts into an LM store (index/lm.py) for
    ingest gating — the judged data must never shift the judge."""
    from dragnet_spark.index.lm import build_lm_store

    opts = _parse_args(argv, ["out", "text-field", "min-count", "lam-pct"])
    (src,) = _nargs(opts, 1)
    if "out" not in opts:
        raise UsageError('"out" option is required')
    spark = _get_spark()
    meta = build_lm_store(
        spark,
        spark.read.parquet(src),
        opts["out"],
        text_col=opts.get("text_field", "text"),
        min_count=int(opts.get("min_count", "2")),
        lam_pct=int(opts.get("lam_pct", "80")),
    )
    out.write(
        "built LM store at %s: %d tokens, %d vocab, bigrams c2>=%d\n"
        % (opts["out"], meta["total_tokens"], meta["vocab_size"],
           meta["min_count"])
    )


def cmd_lm_score(argv, cat: Catalog, out):
    """dn lm-score <lm-path> --docs=<parquet> [--id-field=doc_id]
    [--text-field=text] [--min-mean-logp=X]: score (or, with the
    threshold, gate) a batch under the frozen reference LM; prints
    per-doc NDJSON and a summary line."""
    import json as _json

    from dragnet_spark.index.lm import lm_gate, score_against_lm_store

    opts = _parse_args(
        argv, ["docs", "id-field", "text-field", "min-mean-logp"]
    )
    (lm,) = _nargs(opts, 1)
    if "docs" not in opts:
        raise UsageError('"docs" option is required')
    spark = _get_spark()
    docs = spark.read.parquet(opts["docs"])
    idc = opts.get("id_field", "doc_id")
    txt = opts.get("text_field", "text")
    if "min_mean_logp" in opts:
        kept = lm_gate(
            spark, lm, docs, float(opts["min_mean_logp"]),
            text_col=txt, id_col=idc,
        )
        n_in, n_out = docs.count(), kept.count()
        for r in kept.select(idc).collect():
            out.write(_json.dumps({idc: r[idc]}) + "\n")
        out.write("kept %d of %d docs\n" % (n_out, n_in))
        return
    rows = score_against_lm_store(
        spark, lm, docs, text_col=txt, id_col=idc
    ).collect()
    for r in rows:
        out.write(_json.dumps(r.asDict()) + "\n")
    out.write("scored %d docs\n" % len(rows))


def cmd_bloom_build(argv, cat: Catalog, out):
    """dn bloom-build <bench.parquet> --out=PATH [--text-field=text]
    [--gram-n=8] [--m-bits=1048576] [--k=5] [--src-field=COL]: freeze
    the benchmark corpus's distinct gram hashes into a Bloom store
    (index/bloom.py) for ingest decontamination — bitset broadcast
    screens every arriving gram, only candidates touch the exact
    gram table. With --src-field the gram table carries which
    benchmark each gram belongs to (enables bloom-gate --attribute)."""
    from dragnet_spark.index.bloom import build_bloom_store

    opts = _parse_args(
        argv, ["out", "text-field", "gram-n", "m-bits", "k", "src-field"]
    )
    (src,) = _nargs(opts, 1)
    if "out" not in opts:
        raise UsageError('"out" option is required')
    spark = _get_spark()
    meta = build_bloom_store(
        spark,
        spark.read.parquet(src),
        opts["out"],
        text_col=opts.get("text_field", "text"),
        gram_n=int(opts.get("gram_n", "8")),
        m_bits=int(opts.get("m_bits", str(1 << 20))),
        k=int(opts.get("k", "5")),
        src_col=opts.get("src_field"),
    )
    out.write(
        "built bloom store at %s: %d grams (n=%d), m=%d bits, k=%d%s\n"
        % (opts["out"], meta["n_grams"], meta["gram_n"], meta["m_bits"],
           meta["k"],
           ", with src attribution" if meta["src_attribution"] else "")
    )


def cmd_bloom_gate(argv, cat: Catalog, out):
    """dn bloom-gate <store-path> --docs=<parquet> [--id-field=doc_id]
    [--text-field=text] [--max-hit-frac=X] [--attribute]: score a
    batch against the frozen benchmark gram store; with
    --max-hit-frac, print the kept doc ids (the gate); with
    --attribute, print per-(doc, benchmark) leak tallies (requires a
    store built with --src-field); else per-doc NDJSON overlap
    reports."""
    import json as _json

    from dragnet_spark.index.bloom import (
        attribute_against_bloom_store,
        decontam_gate,
        score_against_bloom_store,
    )

    opts = _parse_args(
        argv, ["docs", "id-field", "text-field", "max-hit-frac",
               "attribute"]
    )
    (store,) = _nargs(opts, 1)
    if "docs" not in opts:
        raise UsageError('"docs" option is required')
    spark = _get_spark()
    docs = spark.read.parquet(opts["docs"])
    idc = opts.get("id_field", "doc_id")
    txt = opts.get("text_field", "text")
    if opts.get("attribute"):
        rows = attribute_against_bloom_store(
            spark, store, docs, text_col=txt, id_col=idc
        ).collect()
        for r in rows:
            out.write(_json.dumps(r.asDict()) + "\n")
        out.write("attributed %d (doc, benchmark) leaks\n" % len(rows))
        return
    if "max_hit_frac" in opts:
        kept = decontam_gate(
            spark, store, docs, float(opts["max_hit_frac"]),
            text_col=txt, id_col=idc,
        )
        n_in, n_out = docs.count(), kept.count()
        for r in kept.select(idc).collect():
            out.write(_json.dumps({idc: r[idc]}) + "\n")
        out.write("kept %d of %d docs\n" % (n_out, n_in))
        return
    rows = score_against_bloom_store(
        spark, store, docs, text_col=txt, id_col=idc
    ).collect()
    for r in rows:
        out.write(_json.dumps(r.asDict()) + "\n")
    out.write("scored %d docs\n" % len(rows))


def cmd_profile(argv, cat: Catalog, out):
    """dn profile <path> [--format=parquet]: one-scan per-column
    profile of a table — null counts, exact distincts, numeric/time
    ranges (epoch micros), string ranges. Single pass regardless of
    column count (ops/profile.py); the collect is one row per column."""
    from dragnet_spark.ops.profile import profile_table

    opts = _parse_args(argv, ["format"])
    (path,) = _nargs(opts, 1)
    fmt = opts.get("format", "parquet")
    df = _get_spark().read.format(fmt).load(path)
    rows = profile_table(df).collect()
    out.write(
        "%-16s %12s %10s %10s %22s %22s\n"
        % ("COLUMN", "ROWS", "NULLS", "DISTINCT", "MIN", "MAX")
    )
    for r in rows:
        mn = r["min_num"] if r["min_num"] is not None else r["min_str"]
        mx = r["max_num"] if r["max_num"] is not None else r["max_str"]
        out.write(
            "%-16s %12d %10d %10d %22s %22s\n"
            % (
                r["col_name"], r["n_rows"], r["n_nulls"], r["n_distinct"],
                "" if mn is None else str(mn)[:22],
                "" if mx is None else str(mx)[:22],
            )
        )


def cmd_maintain(argv, cat: Catalog, out):
    """dn maintain <root> [--dry-run] [--max-files=4]: discover every
    dragnet store under <root> (event index, fingerprint/band/SRP
    stores, vector index, curated streaming sink — classified by
    marker file), read its health signals (max files per partition;
    vindex cell skew + growth policy; sink batch-dir count), and run
    the lease-guarded maintenance each needs: compact past
    --max-files, recenter a drifted or outgrown vector index, fold an
    outgrown sink's batch dirs. --dry-run plans without touching
    anything. Cron-able: the scheduled maintenance job for a fleet of
    continuously-appended stores (index/maintain.py)."""
    from dragnet_spark.index.maintain import run_maintenance

    opts = _parse_args(argv, ["dry-run", "max-files"])
    (root,) = _nargs(opts, 1)
    plan = run_maintenance(
        _get_spark(),
        root,
        dry_run=bool(opts.get("dry_run")),
        max_files=int(opts.get("max_files", "4")),
    )
    for rec in plan:
        sig = "max_files/part=%d" % rec["max_files_per_partition"]
        if rec["kind"] == "bloom":
            sig += ", fill=%.3f est_fpp=%.2e" % (
                rec["bloom_fill"], rec["bloom_est_fpp"]
            )
        if rec["kind"] == "vindex":
            sig += ", skew=%.2f" % rec["skew"]
            if rec.get("target_rows_per_cell") is not None:
                sig += ", mean/cell=%.0f target=%d" % (
                    rec["mean_rows_per_cell"],
                    rec["target_rows_per_cell"],
                )
        verb = (
            "would run" if bool(opts.get("dry_run")) else "ran"
        )
        what = ",".join(rec["actions"]) if rec["actions"] else "nothing"
        line = "%-7s %s (%s): %s %s" % (
            rec["kind"], rec["path"], sig, verb, what
        )
        if rec.get("advisories"):
            line += " [ADVISORY %s]" % ",".join(rec["advisories"])
        if rec.get("error"):
            line += " [ERROR %s]" % rec["error"]
        out.write(line + "\n")
    out.write(
        "%d stores, %d with pending work\n"
        % (len(plan), sum(1 for r in plan if r["actions"]))
    )


def cmd_semdedup(argv, cat: Catalog, out):
    """dn semdedup <vectors> [--k=8 | --target-rows=N] [--iterations=3]
    [--threshold=0.9] [--id-col=vec_id] [--vec-col=embedding]
    [--format=parquet] [--out=PATH]: SemDeDup semantic dedup — exact
    fixed-point k-means over the embedding column, then near-dup
    pair search restricted to cluster mates (ops/kmeans.py).
    --target-rows picks k automatically as ceil(n/target) — the
    paper's k ∝ n regime, keeping cluster size (and the pair stage)
    bounded as the corpus grows; prefer it over --k for any corpus
    whose size you don't control. It SELF-SIZES the assignment too
    (ops/kmeans.kmeans_assign_auto): flat Lloyd below k=1024, the
    hierarchical two-level form above it — the n·√k posture past
    ~10⁶ vectors that retired the 1000×-tier assignment wall.
    --two-level forces the hierarchical form at any size (uses
    --target-rows, default 250). Prints cluster sizes and the
    pairs found; --out writes the SURVIVOR ids (corpus minus every
    dropped_id) as parquet."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.kmeans import (
        kmeans_assign,
        kmeans_assign_auto,
        kmeans_assign_two_level,
        semdedup_prune_pairs,
    )

    opts = _parse_args(
        argv,
        ["k", "target-rows", "iterations", "threshold", "id-col",
         "vec-col", "format", "out", "two-level"],
    )
    (path,) = _nargs(opts, 1)
    k = int(opts.get("k", "8"))
    target = opts.get("target_rows")
    iters = int(opts.get("iterations", "3"))
    thr = float(opts.get("threshold", "0.9"))
    id_col = opts.get("id_col", "vec_id")
    vec_col = opts.get("vec_col", "embedding")
    spark = _get_spark()
    df = spark.read.format(opts.get("format", "parquet")).load(path)
    if opts.get("two_level"):
        assign = kmeans_assign_two_level(
            df, vec_col=vec_col, id_col=id_col, iterations=iters,
            target_rows_per_cluster=int(target) if target else 250,
        )
    elif target:
        # self-sizing: flat below k=1024 (lower constants), two-level
        # above (n·√k) — the graded routing boundary (TWO_LEVEL_MIN_K)
        assign = kmeans_assign_auto(
            df, vec_col=vec_col, id_col=id_col, iterations=iters,
            target_rows_per_cluster=int(target),
        )
    else:
        assign = kmeans_assign(
            df, vec_col=vec_col, id_col=id_col, k=k, iterations=iters,
        )
    sizes = sorted(
        (r["cluster"], r["n"])
        for r in assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    out.write(
        "k-means: %d vectors -> %d clusters (sizes %s)\n"
        % (sum(n for _, n in sizes), len(sizes), ",".join(str(n) for _, n in sizes))
    )
    pairs = semdedup_prune_pairs(
        df, assign, vec_col=vec_col, id_col=id_col, threshold=thr
    )
    dropped = pairs.select(F.col("dropped_id").alias("id")).distinct()
    n_pairs = pairs.count()
    n_drop = dropped.count()
    out.write(
        "semdedup: %d within-cluster pairs >= %.2f, %d docs dropped\n"
        % (n_pairs, thr, n_drop)
    )
    if opts.get("out"):
        survivors = (
            df.select(F.col(id_col).cast("long").alias("id"))
            .join(dropped, "id", "left_anti")
            .select(F.col("id").alias(id_col))
        )
        survivors.write.mode("error").parquet(opts["out"])
        out.write("survivors -> %s\n" % opts["out"])


def cmd_graph(argv, cat: Catalog, out):
    """dn graph <pairs> --op=pagerank|trustrank|triangles|clustering|components
    [--seeds=PATH] [--iterations=4] [--id-a=id_a] [--id-b=id_b]
    [--format=parquet] [--out=PATH] [--top=20]: graph analytics over a
    precomputed undirected pair table (any dedup op's (id_a, id_b)
    output). trustrank requires --seeds (a parquet of ids in the
    pair table's id space — a labeled trusted/spam list). Prints the
    top rows by score; --out writes the full result as parquet."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.graph import (
        clustering_coefficients,
        connected_components,
        pagerank,
        personalized_pagerank,
        triangle_counts,
    )

    opts = _parse_args(
        argv,
        ["op", "seeds", "iterations", "id-a", "id-b", "format", "out",
         "top"],
    )
    (path,) = _nargs(opts, 1)
    op = opts.get("op")
    if op not in ("pagerank", "trustrank", "triangles", "clustering",
                  "components"):
        raise UsageError(
            "--op must be pagerank|trustrank|triangles|clustering|components"
        )
    ia, ib = opts.get("id_a", "id_a"), opts.get("id_b", "id_b")
    iters = int(opts.get("iterations", "4"))
    spark = _get_spark()
    pairs = spark.read.format(opts.get("format", "parquet")).load(path)
    nodes = (
        pairs.select(F.col(ia).alias("id"))
        .unionByName(pairs.select(F.col(ib).alias("id")))
        .distinct()
    )
    if op == "pagerank":
        res = pagerank(nodes, pairs, src_col=ia, dst_col=ib,
                       iterations=iters)
        score = "pagerank"
    elif op == "trustrank":
        if not opts.get("seeds"):
            raise UsageError("--op=trustrank requires --seeds=PATH")
        seeds = spark.read.parquet(opts["seeds"])
        seeds = seeds.select(F.col(seeds.columns[0]).alias("id"))
        res = personalized_pagerank(nodes, pairs, seeds, src_col=ia,
                                    dst_col=ib, iterations=iters)
        score = "trustrank"
    elif op == "triangles":
        res = triangle_counts(pairs, ia, ib, include_zero_nodes=True)
        score = "n_triangles"
    elif op == "clustering":
        res = clustering_coefficients(pairs, ia, ib)
        score = "clustering"
    else:
        res = connected_components(nodes, pairs, src_col=ia, dst_col=ib)
        score = "component"
    top = int(opts.get("top", "20"))
    rows = res.orderBy(F.desc(score), "id").limit(top).collect()
    cols = res.columns
    out.write("  ".join(cols) + "\n")
    for r in rows:
        out.write("  ".join(str(r[c]) for c in cols) + "\n")
    if opts.get("out"):
        res.write.mode("error").parquet(opts["out"])
        out.write("%s -> %s\n" % (op, opts["out"]))


def cmd_distinct(argv, cat: Catalog, out):
    """dn distinct <path> --col=C [--group-by=G] [--k=256] [--exact]
    [--format=parquet]: KMV bottom-k estimate of COUNT(DISTINCT C),
    optionally per group (ops/sketch.py — deterministic md5 order
    statistics, exact below k distinct values). --exact adds the true
    count next to the estimate (full distinct shuffle — the cost the
    sketch exists to avoid)."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.sketch import kmv_distinct

    opts = _parse_args(argv, ["col", "group-by", "k", "exact", "format"])
    (path,) = _nargs(opts, 1)
    col = opts.get("col")
    if not col:
        raise UsageError("--col is required")
    k = int(opts.get("k", "256"))
    grp = opts.get("group_by")
    spark = _get_spark()
    df = spark.read.format(opts.get("format", "parquet")).load(path)
    gcols = [grp] if grp else ["__g"]
    if not grp:
        df = df.withColumn("__g", F.lit("all"))
    est = kmv_distinct(df, col, gcols, k=k)
    if opts.get("exact"):
        exact = df.groupBy(*gcols).agg(
            F.countDistinct(col).alias("exact_distinct")
        )
        est = est.join(exact, gcols)
    rows = est.orderBy(gcols[0]).collect()
    hdr = "%-24s %14s" % (grp or "group", "est_distinct")
    if opts.get("exact"):
        hdr += " %14s" % "exact_distinct"
    out.write(hdr + "\n")
    for r in rows:
        line = "%-24s %14d" % (r[gcols[0]], r["est_distinct"])
        if opts.get("exact"):
            line += " %14d" % r["exact_distinct"]
        out.write(line + "\n")


def cmd_media_probe(argv, cat: Catalog, out):
    """dn media-probe <dir> [--glob=*.png] [--verbose]: ingest a
    media directory via the binaryFile source (sources/media.py) and
    run the header-only metadata probe — detected format, dimensions,
    duration, and the declared-vs-detected mismatch flag. Prints a
    per-format rollup; --verbose lists every mismatched file."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.multimodal import probe_media_metadata
    from dragnet_spark.sources.media import read_media_dir

    opts = _parse_args(argv, ["glob", "verbose"])
    (path,) = _nargs(opts, 1)
    spark = _get_spark()
    media = read_media_dir(spark, path, glob=opts.get("glob"))
    probed = probe_media_metadata(
        media.select("id", "media_type", "payload")
    ).join(media.select("id", "path"), "id")
    roll = (
        probed.groupBy("detected_format")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("bytes"),
            F.sum("type_mismatch").alias("mismatched"),
        )
        .orderBy("detected_format")
        .collect()
    )
    out.write("%-12s %8s %14s %10s\n" % ("FORMAT", "FILES", "BYTES", "MISMATCH"))
    for r in roll:
        out.write(
            "%-12s %8d %14d %10d\n"
            % (r["detected_format"], r["n"], r["bytes"], r["mismatched"])
        )
    if opts.get("verbose"):
        for r in probed.filter(F.col("type_mismatch") == 1).orderBy("path").collect():
            out.write(
                "MISMATCH %s declared=%s detected=%s\n"
                % (r["path"], r["declared_type"], r["detected_format"])
            )


def _kmv_print_estimates(spark, store, out):
    from dragnet_spark.index.kmv import kmv_store_estimate, load_kmv_meta

    meta = load_kmv_meta(store)
    g = meta["group_cols"]
    rows = kmv_store_estimate(spark, store).orderBy(*g).collect()
    out.write("%-24s %14s\n" % (",".join(g), "est_distinct"))
    for r in rows:
        key = ",".join(str(r[c]) for c in g)
        out.write("%-24s %14d\n" % (key, r["est_distinct"]))


def cmd_comp_build(argv, cat: Catalog, out):
    """dn comp-build <pairs> --out=STORE [--ids=PATH] [--id-a=id_a]
    [--id-b=id_b] [--format=parquet]: materialize an incremental
    connected-components store (index/components.py) from an
    undirected pair table — the dedup-cluster assignment a live
    pipeline maintains with dn comp-merge instead of recomputing the
    graph per batch. --ids supplies the full node set (parquet, first
    column); default is the pair endpoints."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.components import build_components_store

    opts = _parse_args(argv, ["out", "ids", "id-a", "id-b", "format"])
    (path,) = _nargs(opts, 1)
    if not opts.get("out"):
        raise UsageError("--out is required")
    ia, ib = opts.get("id_a", "id_a"), opts.get("id_b", "id_b")
    spark = _get_spark()
    pairs = spark.read.format(opts.get("format", "parquet")).load(path)
    pairs = pairs.select(F.col(ia).alias("id_a"), F.col(ib).alias("id_b"))
    if opts.get("ids"):
        ids = spark.read.parquet(opts["ids"])
        ids = ids.select(F.col(ids.columns[0]).alias("id"))
    else:
        ids = (
            pairs.select(F.col("id_a").alias("id"))
            .unionByName(pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
    build_components_store(spark, ids, pairs, opts["out"])
    out.write("built components store at %s\n" % opts["out"])


def cmd_comp_merge(argv, cat: Catalog, out):
    """dn comp-merge <store> --data=PAIRS [--id-a=id_a] [--id-b=id_b]
    [--format=parquet]: fold one arriving batch of pairs into the
    store — work proportional to the batch (endpoint resolve +
    quotient-graph closure), never a full-corpus recompute."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.components import merge_components_batch

    opts = _parse_args(argv, ["data", "id-a", "id-b", "format"])
    (store,) = _nargs(opts, 1)
    if not opts.get("data"):
        raise UsageError("--data is required")
    ia, ib = opts.get("id_a", "id_a"), opts.get("id_b", "id_b")
    spark = _get_spark()
    pairs = spark.read.format(opts.get("format", "parquet")).load(opts["data"])
    pairs = pairs.select(F.col(ia).alias("id_a"), F.col(ib).alias("id_b"))
    merge_components_batch(spark, pairs, store)
    out.write("folded %s into %s\n" % (opts["data"], store))


def cmd_comp_read(argv, cat: Catalog, out):
    """dn comp-read <store> [--out=PATH] [--top=20]: current (id,
    component) assignment with redirects applied; --out writes the
    full table as parquet."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.components import components_store_read

    opts = _parse_args(argv, ["out", "top"])
    (store,) = _nargs(opts, 1)
    spark = _get_spark()
    res = components_store_read(spark, store)
    for r in res.orderBy("component", "id").limit(
        int(opts.get("top", "20"))
    ).collect():
        out.write("%d  %d\n" % (r["id"], r["component"]))
    if opts.get("out"):
        res.write.mode("error").parquet(opts["out"])
        out.write("assignment -> %s\n" % opts["out"])


def cmd_kmv_build(argv, cat: Catalog, out):
    """dn kmv-build <data> --col=C --out=STORE [--group-by=G]
    [--k=256] [--format=parquet]: materialize a bottom-k KMV
    cardinality sketch (index/kmv.py) — O(groups·k) state a live
    pipeline folds every batch into with dn kmv-merge."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.kmv import build_kmv_store

    opts = _parse_args(argv, ["col", "group-by", "k", "out", "format"])
    (path,) = _nargs(opts, 1)
    if not opts.get("col") or not opts.get("out"):
        raise UsageError("--col and --out are required")
    spark = _get_spark()
    df = spark.read.format(opts.get("format", "parquet")).load(path)
    grp = opts.get("group_by")
    gcols = [grp] if grp else ["__g"]
    if not grp:
        df = df.withColumn("__g", F.lit("all"))
    build_kmv_store(
        spark, df, opts["out"], opts["col"], gcols, k=int(opts.get("k", "256"))
    )
    out.write("built KMV sketch (k=%s) at %s\n" % (opts.get("k", "256"), opts["out"]))
    _kmv_print_estimates(spark, opts["out"], out)


def cmd_kmv_merge(argv, cat: Catalog, out):
    """dn kmv-merge <store> --data=BATCH [--format=parquet]: fold one
    arriving batch into the sketch (lease-guarded stage-then-swap;
    bit-identical to rebuilding over everything ingested so far)."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.kmv import load_kmv_meta, merge_kmv_batch

    opts = _parse_args(argv, ["data", "format"])
    (store,) = _nargs(opts, 1)
    if not opts.get("data"):
        raise UsageError("--data is required")
    spark = _get_spark()
    df = spark.read.format(opts.get("format", "parquet")).load(opts["data"])
    if load_kmv_meta(store)["group_cols"] == ["__g"]:
        df = df.withColumn("__g", F.lit("all"))
    merge_kmv_batch(spark, df, store)
    out.write("merged %s into %s\n" % (opts["data"], store))
    _kmv_print_estimates(spark, store, out)


def cmd_kmv_est(argv, cat: Catalog, out):
    """dn kmv-est <store>: print the per-group distinct estimates the
    persisted sketch implies — no corpus scan."""
    opts = _parse_args(argv, [])
    (store,) = _nargs(opts, 1)
    _kmv_print_estimates(_get_spark(), store, out)


COMMANDS = {
    "datasource-add": cmd_datasource_add,
    "datasource-list": cmd_datasource_list,
    "datasource-remove": cmd_datasource_remove,
    "datasource-update": cmd_datasource_update,
    "datasource-show": cmd_datasource_show,
    "metric-add": cmd_metric_add,
    "metric-list": cmd_metric_list,
    "metric-remove": cmd_metric_remove,
    "build": cmd_build,
    "compact": cmd_compact,
    "index-config": cmd_index_config,
    "index-read": cmd_index_read,
    "index-scan": cmd_index_scan,
    "query": cmd_query,
    "scan": cmd_scan,
    "vindex-build": cmd_vindex_build,
    "vindex-append": cmd_vindex_append,
    "vindex-query": cmd_vindex_query,
    "vindex-compact": cmd_vindex_compact,
    "vindex-ingest": cmd_vindex_ingest,
    "vindex-recenter": cmd_vindex_recenter,
    "maintain": cmd_maintain,
    "semdedup": cmd_semdedup,
    "graph": cmd_graph,
    "distinct": cmd_distinct,
    "media-probe": cmd_media_probe,
    "comp-build": cmd_comp_build,
    "comp-merge": cmd_comp_merge,
    "comp-read": cmd_comp_read,
    "kmv-build": cmd_kmv_build,
    "kmv-merge": cmd_kmv_merge,
    "kmv-est": cmd_kmv_est,
    "sink-compact": cmd_sink_compact,
    "profile": cmd_profile,
    "lm-build": cmd_lm_build,
    "lm-score": cmd_lm_score,
    "bloom-build": cmd_bloom_build,
    "bloom-gate": cmd_bloom_gate,
    "vindex-stats": cmd_vindex_stats,
    "fp-build": cmd_fp_build,
    "fp-probe": cmd_fp_probe,
    "fp-compact": cmd_fp_compact,
    "band-build": cmd_band_build,
    "band-probe": cmd_band_probe,
    "band-append": cmd_band_append,
    "band-compact": cmd_band_compact,
    "band-pairs": cmd_band_pairs,
    "srp-pairs": cmd_srp_pairs,
    "srp-build": cmd_srp_build,
    "srp-append": cmd_srp_append,
    "srp-probe": cmd_srp_probe,
    "srp-compact": cmd_srp_compact,
}


def main(argv: list[str] | None = None, out=None, config_path: str | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    out = out or sys.stdout
    if not argv:
        sys.stderr.write(USAGE + "\n")
        return 2
    cmdname, rest = argv[0], argv[1:]
    if cmdname not in COMMANDS:
        sys.stderr.write('%s: unknown command: "%s"\n' % (ARG0, cmdname))
        sys.stderr.write(USAGE + "\n")
        return 2
    cat = Catalog.load(config_path or default_config_path())
    try:
        COMMANDS[cmdname](rest, cat, out)
        return 0
    except UsageError as e:
        sys.stderr.write("%s: %s\n" % (ARG0, e))
        sys.stderr.write(USAGE + "\n")
        return 2
    except (
        QueryError,
        FieldSpecError,
        KrillError,
        ConfigError,
        FatalError,
        ContractError,
    ) as e:
        sys.stderr.write("%s: %s\n" % (ARG0, e))
        return 1


if __name__ == "__main__":
    sys.exit(main())
