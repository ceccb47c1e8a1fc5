"""The ``dn`` command-line interface.

Re-expresses the reference CLI (bin/dn) over the Spark engine, with
the same subcommand family, option names (dashdash table at
bin/dn:146-215), message shapes ("dn: <message>" to stderr, usage on
argument errors), and output formats (fixed-width datasource/metric
listings, bin/dn:421-489,572-614; scan/query output via
dragnet_spark.output.format).

Each subcommand is a ``cmd_*`` function whose docstring is its usage.
``@command`` registers it in ``COMMANDS`` with its positional count
and its option spec, the one place its options, their types and
defaults are declared. ``main`` parses argv against that spec before
any SparkSession exists, so an unknown option, a bad value, a missing
required option or a wrong argument count is a usage error (exit 2),
and the command receives typed values with defaults applied. A
SparkSession is only created for the commands that touch data; config
CRUD is instant.
"""

from __future__ import annotations

import json
import os
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

REQUIRED = object()  # spec default of a required string option
INTERVALS = ("day", "hour", "all")
_SHORTS = {  # per the reference option table
    "A": "after", "B": "before", "b": "breakdowns", "n": "dry-run",
    "f": "filter", "i": "interval", "v": "verbose",
}

# name → (function, positional count, {option name: spec default})
COMMANDS: dict[str, tuple] = {}


def command(name: str, nargs: int, **spec):
    """Register the decorated function as ``dn NAME`` taking ``nargs``
    positionals and the options of ``spec`` (keyword ``_`` is ``-`` in
    the option name). Each default sets its option's parse: ``False``
    is a flag that takes no value; an int, float or str default gives
    that type; ``None`` is an optional string; the type ``int`` or
    ``float`` an optional number defaulting to None; ``REQUIRED`` a
    required string; a tuple a choice whose first element is the
    default. ``breakdowns`` repeats into a list and ``filter`` is
    decoded as JSON. The function is called as
    ``fn(cat, out, opts, *args)``, ``opts`` keyed with ``_``."""

    def register(fn):
        COMMANDS[name] = (
            fn, nargs, {k.replace("_", "-"): v for k, v in spec.items()}
        )
        return fn

    return register


def _value(name: str, default, raw: str):
    """``raw`` parsed as the option whose spec default is ``default``."""
    if name == "filter":
        try:
            return json.loads(raw)
        except json.JSONDecodeError as e:
            raise UsageError(f"invalid filter: {e.msg}")
    typ = (default if isinstance(default, type)
           else type(default) if isinstance(default, (int, float)) else str)
    try:
        val = typ(raw)
        if isinstance(default, tuple) and val not in default:
            raise ValueError(raw)
    except ValueError:
        raise UsageError(f'bad value for "{name}" ("{raw}")')
    return val


def _missing(name: str) -> UsageError:
    return UsageError(f'"{name}" option is required')


def _parse_args(argv: list[str], nargs: int, spec: dict) -> tuple[list, dict]:
    """Minimal dashdash-alike: --opt=v, --opt v, -x v; interspersed
    positionals collect into the first result, and must number
    ``nargs``. Unknown options are usage errors, like the reference's
    allowUnknown: false. Returns the positionals and every option of
    ``spec`` as its typed value or its default."""
    args: list[str] = []
    given: dict[str, Any] = {}
    i = 0
    while i < len(argv):
        a = argv[i]
        name = inline = None
        if a.startswith("--") and len(a) > 2:
            name, eq, inline = a[2:].partition("=")
            inline = inline if eq else None
        elif a.startswith("-") and len(a) > 1 and not a[1:].isdigit():
            if a[1:] not in _SHORTS:
                raise UsageError(f'unknown option: "{a}"')
            name = _SHORTS[a[1:]]
        if name is None:
            args.append(a)
            i += 1
            continue
        if name not in spec:
            raise UsageError(f'unknown option: "--{name}"')
        if spec[name] is False:
            if inline is not None:
                # '--quantize=false' silently ENABLING quantization is
                # the worst parse outcome; flags take no value at all
                raise UsageError(
                    f'option "--{name}" is a flag and takes no value'
                )
            given[name] = True
        else:
            if inline is None:
                if i + 1 >= len(argv):
                    raise UsageError(f'option "--{name}" requires an argument')
                i += 1
                inline = argv[i]
            val = _value(name, spec[name], inline)
            if name == "breakdowns":
                # comma-splitting is bracket-aware and happens in the
                # field-spec parser (reference: dnExpandArray → attrsParse)
                given.setdefault(name, []).append(val)
            else:
                given[name] = val
        i += 1
    if len(args) < nargs:
        raise UsageError("missing arguments")
    if len(args) > nargs:
        raise UsageError('extra arguments: "%s"' % " ".join(args[nargs:]))
    opts = {}
    for name, default in spec.items():
        if name not in given and default is REQUIRED:
            raise _missing(name)
        opts[name.replace("-", "_")] = given.get(
            name,
            default[0] if isinstance(default, tuple)
            else None if isinstance(default, type) else default,
        )
    return args, opts


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

@command("datasource-add", 1, path=REQUIRED, backend="file",
         data_format="json", filter=None, index_path=None, time_format=None,
         time_field=None)
def cmd_datasource_add(cat: Catalog, out, opts, name):
    """dn datasource-add <name> --path=PATH [--backend=file]
    [--data-format=json] [-f FILTER] [--index-path=DIR]
    [--time-format=FMT] [--time-field=FIELD]: add a datasource."""
    cat.datasource_add(DatasourceConfig(name=name, **opts))
    cat.save()


@command("datasource-update", 1, path=None, backend=None, data_format=None,
         filter=None, index_path=None, time_format=None, time_field=None)
def cmd_datasource_update(cat: Catalog, out, opts, name):
    """dn datasource-update <name> [datasource-add's options]: change
    the given fields of a datasource; the others keep their values."""
    old = cat.datasource(name)
    merged = DatasourceConfig(name=name, **{
        k: getattr(old, k) if v is None else v for k, v in opts.items()
    })
    cat.datasource_add(merged, update=True)
    cat.save()


@command("datasource-remove", 1)
def cmd_datasource_remove(cat: Catalog, out, opts, name):
    """dn datasource-remove <name>"""
    cat.datasource_remove(name)
    cat.save()


@command("datasource-list", 0, verbose=False)
def cmd_datasource_list(cat: Catalog, out, opts):
    """dn datasource-list [-v]"""
    out.write("%-20s %-59s\n" % ("DATASOURCE", "LOCATION"))
    for name in cat.datasources:
        _print_datasource(out, name, cat.datasources[name], opts["verbose"])


@command("datasource-show", 1, verbose=False)
def cmd_datasource_show(cat: Catalog, out, opts, name):
    """dn datasource-show [-v] <name>"""
    ds = cat.datasource(name)
    out.write("%-20s %-59s\n" % ("DATASOURCE", "LOCATION"))
    _print_datasource(out, name, ds, opts["verbose"])


@command("metric-add", 2, breakdowns=None, filter=None)
def cmd_metric_add(cat: Catalog, out, opts, dsname, metname):
    """dn metric-add <datasource> <metric> [-b BREAKDOWNS]... [-f FILTER]"""
    from dragnet_spark.fieldspec import parse_breakdowns

    parsed = parse_breakdowns(opts["breakdowns"] or [])
    cat.metric_add(
        MetricConfig(
            name=metname,
            datasource=dsname,
            breakdowns=[{"name": b.name, **b.attrs} for b in parsed],
            filter=opts["filter"],
        )
    )
    cat.save()


@command("metric-remove", 2)
def cmd_metric_remove(cat: Catalog, out, opts, dsname, metname):
    """dn metric-remove <datasource> <metric>"""
    cat.metric_remove(dsname, metname)
    cat.save()


@command("metric-list", 1, verbose=False)
def cmd_metric_list(cat: Catalog, out, opts, dsname):
    """dn metric-list [-v] <datasource>"""
    out.write("%-20s %-20s\n" % ("DATASOURCE", "METRIC"))
    for m in cat.metrics_for(dsname):
        out.write("%-20s %-20s\n" % (m.datasource, m.name))
        if not opts["verbose"]:
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


def _metrics_for_build(cat: Catalog, ds: DatasourceConfig, opts: dict):
    """The metrics an index of ``ds`` at ``--interval`` holds:
    ``--index-config``'s, else the catalog's."""
    from dragnet_spark.index.build import Metric

    if opts["interval"] != "all" and not ds.time_field:
        raise FatalError(
            f'datasource "{ds.name}" has no time field, which '
            f'--interval={opts["interval"]} needs (use --interval=all)'
        )
    if opts["index_config"] is not None:
        with open(opts["index_config"]) as f:
            cfg = json.load(f)
        return [Metric.from_json(m) for m in cfg.get("metrics", [])]
    return [
        Metric.load(m.name, [dict(b) for b in m.breakdowns], m.filter)
        for m in cat.metrics_for(ds.name)
    ]


def _index_root(ds: DatasourceConfig, interval: str) -> str:
    """Per-interval index subtree (reference: by_day/ by_hour/ under
    indexPath, lib/dragnet-impl.js:194-236) — day and hour indexes for
    one datasource coexist; --interval selects at query time."""
    if not ds.index_path:
        raise FatalError(f'datasource "{ds.name}" has no index path configured')
    return os.path.join(ds.index_path, f"by_{interval}")


def _render_result(df, query, opts, out, title):
    from dragnet_spark.output.format import render

    mode = (
        "points" if opts["points"]
        else "raw" if opts["raw"]
        else "gnuplot" if opts["gnuplot"]
        else "table"
    )
    out.write(render(df, query, mode=mode, title=title))


def _counter_line(name: str, label: str, value) -> None:
    lbl = label + ":"
    sys.stderr.write("%-19s%s%s\n" % (name, lbl, str(value).rjust(21 - len(lbl))))


def _print_parser_counters(observations: dict) -> None:
    """The "json parser" block of the counters: every input line, the
    parsed records and their difference as invalid json. Nothing for a
    source without a JSON parse."""
    parser = observations.get("json parser")
    if not parser:
        return
    ninputs = parser.get.get("ninputs", 0)
    nparsed = observations["adapter"].get.get("noutputs", 0)
    _counter_line("json parser", "ninputs", ninputs)
    _counter_line("json parser", "noutputs", nparsed)
    if ninputs > nparsed:
        _counter_line("json parser", "invalid json", ninputs - nparsed)


def _warn_unparseable(observations: dict) -> None:
    """--warnings: the count of input lines the JSON parse dropped."""
    if "json parser" in observations:
        n = (observations["json parser"].get["ninputs"]
             - observations["adapter"].get["noutputs"])
        if n:
            sys.stderr.write("warn: %d unparseable input lines\n" % n)


def _print_counters(observations: dict, noutputs: int) -> None:
    """Per-stage counters to stderr (reference: vsDumpCounters shape,
    'NAME<pad19>label:<right-pad to 21> N'). Observations piggyback on
    the scan's single pass — no extra jobs."""
    _print_parser_counters(observations)
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
            _counter_line("Datetime parser", "baddate", baddate)
        _counter_line("Datetime parser", "ninputs", dt_in)
        _counter_line("Datetime parser", "noutputs", dt_out)
        if undef:
            _counter_line("Datetime parser", "undef", undef)
    tf = observations.get("timefilter")
    if tf is not None and dt_out is not None:
        tf_out = tf.get.get("noutputs", 0)
        if dt_out > tf_out:
            _counter_line("Time filter", "nfilteredout", dt_out - tf_out)
        _counter_line("Time filter", "ninputs", dt_out)
        _counter_line("Time filter", "noutputs", tf_out)
    _counter_line("Aggregator", "noutputs", noutputs)


@command("scan", 1, before=None, after=None, filter=None, breakdowns=None,
         raw=False, points=False, counters=False, warnings=False,
         gnuplot=False, assetroot=None, dry_run=False)
def cmd_scan(cat: Catalog, out, opts, dsname):
    """dn scan <datasource> [-A AFTER] [-B BEFORE] [-f FILTER]
    [-b BREAKDOWNS]... [--raw|--points|--gnuplot] [--counters]
    [--warnings] [-n]: aggregate raw data (bin/dn:869-896); --dry-run
    lists the files the time bounds keep."""
    from dragnet_spark.datasource import list_files, load_datasource, resolve_paths
    from dragnet_spark.scan import scan

    ds = cat.datasource(dsname)
    query = _query_from_opts(opts, ds)

    if opts["dry_run"]:
        out.write("would scan files:\n")
        for f in list_files(resolve_paths(ds, query)):
            out.write("    %s\n" % f)
        return

    spark = _get_spark()
    # --warnings reads the parser counts of the scan's own pass
    want_obs = opts["counters"] or opts["warnings"]
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
    if opts["counters"]:
        _print_counters(observations, len(rows))
    if opts["warnings"]:
        _warn_unparseable(observations)


@command("build", 1, after=None, before=None, counters=False, dry_run=False,
         index_config=None, interval=INTERVALS, warnings=False,
         assetroot=None)
def cmd_build(cat: Catalog, out, opts, dsname):
    """dn build <datasource> [-A AFTER] [-B BEFORE] [-i day|hour|all]
    [--index-config=FILE] [--counters] [--warnings] [-n]: materialize
    index views (bin/dn:640-694); --counters and --warnings report the
    parse counts of the build's one read of the raw data."""
    from dragnet_spark.datasource import load_datasource
    from dragnet_spark.index.build import build_index

    ds = cat.datasource(dsname)
    interval = opts["interval"]
    root = _index_root(ds, interval)
    metrics = _metrics_for_build(cat, ds, opts)
    if not metrics:
        raise FatalError(f'datasource "{dsname}" has no metrics configured')
    query = _query_from_opts(opts, ds)

    if opts["dry_run"]:
        out.write('would build %s index for "%s" (%d metrics)\n'
                  % (interval, dsname, len(metrics)))
        return

    spark = _get_spark()
    observations = {} if opts["counters"] or opts["warnings"] else None
    df, resolver, _vc = load_datasource(
        spark, ds, query, observations=observations
    )
    if df is None:
        raise FatalError("no input files in the requested time range")
    build_index(
        spark, df, metrics, root, interval=interval,
        time_field=ds.time_field, datasource_filter=ds.filter,
        resolver=resolver,
        time_after=query.time_after, time_before=query.time_before,
    )
    if opts["counters"]:
        _print_parser_counters(observations)
    if opts["warnings"]:
        _warn_unparseable(observations)
    sys.stderr.write('indexes for "%s" built\n' % dsname)


@command("query", 1, before=None, after=None, filter=None, breakdowns=None,
         raw=False, points=False, counters=False, interval=INTERVALS,
         gnuplot=False, assetroot=None, dry_run=False)
def cmd_query(cat: Catalog, out, opts, dsname):
    """dn query <datasource> [scan's options] [-i day|hour|all]: answer
    from index views (bin/dn:837-864); --dry-run names the index it
    would read."""
    from dragnet_spark.index.query import NoMetricError, query_index

    ds = cat.datasource(dsname)
    interval = opts["interval"]
    idx = _index_root(ds, interval)
    query = _query_from_opts(opts, ds)
    missing = f'no index found for "{dsname}" (run "dn build {dsname}" first)'
    if not os.path.exists(idx):
        raise FatalError(missing)
    if opts["dry_run"]:
        out.write('would query %s index for "%s"\n' % (interval, dsname))
        return
    spark = _get_spark()
    try:
        res = query_index(spark, idx, query)
    except NoMetricError:
        raise FatalError("no metrics available to serve query")
    except FileNotFoundError:
        raise FatalError(missing)
    _render_result(res, query, opts, out, dsname)


@command("index-config", 1)
def cmd_index_config(cat: Catalog, out, opts, dsname):
    """dn index-config <datasource>: print the effective index
    definition (bin/dn:729-749)."""
    cat.datasource(dsname)
    metrics = [
        {"name": m.name, "filter": m.filter,
         "breakdowns": [dict(b) for b in m.breakdowns]}
        for m in cat.metrics_for(dsname)
    ]
    out.write(json.dumps({"metrics": metrics}, separators=(",", ":")) + "\n")


@command("index-scan", 1, before=None, after=None, counters=False,
         index_config=None, interval=INTERVALS)
def cmd_index_scan(cat: Catalog, out, opts, dsname):
    """dn index-scan <datasource> [-A AFTER] [-B BEFORE]
    [-i day|hour|all] [--index-config=FILE] [--counters]: map phase of a
    distributed build (lib/datasource-manta.js:36-62): emit each
    metric's aggregated points — the aggregate ``dn build`` writes —
    tagged with __dn_metric, ready to pipe into index-read."""
    from dragnet_spark.datasource import load_datasource
    from dragnet_spark.index.build import aggregate_metrics
    from dragnet_spark.output.format import format_points

    ds = cat.datasource(dsname)
    metrics = _metrics_for_build(cat, ds, opts)
    if not metrics:
        raise FatalError(f'datasource "{dsname}" has no metrics configured')
    query = _query_from_opts(opts, ds)
    spark = _get_spark()
    observations = {} if opts["counters"] else None
    df, resolver, _vc = load_datasource(
        spark, ds, query, observations=observations
    )
    if df is None:
        return
    with aggregate_metrics(
        df, metrics, opts["interval"], ds.time_field, ds.filter, resolver,
        query.time_after, query.time_before,
    ) as (_agg, views):
        for i, (_m, keys, res) in enumerate(views):
            rows = [tuple(x) for x in res.collect()]
            for line in format_points(rows, QueryConfig(breakdowns=keys)):
                obj = json.loads(line)
                obj["fields"]["__dn_metric"] = i
                out.write(json.dumps(obj, separators=(",", ":")) + "\n")
    if opts["counters"]:
        _print_parser_counters(observations)


def _point_row(line: str, metrics, interval: str) -> tuple:
    """One index-scan point as a (metric id, key strings, value) row of
    the build's fan-out aggregate, so select_metric restores the typed
    columns; a number's key string is its JSON text. A ValueError says
    what is wrong with the point."""
    from dragnet_spark.index.build import metric_keys

    pt = json.loads(line)
    if not (isinstance(pt, dict) and isinstance(pt.get("fields"), dict)
            and "value" in pt):
        raise ValueError('a point needs "fields" and "value"')
    fields = pt["fields"]
    i = fields.pop("__dn_metric", 0)
    if type(i) is not int or not 0 <= i < len(metrics):
        raise ValueError(
            f"__dn_metric {json.dumps(i)} is not one of {len(metrics)} metrics"
        )
    if type(pt["value"]) is not int:
        raise ValueError(f'value {json.dumps(pt["value"])} is not an integer')
    keys = []
    for b in metric_keys(metrics[i], interval):
        if b.name not in fields:
            raise ValueError(f'missing breakdown "{b.name}"')
        k = fields[b.name]
        keys.append(k if isinstance(k, str) else json.dumps(k))
    return i, keys, pt["value"]


@command("index-read", 1, index_config=None, interval=INTERVALS)
def cmd_index_read(cat: Catalog, out, opts, dsname):
    """dn index-read <datasource> [-i day|hour|all]
    [--index-config=FILE] < POINTS: reduce phase of a distributed build
    (lib/datasource-file.js:729-746): read index-scan's tagged points
    from stdin and write them as the index views, with the build's
    bucket-clustered, concurrent writer (only the buckets the points
    hold are replaced). Every
    metric gets its view, as in ``dn build``: a metric without points
    gets an empty one, which at a day or hour interval replaces no
    bucket."""
    from dragnet_spark.index.build import (
        clustered,
        metric_keys,
        select_metric,
        write_index_meta,
        write_views,
    )

    ds = cat.datasource(dsname)
    interval = opts["interval"]
    root = _index_root(ds, interval)
    metrics = _metrics_for_build(cat, ds, opts)
    rows = []  # every line is checked before any view is written
    for n, line in enumerate(sys.stdin, 1):
        if not line.strip():
            continue
        try:
            rows.append(_point_row(line, metrics, interval))
        except json.JSONDecodeError as e:
            raise FatalError(f"index-read: line {n}: invalid JSON: {e.msg}")
        except ValueError as e:
            raise FatalError(f"index-read: line {n}: {e}")
    spark = _get_spark()
    points = spark.createDataFrame(rows, "__m int, __k array<string>, value long")
    with clustered(points, interval) as agg:
        views = []
        for i, m in enumerate(metrics):
            keys = metric_keys(m, interval)
            views.append((m, keys, select_metric(agg, i, keys)))
        write_views(spark, agg, views, root, interval)
    write_index_meta(root, metrics, interval, ds.time_field, ds.filter)


@command("compact", 1, interval=INTERVALS, dry_run=False)
def cmd_compact(cat: Catalog, out, opts, dsname):
    """dn compact <datasource> [--interval=day]: re-aggregate a view
    tree that accumulated appended partials (continuous builds) down to
    one row per group — answers unchanged, file count bounded. Stop
    any continuous build writing this tree first (overwrite-based
    maintenance is not concurrent-writer safe)."""
    from dragnet_spark.index.build import compact_index

    ds = cat.datasource(dsname)
    interval = opts["interval"]
    root = _index_root(ds, interval)
    if not os.path.isdir(root):
        raise FatalError(f"no {interval} index at {root}")
    if opts["dry_run"]:
        out.write('would compact %s index for "%s"\n' % (interval, dsname))
        return
    compact_index(_get_spark(), root)
    out.write('compacted %s index for "%s"\n' % (interval, dsname))


@command("vindex-build", 1, out=REQUIRED, centroids=16, quantize=False,
         id_field="vec_id", vec_field="embedding", target_rows_per_cell=int)
def cmd_vindex_build(cat: Catalog, out, opts, src):
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

    spark = _get_spark()
    meta = build_vector_index(
        spark,
        spark.read.parquet(src),
        opts["out"],
        id_col=opts["id_field"],
        vec_col=opts["vec_field"],
        n_centroids=opts["centroids"],
        quantize=opts["quantize"],
        target_rows_per_cell=opts["target_rows_per_cell"],
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


@command("vindex-append", 1, out=REQUIRED)
def cmd_vindex_append(cat: Catalog, out, opts, src):
    """dn vindex-append <embeddings.parquet> --out=PATH: append a
    batch into an existing vector index against its PERSISTED
    centroids (index/vector.append_vector_index) — continuous ingest
    without a rebuild; recenter when cell skew passes the documented
    trigger."""
    from dragnet_spark.index.vector import append_vector_index

    spark = _get_spark()
    append_vector_index(spark, spark.read.parquet(src), opts["out"])
    out.write("appended into vector index at %s\n" % opts["out"])


@command("vindex-query", 1, queries=REQUIRED, k=5, probe=4,
         id_field="vec_id", vec_field="embedding")
def cmd_vindex_query(cat: Catalog, out, opts, idx):
    """dn vindex-query <index-path> --queries=<parquet> [--k=5]
    [--probe=4] [--id-field=vec_id] [--vec-field=embedding]: top-k
    neighbors from the materialized index as NDJSON lines (the
    points-emitter convention)."""
    from dragnet_spark.index.vector import query_vector_index

    spark = _get_spark()
    res = query_vector_index(
        spark,
        idx,
        spark.read.parquet(opts["queries"]),
        k=opts["k"],
        n_probe=opts["probe"],
        id_col=opts["id_field"],
        vec_col=opts["vec_field"],
    )
    # presentation-layer collect: the final top-k result only
    for line in res.orderBy("query_id", "rank").toJSON().collect():
        out.write(line + "\n")


def _print_probe(out, res, cols, flag: str, summary: str) -> None:
    """A store probe's result as NDJSON, ordered by ``cols[0]``: the
    ``cols`` then ``flag`` as a bool; then ``summary`` filled with the
    flagged and total row counts."""
    rows = res.orderBy(cols[0]).collect()  # presentation-layer: final result only
    for r in rows:
        rec = {c: r[c] for c in cols}
        rec[flag] = bool(r[flag])
        out.write(json.dumps(rec) + "\n")
    out.write(summary % (sum(1 for r in rows if r[flag]), len(rows)))


@command("fp-build", 1, out=REQUIRED, id_field="doc_id", text_field="text")
def cmd_fp_build(cat: Catalog, out, opts, src):
    """dn fp-build <docs.parquet> --out=PATH [--id-field=doc_id]
    [--text-field=text]: materialize the fingerprint store
    (beyond-reference; index/fingerprints.py) for incremental-ingest
    dedup."""
    from dragnet_spark.index.fingerprints import build_fingerprint_store

    spark = _get_spark()
    build_fingerprint_store(
        spark,
        spark.read.parquet(src),
        opts["out"],
        text_col=opts["text_field"],
        id_col=opts["id_field"],
    )
    out.write("built fingerprint store at %s\n" % opts["out"])


@command("fp-probe", 1, queries=REQUIRED, id_field="doc_id",
         text_field="text")
def cmd_fp_probe(cat: Catalog, out, opts, store):
    """dn fp-probe <store-path> --queries=<parquet>
    [--id-field=doc_id] [--text-field=text]: probe an arriving batch
    against the store; prints per-doc NDJSON (doc_id, dup_of,
    is_duplicate) and a summary line."""
    from dragnet_spark.index.fingerprints import probe_new_documents

    spark = _get_spark()
    res = probe_new_documents(
        spark,
        store,
        spark.read.parquet(opts["queries"]),
        text_col=opts["text_field"],
        id_col=opts["id_field"],
    )
    _print_probe(out, res, ("doc_id", "dup_of"), "is_duplicate",
                 "%d of %d already ingested\n")


@command("fp-compact", 1)
def cmd_fp_compact(cat: Catalog, out, opts, store):
    """dn fp-compact <store-path>: compact the fingerprint store —
    collapse each fingerprint to its minimum doc_id, one file per
    bucket (answer-preserving; pause appenders first)."""
    from dragnet_spark.index.fingerprints import compact_fingerprint_store

    compact_fingerprint_store(_get_spark(), store)
    out.write("compacted fingerprint store at %s\n" % store)


@command("band-build", 1, out=REQUIRED, hashes=16, bands=8,
         id_field="doc_id", text_field="text")
def cmd_band_build(cat: Catalog, out, opts, src):
    """dn band-build <docs.parquet> --out=PATH [--hashes=16]
    [--bands=8] [--id-field=doc_id] [--text-field=text]: materialize
    the minhash band store (in-stream near-dedup;
    index/fingerprints.build_band_store)."""
    from dragnet_spark.index.fingerprints import build_band_store

    spark = _get_spark()
    meta = build_band_store(
        spark,
        spark.read.parquet(src),
        opts["out"],
        text_col=opts["text_field"],
        id_col=opts["id_field"],
        num_hashes=opts["hashes"],
        bands=opts["bands"],
    )
    out.write(
        "built band store: %d hashes x %d bands at %s\n"
        % (meta["num_hashes"], meta["bands"], opts["out"])
    )


@command("band-probe", 1, queries=REQUIRED)
def cmd_band_probe(cat: Catalog, out, opts, store):
    """dn band-probe <store-path> --queries=<parquet>: probe an
    arriving batch for NEAR-duplicates of the stored corpus; prints
    per-doc NDJSON (doc_id, n_band_hits, dup_of, is_near_duplicate)
    and a summary line."""
    from dragnet_spark.index.fingerprints import probe_near_duplicates

    spark = _get_spark()
    res = probe_near_duplicates(
        spark, store, spark.read.parquet(opts["queries"])
    )
    _print_probe(out, res, ("doc_id", "n_band_hits", "dup_of"),
                 "is_near_duplicate", "%d of %d near-duplicate the corpus\n")


@command("band-append", 1, docs=REQUIRED)
def cmd_band_append(cat: Catalog, out, opts, store):
    """dn band-append <store-path> --docs=<parquet>: append a new
    batch's band keys with the store's PERSISTED banding params —
    the ingest-loop step that pays the signature stage exactly once
    per document, making later `dn band-pairs` runs store-amortized
    (the srp-append twin for token-level near-dup)."""
    from dragnet_spark.index.fingerprints import append_band_keys

    spark = _get_spark()
    append_band_keys(spark, spark.read.parquet(opts["docs"]), store)
    out.write("appended band keys into %s\n" % store)


@command("band-compact", 1)
def cmd_band_compact(cat: Catalog, out, opts, store):
    """dn band-compact <store-path>: compact the band store to
    distinct (band, bhash, doc_id) rows, one file per band."""
    from dragnet_spark.index.fingerprints import compact_band_store

    compact_band_store(_get_spark(), store)
    out.write("compacted band store at %s\n" % store)


@command("srp-build", 1, out=REQUIRED, bands=8, bits="16", seed=42,
         dims=int, no_pair_keys=False, id_field="vec_id",
         vec_field="embedding")
def cmd_srp_build(cat: Catalog, out, opts, src):
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

    bits = opts["bits"]
    if bits != "auto":
        bits = _value("bits", int, bits)
    bands, seed, dims = opts["bands"], opts["seed"], opts["dims"]
    vec_col = opts["vec_field"]
    spark = _get_spark()
    df = spark.read.parquet(src)
    kwargs = {}
    if bits == "auto":
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
    meta = build_srp_store(
        spark,
        df,
        opts["out"],
        vec_col=vec_col,
        id_col=opts["id_field"],
        bands=bands,
        bits_per_band=bits,
        seed=seed,
        dims=dims,
        with_pairs=not opts["no_pair_keys"],
        **kwargs,
    )
    out.write(
        "built SRP store: %d bands x %d bits (%d dims) at %s\n"
        % (meta["bands"], meta["bits_per_band"], meta["dims"], opts["out"])
    )


@command("srp-append", 1, vectors=REQUIRED)
def cmd_srp_append(cat: Catalog, out, opts, store):
    """dn srp-append <store-path> --vectors=<parquet>: append a new
    batch's band keys with the store's PERSISTED planes."""
    from dragnet_spark.index.fingerprints import append_srp_keys

    spark = _get_spark()
    append_srp_keys(spark, spark.read.parquet(opts["vectors"]), store)
    out.write("appended SRP band keys into %s\n" % store)


@command("srp-probe", 1, queries=REQUIRED, min_band_hits=1)
def cmd_srp_probe(cat: Catalog, out, opts, store):
    """dn srp-probe <store-path> --queries=<parquet>
    [--min-band-hits=1]: probe an arriving embedding batch for
    SEMANTIC near-duplicates of the stored corpus; prints per-vector
    NDJSON (vec_id, n_band_hits, dup_of, is_near_duplicate) and a
    summary line."""
    from dragnet_spark.index.fingerprints import probe_srp_near_duplicates

    spark = _get_spark()
    res = probe_srp_near_duplicates(
        spark,
        store,
        spark.read.parquet(opts["queries"]),
        min_band_hits=opts["min_band_hits"],
    )
    _print_probe(out, res, ("vec_id", "n_band_hits", "dup_of"),
                 "is_near_duplicate", "%d of %d near-duplicate the corpus\n")


def _write_or_print_pairs(spark, out, pairs, sink, score_col: str,
                          what: str) -> None:
    """A one-shot pair discovery's result: written to ``sink`` as
    parquet when given, else printed as (id_a, id_b, score) NDJSON
    rows (small runs); then the ``N <what>`` summary line."""
    if sink:
        pairs.write.mode("overwrite").parquet(sink)
        n = spark.read.parquet(sink).count()
        out.write("%d %s at %s\n" % (n, what, sink))
        return
    rows = pairs.orderBy("id_a", "id_b").collect()  # presentation-layer
    for r in rows:
        out.write(json.dumps({c: r[c] for c in ("id_a", "id_b", score_col)})
                  + "\n")
    out.write("%d %s\n" % (len(rows), what))


def _run_candidates_only(fn, store: str, opts: dict, out) -> None:
    """Shared --candidates-only body for band-pairs / srp-pairs: the
    bounded collision-join stage alone. The deduplicated candidate
    set is materialized at OUT/pairs (the library collapses
    cross-band duplicates into the sink, so the printed count IS the
    sink's row count); OUT also holds the resume manifest."""
    if not opts["out"]:
        raise UsageError('"--candidates-only" requires "--out"')
    slices = opts["slices"]
    spark = _get_spark()
    n = fn(spark, store, opts["out"], slices=slices).count()
    out.write(
        "%d candidate pairs at %s/pairs (bounded discovery, %d slices; "
        "unverified — run verify where the corpus lives)\n"
        % (n, opts["out"], slices)
    )


@command("band-pairs", 1, docs=None, threshold=0.8, out=None, bounded=False,
         slices=8, candidates_only=False)
def cmd_band_pairs(cat: Catalog, out, opts, store):
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

    if opts["candidates_only"]:
        _run_candidates_only(band_store_candidates_bounded, store, opts, out)
        return
    if opts["docs"] is None:
        raise _missing("docs")
    if opts["bounded"] and not opts["out"]:
        raise UsageError('"--bounded" requires "--out"')
    thr = opts["threshold"]
    spark = _get_spark()
    docs = spark.read.parquet(opts["docs"])
    if opts["bounded"]:
        slices = opts["slices"]
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
    _write_or_print_pairs(spark, out, pairs, opts["out"], "jaccard",
                          "near-duplicate pairs (jaccard >= %g)" % thr)


@command("srp-pairs", 1, vectors=None, threshold=0.9, out=None,
         mode=("oneshot", "sliced", "bucket"), slices=8,
         candidates_only=False)
def cmd_srp_pairs(cat: Catalog, out, opts, store):
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

    if opts["candidates_only"]:
        _run_candidates_only(srp_store_candidates_bounded, store, opts, out)
        return
    if opts["vectors"] is None:
        raise _missing("vectors")
    mode = opts["mode"]
    if mode != "oneshot" and not opts["out"]:
        raise UsageError(f'mode "{mode}" requires "--out"')
    thr = opts["threshold"]
    spark = _get_spark()
    vecs = spark.read.parquet(opts["vectors"])
    if mode == "oneshot":
        pairs = srp_store_pairs(spark, store, vecs, threshold=thr)
        _write_or_print_pairs(
            spark, out, pairs, opts["out"], "cosine",
            "semantic near-duplicate pairs (cosine >= %g)" % thr,
        )
        return
    if mode == "sliced":
        slices = opts["slices"]
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


@command("srp-compact", 1)
def cmd_srp_compact(cat: Catalog, out, opts, store):
    """dn srp-compact <store-path>: compact the SRP store (band and
    band-pair keys) to distinct rows, one file per slice."""
    from dragnet_spark.index.fingerprints import compact_srp_store

    compact_srp_store(_get_spark(), store)
    out.write("compacted SRP store at %s\n" % store)


@command("vindex-compact", 1)
def cmd_vindex_compact(cat: Catalog, out, opts, idx):
    """dn vindex-compact <index-path>: rewrite each cell to one file
    after appends (assignments/centroids untouched)."""
    from dragnet_spark.index.vector import compact_vector_index

    compact_vector_index(_get_spark(), idx)
    out.write("compacted vector index at %s\n" % idx)


@command("vindex-stats", 1)
def cmd_vindex_stats(cat: Catalog, out, opts, idx):
    """dn vindex-stats <index-path>: cell-population stats and the
    recenter recommendation — the operational readout behind the
    documented ~4x max/mean skew trigger."""
    from dragnet_spark.index.vector import (
        load_vector_index_meta,
        vector_index_cell_stats,
    )

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


@command("vindex-ingest", 1, stream_dir=REQUIRED, checkpoint=REQUIRED,
         no_recenter=False)
def cmd_vindex_ingest(cat: Catalog, out, opts, idx):
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
        recenter_trigger=None if opts["no_recenter"] else 4.0,
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


@command("vindex-recenter", 1, centroids=int)
def cmd_vindex_recenter(cat: Catalog, out, opts, idx):
    """dn vindex-recenter <index-path> [--centroids=N]: retrain
    centroids on the current store contents and rebuild in place —
    the recenter action for a drift-skewed index."""
    from dragnet_spark.index.vector import recenter_vector_index

    meta = recenter_vector_index(
        _get_spark(), idx, n_centroids=opts["centroids"]
    )
    out.write(
        "recentered vector index: %d cells at %s\n"
        % (meta["n_centroids"], idx)
    )


@command("sink-compact", 1, min_batches=2, keep_last=0, order_by=None)
def cmd_sink_compact(cat: Catalog, out, opts, sink):
    """dn sink-compact <sink-path> [--min-batches=2] [--keep-last=0]
    [--order-by=COL]: fold the curated sink's committed-and-ledgered
    ``__dn_batch`` directories into a consolidated base segment
    (negative batch id; readers keep working). Only provably-folded
    batches move; the swap holds the governing store's lease, so it
    is safe against a live ingest stream. --order-by clusters the
    segment on a column so parquet min/max stats prune probes
    (streaming/sink.py)."""
    from dragnet_spark.streaming.sink import compact_sink

    report = compact_sink(
        _get_spark(),
        sink,
        min_batches=opts["min_batches"],
        keep_last=opts["keep_last"],
        order_by=opts["order_by"],
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


@command("lm-build", 1, out=REQUIRED, text_field="text", min_count=2,
         lam_pct=80)
def cmd_lm_build(cat: Catalog, out, opts, src):
    """dn lm-build <docs.parquet> --out=PATH [--text-field=text]
    [--min-count=2] [--lam-pct=80]: freeze the reference corpus's
    interpolated bigram-LM counts into an LM store (index/lm.py) for
    ingest gating — the judged data must never shift the judge."""
    from dragnet_spark.index.lm import build_lm_store

    spark = _get_spark()
    meta = build_lm_store(
        spark,
        spark.read.parquet(src),
        opts["out"],
        text_col=opts["text_field"],
        min_count=opts["min_count"],
        lam_pct=opts["lam_pct"],
    )
    out.write(
        "built LM store at %s: %d tokens, %d vocab, bigrams c2>=%d\n"
        % (opts["out"], meta["total_tokens"], meta["vocab_size"],
           meta["min_count"])
    )


def _print_kept(out, docs, kept, id_col: str) -> None:
    """A gate's kept ids as NDJSON, then ``kept N of M docs``."""
    n_in, n_out = docs.count(), kept.count()
    for r in kept.select(id_col).collect():
        out.write(json.dumps({id_col: r[id_col]}) + "\n")
    out.write("kept %d of %d docs\n" % (n_out, n_in))


def _print_records(out, df, summary: str) -> None:
    """Each row of ``df`` as NDJSON, then ``summary`` filled with the
    row count."""
    rows = df.collect()
    for r in rows:
        out.write(json.dumps(r.asDict()) + "\n")
    out.write(summary % len(rows))


@command("lm-score", 1, docs=REQUIRED, id_field="doc_id", text_field="text",
         min_mean_logp=float)
def cmd_lm_score(cat: Catalog, out, opts, lm):
    """dn lm-score <lm-path> --docs=<parquet> [--id-field=doc_id]
    [--text-field=text] [--min-mean-logp=X]: score (or, with the
    threshold, gate) a batch under the frozen reference LM; prints
    per-doc NDJSON and a summary line."""
    from dragnet_spark.index.lm import lm_gate, score_against_lm_store

    spark = _get_spark()
    docs = spark.read.parquet(opts["docs"])
    idc, txt = opts["id_field"], opts["text_field"]
    if opts["min_mean_logp"] is not None:
        kept = lm_gate(
            spark, lm, docs, opts["min_mean_logp"],
            text_col=txt, id_col=idc,
        )
        _print_kept(out, docs, kept, idc)
        return
    _print_records(out, score_against_lm_store(
        spark, lm, docs, text_col=txt, id_col=idc
    ), "scored %d docs\n")


@command("bloom-build", 1, out=REQUIRED, text_field="text", gram_n=8,
         m_bits=1 << 20, k=5, src_field=None)
def cmd_bloom_build(cat: Catalog, out, opts, src):
    """dn bloom-build <bench.parquet> --out=PATH [--text-field=text]
    [--gram-n=8] [--m-bits=1048576] [--k=5] [--src-field=COL]: freeze
    the benchmark corpus's distinct gram hashes into a Bloom store
    (index/bloom.py) for ingest decontamination — bitset broadcast
    screens every arriving gram, only candidates touch the exact
    gram table. With --src-field the gram table carries which
    benchmark each gram belongs to (enables bloom-gate --attribute)."""
    from dragnet_spark.index.bloom import build_bloom_store

    spark = _get_spark()
    meta = build_bloom_store(
        spark,
        spark.read.parquet(src),
        opts["out"],
        text_col=opts["text_field"],
        gram_n=opts["gram_n"],
        m_bits=opts["m_bits"],
        k=opts["k"],
        src_col=opts["src_field"],
    )
    out.write(
        "built bloom store at %s: %d grams (n=%d), m=%d bits, k=%d%s\n"
        % (opts["out"], meta["n_grams"], meta["gram_n"], meta["m_bits"],
           meta["k"],
           ", with src attribution" if meta["src_attribution"] else "")
    )


@command("bloom-gate", 1, docs=REQUIRED, id_field="doc_id",
         text_field="text", max_hit_frac=float, attribute=False)
def cmd_bloom_gate(cat: Catalog, out, opts, store):
    """dn bloom-gate <store-path> --docs=<parquet> [--id-field=doc_id]
    [--text-field=text] [--max-hit-frac=X] [--attribute]: score a
    batch against the frozen benchmark gram store; with
    --max-hit-frac, print the kept doc ids (the gate); with
    --attribute, print per-(doc, benchmark) leak tallies (requires a
    store built with --src-field); else per-doc NDJSON overlap
    reports."""
    from dragnet_spark.index.bloom import (
        attribute_against_bloom_store,
        decontam_gate,
        score_against_bloom_store,
    )

    spark = _get_spark()
    docs = spark.read.parquet(opts["docs"])
    idc, txt = opts["id_field"], opts["text_field"]
    if opts["attribute"]:
        _print_records(out, attribute_against_bloom_store(
            spark, store, docs, text_col=txt, id_col=idc
        ), "attributed %d (doc, benchmark) leaks\n")
        return
    if opts["max_hit_frac"] is not None:
        kept = decontam_gate(
            spark, store, docs, opts["max_hit_frac"],
            text_col=txt, id_col=idc,
        )
        _print_kept(out, docs, kept, idc)
        return
    _print_records(out, score_against_bloom_store(
        spark, store, docs, text_col=txt, id_col=idc
    ), "scored %d docs\n")


@command("profile", 1, format="parquet")
def cmd_profile(cat: Catalog, out, opts, path):
    """dn profile <path> [--format=parquet]: one-scan per-column
    profile of a table — null counts, exact distincts, numeric/time
    ranges (epoch micros), string ranges. Single pass regardless of
    column count (ops/profile.py); the collect is one row per column."""
    from dragnet_spark.ops.profile import profile_table

    df = _get_spark().read.format(opts["format"]).load(path)
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


@command("maintain", 1, dry_run=False, max_files=4)
def cmd_maintain(cat: Catalog, out, opts, root):
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

    plan = run_maintenance(
        _get_spark(),
        root,
        dry_run=opts["dry_run"],
        max_files=opts["max_files"],
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
        verb = "would run" if opts["dry_run"] else "ran"
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


@command("semdedup", 1, k=8, target_rows=int, iterations=3, threshold=0.9,
         id_col="vec_id", vec_col="embedding", format="parquet", out=None,
         two_level=False)
def cmd_semdedup(cat: Catalog, out, opts, path):
    """dn semdedup <vectors> [--k=8 | --target-rows=N] [--iterations=3]
    [--threshold=0.9] [--id-col=vec_id] [--vec-col=embedding]
    [--format=parquet] [--out=PATH]: SemDeDup semantic dedup — exact
    fixed-point k-means over the embedding column, then near-dup
    pair search restricted to cluster mates (ops/kmeans.py).
    --target-rows picks k automatically as ceil(n/target) — the
    paper's k ∝ n regime, keeping cluster size (and the pair stage)
    bounded as the corpus grows; prefer it over --k for any corpus
    whose size you don't control. It SELF-SIZES the assignment too
    (ops/kmeans.semdedup_prune_fused, mode "auto"): flat Lloyd below
    k=1024, the hierarchical two-level form above it — the n·√k
    posture past ~10⁶ vectors that retired the 1000×-tier assignment
    wall. --two-level forces the hierarchical form at any size (uses
    --target-rows, default 250). Prints cluster sizes and the
    pairs found; --out writes the SURVIVOR ids (corpus minus every
    dropped_id) as parquet."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.kmeans import semdedup_prune_fused

    target, thr = opts["target_rows"], opts["threshold"]
    id_col = opts["id_col"]
    if opts["two_level"]:
        sizing = dict(
            mode="two_level",
            target_rows_per_cluster=250 if target is None else target,
        )
    elif target is not None:
        sizing = dict(target_rows_per_cluster=target)
    else:
        sizing = dict(k=opts["k"])
    df = _get_spark().read.format(opts["format"]).load(path)
    pairs, sizes = semdedup_prune_fused(
        df, vec_col=opts["vec_col"], id_col=id_col,
        iterations=opts["iterations"], threshold=thr, **sizing,
    )
    # one pass computes the pairs and fills the sizes; the counts and
    # the survivors write read the checkpoint
    pairs = pairs.localCheckpoint(eager=True)
    sizes = sorted(sizes().items())
    out.write(
        "k-means: %d vectors -> %d clusters (sizes %s)\n"
        % (sum(n for _, n in sizes), len(sizes), ",".join(str(n) for _, n in sizes))
    )
    dropped = pairs.select(F.col("dropped_id").alias("id")).distinct()
    n_pairs = pairs.count()
    n_drop = dropped.count()
    out.write(
        "semdedup: %d within-cluster pairs >= %.2f, %d docs dropped\n"
        % (n_pairs, thr, n_drop)
    )
    if opts["out"]:
        survivors = (
            df.select(F.col(id_col).cast("long").alias("id"))
            .join(dropped, "id", "left_anti")
            .select(F.col("id").alias(id_col))
        )
        survivors.write.mode("error").parquet(opts["out"])
        out.write("survivors -> %s\n" % opts["out"])


@command("graph", 1, op=None, seeds=None, iterations=4, id_a="id_a",
         id_b="id_b", format="parquet", out=None, top=20)
def cmd_graph(cat: Catalog, out, opts, path):
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
        triangle_counts,
    )

    op = opts["op"]
    if op not in ("pagerank", "trustrank", "triangles", "clustering",
                  "components"):
        raise UsageError(
            "--op must be pagerank|trustrank|triangles|clustering|components"
        )
    if op == "trustrank" and not opts["seeds"]:
        raise UsageError("--op=trustrank requires --seeds=PATH")
    ia, ib, iters = opts["id_a"], opts["id_b"], opts["iterations"]
    spark = _get_spark()
    pairs = spark.read.format(opts["format"]).load(path)
    nodes = (
        pairs.select(F.col(ia).alias("id"))
        .unionByName(pairs.select(F.col(ib).alias("id")))
        .distinct()
    )
    if op in ("pagerank", "trustrank"):
        # trustrank is pagerank with the restart at the --seeds ids
        seeds = None
        if op == "trustrank":
            seeds = spark.read.parquet(opts["seeds"])
            seeds = seeds.select(F.col(seeds.columns[0]).alias("id"))
        res = pagerank(nodes, pairs, seeds, src_col=ia, dst_col=ib,
                       iterations=iters).withColumnRenamed("pagerank", op)
        score = op
    elif op == "triangles":
        res = triangle_counts(pairs, ia, ib, include_zero_nodes=True)
        score = "n_triangles"
    elif op == "clustering":
        res = clustering_coefficients(pairs, ia, ib)
        score = "clustering"
    else:
        res = connected_components(nodes, pairs, src_col=ia, dst_col=ib)
        score = "component"
    rows = res.orderBy(F.desc(score), "id").limit(opts["top"]).collect()
    cols = res.columns
    out.write("  ".join(cols) + "\n")
    for r in rows:
        out.write("  ".join(str(r[c]) for c in cols) + "\n")
    if opts["out"]:
        res.write.mode("error").parquet(opts["out"])
        out.write("%s -> %s\n" % (op, opts["out"]))


@command("distinct", 1, col=REQUIRED, group_by=None, k=256, exact=False,
         format="parquet")
def cmd_distinct(cat: Catalog, out, opts, path):
    """dn distinct <path> --col=C [--group-by=G] [--k=256] [--exact]
    [--format=parquet]: KMV bottom-k estimate of COUNT(DISTINCT C),
    optionally per group (ops/sketch.py — deterministic md5 order
    statistics, exact below k distinct values). --exact adds the true
    count next to the estimate (full distinct shuffle — the cost the
    sketch exists to avoid)."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.sketch import kmv_distinct

    col, grp = opts["col"], opts["group_by"]
    spark = _get_spark()
    df = spark.read.format(opts["format"]).load(path)
    gcols = [grp] if grp else ["__g"]
    if not grp:
        df = df.withColumn("__g", F.lit("all"))
    est = kmv_distinct(df, col, gcols, k=opts["k"])
    if opts["exact"]:
        exact = df.groupBy(*gcols).agg(
            F.countDistinct(col).alias("exact_distinct")
        )
        est = est.join(exact, gcols)
    rows = est.orderBy(gcols[0]).collect()
    hdr = "%-24s %14s" % (grp or "group", "est_distinct")
    if opts["exact"]:
        hdr += " %14s" % "exact_distinct"
    out.write(hdr + "\n")
    for r in rows:
        line = "%-24s %14d" % (r[gcols[0]], r["est_distinct"])
        if opts["exact"]:
            line += " %14d" % r["exact_distinct"]
        out.write(line + "\n")


@command("media-probe", 1, glob=None, verbose=False)
def cmd_media_probe(cat: Catalog, out, opts, path):
    """dn media-probe <dir> [--glob=*.png] [--verbose]: ingest a
    media directory via the binaryFile source (sources/media.py) and
    run the header-only metadata probe — detected format, dimensions,
    duration, and the declared-vs-detected mismatch flag. Prints a
    per-format rollup; --verbose lists every mismatched file."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.multimodal import probe_media_metadata
    from dragnet_spark.sources.media import read_media_dir

    spark = _get_spark()
    media = read_media_dir(spark, path, glob=opts["glob"])
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
    if opts["verbose"]:
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


@command("comp-build", 1, out=REQUIRED, ids=None, id_a="id_a", id_b="id_b",
         format="parquet")
def cmd_comp_build(cat: Catalog, out, opts, path):
    """dn comp-build <pairs> --out=STORE [--ids=PATH] [--id-a=id_a]
    [--id-b=id_b] [--format=parquet]: materialize an incremental
    connected-components store (index/components.py) from an
    undirected pair table — the dedup-cluster assignment a live
    pipeline maintains with dn comp-merge instead of recomputing the
    graph per batch. --ids supplies the full node set (parquet, first
    column); default is the pair endpoints."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.components import build_components_store

    ia, ib = opts["id_a"], opts["id_b"]
    spark = _get_spark()
    pairs = spark.read.format(opts["format"]).load(path)
    pairs = pairs.select(F.col(ia).alias("id_a"), F.col(ib).alias("id_b"))
    if opts["ids"]:
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


@command("comp-merge", 1, data=REQUIRED, id_a="id_a", id_b="id_b",
         format="parquet")
def cmd_comp_merge(cat: Catalog, out, opts, store):
    """dn comp-merge <store> --data=PAIRS [--id-a=id_a] [--id-b=id_b]
    [--format=parquet]: fold one arriving batch of pairs into the
    store — work proportional to the batch (endpoint resolve +
    quotient-graph closure), never a full-corpus recompute."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.components import merge_components_batch

    ia, ib = opts["id_a"], opts["id_b"]
    spark = _get_spark()
    pairs = spark.read.format(opts["format"]).load(opts["data"])
    pairs = pairs.select(F.col(ia).alias("id_a"), F.col(ib).alias("id_b"))
    merge_components_batch(spark, pairs, store)
    out.write("folded %s into %s\n" % (opts["data"], store))


@command("comp-read", 1, out=None, top=20)
def cmd_comp_read(cat: Catalog, out, opts, store):
    """dn comp-read <store> [--out=PATH] [--top=20]: current (id,
    component) assignment with redirects applied; --out writes the
    full table as parquet."""
    from dragnet_spark.index.components import components_store_read

    spark = _get_spark()
    res = components_store_read(spark, store)
    for r in res.orderBy("component", "id").limit(opts["top"]).collect():
        out.write("%d  %d\n" % (r["id"], r["component"]))
    if opts["out"]:
        res.write.mode("error").parquet(opts["out"])
        out.write("assignment -> %s\n" % opts["out"])


@command("kmv-build", 1, col=REQUIRED, group_by=None, k=256, out=REQUIRED,
         format="parquet")
def cmd_kmv_build(cat: Catalog, out, opts, path):
    """dn kmv-build <data> --col=C --out=STORE [--group-by=G]
    [--k=256] [--format=parquet]: materialize a bottom-k KMV
    cardinality sketch (index/kmv.py) — O(groups·k) state a live
    pipeline folds every batch into with dn kmv-merge."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.kmv import build_kmv_store

    spark = _get_spark()
    df = spark.read.format(opts["format"]).load(path)
    grp = opts["group_by"]
    gcols = [grp] if grp else ["__g"]
    if not grp:
        df = df.withColumn("__g", F.lit("all"))
    build_kmv_store(spark, df, opts["out"], opts["col"], gcols, k=opts["k"])
    out.write("built KMV sketch (k=%d) at %s\n" % (opts["k"], opts["out"]))
    _kmv_print_estimates(spark, opts["out"], out)


@command("kmv-merge", 1, data=REQUIRED, format="parquet")
def cmd_kmv_merge(cat: Catalog, out, opts, store):
    """dn kmv-merge <store> --data=BATCH [--format=parquet]: fold one
    arriving batch into the sketch (lease-guarded stage-then-swap;
    bit-identical to rebuilding over everything ingested so far)."""
    from pyspark.sql import functions as F

    from dragnet_spark.index.kmv import load_kmv_meta, merge_kmv_batch

    spark = _get_spark()
    df = spark.read.format(opts["format"]).load(opts["data"])
    if load_kmv_meta(store)["group_cols"] == ["__g"]:
        df = df.withColumn("__g", F.lit("all"))
    merge_kmv_batch(spark, df, store)
    out.write("merged %s into %s\n" % (opts["data"], store))
    _kmv_print_estimates(spark, store, out)


@command("kmv-est", 1)
def cmd_kmv_est(cat: Catalog, out, opts, store):
    """dn kmv-est <store>: print the per-group distinct estimates the
    persisted sketch implies — no corpus scan."""
    _kmv_print_estimates(_get_spark(), store, out)


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
    fn, nargs, spec = COMMANDS[cmdname]
    try:
        args, opts = _parse_args(rest, nargs, spec)
        fn(cat, out, opts, *args)
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
