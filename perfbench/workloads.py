"""The benchmark's workloads: inputs, calls, answer checks, and the
untraced and traced way to run each call.

Untraced calls go through the public entry points a user runs:
``cli.main(argv, out=..., config_path=...)`` for ``dn scan`` / ``dn
build`` / ``dn query``. Traced calls make the same calls into each
layer that the CLI command makes, one span per layer, so the spans
come from these files and not from inside the program.

Every workload is a closed loop with one client: the next call starts
after the previous one has rendered. After a few untimed warm-up calls
the loop runs whole rounds until ``seconds`` have passed and at least
``min_rounds`` rounds are done; a round is

* ``ndjson_scan``: the canonical scan mix over the whole tree (the
  round's batch) and twelve windowed scans (1 hour, 1 day, 3 days;
  with and without an hourly breakdown; starting at midnight and not)
  at seeded days (its calls), in a seeded order;
* ``index_build_query``: one ``dn build`` (the batch) then eight
  seeded ``dn query`` calls (its calls).

A traced ``index_build_query`` run also probes the job-heavy registry
entries once each, through ``registry.REGISTRY[name].spark``.
"""

from __future__ import annotations

import io
import json
import math
import os
import random
import shutil
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime, timezone
from statistics import median
from typing import Callable

import gen
from ledger import COUNTERS, Ledger, busy_seconds

EVENTS = 50_000
DOCS = 300
VECS = 300
DS = "events"

BIG = ("host", "operation", "req.caller", "req.method", "latency[aggr=quantize]")
GET = {"eq": ["req.method", "GET"]}
HOURLY = "timestamp[date,field=time,aggr=lquantize,step=3600]"
LQ100 = "latency[aggr=lquantize,step=100]"
STATUS = "res.statusCode"
# FIXTURES.md §3; bycode carries a metric filter in place of a
# datasource filter, which would change every other answer too
METRICS = (
    ("big_metric", BIG, None),
    ("filtered_metric", (), GET),
    ("bycode", (STATUS,), GET),
    ("requests_bystatus",
     ("timestamp[field=time,date,aggr=lquantize,step=60]", STATUS), None),
)
REGISTRY_ENTRIES = (
    "docs_neardup_pagerank", "docs_neardup_trustrank",
    "docs_neardup_clustering", "dedup_containment", "semdedup_kmeans",
    "dedup_minhash_lsh",
)


@dataclass(frozen=True)
class Call:
    """One ``dn scan`` or ``dn query``; bounds are epoch seconds."""

    verb: str
    breakdowns: tuple[str, ...] = ()
    filter: dict | None = None
    after: int | None = None
    before: int | None = None

    def argv(self) -> list[str]:
        a = [self.verb, "--points"]
        if self.breakdowns:
            a += ["-b", ",".join(self.breakdowns)]
        if self.filter:
            a += ["-f", json.dumps(self.filter)]
        if self.after is not None:
            a += ["-A", _iso(self.after), "-B", _iso(self.before)]
        return a + [DS]

    def names(self) -> list[str]:
        return [b.split("[")[0] for b in self.breakdowns]


SCAN_MIX = (  # FIXTURES.md canonical corpus, whole tree, no bounds
    Call("scan"),
    Call("scan", ("operation",)),
    Call("scan", ("operation", "req.method", "host")),
    Call("scan", ("req.caller",)),
    Call("scan", ("operation", "req.method", "host"), GET),
    Call("scan", ("latency[aggr=quantize]",)),
    Call("scan", (LQ100,)),
)


def _iso(epoch: int) -> str:
    return datetime.fromtimestamp(epoch, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ")


def expected(t: gen.Tallies, call: Call) -> Counter:
    """The exact answer, from the generator's tallies."""
    bds = call.breakdowns
    if call.after is not None:
        if bds == (HOURLY,):
            return Counter({(h,): n for h, n in t.hour.items()
                            if call.after <= h < call.before})
        if bds == (STATUS,):  # day-aligned bounds only
            out = Counter()
            for (day, status), n in t.day_status.items():
                if call.after <= day < call.before:
                    out[(status,)] += n
            return out
        if bds:
            raise ValueError("no tally for %r" % (call,))
        return Counter({(): sum(n for h, n in t.hour.items()
                                if call.after <= h < call.before)})
    if bds == (LQ100,):
        return Counter({(k,): n for k, n in t.latency_lq100.items()})
    if bds == (STATUS,):
        return Counter({(s,): n for (m, s), n in t.method_status.items()
                        if call.filter is None or m == "GET"})
    idx = [BIG.index(b) for b in bds]
    out = Counter()
    for key, n in t.big.items():
        if call.filter is None or key[3] == "GET":
            out[tuple(key[i] for i in idx)] += n
    return out


def parse_points(text: str, names: list[str]) -> Counter | None:
    """``--points`` output as {group tuple: value}; None if a group
    repeats."""
    out = Counter()
    for line in text.splitlines():
        if not line:
            continue
        obj = json.loads(line)
        key = tuple(obj["fields"][n] for n in names)
        if key in out:
            return None
        out[key] = obj["value"]
    return out


@dataclass
class Op:
    """One timed call. ``run(tracer)`` returns (seconds, ok)."""

    label: str
    run: Callable
    batch: bool = False


class Tracer:
    """Spans and values of a traced run, plus the ledger of each op."""

    def __init__(self, spark, cores: int):
        self.ledger = Ledger(spark)
        self.cores = cores
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.values: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append(time.perf_counter() - t0)

    def add(self, name: str, value: float) -> None:
        self.values[name].append(value)

    def timed(self, label: str, fn: Callable,
              record: bool = True) -> tuple[float, object, dict]:
        """Run ``fn`` under its own job group; record its counters as
        the ``spark.*`` metrics unless ``record`` is false. Returns
        (wall seconds, what ``fn`` returned, the counters)."""
        with self.ledger.scope(label) as group:
            t0 = time.perf_counter()
            result = fn()
            wall = time.perf_counter() - t0
        c = self.ledger.read(group)
        if not record:
            return wall, result, c
        for k in COUNTERS:
            self.add("spark." + k, c[k])
        self.add("spark.core_util", c["executor_run_s"] / (wall * self.cores))
        self.add("spark.driver_gap_s", wall - busy_seconds(c["intervals"]))
        return wall, result, c


def _files_under(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        for d, _dirs, files in os.walk(p):
            out += [os.path.join(d, f) for f in files]
    return out


class Workload:
    """A workload over the generated NDJSON tree, through a fresh ``dn``
    catalog and index under ``work``, which holds its files."""

    name = ""
    # rounds a run measures at least, whatever --seconds says: every run
    # then medians over the same number of rounds, so how warm the JVM
    # is when a round starts does not depend on how long rounds take
    min_rounds = 2

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.rng = random.Random(seed)
        self.rounds = 0  # rounds made so far; alternating kinds use it
        self.cfg = os.path.join(work, "catalog.json")
        self.index = os.path.join(work, "index")

    def dn(self, argv: list[str]) -> tuple[float, int, str]:
        from dragnet_spark import cli

        buf = io.StringIO()
        t0 = time.perf_counter()
        rc = cli.main(argv, out=buf, config_path=self.cfg)
        return time.perf_counter() - t0, rc, buf.getvalue()

    def prepare(self) -> None:
        self.tree, self.tallies = cached_events(self.work, self.seed, EVENTS)
        self.total_files = len(self.tallies.file_records)

    def configure(self, spark) -> None:
        self.spark = spark
        for p in (self.cfg, self.index):
            if os.path.isdir(p):
                shutil.rmtree(p)
            elif os.path.exists(p):
                os.remove(p)
        self._setup_dn(["datasource-add", DS, "--path", self.tree,
                        "--time-format", gen.TIME_FORMAT,
                        "--time-field", "time", "--index-path", self.index])

    def _setup_dn(self, argv: list[str]) -> None:
        _dt, rc, _out = self.dn(argv)
        if rc != 0:
            raise RuntimeError("dn %s failed" % " ".join(argv))

    def context(self) -> dict:
        t = self.tallies
        return {"records": t.valid, "lines": t.lines, "corrupt": t.corrupt,
                "tree_bytes": t.bytes, "files": self.total_files}

    def check(self, call: Call, text: str) -> bool:
        return parse_points(text, call.names()) == expected(self.tallies, call)

    def call_op(self, call: Call, batch: bool = False) -> Op:
        def run(tracer):
            if tracer is None:
                dt, rc, text = self.dn(call.argv())
                return dt, rc == 0 and self.check(call, text)
            traced = self.traced_scan if call.verb == "scan" else self.traced_query
            dt, text, _c = tracer.timed(call.verb, lambda: traced(call, tracer))
            tracer.add("output.render_bytes", len(text))
            return dt, self.check(call, text)

        return Op(call.verb, run, batch)

    def _query(self, call: Call, ds):
        from dragnet_spark.query import QueryConfig

        return QueryConfig.load(
            breakdowns=",".join(call.breakdowns) or None, filter=call.filter,
            time_after=call.after, time_before=call.before,
            time_field=ds.time_field)

    def traced_scan(self, call: Call, tr: Tracer) -> str:
        """``cmd_scan``, one span per layer."""
        from dragnet_spark.config import Catalog
        from dragnet_spark.datasource import load_datasource, resolve_paths
        from dragnet_spark.output.format import render
        from dragnet_spark.scan import scan

        ds = Catalog.load(self.cfg).datasource(DS)
        with tr.span("query.plan_s"):
            query = self._query(call, ds)
        with tr.span("pathenum.prune_s"):
            paths = resolve_paths(ds, query, self.spark)
        with tr.span("datasource.load_s"):
            df, resolver, value_col = load_datasource(self.spark, ds, query)
        rows = []
        if df is not None:
            with tr.span("scan.plan_s"):
                res = scan(df, query, datasource_filter=ds.filter,
                           value_col=value_col, resolver=resolver)
            with tr.span("scan.exec_s"):
                rows = [tuple(r) for r in res.collect()]
        with tr.span("output.render_s"):
            text = render(rows, query, mode="points", title=DS)
        kept = [os.path.relpath(f, self.tree) for f in _files_under(paths)]
        tr.add("pathenum.files_kept_frac", len(kept) / self.total_files)
        n_in = sum(self.tallies.file_records.get(f, 0) for f in kept)
        tr.add("scan.rows_out_per_in", len(rows) / n_in if n_in else 0.0)
        return text

    def traced_query(self, call: Call, tr: Tracer) -> str:
        """``cmd_query``, one span per layer."""
        from dragnet_spark.config import Catalog
        from dragnet_spark.index.build import BUCKET_COL, Metric
        from dragnet_spark.index.query import find_metric, load_index_meta, query_index
        from dragnet_spark.output.format import render

        ds = Catalog.load(self.cfg).datasource(DS)
        with tr.span("query.plan_s"):
            query = self._query(call, ds)
        idx = os.path.join(ds.index_path, "by_day")
        with tr.span("index.query.route_s"):
            meta = load_index_meta(idx)
            metric, _ = find_metric(
                query, [Metric.from_json(m) for m in meta["metrics"]])
        with tr.span("index.query.plan_s"):
            res = query_index(self.spark, idx, query, meta=meta)
        with tr.span("index.query.exec_s"):
            rows = [tuple(r) for r in res.collect()]
        with tr.span("output.render_s"):
            text = render(rows, query, mode="points", title=DS)
        lo = hi = None
        if query.time_after is not None:  # the day partitions query_index keeps
            lo, hi = _iso(query.time_after)[:10], _iso(query.time_before)[:10]
        read = 0
        for f in _files_under([os.path.join(idx, metric.name)]):
            if not f.endswith(".parquet"):
                continue
            part = os.path.basename(os.path.dirname(f))
            bucket = part.split("=", 1)[1] if part.startswith(BUCKET_COL) else None
            read += lo is None or (bucket is not None and lo <= bucket <= hi)
        tr.add("index.query.files_read", read)
        return text

    def probes(self, tracer: Tracer) -> list[Op]:
        """Layer measurements a traced run makes outside the loop; the
        ops it returns are run traced and counted like the loop's.

        Here, layer throughputs over the whole tree: ``load_datasource``
        into a noop sink, then ``synthetic_date_column`` over the
        parsed rows, cached so the date probe parses no JSON."""
        from dragnet_spark.config import Catalog
        from dragnet_spark.datasource import load_datasource
        from dragnet_spark.query import QueryConfig

        ds = Catalog.load(self.cfg).datasource(DS)
        query = QueryConfig.load(time_field=ds.time_field)
        obs: dict = {}
        df, resolver, _vc = load_datasource(self.spark, ds, query,
                                            observations=obs)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        lines = obs["json parser"].get["ninputs"]
        valid = obs["adapter"].get["noutputs"]
        tracer.add("datasource.parse_rec_per_s", lines / dt)
        tracer.add("datasource.valid_frac", valid / lines)
        parsed = df.persist()
        try:
            parsed.count()
            t0 = time.perf_counter()
            parsed.select(resolver.date_seconds(ds.time_field)).write.format(
                "noop").mode("overwrite").save()
            tracer.add("scan.date_rec_per_s", valid / (time.perf_counter() - t0))
        finally:
            parsed.unpersist()
        return []


class NdjsonScan(Workload):
    name = "ndjson_scan"
    LENGTHS = (3600, 86400, 3 * 86400)

    def window(self, length: int, aligned: bool) -> tuple[int, int]:
        """A window inside the tree, starting at midnight when
        ``aligned`` and at another whole hour when not."""
        last = gen.DAYS - -(-length // 86400) - (0 if aligned else 1)
        hour = 0 if aligned else self.rng.randint(1, 23)
        start = gen.START + 86400 * self.rng.randint(0, last) + 3600 * hour
        return start, start + length

    def warm_up(self) -> list[Op]:
        """The untimed calls before the loop: the filtered three-field
        scan over the whole tree and a one-day window with and without
        the hourly breakdown."""
        a, b = self.window(86400, aligned=True)
        return [self.call_op(SCAN_MIX[4]), self.call_op(Call("scan", after=a, before=b)),
                self.call_op(Call("scan", (HOURLY,), after=a, before=b))]

    def round(self) -> list[Op]:
        """The whole-tree mix and twelve windows: every length, with and
        without the hourly breakdown, starting at midnight and not, so
        seeds move only the days. Twelve rather than six halve how far
        the median window moves between runs."""
        ops = [self.call_op(c, batch=True) for c in SCAN_MIX]
        for length in self.LENGTHS:
            for hourly in (0, 1):
                for aligned in (False, True):
                    a, b = self.window(length, aligned)
                    ops.append(self.call_op(
                        Call("scan", (HOURLY,) if hourly else (), after=a, before=b)))
        self.rng.shuffle(ops)
        return ops


class IndexBuildQuery(Workload):
    name = "index_build_query"

    def configure(self, spark) -> None:
        super().configure(spark)
        for name, bds, flt in METRICS:
            argv = ["metric-add", DS, name]
            if bds:
                argv += ["-b", ",".join(bds)]
            if flt:
                argv += ["-f", json.dumps(flt)]
            self._setup_dn(argv)

    def queries(self) -> list[Call]:
        """A round's queries: one breakdown subset of ``big_metric`` of
        each size 0-5, GET by status, and a day-aligned query of 1-7
        days. Which subsets carry the GET filter, and whether the
        bounded query counts or groups by status, alternate by round,
        so two rounds hold every kind and seeds move only which fields
        and days the queries name."""
        flip = self.rounds % 2
        self.rounds += 1
        out = [Call("query", tuple(self.rng.sample(BIG, n)),
                    GET if (n + flip) % 2 else None)
               for n in range(len(BIG) + 1)]
        out.append(Call("query", (STATUS,), GET))
        first = self.rng.randint(0, gen.DAYS - 1)
        last = self.rng.randint(first + 1, min(gen.DAYS, first + 7))
        out.append(Call("query", (STATUS,) if flip else (),
                        after=gen.START + 86400 * first,
                        before=gen.START + 86400 * last))
        self.rng.shuffle(out)
        return out

    def build_op(self) -> Op:
        def run(tracer):
            if tracer is None:
                dt, rc, _out = self.dn(["build", "--interval=day", DS])
                ok = rc == 0
            else:
                dt, _r, _c = tracer.timed("build", lambda: self.traced_build(tracer))
                ok = True
            files = [f for f in _files_under([self.index]) if f.endswith(".parquet")]
            self.index_bytes = sum(os.path.getsize(f) for f in files)
            if tracer is not None:
                tracer.add("index.build.bytes_written", self.index_bytes)
                tracer.add("index.build.files_written", len(files))
                tracer.add("index.build.bytes_per_raw_byte",
                           self.index_bytes / self.tallies.bytes)
            return dt, ok and bool(files)

        return Op("build", run, batch=True)

    def traced_build(self, tr: Tracer) -> None:
        """``cmd_build``, one span per layer."""
        from dragnet_spark.config import Catalog
        from dragnet_spark.datasource import load_datasource
        from dragnet_spark.index.build import Metric, build_index
        from dragnet_spark.query import QueryConfig

        cat = Catalog.load(self.cfg)
        ds = cat.datasource(DS)
        metrics = [Metric.load(m.name, [dict(b) for b in m.breakdowns], m.filter)
                   for m in cat.metrics_for(DS)]
        with tr.span("query.plan_s"):
            query = QueryConfig.load(time_field=ds.time_field)
        with tr.span("datasource.load_s"):
            df, resolver, _vc = load_datasource(self.spark, ds, query)
        with tr.span("index.build.s"):
            build_index(self.spark, df, metrics,
                        os.path.join(ds.index_path, "by_day"), interval="day",
                        time_field=ds.time_field, datasource_filter=ds.filter,
                        resolver=resolver, time_after=query.time_after,
                        time_before=query.time_before)

    def warm_up(self) -> list[Op]:
        """The untimed calls before the loop: a build and two queries."""
        return self.round()[:3]

    def round(self) -> list[Op]:
        return [self.build_op()] + [self.call_op(c) for c in self.queries()]

    def context(self) -> dict:
        return {**super().context(),
                "index_bytes_per_raw_byte": self.index_bytes / self.tallies.bytes}

    def probes(self, tracer: Tracer) -> list[Op]:
        """The NDJSON layer probes, then the job-heavy registry entries
        (``ops/graph.py``, ``ops/dedup.py``, ``ops/kmeans.py``) once
        each over a seeded corpus, in an order the seed permutes; no
        NDJSON layer runs in them. Each answer is value-hashed against
        the entry's DuckDB oracle."""
        super().probes(tracer)
        corpus = cached_corpus(self.work, self.seed, DOCS, VECS)
        hashes = oracle_hashes(corpus, self.work)
        order = list(REGISTRY_ENTRIES)
        self.rng.shuffle(order)
        return [self.registry_op(corpus, name, hashes[name]) for name in order]

    def registry_op(self, corpus: str, name: str, want: str) -> Op:
        from dragnet_spark import registry

        hash_rows = value_hash()

        def call():
            df = registry.REGISTRY[name].spark(self.spark, corpus)
            return df.columns, [tuple(r) for r in df.collect()]

        def run(tracer):
            # the spark.* metrics stay those of the loop's builds and queries
            dt, (columns, rows), counters = tracer.timed(name, call, record=False)
            tracer.spans["registry.%s.s" % name].append(dt)
            tracer.add("registry.%s.jobs" % name, counters["jobs"])
            return dt, hash_rows(columns, rows) == want

        return Op(name, run)


WORKLOADS = {w.name: w for w in (NdjsonScan, IndexBuildQuery)}


# ------------------------------------------------------------- input cache

KEEP_CACHED = 4


def _cached(work: str, key: str, make: Callable[[str], None]) -> str:
    """``work/data/key``, made by ``make`` unless a finished copy
    exists; the oldest copies beyond ``KEEP_CACHED`` are removed."""
    base = os.path.join(work, "data")
    path = os.path.join(base, key)
    done = os.path.join(path, "_done")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        make(path)
        open(done, "w").close()
    os.utime(done)
    old = sorted(os.listdir(base),
                 key=lambda k: os.path.getmtime(os.path.join(base, k, "_done"))
                 if os.path.exists(os.path.join(base, k, "_done")) else 0)
    for k in old[:-KEEP_CACHED]:
        if k != key:
            shutil.rmtree(os.path.join(base, k), ignore_errors=True)
    return path


def cached_events(work: str, seed: int, n: int) -> tuple[str, gen.Tallies]:
    def make(path):
        t = gen.write_events(os.path.join(path, "tree"), seed, n)
        with open(os.path.join(path, "tallies.json"), "w") as f:
            json.dump(t.to_json(), f)

    path = _cached(work, "events-s%d-n%d" % (seed, n), make)
    with open(os.path.join(path, "tallies.json")) as f:
        return os.path.join(path, "tree"), gen.Tallies.from_json(json.load(f))


def cached_corpus(work: str, seed: int, docs: int, vecs: int) -> str:
    return _cached(work, "corpus-s%d-d%d-v%d" % (seed, docs, vecs),
                   lambda path: gen.write_corpus(path, seed, docs, vecs))


def oracle_hashes(corpus: str, work: str) -> dict[str, str]:
    """Value hash of each entry's DuckDB oracle over the corpus,
    cached next to it."""
    path = os.path.join(corpus, "oracle_hashes.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb

    from dragnet_spark import registry

    hash_rows = value_hash()
    con = duckdb.connect(config={"threads": 4, "memory_limit": "1GB",
                                 "temp_directory": os.path.join(work, "duckdb_tmp")})
    try:
        for t in ("documents", "embeddings"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (t, os.path.join(corpus, t + ".parquet")))
        out = {}
        for name in REGISTRY_ENTRIES:
            cur = con.execute(registry.REGISTRY[name].oracle)
            out[name] = hash_rows([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
    with open(path, "w") as f:
        json.dump(out, f)
    return out


# ------------------------------------------------------------- statistics

def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def summarize(tracer: Tracer) -> dict[str, float]:
    """Per-layer metrics: the median of each span's durations and the
    mean of each recorded value."""
    out = {name: median(xs) for name, xs in tracer.spans.items()}
    out.update({name: sum(xs) / len(xs) for name, xs in tracer.values.items()})
    return out


def value_hash():
    """``tools/check_correctness.py``'s order-insensitive value hash.
    That module puts a fixed path first on ``sys.path`` when imported;
    undo it so nothing else loads from there."""
    import sys

    import __spark_entry__  # noqa: F401 - load it from this checkout first

    saved = list(sys.path)
    try:
        from tools.check_correctness import value_hash as vh
    finally:
        sys.path[:] = saved
    return vh
