"""Seeded inputs for the benchmark.

``write_events`` writes the FIXTURES.md §1 ``events`` shape as NDJSON
under a ``%Y/%m-%d/*.log`` tree and keeps exact tallies while it
writes, so every ``dn scan`` / ``dn query`` answer can be checked
without a second engine:

* 5 hosts; ``operation`` drawn from the method's own operations;
* ``req.caller`` admin / poseidon / JSON null / absent;
* ``latency`` a string from the mktestdata mixture (40% 1-5, 30%
  20-30, 10% 100-200, rest 1024-4096), ``dataLatency`` the same
  mixture as a number, ``dataSize`` uniform 0..2^30;
* about 0.1% corrupt (non-JSON) lines;
* ``time`` increases linearly over 28 days from 2014-05-01, so a
  window's record count depends on its length, not on the seed.

``write_corpus`` writes the ``documents`` and ``embeddings`` tables the
registry's near-dup, graph and k-means entries read, with planted
near-duplicates and containments so their graphs are not empty.

Run directly to write one tree: ``python3 perfbench/gen.py OUT SEED N``.
"""

from __future__ import annotations

import json
import os
import random
import sys
from collections import Counter
from datetime import datetime, timezone

HOSTS = ("ralph", "janey", "kearney", "sherri", "wendell")
OPERATIONS = {
    "GET": ("getstorage", "getpublicstorage", "getjoberrors"),
    "PUT": ("putobject", "putdirectory", "putjobsobject"),
    "DELETE": ("deleteobject", "deletedirectory"),
    "HEAD": ("headstorage", "headpublicstorage"),
}
METHODS = tuple(OPERATIONS)
# group labels the scan gives JSON null and an absent key
NULL, ABSENT = "null", "undefined"
CALLERS = ("admin", "poseidon", NULL, ABSENT)
STATUS_CODES = (200, 204, 400, 404, 499, 500, 503)

START = int(datetime(2014, 5, 1, tzinfo=timezone.utc).timestamp())
DAYS = 28
FILES_PER_DAY = 2
TIME_FORMAT = "%Y/%m-%d"
CORRUPT_RATE = 0.001


def mixture(rng: random.Random) -> int:
    r = rng.random()
    if r < 0.4:
        return rng.randint(1, 5)
    if r < 0.7:
        return rng.randint(20, 30)
    if r < 0.8:
        return rng.randint(100, 200)
    return rng.randint(1024, 4096)


def quantize(v: int) -> int:
    """Power-of-two bucket minimum, as ``buckets.quantize`` computes it."""
    return 0 if v < 1 else 1 << (v.bit_length() - 1)


_DAY_PREFIX: dict[int, str] = {}


def _iso_ms(ms: int) -> str:
    sec, milli = divmod(ms, 1000)
    day, rem = divmod(sec, 86400)
    prefix = _DAY_PREFIX.get(day)
    if prefix is None:
        prefix = _DAY_PREFIX[day] = datetime.fromtimestamp(
            day * 86400, tz=timezone.utc).strftime("%Y-%m-%d")
    h, rem = divmod(rem, 3600)
    m, s = divmod(rem, 60)
    return "%sT%02d:%02d:%02d.%03dZ" % (prefix, h, m, s, milli)


# json.dumps per record is most of the generator's time; the record
# shape is fixed, so format it directly (every value is a plain ASCII
# word or a number and needs no escaping)
_RECORD = ('{"time":"%s","host":"%s","operation":"%s","req":{"method":"%s",'
           '"url":"/random/url/number/%d"%s},"res":{"statusCode":%d},'
           '"latency":"%d","dataLatency":%d,"dataSize":%d}')
_CALLER_JSON = {"admin": ',"caller":"admin"', "poseidon": ',"caller":"poseidon"',
                NULL: ',"caller":null', ABSENT: ""}


class Tallies:
    """Exact per-group counts of the valid records written.

    ``big`` keys (host, operation, caller, method, latency quantize
    bucket), the breakdowns of the benchmark's big metric; the other
    counters cover the breakdowns it lacks."""

    def __init__(self):
        self.lines = 0
        self.valid = 0
        self.corrupt = 0
        self.bytes = 0
        self.big: Counter = Counter()
        self.latency_lq100: Counter = Counter()
        self.hour: Counter = Counter()
        self.day_status: Counter = Counter()
        self.method_status: Counter = Counter()
        self.file_records: dict[str, int] = {}

    _COUNTERS = ("big", "latency_lq100", "hour", "day_status", "method_status")

    def to_json(self) -> dict:
        out = {k: getattr(self, k) for k in ("lines", "valid", "corrupt", "bytes")}
        out["file_records"] = self.file_records
        for k in self._COUNTERS:
            out[k] = [[list(key) if isinstance(key, tuple) else key, n]
                      for key, n in getattr(self, k).items()]
        return out

    @classmethod
    def from_json(cls, obj: dict) -> "Tallies":
        t = cls()
        for k in ("lines", "valid", "corrupt", "bytes", "file_records"):
            setattr(t, k, obj[k])
        for k in cls._COUNTERS:
            getattr(t, k).update({
                (tuple(key) if isinstance(key, list) else key): n
                for key, n in obj[k]
            })
        return t


def write_events(root: str, seed: int, n_records: int) -> Tallies:
    """Write ``n_records`` valid events (plus corrupt lines) under
    ``root`` and return their tallies."""
    rng = random.Random(seed)
    t = Tallies()
    span_ms = DAYS * 86400 * 1000
    nfiles = DAYS * FILES_PER_DAY
    per_file_ms = span_ms // nfiles
    i = 0
    for f in range(nfiles):
        day = START + (f // FILES_PER_DAY) * 86400
        d = os.path.join(root, datetime.fromtimestamp(day, tz=timezone.utc)
                         .strftime(TIME_FORMAT))
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "%d.log" % (f % FILES_PER_DAY))
        end_ms = (f + 1) * per_file_ms
        lines = []
        nvalid = 0
        while i < n_records and i * span_ms // n_records < end_ms:
            ms = START * 1000 + i * span_ms // n_records
            i += 1
            if rng.random() < CORRUPT_RATE:
                lines.append('{"time": "%s", "host": "%s"' % (
                    _iso_ms(ms), rng.choice(HOSTS)))
                t.corrupt += 1
            host = rng.choice(HOSTS)
            method = rng.choice(METHODS)
            op = rng.choice(OPERATIONS[method])
            caller = rng.choice(CALLERS)
            status = rng.choice(STATUS_CODES)
            lat = mixture(rng)
            lines.append(_RECORD % (
                _iso_ms(ms), host, op, method, rng.randrange(500),
                _CALLER_JSON[caller], status, lat, mixture(rng),
                rng.randrange(1 << 30)))
            nvalid += 1
            sec = ms // 1000
            t.big[(host, op, caller, method, quantize(lat))] += 1
            t.latency_lq100[lat // 100 * 100] += 1
            t.hour[sec - sec % 3600] += 1
            t.day_status[(sec - sec % 86400, str(status))] += 1
            t.method_status[(method, str(status))] += 1
        body = "\n".join(lines) + "\n"
        with open(path, "w") as fh:
            fh.write(body)
        t.lines += len(lines)
        t.valid += nvalid
        t.bytes += len(body)
        t.file_records[os.path.relpath(path, root)] = nvalid
    return t


# words of the registry fixtures' vocabulary; a tiny vocabulary keeps
# single tokens shared by every document while 3-shingles stay rare
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "stream order group filter vector"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
DIMS = 64


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet``.

    About a fifth of the documents are edited copies of an earlier one
    (one token changed near the end: Jaccard above the 0.8 threshold)
    and a tenth are an earlier document plus a short tail (containment
    above 0.9). Embeddings are 8 Gaussian clusters in 64 dimensions."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.2:
            toks = rng.choice(texts).split()
            toks[-1 - rng.randrange(min(3, len(toks)))] = rng.choice(VOCAB)
        elif texts and r < 0.3:
            toks = rng.choice(texts).split()
            toks += [rng.choice(VOCAB) for _ in range(rng.randint(1, 3))]
        else:
            toks = [rng.choice(VOCAB) for _ in range(rng.randint(30, 80))]
        texts.append(" ".join(toks))
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": ["src%d" % (i % 7) for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    centers = [[rng.gauss(0, 1) for _ in range(DIMS)] for _ in range(8)]
    vecs, labels = [], []
    for _ in range(n_vecs):
        c = rng.randrange(8)
        vecs.append([x + rng.gauss(0, 0.3) for x in centers[c]])
        labels.append(c)
    emb = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


if __name__ == "__main__":
    out, seed, n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    tallies = write_events(out, seed, n)
    print(json.dumps({k: tallies.to_json()[k]
                      for k in ("lines", "valid", "corrupt", "bytes")}))
