"""Materialized IVF vector index: build once, probe with partition
pruning — the event-index pattern (index/build.py + index/query.py)
applied to embeddings.

The reference materializes pre-aggregated metric views so queries
never rescan raw data (lib/dn.js build → index-scan); the vector twin
materializes the IVF cell assignment so ANN probes never rescan the
corpus either:

* **build**: deterministic k-means centroids (seeded driver-side
  sample, `ops/similarity.train_centroids`) are persisted in
  ``_vector_index.json``; every vector is written under its nearest
  cell via ``partitionBy("cell")`` — one directory per cell.
* **query**: the bounded query batch (same hard ``max_queries``
  broadcast contract as ``cosine_topk_blocked``) computes its
  ``n_probe`` nearest cells DRIVER-side from the persisted centroid
  matrix, and the scan filters ``cell IN (...)`` — Spark partition
  pruning skips every other cell directory, so the I/O cost is
  ~n_probe/n_centroids of the index at any corpus size. Candidates
  score exactly and rank per query (same output contract as
  ``cosine_topk`` / ``ivf_topk``).
* **quantized store** (``quantize=True``): cells persist int8 codes +
  one float scale per vector (``ops/similarity.quantize_embeddings``,
  symmetric round-to-nearest) instead of float arrays — ~4× less
  probe I/O — and the probe dequantizes inline
  (``q * scale``, a narrow ``transform``) before the exact scorer.
  The arithmetic is engine-reproducible, so the quantized index at
  full probe matches a DuckDB quantize→dequantize→cosine→rank twin
  bit-for-bit (registry ``ann_vector_index_quantized``).
* **append**: arriving vectors are assigned to the PERSISTED
  centroids (never recomputed) and appended into the same cell
  directories, so the index absorbs continuous ingest without a
  rebuild and append-then-probe equals rebuild-with-same-centroids
  exactly (pytest-enforced). Centroids drift as the corpus grows:
  monitor ``vector_index_cell_stats`` and rebuild (recenter) when the
  max/mean cell skew passes ~4× or appends exceed ~the original build
  size — the same compact-when-fragmented discipline as the event
  index and fingerprint store.

With the same centroids, ``query_vector_index`` is result-identical
to the in-memory ``ivf_topk`` (pytest-enforced), and with
``n_probe == n_centroids`` it is exhaustive — identical to the exact
top-k, which is the registry entry's SQL oracle.
"""

from __future__ import annotations

from dragnet_spark.errors import ContractError

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dragnet_spark.index.lease import hold_lease
from dragnet_spark.index.store import (
    guard_store,
    layout_token,
    read_store,
    rewrite_partitioned,
    staged_swap,
    write_layout,
)
from dragnet_spark.ops.similarity import (
    _dot,
    _nearest_cells_udf,
    _safe_norm,
    train_centroids,
)

META_FILE = "_vector_index.json"
VECTORS_DIR = "vectors"
_WHAT = "vector index"


def _read_vectors(spark: SparkSession, path: str) -> DataFrame:
    return read_store(spark, path, VECTORS_DIR, META_FILE, _WHAT)


def _cell_rows(
    df: DataFrame,
    centroids,
    id_col: str,
    vec_col: str,
    quantize: bool,
) -> DataFrame:
    """Project ``df`` into the index's storage schema: (vec_id, payload
    columns, cell). Float mode stores the vector as-is; quantized mode
    stores int8 codes + per-vector scale (symmetric round-to-nearest,
    the exact arithmetic of ``ops/similarity.quantize_embeddings``) —
    tinyint elements, so parquet pays 1 byte/dim instead of 4/8."""
    assign1 = _nearest_cells_udf(centroids, 1)
    if not quantize:
        return df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            assign1(F.col(vec_col))[0].alias("cell"),
        )
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x))).cast("double")
    q = F.when(
        amax > 0,
        F.transform(
            v, lambda x: F.round(x / (amax / 127.0)).cast("tinyint")
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return df.select(
        F.col(id_col).alias("vec_id"),
        q.alias("qvec"),
        (amax / F.lit(127.0)).alias("scale"),
        assign1(F.col(vec_col))[0].alias("cell"),
    )


def build_vector_index(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    quantize: bool = False,
    centroids=None,
    target_rows_per_cell: int | None = None,
    files_per_cell: int | None = None,
) -> dict:
    """Materialize ``df``'s vectors under their nearest-centroid cell.

    Returns the metadata dict (also written to ``_vector_index.json``).
    Rebuild-safe: ``mode("overwrite")`` replaces a prior index at the
    same path atomically per cell directory. ``quantize=True`` stores
    int8 codes + scale (~4× less probe I/O; the probe dequantizes
    inline). ``centroids`` injects a precomputed centroid matrix —
    used by recenter-free rebuild equivalence tests and by callers who
    train centroids on a sample stream. ``target_rows_per_cell``
    persists the cell-GROWTH policy for maintenance: recenter then
    sizes the new cell count to ``ceil(rows / target)`` (see
    :func:`auto_cell_count`) instead of keeping the build-time count
    forever — without it, an index that grows 100× under continuous
    ingest keeps its original cells and every probe pays 100× the
    per-cell scan it was designed for.
    """
    meta = _write_cells(
        df, os.path.join(path, VECTORS_DIR), id_col, vec_col, n_centroids,
        seed, quantize, centroids, target_rows_per_cell, files_per_cell,
    )
    with open(os.path.join(path, META_FILE), "w") as f:
        json.dump(meta, f)
    return meta


def _write_cells(
    df, data_dir, id_col, vec_col, n_centroids, seed, quantize, centroids,
    target_rows_per_cell, files_per_cell,
) -> dict:
    """Write ``df``'s cells and layout token to ``data_dir``; return
    the metadata the index's meta file persists."""
    cent = (
        np.asarray(centroids, dtype=np.float64)
        if centroids is not None
        else train_centroids(df, vec_col, n_centroids=n_centroids, seed=seed)
    )
    rows = _cell_rows(df, cent, id_col, vec_col, quantize)
    if files_per_cell is not None:
        # same bounded-layout routing as append_vector_index: without
        # it every writing task adds a file to every cell it touches
        rows = rows.repartition(
            F.col("cell"),
            F.pmod(F.xxhash64("vec_id"), F.lit(files_per_cell)),
        )
    (
        rows.write.mode("overwrite")
        .partitionBy("cell")
        .parquet(data_dir)
    )
    meta = {
        "version": "1.1",
        "n_centroids": int(len(cent)),
        "dims": int(len(cent[0])),
        "seed": seed,
        "id_col": id_col,
        "vec_col": vec_col,
        "quantized": bool(quantize),
        "centroids": [[float(x) for x in c] for c in cent],
    }
    meta["layout_token"] = layout_token({
        k: meta[k]
        for k in ("centroids", "quantized", "dims", "id_col", "vec_col")
    })
    # Spark DDL types of the source columns, persisted OUTSIDE the
    # token basis (an id-type difference is not a layout difference):
    # vindex-ingest builds its readStream schema from these instead of
    # assuming (long, array<double>) — a string-id index would
    # otherwise fail or mis-read at scan time.
    meta["id_type"] = df.schema[id_col].dataType.simpleString()
    meta["vec_type"] = df.schema[vec_col].dataType.simpleString()
    # growth policy, persisted OUTSIDE the token basis (it describes
    # when maintenance should change the layout, not the layout itself)
    if target_rows_per_cell is not None:
        if target_rows_per_cell <= 0:
            raise ContractError(
                f"target_rows_per_cell={target_rows_per_cell} must be > 0"
            )
        meta["target_rows_per_cell"] = int(target_rows_per_cell)
    # the token lives in BOTH the meta file and inside the vectors dir
    # (underscore-prefixed: Spark's reader ignores it): any maintenance
    # crash that leaves the two out of sync — e.g. recenter dying
    # between its vectors swap and its meta replace — is detected by
    # the probe instead of silently scoring against the wrong centroids
    write_layout(data_dir, meta["layout_token"])
    return meta


def append_vector_index(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    files_per_cell: int | None = None,
) -> None:
    """Append arriving vectors into the existing index's cell layout.

    Cell assignment uses the PERSISTED centroids — never retrained —
    so append-then-probe is exactly rebuild-with-the-same-centroids
    (pytest-enforced), and the write is a per-cell parquet append: no
    shuffle of existing data, the continuous-ingest shape of
    ``index/fingerprints.append_fingerprints``. Column names/quantize
    mode come from the index metadata.

    Recenter/compact trigger (caller's contract, same discipline as
    the event index's ``compact``): appended vectors drift away from
    centroids trained before they existed. Watch
    :func:`vector_index_cell_stats`; when max/mean cell skew passes
    ~4× (probe cost is bounded by the largest probed cell) or
    cumulative appends exceed the original build size, rebuild with
    fresh centroids — a full rewrite, scheduled like compaction, not
    per batch.
    """
    with hold_lease(path, "append-vectors"):
        guard_store(path, VECTORS_DIR, META_FILE, _WHAT)
        meta = load_vector_index_meta(path)
        cent = np.asarray(meta["centroids"], dtype=np.float64)
        rows = _cell_rows(
            df, cent, meta["id_col"], meta["vec_col"],
            bool(meta.get("quantized")),
        )
        if files_per_cell is not None:
            # per-batch appends from an N-task frame write up to N
            # files in EVERY touched cell (the livestore soak's
            # 49k-files lesson); routing each cell to one task bounds
            # it to ~files_per_cell — the streaming ingester passes 1,
            # batch callers keep their parallelism and rely on
            # compact_vector_index
            rows = rows.repartition(
                F.col("cell"),
                F.pmod(F.xxhash64("vec_id"), F.lit(files_per_cell)),
            )
        (
            rows.write.mode("append")
            .partitionBy("cell")
            .parquet(os.path.join(path, VECTORS_DIR))
        )


def vector_index_cell_stats(spark: SparkSession, path: str) -> DataFrame:
    """(cell, n_vectors) per cell — the skew signal that drives the
    recenter decision. A count over the partition column only: parquet
    row-group metadata, not vector payloads."""
    return (
        _read_vectors(spark, path)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def vector_index_skew(spark: SparkSession, path: str) -> float:
    """max/mean cell population — the scalar the ~4× recenter trigger
    reads. 0.0 for an empty index."""
    rows = vector_index_cell_stats(spark, path).collect()
    if not rows:
        return 0.0
    counts = [r["n_vectors"] for r in rows]
    return max(counts) / (sum(counts) / len(counts))


#: auto_cell_count's hard ceiling. Tied to train_centroids'
#: sample_size contract (4096 by default): k-means cannot produce
#: more distinct centroids than sample vectors, so growing past the
#: sample only manufactures empty cells.
MAX_AUTO_CENTROIDS = 4096


def auto_cell_count(
    n_rows: int,
    n_current: int,
    target_rows_per_cell: int,
    max_centroids: int = MAX_AUTO_CENTROIDS,
) -> int:
    """Cell count for a recenter under the growth policy:
    ``ceil(n_rows / target)``, never below the current count, clamped
    to ``max_centroids``.

    Growth-only by design: probe cost is ~``n_probe × rows/cell``, so
    an index that outgrew its build-time cell count MUST add cells to
    keep probes flat — but shrinking a sparse index merely churns the
    layout for a marginal metadata win, so a shrink requires an
    explicit ``n_centroids``. Deterministic (no RNG) so a replayed
    maintenance job reproduces the same layout decision."""
    if target_rows_per_cell <= 0:
        raise ContractError(
            f"target_rows_per_cell={target_rows_per_cell} must be > 0"
        )
    want = -(-n_rows // target_rows_per_cell)  # ceil
    return max(1, min(max(n_current, want), max_centroids))


def maybe_recenter_vector_index(
    spark: SparkSession,
    path: str,
    skew_trigger: float = 4.0,
    growth_trigger: float = 2.0,
) -> bool:
    """The documented recenter trigger as a callable policy: recenter
    when max/mean cell skew passes ``skew_trigger`` (appends drift
    away from centroids trained before they existed; probe cost is
    bounded by the largest probed cell), OR — when the store carries a
    ``target_rows_per_cell`` growth policy — when the MEAN cell
    population passes ``growth_trigger × target`` (a perfectly
    balanced index that absorbed 10× its build size has skew ~1 but
    every probe now scans 10× the rows it was designed for; skew
    alone never fires). Returns whether a recenter ran. Both reads
    are cell-count metadata only; the recenter itself is a full
    rewrite, lease-serialized against appenders and compaction
    (lease.py) — the streaming ingest loop calls this every N batches
    from its own foreachBatch thread (never concurrent with its
    appends), and external callers serialize on the store lease the
    same way. Still not free: call at a cadence (every N batches / at
    restart boundaries), not per batch."""
    counts = [
        r["n_vectors"]
        for r in vector_index_cell_stats(spark, path).collect()
    ]
    if not counts:
        return False
    meta = load_vector_index_meta(path)
    # mean over the METADATA cell count, not over non-empty cells:
    # drift that empties cells must not inflate the apparent mean
    mean = sum(counts) / max(int(meta.get("n_centroids", len(counts))), 1)
    skewed = max(counts) / (sum(counts) / len(counts)) >= skew_trigger
    target = meta.get("target_rows_per_cell")
    outgrown = target is not None and mean >= growth_trigger * target
    if not (skewed or outgrown):
        return False
    recenter_vector_index(spark, path)
    return True


def load_vector_index_meta(path: str) -> dict:
    with open(os.path.join(path, META_FILE)) as f:
        return json.load(f)


def query_vector_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 65536,
) -> DataFrame:
    """Top-k cosine neighbors from the materialized index.

    The query side is collected (bounded by the ``max_queries``
    contract — raises instead of OOMing the driver) and its probe
    cells computed against the persisted centroids with the exact
    numpy ordering the build used, so index answers match the
    in-memory IVF bit-for-bit. Only the probed cell partitions are
    read (``cell IN (...)`` → parquet partition pruning).
    """
    meta = load_vector_index_meta(path)
    if not str(meta.get("version", "")).startswith("1."):
        raise ContractError(f"unsupported vector index version: {meta.get('version')}")
    store = _read_vectors(spark, path)
    C = np.asarray(meta["centroids"], dtype=np.float64)
    n_probe = min(n_probe, len(C))

    qrows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ContractError(
            f"query_vector_index: query side exceeds max_queries="
            f"{max_queries}; shard the queries or raise the cap explicitly"
        )
    if not qrows:
        # empty query batch → empty result with the right schema
        id_dt = dict(queries.dtypes)[id_col]
        return spark.createDataFrame(
            [], f"query_id {id_dt}, neighbor_id {id_dt}, score double, rank int"
        )
    # same math/tie-order as _nearest_cells_udf: normalize, sims, argsort
    M = np.array([r[1] for r in qrows], dtype=np.float64)
    M /= np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
    order = np.argsort(-(M @ C.T), axis=1)[:, :n_probe]

    probe_rows = [
        (r[0], list(r[1]), [int(c) for c in cells])
        for r, cells in zip(qrows, order)
    ]
    id_dt = dict(queries.dtypes)[id_col]
    vec_dt = dict(queries.dtypes)[vec_col]
    qdf = spark.createDataFrame(
        probe_rows, f"query_id {id_dt}, qvec {vec_dt}, cells array<int>"
    ).select("query_id", "qvec", F.explode("cells").alias("cell"))

    cells_needed = sorted({int(c) for row in order for c in row})
    store = store.filter(F.col("cell").isin(cells_needed))
    if meta.get("quantized"):
        # inline dequantize: q*scale, a narrow transform over the int8
        # codes — the scan still reads ~1 byte/dim off disk; floats
        # exist only in flight. Same arithmetic as ann_quantized_topk's
        # cross-engine-exact oracle chain.
        cvec = F.transform(
            "qvec", lambda q: q.cast("double") * F.col("scale")
        )
    else:
        cvec = F.col("embedding")
    vecs = store.select(
        F.col("vec_id").alias("neighbor_id"),
        cvec.alias("cvec"),
        "cell",
    )
    cand = vecs.join(F.broadcast(qdf), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "score",
        F.round(
            _dot(F.col("qvec"), F.col("cvec"))
            / (_safe_norm(F.col("qvec")) * _safe_norm(F.col("cvec"))),
            6,
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def compact_vector_index(
    spark: SparkSession,
    path: str,
    files_per_partition: int = 1,
    wait_s: float | None = None,
) -> None:
    """File-count maintenance after appends: rewrite each cell to
    ``files_per_partition`` files, keeping assignments (and the
    centroid matrix) untouched — probe answers are exactly preserved.
    The rewrite is the stores' one crash-safe stage-then-swap
    (``store.rewrite_partitioned``), lease-serialized against
    appenders (lease.py). The layout token rides along unchanged
    (assignments didn't change)."""
    with hold_lease(path, "compact-vectors", wait_s=wait_s):
        meta = load_vector_index_meta(path)
        rewrite_partitioned(
            _read_vectors(spark, path), "cell",
            os.path.join(path, VECTORS_DIR), "vec_id", files_per_partition,
            meta.get("layout_token"),
        )


def recenter_vector_index(
    spark: SparkSession,
    path: str,
    n_centroids: int | None = None,
    seed: int | None = None,
    wait_s: float | None = None,
) -> dict:
    """The documented recenter action for a drifted index (see
    ``append_vector_index``): retrain centroids on the CURRENT store
    contents (dequantizing codes when the store is quantized) and
    rebuild in place — a full rewrite, scheduled like compaction when
    ``vector_index_cell_stats`` skew passes the trigger, never per
    batch. Quantize mode and column names carry over; ``seed``
    defaults to the existing metadata. Cell count: an explicit
    ``n_centroids`` wins; else a persisted ``target_rows_per_cell``
    growth policy sizes the new layout to the CURRENT row count via
    :func:`auto_cell_count` (so a store that outgrew its build keeps
    per-cell probe cost flat); else the old count carries over."""
    with hold_lease(path, "recenter", wait_s=wait_s):
        return _recenter_vector_index_locked(spark, path, n_centroids, seed)


def _recenter_vector_index_locked(
    spark: SparkSession,
    path: str,
    n_centroids: int | None,
    seed: int | None,
) -> dict:
    meta = load_vector_index_meta(path)
    df = _read_vectors(spark, path)
    if meta.get("quantized"):
        vecs = df.select(
            F.col("vec_id").alias(meta["id_col"]),
            F.transform(
                "qvec", lambda q: q.cast("double") * F.col("scale")
            ).alias(meta["vec_col"]),
        )
    else:
        vecs = df.select(
            F.col("vec_id").alias(meta["id_col"]),
            F.col("embedding").alias(meta["vec_col"]),
        )
    target = meta.get("target_rows_per_cell")
    if n_centroids is None and target is not None:
        # grow cells with the store (auto_cell_count): a larger sample
        # keeps k-means meaningful once the cell count approaches the
        # default 4096-vector sample
        n_centroids = auto_cell_count(
            vecs.count(), int(meta["n_centroids"]), int(target)
        )
    new_meta = {}

    def write(stage: str) -> None:
        # maintenance writes the compacted layout directly (the repo's
        # files_per_partition=1 norm) so a recenter never needs a
        # follow-up compact — one rewrite, not two
        new_meta.update(_write_cells(
            vecs, stage, meta["id_col"], meta["vec_col"],
            n_centroids or meta["n_centroids"],
            seed if seed is not None else meta["seed"],
            bool(meta.get("quantized")), None, target, 1,
        ))
        # the new meta rides inside the stage (underscore-prefixed:
        # Spark's reader ignores it) so one os.replace publishes it
        with open(os.path.join(stage, META_FILE), "w") as f:
            json.dump(new_meta, f)

    dest = os.path.join(path, VECTORS_DIR)
    staged_swap(dest, write)
    # the swap and the meta replace cannot be atomic together; the
    # layout token turns that window (new vectors + old meta) into a
    # loud error instead of silently wrong neighbors
    os.replace(os.path.join(dest, META_FILE), os.path.join(path, META_FILE))
    return new_meta
