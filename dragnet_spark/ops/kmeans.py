"""Exact fixed-point k-means over embedding columns (Lloyd's
algorithm, fixed iteration count) — the clustering stage of
SemDeDup-style semantic deduplication (Abbas et al. 2023: cluster the
corpus embeddings, then search for near-duplicates only *within* a
cluster, turning the O(n²) semantic-dedup pair search into k
independent O((n/k)²) searches).

Why fixed-point: float k-means sums coordinates in engine-specific
order, so assignments near a Voronoi boundary are not reproducible —
unhashable across engines, exactly like float PageRank (ops/graph.py).
Here every vector is quantized ONCE to BIGINT (floor(x·scale): the
multiply and floor are single IEEE-double ops, identical everywhere),
and from then on everything is integer arithmetic:

* distance  = Σ_d (q_vd − c_cd)²  — integer sums, order-independent;
* argmin    = lexicographic min over (dist, cluster_id) — total order,
  deterministic tie-break;
* update    = per-dimension ``Σ q_vd div n_c`` — truncating integer
  division (Spark ``div`` and DuckDB ``//`` both truncate toward
  zero, verified including negatives);
* seeds     = the k rows with the smallest ``(md5(id), id)``, nulls
  last — a deterministic pseudo-random draw both engines order
  identically (each names the null order; their defaults differ).

Every step is therefore bit-identical between Spark and the DuckDB
oracle for any iteration count, which is what lets an *iterative
clustering algorithm* be value-hash graded (see
:func:`kmeans_sql`, the unrolled CTE twin).

Overflow headroom (|x| ≤ 1, scale 1e6, dims ≤ 1k): per-dim diff ≤
2·10⁶ → square ≤ 4·10¹², dist ≤ 4·10¹⁵ ≪ 2⁶³; the per-cluster
coordinate sum is ≤ 10⁶·n_c, fine to ~10¹² members per cluster.

Scale shape (the MLlib posture): centroids are k×dims driver state —
bounded by k, never the corpus — shipped in the assignment closure,
so assignment is one narrow Arrow-batched int64 matmul pass over the
vectors (mapInArrow, no shuffle; exact — np.argmin's first-minimum
matches the lexicographic tie-break). The centroid update rides the
SAME pass: each task accumulates its per-cluster coordinate sums in
numpy and emits at most k·dims partial rows (no n·dims explode ever
exists), so the per-iteration shuffle is k·dims·tasks rows regardless
of corpus size. ``k`` itself
can be derived from the corpus (:func:`auto_k`,
``target_rows_per_cluster``) — the SemDeDup regime where cluster
SIZE stays constant as the corpus grows. Nothing about the loop
holds more than k·dims integers outside the executors.

Reference parity note: the reference engine has no clustering
operator; this is a beyond-reference training-pipeline addition (the
brief's dedup family).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from dragnet_spark.errors import ContractError

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

DEFAULT_SCALE = 1_000_000


def _quantized(vec_col: str, scale: int) -> Column:
    """BIGINT floor(x·scale) of every coordinate of ``vec_col``: one
    double multiply + floor per element — bit-identical in any IEEE
    engine, after which k-means never touches a float again."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long"),
    )


def quantize_vectors(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = DEFAULT_SCALE,
) -> DataFrame:
    """(id, q): the id cast to long and the :func:`_quantized`
    vector."""
    return df.select(
        F.col(id_col).cast("long").alias("id"),
        _quantized(vec_col, scale).alias("q"),
    )


#: per-task cap, in int64 ELEMENTS, on one distance block (rows ×
#: centroids slice): 16M elements = 128 MB. The full m×k₂ level-2
#: matrix at the stated 10⁸-vector regime (groups ≈158k rows, k₂≈632)
#: is ~800 MB per task per Lloyd pass — workable on 128 GiB local[32],
#: a cliff on 8-16 GB cluster executors (VERDICT r11 #3). Argmin is
#: row-independent, so computing the matrix in row blocks is exact.
LEVEL2_CHUNK_ELEMS = 16_000_000


def _chunked_argmin(Q, C, chunk_elems: int = LEVEL2_CHUNK_ELEMS):
    """(argmin, min-dist) of the squared-L2 distance matrix between
    int64 rows ``Q`` (m × dims) and centroids ``C`` (k × dims) — the
    one distance kernel of every assignment in this module. The
    expanded form ‖q‖² − 2q·C + ‖c‖² is exact in int64 (see the
    overflow headroom above) and `argmin` takes the first (lowest-id)
    minimum, so the result equals the lexicographic (dist, cluster)
    rule of the SQL twins. The matrix is computed in row blocks of ≤
    ``chunk_elems`` elements — bit-identical to the full-matrix form
    (each row's argmin depends on that row alone), with per-task peak
    memory

        8·(chunk_elems + m·dims + k·dims) bytes + temporaries

    instead of 8·m·k. At the defaults that is ~128 MB of distance
    block for ANY group size, so a level-2 task fits an 8 GB executor
    even at the 10⁸-vector regime's group shapes."""
    import numpy as np

    m = len(Q)
    k = len(C)
    rows = max(1, chunk_elems // max(k, 1))
    a = np.empty(m, dtype=np.int64)
    dmin = np.empty(m, dtype=np.int64)
    cc = (C * C).sum(axis=1)
    for lo in range(0, m, rows):
        hi = min(lo + rows, m)
        d = (
            (Q[lo:hi] * Q[lo:hi]).sum(axis=1)[:, None]
            - 2 * (Q[lo:hi] @ C.T)
            + cc[None, :]
        )
        idx = d.argmin(axis=1)
        a[lo:hi] = idx
        dmin[lo:hi] = d[np.arange(hi - lo), idx]
    return a, dmin


def _matrix(col, dtype):
    """The n × dims numpy matrix of an Arrow list column ``col`` of n
    equal-length vectors."""
    import pyarrow.compute as pc

    flat = pc.list_flatten(col).to_numpy(zero_copy_only=False)
    n = len(col)
    return flat.astype(dtype, copy=False).reshape(n, len(flat) // n)


def _ids(col):
    """(ids, null): an Arrow int64 id column as an exact int64 array
    (a null id reads 0) and its null mask. Arrow's own conversion would
    make a column holding a null float64 and round ids above 2⁵³."""
    import pyarrow.compute as pc

    return (
        pc.fill_null(col, 0).to_numpy(),
        col.is_null().to_numpy(zero_copy_only=False),
    )


def _assign(
    src: DataFrame, cents: list[list[int]], keep_q: bool = False
) -> DataFrame:
    """(id, cluster, dist[, q], …): the nearest centroid of every row
    of ``src`` — (id, q, …) — by :func:`_chunked_argmin`, ties to the
    lower cluster id, with every further column of ``src`` carried
    through unchanged. One Arrow-batched numpy pass (mapInArrow):
    Spark's higher-order array folds are interpreted per element, the
    numpy form is ~50× faster at any corpus size. Only ``q`` is
    converted; ``id`` and the payload columns pass through as the
    Arrow arrays they arrive as, so a batch holding a null id keeps
    its other ids exact (pandas would make the column float64 and
    round ids above 2⁵³). No shuffle; centroids ride the closure
    (k×dims ints). ``keep_q`` also carries the quantized vector, for a
    level-2 pass that re-clusters it. Carrying the payload (the float
    vector, for the prune) puts the placement decision next to the
    payload, so a per-cluster consumer needs no join back to the
    source."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    C = np.asarray(cents, dtype=np.int64)  # k × dims
    cols = ["id", "cluster", "dist"] + (["q"] if keep_q else [])
    cols += [c for c in src.columns if c not in ("id", "q")]

    def run(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            a, dmin = _chunked_argmin(_matrix(batch.column("q"), np.int64), C)
            made = {"cluster": pa.array(a.astype(np.int32)),
                    "dist": pa.array(dmin)}
            yield pa.RecordBatch.from_arrays(
                [made[c] if c in made else batch.column(c) for c in cols],
                names=cols,
            )

    schema = StructType(
        [
            src.schema["id"],
            StructField("cluster", IntegerType()),
            StructField("dist", LongType()),
        ]
        + [src.schema[c] for c in cols[3:]]
    )
    return src.mapInArrow(run, schema=schema)


def _update_partials(qv: DataFrame, cents: list[list[int]]) -> DataFrame:
    """Per-task partial centroid sums for one Lloyd round:
    (cluster, dim, s, n) where ``s`` is the int64 sum of the quantized
    coordinate over this task's rows assigned to ``cluster`` and ``n``
    that cluster's task-local row count (repeated per dim). Assignment
    is :func:`_chunked_argmin`, as in :func:`_assign`, but the
    per-dimension sums are accumulated in numpy INSIDE the same pass —
    each task emits at most k·dims rows instead of feeding n·dims
    exploded rows through a hash aggregate. Integer addition is
    order-independent, so ``sum(s) div sum(n)`` downstream equals the
    exploded form's ``sum(val) div count(1)`` bit for bit."""
    import numpy as np
    import pandas as pd

    C = np.asarray(cents, dtype=np.int64)  # k × dims
    k, dims = C.shape

    def run(batches):
        sums = np.zeros((k, dims), dtype=np.int64)
        cnts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.asarray(list(pdf["q"]), dtype=np.int64)  # n × dims
            best, _dmin = _chunked_argmin(Q, C)
            # segment-sum by cluster: sort once, reduceat per segment
            order = np.argsort(best, kind="stable")
            bs = best[order]
            starts = np.concatenate(
                ([0], np.flatnonzero(np.diff(bs)) + 1)
            )
            sums[bs[starts]] += np.add.reduceat(Q[order], starts, axis=0)
            cnts += np.bincount(best, minlength=k)
        nz = np.flatnonzero(cnts)
        if len(nz):
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(nz.astype(np.int32), dims),
                    "dim": np.tile(np.arange(dims, dtype=np.int32), len(nz)),
                    "s": sums[nz].ravel(),
                    "n": np.repeat(cnts[nz], dims),
                }
            )

    return qv.mapInPandas(run, schema="cluster int, dim int, s long, n long")


def _lloyd_rounds(
    qv: DataFrame, cents: list[list[int]], iterations: int
) -> list[list[int]]:
    """Run ``iterations`` exact centroid updates over the quantized
    vectors and return the final centroid list. One job per round:
    the assignment matmul and the per-cluster coordinate sums happen
    in a single :func:`_update_partials` pass whose output is k·dims
    rows per task, aggregated to k·dims rows total and collected.
    ``sum(s) div sum(n)`` reproduces the module's truncating-division
    centroid rule exactly; an empty cluster keeps its previous
    centroid (no partial rows for it)."""
    for _ in range(iterations):
        upd = (
            _update_partials(qv, cents)
            .groupBy("cluster", "dim")
            .agg(F.expr("sum(s) div sum(n)").alias("v"))
            .collect()
        )
        by_c: dict[int, dict[int, int]] = {}
        for r in upd:
            by_c.setdefault(r["cluster"], {})[r["dim"]] = r["v"]
        cents = [
            [by_c[c][d] for d in range(len(cents[c]))]
            if c in by_c
            else cents[c]  # empty cluster: keep previous centroid
            for c in range(len(cents))
        ]
    return cents


def kmeans_seeds(
    qv: DataFrame, k: int, id_col: str = "id"
) -> list[list[int]]:
    """The k quantized vectors with the smallest (md5(id), id), a null
    id last as in :func:`kmeans_sql` — a deterministic draw with no
    global sort (TakeOrdered top-k merge, never a single-partition
    window). Driver payload: k·dims ints."""
    rows = (
        qv.select(
            "q", F.md5(F.col(id_col).cast("string").cast("binary")).alias("h"),
            F.col(id_col).alias("i"),
        )
        .orderBy(F.col("h").asc_nulls_last(), F.col("i").asc_nulls_last())
        .limit(k)
        .collect()
    )
    return [list(r["q"]) for r in rows]


def auto_k(n: int, target_rows_per_cluster: int) -> int:
    """The SemDeDup-regime cluster count: k = ceil(n / target), so
    cluster SIZE stays bounded as the corpus grows (k ∝ n — Abbas et
    al.'s regime), which is what keeps the within-cluster (n/k)² pair
    search linear overall. Exact integer arithmetic — the DuckDB twin
    computes the identical k as ``(COUNT(*) + t - 1) // t``."""
    if target_rows_per_cluster < 1:
        raise ContractError("target_rows_per_cluster >= 1 required")
    return max(1, (n + target_rows_per_cluster - 1) // target_rows_per_cluster)


#: auto-k count at or above which :func:`semdedup_prune_fused`'s
#: ``mode="auto"`` runs the hierarchical two-level form (≈2·n·√k·dims)
#: instead of flat assignment (n·k·dims — the 4-tier-graded reference
#: form). Flat's constant factors win while k is small (sf0.1, k=8:
#: flat ≈1.5 s vs two-level ≈5 s); the measured regime boundary is
#: between k=800 (100×: flat 45.8 s, fine) and k=8000 (1000×: flat
#: 1263.7 s, factor 27.6 — the wall). 1024 splits the measured-good
#: from the measured-bad octave.
TWO_LEVEL_MIN_K = 1024


def _fit(
    qv: DataFrame,
    k: int | None,
    target_rows_per_cluster: int | None,
    iterations: int,
    mode: str = "flat",
    two_level_min_k: int = TWO_LEVEL_MIN_K,
) -> tuple[str, list[list[int]]]:
    """The level-1 centroids over the persisted quantized vectors
    ``qv`` and the form they serve: ``(mode, cents)``, with ``cents``
    empty on an empty corpus. A pinned ``k`` runs flat Lloyd at k;
    ``k=None`` sizes k = :func:`auto_k` from one count over ``qv``,
    and ``mode="auto"`` then routes at ``two_level_min_k``. The
    two-level form seeds k₁ = ⌈√k⌉ super-clusters. Either form then
    runs ``iterations`` Lloyd rounds."""
    if (k is not None and k < 1) or iterations < 0:
        raise ContractError("k >= 1 and iterations >= 0 required")
    if mode not in ("auto", "flat", "two_level"):
        raise ContractError(f"mode must be auto|flat|two_level, not {mode!r}")
    if k is None:
        k = auto_k(qv.count(), target_rows_per_cluster)
        if mode == "auto":
            mode = "flat" if k < two_level_min_k else "two_level"
    elif mode == "two_level":
        raise ContractError(
            "a pinned k runs flat Lloyd: the two-level form sizes itself "
            "from target_rows_per_cluster"
        )
    else:
        mode = "flat"
    if mode == "two_level":
        k = max(1, math.ceil(math.sqrt(k)))
    cents = kmeans_seeds(qv, k)
    return mode, (_lloyd_rounds(qv, cents, iterations) if cents else [])


def kmeans_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iterations: int = 3,
    scale: int = DEFAULT_SCALE,
    target_rows_per_cluster: int | None = None,
) -> DataFrame:
    """Run ``iterations`` exact Lloyd rounds and return the final
    assignment (id, cluster, dist). ``dist`` is the squared L2
    distance in quantized units (a BIGINT — exact). An empty cluster
    keeps its previous centroid (same rule in :func:`kmeans_sql`).

    ``target_rows_per_cluster`` overrides ``k`` with
    :func:`auto_k` — the scale form: k grows with the corpus so
    cluster size (and therefore any downstream within-cluster pair
    search) stays bounded. The count that sizes k is one aggregate
    over the already-persisted quantized vectors.

    Per iteration: one scan in which each task assigns its rows AND
    accumulates per-cluster coordinate sums in numpy, emitting at most
    k·dims partial rows; those aggregate to k·dims rows and the
    centroid ints ride the driver (the MLlib/SemDeDup posture —
    centroid state is O(k), corpora are O(10¹⁰) rows). The returned
    assignment is eagerly localCheckpoint-ed (3 ints per row — the
    PageRank lineage discipline) so the quantized-vector cache can be
    released before returning instead of leaking for the session."""
    qv = quantize_vectors(df, vec_col, id_col, scale).persist()
    try:
        pinned = k if target_rows_per_cluster is None else None
        _, cents = _fit(qv, pinned, target_rows_per_cluster, iterations)
        if not cents:  # empty corpus: nothing to assign
            return qv.sparkSession.createDataFrame(
                [], "id long, cluster int, dist long"
            )
        # eager checkpoint: materializes (id, cluster, dist) — linear,
        # small — and truncates lineage off qv so the finally-block
        # unpersist can't force a recompute later
        return _assign(qv, cents).localCheckpoint(eager=True)
    finally:
        qv.unpersist()


#: loudness guard for the per-cluster pair stage: one applyInArrow
#: group holds a whole cluster, so a cluster this large (rows) means
#: k was pinned far too small for the corpus — fail with the fix named
#: instead of OOMing an executor. 2M rows × 64-dim float64 ≈ 1 GB of
#: group payload plus the (chunked) sim rows.
MAX_CLUSTER_ROWS = 2_000_000


def _level2_lloyd(sup, ids, Q, target, iterations, chunk_elems):
    """Level-2 Lloyd over ONE super-cluster's rows (Arrow int64
    ``ids``, quantized ``Q``): k₂ = ceil(m / target) sub-clusters
    seeded in (md5(id), id) order, a null id last (the global rule),
    ``iterations`` truncating-div centroid
    updates, then the final :func:`_chunked_argmin` — ``(a, dmin)``,
    the sub-cluster and squared distance of every row. ``sup`` only
    names the group in the packed-id overflow error."""
    import hashlib

    import numpy as np

    m = len(ids)
    k2 = max(1, (m + target - 1) // target)
    if k2 >= ARGMIN_PACK:
        raise ContractError(
            f"super-cluster {sup} needs k2={k2} sub-clusters "
            f">= SUBCLUSTER_STRIDE={ARGMIN_PACK}: the packed cluster "
            f"id would overflow into the super id. A group this "
            f"size ({m} rows) means level 1 collapsed — raise "
            f"target_rows_per_cluster or iterations"
        )
    ids, null = _ids(ids)
    hs = np.array([hashlib.md5(str(i).encode()).hexdigest() for i in ids])
    order = np.lexsort((ids, hs, null))
    C = Q[order[:k2]].copy()
    for _ in range(iterations):
        a, _dmin = _chunked_argmin(Q, C, chunk_elems)
        for c in range(k2):
            mask = a == c
            if mask.any():  # empty cluster keeps its centroid
                # TRUNCATING division toward zero — Spark `div` and
                # DuckDB `//` truncate; numpy's `//` floors (−7//2 = −4
                # vs −3), which with negative coordinate sums would put
                # level 2 one quantum off the module's declared
                # centroid discipline and break SQL-twin bit parity
                s = Q[mask].sum(axis=0)
                C[c] = np.sign(s) * (np.abs(s) // mask.sum())
    return _chunked_argmin(Q, C, chunk_elems)


def _two_level(src, cents, target, iterations, chunk_elems, body, schema):
    """The two-level form past its level-1 centroids ``cents`` (from
    :func:`_fit`), written once for every caller: one :func:`_assign`
    pass over ``src`` (id, q, payload…) picks each row's
    super-cluster, one shuffle groups the rows by it, and each group
    runs :func:`_level2_lloyd` and returns ``body(sup, table, a,
    dmin)`` — the caller's ``schema`` Arrow table built from the
    group's rows, their sub-cluster ids and their distances. Groups
    arrive as Arrow tables (applyInArrow), so ids stay exact int64
    beside a null id."""
    import numpy as np

    def run(key, table):
        sup = key[0].as_py()
        a, dmin = _level2_lloyd(
            sup, table.column("id"), _matrix(table.column("q"), np.int64),
            target, iterations, chunk_elems,
        )
        return body(sup, table, a, dmin)

    return (
        _assign(src, cents, keep_q=True)
        .groupBy("cluster")
        .applyInArrow(run, schema=schema)
    )


def kmeans_assign_two_level(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iterations: int = 3,
    scale: int = DEFAULT_SCALE,
    target_rows_per_cluster: int = 250,
    chunk_elems: int = LEVEL2_CHUNK_ELEMS,
) -> DataFrame:
    """Hierarchical (two-level) auto-k assignment — the declared next
    scale step past :func:`kmeans_assign` (SCALE.md "SemDeDup auto-k:
    the assignment stage is the next wall"): flat auto-k assignment
    costs n·k·dims = n²·dims/target, measured at factor 27.6 on 10×
    data at the 1000× tier. Here the corpus is first clustered into
    k₁ = ceil(√k) SUPER-clusters (one flat pass, n·√k), then each
    super-cluster is Lloyd-clustered independently into its own
    auto-k sub-clusters via one ``applyInArrow`` pass (per-group
    cost |group|·k₂·dims with k₂ ≈ |group|/target) — total ≈ 2·n·√k
    instead of n·k: the √ win, with every step still exact integer
    arithmetic (quantize → int64 matmul → first-minimum argmin →
    truncating-div centroid update → (md5, id) seed order — the
    :func:`kmeans_assign` discipline applied locally per group, so
    the result is deterministic on any engine/partitioning).

    Returns (id, cluster, dist): ``cluster`` is
    ``super · SUBCLUSTER_STRIDE + sub`` (globally unique, stride
    2²⁰ = :data:`ARGMIN_PACK`), ``dist`` the squared quantized L2 to
    the final sub-centroid. Cluster sizes stay bounded by ≈
    ``target_rows_per_cluster`` exactly as the flat auto-k form;
    :func:`semdedup_prune_fused` runs the same two-level form
    (:func:`_two_level`) with the pair search inside each group.
    Level-2 groups ride one shuffle on the super-cluster id; a
    super-cluster's rows fit one task by construction (n/√k rows —
    for 10⁸ vectors at target 250, √k ≈ 632, groups ≈ 158k rows).
    The per-group distance matrix is computed in row blocks
    (:func:`_chunked_argmin`, ``chunk_elems`` elements per block):
    per-task peak is 8·(chunk_elems + m·dims + k₂·dims) bytes —
    ~128 MB of distance block at the default for ANY group size —
    instead of the full 8·m·k₂ (~800 MB/pass at the 10⁸-vector
    regime's group shapes), so level-2 tasks fit small cluster
    executors; exactness is unaffected (argmin is row-independent).

    Oracle-graded: :func:`kmeans_two_level_sql` is the unrolled
    DuckDB twin (level 2 is the same integer Lloyd chain with every
    join/group additionally keyed by the super-cluster id), and the
    `semdedup_prune_two_level` registry entry grades the
    assignment+prune pipeline; the tests additionally pin
    determinism, bounded cluster size, blob cohesion, and the
    prune-stage contract."""
    import pyarrow as pa

    schema = "id long, cluster long, dist long"
    qv = quantize_vectors(df, vec_col, id_col, scale).persist()
    try:
        target = target_rows_per_cluster
        _, cents = _fit(qv, None, target, iterations, "two_level")
        if not cents:
            return qv.sparkSession.createDataFrame([], schema)

        def body(sup, table, a, dmin):
            return pa.table(
                {"id": table.column("id"), "cluster": sup * ARGMIN_PACK + a,
                 "dist": dmin}
            )

        return _two_level(
            qv, cents, target, iterations, chunk_elems, body, schema
        ).localCheckpoint(eager=True)
    finally:
        qv.unpersist()


def _cluster_pairs_np(ids, M, threshold: float):
    """(kept, dropped, cosine) arrays for ONE cluster's rows: every
    pair with HALF_UP-rounded cosine >= threshold, lower id kept.
    ``ids`` is the cluster's int64 id vector, ``M`` its float64 row
    matrix. Rows are sorted by id HERE, so emission never depends on
    the caller's row order. Chunked matmul bounds peak memory at
    O(chunk x n_c) exactly as the pre-r15 inline form did."""
    import numpy as np

    nrm = np.linalg.norm(M, axis=1)
    nrm[nrm == 0] = 1.0  # zero vector scores 0, never NaN
    M = M / nrm[:, None]
    order = np.argsort(ids)  # pair emission keyed by id order
    ids, M = ids[order], M[order]
    n = len(ids)
    out_a, out_b, out_c = [], [], []
    chunk = max(1, 10_000_000 // max(n, 1))
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        sims = M[lo:hi] @ M.T
        # Spark/BigDecimal HALF_UP, not numpy's half-even
        sims = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5) / 1e6
        ai, bi = np.nonzero(
            (sims >= threshold) & (ids[lo:hi, None] < ids[None, :])
        )
        if len(ai):
            out_a.append(ids[lo + ai])
            out_b.append(ids[bi])
            out_c.append(sims[ai, bi])
    if not out_a:
        return (
            np.array([], dtype=np.int64),
            np.array([], dtype=np.int64),
            np.array([], dtype=np.float64),
        )
    return (
        np.concatenate(out_a),
        np.concatenate(out_b),
        np.concatenate(out_c),
    )


def _cluster_pairs_frame(cl, table, vec_col, threshold, max_cluster_rows):
    """The pair stage's rows for one group, the Arrow ``table`` (id,
    …, ``vec_col``) whose row i sits in cluster ``cl[i]``: (cluster,
    kept_id, dropped_id, cosine, n) — one SIZE row per cluster, with
    ``n`` its row count (null ids included) and the pair columns 0,
    then every within-cluster pair from :func:`_cluster_pairs_np`,
    with ``n`` 0. Null ids (a ``cast('long')`` miss) emit no pairs. A
    cluster holding more than ``max_cluster_rows`` ids raises instead
    of running its O(n_c²) pair search. All clusters' arrays are
    concatenated into ONE table, so a task holding many (mostly
    pair-free) clusters builds no per-cluster table."""
    import numpy as np
    import pyarrow as pa

    idv, null = _ids(table.column("id"))
    V = _matrix(table.column(vec_col), np.float64)
    clusters, sizes = np.unique(cl, return_counts=True)
    zero = np.zeros(len(clusters), np.int64)
    out = {
        "cluster": [clusters],
        "kept_id": [zero],
        "dropped_id": [zero],
        "cosine": [zero.astype(np.float64)],
        "n": [sizes.astype(np.int64)],
    }
    for c in clusters:
        m = (cl == c) & ~null
        ids = idv[m]
        if len(ids) > max_cluster_rows:
            raise ContractError(
                f"cluster {c} holds {len(ids)} rows > "
                f"max_cluster_rows={max_cluster_rows}: k is pinned far "
                f"too small for this corpus — size k with "
                f"target_rows_per_cluster (`dn semdedup --target-rows`; "
                f"auto-k keeps clusters bounded), or raise "
                f"max_cluster_rows knowingly"
            )
        kept, dropped, cos = _cluster_pairs_np(ids, V[m], threshold)
        out["cluster"].append(np.full(len(kept), c, np.int64))
        out["kept_id"].append(kept)
        out["dropped_id"].append(dropped)
        out["cosine"].append(cos)
        out["n"].append(np.zeros(len(kept), np.int64))
    return pa.table({c: np.concatenate(v) for c, v in out.items()})


def semdedup_prune_fused(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | None = None,
    iterations: int = 3,
    scale: int = DEFAULT_SCALE,
    target_rows_per_cluster: int = 250,
    threshold: float = 0.9,
    mode: str = "auto",
    two_level_min_k: int = TWO_LEVEL_MIN_K,
    max_cluster_rows: int = MAX_CLUSTER_ROWS,
    chunk_elems: int = LEVEL2_CHUNK_ELEMS,
) -> tuple[DataFrame, Callable[[], dict[int, int]]]:
    """SemDeDup prune: exact fixed-point k-means over the embeddings,
    then the near-duplicate pair search restricted to cluster mates.
    Returns ``(pairs, sizes)``. ``pairs`` is (cluster, kept_id,
    dropped_id, cosine): every same-cluster pair with
    round(cosine, 6) >= threshold, keeping the lower id. Restricting
    pairs to cluster mates bounds pair volume at Σ_c C(n_c, 2) —
    SemDeDup's point: k independent (n/k)² searches instead of one
    n²; with :func:`auto_k` sizing (k ∝ n) cluster size is a
    CONSTANT, so the whole stage is linear in the corpus. ``sizes()``
    returns {cluster: rows} (null ids included) once an action has
    read the whole of ``pairs`` — the size rows ride the pair stage
    and an ``Observation`` collects them, so they cost no extra pass;
    on an empty corpus it returns {} at once. Before any action on a
    non-empty ``pairs`` it blocks.

    ``k`` pins flat Lloyd at k (the :func:`kmeans_assign` run);
    otherwise k = :func:`auto_k` from one count and ``mode`` picks the
    assignment: ``"flat"`` (auto-k flat Lloyd, the assignment
    :func:`kmeans_assign` returns), ``"two_level"`` (the
    :func:`kmeans_assign_two_level` assignment — level 2 AND the pair
    search both run inside the per-super-cluster task), or ``"auto"``
    (flat below ``two_level_min_k``, two-level at or above it).

    Physical shape: Lloyd over the persisted quantized vectors
    (centroids are O(k·dims) driver ints), then ONE pass
    (:func:`_assign`) over the source that assigns each row and
    carries its vector, and ONE cluster-key exchange into the pair
    stage, where each cluster's pairs come from one BLAS matmul over
    its own vectors (row-chunks bound peak memory at O(chunk × n_c);
    HALF_UP rounding before the threshold keeps the result
    engine-exact). The cluster id is computed next to the vector, so
    no id-keyed join re-attaches it.

    Null ids (a ``cast('long')`` miss) assign normally — they feed
    seeds, auto-k and the cluster sizes — but emit no pairs."""
    import numpy as np

    schema = "cluster long, kept_id long, dropped_id long, cosine double"
    qv = quantize_vectors(df, vec_col, id_col, scale).persist()
    try:
        target = target_rows_per_cluster
        mode, cents = _fit(qv, k, target, iterations, mode, two_level_min_k)
        if not cents:
            return df.sparkSession.createDataFrame([], schema), lambda: {}
        src = df.select(
            F.col(id_col).cast("long").alias("id"),
            _quantized(vec_col, scale).alias("q"),
            F.col(vec_col),
        )

        def frame(cl, table):
            return _cluster_pairs_frame(
                cl, table, vec_col, threshold, max_cluster_rows
            )

        staged_schema = schema + ", n long"
        if mode == "flat":
            staged = (
                _assign(src, cents)
                .groupBy("cluster")
                .applyInArrow(
                    lambda key, table: frame(
                        np.full(table.num_rows, key[0].as_py(), np.int64),
                        table,
                    ),
                    schema=staged_schema,
                )
            )
        else:
            staged = _two_level(
                src, cents, target, iterations, chunk_elems,
                lambda sup, table, a, _dmin: frame(
                    sup * ARGMIN_PACK + a, table
                ),
                staged_schema,
            )
        obs = Observation()
        staged = staged.observe(
            obs,
            F.collect_list(
                F.when(F.col("n") > 0, F.struct("cluster", "n"))
            ).alias("sizes"),
        )
        pairs = staged.where(F.col("n") == 0).drop("n")
        return pairs, lambda: {r["cluster"]: r["n"] for r in obs.get["sizes"]}
    finally:
        qv.unpersist()


#: HUGEINT pack radix for the SQL argmin: min(dist·PACK + c) picks
#: (lowest dist, ties to lowest c) in ONE streaming aggregate — no
#: n·k-row window sort. Bounds: c < 2²⁰ clusters; dist ≤ dims·(2·scale)²
#: ≈ 2.6e14 at 64 dims, so dist·PACK ≈ 2.7e20 ≪ 2¹²⁷.
ARGMIN_PACK = 1 << 20


def kmeans_sql(
    k: int = 8,
    iterations: int = 3,
    scale: int = DEFAULT_SCALE,
    source: str = "SELECT vec_id, embedding FROM embeddings",
    target_rows_per_cluster: int | None = None,
) -> str:
    """DuckDB twin of :func:`kmeans_assign`: the same integer
    fixed-point Lloyd rounds unrolled as one CTE chain, yielding
    (id, cluster, dist). Bit-identical to the Spark side — every
    arithmetic value is an integer (see module docstring).

    ``target_rows_per_cluster`` mirrors :func:`auto_k`: k becomes the
    scalar subquery ``(COUNT(*) + t - 1) // t`` — the identical
    integer ceiling the Spark side computes, so the dynamic-k (scale)
    form grades the same way the pinned-k form does.

    Formulation notes (the list-distance form): distance is computed
    per (row, centroid) as ``‖q‖² − 2·q·c + ‖c‖²`` over the quantized
    BIGINT vectors cast to DOUBLE[] — every term is an integer of
    magnitude ≤ dims·(2·scale)², carried EXACTLY in doubles up to
    dims ≈ 4000 at scale 1e6 (the Spark side is int64 and exact far
    beyond; raise this twin's exactness ceiling by lowering ``scale``
    if you ever cluster wider vectors). This keeps the per-iteration
    intermediate at n·k rows instead of the dim-exploded n·k·dims —
    the difference between 1.6e8 and 1e10 rows at the 100× tier with
    auto-k — and the argmin is a streaming ``min()`` over a
    HUGEINT-packed (dist, c) key (:data:`ARGMIN_PACK`), not a window
    sort. The centroid UPDATE still uses the (rk, dim, val) explode —
    that one is n·dims rows once per iteration, integer-exact
    truncating division, unchanged."""
    if target_rows_per_cluster is not None:
        t_ = int(target_rows_per_cluster)
        # SQL assertion: a dynamic k that reaches ARGMIN_PACK would
        # bleed the cluster id into the dist radix — fail loudly in
        # the query instead of returning silently-wrong clusters
        k_sql = (
            f"(SELECT CASE WHEN kk >= {ARGMIN_PACK} THEN CAST(error("
            f"'auto-k ' || kk || ' >= ARGMIN_PACK {ARGMIN_PACK}: the "
            f"packed argmin overflows — raise target_rows_per_cluster')"
            f" AS BIGINT) ELSE kk END FROM "
            f"(SELECT (COUNT(*) + {t_ - 1}) // {t_} AS kk FROM qv))"
        )
    else:
        if int(k) >= ARGMIN_PACK:
            raise ContractError(
                f"k={k} >= ARGMIN_PACK={ARGMIN_PACK}: the packed "
                f"argmin min(dist*PACK + c) cannot represent cluster "
                f"ids this large"
            )
        k_sql = str(int(k))
    parts = _flat_lloyd_parts(k_sql, iterations, scale, source)
    P = ARGMIN_PACK
    body = ",\n    ".join(parts)
    return _materialize_ctes(
        f"WITH {body}\n"
        f"SELECT id AS vec_id, CAST(mk % {P} AS INT) AS cluster,"
        f" CAST(mk // {P} AS BIGINT) AS dist FROM af"
    )


def _materialize_ctes(sql: str) -> str:
    """Rewrite every ``name AS (`` CTE header to ``AS MATERIALIZED``.
    The unrolled Lloyd chains reference each round's CTEs more than
    once (a{t} and cl{t} both read cl{t-1}); DuckDB's default CTE
    inlining re-expands that chain exponentially in the iteration
    count — measured 148 s for the two-level twin on 500 vectors,
    0.2 s materialized. DuckDB-only syntax, which is fine: these
    strings exist solely as DuckDB oracle twins."""
    import re

    return re.sub(r"(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def _flat_lloyd_parts(
    k_sql: str, iterations: int, scale: int, source: str
) -> list[str]:
    """The flat Lloyd CTE chain shared by :func:`kmeans_sql` and
    :func:`kmeans_two_level_sql`'s level 1: quantize (``qv``), norm
    cache (``qn``), dim explode (``ex``), seed centroids (``cl0``),
    one (assign ``a{t}``, update ``nl{t}``/``cl{t}``) round per
    iteration, and the final assignment ``af`` (rk, id, mk) where
    ``mk`` is the HUGEINT-packed (dist, cluster) argmin key. Rows are
    keyed by ``rk``, a row number of the materialized ``qv``, not by
    id, so a null id joins and groups as its own row, as every row
    does on the Spark side."""
    P = ARGMIN_PACK
    dist = (
        "CAST(n.qq - 2 * list_dot_product(n.qd, c.cvd) + c.cc AS HUGEINT)"
    )
    parts = [
        f"""qv AS (
      SELECT vec_id AS id, row_number() OVER () AS rk,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {float(scale)}) AS BIGINT)) AS q
      FROM ({source})
    )""",
        """qn AS (
      SELECT rk, id, q, CAST(q AS DOUBLE[]) AS qd,
             list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[])) AS qq
      FROM qv
    )""",
        """ex AS (
      SELECT rk, CAST(t.i AS INT) AS dim, q[t.i + 1] AS val
      FROM qv, UNNEST(range(len(q))) t(i)
    )""",
        f"""cl0 AS (
      SELECT s.rn - 1 AS c, s.q AS cv,
             CAST(s.q AS DOUBLE[]) AS cvd,
             list_dot_product(CAST(s.q AS DOUBLE[]), CAST(s.q AS DOUBLE[])) AS cc
      FROM (
        SELECT q, row_number() OVER (
          ORDER BY md5(CAST(id AS STRING)) NULLS LAST, id NULLS LAST
        ) AS rn
        FROM qv
      ) s
      WHERE s.rn <= {k_sql}
    )""",
    ]
    # one (assign, update) round per iteration — a{t} assigns against
    # cl{t-1}, nl{t}/cl{t} fold a{t} back into centroids — then ONE
    # final assignment against cl{iterations}, matching
    # kmeans_assign's "return _assign(qv, cents) after the loop".
    for t in range(1, iterations + 1):
        p = t - 1
        parts.append(
            f"""a{t} AS (
      SELECT n.rk,
             CAST(min({dist} * {P} + c.c) % {P} AS BIGINT) AS c
      FROM qn n, cl{p} c GROUP BY n.rk
    )"""
        )
        parts.append(
            f"""nl{t} AS (
      SELECT c, list(val ORDER BY dim) AS cv FROM (
        SELECT a.c, e.dim, SUM(e.val) // COUNT(*) AS val
        FROM a{t} a JOIN ex e USING (rk) GROUP BY a.c, e.dim
      ) GROUP BY c
    )"""
        )
        parts.append(
            f"""cl{t} AS (
      SELECT c, cv, CAST(cv AS DOUBLE[]) AS cvd,
             list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])) AS cc
      FROM (
        SELECT p.c, COALESCE(n.cv, p.cv) AS cv
        FROM cl{p} p LEFT JOIN nl{t} n USING (c)
      )
    )"""
        )
    parts.append(
        f"""af AS (
      SELECT n.rk, n.id, min({dist} * {P} + c.c) AS mk
      FROM qn n, cl{iterations} c GROUP BY n.rk, n.id
    )"""
    )
    return parts


def kmeans_two_level_sql(
    iterations: int = 3,
    scale: int = DEFAULT_SCALE,
    source: str = "SELECT vec_id, embedding FROM embeddings",
    target_rows_per_cluster: int = 250,
) -> str:
    """DuckDB twin of :func:`kmeans_assign_two_level`: level 1 is the
    flat unrolled chain at k₁ = max(1, ceil(√(auto-k))), level 2
    re-runs the identical integer Lloyd discipline PER super-cluster
    (every join/group keyed by ``sup`` as well), yielding
    (vec_id, cluster = sup·ARGMIN_PACK + sub, dist). Bit-identical to
    the Spark side: same quantize, same squared-L2 in exact-integer
    doubles, same packed argmin (ties to the lowest sub id — numpy's
    first-minimum), same (md5(id), id) seed order PARTITIONED by
    super-cluster, same truncating-div centroid update (the Python
    side emulates trunc over numpy's floor division), same
    empty-cluster retention, same per-group k₂ = ceil(m/target).

    k₁'s ``ceil(sqrt(...))`` is exact here: IEEE sqrt is correctly
    rounded and k ≤ 2⁵³, so Python ``math.ceil(math.sqrt(k))`` and
    DuckDB ``ceil(sqrt(k))`` agree for any plausible corpus.

    Cost shape (why this twin grades at tiers where the flat auto-k
    twin cannot): level 1 is n·k₁ = n·√k distance rows per round and
    level 2 is Σ_g m_g·k₂_g ≈ n·√k as well — at the 1000× tier
    (n=2M, k=8000) that is ~1.8e8 rows/round instead of the flat
    form's 1.6e10."""
    t_ = int(target_rows_per_cluster)
    P = ARGMIN_PACK
    # level-1 k: ceil(sqrt(auto_k(n, target))) — matches
    # kmeans_assign_two_level's max(1, math.ceil(math.sqrt(k)))
    k1_sql = (
        f"(SELECT GREATEST(1, CAST(ceil(sqrt(CAST("
        f"(COUNT(*) + {t_ - 1}) // {t_} AS DOUBLE))) AS BIGINT)) FROM qv)"
    )
    parts = _flat_lloyd_parts(k1_sql, iterations, scale, source)
    dist2 = (
        "CAST(n.qq - 2 * list_dot_product(n.qd, c.cvd) + c.cc AS HUGEINT)"
    )
    # level-2 working set: each row keeps its super-cluster from af
    parts.append(
        f"""qs AS (
      SELECT n.rk, n.id, CAST(a.mk % {P} AS BIGINT) AS sup, n.q, n.qd, n.qq
      FROM qn n JOIN af a USING (rk)
    )"""
    )
    parts.append(
        f"""k2t AS (
      SELECT sup,
             CASE WHEN (COUNT(*) + {t_ - 1}) // {t_} >= {P}
                  THEN CAST(error('k2 >= ARGMIN_PACK {P}: packed sub id '
                       || 'overflows — raise target_rows_per_cluster')
                       AS BIGINT)
                  ELSE (COUNT(*) + {t_ - 1}) // {t_} END AS k2
      FROM qs GROUP BY sup
    )"""
    )
    parts.append(
        """s0 AS (
      SELECT r.sup, r.rn - 1 AS c, r.q AS cv,
             CAST(r.q AS DOUBLE[]) AS cvd,
             list_dot_product(CAST(r.q AS DOUBLE[]), CAST(r.q AS DOUBLE[])) AS cc
      FROM (
        SELECT sup, q,
               row_number() OVER (
                 PARTITION BY sup
                 ORDER BY md5(CAST(id AS STRING)) NULLS LAST, id NULLS LAST
               ) AS rn
        FROM qs
      ) r JOIN k2t USING (sup)
      WHERE r.rn <= k2t.k2
    )"""
    )
    for t in range(1, iterations + 1):
        p = t - 1
        parts.append(
            f"""b{t} AS (
      SELECT n.rk, n.sup,
             CAST(min({dist2} * {P} + c.c) % {P} AS BIGINT) AS c
      FROM qs n JOIN s{p} c ON n.sup = c.sup GROUP BY n.rk, n.sup
    )"""
        )
        parts.append(
            f"""m{t} AS (
      SELECT sup, c, list(val ORDER BY dim) AS cv FROM (
        SELECT b.sup, b.c, e.dim, SUM(e.val) // COUNT(*) AS val
        FROM b{t} b JOIN ex e USING (rk) GROUP BY b.sup, b.c, e.dim
      ) GROUP BY sup, c
    )"""
        )
        parts.append(
            f"""s{t} AS (
      SELECT sup, c, cv, CAST(cv AS DOUBLE[]) AS cvd,
             list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])) AS cc
      FROM (
        SELECT p.sup, p.c, COALESCE(n.cv, p.cv) AS cv
        FROM s{p} p LEFT JOIN m{t} n ON p.sup = n.sup AND p.c = n.c
      )
    )"""
        )
    parts.append(
        f"""bf AS (
      SELECT n.id, n.sup, min({dist2} * {P} + c.c) AS mk
      FROM qs n JOIN s{iterations} c ON n.sup = c.sup
      GROUP BY n.rk, n.id, n.sup
    )"""
    )
    body = ",\n    ".join(parts)
    return _materialize_ctes(
        f"WITH {body}\n"
        f"SELECT id AS vec_id,"
        f" sup * {P} + CAST(mk % {P} AS BIGINT) AS cluster,"
        f" CAST(mk // {P} AS BIGINT) AS dist FROM bf"
    )
