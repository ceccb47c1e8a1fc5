"""Similarity search over embedding columns (array<float>).

Two paths:

* :func:`cosine_topk` — exact brute-force top-k via built-in array
  expressions (zip_with dot product). The cross join shuffles the
  smaller (query) side to every partition of the corpus — i.e. a
  broadcast nested-loop — so corpus scaling is linear and the
  heavy side never moves.
* :func:`cosine_topk_blocked` — the same result computed by a
  ``mapInArrow`` pass doing a real BLAS matmul per Arrow batch against
  a broadcast query matrix: the 100 TB path (vectorized, ~100× the
  scalar expression throughput), kept result-identical to the exact
  path so either can serve the query.

Scores are rounded to 6 decimals *before* ranking, with the neighbor
id as tie-break, so results are reproducible across engines and
summation orders.

Every numpy kernel over vectors reads its Arrow columns through
:func:`_ids` and :func:`_matrix` and passes ids through as Arrow
arrays where it can, so an id is never a float on its way (pandas
would make an id column holding a null float64 and round ids above
2⁵³). :func:`cosine_pairs` is the one exact-cosine pair search: the
all-pairs baseline, SemDeDup's per-cluster pairs and the SRP store's
bucket verify all call it.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _safe_norm(c):
    n = _norm(c)
    return F.when(n == 0, F.lit(1.0)).otherwise(n)


def _matrix(col, dtype):
    """The n × dims numpy matrix of an Arrow list column ``col`` of n
    (n ≥ 1) equal-length, non-null vectors."""
    flat = pc.list_flatten(col).to_numpy(zero_copy_only=False)
    n = len(col)
    return flat.astype(dtype, copy=False).reshape(n, len(flat) // n)


def _ids(col):
    """(ids, null): an Arrow integer id column as an exact integer
    array (a null id reads 0) and its null mask. Arrow's own conversion
    would make a column holding a null float64 and round ids above
    2⁵³."""
    return (
        pc.fill_null(col, 0).to_numpy(),
        col.is_null().to_numpy(zero_copy_only=False),
    )


def _norms(M):
    """Row L2 norms of ``M`` with a zero norm read as 1, so a zero
    vector scores 0, never NaN."""
    n = np.linalg.norm(M, axis=1)
    n[n == 0] = 1.0
    return n


def cosine_pairs(ids_a, A, ids_b, B, threshold: float):
    """(id_a, id_b, cosine) numpy arrays — int64, int64, float64 — for
    every row pair of ``A`` × ``B`` with ``id_a < id_b`` and
    round(cosine, 6) >= ``threshold``. Called as ``(ids, V, ids, V)``
    it is the within-set pair search, each unordered pair once from its
    lower-id side.

    The cosine is the Spark verify expression's formula shape, a raw
    dot over ‖a‖·‖b‖ with a zero norm read as 1, and the rounding is
    true decimal HALF_UP (``Decimal(repr(x))``: the shortest
    round-trip string Spark's ``BigDecimal`` rounding starts from, so
    exact 1e-6 midpoints round as ``F.round`` rounds them). Candidates
    are pre-selected in doubles with a full quantum of slack (a
    half-quantum bound can land a sub-ulp above the true decimal
    midpoint and drop a cosine that rounds to the threshold; a full
    1e-6 cannot), then the rounded value decides. Rows of ``A`` are
    processed in chunks, so peak memory is O(chunk × len(B)), never
    the full product. The one residual divergence from a Spark fold is
    summation order: a cosine within ~1 ulp of a rounding boundary can
    differ in the sixth decimal."""
    from decimal import ROUND_HALF_UP, Decimal

    ids_a = np.asarray(ids_a, np.int64)
    ids_b = np.asarray(ids_b, np.int64)
    na, nb = _norms(A), _norms(B)
    six = Decimal("0.000001")
    out_a, out_b, out_c = [], [], []
    chunk = max(1, 10_000_000 // max(len(B), 1))  # 80 MB of sims
    for lo in range(0, len(A), chunk):
        hi = min(lo + chunk, len(A))
        sims = (A[lo:hi] @ B.T) / (na[lo:hi, None] * nb[None, :])
        ai, bi = np.nonzero(
            (sims >= threshold - 1.0e-6) & (ids_a[lo:hi, None] < ids_b[None, :])
        )
        if len(ai):
            # repr(float(v)), not repr(v): numpy 2.x reprs scalars as
            # 'np.float64(0.5)', which Decimal rejects
            vals = np.array(
                [
                    float(Decimal(repr(float(v))).quantize(six, ROUND_HALF_UP))
                    for v in sims[ai, bi]
                ],
                dtype=np.float64,
            )
            keep = vals >= threshold
            out_a.append(ids_a[lo + ai[keep]])
            out_b.append(ids_b[bi[keep]])
            out_c.append(vals[keep])
    if not out_a:
        return (
            np.array([], np.int64), np.array([], np.int64),
            np.array([], np.float64),
        )
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_c)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For each query vector: the k nearest corpus vectors by cosine.

    Output: (query_id, neighbor_id, score, rank). Self-matches are
    excluded. ``queries`` is expected to be small (it is broadcast).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score",
            # zero-norm guard (norm 0 -> 1, score 0): without it a zero
            # vector scores NaN, which desc-sorts FIRST and tops every
            # ranking; the blocked path guards the same way
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (_safe_norm(F.col("qvec")) * _safe_norm(F.col("cvec"))),
                6,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def cosine_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 65536,
) -> DataFrame:
    """Same contract as :func:`cosine_topk`, computed as a blocked
    matrix product in ``mapInArrow`` (corpus Arrow batches × broadcast
    query matrix). This is the throughput path at scale. Both id
    columns ride as Arrow arrays (``take``), so ids of any type stay
    exact — a null id beside an id above 2⁵³ included.

    The query side is collected to the driver and broadcast, so its
    size is a hard contract: more than ``max_queries`` rows raises
    instead of silently OOMing the driver. (65536 × 768-dim float64
    ≈ 400 MB broadcast — about the ceiling a healthy driver absorbs.)
    """
    qt = queries.select(id_col, vec_col).limit(max_queries + 1).toArrow()
    if qt.num_rows > max_queries:
        raise ValueError(
            f"cosine_topk_blocked: query side exceeds max_queries="
            f"{max_queries}; shard the queries or raise the cap explicitly"
        )
    id_dt = dict(queries.dtypes)[id_col]
    qids = qt.column(id_col).combine_chunks()
    qmat = _matrix(qt.column(vec_col), np.float64) if qt.num_rows else None
    qnorm = _norms(qmat) if qt.num_rows else None
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((qids, qmat, qnorm))

    def score_block(batches):
        qids_, qmat_, qnorm_ = bq.value
        n_q = len(qids_)
        for batch in batches:
            n_c = batch.num_rows
            if not n_c or not n_q:
                continue
            cmat = _matrix(batch.column(vec_col), np.float64)
            sims = (cmat @ qmat_.T) / _norms(cmat)[:, None] / qnorm_[None, :]
            yield pa.RecordBatch.from_arrays(
                [
                    qids_.take(np.tile(np.arange(n_q), n_c)),
                    batch.column(id_col).cast(qids_.type).take(
                        np.repeat(np.arange(n_c), n_q)
                    ),
                    pa.array(np.round(sims.ravel(), 6)),
                ],
                names=["query_id", "neighbor_id", "score"],
            )

    scored = corpus.select(id_col, vec_col).mapInArrow(
        score_block,
        schema=f"query_id {id_dt}, neighbor_id {id_dt}, score double",
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def train_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 42,
):
    """K-means centroids from a bounded driver-side sample.

    The sample (not the corpus) fits the driver by construction; at
    100 TB this is the standard IVF recipe — train on a few thousand
    vectors, assign distributively. Deterministic for a fixed seed.
    Returns an (n_centroids, dims) float64 ndarray, L2-normalized.

    ``sample_size`` is the enforced driver-memory contract: the
    collect is capped by ``limit(sample_size)`` regardless of corpus
    size, and a nonsensical cap (<= 0 or large enough to endanger the
    driver) raises up front instead of OOMing mid-job.
    """
    if not (0 < sample_size <= 1_000_000):
        raise ValueError(
            f"train_centroids: sample_size={sample_size} outside the "
            "supported (0, 1e6] driver-sample range"
        )
    n = corpus.count()
    frac = min(1.0, (sample_size * 2.0) / max(n, 1))
    rows = (
        corpus.select(vec_col).sample(fraction=frac, seed=seed).limit(sample_size)
    ).collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)  # cosine on unit vectors
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def _nearest_cells_udf(centroids, n_probe: int):
    """Arrow UDF: vector → array of its n_probe nearest centroid ids."""
    from pyspark.sql.functions import arrow_udf

    C = np.asarray(centroids, dtype=np.float64)

    @arrow_udf("array<int>")
    def cells(vecs: pa.Array) -> pa.Array:
        n = len(vecs)
        if n == 0:
            return pa.array([], pa.list_(pa.int32()))
        M = _matrix(vecs, np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(M @ C.T), axis=1)[:, :n_probe].astype(np.int32)
        w = order.shape[1]
        return pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1, dtype=np.int32) * w),
            pa.array(order.ravel()),
        )

    return cells


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids=None,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index.

    Each corpus vector is assigned to its nearest centroid cell (one
    per-row matmul batch, no shuffle); each query probes its n_probe
    nearest cells; candidates = the probed cells' members, scored
    exactly and ranked. Same output contract as :func:`cosine_topk`.

    Recall rises with n_probe (n_probe == n_centroids is exhaustive
    and reproduces the exact result); the scan cost is ~n_probe /
    n_centroids of the corpus instead of all of it — the 100 TB scale
    path when even one blocked full pass per query batch is too much.
    """
    if centroids is None:
        centroids = train_centroids(
            corpus, vec_col, n_centroids=n_centroids, seed=seed
        )

    assign1 = _nearest_cells_udf(centroids, 1)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        assign1(F.col(vec_col))[0].alias("cell"),
    )
    probe = _nearest_cells_udf(centroids, n_probe)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(probe(F.col(vec_col))).alias("cell"),
    )
    cand = c.join(F.broadcast(q), "cell").filter(
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


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the k most similar corpus vectors with a DIFFERENT label — the
    negatives an embedding model learns the most from (the easy,
    far-away ones contribute ~zero gradient).

    Same shape as :func:`cosine_topk` — the (small) query side is
    broadcast and the corpus streams, so no corpus self-join — with
    the label inequality applied before ranking. Output: (query_id,
    neighbor_id, neighbor_label, score, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col(label_col).alias("qlabel"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("qlabel"))
        )
        .withColumn(
            "score",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (_safe_norm(F.col("qvec")) * _safe_norm(F.col("cvec"))),
                6,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neighbor_label", "score", "rank")
    )


# ------------------------------------------------ int8 quantization


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v|/127``,
    ``q_i = round(v_i/scale)`` ∈ [-127, 127].

    The 4× storage/IO lever for a 100 TB embedding corpus: float32
    vectors become one byte per dim plus one float scale, and cosine
    ranking degrades only marginally (the quantized ANN recall is
    pytest-pinned). Pure built-in expressions — ``transform`` over the
    array, no Python — so quantization runs as a narrow map at scan
    speed. Zero vectors keep scale 0 and all-zero codes.

    Output: (id, qvec array<int>, scale double, n_dims int).
    """
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x))).cast("double")
    scale = (amax / F.lit(127.0)).alias("scale")
    q = F.when(
        amax > 0,
        F.transform(v, lambda x: F.round(x / (amax / 127.0)).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.select(
        F.col(id_col).alias("id"),
        q.alias("qvec"),
        scale,
        F.size(v).alias("n_dims"),
    )


def dequantize_error_audit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector reconstruction-error audit of the int8 quantizer:
    ``max|v - q*scale|`` must be ≤ scale/2 (round-to-nearest's bound)
    and every code within [-127, 127]. Emitted as booleans so the
    bound — not an implementation-defined float — is the contract."""
    qdf = quantize_embeddings(df, id_col, vec_col)
    joined = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).join(qdf, "id")
    err = F.array_max(
        F.zip_with(
            "v", "qvec", lambda x, q: F.abs(x.cast("double") - q * F.col("scale"))
        )
    )
    return joined.select(
        "id",
        "n_dims",
        (err <= F.col("scale") * 0.5 + F.lit(1e-12)).alias("recon_ok"),
        (
            F.array_max(F.transform("qvec", lambda q: F.abs(q))) <= 127
        ).alias("codes_in_range"),
    )
