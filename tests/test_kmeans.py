"""Exact fixed-point k-means (ops/kmeans.py): quantization semantics,
Lloyd-round behavior on crafted blobs, empty-cluster retention,
determinism, and Spark↔DuckDB bit-parity of the unrolled SQL twin."""

import duckdb
import pytest

from dragnet_spark.ops.kmeans import (
    kmeans_assign,
    kmeans_seeds,
    kmeans_sql,
    quantize_vectors,
)


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def _brute_pairs(rows, clusters, threshold):
    """Every same-cluster pair with HALF_UP-rounded cosine >= threshold,
    lower id kept, by a pure-Python search over ``rows`` (id, vector)
    and an assignment ``clusters`` (id -> cluster)."""
    import itertools
    import math

    by_id = dict(rows)
    want = set()
    for a, b in itertools.combinations(sorted(by_id), 2):
        if clusters[a] != clusters[b]:
            continue
        va, vb = by_id[a], by_id[b]
        dot = sum(x * y for x, y in zip(va, vb))
        na = math.sqrt(sum(x * x for x in va)) or 1.0
        nb = math.sqrt(sum(x * x for x in vb)) or 1.0
        c = dot / (na * nb)
        c = math.copysign(math.floor(abs(c) * 1e6 + 0.5) / 1e6, c)
        if c >= threshold:
            want.add((clusters[a], a, b, c))
    return want


def _clusters(assign):
    return {r["id"]: r["cluster"] for r in assign.collect()}


def test_quantize_floors_negatives(spark):
    df = _emb(spark, [(0, [0.5, -0.5, -0.0000005, 0.0])])
    q = quantize_vectors(df).collect()[0]["q"]
    # floor, not trunc: -0.0000005*1e6 = -0.5 -> -1
    assert q == [500000, -500000, -1, 0]


def test_two_blobs_separate(spark):
    # ids 0-2 near (1,0), ids 3-5 near (0,1): k=2 must split them
    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [1.1, -0.1]),
        (3, [0.0, 1.0]), (4, [0.1, 0.9]), (5, [-0.1, 1.1]),
    ]
    out = kmeans_assign(_emb(spark, rows), k=2, iterations=3).collect()
    by_id = {r["id"]: r["cluster"] for r in out}
    assert by_id[0] == by_id[1] == by_id[2]
    assert by_id[3] == by_id[4] == by_id[5]
    assert by_id[0] != by_id[3]
    assert all(r["dist"] >= 0 for r in out)


def test_empty_cluster_keeps_centroid_and_is_deterministic(spark):
    # 3 seeds over 2 distinct points: one cluster must go empty and
    # the run still completes with clusters in range, identically twice
    rows = [(i, [1.0, 1.0] if i % 2 else [-1.0, -1.0]) for i in range(6)]
    a = sorted(map(tuple, kmeans_assign(_emb(spark, rows), k=3, iterations=2).collect()))
    b = sorted(map(tuple, kmeans_assign(_emb(spark, rows), k=3, iterations=2).collect()))
    assert a == b
    assert {t[1] for t in a} <= {0, 1, 2}
    # the two point-groups never share a cluster
    by_id = {t[0]: t[1] for t in a}
    assert by_id[0] == by_id[2] == by_id[4]
    assert by_id[1] == by_id[3] == by_id[5]
    assert by_id[0] != by_id[1]


def test_seeds_bounded_and_deterministic(spark):
    df = quantize_vectors(_emb(spark, [(i, [float(i), 0.0]) for i in range(10)]))
    s1 = kmeans_seeds(df, 4)
    s2 = kmeans_seeds(df, 4)
    assert s1 == s2 and len(s1) == 4
    # k > n: every row becomes a seed, no error
    assert len(kmeans_seeds(df, 99)) == 10


@pytest.mark.parametrize("iters", [0, 1, 3])
def test_sql_twin_bit_parity(spark, iters):
    rows = [
        (i, [((i * 37 + d * 11) % 19 - 9) / 10.0 for d in range(8)])
        for i in range(40)
    ]
    df = _emb(spark, rows)
    got = sorted(
        (r["id"], r["cluster"], r["dist"])
        for r in kmeans_assign(df, k=4, iterations=iters).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])"
    )
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)", [(i, v) for i, v in rows]
    )
    want = sorted(
        tuple(r)
        for r in con.execute(kmeans_sql(k=4, iterations=iters)).fetchall()
    )
    assert got == want


def test_sql_twin_null_id_seeds_last(spark):
    """A null id draws last in the (md5(id), id) seed order on both
    engines (Spark sorts nulls first by default, DuckDB last) and its
    row feeds the centroid update on both, so the Spark assignment
    equals the DuckDB twin's."""
    rows = [(i, [float(i % 4), float(i // 4)]) for i in range(8)]
    rows.append((None, [9.0, -9.0]))
    df = _emb(spark, rows)
    got = {
        (r["id"], r["cluster"], r["dist"])
        for r in kmeans_assign(df, k=2, iterations=1).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    want = {tuple(r) for r in con.execute(kmeans_sql(k=2, iterations=1)).fetchall()}
    assert len(got) == 9
    assert got == want


def test_assign_keeps_ids_above_2_53_beside_a_null(spark):
    """A null id in an assignment batch leaves the batch's other ids
    exact: 2⁵³+1 is not a float64, so a pandas float conversion of the
    id column would return it as 2⁵³."""
    big = 2**53 + 1
    rows = [(big, [1.0, 0.0]), (None, [0.0, 1.0]), (5, [1.0, 1.0])]
    df = _emb(spark, rows).coalesce(1)  # one partition, one Arrow batch
    got = {r["id"] for r in kmeans_assign(df, k=2, iterations=1).collect()}
    assert got == {big, None, 5}


def test_auto_k_formula():
    from dragnet_spark.ops.kmeans import auto_k

    assert auto_k(0, 250) == 1
    assert auto_k(1, 250) == 1
    assert auto_k(250, 250) == 1
    assert auto_k(251, 250) == 2
    assert auto_k(200_000, 250) == 800
    with pytest.raises(ValueError):
        auto_k(10, 0)


def test_auto_k_sql_twin_parity(spark):
    """target_rows_per_cluster: Spark's auto_k(count) and the SQL
    scalar-subquery k must produce the identical clustering."""
    rows = [
        (i, [((i * 53 + d * 7) % 23 - 11) / 12.0 for d in range(6)])
        for i in range(55)
    ]
    df = _emb(spark, rows)
    got = sorted(
        (r["id"], r["cluster"], r["dist"])
        for r in kmeans_assign(
            df, iterations=2, target_rows_per_cluster=10
        ).collect()
    )
    # 55 rows / target 10 -> k = 6
    assert len({c for _, c, _ in got}) <= 6 and max(c for _, c, _ in got) <= 5
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)", [(i, v) for i, v in rows]
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            kmeans_sql(iterations=2, target_rows_per_cluster=10)
        ).fetchall()
    )
    assert got == want


def test_prune_pairs_matches_brute_force(spark):
    """The applyInArrow per-cluster matmul must emit exactly the
    within-cluster pairs >= threshold that a brute-force cross-check
    finds over kmeans_assign's clusters at the same pinned k
    (HALF_UP-rounded cosine, lower id kept)."""
    from dragnet_spark.ops.kmeans import semdedup_prune_fused

    rows = [
        (i, [((i * 31 + d * 13) % 17 - 8) / 9.0 for d in range(5)])
        for i in range(30)
    ]
    # duplicate a few vectors so high-cosine pairs exist
    rows += [(100 + i, list(rows[i][1])) for i in range(5)]
    df = _emb(spark, rows)
    pairs, _sizes = semdedup_prune_fused(df, k=3, iterations=2, threshold=0.8)
    got = set(map(tuple, pairs.collect()))
    want = _brute_pairs(
        rows, _clusters(kmeans_assign(df, k=3, iterations=2)), 0.8
    )
    assert got == want and len(want) >= 5


def test_kmeans_assign_job_budget(spark, job_count):
    """kmeans_assign's Spark jobs (the call plus its collect) on the
    40-row parity fixture, measured on a 4-core machine with 8
    shuffle partitions under local[8] (the test session), local[4]
    and local[2] alike: pinned k=4 costs 3 / 5 / 9 jobs at 0 / 1 / 3
    iterations, and auto-k (target 10) 6 / 8 / 12 — a Lloyd round is
    2 jobs either way."""
    rows = [
        (i, [((i * 37 + d * 11) % 19 - 9) / 10.0 for d in range(8)])
        for i in range(40)
    ]
    df = _emb(spark, rows)

    def jobs(**kw):
        return {
            it: job_count(lambda: kmeans_assign(df, iterations=it, **kw).collect())
            for it in (0, 1, 3)
        }

    assert jobs(k=4) == {0: 3, 1: 5, 3: 9}
    assert jobs(target_rows_per_cluster=10) == {0: 6, 1: 8, 3: 12}


def test_kmeans_assign_releases_cache(spark):
    """kmeans_assign must not leak the quantized-vector cache: after
    the call returns (eager localCheckpoint), no RDD from it remains
    persisted."""
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    out = kmeans_assign(
        _emb(spark, [(i, [float(i % 5), 1.0]) for i in range(40)]),
        k=2,
        iterations=1,
    )
    assert out.count() == 40
    # localCheckpoint blocks register as RDDs; allow those, but the
    # qv persist (a cached DataFrame plan) must be gone: re-running
    # with the same session must not accumulate cached plans
    import re as _re

    cached = spark.sparkContext._jsc.getPersistentRDDs()
    # every remaining persisted entry must be a checkpoint block, not
    # the qv cache (checkpointed RDDs show as LocalCheckpointedRDD /
    # MapPartitionsRDD without a query-plan cache)
    assert len(cached) - before <= 1


def test_prune_pairs_giant_cluster_guard(spark):
    """A cluster bigger than max_cluster_rows must fail loudly naming
    auto-k (the library option and the CLI flag), not OOM an
    executor."""
    from dragnet_spark.ops.kmeans import semdedup_prune_fused

    rows = [(i, [float(i), 1.0]) for i in range(50)]
    pairs, _sizes = semdedup_prune_fused(
        _emb(spark, rows), k=1, iterations=0, threshold=0.5,
        max_cluster_rows=10,
    )
    with pytest.raises(
        Exception,
        match=r"target_rows_per_cluster \(`dn semdedup --target-rows`",
    ):
        pairs.collect()


@pytest.mark.parametrize("iters", [1, 2])
def test_two_level_sql_twin_bit_parity(spark, iters):
    """kmeans_assign_two_level vs its unrolled DuckDB twin — exact
    tuple equality. The corpus mixes positive and NEGATIVE
    coordinates so per-cluster coordinate sums go negative, pinning
    the truncating-division centroid update (numpy floor division
    would diverge by one quantum here)."""
    from dragnet_spark.ops.kmeans import (
        kmeans_assign_two_level,
        kmeans_two_level_sql,
    )

    rows = [
        (i, [((i * 41 + d * 17) % 21 - 10) / 10.0 for d in range(6)])
        for i in range(70)
    ]
    df = _emb(spark, rows)
    got = sorted(
        (r["id"], r["cluster"], r["dist"])
        for r in kmeans_assign_two_level(
            df, iterations=iters, target_rows_per_cluster=8
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)", [(i, v) for i, v in rows]
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            kmeans_two_level_sql(
                iterations=iters, target_rows_per_cluster=8
            )
        ).fetchall()
    )
    assert got == want and len(got) == 70
    # 70 rows / target 8 -> k = 9, k1 = 3 supers; cluster ids are
    # packed sup*2^20 + sub, so at least two distinct supers appear
    assert len({c >> 20 for _, c, _ in got}) >= 2


def test_two_level_trunc_div_negative_sums():
    """The level-2 centroid update must truncate toward zero (Spark
    div / DuckDB //), not floor: a two-point sub-cluster at (-3) and
    (-4) must update to -3 (trunc(-7/2)), not numpy's -4."""
    import numpy as np

    s = np.array([-7, 7, -1, 0], dtype=np.int64)
    cnt = 2
    got = np.sign(s) * (np.abs(s) // cnt)
    assert got.tolist() == [-3, 3, 0, 0]
    # the numpy floor form this replaced would give -4 / -1
    assert (s // cnt).tolist() == [-4, 3, -1, 0]


def test_kmeans_sql_pinned_k_pack_guard():
    """kmeans_sql must refuse a pinned k that overflows the packed
    argmin radix instead of silently corrupting cluster ids."""
    from dragnet_spark.ops.kmeans import ARGMIN_PACK

    with pytest.raises(ValueError, match="ARGMIN_PACK"):
        kmeans_sql(k=ARGMIN_PACK)


def test_semdedup_prune_auto_routes_by_k(spark):
    """mode="auto": below two_level_min_k the fused prune runs the
    flat assignment (kmeans_assign at the same auto-k); at or above
    it, the two-level one (kmeans_assign_two_level). At threshold -1
    the pairs are every same-cluster pair, so pairs and sizes
    together pin the routed assignment's cluster ids and members."""
    from collections import Counter

    from dragnet_spark.ops.kmeans import (
        kmeans_assign_two_level,
        semdedup_prune_fused,
    )

    rows = [
        (i, [((i * 29 + d * 13) % 19 - 9) / 10.0 for d in range(6)])
        for i in range(60)
    ]
    df = _emb(spark, rows)

    def routed(min_k):
        pairs, sizes = semdedup_prune_fused(
            df, iterations=2, target_rows_per_cluster=10, threshold=-1.0,
            two_level_min_k=min_k,
        )
        return set(map(tuple, pairs.collect())), sizes()

    def expected(assign):
        cl = _clusters(assign)
        return _brute_pairs(rows, cl, -1.0), dict(Counter(cl.values()))

    # 60 rows / target 10 -> k = 6 < min_k -> flat
    flat = routed(1000)
    assert flat == expected(
        kmeans_assign(df, iterations=2, target_rows_per_cluster=10)
    )
    # force the two-level branch with min_k=2
    two = routed(2)
    assert two == expected(
        kmeans_assign_two_level(df, iterations=2, target_rows_per_cluster=10)
    )
    assert two != flat


def test_round6_parity_numpy_spark_duckdb(spark):
    """The prune stage's HALF_UP emulation (sign·floor(|x|·1e6+0.5))
    must agree with Spark F.round and DuckDB round at the 6th decimal
    — including exact-tie constructions (7th decimal = 5) and the
    cosine op-order question (row-normalize-then-dot vs DuckDB's
    list_cosine_similarity): any disagreement here would flap the
    semdedup value-hash grade at threshold boundaries."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    vals = []
    for k in (1234565, 9000005, 15, 5, 9999995):
        vals += [k / 1e7, -k / 1e7]
    rng = np.random.RandomState(0)
    vals += [float(v) for v in np.round(rng.uniform(-1, 1, 300), 7)]
    vals += [float(v) for v in rng.uniform(-1, 1, 300)]
    emu = [
        float(np.sign(v) * np.floor(np.abs(v) * 1e6 + 0.5) / 1e6)
        for v in vals
    ]
    con = duckdb.connect()
    duck = [
        con.execute("SELECT round(?::DOUBLE, 6)", [v]).fetchone()[0]
        for v in vals
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, x double"
    )
    sp = {
        r["i"]: r["r"]
        for r in df.select("i", F.round("x", 6).alias("r")).collect()
    }
    for i, v in enumerate(vals):
        assert emu[i] == duck[i] == sp[i], (v, emu[i], duck[i], sp[i])
    # cosine op order: the matmul path's normalize-then-dot must match
    # DuckDB's list_cosine_similarity after rounding, in the near-dup
    # regime where the graded thresholds live
    A = rng.standard_normal((60, 16))
    B = A + rng.standard_normal((60, 16)) * 0.01
    na = A / np.linalg.norm(A, axis=1)[:, None]
    nb = B / np.linalg.norm(B, axis=1)[:, None]
    c_norm = np.sign((na * nb).sum(axis=1)) * np.floor(
        np.abs((na * nb).sum(axis=1)) * 1e6 + 0.5
    ) / 1e6
    for i in range(60):
        want = con.execute(
            "SELECT round(list_cosine_similarity(?::DOUBLE[], ?::DOUBLE[]), 6)",
            [A[i].tolist(), B[i].tolist()],
        ).fetchone()[0]
        assert c_norm[i] == want, (i, c_norm[i], want)


def test_two_level_assign_bounded_deterministic(spark):
    """kmeans_assign_two_level: every cluster bounded near the target,
    bit-identical across runs and partitionings, same-blob cohesion,
    and the prune stage consumes it unchanged."""
    import numpy as np

    from dragnet_spark.ops.kmeans import (
        kmeans_assign_two_level,
        semdedup_prune_fused,
    )

    rng = np.random.RandomState(11)
    # two well-separated blobs of 60, plus 5 exact-dup pairs
    blob_a = rng.standard_normal((60, 8)) * 0.05 + 5.0
    blob_b = rng.standard_normal((60, 8)) * 0.05 - 5.0
    rows = [(i, blob_a[i].tolist()) for i in range(60)]
    rows += [(100 + i, blob_b[i].tolist()) for i in range(60)]
    rows += [(500 + i, blob_a[i].tolist()) for i in range(5)]  # dups of 0..4
    df = _emb(spark, rows)
    out1 = sorted(
        map(tuple, kmeans_assign_two_level(
            df, iterations=2, target_rows_per_cluster=20
        ).collect())
    )
    out2 = sorted(
        map(tuple, kmeans_assign_two_level(
            df.repartition(7), iterations=2, target_rows_per_cluster=20
        ).collect())
    )
    assert out1 == out2 and len(out1) == 125
    from collections import Counter

    sizes = Counter(c for _, c, _ in out1)
    # bounded: auto-k level 2 targets 20/cluster; tolerate skewed fills
    assert max(sizes.values()) <= 3 * 20
    by_id = {i: c for i, c, _ in out1}
    # exact duplicates land in the same cluster (their vectors are
    # identical, so every distance comparison is identical)
    for i in range(5):
        assert by_id[500 + i] == by_id[i]
    # the two-level prune finds the planted dups
    pairs, _sizes = semdedup_prune_fused(
        df, iterations=2, target_rows_per_cluster=20, threshold=0.999,
        mode="two_level",
    )
    got = {(r["kept_id"], r["dropped_id"]) for r in pairs.collect()}
    assert {(i, 500 + i) for i in range(5)} <= got


def test_level2_chunked_argmin_exact():
    """The row-blocked distance pass must be bit-identical to the
    full-matrix form at ANY block size (argmin is row-independent;
    first-minimum tie rule survives block splits)."""
    import numpy as np

    from dragnet_spark.ops.kmeans import _chunked_argmin

    rng = np.random.RandomState(3)
    Q = rng.randint(-1000, 1000, size=(501, 16)).astype(np.int64)
    C = rng.randint(-1000, 1000, size=(37, 16)).astype(np.int64)
    # plant exact ties so the first-minimum rule is exercised
    C[5] = C[11]
    d_full = (
        (Q * Q).sum(axis=1)[:, None] - 2 * (Q @ C.T)
        + (C * C).sum(axis=1)[None, :]
    )
    a_full = d_full.argmin(axis=1)
    dm_full = d_full[np.arange(len(Q)), a_full]
    for chunk_elems in (1, 37, 64, 1000, 10**9):
        a, dm = _chunked_argmin(Q, C, chunk_elems)
        assert (a == a_full).all() and (dm == dm_full).all(), chunk_elems


def test_two_level_assignment_invariant_under_chunking(spark):
    """kmeans_assign_two_level under a deliberately tiny distance-block
    budget (chunk_elems=64 → hundreds of blocks per group, the
    small-executor memory posture) must produce the identical
    assignment as the default — the r11 memory-cliff fix must be a
    pure memory bound, never a result change."""
    import numpy as np

    from dragnet_spark.ops.kmeans import kmeans_assign_two_level

    rng = np.random.RandomState(9)
    blobs = rng.standard_normal((6, 8)) * 10
    rows = [
        (i, (blobs[i % 6] + rng.standard_normal(8) * 0.1).tolist())
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = {
        (r["id"], r["cluster"], r["dist"])
        for r in kmeans_assign_two_level(
            df, target_rows_per_cluster=20
        ).collect()
    }
    tiny = {
        (r["id"], r["cluster"], r["dist"])
        for r in kmeans_assign_two_level(
            df, target_rows_per_cluster=20, chunk_elems=64
        ).collect()
    }
    assert tiny == base and len(base) == 600


def test_update_partials_match_exploded_form(spark):
    """The fused assignment+partial-sums pass (_update_partials) must
    reproduce the retired posexplode→groupBy centroid sums bit for
    bit: same per-(cluster, dim) totals and counts, clusters with no
    members absent, across multiple partitions and ragged batches."""
    import numpy as np

    from pyspark.sql import functions as F

    from dragnet_spark.ops.kmeans import _assign, _update_partials, quantize_vectors

    rng = np.random.RandomState(3)
    rows = [(i, (rng.standard_normal(5) * (1 + i % 4)).tolist()) for i in range(257)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = quantize_vectors(df).repartition(7)
    cents = [list(q) for q in
             (rng.standard_normal((4, 5)) * 1e6).astype(np.int64).tolist()]
    got = {
        (r["cluster"], r["dim"]): (r["s"], r["n"])
        for r in _update_partials(qv, cents)
        .groupBy("cluster", "dim")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    }
    want = {
        (r["cluster"], r["dim"]): (r["s"], r["n"])
        for r in _assign(qv, cents, keep_q=True)
        .select("cluster", F.posexplode("q").alias("dim", "val"))
        .groupBy("cluster", "dim")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_update_partials_empty_partitions(spark):
    """Partitions with zero rows must emit nothing (not malformed
    empty frames), and a centroid no row chooses must be absent."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.kmeans import _update_partials, quantize_vectors

    df = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [0.9, 1.1])],
        "vec_id long, embedding array<double>",
    )
    qv = quantize_vectors(df).repartition(8)  # most partitions empty
    cents = [[1_000_000, 1_000_000], [-9_000_000, -9_000_000]]
    out = (
        _update_partials(qv, cents)
        .groupBy("cluster", "dim")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    got = {(r["cluster"], r["dim"]): (r["s"], r["n"]) for r in out}
    assert set(got) == {(0, 0), (0, 1)}
    assert got[(0, 0)] == (1_000_000 + 900_000, 2)
    assert got[(0, 1)] == (1_000_000 + 1_100_000, 2)


@pytest.mark.parametrize("mode", ["flat", "two_level", "auto"])
def test_semdedup_prune_fused_matches_composed(spark, mode):
    """semdedup_prune_fused must emit exactly the pairs (same HALF_UP
    cosine, same packed cluster ids) that a brute-force search finds
    over the assignment its mode names: kmeans_assign (flat),
    kmeans_assign_two_level (two_level); auto at two_level_min_k=4
    must equal the forced two-level run, and at the default switch
    the forced flat run. 60 rows / target 8 forces multi-cluster
    groups; duplicated+near vectors force pairs above and below the
    threshold."""
    from dragnet_spark.ops.kmeans import (
        kmeans_assign_two_level,
        semdedup_prune_fused,
    )

    rows = []
    for i in range(60):
        base = [1.0, 0.0] if i % 3 == 0 else (
            [0.0, 1.0] if i % 3 == 1 else [0.7, 0.7]
        )
        rows.append((i, [base[0] + (i % 7) * 0.01, base[1] - (i % 5) * 0.01]))
    df = _emb(spark, rows)
    target, iters, thr = 8, 2, 0.9

    def fused(mode, **kw):
        pairs, _sizes = semdedup_prune_fused(
            df, iterations=iters, target_rows_per_cluster=target,
            threshold=thr, mode=mode, **kw,
        )
        return set(map(tuple, pairs.collect()))

    if mode == "auto":
        assert fused("auto", two_level_min_k=4) == fused("two_level")
        assert fused("auto") == fused("flat")
        return
    if mode == "flat":
        assign = kmeans_assign(
            df, iterations=iters, target_rows_per_cluster=target
        )
    else:
        assign = kmeans_assign_two_level(
            df, iterations=iters, target_rows_per_cluster=target
        )
    want = _brute_pairs(rows, _clusters(assign), thr)
    assert len(want) > 0  # the fixture must actually exercise pairs
    assert fused(mode) == want


def test_semdedup_prune_fused_null_ids_mirror_join(spark):
    """A null id (cast miss) must feed seeds/auto-k and the cluster
    sizes (it counts) but emit no pairs."""
    from dragnet_spark.ops.kmeans import semdedup_prune_fused

    rows = [(i, [1.0 + i * 0.001, 0.5]) for i in range(12)]
    df = spark.createDataFrame(
        [(i, v) for i, v in rows] + [(None, [1.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    cl = _clusters(kmeans_assign(df, iterations=2, target_rows_per_cluster=5))
    want = _brute_pairs(rows, cl, 0.9)
    pairs, _sizes = semdedup_prune_fused(
        df, iterations=2, target_rows_per_cluster=5, threshold=0.9,
        mode="flat",
    )
    got = set(map(tuple, pairs.collect()))
    assert len(want) > 0
    assert got == want
    assert all(r[1] is not None and r[2] is not None for r in got)


@pytest.mark.parametrize("mode", ["flat", "two_level"])
def test_semdedup_prune_fused_keeps_ids_above_2_53_beside_a_null(spark, mode):
    """A null id in a cluster's group leaves the group's other ids
    exact in the pairs: 2⁵³+1 and 2⁵³+3 are not float64s, so a pandas
    conversion of the id column would return them as 2⁵³ and 2⁵³+4."""
    from dragnet_spark.ops.kmeans import semdedup_prune_fused

    big = 2**53 + 1
    rows = [(big, [1.0, 0.0]), (big + 2, [1.0, 0.001]),
            (None, [1.0, 0.002]), (5, [0.0, 1.0])]
    df = _emb(spark, rows).coalesce(1)
    pairs, sizes = semdedup_prune_fused(
        df, iterations=1, target_rows_per_cluster=10, threshold=0.9,
        mode=mode,
    )
    got = [tuple(r)[1:3] for r in pairs.collect()]
    assert got == [(9007199254740993, 9007199254740995)]
    assert sum(sizes().values()) == 4


@pytest.mark.parametrize("mode", ["k", "flat", "two_level", "auto"])
def test_semdedup_prune_fused_sizes(spark, mode):
    """sizes() equals groupBy("cluster").count() of the assignment the
    mode runs — a null id included — once the pairs have been acted
    on."""
    from pyspark.sql import functions as F

    from dragnet_spark.ops.kmeans import (
        kmeans_assign_two_level,
        semdedup_prune_fused,
    )

    rows = [
        (i, [((i * 29 + d * 13) % 19 - 9) / 10.0 for d in range(6)])
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows + [(None, [0.3] * 6)], "vec_id long, embedding array<float>"
    )
    kw = dict(iterations=2, target_rows_per_cluster=10)
    if mode == "k":
        assign = kmeans_assign(df, k=5, iterations=2)
        pairs, sizes = semdedup_prune_fused(df, k=5, iterations=2)
    elif mode == "two_level":
        assign = kmeans_assign_two_level(df, **kw)
        pairs, sizes = semdedup_prune_fused(df, mode=mode, **kw)
    else:
        assign = kmeans_assign(df, **kw)
        pairs, sizes = semdedup_prune_fused(df, mode=mode, **kw)
    pairs.collect()
    want = {
        r["cluster"]: r["n"]
        for r in assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sizes() == want and sum(want.values()) == 61


def test_semdedup_prune_fused_empty(spark):
    """An empty corpus yields no pairs and empty sizes in every mode,
    and sizes() returns without any action on the pairs."""
    from dragnet_spark.ops.kmeans import semdedup_prune_fused

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    for kw in ({"mode": "auto"}, {"mode": "two_level"}, {"k": 8}):
        pairs, sizes = semdedup_prune_fused(df, **kw)
        assert sizes() == {}
        assert pairs.collect() == []
