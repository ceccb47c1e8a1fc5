"""Connected-components semantics on crafted graphs."""

import pytest

from dragnet_spark.ops.graph import connected_components, dedup_cluster_assignments


def _cc(spark, n_ids, edges):
    ids = spark.createDataFrame([(i,) for i in range(n_ids)], "id long")
    e = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
    if not edges:
        e = e.limit(0)
    out = connected_components(ids, e)
    return {r["id"]: r["component"] for r in out.collect()}

def test_chain_and_singleton(spark):
    # 0-1-2-3 chain (diameter > 1 forces multiple rounds), 4-5 pair, 6 alone
    got = _cc(spark, 7, [(0, 1), (1, 2), (2, 3), (4, 5)])
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6}


def test_no_edges_all_singletons(spark):
    assert _cc(spark, 4, []) == {i: i for i in range(4)}


def test_direction_irrelevant(spark):
    # edge given high→low still pulls the cluster to the low id
    assert _cc(spark, 3, [(2, 1), (1, 0)]) == {0: 0, 1: 0, 2: 0}


def test_nonconvergence_raises(spark):
    ids = spark.createDataFrame([(i,) for i in range(4)], "id long")
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(ids, e, max_iter=1)


def test_cluster_assignments_keeper_flag(spark):
    df = spark.createDataFrame([(i,) for i in (7, 8, 9, 10)], "doc_id long")
    pairs = spark.createDataFrame([(8, 9)], "id_a long, id_b long")
    got = {
        r["doc_id"]: (r["canonical_id"], r["is_canonical"])
        for r in dedup_cluster_assignments(df, "doc_id", pairs).collect()
    }
    assert got == {7: (7, True), 8: (8, True), 9: (8, False), 10: (10, True)}


def _pagerank_py(n_ids, edges, iterations=4, d=85, S=10**12):
    """Pure-Python twin of the exact integer fixed-point iteration."""
    sym = set()
    for a, b in edges:
        sym.add((a, b))
        sym.add((b, a))
    deg = {}
    for s, _ in sym:
        deg[s] = deg.get(s, 0) + 1
    n = len(n_ids)
    r = {i: S // n for i in n_ids}
    for _ in range(iterations):
        contrib = {i: 0 for i in n_ids}
        for s, t in sym:
            contrib[t] += r[s] // deg[s]
        dang = sum(r[i] for i in n_ids if i not in deg)
        base = ((100 - d) * S) // (100 * n)
        r = {
            i: base + (d * (contrib[i] + dang // n)) // 100
            for i in n_ids
        }
    return {i: r[i] / S for i in n_ids}


def test_pagerank_star_center_wins_and_matches_python_twin(spark):
    from dragnet_spark.ops.graph import pagerank

    # star: 0 at the center of 1..4, plus isolated 5 (dangling)
    ids = list(range(6))
    edges = [(0, 1), (0, 2), (0, 3), (0, 4)]
    nodes = spark.createDataFrame([(i,) for i in ids], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.pagerank for r in pagerank(nodes, e).collect()}
    want = _pagerank_py(ids, edges)
    assert got == want  # bit-exact, not approximately equal
    assert got[0] == max(got.values())  # the hub dominates
    assert got[1] == got[2] == got[3] == got[4]  # leaves symmetric
    assert got[5] < got[1]  # the isolate holds only base + dangling share


def test_pagerank_no_edges_is_uniform(spark):
    from dragnet_spark.ops.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    e = spark.createDataFrame([], "id_a long, id_b long")
    got = {r.id: r.pagerank for r in pagerank(nodes, e).collect()}
    want = _pagerank_py(list(range(5)), [])
    assert got == want
    assert len(set(got.values())) == 1


def test_minlabel_closure_sql_matches_engine_on_long_chain(spark):
    """The unrolled pointer-jump oracle converges on a diameter-60
    chain (needs log-doubling; plain 12-round propagation would not
    reach) and matches connected_components exactly."""
    import duckdb

    from dragnet_spark.ops.graph import (
        connected_components,
        minlabel_closure_sql,
    )

    n = 61
    chain = [(i, i + 1) for i in range(100, 100 + n - 1)]  # one chain
    iso = [(500,), (501,)]
    ids = [(i,) for i in range(100, 100 + n)] + iso
    nodes = spark.createDataFrame(ids, "id long")
    e = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {
        (r.id, r.component)
        for r in connected_components(nodes, e, max_iter=70).collect()
    }
    con = duckdb.connect()
    ids_sql = "SELECT * FROM (VALUES " + ",".join(
        f"({i})" for i, in ids
    ) + ") t(id)"
    pairs_sql = "SELECT * FROM (VALUES " + ",".join(
        f"({a},{b})" for a, b in chain
    ) + ") t(id_a, id_b)"
    want = set(
        con.execute(minlabel_closure_sql(ids_sql, pairs_sql)).fetchall()
    )
    assert got == want
    assert all(c == 100 for i, c in got if 100 <= i < 100 + n)


def _tri(spark, edges):
    from dragnet_spark.ops.graph import triangle_counts
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    return {r["id"]: r["n_triangles"] for r in triangle_counts(e).collect()}


def test_triangle_single(spark):
    assert _tri(spark, [(0, 1), (1, 2), (2, 0)]) == {0: 1, 1: 1, 2: 1}


def test_triangle_square_has_none(spark):
    assert _tri(spark, [(0, 1), (1, 2), (2, 3), (3, 0)]) == {}


def test_triangle_k4(spark):
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    # K4: C(3,2)=3 triangles per node, 4 total
    assert _tri(spark, edges) == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_dup_and_reversed_edges_collapse(spark):
    got = _tri(spark, [(0, 1), (1, 0), (1, 2), (2, 0), (0, 2), (1, 1)])
    assert got == {0: 1, 1: 1, 2: 1}


def test_triangle_star_hub_has_none(spark):
    # degree-oriented: all edges point INTO the hub, no wedges close
    assert _tri(spark, [(9, i) for i in range(6)]) == {}


def test_triangle_sql_twin(spark):
    import duckdb
    from dragnet_spark.ops.graph import triangle_counts_sql
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5) if (a + b) % 3]
    got = _tri(spark, edges)
    con = duckdb.connect()
    con.execute("CREATE TABLE p (id_a BIGINT, id_b BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", edges)
    want = dict(con.execute(
        triangle_counts_sql("SELECT id_a, id_b FROM p")).fetchall())
    assert got == want


def test_triangle_include_zero_nodes(spark):
    """include_zero_nodes=True: one row per edge-incident node, with
    explicit zeros for triangle-free ones (a square + one triangle)."""
    from dragnet_spark.ops.graph import triangle_counts

    edges = [(0, 1), (1, 2), (2, 3), (3, 0),  # square: no triangles
             (10, 11), (11, 12), (12, 10)]     # triangle
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["id"]: r["n_triangles"]
        for r in triangle_counts(e, include_zero_nodes=True).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 1, 11: 1, 12: 1}


def test_personalized_pagerank_twin_and_semantics(spark):
    """PPR: restart mass only at seeds, unreachable non-seeds exactly
    0, bit-parity with the DuckDB twin."""
    import duckdb

    from dragnet_spark.ops.graph import pagerank, personalized_pagerank_sql

    # component A: 0-1-2 (seed 0); component B: 10-11 (no seed)
    edges = [(0, 1), (1, 2), (10, 11)]
    nodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 10, 11, 20]], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    seeds = spark.createDataFrame([(0,), (20,)], "id long")  # 20: isolated seed
    got = sorted(
        (r["id"], r["pagerank"])
        for r in pagerank(nodes, e, seeds, iterations=3).collect()
    )
    by_id = dict(got)
    assert by_id[10] == 0.0 and by_id[11] == 0.0  # unreachable from seeds
    assert by_id[0] > by_id[2] > 0  # closer to seed -> higher
    assert by_id[20] > 0  # isolated seed keeps restart + dangling mass
    con = duckdb.connect()
    nodes_sql = "SELECT * FROM (VALUES (0),(1),(2),(10),(11),(20)) t(id)"
    pairs_sql = "SELECT * FROM (VALUES (0,1),(1,2),(10,11)) t(id_a, id_b)"
    seeds_sql = "SELECT * FROM (VALUES (0),(20)) t(id)"
    want = sorted(
        (int(i), float(r))
        for i, r in con.execute(
            personalized_pagerank_sql(nodes_sql, pairs_sql, seeds_sql, iterations=3)
        ).fetchall()
    )
    assert got == want


def test_personalized_pagerank_requires_seeds(spark):
    import pytest as _pytest

    from dragnet_spark.ops.graph import pagerank

    nodes = spark.createDataFrame([(0,)], "id long")
    e = spark.createDataFrame([(0, 0)], "id_a long, id_b long")
    empty = spark.createDataFrame([], "id long")
    with _pytest.raises(ValueError, match="seed"):
        pagerank(nodes, e, empty)


# the 11-node job-count graph: two components, a dangling isolate (10)
_JOB_EDGES = [(0, 1), (0, 2), (0, 3), (1, 2), (3, 4), (5, 6), (6, 7),
              (8, 9), (2, 8)]


def test_pagerank_every_node_seeded_is_classic_pagerank(spark):
    """seeds = every node is classic PageRank, row for row and bit for
    bit: the same base, restart and dangling recurrence."""
    from dragnet_spark.ops.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(11)], "id long")
    e = spark.createDataFrame(_JOB_EDGES, "id_a long, id_b long")
    classic = sorted(tuple(r) for r in pagerank(nodes, e).collect())
    seeded = sorted(tuple(r) for r in pagerank(nodes, e, nodes).collect())
    assert seeded == classic
    assert dict(classic) == _pagerank_py(list(range(11)), _JOB_EDGES)


def test_pagerank_zero_nodes_returns_zero_rows(spark):
    from dragnet_spark.ops.graph import pagerank

    nodes = spark.createDataFrame([], "id long")
    e = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    assert pagerank(nodes, e).collect() == []


def test_pagerank_job_budget_seeded_and_classic(spark, job_count):
    """One rank loop for both forms, pinned by Spark job counts (the
    ranking call plus its collect) on the 11-node graph, measured on 4
    cores (also 2 and 8) with 8 shuffle partitions:

    ============  ===========  ===========  ===========
    iterations    0            1            4
    ============  ===========  ===========  ===========
    pagerank      6            9            18
    seeded        7 (was 11)   10 (was 14)  19 (was 23)
    ============  ===========  ===========  ===========

    Classic PageRank's counts are the ones the separate loop had. The
    seeded setup costs at most 2 jobs more (measured: 1, the seed side
    of the setup join); the separate TrustRank loop paid 5 more,
    because its seed count and seed join ran outside the setup
    checkpoint. A round costs the same 3 jobs in both forms."""
    from dragnet_spark.ops.graph import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(11)], "id long")
    e = spark.createDataFrame(_JOB_EDGES, "id_a long, id_b long")
    seeds = spark.createDataFrame([(0,), (10,)], "id long")

    def jobs(seeded: bool, iterations: int) -> int:
        s = seeds if seeded else None
        return job_count(
            lambda: pagerank(nodes, e, s, iterations=iterations).collect()
        )

    classic = {k: jobs(False, k) for k in (0, 1, 4)}
    seeded = {k: jobs(True, k) for k in (0, 1)}
    assert classic == {0: 6, 1: 9, 4: 18}
    assert seeded[0] - classic[0] <= 2
    assert seeded[1] - seeded[0] == classic[1] - classic[0]


def test_clustering_coefficients(spark):
    """K4 nodes at 1.0; square nodes at 0.0; pendant node at 0.0 with
    explicit zero; SQL twin bit-parity."""
    import duckdb

    from dragnet_spark.ops.graph import (
        clustering_coefficients,
        clustering_coefficients_sql,
    )

    edges = (
        [(a, b) for a in range(4) for b in range(a + 1, 4)]  # K4
        + [(10, 11), (11, 12), (12, 13), (13, 10)]           # square
        + [(0, 20)]                                          # pendant on K4
    )
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = sorted(tuple(r) for r in clustering_coefficients(e).collect())
    by_id = {t[0]: t for t in got}
    assert by_id[1] == (1, 3, 3, 1.0)  # deg 3, 3 triangles, coef 1
    assert by_id[0] == (0, 4, 3, 0.5)  # pendant dilutes: 6/(4*3)
    assert by_id[10][3] == 0.0 and by_id[20] == (20, 1, 0, 0.0)
    con = duckdb.connect()
    pairs_sql = "SELECT * FROM (VALUES " + ",".join(
        f"({a},{b})" for a, b in edges
    ) + ") t(id_a, id_b)"
    want = sorted(
        (int(i), int(d), int(t), float(c))
        for i, d, t, c in con.execute(
            clustering_coefficients_sql(pairs_sql)
        ).fetchall()
    )
    assert got == want
