"""Graph operators over a near-dup (or any undirected) edge set:
connected components and canonical-doc assignment, PageRank and its
personalized form (TrustRank), per-node triangle counts and local
clustering coefficients — each with the DuckDB twin that grades it.

Pairwise near-dup detection (minhash/simhash/embedding LSH) emits
edges; deduplication needs the *transitive* clusters — if A~B and B~C,
all three are one group even when A~C never scored. Connected
components assigns every doc its cluster's minimum id as canonical;
keep-one-per-cluster is then a trivial filter.

Algorithm: iterative minimum-label propagation. Each round every node
takes the min label among itself and its neighbors; converges in
O(graph diameter) rounds. Near-dup graphs are unions of near-cliques
(LSH emits most pairs of a dup group directly), so diameter — and the
round count — is small (2-4). Each round is one join + one groupBy:
two hash shuffles on the node id, no driver-side graph state; the
only driver action is the convergence check's count. For
pathological long-chain graphs at extreme scale, the alternating
large-star/small-star variant (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14) drops rounds to O(log n); the
per-round plan shape here is the same building block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _symmetric_edges(
    edges: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """The persisted directed edge set (s, d) holding both directions
    of every undirected edge once — the message table of every
    per-round join in :func:`connected_components` and
    :func:`pagerank`. The caller unpersists it.

    Each edge EXPLODES into both directions instead of a two-branch
    self-union: the (possibly expensive — e.g. a full LSH pipeline)
    edge lineage is referenced exactly once, so no eager
    pre-materialization pass is needed — the first job that touches
    the result computes the lineage once and fills the cache, and the
    edge table is held in memory once. The rows are repartitioned by
    the per-round join key s BEFORE caching, so every round's join
    reuses the cached layout and only the (smaller) node side
    shuffles; the distinct runs AFTER the repartition — hash(s)
    co-locates every (s, d) duplicate, so the dedup aggregation reuses
    the same exchange (HashPartitioning(s) satisfies
    ClusteredDistribution(s, d)): one full-edge exchange, not two."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
                    ),
                    F.struct(
                        F.col(dst_col).alias("s"), F.col(src_col).alias("d")
                    ),
                )
            ).alias("e")
        )
        .select("e.s", "e.d")
        .repartition("s")
        .distinct()
        .persist()
    )


def connected_components(
    ids: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """(id, component) for every id, where component is the minimum id
    reachable through ``edges`` (undirected); singletons map to
    themselves. Raises after ``max_iter`` non-converged rounds rather
    than returning a partial labeling. When ``stats`` is passed, its
    ``"rounds"`` key records the executed round count (the O(diameter)
    bound, observable — tools/soak_clusters.py graphs it against
    planted chain diameters).
    """
    sym = _symmetric_edges(edges, src_col, dst_col)
    # localCheckpoint EVERY round, not just at the end: persist caches
    # the data but the LOGICAL plan still nests one union+join+agg per
    # iteration, and analyzing/compiling that exponentially-deepening
    # tree OOMed an 8 GB driver on a 441-edge graph at sf0.1. The
    # checkpoint truncates lineage to the materialized blocks each
    # round (bounded plan depth, bounded heap); superseded checkpoint
    # blocks are reference-GC'd by the ContextCleaner.
    # convergence via the label-sum invariant: min-label propagation
    # only ever DECREASES a node's label, so Σ component (exact, in
    # decimal so any int64 id magnitude at any node count is safe)
    # is strictly decreasing until the fixed point — equal sums ⟺
    # identical labels. The sum rides each round's CHECKPOINT job as
    # an observed metric (Dataset.observe / CollectMetrics is a
    # pass-through over the same rows), so the check costs ZERO extra
    # passes — the old form re-scanned the just-checkpointed label
    # table with a separate 1-row aggregation every round (and that
    # form had already replaced the r13 changed-row check, which
    # JOINED two node-sized tables per round).

    def _sum_obs():
        return Observation(), F.sum(
            F.col("component").cast("decimal(38,0)")
        ).alias("s")

    obs0, expr0 = _sum_obs()
    labels = (
        ids.select(F.col(id_col).alias("id"), F.col(id_col).alias("component"))
        .observe(obs0, expr0)
        .localCheckpoint(eager=True)
    )
    prev_sum = obs0.get["s"]
    try:
        for rounds in range(1, max_iter + 1):
            if stats is not None:
                stats["rounds"] = rounds
            msgs = sym.join(labels, sym.s == labels.id).select(
                F.col("d").alias("id"), "component"
            )
            obs, expr = _sum_obs()
            new_labels = (
                labels.union(msgs)
                .groupBy("id")
                .agg(F.min("component").alias("component"))
                .observe(obs, expr)
                .localCheckpoint(eager=True)
            )
            new_sum = obs.get["s"]
            labels = new_labels
            if new_sum == prev_sum:
                return labels
            prev_sum = new_sum
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    finally:
        sym.unpersist()


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame | None = None,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    iterations: int = 4,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """(id, pagerank): fixed-iteration personalized PageRank over an
    undirected edge set, in EXACT integer fixed-point arithmetic so
    every engine computes the same bits. The restart and the dangling
    mass re-enter only at the ``seeds`` set (ids in ``id_col``);
    ``seeds=None`` seeds every node, which is classic PageRank.

    Classic PageRank over the near-dup graph picks the best *cluster
    representative* (the doc most doc-like among its duplicates —
    min-id canonical selection keeps an arbitrary one). With seeds it
    is TrustRank (Gyöngyi et al. 2004): rank measures proximity to
    the seeds through the similarity graph — propagate a small
    human-labeled trusted (or spam) set over the near-dup/link graph
    to score the unlabeled remainder, find documents "close" to a
    known-contaminated cluster, expand a seed whitelist. Non-seed
    nodes unreachable from the seeds stay at exactly 0.

    Exactness: floating-point PageRank sums neighbor contributions in
    engine-specific order — unhashable across engines. Here ranks are
    ``scale``-scaled BIGINTs; with seed set S (|S| counts distinct
    seeds), d = ``damping_pct`` and dang = Σ_{deg(u)=0} r(u):

        r0(v) = scale div |S|                          if v ∈ S else 0
        r'(v) = [((100-d)·scale) div (100·|S|)         if v ∈ S]
                + (d·(Σ_{u→v} r(u) div deg(u)
                      [+ dang div |S|                  if v ∈ S])) div 100

    Every operation is integer (truncating ``div`` == floor on these
    non-negative values in both Spark and DuckDB), every sum is a sum
    of integers (order-independent), so K iterations are bit-identical
    anywhere. Mass leaks a few units per node per round to flooring —
    a deterministic definition, not an approximation to grade against.
    Final ``pagerank`` is r/scale: int64→double conversion and one
    power-of-ten divide, IEEE-identical in both engines (r ≤ scale
    < 2^53). Headroom: the widest intermediate is
    d·(contrib + dang div |S|) ≤ 85·scale = 8.5e13 « 2^63. DuckDB
    twins: :func:`pagerank_sql` (every node seeded) and
    :func:`personalized_pagerank_sql`.

    Raises ``ValueError`` for ``damping_pct`` outside (0, 100) and for
    a ``seeds`` frame with no rows; zero nodes and ``seeds=None``
    return zero rows.

    Scale shape: one setup pass (the eager checkpoint of the static
    per-node state), then per iteration one edge⋈rank join (src-key
    shuffle) whose messages UNION the carried rank rows into ONE
    id-keyed aggregation that rebuilds the rank table — no separate
    contribution aggregation, no rank⋈contrib join-back.
    localCheckpoint every round keeps the logical plan depth bounded
    (the connected_components lesson). The dangling mass is a
    driver-side integer recurrence, so no per-round aggregate."""
    if not (0 < damping_pct < 100):
        raise ValueError("damping_pct must be in (0, 100)")
    d = damping_pct
    # the static per-node state (id[, __seed], deg — deg NULL ⟺
    # dangling) is joined ONCE and carried through every checkpointed
    # rank row, so the per-round deg join and dangling join collapse
    # into filters on the rank table itself. Classic PageRank carries
    # no seed flag: every node takes the seed term.
    flags = [("deg", "long")]
    n_seeds, is_seed = F.count(F.lit(1)), F.lit(True)

    def by_seed(seed_term, nonseed_term):
        if seeds is None:
            return seed_term
        return F.when(F.col("__seed"), seed_term).otherwise(nonseed_term)

    sym = _symmetric_edges(edges, src_col, dst_col)
    try:
        deg = sym.groupBy(F.col("s").alias("id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        # deg's ids are unique, so the left join keeps one row per node
        state = nodes.select(F.col(id_col).alias("id")).join(
            deg, "id", "left"
        )
        if seeds is not None:
            # a FULL join, so the setup observation counts every
            # distinct seed, node or not (|S| as the SQL twin defines
            # it); the non-node seed rows are dropped right after the
            # checkpoint. Joined AFTER deg: both inputs are already
            # hash-partitioned on id (the deg join, the distinct), so
            # it adds no exchange on the node side unless AQE
            # broadcasts deg (small graphs). A broadcast LEFT join with
            # |S| observed on the seed side is no alternative: Spark
            # prunes an empty seed side, observation included
            sd = seeds.select(F.col(id_col).alias("id")).distinct()
            state = state.withColumn("__node", F.lit(True)).join(
                sd.withColumn("__seed", F.lit(True)), "id", "full"
            )
            flags = [("__seed", "boolean")] + flags
            n_seeds = F.count("__seed")
            is_seed = F.col("__node") & F.col("__seed")
        cols = ["id"] + [c for c, _ in flags]
        # |S| and the dangling-seed count ride the setup checkpoint as
        # observed metrics: the checkpoint job is the ONLY setup pass,
        # and it also fills sym's cache
        obs = Observation()
        state = state.observe(
            obs,
            n_seeds.alias("ns"),
            F.count(F.when(is_seed & F.col("deg").isNull(), 1)).alias("nd"),
        ).localCheckpoint(eager=True)
        ns, n_dang = int(obs.get["ns"]), int(obs.get["nd"])
        if seeds is not None:
            if ns == 0:
                raise ValueError("pagerank: seeds is given but holds no seed")
            state = state.where("__node")
        # the initial rank is a constant, attached as a lazy literal
        # projection AFTER the checkpoint instead of stored in it
        ranks = state.select(
            *cols,
            by_seed(
                F.lit(scale // ns if ns else 0), F.lit(0).cast("long")
            ).alias("r"),
        )
        base = ((100 - d) * scale) // (100 * ns) if ns else 0
        # The dangling mass is a DRIVER-side integer recurrence, not a
        # per-round aggregate: dangling nodes (deg NULL ⟺ no edges)
        # receive no messages (message targets are edge endpoints,
        # which always have deg ≥ 1), so after any round every
        # dangling non-seed holds 0 and every dangling seed the
        # identical base + (d·(0 + dang div |S|)) div 100 — hence
        # dang_{t+1} = n_dang · that value, exact in Python ints.
        dang = n_dang * (scale // ns) if ns else 0
        for _ in range(iterations):
            shares = ranks.filter(F.col("deg").isNotNull()).select(
                "id", F.expr("r div deg").alias("c")
            )
            # contributions ride a UNION into the same id-keyed
            # aggregation that rebuilds the rank table (the
            # connected_components round shape): every node
            # contributes one base row (its static state, c=0), every
            # edge message one (id, null…, share) row, and ONE
            # exchange + groupBy reduces both. max() over {value,
            # null…} recovers the static state; Σ c over {0} ∪ shares
            # is coalesce(contrib, 0) — integer sums are
            # order-independent, so the arithmetic is exact.
            msgs = sym.join(shares, sym.s == shares.id).select(
                F.col("d").alias("id"),
                *[F.lit(None).cast(t).alias(c) for c, t in flags],
                "c",
            )
            dang_term = dang // ns if ns else 0
            ranks = (
                ranks.select(*cols, F.lit(0).cast("long").alias("c"))
                .union(msgs)
                .groupBy("id")
                .agg(
                    *[F.max(c).alias(c) for c in cols[1:]],
                    F.sum("c").alias("c"),
                )
                .select(
                    *cols,
                    by_seed(
                        F.lit(base)
                        + F.expr(f"({d} * (coalesce(c, 0)"
                                 f" + {dang_term})) div 100"),
                        F.expr(f"({d} * coalesce(c, 0)) div 100"),
                    ).alias("r"),
                )
                .localCheckpoint(eager=True)
            )
            dang = n_dang * (base + (d * dang_term) // 100)
        return ranks.select(
            "id", (F.col("r").cast("double") / F.lit(scale)).alias("pagerank")
        )
    finally:
        sym.unpersist()


def pagerank_sql(
    nodes_sql: str,
    pairs_sql: str,
    iterations: int = 4,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> str:
    """DuckDB twin of :func:`pagerank`: the same integer fixed-point
    iteration unrolled as one CTE chain. ``nodes_sql`` yields (id);
    ``pairs_sql`` yields undirected (id_a, id_b)."""
    d, S = damping_pct, scale
    parts = [
        f"nodes AS ({nodes_sql})",
        f"prs AS MATERIALIZED ({pairs_sql})",
        "e AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM prs"
        " UNION SELECT id_b AS s, id_a AS d FROM prs)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "deg AS (SELECT s AS id, COUNT(*) AS deg FROM e GROUP BY s)",
        f"r0 AS (SELECT id, {S} // n AS r FROM nodes, nn)",
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        parts.append(
            f"c{k} AS (SELECT e.d AS id, SUM(r.r // deg.deg) AS c"
            f" FROM e JOIN r{p} r ON e.s = r.id"
            f" JOIN deg ON deg.id = r.id GROUP BY e.d)"
        )
        parts.append(
            f"d{k} AS (SELECT COALESCE(SUM(r.r), 0) AS dang"
            f" FROM r{p} r LEFT JOIN deg ON deg.id = r.id"
            f" WHERE deg.id IS NULL)"
        )
        parts.append(
            f"r{k} AS (SELECT nd.id,"
            f" ((100 - {d}) * {S}) // (100 * nn.n)"
            f" + ({d} * (COALESCE(c.c, 0) + dk.dang // nn.n)) // 100 AS r"
            f" FROM nodes nd CROSS JOIN nn CROSS JOIN d{k} dk"
            f" LEFT JOIN c{k} c ON c.id = nd.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, CAST(r AS DOUBLE) / {S} AS pagerank"
        f" FROM r{iterations}"
    )


def personalized_pagerank_sql(
    nodes_sql: str,
    pairs_sql: str,
    seeds_sql: str,
    iterations: int = 4,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> str:
    """DuckDB twin of :func:`personalized_pagerank`: same integer
    fixed-point iteration unrolled as a CTE chain. ``nodes_sql`` yields
    (id); ``pairs_sql`` undirected (id_a, id_b); ``seeds_sql`` (id)."""
    d, S = damping_pct, scale
    parts = [
        f"nodes AS ({nodes_sql})",
        f"prs AS MATERIALIZED ({pairs_sql})",
        "e AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM prs"
        " UNION SELECT id_b AS s, id_a AS d FROM prs)",
        f"sd AS (SELECT DISTINCT id FROM ({seeds_sql}))",
        "ns AS (SELECT COUNT(*) AS ns FROM sd)",
        "fl AS (SELECT nd.id, (sd.id IS NOT NULL) AS seed"
        " FROM nodes nd LEFT JOIN sd ON sd.id = nd.id)",
        "deg AS (SELECT s AS id, COUNT(*) AS deg FROM e GROUP BY s)",
        f"r0 AS (SELECT id, seed,"
        f" CASE WHEN seed THEN {S} // ns.ns ELSE 0 END AS r"
        f" FROM fl CROSS JOIN ns)",
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        parts.append(
            f"c{k} AS (SELECT e.d AS id, SUM(r.r // deg.deg) AS c"
            f" FROM e JOIN r{p} r ON e.s = r.id"
            f" JOIN deg ON deg.id = r.id GROUP BY e.d)"
        )
        parts.append(
            f"d{k} AS (SELECT COALESCE(SUM(r.r), 0) AS dang"
            f" FROM r{p} r LEFT JOIN deg ON deg.id = r.id"
            f" WHERE deg.id IS NULL)"
        )
        parts.append(
            f"r{k} AS (SELECT fl.id, fl.seed,"
            f" CASE WHEN fl.seed THEN"
            f" ((100 - {d}) * {S}) // (100 * ns.ns)"
            f" + ({d} * (COALESCE(c.c, 0) + dk.dang // ns.ns)) // 100"
            f" ELSE ({d} * COALESCE(c.c, 0)) // 100 END AS r"
            f" FROM fl CROSS JOIN ns CROSS JOIN d{k} dk"
            f" LEFT JOIN c{k} c ON c.id = fl.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, CAST(r AS DOUBLE) / {S} AS trustrank"
        f" FROM r{iterations}"
    )


def minlabel_closure_sql(
    ids_sql: str, pairs_sql: str, rounds: int = 12
) -> str:
    """DuckDB oracle for :func:`connected_components` WITHOUT the
    transitive-closure blow-up. The textbook ``WITH RECURSIVE
    reach(id, r)`` oracle materializes every (node, reachable-node)
    pair — Σ m² rows over component sizes m, which a tail-threshold
    similarity graph (giant component spanning the corpus) turns into
    hours/OOM: measured 2h+ without completing at 20k nodes / 54k
    edges, where the pair stage alone costs ~2 min. DuckDB 1.0 can't
    aggregate inside a recursive CTE (min-label propagation needs
    GROUP BY; ``USING KEY`` arrives in 1.3), so instead this unrolls
    a FIXED number of (neighbor-min, pointer-jump) rounds as plain
    CTEs:

        m_k(v) = min(l_{k-1}(v), min over neighbors l_{k-1}(u))
        l_k(v) = l_k-1-composed: m_k(m_k(v))   -- pointer jumping

    Pointer jumping at least doubles the propagated distance per
    round, so ``rounds=12`` converges for any diameter ≤ 2^12 — far
    past any real similarity graph (random-graph diameter ~log n). A
    graph that somehow needed more rounds cannot fail silently: the
    oracle's labels would differ from the engine's converged labels
    and the value-hash comparison fails loudly. ``ids_sql`` yields
    (id); ``pairs_sql`` yields undirected (id_a, id_b). Output:
    (id, component)."""
    parts = [
        f"ids AS MATERIALIZED ({ids_sql})",
        f"prs AS MATERIALIZED ({pairs_sql})",
        "e AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM prs"
        " UNION SELECT id_b AS s, id_a AS d FROM prs)",
        "l0 AS MATERIALIZED (SELECT id, id AS l FROM ids)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f"m{k} AS MATERIALIZED (SELECT i.id, LEAST(i.l, COALESCE(MIN(n.l), i.l))"
            f" AS l FROM l{p} i LEFT JOIN e ON e.d = i.id"
            f" LEFT JOIN l{p} n ON n.id = e.s GROUP BY i.id, i.l)"
        )
        parts.append(
            f"l{k} AS MATERIALIZED (SELECT a.id, b.l FROM m{k} a JOIN m{k} b"
            f" ON a.l = b.id)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT id, l AS component FROM l{rounds}"
    )


def dedup_cluster_assignments(
    df: DataFrame, id_col: str, pairs: DataFrame
) -> DataFrame:
    """Canonical-doc assignment: every row of ``df`` labeled with its
    near-dup cluster's minimum id (``canonical_id``) and whether it is
    the keeper. ``pairs`` is any pairwise dedup output (id_a, id_b)."""
    comp = connected_components(
        df.select(id_col), pairs, id_col=id_col
    ).withColumnRenamed("id", id_col)
    return comp.select(
        id_col,
        F.col("component").alias("canonical_id"),
        (F.col(id_col) == F.col("component")).alias("is_canonical"),
    )


def _canonical_edges(
    edges: DataFrame, src_col: str, dst_col: str
) -> tuple[DataFrame, DataFrame]:
    """(e, deg): the canonical undirected edge set (u < v, self-loops
    dropped, deduplicated) and its degree table — the prep both
    :func:`triangle_counts` and :func:`clustering_coefficients` need.

    The edge set is eagerly localCheckpoint-ed (two longs per edge —
    linear, small next to the pair table feeding it): the wedge build
    consumes ``e`` via two oriented sides, the closure joins it
    again, and the degree table derives from it, so without
    materialization the UPSTREAM PAIR GENERATION (the expensive
    near-dup join) re-executes once per consumer — canonicalized
    exchange reuse does not fire across the differently-aliased
    consumers (measured: 0 ReusedExchange spans in the composed
    coefficient plan). One checkpoint = one pair-gen pass, and plan
    depth stays bounded (the PageRank lineage discipline)."""
    e = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    return e, deg


def triangle_counts(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    include_zero_nodes: bool = False,
    _prep: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Exact per-node triangle counts over an undirected edge set —
    the clique-density measure of a near-dup graph (a duplicate GROUP
    shows up as a clique; triangle-poor neighborhoods are chains of
    borderline matches worth human eyes, triangle-rich ones are safe
    bulk drops).

    Algorithm: degree orientation + wedge closure (the MapReduce
    classic — Suri & Vassilvitskii, WWW'11 "Counting Triangles and the
    Curse of the Last Reducer"). Each undirected edge is directed from
    its lower-(degree, id) endpoint to the higher; every triangle then
    has exactly ONE node with two out-edges, so counting closed wedges
    counts each triangle once. The orientation is the scale discipline:
    wedge volume is Σ_v C(outdeg_v, 2) and out-degree is bounded by
    √(2m) on ANY graph — a degree-10⁶ hub generates no wedges because
    its edges all point INTO it. Joins are equi-joins on node ids
    (wedge build keyed on the pivot, closure keyed on the (b, c)
    pair); AQE skew-split covers residual hot pivots.

    Returns (id, n_triangles). Default: only nodes that participate
    in at least one TRIANGLE appear — counts come from exploding
    closed wedges, so a node on no closed wedge never emits a row
    (the DuckDB twin matches). ``include_zero_nodes=True`` left-joins
    the counts onto the edge-incident node set and coalesces to 0 —
    one row per node with ≥1 edge, explicit zeros for the
    triangle-free ones (the per-node clustering-density consumer's
    shape; costs one extra broadcast-or-SMJ join against the
    node-sized count table). All integers — hash-gradable; DuckDB
    twin: :func:`triangle_counts_sql`. ``_prep`` lets a composing
    caller (:func:`clustering_coefficients`) hand in the
    already-built :func:`_canonical_edges` pair so the pair table is
    prepped once per composed query, not once per consumer.
    """
    e, deg = (
        _prep if _prep is not None else _canonical_edges(edges, src_col, dst_col)
    )
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    # orient low (deg, id) -> high (deg, id); ties broken by id so the
    # orientation is total and deterministic
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("d")))
            .alias("o")
        )
        .select("o.s", "o.d")
    )
    # wedges at pivot s: unordered out-neighbor pairs (x < y)
    O1, O2 = oriented.alias("O1"), oriented.alias("O2")
    wedges = (
        O1.hint("merge")
        .join(O2.hint("merge"), F.col("O1.s") == F.col("O2.s"))
        .filter(F.col("O1.d") < F.col("O2.d"))
        .select(
            F.col("O1.s").alias("p"),
            F.col("O1.d").alias("x"),
            F.col("O2.d").alias("y"),
        )
    )
    closed = wedges.join(
        e.select(F.col("u").alias("x"), F.col("v").alias("y")), ["x", "y"]
    )
    counts = (
        closed.select(F.explode(F.array("p", "x", "y")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    if not include_zero_nodes:
        return counts
    return (
        deg.select("id")
        .join(counts, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
        )
    )


def triangle_counts_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`triangle_counts`: same orientation, same
    wedge closure, per-node counts. ``pairs_sql`` yields undirected
    (id_a, id_b)."""
    return f"""
    WITH prs AS MATERIALIZED ({pairs_sql}),
    e AS (SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
          FROM prs WHERE id_a <> id_b),
    deg AS (SELECT id, COUNT(*) AS deg FROM (
              SELECT u AS id FROM e UNION ALL SELECT v AS id FROM e)
            GROUP BY id),
    o AS (SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS s,
                 CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS d
          FROM e JOIN deg du ON du.id = e.u JOIN deg dv ON dv.id = e.v),
    w AS (SELECT o1.s AS p, o1.d AS x, o2.d AS y
          FROM o o1 JOIN o o2 ON o1.s = o2.s AND o1.d < o2.d),
    t AS (SELECT p, x, y FROM w JOIN e ON e.u = w.x AND e.v = w.y),
    ex AS (SELECT p AS id FROM t UNION ALL SELECT x FROM t UNION ALL SELECT y FROM t)
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM ex GROUP BY id
    """


def clustering_coefficients(
    edges: DataFrame, src_col: str = "id_a", dst_col: str = "id_b"
) -> DataFrame:
    """Local clustering coefficient per edge-incident node:
    ``clustering = round(2T / (deg·(deg−1)), 6)`` (0.0 at deg 1) with
    the supporting (deg, n_triangles) columns — the QUANTITATIVE form
    of the cliques-vs-chains diagnostic: a duplicate GROUP's members
    sit near 1.0 (drop in bulk, any representative is safe), a chain
    of borderline matches sits near 0 (each hop needs judgment).

    One triangle pass (:func:`triangle_counts`, degree-oriented wedge
    closure — wedge volume bounded by √(2m) out-degrees) plus one
    node-keyed join against the degree table; the edge/degree prep is
    built once (:func:`_canonical_edges`) and shared with the
    triangle pass — identical subplans, so Catalyst reuses the
    distinct/agg exchanges instead of double-scanning the pair table.
    The coefficient itself is a single IEEE divide rounded to 6,
    identical in any engine (twin:
    :func:`clustering_coefficients_sql`)."""
    prep = _canonical_edges(edges, src_col, dst_col)
    deg = prep[1]
    tri = triangle_counts(edges, src_col, dst_col, _prep=prep)
    coef = F.when(F.col("deg") <= 1, F.lit(0.0)).otherwise(
        F.round(
            (2 * F.col("n_triangles")).cast("double")
            / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
            6,
        )
    )
    return (
        deg.join(tri, "id", "left")
        .select(
            "id",
            "deg",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
        )
        .withColumn("clustering", coef)
    )


def clustering_coefficients_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`clustering_coefficients`."""
    tri = triangle_counts_sql(pairs_sql)
    return f"""
    WITH prs2 AS MATERIALIZED ({pairs_sql}),
    e2 AS (SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
           FROM prs2 WHERE id_a <> id_b),
    deg2 AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
               SELECT u AS id FROM e2 UNION ALL SELECT v AS id FROM e2)
             GROUP BY id),
    tri AS ({tri})
    SELECT d.id, d.deg,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.deg <= 1 THEN 0.0
                ELSE round(CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
                           / (d.deg * (d.deg - 1)), 6)
           END AS clustering
    FROM deg2 d LEFT JOIN tri t ON t.id = d.id
    """
