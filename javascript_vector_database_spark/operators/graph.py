"""Integer-exact PageRank over a co-occurrence graph.

No reference analog (the reference has no graph surface; SURVEY §7.7
extension class, same family as the connected-components labelers in
operators/dedup.py).  The novelty here is determinism: textbook PageRank
iterates double-precision rank = (1-d)/N + d * sum(rank/outdeg), and a
distributed sum of doubles is shuffle-order-dependent in the last ulp —
unverifiable against any oracle.  This implementation keeps every rank an
exact BIGINT:

* initial rank = RANK_SCALE (10^12) per node;
* a node's contribution along an edge = (rank * w) DIV strength, the
  sum of its out-edge weights (integer floor division — identical on
  any engine, no rounding mode to disagree on; w = 1 gives rank DIV
  outdeg);
* damping is applied in integer space: new = (15 * RANK_SCALE) DIV 100 +
  (85 * sum(contribs)) DIV 100.

Bounds: total mass never exceeds N * RANK_SCALE; with N = 10^6 nodes,
85 * sum < 8.5e19 — beyond int64 at extreme N, so RANK_SCALE must shrink
as N grows (scale the constant, not the plan; 10^12 is safe through
N ~ 10^5 with huge headroom, and the precision floor is 1/RANK_SCALE).
The DIV floor loses < 1 unit of mass per edge per round — a deliberate,
deterministic leak that replaces the nondeterministic float residue.

Scale shape: each round is one equi-join (rank onto the edge list's src)
plus one groupBy(dst) sum with map-side partials — the standard Pregel
round as two DataFrame ops.  The operator pins the edge list joined to
its out-strengths ONCE; rounds is a small fixed constant, so the rank
lineage stays shallow (no per-round checkpoint, unlike the
until-fixpoint CC loops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fixed-point scale: rank 1.0 == 10^12
RANK_SCALE = 1_000_000_000_000
#: damping factor d = 0.85 as the integer pair (85, 100)
DAMP_NUM, DAMP_DEN = 85, 100
BASE_MASS = (100 - DAMP_NUM) * RANK_SCALE // DAMP_DEN
PAGERANK_ROUNDS = 3


def symmetric_edges(pairs: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Distinct symmetric edge list from an undirected pair list."""
    e = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def pagerank(
    edges: DataFrame,
    seeds: DataFrame | None = None,
    rounds: int = PAGERANK_ROUNDS,
) -> DataFrame:
    """(node, rank) after ``rounds`` integer-exact power iterations.

    ``edges`` is the SYMMETRIC edge list carrying a positive BIGINT
    ``w`` (unweighted graphs pass w = 1).  A node's contribution along an
    edge is ``(rank * w) DIV strength``, strength = the sum of its
    out-edge weights — the column-stochastic split, with integer floor
    division in place of the float ratio.  Every node of a symmetric
    list has strength >= 1, so there is no dangling-mass term.  Bounds:
    rank * w peaks at RANK_SCALE * max_w, int64-safe while max_w < ~9e6.

    ``seeds`` (one ``node`` column) makes it PERSONALIZED PageRank: only
    the seeds start with mass and teleport mass returns only to them, so
    ranks measure affinity TO the seeds.  Non-seed nodes enter the rank
    relation only when mass reaches them (the seeds' r-hop
    neighborhood, not the graph), and rows whose rank floors to 0 are
    dropped each round.  Without seeds every node starts at RANK_SCALE
    and receives the teleport mass — the seeded recurrence with every
    node a seed, minus the full join against the seed set.

    The operator pins (edges ⋈ strength) once: every round re-reads it.
    The strength rides the edge rows as a window sum over src, so the
    edge list is read and shuffled once for it — measured faster than a
    grouped sum joined back on all three PageRank rows (sf0.1, 4 cores).
    Each round is then one hinted shuffled-hash join of the node-sized
    rank table onto the edge list plus one map-side-combined sum."""
    from pyspark.sql.window import Window

    withs = edges.withColumn(
        "s", F.sum("w").over(Window.partitionBy("src")).cast("long")
    ).localCheckpoint(eager=True)
    if seeds is None:
        start = withs.select(F.col("src").alias("node")).distinct()
    else:
        start = seeds.select("node").distinct().localCheckpoint(eager=True)
    ranks = start.select("node", F.lit(RANK_SCALE).cast("long").alias("rank"))
    for _ in range(rounds):
        summed = (
            withs.join(
                ranks.withColumnRenamed("node", "src").hint("shuffle_hash"),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("(rank * w) DIV s")).alias("c"))
        )
        if seeds is None:
            ranks = summed.select(
                "node",
                F.expr(f"{BASE_MASS} + ({DAMP_NUM} * c) DIV {DAMP_DEN}")
                .cast("long")
                .alias("rank"),
            )
        else:
            ranks = (
                start.select("node", F.lit(BASE_MASS).alias("__t"))
                .join(summed, "node", "full")
                .select(
                    "node",
                    F.expr(
                        f"coalesce(__t, 0)"
                        f" + ({DAMP_NUM} * coalesce(c, 0)) DIV {DAMP_DEN}"
                    ).cast("long").alias("rank"),
                )
                .where(F.col("rank") > 0)
            )
    return ranks


def sql_pagerank(
    edges_cte: str,
    seeds_cte: str | None = None,
    rounds: int = PAGERANK_ROUNDS,
) -> str:
    """DuckDB oracle for :func:`pagerank`: the identical integer
    iteration unrolled as CTE levels.  ``edges_cte`` selects the
    symmetric (src, dst, w) list; ``seeds_cte``, when given, selects one
    ``node`` column.  DuckDB's ``//`` on BIGINTs is the same floor
    division as Spark's ``DIV``.  MATERIALIZED throughout: every level
    is multiply referenced."""
    sql = [f"WITH edges AS MATERIALIZED ({edges_cte}),"]
    sql.append(
        "deg AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS s"
        " FROM edges GROUP BY src),"
    )
    if seeds_cte is None:
        start = "SELECT src AS node FROM deg"
    else:
        sql.append(
            f"seeds AS MATERIALIZED (SELECT DISTINCT node FROM ({seeds_cte})),"
        )
        start = "SELECT node FROM seeds"
    sql.append(
        f"r0 AS MATERIALIZED (SELECT node, CAST({RANK_SCALE} AS BIGINT)"
        f" AS rank FROM ({start})),"
    )
    for i in range(rounds):
        sql.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS node,"
            f" sum((r.rank * e.w) // d.s) AS c"
            f" FROM edges e JOIN r{i} r ON r.node = e.src"
            " JOIN deg d ON d.src = e.src GROUP BY 1),"
        )
        if seeds_cte is None:
            sql.append(
                f"r{i + 1} AS MATERIALIZED (SELECT node, CAST({BASE_MASS}"
                f" + ({DAMP_NUM} * c) // {DAMP_DEN} AS BIGINT) AS rank"
                f" FROM c{i}),"
            )
        else:
            sql.append(
                f"""r{i + 1} AS MATERIALIZED (
  SELECT * FROM (
    SELECT coalesce(s.node, c.node) AS node,
           CAST((CASE WHEN s.node IS NOT NULL THEN {BASE_MASS} ELSE 0 END)
                + ({DAMP_NUM} * coalesce(c.c, 0)) // {DAMP_DEN} AS BIGINT)
             AS rank
    FROM seeds s FULL JOIN c{i} c ON c.node = s.node
  ) WHERE rank > 0
),"""
            )
    body = "\n".join(sql).rstrip(",")
    return f"{body}\nSELECT node, rank FROM r{rounds}"


# ---------------------------------------------------------------------------
# triangle counting (degree-ordered orientation)
# ---------------------------------------------------------------------------


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count over an UNDIRECTED edge list (unique pairs,
    src < dst) — one-row output ``(n_triangles)``.

    Degree-ordered orientation (the compact-forward algorithm): every
    edge points from its (degree, id)-smaller endpoint to the larger,
    wedges are generated only at each edge's SMALLER endpoint, and a
    wedge closes iff its (ordered) third edge exists — a semi-join, so
    nothing wider than the wedge set ever materializes.  Out-degree
    under this orientation is bounded by O(sqrt(m)) (arboricity bound),
    so the wedge count is O(m^1.5) worst case and far less on real
    skewed graphs — id-ordered wedging would instead explode at any
    low-id hub (a popular part bought with 10^5 others generates 10^10
    wedges if it pivots; under degree order it never pivots).  The
    id-ordered 3-way self-join the DuckDB oracle runs counts the same
    triangles (each exactly once, at a different pivot)."""
    closed, _deg = closed_wedges(edges, src, dst)
    return closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def closed_wedges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> tuple[DataFrame, DataFrame]:
    """The compact-forward core shared by global and per-node triangle
    counting: returns ``(closed, deg)`` where ``closed`` holds one row
    ``(a, x, y)`` per triangle (each triangle appears EXACTLY once, at
    its degree-minimal corner ``a``) and ``deg`` is ``(n, d)`` — the
    undirected degree of every node.  See :func:`triangle_count` for the
    orientation argument and the O(m^1.5) wedge bound."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    lt = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # oriented edge (a -> b) with a strictly before b in (degree, id)
    # order; carry b's key for the wedge ordering below.  Materialized
    # once — three consumers (two wedge sides + the closing semi-join).
    o = ed.select(
        F.when(lt, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lt, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lt, F.col("dv")).otherwise(F.col("du")).alias("db"),
    ).localCheckpoint(eager=True)
    w1 = o.select("a", F.col("b").alias("x"), F.col("db").alias("dx"))
    w2 = o.select("a", F.col("b").alias("y"), F.col("db").alias("dy"))
    # order the wedge's endpoints by the SAME (degree, id) key, so the
    # closing edge — if present — is oriented exactly (x -> y).  Both
    # joins are hinted SHUFFLE_HASH: the build side of each is edge-
    # bounded (o, m rows — per-partition build is m/P) while the probe
    # side is the O(m^1.5) wedge set, and a sort-merge join would SORT
    # that wedge set (measured 41M wedges at sf0.1: semi-join 5.5s SMJ
    # -> 3.0s SHJ).  The wedge is projected to its three corners before
    # the closing exchange so only 3 longs per wedge cross the wire.
    wedge = (
        w1.join(w2.hint("shuffle_hash"), "a")
        .where(
            (F.col("dx") < F.col("dy"))
            | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
        )
        .select("x", "y", "a")
    )
    closing = o.select(F.col("a").alias("x"), F.col("b").alias("y"))
    closed = wedge.join(
        closing.hint("shuffle_hash"), ["x", "y"], "left_semi"
    ).select("a", "x", "y")
    return closed, deg


def local_triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation and local clustering coefficient
    over an undirected edge list — ``(node, degree, n_triangles,
    clustering_coef)`` for every node of degree >= 2.

    Each closed wedge ``(a, x, y)`` from :func:`closed_wedges` is ONE
    triangle touching exactly the three corner nodes, so exploding the
    corners and counting per node yields t(v) with no double counting;
    the coefficient is the exact ratio 2*t / (d*(d-1)) — both operands
    integer-exact, the division the only float step (identical IEEE op
    on any engine)."""
    closed, deg = closed_wedges(edges, src, dst)
    corners = closed.select(
        F.explode(F.array(F.col("a"), F.col("x"), F.col("y"))).alias("n")
    )
    tri = corners.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("t"))
    return (
        deg.where(F.col("d") >= 2)
        .join(tri, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
            (
                F.lit(2.0)
                * F.coalesce(F.col("t"), F.lit(0)).cast("double")
                / (F.col("d") * (F.col("d") - F.lit(1))).cast("double")
            ).alias("clustering_coef"),
        )
    )


def seeded_triangle_counts(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-SEED triangle participation and local clustering coefficient —
    ``(node, degree, n_triangles, clustering_coef)`` for exactly the
    nodes in ``seeds`` (one ``node`` column, bounded by construction).

    The bounded sibling of :func:`local_triangle_counts`: instead of the
    all-node O(m^1.5) compact-forward sweep, wedges are generated ONLY
    at the seed pivots — each seed's neighbor pairs (deg^2 of them) are
    checked for a closing edge with a semi-join against the unique-pair
    edge list, so total work is sum over seeds of deg^2, independent of
    the rest of the graph (the same seeds x deg^2 probe bound as the
    harmonic-hubs centrality).  The right shape when the graph is too
    dense to sweep whole and only a bounded report (top hubs, a watch
    list) is needed.  t(v) counts each triangle at v once (its two other
    corners appear as an ordered (x < y) pair exactly once)."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    adj = e.unionAll(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
    deg = adj.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d"))
    sd = seeds.select(F.col("node").alias("s")).distinct()
    # both wedge sides read the seed-restricted adjacency — once
    nb = adj.join(F.broadcast(sd), "s", "left_semi").localCheckpoint(
        eager=True
    )
    left = nb.select(F.col("s").alias("p"), F.col("t").alias("x"))
    right = nb.select(F.col("s").alias("p"), F.col("t").alias("y"))
    # SHUFFLE_HASH on the bounded sides: the probe side of each join is
    # the deg^2 wedge set, which a sort-merge join would sort (see
    # closed_wedges — same measured rationale)
    pairs = left.join(right.hint("shuffle_hash"), "p").where(
        F.col("x") < F.col("y")
    )
    closing = e.select(F.col("s").alias("x"), F.col("t").alias("y"))
    tri = (
        pairs.join(closing.hint("shuffle_hash"), ["x", "y"], "left_semi")
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    return (
        deg.join(F.broadcast(sd), "s", "left_semi")
        .join(tri, deg["s"] == tri["p"], "left")
        .select(
            F.col("s").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("n_triangles"),
            (
                F.lit(2.0)
                * F.coalesce(F.col("t"), F.lit(0)).cast("double")
                / (F.col("d") * (F.col("d") - F.lit(1))).cast("double")
            ).alias("clustering_coef"),
        )
    )


def common_neighbor_pairs(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_pivot_degree: int = 64,
) -> DataFrame:
    """Link prediction by common-neighbor counting: for node pairs NOT
    already connected, how many shared neighbors they have — ``(x, y,
    n_common)`` with ``x < y``.  The score is kept integer-exact (the
    Adamic-Adar refinement sums 1/ln(deg) doubles, whose shuffle-order
    last-ulp noise defeats any cross-engine oracle; the count ranks
    almost identically in practice).

    Every candidate pair is generated at a shared neighbor (the wedge
    pivot), which is quadratic in pivot degree — so pivots above
    ``max_pivot_degree`` are EXCLUDED, the standard heavy-pivot cut
    (a 10^5-degree hub contributes 10^10 pairs but almost no ranking
    signal: sharing a mega-hub neighbor is weak evidence).  The cap
    bounds work at m * cap and is mirrored verbatim in the oracle."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    adj = e.unionAll(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
    deg = adj.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d"))
    piv = deg.where((F.col("d") >= 2) & (F.col("d") <= max_pivot_degree))
    # both wedge sides read the capped adjacency — materialize once
    capped = adj.join(piv.select("s"), "s", "left_semi").localCheckpoint(
        eager=True
    )
    left = capped.select(F.col("s").alias("p"), F.col("t").alias("x"))
    right = capped.select(F.col("s").alias("p"), F.col("t").alias("y"))
    # SHUFFLE_HASH: probe sides are the m*cap wedge set — skip the SMJ
    # sorts (closed_wedges' measured rationale)
    cand = (
        left.join(right.hint("shuffle_hash"), "p")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    existing = e.select(
        F.least(F.col("s"), F.col("t")).alias("x"),
        F.greatest(F.col("s"), F.col("t")).alias("y"),
    )
    return cand.join(existing.hint("shuffle_hash"), ["x", "y"], "left_anti")


#: fixed-point scale for the resource-allocation score: each shared
#: neighbor w contributes floor(RA_SCALE / deg(w)) "micro" units.  With
#: pivot degree capped at 64 the fractional part of the double quotient
#: is >= 1/64 whenever it is nonzero — far above double ulp at 1e6 — so
#: floor is bit-identical across engines (no transcendental, unlike
#: Adamic-Adar's 1/ln(deg)).
RA_SCALE = 1_000_000


def resource_allocation_pairs(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_pivot_degree: int = 64,
    scale: int = RA_SCALE,
) -> DataFrame:
    """Weighted link prediction by the Resource Allocation index (Zhou,
    Lü & Zhang 2009, public): for node pairs NOT already connected,
    score = sum over shared neighbors w of 1/deg(w) — a low-degree
    shared neighbor is much stronger evidence than a hub.  The per-pivot
    contribution is the integer ``floor(scale / deg(w))`` so the summed
    score is BIGINT-exact cross-engine (the repo's cents discipline;
    common_neighbor_pairs' docstring explains why 1/ln(deg) is not
    oracle-safe).  Same wedge generation and heavy-pivot cut as
    common_neighbor_pairs — work bounded at m * cap; output
    ``(x, y, n_common, ra_micro)`` with x < y."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    adj = e.unionAll(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
    deg = adj.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d"))
    piv = deg.where((F.col("d") >= 2) & (F.col("d") <= max_pivot_degree))
    capped = adj.join(piv, "s").withColumn(
        "w", F.floor(F.lit(float(scale)) / F.col("d")).cast("long")
    ).localCheckpoint(eager=True)
    left = capped.select(F.col("s").alias("p"), F.col("t").alias("x"), "w")
    right = capped.select(F.col("s").alias("p"), F.col("t").alias("y"))
    # SHUFFLE_HASH: probe side is the m*cap wedge set (see closed_wedges)
    cand = (
        left.join(right.hint("shuffle_hash"), "p")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum("w").cast("long").alias("ra_micro"),
        )
    )
    existing = e.select(
        F.least(F.col("s"), F.col("t")).alias("x"),
        F.greatest(F.col("s"), F.col("t")).alias("y"),
    )
    return cand.join(existing.hint("shuffle_hash"), ["x", "y"], "left_anti")


def kcore_peel(
    edges: DataFrame, k: int, rounds: int, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """``rounds`` synchronous peels toward the k-core of an undirected
    graph: each round drops every node whose CURRENT degree is below
    ``k``, then restricts the edge set to survivors — ``(node,
    core_degree)`` of the remaining subgraph.  The k-core proper is this
    iterated to fixpoint; a FIXED round count makes the result exact and
    identical on any engine (the same bounded-unroll contract as the
    PageRank oracles) and is how the scan runs at scale anyway — each
    round is one groupBy + two semi-joins, and peeling converges
    geometrically on real degree-skewed graphs.  Dense-core membership
    is the standard spam/bot-cluster and community-seed signal.

    ``edges`` is the unique-pair (src < dst) list; checkpoints pin each
    round's survivor set so lineage stays shallow."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    adj = e.unionAll(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
    for _ in range(rounds):
        deg = adj.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d"))
        keep = (
            deg.where(F.col("d") >= k)
            .select("s")
            .localCheckpoint(eager=True)
        )
        adj = (
            adj.join(keep, "s", "left_semi")
            .join(keep.select(F.col("s").alias("t")), "t", "left_semi")
            .localCheckpoint(eager=True)
        )
    return adj.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("core_degree")
    ).select(F.col("s").alias("node"), "core_degree")


def edge_support(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-edge triangle support over a unique-pair (src < dst) edge
    list: each compact-forward closed wedge is one triangle and credits
    its three id-normalized edges — ``(src, dst, support)`` for every
    edge in at least one triangle.  Same O(m^1.5) wedge bound as
    :func:`triangle_count` (the enumeration IS the same; only the
    credit target differs: edges, not corner nodes)."""
    closed, _ = closed_wedges(edges, src, dst)
    tri_edges = closed.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "x").alias("u"), F.greatest("a", "x").alias("v")
                ),
                F.struct(
                    F.least("a", "y").alias("u"), F.greatest("a", "y").alias("v")
                ),
                F.struct(
                    F.least("x", "y").alias("u"), F.greatest("x", "y").alias("v")
                ),
            )
        ).alias("p")
    ).select("p.u", "p.v")
    return tri_edges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    ).select(F.col("u").alias(src), F.col("v").alias(dst), "support")


def ktruss_peel(
    edges: DataFrame, k: int, rounds: int, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """``rounds`` synchronous peels toward the k-truss — the EDGE
    sibling of :func:`kcore_peel`: each round computes per-edge triangle
    support (compact-forward enumeration) and drops edges supporting
    fewer than ``k - 2`` triangles; the k-truss proper is the fixpoint,
    and the FIXED round count keeps the result exact and
    engine-identical (the kcore/PageRank bounded-unroll contract).
    Output: ``(src, dst, support)`` of the survivors, support recomputed
    on the final edge set.  Trusses are the standard
    stronger-than-core cohesion signal (every tie inside a k-truss is
    reinforced by >= k-2 mutual neighbors — Cohen 2008, public); cost is
    ``rounds + 1`` triangle enumerations over a shrinking edge set, each
    O(m^1.5) with the same degree-ordered wedge bound."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    for _ in range(rounds):
        sup = edge_support(e, "u", "v")
        e = (
            e.join(sup, ["u", "v"])
            .where(F.col("support") >= k - 2)
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    fin = edge_support(e, "u", "v")
    return e.join(fin, ["u", "v"], "left").select(
        F.col("u").alias("src"),
        F.col("v").alias("dst"),
        F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support"),
    )


def sql_ktruss_peel(edges_cte: str, k: int, rounds: int) -> str:
    """DuckDB oracle for :func:`ktruss_peel`: the identical
    support-peel rounds unrolled as CTE levels, triangles enumerated by
    the id-ordered 3-way self-join (each triangle once, edges credited
    identically)."""

    # every CTE is multiply-referenced (each tri level reads its edge
    # set 3 times, each sup reads its tri 3 times) — without
    # MATERIALIZED DuckDB may inline them, re-evaluating the whole
    # upstream chain exponentially per level (measured 46s -> 0.1s at
    # sf0.01 on the capped row); the Spark side pins the same reuse
    # points with eager localCheckpoints
    def tri_sup(i: int) -> str:
        return f"""tri{i} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e{i} e1 JOIN e{i} e2 ON e2.u = e1.v
  JOIN e{i} e3 ON e3.u = e1.u AND e3.v = e2.v
),
sup{i} AS MATERIALIZED (
  SELECT u, v, CAST(count(*) AS BIGINT) AS c FROM (
    SELECT a AS u, b AS v FROM tri{i}
    UNION ALL SELECT b, c FROM tri{i}
    UNION ALL SELECT a, c FROM tri{i}
  ) GROUP BY 1, 2
)"""

    sql = [
        f"WITH pairs AS MATERIALIZED ({edges_cte}),",
        "e0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM pairs),",
    ]
    for i in range(rounds):
        sql.append(tri_sup(i) + ",")
        sql.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e{i} e "
            f"JOIN sup{i} s ON s.u = e.u AND s.v = e.v WHERE s.c >= {k - 2}),"
        )
    sql.append(tri_sup(rounds))
    body = "\n".join(sql)
    return (
        f"{body}\n"
        f"SELECT e.u AS src, e.v AS dst, coalesce(s.c, 0) AS support\n"
        f"FROM e{rounds} e LEFT JOIN sup{rounds} s ON s.u = e.u AND s.v = e.v"
    )


def sql_kcore_peel(edges_cte: str, k: int, rounds: int) -> str:
    """DuckDB oracle for :func:`kcore_peel`: the identical peeling
    rounds unrolled as CTE levels.  ``edges_cte`` selects the unique
    (src, dst) pair list."""
    sql = [f"WITH pairs AS ({edges_cte}),"]
    sql.append(
        "adj0 AS (SELECT src AS s, dst AS t FROM pairs"
        " UNION ALL SELECT dst AS s, src AS t FROM pairs),"
    )
    for i in range(rounds):
        sql.append(
            f"""k{i} AS (
  SELECT s FROM (SELECT s, count(*) AS d FROM adj{i} GROUP BY 1)
  WHERE d >= {k}
),
adj{i + 1} AS (
  SELECT a.s, a.t FROM adj{i} a
  JOIN k{i} x ON x.s = a.s JOIN k{i} y ON y.s = a.t
),"""
        )
    body = "\n".join(sql).rstrip(",")
    return (
        f"{body}\nSELECT s AS node, CAST(count(*) AS BIGINT) AS core_degree"
        f" FROM adj{rounds} GROUP BY 1"
    )


# ---------------------------------------------------------------------------
# label propagation (community detection)
# ---------------------------------------------------------------------------

#: synchronous LPA rounds — fixed and small (the bounded-unroll contract
#: that makes the oracle expressible; production tunes per degree profile)
LPA_ROUNDS = 2


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with a fully
    deterministic update: each round every node adopts the label with the
    highest count among its neighbors, ties to the smallest label.  No
    reference analog (SURVEY §7.7 extension class, beside PageRank/CC).

    Determinism: labels and counts are BIGINTs; the per-node argmax is a
    row_number over (count DESC, label ASC) — no float, no engine
    ambiguity, so the unrolled-CTE oracle matches exactly.  The textbook
    asynchronous/randomized variant is NOT reproducible across engines;
    the synchronous min-tie form is the standard deterministic rendition.

    Scale shape: each round is one equi-join of the label relation onto
    the adjacency list (shuffle on node id), one map-side-combined
    groupBy(node, label), and one window partitioned BY NODE (never
    global).  Work per round is O(m); rounds is a small constant.

    ``edges`` must be the SYMMETRIC distinct edge list."""
    from pyspark.sql.window import Window

    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").cast("long").alias("label")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    for _ in range(rounds):
        nbr = edges.join(
            labels.withColumnRenamed("node", "dst").hint("shuffle_hash"),
            "dst",
        ).select(
            F.col("src").alias("node"), "label"
        )
        cnt = nbr.groupBy("node", "label").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        labels = (
            cnt.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("node", "label")
        )
    return labels


def sql_label_propagation(edges_cte: str, rounds: int = LPA_ROUNDS) -> str:
    """DuckDB oracle for :func:`label_propagation`: the identical
    synchronous min-tie update unrolled as CTE levels.  ``edges_cte``
    must select the symmetric (src, dst) edge list."""
    sql = [f"WITH edges AS ({edges_cte}),"]
    sql.append(
        "l0 AS (SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS label"
        " FROM edges),"
    )
    for i in range(rounds):
        sql.append(
            f"""c{i} AS (
  SELECT e.src AS node, l.label, CAST(count(*) AS BIGINT) AS cnt
  FROM edges e JOIN l{i} l ON l.node = e.dst
  GROUP BY 1, 2
),
l{i + 1} AS (
  SELECT node, label FROM (
    SELECT node, label, row_number() OVER (
      PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
    FROM c{i}
  ) WHERE rn = 1
),"""
        )
    body = "\n".join(sql).rstrip(",")
    return f"{body}\nSELECT node, label FROM l{rounds}"


# ---------------------------------------------------------------------------
# multi-source BFS (bounded-hop reachability)
# ---------------------------------------------------------------------------

BFS_MAX_HOPS = 3


def bfs_hops(
    edges: DataFrame, seeds: DataFrame, max_hops: int = BFS_MAX_HOPS
) -> DataFrame:
    """(node, hops): minimum hop distance from the seed set, bounded at
    ``max_hops`` rounds — nodes farther than the bound are absent.  The
    frontier-expansion primitive behind "within N hops of these items"
    queries (impact radius, recommendation neighborhoods).

    Exact by construction: hop counts are BIGINTs and min() is
    order-insensitive, so the unrolled-CTE oracle matches bit-for-bit.
    Seeds that never appear in the edge list still report hops 0 (they
    are distance 0 from themselves).

    Scale shape: each round is one equi-join of the current distance
    relation onto the adjacency (shuffle on node id) and one min-groupBy
    with map-side partials; the relation is checkpointed per round so
    lineage stays shallow even though it feeds both the expansion and
    the union.  Work per round is O(frontier-adjacent edges).

    ``edges`` must be the SYMMETRIC distinct edge list; ``seeds`` one
    ``node`` column."""
    dist = (
        seeds.select("node")
        .distinct()
        .select("node", F.lit(0).cast("long").alias("hops"))
    )
    for _ in range(max_hops):
        cand = dist.join(edges.withColumnRenamed("src", "node"), "node").select(
            F.col("dst").alias("node"), (F.col("hops") + 1).alias("hops")
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("node")
            .agg(F.min("hops").cast("long").alias("hops"))
            .localCheckpoint(eager=True)
        )
    return dist


def sql_bfs_hops(
    edges_cte: str, seeds_cte: str, max_hops: int = BFS_MAX_HOPS
) -> str:
    """DuckDB oracle for :func:`bfs_hops`: min-union frontier expansion
    unrolled as CTE levels.  ``seeds_cte`` must select one ``node``
    column."""
    sql = [f"WITH edges AS ({edges_cte}),"]
    sql.append(f"seeds AS (SELECT DISTINCT node FROM ({seeds_cte})),")
    sql.append("d0 AS (SELECT node, CAST(0 AS BIGINT) AS hops FROM seeds),")
    for i in range(max_hops):
        sql.append(
            f"""d{i + 1} AS (
  SELECT node, CAST(min(hops) AS BIGINT) AS hops FROM (
    SELECT node, hops FROM d{i}
    UNION ALL
    SELECT e.dst AS node, d.hops + 1 AS hops
    FROM edges e JOIN d{i} d ON d.node = e.src
  ) GROUP BY node
),"""
        )
    body = "\n".join(sql).rstrip(",")
    return f"{body}\nSELECT node, hops FROM d{max_hops}"


# ---------------------------------------------------------------------------
# HITS (hubs & authorities) over a directed bipartite graph
# ---------------------------------------------------------------------------

#: HITS fixed-point scale: a normalized score of 1.0 == 10^6.  Smaller
#: than RANK_SCALE because each half-round SUMS neighbor scores before
#: renormalizing: with max degree ~10^4 the pre-normalization mass stays
#: <= 10^4 * 10^6 = 10^10 « int64, and the max-division renormalization
#: returns everything to <= HITS_SCALE.
HITS_SCALE = 1_000_000
HITS_ROUNDS = 2


def hits(edges: DataFrame, rounds: int = HITS_ROUNDS) -> DataFrame:
    """(node, authority, n_in) after ``rounds`` integer-exact HITS
    iterations (Kleinberg 1999, public) over a DIRECTED edge list
    (src = hub side, dst = authority side — e.g. buyer -> product).

    Textbook HITS renormalizes with an L2 norm (a sqrt — engine-
    dependent in the last ulp, unverifiable); this implementation
    renormalizes by the MAXIMUM instead: ``score' = score * HITS_SCALE
    DIV max(score)``.  Max-normalized HITS converges to the same
    principal eigenvector direction (normalization choice only rescales
    the iterate), every intermediate stays an exact BIGINT, and the max
    is a shuffle-order-proof aggregate.  Per round: authority(dst) =
    renorm(sum of hub over in-edges), then hub(src) = renorm(sum of
    authority over out-edges) — two equi-join + groupBy Pregel halves,
    map-side partials, no window.

    Returns the FINAL authority side (the interesting ranking on a
    bipartite purchase graph); n_in (in-degree) rides along for
    interpretability.

    Materialize-once: every half-round's raw sum feeds TWO consumers
    (the scalar max and the renormalized projection), and each
    renormalized side feeds the NEXT half-round — without pinning, the
    final plan contains ~2^(2*rounds) copies of the base subtree
    (measured: 89 Exchanges at rounds=2 before the checkpoints, ~10
    after).  Eager, for rank.py's broadcast-thread deadlock reason.

    r14: the scalar max rides an ``Observation`` on the SAME job that
    materializes the half-round's checkpoint (one job per half-round
    instead of checkpoint + a separate max pass), and the renormalizing
    DIV inlines it as a literal — the identical floor division on the
    identical max.  The score join is hinted SHUFFLE_HASH: the build
    side is the node-sized score table, and a sort-merge join would
    re-sort the edge list every half-round."""
    from pyspark.sql import Observation

    if rounds < 1:
        raise ValueError(f"hits() needs rounds >= 1, got {rounds}")
    e = edges.select("src", "dst")
    hubs = e.select("src").distinct().select(
        "src", F.lit(HITS_SCALE).cast("long").alias("h")
    )

    _obs_n = iter(range(10_000))

    def renorm(df: DataFrame, col: str) -> DataFrame:
        # the max is observed while the checkpoint job materializes the
        # half-round's raw sums — no second pass, no 1-row crossJoin.
        # coalesce(.., 1): an empty edge list publishes a NULL max; the
        # zero rows then ride every join either way.
        obs = Observation(f"hits_mx_{next(_obs_n)}")
        df = df.observe(obs, F.max(F.col(col)).cast("long").alias("__mx"))
        df = df.localCheckpoint(eager=True)
        mx = obs.get["__mx"]
        mx = 1 if mx is None else int(mx)
        return df.select(
            *[c for c in df.columns if c != col],
            F.expr(f"({col} * {HITS_SCALE}) DIV {mx}").alias(col),
        )

    auth = None
    for _ in range(rounds):
        auth = renorm(
            e.join(hubs.hint("shuffle_hash"), "src").groupBy("dst").agg(
                F.sum("h").cast("long").alias("a")
            ),
            "a",
        )
        hubs = renorm(
            e.join(auth.hint("shuffle_hash"), "dst").groupBy("src").agg(
                F.sum("a").cast("long").alias("h")
            ),
            "h",
        )
    n_in = e.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("n_in"))
    return auth.join(n_in, "dst").select(
        F.col("dst").alias("node"),
        F.col("a").alias("authority"),
        "n_in",
    )


def sql_hits(edges_cte: str, rounds: int = HITS_ROUNDS) -> str:
    """DuckDB oracle for :func:`hits`: the identical max-normalized
    integer iteration unrolled as CTE levels (scalar max via a
    cross-joined 1-row aggregate, same floor DIV)."""
    sql = [f"WITH edges AS ({edges_cte}),"]
    sql.append(
        f"h0 AS (SELECT DISTINCT src, CAST({HITS_SCALE} AS BIGINT) AS h"
        " FROM edges),"
    )
    prev_h = "h0"
    for i in range(rounds):
        sql.append(
            f"""ra{i + 1} AS (
  SELECT e.dst, CAST(sum(h.h) AS BIGINT) AS a
  FROM edges e JOIN {prev_h} h USING (src) GROUP BY e.dst
),
a{i + 1} AS (
  SELECT dst, CAST((a * {HITS_SCALE}) // mx AS BIGINT) AS a
  FROM ra{i + 1}, (SELECT max(a) AS mx FROM ra{i + 1})
),
rh{i + 1} AS (
  SELECT e.src, CAST(sum(a.a) AS BIGINT) AS h
  FROM edges e JOIN a{i + 1} a USING (dst) GROUP BY e.src
),
h{i + 1} AS (
  SELECT src, CAST((h * {HITS_SCALE}) // mx AS BIGINT) AS h
  FROM rh{i + 1}, (SELECT max(h) AS mx FROM rh{i + 1})
),"""
        )
        prev_h = f"h{i + 1}"
    body = "\n".join(sql).rstrip(",")
    return f"""{body},
nin AS (SELECT dst, CAST(count(*) AS BIGINT) AS n_in FROM edges GROUP BY 1)
SELECT a.dst AS node, a.a AS authority, nin.n_in
FROM a{rounds} a JOIN nin USING (dst)"""


def jaccard_neighbor_pairs(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_pivot_degree: int = 64,
    scale: int = RA_SCALE,
) -> DataFrame:
    """Link prediction by neighborhood Jaccard (Liben-Nowell & Kleinberg
    2003, public): for not-yet-connected pairs,
    score = |common| / (deg(x) + deg(y) - |common|) — the size-
    normalized complement of the raw common-neighbor count (two hubs
    sharing 5 neighbors is weak; two 6-degree nodes sharing 5 is
    near-certain).  Micro-scaled non-negative floor division keeps the
    score BIGINT-exact.  Wedges come through the same heavy-pivot cut
    as common_neighbor_pairs (work bounded at m*cap; common counts are
    the BLOCKED counts, the standard approximation, mirrored verbatim
    in the oracle), while deg(x)/deg(y) are the FULL degrees.  Output
    (x, y, n_common, jaccard_micro), x < y."""
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
    adj = e.unionAll(e.select(F.col("t").alias("s"), F.col("s").alias("t")))
    deg = adj.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d"))
    piv = deg.where((F.col("d") >= 2) & (F.col("d") <= max_pivot_degree))
    capped = adj.join(piv.select("s"), "s").localCheckpoint(eager=True)
    left = capped.select(F.col("s").alias("p"), F.col("t").alias("x"))
    right = capped.select(F.col("s").alias("p"), F.col("t").alias("y"))
    # SHUFFLE_HASH: probe side is the m*cap wedge set (see closed_wedges)
    cand = (
        left.join(right.hint("shuffle_hash"), "p")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    dx = deg.select(F.col("s").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("s").alias("y"), F.col("d").alias("dy"))
    existing = e.select(
        F.least(F.col("s"), F.col("t")).alias("x"),
        F.greatest(F.col("s"), F.col("t")).alias("y"),
    )
    return (
        cand.join(existing.hint("shuffle_hash"), ["x", "y"], "left_anti")
        .join(dx, "x")
        .join(dy, "y")
        .select(
            "x",
            "y",
            "n_common",
            F.expr(
                f"(n_common * {scale}) DIV (dx + dy - n_common)"
            ).cast("long").alias("jaccard_micro"),
        )
    )
