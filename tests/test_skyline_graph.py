"""Property tests for the skyline sweep and personalized PageRank —
brute-force cross-checks on adversarial inputs the parquet tables don't
exercise (duplicates, total ties, frontier-only sets, disconnected
seeds)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from javascript_vector_database_spark.operators.graph import (
    local_triangle_counts,
    pagerank,
    seeded_triangle_counts,
)
from javascript_vector_database_spark.operators.skyline import (
    skyline_2d,
    skyline_2d_grouped,
)


def _brute_skyline(points):
    return sorted(
        (x, y) for x, y in points
        if not any(
            qx <= x and qy <= y and (qx < x or qy < y) for qx, qy in points
        )
    )


def _check(spark, points):
    df = spark.createDataFrame(points, schema="x long, y long")
    got = sorted(
        (r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect()
    )
    assert got == _brute_skyline(points), (points, got)


def test_skyline_duplicates_and_ties(spark):
    # duplicate frontier points survive in every copy; equal points do
    # not dominate each other
    _check(spark, [(1, 5), (1, 5), (2, 4), (2, 4), (3, 3)])
    # same x, different y: only the min-y row survives
    _check(spark, [(1, 5), (1, 4), (1, 3)])
    # same y, different x: only the min-x row survives
    _check(spark, [(5, 1), (4, 1), (3, 1)])
    # all identical: everything survives
    _check(spark, [(2, 2)] * 4)
    # anti-chain: everything survives
    _check(spark, [(1, 4), (2, 3), (3, 2), (4, 1)])
    # chain: one survivor
    _check(spark, [(1, 1), (2, 2), (3, 3)])


def test_skyline_random_matches_bruteforce(spark):
    rng = random.Random(20260814)
    for trial in range(3):
        pts = [
            (rng.randrange(0, 12), rng.randrange(0, 12)) for _ in range(60)
        ]
        _check(spark, pts)


def test_skyline_grouped_matches_per_group_bruteforce(spark):
    rng = random.Random(7)
    rows = [
        (g, rng.randrange(0, 8), rng.randrange(0, 8))
        for g in ("a", "b", "c")
        for _ in range(25)
    ]
    df = spark.createDataFrame(rows, schema="g string, x long, y long")
    got = sorted(
        (r["g"], r["x"], r["y"])
        for r in skyline_2d_grouped(df, "g", "x", "y").collect()
    )
    want = []
    for g in ("a", "b", "c"):
        pts = [(x, y) for gg, x, y in rows if gg == g]
        want.extend((g, x, y) for x, y in _brute_skyline(pts))
    assert got == sorted(want)


def test_ppr_locality_and_seed_mass(spark):
    """A path graph a-b-c-d-e with seed {a}: after 3 rounds mass reaches
    at most 3 hops (d), never e; and every round's output is exactly the
    integer recurrence (checked via a tiny manual simulation)."""
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5)]
    e = spark.createDataFrame(pairs, schema="src long, dst long")
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).withColumn("w", F.lit(1).cast("long"))
    seeds = spark.createDataFrame([(1,)], schema="node long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, seeds, rounds=3).collect()
    }
    # manual integer simulation of the same recurrence
    from javascript_vector_database_spark.operators.graph import (
        BASE_MASS,
        DAMP_DEN,
        DAMP_NUM,
        RANK_SCALE,
    )

    adj = {1: [2], 2: [1, 3], 3: [2, 4], 4: [3, 5], 5: [4]}
    deg = {n: len(v) for n, v in adj.items()}
    ranks = {1: RANK_SCALE}
    for _ in range(3):
        contrib: dict[int, int] = {}
        for n, r in ranks.items():
            for m in adj[n]:
                contrib[m] = contrib.get(m, 0) + r // deg[n]
        new = {}
        for n in set(contrib) | {1}:
            base = BASE_MASS if n == 1 else 0
            r = base + (DAMP_NUM * contrib.get(n, 0)) // DAMP_DEN
            if r > 0:
                new[n] = r
        ranks = new
    assert got == ranks, (got, ranks)
    assert 5 not in got  # 4 hops away: unreachable in 3 rounds


def test_passjoin_short_strings_vs_bruteforce(spark):
    """The PassJoin both-short branch: strings shorter than k+1 chars
    cannot index; every short-short pair must still surface (their ED
    is <= k unconditionally), alongside short-long and long-long pairs,
    matching a quadratic Levenshtein reference."""
    from javascript_vector_database_spark.registry.decorrelated import (
        _ED_K,
        edit_distance_pairs,
    )

    def ed(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    keys = ["ab", "ab", "a", "b", "abc", "abd", "abcd", "xbcd",
            "zzzzzz", "zzzzyz", "qqqqqqqq", ""]
    rows = [(i, s, len(s)) for i, s in enumerate(keys)]
    df = spark.createDataFrame(rows, schema="doc_id long, sk string, la long")
    got = sorted(
        (r["doc_a"], r["doc_b"], r["edit_distance"])
        for r in edit_distance_pairs(df).collect()
    )
    want = sorted(
        (i, j, ed(keys[i], keys[j]))
        for i in range(len(keys))
        for j in range(i + 1, len(keys))
        if ed(keys[i], keys[j]) <= _ED_K
    )
    assert got == want, (got, want)


def test_seeded_triangle_counts_match_full_sweep(spark):
    # the seeded probe must agree exactly with the all-node compact-
    # forward sweep on the seed set — random graph incl. hub + triangles
    rng = random.Random(11)
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randint(0, 25), rng.randint(0, 25)) for _ in range(140)
            )
            if a != b
        }
    )
    e = spark.createDataFrame(edges, schema="src long, dst long")
    full = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering_coef"])
        for r in local_triangle_counts(e).collect()
    }
    seed_ids = sorted(full)[::3]  # every third node, incl. deg>=2 only
    seeds = spark.createDataFrame(
        [(s,) for s in seed_ids], schema="node long"
    )
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["clustering_coef"])
        for r in seeded_triangle_counts(e, seeds).collect()
    }
    assert set(got) == set(seed_ids)
    for s in seed_ids:
        assert got[s] == full[s], (s, got[s], full[s])


# ---------------------------------------------------------------------------
# r7 second wave: LPA, bounded BFS, semantic dedup
# ---------------------------------------------------------------------------


def test_label_propagation_two_triangles_bridge(spark):
    """Hand-computed 2-round synchronous LPA on two triangles joined by
    one bridge edge — pins the majority/min-tie update exactly."""
    from javascript_vector_database_spark.operators.graph import (
        label_propagation,
        symmetric_edges,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["label"]
        for r in label_propagation(symmetric_edges(pairs), rounds=2).collect()
    }
    # round 1: 1->2 (tie 2/3), 2->1, 3->1 (tie 1/2/4), 4->3 (tie 3/5/6),
    # 5->4, 6->4; round 2 from {1:2,2:1,3:1,4:3,5:4,6:4}:
    # 1: nbrs {2,3} labels {1,1} -> 1;   2: {1,3} -> {2,1} tie -> 1
    # 3: {1,2,4} -> {2,1,3} tie -> 1;   4: {3,5,6} -> {1,4,4} -> 4
    # 5: {4,6} -> {3,4} tie -> 3;       6: {4,5} -> {3,4} tie -> 3
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}


def test_bfs_hops_path_graph_bound(spark):
    """Min-hop distances on a path, including the round bound (nodes
    past max_hops are absent) and isolated seeds (hops 0)."""
    from javascript_vector_database_spark.operators.graph import (
        bfs_hops,
        symmetric_edges,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (99,)], "node long")
    got = {
        r["node"]: r["hops"]
        for r in bfs_hops(symmetric_edges(pairs), seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 99: 0}


def test_semantic_medoids_and_prune_crafted_clusters(spark):
    """Two crafted clusters with explicit centroids: the medoid is the
    member nearest its centroid; the prune list is exactly the non-medoid
    members whose cosine to the medoid clears tau (linear scoring)."""
    from javascript_vector_database_spark.operators.dedup import (
        semantic_medoids,
        semantic_prune,
    )

    cents = [(0, [10.0, 0.0]), (1, [0.0, 10.0])]
    rows = [
        (1, [9.0, 0.0]),     # cell 0, nearest -> medoid
        (2, [8.0, 0.5]),     # cell 0, cos to medoid ~0.998 -> pruned
        (3, [6.0, -6.0]),    # cell 0 (dist to c0 < c1), cos ~0.707
        (4, [0.0, 11.0]),    # cell 1, nearest -> medoid
        (5, [-0.5, 9.0]),    # cell 1, cos ~0.998 -> pruned
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    med = {
        r["ivf_cell"]: (r["medoid_id"], r["n_docs"])
        for r in semantic_medoids(df, cents=cents).collect()
    }
    assert med == {0: (1, 3), 1: (4, 2)}
    pruned = {
        r["vec_id"]: r["ivf_cell"]
        for r in semantic_prune(df, threshold=0.9, cents=cents).collect()
    }
    assert pruned == {2: 0, 5: 1}
