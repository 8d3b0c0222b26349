"""Scale-path ANN: IVF coarse quantization and random-hyperplane LSH.

The reference's pivot-distance index (5 pivots, range/neighborhood scans)
is a fixed-pivot coarse quantizer.  These two operators are its
100 TB-scale generalizations (SURVEY §2.8 "BucketedRandomProjectionLSH as
the scalable generalization"):

* **IVF**: partition vectors by nearest centroid; a query probes only the
  ``nprobe`` nearest cells.  Centroids are a FIXED-K deterministic sample
  (the K rows with the smallest md5(vec_id) — a seeded uniform draw both
  engines reproduce), so centroid count is O(1) in table size: the inlined
  literal array, the per-row argmin fold, and the driver collect all stay
  bounded no matter how large the table grows.  At scale: write the table
  partitioned by ``ivf_cell`` — probing prunes whole partitions before any
  scan; swap the sample for MLlib k-means‖ centers when recall matters.
* **Hyperplane LSH**: sign-bit bucket of dot products against seeded
  hyperplanes; bucket-equality join gives candidates in one shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from javascript_vector_database_spark.functions.vector import (
    dot,
    euclidean_distance,
    lit_double_array,
)
from javascript_vector_database_spark.operators.knn import (
    _pivot_distances,
    _qvec_lit,
    exact_knn,
    top_n_per_query,
)
from javascript_vector_database_spark.pivots import TOP_K, make_pivots

IVF_K = 16  # fixed centroid count, independent of table size
N_PROBE = 2
LSH_SEED = 7
LSH_BITS = 8


def ivf_centroids(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
                  k: int = IVF_K) -> DataFrame:
    """Fixed-K deterministic centroid sample: the K rows with the smallest
    md5 of the primary key — a uniform hash-order draw whose cost is one
    TakeOrdered pass and whose size never grows with the table (the old
    ``vec_id % step`` scheme made centroid count O(n), which made the
    argmin fold O(n²/step) and the inlined literal unbounded)."""
    return (
        emb.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cemb"))
        .orderBy(F.md5(F.col("cid").cast("string")).asc(), F.col("cid").asc())
        .limit(k)
    )


def collect_centroids(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = IVF_K,
) -> list[tuple[int, list[float]]]:
    """Centroid set, collected driver-side (K rows by construction) and
    sorted by cid for deterministic tie-breaks."""
    rows = ivf_centroids(emb, id_col, vec_col, k).collect()
    return sorted((int(r["cid"]), [float(x) for x in r["cemb"]]) for r in rows)


def ivf_kmeans_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = IVF_K,
    seed: int = 42,
    max_iter: int = 10,
) -> list[tuple[int, list[float]]]:
    """Trained centroid set via MLlib k-means‖ — the recall-optimal IVF
    path (cluster centers adapt to the data distribution, unlike the
    hash-order sample).  Same (cid, center) contract as collect_centroids,
    so it plugs straight into ivf_cell_expr / ivf_assign / ivf_search.
    Not oracle-checked (k-means assignment depends on partitioning);
    structural + recall properties are pytest-verified instead."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
    return [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]


#: above this (dim * centroid-count) product the nearest-centroid fold
#: switches to the Arrow kernel: at 384x16 the per-row interpreted HOF
#: fold (16 chained 384-term euclidean folds) costs seconds per 1000
#: rows, while the vectorized kernel is milliseconds and the same
#: scan-local no-shuffle shape.  64x16 (the corpus geometry) stays on
#: the expression fold — compiled once it is JVM-fast and join-free.
IVF_WIDE_CELLS = 2048


def _ivf_cells_pandas(cents: list[tuple[int, list[float]]]):
    """Arrow-vectorized nearest-centroid assignment — bit-exact with
    :func:`ivf_cell_expr`'s fold: squared diffs accumulate LEFT-
    ASSOCIATED in element order (one vectorized step per element
    position), sqrt is correctly rounded in both engines, and
    ``np.argmin``'s first-minimum tie rule equals ``least()`` on the
    (d, cid) struct with cents sorted by cid."""
    cids = np.array([int(cid) for cid, _ in cents], dtype=np.int64)
    C = np.array([c for _, c in cents], dtype=np.float64)  # (k, dim)

    @F.pandas_udf("long")
    def cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        x = np.array(v.tolist(), dtype=np.float64)
        acc = np.zeros((x.shape[0], C.shape[0]))
        for i in range(C.shape[1]):
            d = x[:, i, None] - C[None, :, i]
            acc = acc + d * d
        return pd.Series(cids[np.argmin(np.sqrt(acc), axis=1)])

    return cell


def ivf_cell_expr(vec: Column | str, cents: list[tuple[int, list[float]]]) -> Column:
    """Nearest-centroid id as a pure Column expression: the centroids are
    inlined as literals and the argmin is ONE fold over them — no join, no
    shuffle, scan-only.  Ties go to the lowest cid (cents sorted).  This
    is the 100 TB plan: assignment is embarrassingly parallel; the
    downstream table is then written partitioned by ivf_cell.  Wide
    geometries (dim x cells > IVF_WIDE_CELLS) route to the Arrow kernel
    (:func:`_ivf_cells_pandas`) — same values, same scan-local shape."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    if len(cents) * len(cents[0][1]) > IVF_WIDE_CELLS:
        return _ivf_cells_pandas(cents)(vec.cast("array<double>"))
    cent_arr = F.array(*[
        F.struct(
            F.lit(cid).cast("long").alias("cid"),
            lit_double_array(cemb).alias("cemb"),
        )
        for cid, cemb in cents
    ])
    init = F.struct(
        F.lit(float("inf")).alias("d"), F.lit(-1).cast("long").alias("cid")
    )
    # least() on the (d, cid) struct = lexicographic argmin: smallest
    # distance, ties to the lowest cid — one distance fold per centroid
    return F.aggregate(
        cent_arr,
        init,
        lambda acc, c: F.least(
            acc,
            F.struct(
                euclidean_distance(vec, c["cemb"]).alias("d"), c["cid"].alias("cid")
            ),
        ),
        lambda acc: acc["cid"],
    )


def ivf_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_cents: int = IVF_K,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Assign every vector to its nearest centroid — shuffle-free (see
    ivf_cell_expr)."""
    if cents is None:
        cents = collect_centroids(emb, id_col, vec_col, k_cents)
    return emb.select(
        F.col(id_col), ivf_cell_expr(F.col(vec_col), cents).alias("ivf_cell")
    )


def ivf_assign_dist(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_cents: int = IVF_K,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Like :func:`ivf_assign` but keeps the distance to the winning
    centroid — the input to medoid selection / semantic dedup.  Same
    single scan-local fold (the (d, cid) argmin struct is simply
    returned whole instead of projected to cid).

    NARROW-GEOMETRY ONLY: this fold always inlines the centroid
    literals (no IVF_WIDE_CELLS Arrow routing — the kernel returns only
    the cell id, not cdist).  Fine at the 64x16 call sites; for wide
    geometries (dim x cells > IVF_WIDE_CELLS, e.g. 384-dim) the
    interpreted HOF fold costs seconds per 1000 rows — extend
    _ivf_cells_pandas to also return the winning distance before
    pointing 384-dim semantic dedup here."""
    if cents is None:
        cents = collect_centroids(emb, id_col, vec_col, k_cents)
    vec = F.col(vec_col)
    cent_arr = F.array(*[
        F.struct(
            F.lit(cid).cast("long").alias("cid"),
            lit_double_array(cemb).alias("cemb"),
        )
        for cid, cemb in cents
    ])
    init = F.struct(
        F.lit(float("inf")).alias("d"), F.lit(-1).cast("long").alias("cid")
    )
    best = F.aggregate(
        cent_arr,
        init,
        lambda acc, c: F.least(
            acc,
            F.struct(
                euclidean_distance(vec, c["cemb"]).alias("d"),
                c["cid"].alias("cid"),
            ),
        ),
    )
    return emb.select(
        F.col(id_col),
        vec.alias(vec_col),
        best["cid"].alias("ivf_cell"),
        best["d"].alias("cdist"),
    )


def _cell_distances(
    probe: str, query_vec: list[float], cents: list[tuple[int, list[float]]]
) -> list[tuple[float, int]]:
    """(distance, cid) from the query to every centroid, through
    ``knn._pivot_distances``: a query whose length is not the
    centroids' raises its named ValueError before anything is built."""
    ds = _pivot_distances(probe, query_vec, [c for _, c in cents])
    return [(d, int(cid)) for d, (cid, _) in zip(ds, cents)]


def ivf_probe_cells(
    probe: str,
    query_vec: list[float],
    cents: list[tuple[int, list[float]]],
    nprobe: int,
) -> list[int]:
    """The ``nprobe`` cells whose centroids are nearest the query, ranked
    driver-side (the centroid set is tiny by construction); ties go to
    the lowest cid.  ``probe`` names the caller in the dimension error."""
    ranked = sorted(_cell_distances(probe, query_vec, cents))
    return [cid for _, cid in ranked[:nprobe]]


def _in_list_sql(col: str, values: list) -> str:
    """``col IN (…)`` as one SQL predicate (one parsed expression, not a
    py4j literal per value); the values are cell ids or 0/1 bucket
    strings.  An empty list matches nothing."""
    if not values:
        return "false"
    return f"{col} IN ({', '.join(repr(v) for v in values)})"


def ivf_search(
    emb: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_cents: int = IVF_K,
    nprobe: int = N_PROBE,
    k: int = TOP_K,
    cents: list[tuple[int, list[float]]] | None = None,
    precomputed: bool = False,
) -> DataFrame:
    """Probe the nprobe nearest cells, exact-rank inside them.

    ``precomputed=False`` computes the cell id inline (scan-only, no
    join).  ``precomputed=True`` is the 100 TB path: ``emb`` already
    carries an ``ivf_cell`` column (written via ivf_assign, table
    partitioned by cell), so ``WHERE ivf_cell IN (...)`` prunes whole
    partitions before any scan — only the probed cells are ever read.
    ``cents`` lets the caller reuse a collected/trained centroid set
    (required when precomputed, so probe cells match the stored
    assignment).

    Centroid guidance: pass TRAINED centroids (ivf_kmeans_centroids at
    build time, or a persisted centroid table — see
    registry/ref_geometry.py's fixtures/centroids_384.parquet idiom)
    whenever recall matters: on the clustered 384-dim fixture the
    trained set serves recall@10 0.88 at nprobe=4 vs 0.46 for the
    hash-order sample.  The ``cents=None`` sample default exists for
    zero-setup calls and pure-SQL oracle portability, not quality.

    The probed rows go to ``knn.exact_knn``.  A query whose length is
    not the centroids' raises a ValueError naming this probe."""
    if cents is None:
        if precomputed:
            raise ValueError(
                "precomputed=True requires the centroid set the stored "
                "ivf_cell column was assigned with"
            )
        cents = collect_centroids(emb, id_col, vec_col, k_cents)
    probe_ids = ivf_probe_cells("ivf_search", query_vec, cents, nprobe)
    src = emb if precomputed else emb.withColumn(
        "ivf_cell", ivf_cell_expr(F.col(vec_col), cents)
    )
    return exact_knn(
        src.where(_in_list_sql("ivf_cell", probe_ids)), query_vec, k, id_col,
        vec_col,
    )


def knn_batch_ivf(
    emb: DataFrame,
    queries: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_cents: int = IVF_K,
    nprobe: int = N_PROBE,
    k: int = TOP_K,
    cents: list[tuple[int, list[float]]] | None = None,
    precomputed: bool = False,
) -> DataFrame:
    """Batch ANN over the IVF index: each query only scans its ``nprobe``
    probed cells.  The probe set is computed driver-side (|Q| × K_cents
    distances — bounded) and shipped as a broadcast (query_id, ivf_cell,
    qvec) table; candidates come from an EQUI-join on ivf_cell, so the
    corpus never fans out by |Q| — each row joins only the queries probing
    its cell.  With ``precomputed=True`` + a ``partitionBy(ivf_cell)``
    layout, the join's cell set prunes partitions.  Per-query top-k via
    ``knn.top_n_per_query`` over the (small) candidate set.
    Output: (query_id, id, distance)."""
    if cents is None:
        if precomputed:
            raise ValueError(
                "precomputed=True requires the centroid set the stored "
                "ivf_cell column was assigned with"
            )
        cents = collect_centroids(emb, id_col, vec_col, k_cents)
    probe_rows = [
        (int(qid), cid, [float(x) for x in qv])
        for qid, qv in queries
        for cid in ivf_probe_cells("knn_batch_ivf", qv, cents, nprobe)
    ]
    probes = emb.sparkSession.createDataFrame(
        probe_rows, schema="query_id long, ivf_cell long, qvec array<double>"
    )
    src = emb if precomputed else emb.withColumn(
        "ivf_cell", ivf_cell_expr(F.col(vec_col), cents)
    )
    scored = src.join(F.broadcast(probes), "ivf_cell").select(
        "query_id",
        id_col,
        F.round(euclidean_distance(F.col(vec_col), F.col("qvec")), 6).alias(
            "distance"
        ),
    )
    return top_n_per_query(
        scored, k, "query_id", F.col("distance"), F.col(id_col)
    )


def hyperplanes(dim: int, bits: int = LSH_BITS, seed: int = LSH_SEED) -> list[list[float]]:
    return make_pivots(dim, n=bits, seed=seed)


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket string: '1' where dot(v, h_j) > 0 else '0'."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    bits = [
        F.when(dot(vec, _qvec_lit(h)) > 0, F.lit("1")).otherwise(F.lit("0"))
        for h in planes
    ]
    return F.concat(*bits)


def lsh_bucket_table(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = LSH_BITS,
    seed: int = LSH_SEED,
    dim: int | None = None,
) -> DataFrame:
    if dim is None:
        # probe a non-null vector; only a table with NO usable vectors is
        # "empty", and then we return ZERO rows (never all rows sharing a
        # '' bucket, which would collapse downstream blocking)
        head = emb.where(F.col(vec_col).isNotNull()).select(vec_col).first()
        if head is None:
            return emb.select(F.col(id_col), F.lit("").alias("bucket")).limit(0)
        dim = len(head[0])
    planes = hyperplanes(dim, bits, seed)
    return emb.select(F.col(id_col), lsh_bucket(F.col(vec_col), planes).alias("bucket"))


def _py_dots(vec: list[float], planes: list[list[float]]) -> list[float]:
    """Driver-side per-plane dot products — same sequential left-
    associated fold as the Column expression / oracle sql_dot."""
    out = []
    for h in planes:
        s = 0.0
        for a, b in zip(vec, h):
            s += float(a) * float(b)
        out.append(s)
    return out


def _py_bucket(vec: list[float], planes: list[list[float]]) -> str:
    """Driver-side bucket of the query vector — same sequential dot fold
    as the Column expression."""
    return "".join("1" if s > 0 else "0" for s in _py_dots(vec, planes))


def lsh_probe_buckets(
    query_vec: list[float],
    planes: list[list[float]],
    hamming: int = 1,
) -> list[str]:
    """Hamming-ball probe set: the query's bucket plus every bucket within
    the given hamming distance (single-bit flips for hamming=1).  Kept as
    the simple baseline; :func:`lsh_probe_buckets_directed` dominates it
    at equal scan width."""
    qb = _py_bucket(query_vec, planes)
    probes = [qb]
    if hamming >= 1:
        for j in range(len(qb)):
            probes.append(qb[:j] + ("0" if qb[j] == "1" else "1") + qb[j + 1:])
    return probes


#: query-directed probe width: 32 of the 2^LSH_BITS=256 buckets.  On the
#: sf0.1 corpus this serves recall@10 0.51 at a 0.14 docs-read ratio —
#: the hamming-ball alternatives lose at EQUAL scan: full hamming<=2 (37
#: probes) recalls 0.41 at 0.157 read, hamming<=1 (the r3-r7 default, 9
#: probes) recalls 0.22 at 0.042.  Probe count is a query-time knob:
#: B=48 measures 0.61 at 0.20 read on the same corpus.
LSH_N_PROBE = 32


def lsh_probe_buckets_directed(
    query_vec: list[float],
    planes: list[list[float]],
    n_probe: int = LSH_N_PROBE,
) -> list[str]:
    """Query-directed multi-probe (Lv et al., VLDB 2007): rank ALL 2^bits
    buckets by the success-likelihood score — the sum of |margin| over the
    bits where the bucket disagrees with the query's bucket (a bucket
    flipping only low-|dot| planes is likely to hold near neighbors) —
    and probe the ``n_probe`` best.  Strictly better bucket ordering than
    hamming distance, which treats a confident bit and a borderline bit
    as equally flippable.

    Enumeration is 2^bits driver-side rows — fine at LSH_BITS=8 (256);
    for wide codes (>16 bits) switch to Lv's incremental heap expansion
    instead of materializing the ranking.  Tie-breaks are (score, bucket)
    lexicographic and the score sum is left-associated in plane order, so
    a SQL oracle reproduces the exact probe set."""
    qd = _py_dots(query_vec, planes)
    nb = len(planes)
    if nb > 16:
        raise ValueError("2^bits enumeration is bounded to bits <= 16")
    qb = "".join("1" if s > 0 else "0" for s in qd)
    scored = []
    for v in range(2 ** nb):
        b = format(v, f"0{nb}b")
        s = 0.0
        for j in range(nb):
            s += abs(qd[j]) if b[j] != qb[j] else 0.0
        scored.append((s, b))
    scored.sort()
    return [b for _, b in scored[:n_probe]]


def lsh_search(
    emb: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = LSH_BITS,
    seed: int = LSH_SEED,
    k: int = TOP_K,
    n_probe: int | None = LSH_N_PROBE,
    hamming: int = 1,
    precomputed: bool = False,
) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN: candidates = rows in the probed
    bucket set, exact euclidean re-rank, top-k.  Scan + IN-list filter +
    TakeOrderedAndProject — no shuffle.  The probe set is QUERY-DIRECTED
    by default (``n_probe`` best buckets by disagreeing-margin score —
    see lsh_probe_buckets_directed; recall@10 0.51 at 0.14 docs read on
    the sf0.1 corpus vs 0.22 at 0.04 for the old hamming<=1 ball); pass
    ``n_probe=None`` to fall back to the hamming-ball probe set.
    ``precomputed=True`` is the scale path: ``emb`` already carries the
    ``bucket`` column (written via lsh_bucket_table, same bits/seed), so
    the IN-list prunes via min/max stats or partitioning instead of
    re-hashing the whole corpus per query.  The probed rows go to
    ``knn.exact_knn``.

    Nothing here fixes the dimension: the hyperplanes are drawn for the
    query's length.  A query of another length than the stored vectors
    hashes every row to the all-zero bucket (each dot product is null),
    so it returns no rows unless that bucket is probed, and then their
    distances are null."""
    planes = hyperplanes(len(query_vec), bits, seed)
    if n_probe is not None:
        probes = lsh_probe_buckets_directed(query_vec, planes, n_probe)
    else:
        probes = lsh_probe_buckets(query_vec, planes, hamming)
    src = emb if precomputed else emb.withColumn(
        "bucket", lsh_bucket(F.col(vec_col), planes)
    )
    return exact_knn(
        src.where(_in_list_sql("bucket", probes)), query_vec, k, id_col, vec_col
    )


#: deterministic Lloyd training: fixed rounds, integer-exact centroid
#: updates (coords scaled by LLOYD_SCALE, summed as BIGINT, floor-div
#: by the member count) — every quantity either exact-integer or an
#: identical IEEE expression shape, so BOTH engines reproduce the
#: trained centroids bit for bit and the training itself becomes
#: oracle-checkable (the 384 fixture decouples training to a parquet
#: artifact instead; that needs ONE corpus, while the per-sf 64-dim
#: tables are independent draws — so here training must travel with
#: the query).
LLOYD_ROUNDS = 3
LLOYD_SCALE = 1_000_000
#: probe width the Lloyd-trained registered row serves: this synthetic
#: corpus is overlap-heavy (even TRUE generator-cluster centroids cap
#: at recall@10 0.70 by nprobe=4 — neighbor lists are noise-dominated,
#: not cluster-pure), so >=0.8 recall on the bench's 10-query set
#: costs 8 of 16 cells (docs-read ~0.50; measured 0.82/0.82 at
#: sf0.01/sf0.1 — vs 0.73 at nprobe=6).  The honest reading: coarse
#: quantization pays half-corpus reads for 0.8 recall HERE because the
#: corpus is near-unclusterable; the recall-per-read win shows on the
#: clustered 384 fixture family.  This row's value is the
#: oracle-checked trainer, not the recall curve.
LLOYD_NPROBE = 8


def ivf_lloyd_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = IVF_K,
    rounds: int = LLOYD_ROUNDS,
) -> list[tuple[int, list[float]]]:
    """``rounds`` deterministic Lloyd iterations from the hash-order
    sample init: assign every vector to its nearest current centroid
    (the same scan-local literal argmin fold as ivf_assign), then move
    each centroid to the INTEGER-EXACT mean of its members —
    ``(sum of floor(x*SCALE + 0.5) as BIGINT) floor-div n / SCALE`` —
    so the update has no float-summation order to disagree on.  Each
    round collects exactly k rows (bounded by construction); an empty
    cell keeps its previous center.  Unlike MLlib k-means‖ (whose fit
    depends on partitioning), this trainer is engine-reproducible:
    registry/ann_scale_queries._lloyd_cents_cte unrolls the identical
    rounds in DuckDB SQL and the driver hash-matches the probe results.
    Recall on the 64-dim corpus (the bench's 10-query set, nprobe=8):
    0.82 at both sf0.01 and sf0.1 vs 0.50 for the untrained sample row
    at its standard config — see LLOYD_NPROBE's honest docs-read note."""
    cents = collect_centroids(emb, id_col, vec_col, k)
    dim = len(cents[0][1])
    vec = F.col(vec_col)
    for _ in range(rounds):
        assigned = emb.select(
            vec.alias("__v"), ivf_cell_expr(vec, cents).alias("__c")
        )
        sums = assigned.groupBy("__c").agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            *[
                F.sum(
                    F.floor(
                        F.col("__v")[d].cast("double") * LLOYD_SCALE + 0.5
                    ).cast("long")
                ).alias(f"__s{d}")
                for d in range(dim)
            ],
        )
        moved = {
            int(r["__c"]): [
                (int(r[f"__s{d}"]) // int(r["__n"])) / LLOYD_SCALE
                for d in range(dim)
            ]
            for r in sums.collect()  # bounded: <= k rows
        }
        cents = sorted(
            (cid, moved.get(cid, old)) for cid, old in cents
        )
    return cents


# ---------------------------------------------------------------------------
# radius (range) search with triangle-inequality cell pruning
# ---------------------------------------------------------------------------


def ivf_cell_radii(
    assigned: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    cells: list[int] | None = None,
) -> dict[int, float]:
    """Write-time per-cell covering radius: max dist(member, centroid)
    over each cell's members — ONE grouped aggregate over the assigned
    table, collected as a bounded K-row dict (the IVF-centroid idiom:
    tiny layout constants derived once at build time).  The radius is
    what makes a radius query's cell pruning LOSSLESS — see
    ivf_radius_search.

    ``cells`` restricts the aggregate to the listed cells — the
    incremental-maintenance path (see update_cell_radii): under a
    ``partitionBy(ivf_cell)`` layout the IN filter is a PartitionFilter,
    so refreshing the radii a CDC batch touched reads only those
    directories, never the corpus."""
    from javascript_vector_database_spark.functions.vector import (
        euclidean_distance,
    )

    cent_map = {int(cid): cemb for cid, cemb in cents}
    # dist-to-own-centroid as a when-cascade over K centroid literals,
    # scan-local (no join); K is small by construction
    chain = None
    for cid, cemb in cent_map.items():
        expr = euclidean_distance(F.col(vec_col), _qvec_lit(cemb))
        chain = (
            F.when(F.col("ivf_cell") == cid, expr)
            if chain is None
            else chain.when(F.col("ivf_cell") == cid, expr)
        )
    src = assigned
    if cells is not None:
        src = src.where(F.col("ivf_cell").isin([int(c) for c in cells]))
    rows = (
        src.withColumn("__cd", chain)
        .groupBy("ivf_cell")
        .agg(F.max("__cd").alias("radius"))
        .collect()
    )
    return {int(r["ivf_cell"]): float(r["radius"]) for r in rows}


def update_cell_radii(
    radii: dict[int, float],
    assigned: DataFrame,
    cents: list[tuple[int, list[float]]],
    touched_cells: list[int],
    vec_col: str = "embedding",
) -> dict[int, float]:
    """Incremental covering-radius maintenance after a CDC batch: the
    touched cells' radii are RECOMPUTED from the live table (one
    partition-pruned grouped max over exactly those directories) and
    merged over the standing dict.

    Recompute-not-adjust is deliberate: a max is insertion-monotone but
    NOT deletion-monotone — after a delete the stored bound can only be
    kept sound by keeping it stale-high (still lossless, probes a cell
    it could skip) or re-deriving it from the survivors.  Touched-cell
    recompute re-derives at touched-partition cost, the same pruning
    contract the DML verbs themselves run under; a cell whose members
    all vanished drops OUT of the dict (no members -> nothing a radius
    query could find there -> the probe bound never admits it)."""
    fresh = ivf_cell_radii(assigned, cents, vec_col, cells=touched_cells)
    touched = set(map(int, touched_cells))
    out = {c: r for c, r in radii.items() if int(c) not in touched}
    out.update(fresh)
    return out


#: rounding slack for radius probe bounds: the row filter compares
#: round(dist, 6) <= radius, so the probe bound must cover the margin or
#: a boundary vector's survival would depend on which cell it landed in
RADIUS_ROUND_SLACK = 5e-7


def ivf_radius_probe_cells(
    cents: list[tuple[int, list[float]]],
    query_vec: list[float],
    radius: float,
    cell_radii: dict[int, float],
    probe: str = "ivf_radius_probe_cells",
) -> list[int]:
    """Driver-side probe list for a radius query — the triangle-bound
    cell filter shared by the single-query / batch operators and the
    bench evidence (one definition, no copy-paste slack drift).  A cell
    absent from ``cell_radii`` (no members) gets bound 0.0: it is
    probed only if its centroid itself lies inside the radius, where
    the empty scan is a no-op either way.  ``probe`` names the caller
    in the dimension error."""
    return [
        cid
        for d, cid in _cell_distances(probe, query_vec, cents)
        if d <= radius + RADIUS_ROUND_SLACK + cell_radii.get(cid, 0.0)
    ]


def ivf_radius_search(
    assigned: DataFrame,
    query_vec: list[float],
    radius: float,
    cents: list[tuple[int, list[float]]],
    cell_radii: dict[int, float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """RADIUS (range) query: every vector within ``radius`` of the
    query — the standard vector-DB range search (the top-k rows' fixed-
    cardinality sibling), served from the partitioned IVF layout with
    LOSSLESS cell pruning by the triangle inequality:

        for any member x of cell c:
            dist(q, centroid_c) <= dist(q, x) + dist(x, centroid_c)
        so  dist(q, x) <= radius  implies
            dist(q, centroid_c) <= radius + cell_radius_c

    — a cell whose centroid sits farther than ``radius + its covering
    radius`` from the query CANNOT contain a match and is never read.
    Both bounds are write-time constants (centroids + ivf_cell_radii),
    so the probe set is computed driver-side from K numbers and the
    scan is ``WHERE ivf_cell IN (probe set) AND dist <= radius`` —
    partition pruning on the stored layout plus one exact filter, no
    shuffle.  At 100 TB selective radii touch a handful of cell
    directories; a radius covering the whole space degrades gracefully
    to the full scan it genuinely requires.

    Geometry honesty (measured, tests/test_r11_wave.py): on unit-norm
    high-dim corpora — the 64-dim synthetic draw AND the clustered 384
    fixture — the covering radii blanket the space (a k=20 radius plus
    any cell's max-member distance exceeds every centroid distance),
    so the bound prunes nothing there and the query is a correct full
    scan; the bound bites when clusters are tight relative to the
    radius (pinned on crafted low-dim clusters: 3 of 4 cells pruned).
    The per-cell MEAN+quantile radius or per-cell second-moment bounds
    would prune more at the cost of a lossy guarantee — this operator
    keeps the lossless contract.  Output:
    (id, distance <= radius), ascending."""
    from javascript_vector_database_spark.functions.vector import (
        euclidean_distance,
    )

    probe = ivf_radius_probe_cells(
        cents, query_vec, radius, cell_radii, "ivf_radius_search"
    )
    return (
        assigned.where(F.col("ivf_cell").isin(probe))
        .withColumn(
            "distance",
            F.round(
                euclidean_distance(F.col(vec_col), _qvec_lit(query_vec)), 6
            ),
        )
        .where(F.col("distance") <= radius)
        .select(id_col, "distance")
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
    )


def ivf_radius_narrow_table(
    emb: DataFrame,
    query_vecs: list[tuple[int, list[float]]],
    cents: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE scan that derives every number a radius query needs from the
    wide corpus: per row the ivf cell, the distance to its own centroid
    (the covering-radius input), and the ROUNDED distance to each query
    vector — materialized as an eager localCheckpoint so the follow-up
    probes (K-row radii aggregate, top-nn radius derivation, the final
    band filter) run over a 4-column table instead of re-folding the
    vector column once per consumer (guide §1.2/§2.3: the registered
    radius row previously paid the 384-element fold 3·K+2 times per
    row across its sequential passes; this pays K+|Q| once).
    Output: (id, ivf_cell, cdist, __qd<i> per query)."""
    from javascript_vector_database_spark.functions.vector import (
        euclidean_distance,
    )

    qd_cols = [
        F.round(
            euclidean_distance(F.col(vec_col), _qvec_lit(qv)), 6
        ).alias(f"__qd{i}")
        for i, (_qid, qv) in enumerate(query_vecs)
    ]
    return (
        ivf_assign_dist(emb, id_col, vec_col, cents=cents)
        .select(F.col(id_col), "ivf_cell", "cdist", *qd_cols)
        .localCheckpoint(eager=True)
    )


def radius_from_narrow(
    narrow: DataFrame, qd_col: str, nn: int, id_col: str = "vec_id"
) -> float:
    """The data-derived radius (nn-th exact-NN rounded distance) off the
    narrow table — the same value _nn_radius derives with a full corpus
    fold, for a bounded top-nn over one double column.  An empty narrow
    table has no nn-th neighbor: that raises a named ValueError."""
    rows = (
        narrow.select(qd_col, id_col)
        .orderBy(F.col(qd_col).asc(), F.col(id_col).asc())
        .limit(nn)
        .collect()
    )
    if not rows:
        raise ValueError(
            f"radius_from_narrow: the narrow table is empty, so {qd_col}"
            f" has no nearest neighbor to derive a radius from"
        )
    return max(float(r[qd_col]) for r in rows)


def cell_radii_from_narrow(narrow: DataFrame) -> dict[int, float]:
    """Covering radii off the narrow table — same K-row dict as
    ivf_cell_radii, without re-folding the vector column."""
    rows = (
        narrow.groupBy("ivf_cell")
        .agg(F.max("cdist").alias("radius"))
        .collect()
    )
    return {int(r["ivf_cell"]): float(r["radius"]) for r in rows}


def ivf_radius_fused(
    emb: DataFrame,
    queries: list[tuple[int, list[float]]],
    cents: list[tuple[int, list[float]]],
    nn: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Radius search for one or many queries off ONE corpus scan
    (ivf_radius_narrow_table): assignment, covering radii, each query's
    radius (its nn-th exact-NN distance) and the final band filter all
    read the narrow table, so the corpus is never re-folded per query.
    Per query, the rows equal ivf_radius_search over the same radius:
    the probe set is the same lossless driver-side triangle bound and
    the emitted distance is the same rounded fold.  ``queries`` is
    [(query_id, qvec)]; an empty list gives an empty frame, and a query
    whose length is not the centroids' is refused before the scan.
    Output: (query_id, id, distance <= that query's radius)."""
    for _, qv in queries:
        _cell_distances("ivf_radius_fused", qv, cents)
    if not queries:
        return emb.select(
            F.lit(None).cast("long").alias("query_id"),
            F.col(id_col),
            F.lit(None).cast("double").alias("distance"),
        ).limit(0)
    narrow = ivf_radius_narrow_table(emb, queries, cents, id_col, vec_col)
    radii = cell_radii_from_narrow(narrow)
    sel = None
    for i, (qid, qv) in enumerate(queries):
        radius = radius_from_narrow(narrow, f"__qd{i}", nn, id_col)
        probe = ivf_radius_probe_cells(cents, qv, radius, radii)
        cond = (
            F.col("ivf_cell").isin(probe)
            & (F.col(f"__qd{i}") <= F.lit(radius))
        )
        leg = narrow.where(cond).select(
            F.lit(int(qid)).cast("long").alias("query_id"),
            F.col(id_col),
            F.col(f"__qd{i}").alias("distance"),
        )
        sel = leg if sel is None else sel.unionByName(leg)
    return sel
