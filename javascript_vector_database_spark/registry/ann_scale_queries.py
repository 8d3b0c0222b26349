"""Scale-path similarity search surface (SURVEY §2.8 generalization):
brute-force cosine top-k baseline, IVF coarse quantization, and
multi-probe hyperplane LSH.

The reference's pivot-distance index IS a fixed-pivot coarse quantizer
(reference src/database.ts:195-198, src/search.ts:19-54); IVF and
hyperplane LSH are its 100 TB generalizations.  Every oracle reproduces
the exact assignment with the same sequential float folds."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from javascript_vector_database_spark import oracle as osql
from javascript_vector_database_spark.functions.vector import (
    cosine_similarity,
    lit_double_array,
)
from javascript_vector_database_spark.operators import ann_scale, quant
from javascript_vector_database_spark.operators.knn import exact_knn
from javascript_vector_database_spark.pivots import TOP_K, pivot_sql_literal
from javascript_vector_database_spark.registry import get_query_vec, register
from javascript_vector_database_spark.tables import load_table

#: oracle SQL is generated against the driver's sf0.01 data (64-dim)
ORACLE_DIM = 64


# ---------------------------------------------------------------------------
# brute-force cosine top-k (the similarity-search baseline)
# ---------------------------------------------------------------------------

_KNN_COSINE_ORACLE = f"""
WITH {osql.QVEC_CTE}
SELECT vec_id, round({osql.sql_cosine('embedding', 'qv')}, 6) AS cos_sim
FROM embeddings, q
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
"""


#: hard-negative ceiling == the cosine-dedup emission threshold: anything
#: the dedup stack would flag as a near-duplicate is a presumed positive
#: and must NOT be mined as a negative (the false-negative poisoning
#: problem in DPR/RocketQA-style contrastive training, public)
HARD_NEG_CEIL = 0.2
HARD_NEG_ANCHORS = (1, 2, 3, 4, 5)

_HARD_NEG_ORACLE = f"""
WITH qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id IN {HARD_NEG_ANCHORS}),
d AS (
  SELECT q.query_id, e.vec_id,
         round({osql.sql_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
  FROM embeddings e CROSS JOIN qs q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, cos_sim, CAST(rn AS BIGINT) AS neg_rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rn
  FROM d WHERE cos_sim < {HARD_NEG_CEIL}
) WHERE rn <= {TOP_K}
"""


@register("embedding_hard_negatives", oracle=_HARD_NEG_ORACLE)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive retriever training (public:
    DPR Karpukhin 2020, RocketQA Qu 2021): for each anchor, the top-k
    most-similar documents that are NOT near-duplicates — the negatives
    that actually move a contrastive loss, unlike random negatives the
    model separates for free.  The ceiling is the dedup stack's own
    cosine emission threshold ({ceil}): anything dedup would flag as a
    near-dup is a presumed positive, and mining it as a negative poisons
    training (the known false-negative failure mode RocketQA's denoising
    addresses).  Plan: broadcast the anchor set, ONE corpus scan scores
    every (anchor, doc) cosine JVM-side, the rounded score is filtered
    below the ceiling, and the per-anchor rank filter compiles to the
    two-phase WindowGroupLimit — each map partition emits at most k rows
    per anchor, so the corpus is read once for the whole anchor set and
    never fans out by |anchors| (the knn_batch shape).  Output
    (query_id, vec_id, cos_sim, neg_rank)."""
    from javascript_vector_database_spark.functions.vector import (
        dot,
        l2_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.where(
        F.col("vec_id").isin(list(HARD_NEG_ANCHORS))
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        # r14: anchor norms computed once on the 5-row side instead of
        # re-folded per (row, anchor) pair
        l2_norm(F.col("embedding")).alias("__qn"),
    )
    from pyspark.sql.window import Window

    # corpus norm folded once per row (not once per anchor); the cosine
    # is then one dot fold per pair — same dot/(|a||b|) doubles in the
    # same order, so the rounded value is bit-identical
    scored = (
        emb.withColumn("__en", l2_norm(F.col("embedding")))
        .crossJoin(F.broadcast(anchors))
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("embedding"), F.col("qv"))
                / (F.col("__en") * F.col("__qn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.where(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("cos_sim") < HARD_NEG_CEIL)
        )
        .withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .where(F.col("neg_rank") <= TOP_K)
        .select("query_id", "vec_id", "cos_sim", "neg_rank")
    )


embedding_hard_negatives.__doc__ = embedding_hard_negatives.__doc__.format(
    ceil=HARD_NEG_CEIL
)


@register("knn_cosine", oracle=_KNN_COSINE_ORACLE)
def knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 by cosine similarity: one scan ->
    TakeOrderedAndProject; the JVM-side zip_with/aggregate dot product
    keeps the whole plan codegen-adjacent (no Python)."""
    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), lit_double_array(qv)), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# IVF: assignment + probe search
# ---------------------------------------------------------------------------

# fixed-K hash-order centroid sample — same deterministic draw as
# ann_scale.ivf_centroids, O(1) in table size.  Builders take a table
# expression so the same SQL serves the sf tables and the 384-dim
# reference-geometry fixture (registry/ref_geometry.py).
def _ivf_cents_cte(table: str = "embeddings") -> str:
    return (
        f"cents AS (SELECT vec_id AS cid, embedding AS cemb FROM {table} "
        f"ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC "
        f"LIMIT {ann_scale.IVF_K})"
    )


def _ivf_assign_cte(table: str = "embeddings") -> str:
    return f"""
assign AS (
  SELECT vec_id, cid AS ivf_cell FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {osql.sql_euclid('e.embedding', 'c.cemb')} ASC, c.cid ASC
           ) AS rn
    FROM {table} e CROSS JOIN cents c
  ) WHERE rn = 1
)"""


_IVF_CENTS_CTE = _ivf_cents_cte()
_IVF_ASSIGN_CTE = _ivf_assign_cte()

_IVF_CELLS_ORACLE = f"""
WITH {_IVF_CENTS_CTE},{_IVF_ASSIGN_CTE}
SELECT ivf_cell, count(*) AS n_vectors
FROM assign GROUP BY ivf_cell
"""


@register("ann_ivf_cells", oracle=_IVF_CELLS_ORACLE)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell histogram: nearest-centroid assignment is a pure Column
    fold over inlined centroid literals — scan-only, shuffle only for the
    tiny per-cell count."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    return (
        ann_scale.ivf_assign(emb, cents=cents)
        .groupBy("ivf_cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def _ivf_search_oracle(
    table: str = "embeddings",
    qcte: str = osql.QVEC_CTE,
    nprobe: int = ann_scale.N_PROBE,
    cents_cte: str | None = None,
) -> str:
    # cents_cte lets the caller swap the hash-order sample for a persisted
    # centroid set (e.g. the trained 384-dim fixture, read_parquet by both
    # engines) — the assignment/probe SQL is identical either way
    return f"""
WITH {qcte},
{cents_cte or _ivf_cents_cte(table)},{_ivf_assign_cte(table)},
probe AS (
  SELECT cid FROM cents, q
  ORDER BY {osql.sql_euclid('cemb', 'qv')} ASC, cid ASC
  LIMIT {nprobe}
)
SELECT e.vec_id, round({osql.sql_euclid('e.embedding', 'qv')}, 6) AS distance
FROM {table} e, q
JOIN assign a ON a.vec_id = e.vec_id
WHERE a.ivf_cell IN (SELECT cid FROM probe)
ORDER BY distance ASC, e.vec_id ASC
LIMIT {TOP_K}
"""


_IVF_SEARCH_ORACLE = _ivf_search_oracle()


@register("ann_ivf_search", oracle=_IVF_SEARCH_ORACLE)
def ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search: rank the nprobe nearest cells driver-side (the
    centroid set is tiny), then exact re-rank inside the probed cells.
    With the table written partitioned by ivf_cell the IN-list prunes
    whole partitions."""
    qv = get_query_vec(spark, sf_dir)
    return ann_scale.ivf_search(load_table(spark, sf_dir, "embeddings"), qv)


_BATCH_IVF_ORACLE = f"""
WITH {_IVF_CENTS_CTE},{_IVF_ASSIGN_CTE},
qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       WHERE vec_id IN (1, 2, 3, 4, 5)),
probe AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {osql.sql_euclid('c.cemb', 'q.qv')} ASC, c.cid ASC
           ) AS rn
    FROM cents c CROSS JOIN qs q
  ) WHERE rn <= {ann_scale.N_PROBE}
),
cand AS (
  SELECT p.query_id,
         e.vec_id,
         round({osql.sql_euclid('e.embedding', 'q.qv')}, 6) AS distance
  FROM embeddings e
  JOIN assign a ON a.vec_id = e.vec_id
  JOIN probe p ON p.cid = a.ivf_cell
  JOIN qs q ON q.query_id = p.query_id
)
SELECT query_id, vec_id, distance FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY distance ASC, vec_id ASC) AS rn
  FROM cand
) WHERE rn <= {TOP_K}
"""


@register("ann_ivf_batch_search", oracle=_BATCH_IVF_ORACLE)
def ann_ivf_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN over the IVF index: 5 query vectors, each scanning only
    its nprobe probed cells — candidates come from an equi-join on
    ivf_cell against a broadcast (query_id, cell, qvec) probe table, so
    the corpus never fans out by |Q|."""
    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        emb.where(F.col("vec_id").isin([1, 2, 3, 4, 5]))
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in q_rows]
    return ann_scale.knn_batch_ivf(emb, queries)


@register("ann_ivf_search_partitioned", oracle=_IVF_SEARCH_ORACLE)
def ann_ivf_search_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF 100 TB layout made explicit: the assignment is computed at
    WRITE time (table stored ``partitionBy(ivf_cell)``), and the probe
    query reads that layout with ``precomputed=True`` — the IN-list
    becomes a PartitionFilter, so whole cells are skipped before any scan
    and no per-query argmin fold ever touches the corpus.  Same result as
    ``ann_ivf_search`` (same oracle); the executed plan's partition
    pruning is pinned by tests/test_plans.py."""
    import os
    import tempfile

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    layout = os.path.join(tempfile.mkdtemp(prefix="ivf_layout_"), "emb_by_cell")
    (
        emb.withColumn("ivf_cell", ann_scale.ivf_cell_expr(F.col("embedding"), cents))
        .write.partitionBy("ivf_cell")
        .mode("overwrite")
        .parquet(layout)
    )
    stored = spark.read.parquet(layout)
    return ann_scale.ivf_search(stored, qv, cents=cents, precomputed=True)


# ---------------------------------------------------------------------------
# radius (range) search over the IVF layout
# ---------------------------------------------------------------------------

#: the radius is DATA-DERIVED so DuckDB computes the identical constant:
#: the distance of the RADIUS_NN-th exact nearest neighbor of the query
RADIUS_NN = 20


def _radius_cte(table: str = "embeddings") -> str:
    d = osql.sql_euclid("embedding", "qv")
    return f"""rad AS (
  SELECT max(d) AS radius FROM (
    SELECT round({d}, 6) AS d FROM {table} t0, q
    ORDER BY d ASC, vec_id ASC LIMIT {RADIUS_NN}))"""


def _ivf_radius_oracle(table: str = "embeddings") -> str:
    """``table`` parametrizes the corpus (e.g. the alive-only subquery
    the live-index delete rows use) — radius derivation and the scan
    both read the same source."""
    return f"""
WITH {osql.QVEC_CTE},
{_radius_cte(table)}
SELECT e.vec_id,
       round({osql.sql_euclid('e.embedding', 'qv')}, 6) AS distance
FROM {table} e, q, rad
WHERE round({osql.sql_euclid('e.embedding', 'qv')}, 6) <= rad.radius
ORDER BY distance ASC, e.vec_id ASC
"""


_IVF_RADIUS_ORACLE = _ivf_radius_oracle()


def _nn_radius(emb: DataFrame, qv: list[float], n: int = RADIUS_NN) -> float:
    """The n-th exact-NN distance (rounded like every emitted distance) —
    a bounded n-row driver collect, the deterministic stand-in for a
    user-supplied radius."""
    from javascript_vector_database_spark.operators import knn as knn_ops

    rows = knn_ops.exact_knn(emb, qv, k=n).collect()
    return max(float(r["distance"]) for r in rows)


@register("ann_ivf_radius_search", oracle=_IVF_RADIUS_ORACLE)
def ann_ivf_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RADIUS (range) query over the IVF index: every vector within r of
    the query (r = the 20th exact-NN distance, data-derived so the
    DuckDB oracle computes the same constant).  Cell pruning is the
    triangle inequality over write-time constants — centroid distances
    plus per-cell covering radii (operators/ann_scale.ivf_cell_radii) —
    and is LOSSLESS, so the result must equal the brute-force radius
    set exactly.  Geometry honesty (measured, operator docstring): on
    this unit-norm high-dim corpus the covering radii blanket the space
    and no cell prunes — the query degrades to the correct full scan;
    the bound bites on clustered data (3/4 cells pruned in the crafted
    low-dim pin, tests/test_r11_wave.py).

    r14: assignment, covering radii, the data-derived radius, and the
    band filter all come from ONE corpus scan (ann_scale.ivf_radius_fused
    with this one query) — the old shape re-folded the vector column in
    four sequential passes (radii when-cascade, the exact-NN radius
    scan, the final assignment+distance scan)."""
    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    return (
        ann_scale.ivf_radius_fused(emb, [(0, qv)], cents, RADIUS_NN)
        .select("vec_id", "distance")
        .orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    )


@register("ann_ivf_radius_search_partitioned", oracle=_IVF_RADIUS_ORACLE)
def ann_ivf_radius_search_partitioned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The radius query's 100 TB shape: the corpus stored
    ``partitionBy(ivf_cell)`` at write time (same layout as
    ann_ivf_search_partitioned), so the triangle-bound probe list
    becomes a PartitionFilter — pruned cells are whole directories
    never opened.  Same oracle as the inline sibling (the pruning is
    lossless); the PartitionFilters shape is plan-pinned in
    tests/test_r12_wave.py and the pruned-cell fraction on a clustered
    fixture is a bench extra (radius_cells_pruned_frac_clustered,
    beside the honest-zero radius_cells_pruned_frac_corpus)."""
    import os
    import tempfile

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    layout = os.path.join(
        tempfile.mkdtemp(prefix="ivf_radius_layout_"), "emb_by_cell"
    )
    (
        emb.withColumn(
            "ivf_cell", ann_scale.ivf_cell_expr(F.col("embedding"), cents)
        )
        .write.partitionBy("ivf_cell")
        .mode("overwrite")
        .parquet(layout)
    )
    stored = spark.read.parquet(layout)
    # r14: radii + the data-derived radius come from ONE narrow pass
    # over the corpus (the same argmin fold the write just ran — same
    # centroids, same tie-break, so cell-for-cell the stored layout's
    # assignment) instead of a radii when-cascade over `stored` plus a
    # separate exact-NN scan.  Measured: the when-cascade over the
    # 16-dir layout cost 2.5s/2000 rows vs 1.5s for the argmin narrow
    # pass including the query distance.  The final probe still scans
    # `stored`, keeping the plan-pinned PartitionFilters shape.
    narrow = ann_scale.ivf_radius_narrow_table(emb, [(0, qv)], cents)
    radii = ann_scale.cell_radii_from_narrow(narrow)
    radius = ann_scale.radius_from_narrow(narrow, "__qd0", RADIUS_NN)
    return ann_scale.ivf_radius_search(stored, qv, radius, cents, radii)


#: STAGED r13 (no @register yet: the r12 window is exactly full).  The
#: batch-radius query-id set and its oracle; value-checked locally by
#: tests/test_r12_wave.py through the identical compare contract.
RADIUS_BATCH_IDS = (1, 2, 7)

_IVF_RADIUS_BATCH_ORACLE = f"""
WITH qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id IN {RADIUS_BATCH_IDS}),
d AS (
  SELECT q.query_id, e.vec_id,
         round({osql.sql_euclid('e.embedding', 'q.qv')}, 6) AS distance
  FROM embeddings e CROSS JOIN qs q
),
rad AS (
  SELECT query_id, max(distance) AS radius FROM (
    SELECT query_id, distance, row_number() OVER (
      PARTITION BY query_id ORDER BY distance ASC, vec_id ASC) AS rn
    FROM d
  ) WHERE rn <= {RADIUS_NN} GROUP BY query_id
)
SELECT d.query_id, d.vec_id, d.distance
FROM d JOIN rad USING (query_id)
WHERE d.distance <= rad.radius
"""


@register("ann_ivf_radius_batch", oracle=_IVF_RADIUS_BATCH_ORACLE)
def ann_ivf_radius_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch radius search — every vector within each
    query's own radius (the 20th exact-NN distance per query,
    data-derived on both engines).  One narrow corpus scan feeds the
    covering radii, every per-query radius and triangle-bound probe set,
    and the per-query band emission (operators/ann_scale.py:
    ivf_radius_fused) — the radius sibling of ann_ivf_batch_search."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    q_rows = (
        emb.where(F.col("vec_id").isin(list(RADIUS_BATCH_IDS)))
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in q_rows
    ]
    return ann_scale.ivf_radius_fused(emb, queries, cents, RADIUS_NN)


def stream_radius_index_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The radius query's standing 100 TB service (registered below,
    after the CDC delete constants its alive-only oracle needs) — a live
    ``partitionBy(ivf_cell)`` table maintained by merge_cdc under the
    NASTY CDC schedule (delete wave before the second insert half,
    csn=1 re-delivery after the deletes), with the per-cell COVERING
    RADII maintained INCREMENTALLY: after each micro-batch,
    update_cell_radii recomputes exactly the batch's touched cells from
    the live table (partition-pruned grouped max) and merges over the
    standing dict.  The final radius probe uses those maintained radii
    for its triangle-bound cell pruning — pruning is lossless ONLY if
    every maintained radius still covers its cell, so the oracle hash
    match certifies the maintenance itself (an under-estimate would
    drop matching vectors; the deletes force the recompute path, a max
    is not deletion-monotone).  Radius = 20th exact-NN distance over
    the ALIVE corpus, derived identically by DuckDB
    (_ivf_radius_oracle over the alive-only subquery)."""
    import os
    import shutil
    import tempfile

    from javascript_vector_database_spark.operators.dml import ParquetTable
    from javascript_vector_database_spark.registry.feed_state import (
        _stream_feed,
    )
    from javascript_vector_database_spark.streaming.pipeline import (
        streaming_pipeline,
    )

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.collect_centroids(emb)  # fixed BEFORE any delete
    tmp = tempfile.mkdtemp(prefix="stream_radius_")
    src = os.path.join(tmp, "src")
    cp = os.path.join(tmp, "cp")
    dest = ParquetTable(
        spark, os.path.join(tmp, "index"), "vec_id", partition_col="ivf_cell"
    )
    feed_rest = _stream_feed(spark, _cdc_feed(emb), src, "vec_id")
    radii: dict[int, float] = {}

    def handler(batch: DataFrame, batch_id: int) -> None:
        delta = batch.withColumn(
            "ivf_cell", ann_scale.ivf_cell_expr(F.col("embedding"), cents)
        )
        if not delta.isStreaming:
            delta = delta.cache()
        try:
            touched = [
                int(r[0])
                for r in delta.select("ivf_cell").distinct().collect()
            ]
            dest.merge_cdc(delta, lwt=float(batch_id))
            # wholesale replace: update_cell_radii already recomputes
            # the touched cells AND drops the ones this batch emptied —
            # dict.update() alone would resurrect a dropped cell's bound
            new_radii = ann_scale.update_cell_radii(
                radii,
                dest.docs().select("vec_id", "embedding", "ivf_cell"),
                cents,
                touched,
            )
            radii.clear()
            radii.update(new_radii)
        finally:
            if not delta.isStreaming:
                delta.unpersist()

    try:
        q = streaming_pipeline(spark, src, _CDC_SCHEMA, handler, cp)
        q.awaitTermination()
        _cdc_delete_wave(emb).write.mode("append").parquet(src)
        feed_rest()
        q2 = streaming_pipeline(spark, src, _CDC_SCHEMA, handler, cp)
        q2.awaitTermination()
        _cdc_redeliver_after_delete(emb).write.mode("append").parquet(src)
        q3 = streaming_pipeline(spark, src, _CDC_SCHEMA, handler, cp)
        q3.awaitTermination()
        stored = dest.docs().select("vec_id", "embedding", "ivf_cell")
        alive = emb.where(~(F.col("vec_id") % _DELETE_MOD == _DELETE_RES))
        out = ann_scale.ivf_radius_search(
            stored, qv, _nn_radius(alive, qv), cents, dict(radii)
        )
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# hyperplane LSH: bucket table + multi-probe search
# ---------------------------------------------------------------------------


def _lsh_sql_bucket(vec_expr: str, dim: int, bits: int | None = None) -> str:
    planes = (
        ann_scale.hyperplanes(dim)
        if bits is None
        else ann_scale.hyperplanes(dim, bits=bits)
    )
    bits = [
        f"CASE WHEN {osql.sql_dot(vec_expr, pivot_sql_literal(h))} > 0 "
        f"THEN '1' ELSE '0' END"
        for h in planes
    ]
    return " || ".join(bits)


_LSH_BUCKETS_ORACLE = f"""
SELECT {_lsh_sql_bucket('embedding', ORACLE_DIM)} AS bucket,
       count(*) AS n_vectors
FROM embeddings
GROUP BY 1
"""


@register("ann_lsh_buckets", oracle=_LSH_BUCKETS_ORACLE)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit bucket histogram: 8 seeded hyperplanes -> 2^8 buckets.
    The bucket string is one scan-local expression."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        ann_scale.lsh_bucket_table(emb)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def _lsh_probes_ctes(dim: int) -> str:
    """CTEs reproducing lsh_probe_buckets_directed exactly: per-plane
    query dots (same sequential fold), all 2^bits buckets, the
    disagreeing-|margin| score summed left-associated in plane order
    (agreeing bits contribute a literal 0.0, as in the Python loop), and
    the (score, bucket)-ordered LIMIT."""
    planes = ann_scale.hyperplanes(dim)
    nb = ann_scale.LSH_BITS
    qbucket = _lsh_sql_bucket("qv", dim)
    dlist = ", ".join(
        osql.sql_dot("qv", pivot_sql_literal(h)) for h in planes
    )
    score = " + ".join(
        f"(CASE WHEN substr(ab.b, {j}, 1) <> substr(qd.qb, {j}, 1) "
        f"THEN abs(qd.ds[{j}]) ELSE 0.0 END)"
        for j in range(1, nb + 1)
    )
    return f"""
qd AS (SELECT [{dlist}] AS ds, ({qbucket}) AS qb FROM q),
ab AS (SELECT lpad(bin(CAST(v AS BIGINT)), {nb}, '0') AS b
       FROM range({2 ** nb}) t(v)),
probes AS (
  SELECT ab.b FROM ab, qd
  ORDER BY ({score}) ASC, ab.b ASC
  LIMIT {ann_scale.LSH_N_PROBE}
)"""


def _lsh_search_oracle(dim: int) -> str:
    bucket = _lsh_sql_bucket("embedding", dim)
    return f"""
WITH {osql.QVEC_CTE},
{_lsh_probes_ctes(dim)}
SELECT vec_id, round({osql.sql_euclid('embedding', 'qv')}, 6) AS distance
FROM embeddings, q
WHERE ({bucket}) IN (SELECT b FROM probes)
ORDER BY distance ASC, vec_id ASC
LIMIT {TOP_K}
"""


@register("ann_lsh_search", oracle=_lsh_search_oracle(ORACLE_DIM))
def ann_lsh_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-directed multi-probe LSH ANN (Lv et al., VLDB 2007): the 32
    buckets with the smallest disagreeing-margin score, exact re-rank,
    top-10 — scan + IN-list, no shuffle.  Raises recall@10 from the
    hamming-ball 0.22 to 0.51 at a 0.14 docs-read ratio (sf0.1 corpus;
    probe-width sweep in ann_scale.LSH_N_PROBE notes)."""
    qv = get_query_vec(spark, sf_dir)
    return ann_scale.lsh_search(load_table(spark, sf_dir, "embeddings"), qv)


_LSH_PROBE_STATS_ORACLE = f"""
WITH {osql.QVEC_CTE},
{_lsh_probes_ctes(ORACLE_DIM)}
SELECT count(*) AS n_candidates,
       (SELECT count(*) FROM embeddings) AS n_total,
       round(count(*) * 1.0 / (SELECT count(*) FROM embeddings), 6)
         AS docs_read_ratio
FROM embeddings
WHERE ({_lsh_sql_bucket('embedding', ORACLE_DIM)}) IN (SELECT b FROM probes)
"""


@register("ann_lsh_probe_stats", oracle=_LSH_PROBE_STATS_ORACLE)
def ann_lsh_probe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The directed probe's scan-cost evidence row: how many corpus rows
    the 32-bucket probe set actually touches (the r7 verdict asked for
    the docs-read ratio to ride beside the recall number).  One
    scan-local bucket expression + IN-list count — the same pruned read
    the search row performs, minus the re-rank."""
    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    planes = ann_scale.hyperplanes(len(qv))
    probes = ann_scale.lsh_probe_buckets_directed(qv, planes)
    n_total = emb.count()
    return (
        emb.where(
            ann_scale.lsh_bucket(F.col("embedding"), planes).isin(probes)
        )
        .agg(F.count(F.lit(1)).alias("n_candidates"))
        .select(
            "n_candidates",
            F.lit(n_total).cast("long").alias("n_total"),
            F.round(F.col("n_candidates") / F.lit(n_total), 6).alias(
                "docs_read_ratio"
            ),
        )
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization: code table + compressed-scan search
# ---------------------------------------------------------------------------

def _sq8_params_cte(table: str = "embeddings") -> str:
    return (
        "p AS (SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS lo, "
        f"CAST(max(list_max(embedding)) AS DOUBLE) AS hi FROM {table})"
    )


_SQ8_PARAMS_CTE = _sq8_params_cte()


def _sq8_code_sql(vec_expr: str) -> str:
    # clamp(floor((x - lo) / ((hi - lo) / 255)), 0, 255) — the exact
    # transform of quant.sq8_code_expr (floor on IEEE doubles)
    return (
        f"list_transform({vec_expr}, x -> least({quant.SQ8_LEVELS}, greatest(0, "
        f"CAST(floor((CAST(x AS DOUBLE) - p.lo) / "
        f"((p.hi - p.lo) / {float(quant.SQ8_LEVELS)})) AS BIGINT))))"
    )


_SQ8_CODES_ORACLE = f"""
WITH {_SQ8_PARAMS_CTE}
SELECT vec_id,
       array_to_string({_sq8_code_sql('embedding')}, ',') AS codes_csv,
       CAST(list_sum({_sq8_code_sql('embedding')}) AS BIGINT) AS code_sum
FROM embeddings, p
"""


@register("ann_sq8_codes", oracle=_SQ8_CODES_ORACLE)
def ann_sq8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 code table (write-time artifact): every dimension mapped to
    an 8-bit code by one global affine transform — scan-local, no shuffle.
    Codes ride as CSV + checksum (driver-canonical scalar columns)."""
    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = quant.sq8_params(emb)
    codes = quant.quantize_table(emb, lo, hi)
    return codes.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("sq8_code"), lambda c: c.cast("string")), ","
        ).alias("codes_csv"),
        F.aggregate(
            F.col("sq8_code"),
            F.lit(0).cast("long"),
            lambda acc, c: acc + c.cast("long"),
        ).alias("code_sum"),
    )


def _sq8_search_oracle(
    table: str = "embeddings", qcte: str = osql.QVEC_CTE
) -> str:
    # dim-agnostic (list_zip folds whatever length the table carries), so
    # the same builder serves the sf tables and the 384-dim fixture
    return f"""
WITH {qcte},
{_sq8_params_cte(table)},
qc AS (SELECT {_sq8_code_sql('qv')} AS qcodes FROM q, p),
cand AS (
  SELECT e.vec_id, e.embedding,
         list_reduce(
           list_transform(
             list_zip({_sq8_code_sql('e.embedding')}, qc.qcodes),
             z -> (z[1] - z[2]) * (z[1] - z[2])),
           (x, y) -> x + y) AS qd
  FROM {table} e, p, qc
  ORDER BY qd ASC, e.vec_id ASC
  LIMIT {TOP_K * quant.SQ8_RERANK}
)
SELECT cand.vec_id, round({osql.sql_euclid('cand.embedding', 'qv')}, 6) AS distance
FROM cand, q
ORDER BY distance ASC, vec_id ASC
LIMIT {TOP_K}
"""


_SQ8_SEARCH_ORACLE = _sq8_search_oracle()


@register("ann_sq8_search", oracle=_SQ8_SEARCH_ORACLE)
def ann_sq8_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 quantized top-k: integer code-distance ranking (one scan ->
    TakeOrdered on a (long, id) key — no float-ordering ambiguity), exact
    euclidean re-rank of the k*rerank survivors."""
    qv = get_query_vec(spark, sf_dir)
    return quant.sq8_search(load_table(spark, sf_dir, "embeddings"), qv)


@register("ann_sq8_search_precomputed", oracle=_SQ8_SEARCH_ORACLE)
def ann_sq8_search_precomputed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 100 TB layout made explicit: codes materialized at WRITE
    time; the probe's candidate scan reads ONLY (id, code) — the float
    vector column is pruned from the read entirely (pinned by
    tests/test_plans.py) — then ``knn.rerank_pool`` reads the survivors'
    vectors through one broadcast left-semi join and re-ranks them
    exactly.  Same result and oracle as ``ann_sq8_search``."""
    import os
    import tempfile

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = quant.sq8_params(emb)
    layout = os.path.join(tempfile.mkdtemp(prefix="sq8_layout_"), "codes")
    quant.quantize_table(emb, lo, hi).write.mode("overwrite").parquet(layout)
    stored = spark.read.parquet(layout)
    return quant.sq8_search_precomputed(stored, emb, qv, lo, hi)


@register("ann_lsh_search_precomputed", oracle=_lsh_search_oracle(ORACLE_DIM))
def ann_lsh_search_precomputed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH 100 TB layout made explicit: the sign bucket is computed at
    WRITE time and stored as a table column, so the probe query's IN-list
    filters the stored column (min/max file skipping / partition pruning)
    instead of re-hashing the corpus per query.  Same result and oracle as
    ``ann_lsh_search``."""
    import os
    import tempfile

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    planes = ann_scale.hyperplanes(len(qv))
    layout = os.path.join(tempfile.mkdtemp(prefix="lsh_layout_"), "emb_by_bucket")
    (
        emb.withColumn("bucket", ann_scale.lsh_bucket(F.col("embedding"), planes))
        .write.mode("overwrite")
        .parquet(layout)
    )
    stored = spark.read.parquet(layout)
    return ann_scale.lsh_search(stored, qv, precomputed=True)


# ---------------------------------------------------------------------------
# PQ: product-quantized codes + ADC search
# ---------------------------------------------------------------------------

from javascript_vector_database_spark.operators import pq as pqm  # noqa: E402

_PQ_SD = ORACLE_DIM // pqm.PQ_M


def _pq_sub_score_sql(vec: str, cent: str, s: str, sd: int = _PQ_SD) -> str:
    """Candidate score ``||c||^2 - 2*<v_s, c>`` — the same construction
    (and left-associated double term order) as operators.pq._sub_score,
    so codes and ADC ranks are bit-identical across engines.  ``sd`` is
    the subspace width (dim // PQ_M); pass it to serve a different
    dimensionality (the 384-dim fixture)."""
    dots, sqs = [], []
    for i in range(sd):
        a = f"CAST({vec}[{s} * {sd} + {i + 1}] AS DOUBLE)"
        b = f"CAST({cent}[{s} * {sd} + {i + 1}] AS DOUBLE)"
        dots.append(f"({a}) * ({b})")
        sqs.append(f"({b}) * ({b})")
    return f"({' + '.join(sqs)}) - 2.0 * ({' + '.join(dots)})"


def _pq_codes_ctes(
    table: str = "embeddings", sd: int = _PQ_SD, m: int = pqm.PQ_M
) -> str:
    """Codebook = the IVF hash-order sample, j = position in cid order.
    ``m``/``sd`` parameterize the subspace grid (the 384-dim family runs
    m=96 x sd=4; the 64-dim corpus keeps the m=8 x sd=8 default)."""
    return f"""{_ivf_cents_cte(table)},
cb AS (SELECT row_number() OVER (ORDER BY cid ASC) - 1 AS j, cemb FROM cents),
sub AS (SELECT unnest(range(0, {m})) AS s),
cand0 AS (
  SELECT e.vec_id, sub.s, cb.j,
         {_pq_sub_score_sql('e.embedding', 'cb.cemb', 'sub.s', sd)} AS d
  FROM {table} e CROSS JOIN sub CROSS JOIN cb
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS rn
    FROM cand0
  ) WHERE rn = 1
),
pqv AS (
  SELECT vec_id,
         {", ".join(f"max(CASE WHEN s = {s} THEN code END) AS c{s}" for s in range(m))}
  FROM codes GROUP BY vec_id
)"""


_PQ_CODES_CTES = _pq_codes_ctes()

_PQ_CODES_ORACLE = f"""
WITH {_PQ_CODES_CTES}
SELECT vec_id,
       {" || ',' || ".join(f"CAST(c{s} AS VARCHAR)" for s in range(pqm.PQ_M))} AS codes_csv
FROM pqv
"""


@register("ann_pq_codes", oracle=_PQ_CODES_ORACLE)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ code table (write-time artifact): every vector reduced to M
    per-subspace centroid indices — ~M bytes vs 4*dim for the floats, a
    32x scan reduction.  Encoding is scan-local codegen (least() over
    (d, j) structs — no HOF, no join, no shuffle).  Codebook = the shared
    deterministic hash-order sample draw (same CTE as IVF)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = pqm.pq_codebook(ann_scale.collect_centroids(emb, k=pqm.PQ_K))
    codes = pqm.pq_code_table(emb, cb)
    return codes.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("pq_code"), lambda c: c.cast("string")), ","
        ).alias("codes_csv"),
    )


def _pq_search_oracle(
    table: str = "embeddings",
    qcte: str = osql.QVEC_CTE,
    sd: int = _PQ_SD,
    m: int = pqm.PQ_M,
    rerank: int = pqm.PQ_RERANK,
) -> str:
    # ADC = one (s, code)->(s, j) join + sum(v ORDER BY s): the ordered
    # aggregate folds left-to-right in s-order, bit-identical to the
    # Spark/Python left-associated adds (verified empirically over
    # shuffled physical orders).  The previous per-subspace join chain
    # (M self-joins of lut) stalled DuckDB's join-order optimizer at the
    # 384-dim m=96 configuration.
    return f"""
WITH {qcte},
{_pq_codes_ctes(table, sd, m)},
lut AS (
  SELECT sub.s, cb.j, {_pq_sub_score_sql('q.qv', 'cb.cemb', 'sub.s', sd)} AS v
  FROM sub CROSS JOIN cb, q
),
approx AS (
  SELECT c.vec_id, sum(l.v ORDER BY c.s) AS ad
  FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
  GROUP BY c.vec_id
),
cand AS (
  SELECT vec_id FROM approx ORDER BY ad ASC, vec_id ASC
  LIMIT {TOP_K * rerank}
)
SELECT e.vec_id, round({osql.sql_euclid('e.embedding', 'q.qv')}, 6) AS distance
FROM {table} e JOIN cand USING (vec_id), q
ORDER BY distance ASC, vec_id ASC
LIMIT {TOP_K}
"""


@register("ann_pq_search", oracle=_pq_search_oracle())
def ann_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k: one scan encodes + ranks by M LUT lookups per row
    (TakeOrderedAndProject on the (double, id) key), then exact re-rank of
    the bounded k*rerank pool.  The ADC lookup table is computed ONCE
    driver-side and inlined into the plan."""
    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cb = pqm.pq_codebook(ann_scale.collect_centroids(emb, k=pqm.PQ_K))
    return pqm.pq_search(emb, qv, cb)


@register("ann_pq_search_precomputed", oracle=_pq_search_oracle())
def ann_pq_search_precomputed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ 100 TB layout made explicit: codes materialized at WRITE
    time; the probe's candidate scan reads ONLY (id, pq_code) — the float
    vector column is pruned from the read (pinned by tests/test_plans.py)
    — then ``knn.rerank_pool`` reads the survivors' vectors through one
    broadcast left-semi join and re-ranks them exactly.  Same result and
    oracle as ``ann_pq_search``."""
    import os
    import tempfile

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cb = pqm.pq_codebook(ann_scale.collect_centroids(emb, k=pqm.PQ_K))
    layout = os.path.join(tempfile.mkdtemp(prefix="pq_layout_"), "codes")
    pqm.pq_code_table(emb, cb).write.mode("overwrite").parquet(layout)
    stored = spark.read.parquet(layout)
    return pqm.pq_search_precomputed(stored, emb, qv, cb)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cell probe + ADC within the probed cells
# ---------------------------------------------------------------------------


def _ivfpq_search_oracle(
    table: str = "embeddings",
    qcte: str = osql.QVEC_CTE,
    sd: int = _PQ_SD,
    m: int = pqm.PQ_M,
    rerank: int = pqm.PQ_RERANK,
) -> str:
    # ADC via the ordered-aggregate join — see _pq_search_oracle
    return f"""
WITH {qcte},
{_pq_codes_ctes(table, sd, m)},{_ivf_assign_cte(table)},
probe AS (
  SELECT cid FROM cents, q
  ORDER BY {osql.sql_euclid('cemb', 'qv')} ASC, cid ASC
  LIMIT {ann_scale.N_PROBE}
),
lut AS (
  SELECT sub.s, cb.j, {_pq_sub_score_sql('q.qv', 'cb.cemb', 'sub.s', sd)} AS v
  FROM sub CROSS JOIN cb, q
),
approx AS (
  SELECT c.vec_id, sum(l.v ORDER BY c.s) AS ad
  FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
  JOIN assign a ON a.vec_id = c.vec_id
  WHERE a.ivf_cell IN (SELECT cid FROM probe)
  GROUP BY c.vec_id
),
cand AS (
  SELECT vec_id FROM approx ORDER BY ad ASC, vec_id ASC
  LIMIT {TOP_K * rerank}
)
SELECT e.vec_id, round({osql.sql_euclid('e.embedding', 'q.qv')}, 6) AS distance
FROM {table} e JOIN cand USING (vec_id), q
ORDER BY distance ASC, vec_id ASC
LIMIT {TOP_K}
"""


def _pq_cb_codes_ctes(table: str, sd: int, m: int) -> str:
    """Codebook + code CTEs with the codebook source NAMED SEPARATELY
    from the coarse `cents` (``cbsrc`` = the hash-order sample rows), so
    a trained-centroid cents CTE can coexist: coarse assignment reads
    `cents`, PQ encoding reads `cb`.  Same math as _pq_codes_ctes."""
    return f"""cbsrc AS (SELECT vec_id, embedding FROM {table}
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT {pqm.PQ_K}),
cb AS (SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS j,
              embedding AS cemb FROM cbsrc),
sub AS (SELECT unnest(range(0, {m})) AS s),
cand0 AS (
  SELECT e.vec_id, sub.s, cb.j,
         {_pq_sub_score_sql('e.embedding', 'cb.cemb', 'sub.s', sd)} AS d
  FROM {table} e CROSS JOIN sub CROSS JOIN cb
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS rn
    FROM cand0
  ) WHERE rn = 1
)"""


def _ivfpq_trained_oracle(
    table: str,
    qcte: str,
    sd: int,
    m: int,
    rerank: int,
    nprobe: int,
    cents_cte: str,
) -> str:
    """IVF-PQ oracle with a PERSISTED coarse quantizer (cents_cte, e.g.
    the trained 384 centroid fixture) and the hash-order-sample PQ
    codebook — the two centroid sets are independent, unlike
    _ivfpq_search_oracle where one sample serves both roles."""
    return f"""
WITH {qcte},
{cents_cte},
{_pq_cb_codes_ctes(table, sd, m)},{_ivf_assign_cte(table)},
probe AS (
  SELECT cid FROM cents, q
  ORDER BY {osql.sql_euclid('cemb', 'qv')} ASC, cid ASC
  LIMIT {nprobe}
),
lut AS (
  SELECT sub.s, cb.j, {_pq_sub_score_sql('q.qv', 'cb.cemb', 'sub.s', sd)} AS v
  FROM sub CROSS JOIN cb, q
),
approx AS (
  SELECT c.vec_id, sum(l.v ORDER BY c.s) AS ad
  FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
  JOIN assign a ON a.vec_id = c.vec_id
  WHERE a.ivf_cell IN (SELECT cid FROM probe)
  GROUP BY c.vec_id
),
cand AS (
  SELECT vec_id FROM approx ORDER BY ad ASC, vec_id ASC
  LIMIT {TOP_K * rerank}
)
SELECT e.vec_id, round({osql.sql_euclid('e.embedding', 'q.qv')}, 6) AS distance
FROM {table} e JOIN cand USING (vec_id), q
ORDER BY distance ASC, vec_id ASC
LIMIT {TOP_K}
"""


def _ivfpq_residual_oracle(
    table: str = "embeddings",
    qcte: str = osql.QVEC_CTE,
    sd: int = _PQ_SD,
    m: int = pqm.PQ_M,
    rerank: int = pqm.PQ_RERANK,
    nprobe: int = ann_scale.N_PROBE,
    cents_cte: str | None = None,
) -> str:
    """Residual IVF-PQ oracle: codes over v - centroid(cell(v)), codebook
    = residuals of the K hash-order sample rows, ADC per probed cell
    against that cell's query residual.  Same left-associated sub-score
    terms and ordered-aggregate ADC as the raw-PQ oracles; residual
    subtraction is element-wise (exact in both engines)."""
    resid_sub = "list_transform(list_zip(e.embedding, c.cemb), z -> CAST(z[1] AS DOUBLE) - z[2])"
    q_resid = "list_transform(list_zip(q.qv, c.cemb), z -> CAST(z[1] AS DOUBLE) - z[2])"
    return f"""
WITH {qcte},
{cents_cte or _ivf_cents_cte(table)},{_ivf_assign_cte(table)},
resid AS (
  SELECT e.vec_id, a.ivf_cell, {resid_sub} AS r
  FROM {table} e JOIN assign a ON a.vec_id = e.vec_id
  JOIN cents c ON c.cid = a.ivf_cell
),
cb AS (
  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS j, r AS cemb
  FROM resid
  WHERE vec_id IN (SELECT vec_id FROM {table}
                   ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
                   LIMIT {pqm.PQ_K})
),
sub AS (SELECT unnest(range(0, {m})) AS s),
cand0 AS (
  SELECT rr.vec_id, rr.ivf_cell, sub.s, cb.j,
         {_pq_sub_score_sql('rr.r', 'cb.cemb', 'sub.s', sd)} AS d
  FROM resid rr CROSS JOIN sub CROSS JOIN cb
),
codes AS (
  SELECT vec_id, ivf_cell, s, j AS code FROM (
    SELECT vec_id, ivf_cell, s, j,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, j ASC) AS rn
    FROM cand0
  ) WHERE rn = 1
),
probe AS (
  SELECT cid FROM cents, q
  ORDER BY {osql.sql_euclid('cemb', 'qv')} ASC, cid ASC
  LIMIT {nprobe}
),
qr AS (
  SELECT c.cid, {q_resid} AS r
  FROM cents c JOIN probe p ON p.cid = c.cid, q
),
lut AS (
  SELECT qr.cid, sub.s, cb.j,
         {_pq_sub_score_sql('qr.r', 'cb.cemb', 'sub.s', sd)} AS v
  FROM sub CROSS JOIN cb CROSS JOIN qr
),
approx AS (
  SELECT c.vec_id, sum(l.v ORDER BY c.s) AS ad
  FROM codes c
  JOIN lut l ON l.cid = c.ivf_cell AND l.s = c.s AND l.j = c.code
  GROUP BY c.vec_id
),
cand AS (
  SELECT vec_id FROM approx ORDER BY ad ASC, vec_id ASC
  LIMIT {TOP_K * rerank}
)
SELECT e.vec_id, round({osql.sql_euclid('e.embedding', 'q.qv')}, 6) AS distance
FROM {table} e JOIN cand USING (vec_id), q
ORDER BY distance ASC, vec_id ASC
LIMIT {TOP_K}
"""


def _pq_batch_oracle(
    table: str = "embeddings",
    sd: int = _PQ_SD,
    m: int = pqm.PQ_M,
    rerank: int = pqm.PQ_RERANK,
) -> str:
    from javascript_vector_database_spark.registry.vector_search import (
        BATCH_QUERY_IDS,
    )

    qs = (
        f"qs AS (SELECT vec_id AS query_id, embedding AS qv FROM {table} "
        f"WHERE vec_id IN {BATCH_QUERY_IDS})"
    )
    return f"""
WITH {qs},
{_pq_codes_ctes(table, sd, m)},
lut AS (
  SELECT q.query_id, sub.s, cb.j,
         {_pq_sub_score_sql('q.qv', 'cb.cemb', 'sub.s', sd)} AS v
  FROM sub CROSS JOIN cb CROSS JOIN qs q
),
approx AS (
  SELECT l.query_id, c.vec_id, sum(l.v ORDER BY c.s) AS ad
  FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY ad ASC, vec_id ASC) AS rn
    FROM approx
  ) WHERE rn <= {TOP_K * rerank}
),
d AS (
  SELECT c.query_id, e.vec_id,
         round({osql.sql_euclid('e.embedding', 'q.qv')}, 6) AS distance
  FROM {table} e JOIN cand c USING (vec_id)
  JOIN qs q ON q.query_id = c.query_id
)
SELECT query_id, vec_id, distance FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY distance ASC, vec_id ASC) AS rn
  FROM d
) WHERE rn <= {TOP_K}
"""


@register("ann_pq_batch_search", oracle=_pq_batch_oracle())
def ann_pq_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch PQ ADC: top-10 for the 5 batch query vectors in ONE scan of
    the code table — knn_batch_exact's amortization composed with PQ's
    code-only I/O (the probe never reads a float vector; each query's
    ADC is an expression-level literal fold, stacked skinny and
    WindowGroupLimit-pruned per query before the bounded exact
    re-rank)."""
    from javascript_vector_database_spark.registry.vector_search import (
        BATCH_QUERY_IDS,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cb = pqm.pq_codebook(ann_scale.collect_centroids(emb, k=pqm.PQ_K))
    codes = pqm.pq_code_table(emb, cb)
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.where(
            F.col("vec_id").isin(list(BATCH_QUERY_IDS))
        ).collect()
    ]
    return pqm.pq_batch_search(codes, emb, queries, cb)


@register("ann_ivfpq_search", oracle=_ivfpq_search_oracle())
def ann_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (the FAISS IVF_PQ composition): probe the nprobe nearest
    coarse cells driver-side, ADC-rank only the probed cells' rows, exact
    re-rank of the bounded pool.  Cell filter and code ranking compose:
    I/O = (nprobe/K_cells) x (M bytes/row) — both factors independent of
    corpus width."""
    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    cb = pqm.pq_codebook(cents)
    return pqm.ivfpq_search(emb, qv, cents, cb)


@register("ann_ivfpq_search_partitioned", oracle=_ivfpq_search_oracle())
def ann_ivfpq_search_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ 100 TB layout made explicit: (ivf_cell, pq_code) both
    materialized at WRITE time, the table stored partitionBy(ivf_cell) —
    the probe IN-list becomes a PartitionFilter (whole directories
    skipped), the ADC scan reads ONLY the code column of the surviving
    partitions, and the float vector is touched just for the k*rerank
    re-rank join.  Same result and oracle as ``ann_ivfpq_search``."""
    import os
    import tempfile

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    cb = pqm.pq_codebook(cents)
    layout = os.path.join(tempfile.mkdtemp(prefix="ivfpq_layout_"), "codes_by_cell")
    (
        emb.withColumn("ivf_cell", ann_scale.ivf_cell_expr(F.col("embedding"), cents))
        .select("vec_id", "ivf_cell")
        .join(pqm.pq_code_table(emb, cb), "vec_id")
        .write.partitionBy("ivf_cell")
        .mode("overwrite")
        .parquet(layout)
    )
    stored = spark.read.parquet(layout)
    return pqm.ivfpq_search_precomputed(stored, emb, qv, cents, cb)


# ---------------------------------------------------------------------------
# binary quantization (1 bit/dim): hamming probe + exact re-rank
# ---------------------------------------------------------------------------


def _bq_word_sql(vec: str, dim: int) -> list[str]:
    words = []
    for w in range(0, dim, quant.BQ_WORD_BITS):
        bits = min(quant.BQ_WORD_BITS, dim - w)
        words.append(
            f"CAST(list_sum(list_transform(range(0, {bits}), "
            f"b -> CASE WHEN {vec}[{w} + b + 1] > 0 "
            f"THEN 1::BIGINT << b ELSE 0::BIGINT END)) AS BIGINT)"
        )
    return words


def _bq_search_oracle(
    dim: int,
    table: str = "embeddings",
    qcte: str = osql.QVEC_CTE,
    rerank: int = quant.BQ_RERANK,
) -> str:
    qwords = ", ".join(
        f"{w} AS w{i}" for i, w in enumerate(_bq_word_sql("qv", dim))
    )
    # bit_count returns TINYINT in DuckDB — widen every term before the sum
    hd = " + ".join(
        f"CAST(bit_count(xor({w}, qw.w{i})) AS BIGINT)"
        for i, w in enumerate(_bq_word_sql("e.embedding", dim))
    )
    return f"""
WITH {qcte},
qw AS (SELECT {qwords} FROM q),
cand AS (
  SELECT e.vec_id, e.embedding, {hd} AS hd
  FROM {table} e, qw
  ORDER BY hd ASC, e.vec_id ASC
  LIMIT {TOP_K * rerank}
)
SELECT cand.vec_id, round({osql.sql_euclid('cand.embedding', 'qv')}, 6) AS distance
FROM cand, q
ORDER BY distance ASC, vec_id ASC
LIMIT {TOP_K}
"""


@register("ann_bq_search", oracle=_bq_search_oracle(ORACLE_DIM))
def ann_bq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized top-k: 1 bit per dimension packed into dim/48
    BIGINT words (sign bit; for unit-norm embeddings sign agreement
    tracks cosine), candidates ranked by XOR+popcount hamming distance
    — the cheapest probe scan any quantizer admits, 32x smaller than
    the floats — then the k*BQ_RERANK survivor pool re-ranked exactly.
    The 1-bit extreme of the SQ8 (8-bit) and PQ (sub-byte) family; at
    write time the packed words are a stored column like the other code
    tables.  Measured recall@10 at this 64-dim geometry (5-query avg):
    0.84 at the registered rerank=8, 1.00 at rerank=16 — 64 random-ish
    dims quantize FAR better per bit than the clustered 384 fixture,
    which needs rerank=32 (see ann_bq_384)."""
    qv = get_query_vec(spark, sf_dir)
    return quant.bq_search(load_table(spark, sf_dir, "embeddings"), qv)


# ---------------------------------------------------------------------------
# filtered vector search: metadata predicate + ANN probe
# ---------------------------------------------------------------------------

FILTER_LANG = "de"

_FILTERED_EXACT_ORACLE = f"""
WITH {osql.QVEC_CTE}
SELECT e.vec_id, round({osql.sql_euclid('e.embedding', 'qv')}, 6) AS distance
FROM embeddings e
JOIN documents d ON d.doc_id = e.vec_id, q
WHERE d.lang = '{FILTER_LANG}'
ORDER BY distance ASC, e.vec_id ASC
LIMIT {TOP_K}
"""


@register("ann_filtered_exact", oracle=_FILTERED_EXACT_ORACLE)
def ann_filtered_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search, exact form: top-k among only the vectors
    whose document satisfies a metadata predicate (lang = '{lang}') —
    the "WHERE + ORDER BY embedding <-> q" query every production
    vector store serves.  The predicate side is filtered AT THE SCAN
    (pushed-down lang filter, column-pruned to doc_id) and equi-joined
    to the vector table before any distance math, so the expensive
    float fold runs only on survivors; the result is one TakeOrdered.
    At 100 TB the predicate columns live IN the vector table (or a
    bucketed twin), turning the join into a scan-local filter — this
    row keeps the two-table form the test corpus ships."""
    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    return exact_knn(emb.join(_filtered_docs(spark, sf_dir), "vec_id"), qv)


def _filtered_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ids (as vec_id) of the documents the filtered rows keep."""
    return (
        load_table(spark, sf_dir, "documents")
        .where(F.col("lang") == FILTER_LANG)
        .select(F.col("doc_id").alias("vec_id"))
    )


_FILTERED_IVF_ORACLE = f"""
WITH {osql.QVEC_CTE},
{_IVF_CENTS_CTE},{_IVF_ASSIGN_CTE},
probe AS (
  SELECT cid FROM cents, q
  ORDER BY {osql.sql_euclid('cemb', 'qv')} ASC, cid ASC
  LIMIT {ann_scale.N_PROBE}
)
SELECT e.vec_id, round({osql.sql_euclid('e.embedding', 'qv')}, 6) AS distance
FROM embeddings e, q
JOIN assign a ON a.vec_id = e.vec_id
JOIN documents d ON d.doc_id = e.vec_id
WHERE a.ivf_cell IN (SELECT cid FROM probe) AND d.lang = '{FILTER_LANG}'
ORDER BY distance ASC, e.vec_id ASC
LIMIT {TOP_K}
"""


@register("ann_ivf_filtered", oracle=_FILTERED_IVF_ORACLE)
def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search, IVF form: the FULL-corpus index is probed
    (nprobe nearest cells of the shared hash-order centroid sample) and
    the metadata predicate intersects the candidate set BEFORE the
    distance fold — probe-then-filter, the standard filtered-ANN plan
    when the filter is not ultra-selective (an ultra-selective filter
    flips the plan to ann_filtered_exact's filter-first shape; real
    engines pick by estimated selectivity).  Candidates may therefore
    be fewer than k*cells would suggest — the oracle mirrors the same
    probe + intersect computation exactly.  The cell IN-list prunes
    partitions under a partitionBy(ivf_cell) layout; the predicate join
    is an equi-join AQE is free to broadcast.  The centroids are drawn
    from the full corpus; ``ivf_search`` assigns, probes and re-ranks
    the filtered rows."""
    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    filtered = emb.join(_filtered_docs(spark, sf_dir), "vec_id")
    return ann_scale.ivf_search(filtered, qv, cents=cents)


@register("ann_bq_search_precomputed", oracle=_bq_search_oracle(ORACLE_DIM))
def ann_bq_search_precomputed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BQ 100 TB layout made explicit: sign words packed at WRITE
    time into a stored (id, words) table; the probe's candidate scan
    reads ONLY that table (32x smaller than the floats, which are never
    scanned in phase 1), then ``knn.rerank_pool`` reads the k*rerank
    survivors' vectors through one broadcast left-semi join and re-ranks
    them exactly.  Same result and oracle as
    ``ann_bq_search`` — the family-completing twin of
    ann_sq8/pq/lsh_search_precomputed."""
    import os
    import tempfile

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    layout = os.path.join(tempfile.mkdtemp(prefix="bq_layout_"), "words")
    quant.bq_table(emb, len(qv)).write.mode("overwrite").parquet(layout)
    stored = spark.read.parquet(layout)
    return quant.bq_search_precomputed(stored, emb, qv)


@register("stream_ann_index_live", oracle=_bq_search_oracle(ORACLE_DIM))
def stream_ann_index_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE-MAINTAINED ANN index (11th streaming==batch row): the
    reference's whole pipeline exists to keep a derived vector
    collection current under a change feed (src/database.ts:176-206);
    this row closes that loop for the PRECOMPUTED layouts.  The
    embeddings feed arrives in two halves; a checkpointed Structured
    Streaming pipeline (streaming/pipeline.py:streaming_pipeline —
    offset log == the reference's checkpoint doc) packs each arriving
    vector's BQ sign words (a pure scan-local projection, quant.py:
    bq_table) and MERGEs them into a managed (vec_id, bq_words) table
    keyed on vec_id.  Between halves the query STOPS and RESTARTS from
    the same checkpoint (crash/resume), and a slice of the first half
    is RE-DELIVERED (at-least-once file delivery) — the MERGE makes
    both invisible: the final live index equals the batch-built table
    row for row.  Certification: the hamming probe + exact re-rank runs
    against the LIVE-maintained words table and must hash-match the
    same DuckDB oracle as the batch ``ann_bq_search_precomputed`` row.
    At 100 TB this is the standing index-maintenance service: code
    packing is per-row (no shuffle), the MERGE touches only the
    key-hashed buckets of each micro-batch, and probes read the
    maintained table without ever rescanning the corpus."""
    import os
    import shutil
    import tempfile

    from javascript_vector_database_spark.operators.dml import ParquetTable
    from javascript_vector_database_spark.registry.feed_state import (
        _stream_feed,
    )
    from javascript_vector_database_spark.streaming.pipeline import (
        streaming_pipeline,
    )

    qv = get_query_vec(spark, sf_dir)
    dim = len(qv)
    emb = load_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="stream_annidx_")
    src = os.path.join(tmp, "src")
    cp = os.path.join(tmp, "cp")
    dest = ParquetTable(spark, os.path.join(tmp, "index"), "vec_id")
    feed = emb.select("vec_id", "embedding")
    feed_rest = _stream_feed(spark, feed, src, "vec_id")
    schema = "vec_id long, embedding array<float>"

    def handler(batch: DataFrame, batch_id: int) -> None:
        # pure projection at write time; MERGE keyed on vec_id makes
        # re-delivered rows idempotent (same key, same packed words)
        dest.bulk_upsert(quant.bq_table(batch, dim), lwt=float(batch_id))

    try:
        q = streaming_pipeline(spark, src, schema, handler, cp)
        q.awaitTermination()  # availableNow: drains half 1, stops
        feed_rest()
        # at-least-once: re-deliver a slice of the ALREADY-PROCESSED
        # first half as fresh files; the MERGE must absorb them silently
        feed.where(
            (F.coalesce(F.col("vec_id"), F.lit(0)) % 2 == 0)
            & (F.col("vec_id") % 10 == 0)
        ).write.mode("append").parquet(src)
        q2 = streaming_pipeline(spark, src, schema, handler, cp)
        q2.awaitTermination()  # checkpoint resume: only the new files
        stored = dest.docs().select("vec_id", "bq_words")
        out = quant.bq_search_precomputed(stored, emb, qv)
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register("stream_ivf_index_live", oracle=_IVF_SEARCH_ORACLE)
def stream_ivf_index_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE-MAINTAINED partitioned IVF layout (15th streaming==batch
    row) — the last precomputed ANN layout to get a live face (BQ words
    and BM25 tf/dl landed r9).  Coarse assignment against the FIXED
    write-time centroid set is a pure scan-local projection
    (ann_scale.ivf_cell_expr — no shuffle, exactly like BQ's sign
    packing), so the same checkpointed pipeline
    (streaming/pipeline.py:streaming_pipeline) MERGEs
    (vec_id, ivf_cell, embedding) rows into a ParquetTable stored
    ``partitionBy(ivf_cell)`` — the dml partition_col layout, where the
    MERGE's touched-partition pruning and the probe's PartitionFilters
    ride the SAME physical column.  The feed arrives in two halves with
    a stop/restart from the checkpoint between them, plus a re-delivered
    slice of the first half (at-least-once); cell assignments are
    key-stable under fixed centroids, so the MERGE absorbs both
    invisibly.  Certification: ``ivf_search(precomputed=True)`` probes
    the LIVE table and must hash-match the SAME DuckDB oracle as the
    batch ``ann_ivf_search_partitioned`` row; partition pruning on the
    live table is pinned by tests/test_plans.py::
    test_partition_col_table_probe_prunes.  At 100 TB this is the
    reference's derived-collection architecture (src/database.ts:
    176-206) for the IVF index: per-row assignment at ingest, MERGE
    touches only the cells present in each micro-batch, probes read
    nprobe partitions and never rescan the corpus."""
    import os
    import shutil
    import tempfile

    from javascript_vector_database_spark.operators.dml import ParquetTable
    from javascript_vector_database_spark.registry.feed_state import (
        _stream_feed,
    )
    from javascript_vector_database_spark.streaming.pipeline import (
        streaming_pipeline,
    )

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    tmp = tempfile.mkdtemp(prefix="stream_ivfidx_")
    src = os.path.join(tmp, "src")
    cp = os.path.join(tmp, "cp")
    dest = ParquetTable(
        spark, os.path.join(tmp, "index"), "vec_id", partition_col="ivf_cell"
    )
    feed = emb.select("vec_id", "embedding")
    feed_rest = _stream_feed(spark, feed, src, "vec_id")
    schema = "vec_id long, embedding array<float>"

    def handler(batch: DataFrame, batch_id: int) -> None:
        # assignment is a pure projection against the fixed centroids;
        # MERGE keyed on vec_id + key-stable cells make re-delivered
        # rows idempotent (same key, same cell, same embedding)
        dest.bulk_upsert(
            batch.withColumn(
                "ivf_cell",
                ann_scale.ivf_cell_expr(F.col("embedding"), cents),
            ),
            lwt=float(batch_id),
        )

    try:
        q = streaming_pipeline(spark, src, schema, handler, cp)
        q.awaitTermination()  # availableNow: drains half 1, stops
        feed_rest()
        # at-least-once: re-deliver a slice of the ALREADY-PROCESSED
        # first half as fresh files; the MERGE must absorb them silently
        feed.where(
            (F.coalesce(F.col("vec_id"), F.lit(0)) % 2 == 0)
            & (F.col("vec_id") % 10 == 0)
        ).write.mode("append").parquet(src)
        q2 = streaming_pipeline(spark, src, schema, handler, cp)
        q2.awaitTermination()  # checkpoint resume: only the new files
        stored = dest.docs().select("vec_id", "embedding", "ivf_cell")
        out = ann_scale.ivf_search(stored, qv, cents=cents, precomputed=True)
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register("stream_ivfpq_index_live", oracle=_ivfpq_search_oracle())
def stream_ivfpq_index_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE-MAINTAINED IVF-PQ layout (17th streaming==batch row) — the
    compounding index maintained, completing "every precomputed layout
    has a live face" INCLUDING the code column: per arriving vector the
    handler computes BOTH write-time artifacts — the coarse cell
    (scan-local argmin vs fixed centroids) and the PQ code (one Arrow
    projection against the fixed codebook, operators/pq.py:
    pq_code_table) — and MERGEs (vec_id, ivf_cell, pq_code) into the
    partitionBy(ivf_cell) ParquetTable that
    ``ann_ivfpq_search_partitioned`` probes.  Stop/restart from the
    checkpoint between halves + a re-delivered first-half slice, both
    absorbed (cell and code are key-stable pure functions of the
    payload).  Certification: the ADC probe + exact re-rank over the
    LIVE table hash-matches the SAME oracle as the batch
    ``ann_ivfpq_search`` / ``_partitioned`` rows.  At 100 TB: ingest
    cost is one projection per row (no shuffle), probes prune whole
    cell directories and read ONLY the code column of survivors — the
    maintained table serves the (nprobe/K) x (M bytes/row) I/O story
    continuously."""
    import os
    import shutil
    import tempfile

    from javascript_vector_database_spark.operators.dml import ParquetTable
    from javascript_vector_database_spark.registry.feed_state import (
        _stream_feed,
    )
    from javascript_vector_database_spark.streaming.pipeline import (
        streaming_pipeline,
    )

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    cb = pqm.pq_codebook(cents)
    tmp = tempfile.mkdtemp(prefix="stream_ivfpqidx_")
    src = os.path.join(tmp, "src")
    cp = os.path.join(tmp, "cp")
    dest = ParquetTable(
        spark, os.path.join(tmp, "index"), "vec_id", partition_col="ivf_cell"
    )
    feed = emb.select("vec_id", "embedding")
    feed_rest = _stream_feed(spark, feed, src, "vec_id")
    schema = "vec_id long, embedding array<float>"

    def handler(batch: DataFrame, batch_id: int) -> None:
        delta = batch.withColumn(
            "ivf_cell", ann_scale.ivf_cell_expr(F.col("embedding"), cents)
        ).select("vec_id", "ivf_cell").join(
            pqm.pq_code_table(batch, cb), "vec_id"
        )
        dest.bulk_upsert(delta, lwt=float(batch_id))

    try:
        q = streaming_pipeline(spark, src, schema, handler, cp)
        q.awaitTermination()
        feed_rest()
        feed.where(
            (F.coalesce(F.col("vec_id"), F.lit(0)) % 2 == 0)
            & (F.col("vec_id") % 10 == 0)
        ).write.mode("append").parquet(src)
        q2 = streaming_pipeline(spark, src, schema, handler, cp)
        q2.awaitTermination()
        stored = dest.docs()
        out = pqm.ivfpq_search_precomputed(stored, emb, qv, cents, cb)
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register("stream_ann_index_compact_live", oracle=_bq_search_oracle(ORACLE_DIM))
def stream_ann_index_compact_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION invariance of the live-maintained ANN index (16th
    streaming==batch row): at 100 TB a MERGE-maintained code table is
    compacted constantly (every micro-batch MERGE leaves up to one file
    per writing task per touched partition — the small-files tax), and
    compaction must be a pure physical rewrite: same rows, same
    revisions, same probe results.  Same checkpointed pipeline as
    ``stream_ann_index_live``, with ``ParquetTable.compact()`` (the
    Delta OPTIMIZE analog, operators/dml.py) run TWICE at the nastiest
    moments: between the two feed halves (the next MERGE must land on
    the compacted layout) and after the final drain (the probe must
    read the compacted files).  Certification: the hamming probe + exact
    re-rank over the twice-compacted live table hash-matches the SAME
    DuckDB oracle as ``ann_bq_search_precomputed`` / the uncompacted
    ``stream_ann_index_live`` row; the row itself asserts each compact
    strictly reduced (or kept) the file count while preserving the
    table's exact row set."""
    import os
    import shutil
    import tempfile

    from javascript_vector_database_spark.operators.dml import ParquetTable
    from javascript_vector_database_spark.registry.feed_state import (
        _stream_feed,
    )
    from javascript_vector_database_spark.streaming.pipeline import (
        streaming_pipeline,
    )

    qv = get_query_vec(spark, sf_dir)
    dim = len(qv)
    emb = load_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="stream_annidx_cmp_")
    src = os.path.join(tmp, "src")
    cp = os.path.join(tmp, "cp")
    dest = ParquetTable(spark, os.path.join(tmp, "index"), "vec_id")
    feed = emb.select("vec_id", "embedding")
    feed_rest = _stream_feed(spark, feed, src, "vec_id")
    schema = "vec_id long, embedding array<float>"

    def handler(batch: DataFrame, batch_id: int) -> None:
        dest.bulk_upsert(quant.bq_table(batch, dim), lwt=float(batch_id))

    def table_digest():
        # order-free content digest as ONE bounded 1-row collect (the
        # full-table collect would break the bounded-collect discipline)
        return dest.df().select(
            # decimal(38,0) sum: 64-bit hash terms would overflow an
            # ANSI-mode BIGINT sum
            F.sum(
                F.xxhash64("vec_id", "bq_words", "_rev").cast("decimal(38,0)")
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).first()

    def compact_checked() -> None:
        before = table_digest()
        stats = dest.compact()
        assert stats["files_after"] <= stats["files_before"], stats
        after = table_digest()
        assert tuple(before) == tuple(after), (
            "compact() must not change table content"
        )

    try:
        q = streaming_pipeline(spark, src, schema, handler, cp)
        q.awaitTermination()  # availableNow: drains half 1, stops
        compact_checked()  # the next MERGE lands on the compacted layout
        feed_rest()
        feed.where(
            (F.coalesce(F.col("vec_id"), F.lit(0)) % 2 == 0)
            & (F.col("vec_id") % 10 == 0)
        ).write.mode("append").parquet(src)
        q2 = streaming_pipeline(spark, src, schema, handler, cp)
        q2.awaitTermination()
        compact_checked()  # the probe reads the compacted files
        stored = dest.docs().select("vec_id", "bq_words")
        out = quant.bq_search_precomputed(stored, emb, qv)
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Lloyd-trained IVF: the training rounds themselves oracle-checked
# ---------------------------------------------------------------------------


def _lloyd_cents_cte(
    dim: int = ORACLE_DIM,
    rounds: int = ann_scale.LLOYD_ROUNDS,
    table: str = "embeddings",
) -> str:
    """CTE chain reproducing ivf_lloyd_centroids in DuckDB: c0 is the
    hash-order sample, each round re-assigns (row_number argmin, ties
    to the smaller cid — the ivf_cell_expr contract) and moves every
    centroid to the integer-exact member mean; empty cells carry the
    previous center forward.  MATERIALIZED throughout — each level is
    multiply-referenced and DuckDB would otherwise re-evaluate the
    whole chain per reference (the sql_ktruss_peel lesson).  Ends in
    ``cents`` so _ivf_search_oracle's probe/assign CTEs plug on top."""
    s = ann_scale.LLOYD_SCALE
    sum_terms = ", ".join(
        f"sum(CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE)"
        f" * {s}.0 + 0.5) AS BIGINT)) AS s{d}"
        for d in range(dim)
    )
    # FLOOR division, not DuckDB's native truncating `//`: Python's
    # `//` floors (-7 // 2 = -4) while DuckDB's truncates toward zero
    # (-7 // 2 = -3), and Gaussian embeddings make negative member
    # sums routine — without this correction the two engines train
    # centroids differing by 1/LLOYD_SCALE (r9 ADVICE, high).  n > 0
    # always (a cell only appears in la{i} with >= 1 member).
    mean_terms = ", ".join(
        f"CAST(s{d} // n - CASE WHEN s{d} < 0 AND s{d} % n <> 0"
        f" THEN 1 ELSE 0 END AS DOUBLE) / {s}.0"
        for d in range(dim)
    )
    sql = [
        f"""c0 AS MATERIALIZED (
  SELECT vec_id AS cid, embedding AS cemb FROM {table}
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
  LIMIT {ann_scale.IVF_K})"""
    ]
    for i in range(rounds):
        sql.append(
            f"""la{i} AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {osql.sql_euclid('e.embedding', 'c.cemb')} ASC,
                      c.cid ASC
           ) AS rn
    FROM {table} e CROSS JOIN c{i} c
  ) WHERE rn = 1)"""
        )
        sql.append(
            f"""m{i} AS MATERIALIZED (
  SELECT cid, count(*) AS n, {sum_terms}
  FROM la{i} GROUP BY cid)"""
        )
        sql.append(
            f"""c{i + 1} AS MATERIALIZED (
  SELECT cid, list_value({mean_terms}) AS cemb
  FROM m{i}
  UNION ALL
  SELECT c.cid, list_transform(c.cemb, x -> CAST(x AS DOUBLE)) AS cemb
  FROM c{i} c WHERE c.cid NOT IN (SELECT DISTINCT cid FROM m{i}))"""
        )
    return (
        ",\n".join(sql)
        + f",\ncents AS MATERIALIZED (SELECT cid, cemb FROM c{rounds})"
    )


@register(
    "ann_ivf_lloyd_search",
    oracle=_ivf_search_oracle(
        nprobe=ann_scale.LLOYD_NPROBE, cents_cte=_lloyd_cents_cte()
    ),
)
def ann_ivf_lloyd_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over TRAINED centroids where the TRAINING ITSELF is
    oracle-checked: 3 deterministic Lloyd rounds (integer-exact
    centroid means — no float-summation order anywhere) run identically
    in Spark and in the DuckDB oracle's unrolled CTE chain, then the
    nprobe={np} probe + exact in-cell rank must hash-match.  This is
    the 64-dim answer to the 384 fixture family: those corpora are ONE
    committed table so training decouples to a parquet artifact, but
    the per-sf 64-dim tables are independent draws (measured cross-sf
    label-mean cosine ~0), so a train-once fixture cannot generalize —
    instead the trainer is made engine-reproducible.  Measured
    recall@10 (the bench's 10-query set): 0.82 at BOTH sf0.01 and
    sf0.1 at the registered nprobe=8; this overlap-heavy synthetic
    corpus caps even TRUE generator-cluster centroids at 0.70 by
    nprobe=4, so >=0.8 recall genuinely costs half the corpus here
    (docs-read ~0.50 — the honest geometry note lives on
    LLOYD_NPROBE; the clustered 384 fixture family is where IVF's
    recall-per-read wins).  Cost honesty: the REGISTERED row carries
    its own training (~5s at sf0.1 — deliberately, so the oracle can
    check the trainer), which is why it sits in the bench EXTRAS
    (ivf_lloyd_sec_per_query = the serving path, ~0.14 s/q over the
    precomputed assignment) rather than the headline.  At 100 TB the
    per-round work is one scan-local argmin + one 16-group aggregate
    (map-side partials), and training moves to write time exactly
    like the batch k-means path."""
    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.ivf_lloyd_centroids(emb)
    return ann_scale.ivf_search(
        emb, qv, cents=cents, nprobe=ann_scale.LLOYD_NPROBE
    )


ann_ivf_lloyd_search.__doc__ = ann_ivf_lloyd_search.__doc__.format(
    np=ann_scale.LLOYD_NPROBE
)


_DELETE_MOD = 17
_DELETE_RES = 3

#: change sequence numbers: inserts carry 1, the delete wave carries 2.
#: The per-key CSN MERGE (operators/dml.py:merge_cdc) makes the final
#: state independent of arrival order — tombstones target ANY id
#: (second-half ids whose insert has not even been delivered yet
#: included), and a post-delete re-delivery of the original insert
#: cannot resurrect the row (its csn=1 loses to the stored tombstone's
#: 2).  r10 had to restrict tombstones to checkpoint-complete
#: first-half ids to dodge exactly this order sensitivity; the CSN
#: discipline removes the restriction.
_CSN_INSERT = 1
_CSN_DELETE = 2

# r13: registration of stream_radius_index_live (defined above with the
# other radius rows) sits here because its alive-only oracle needs the
# delete-wave constants; the hash match certifies update_cell_radii — an
# under-covering maintained radius would prune a matching cell.
register(
    "stream_radius_index_live",
    oracle=_ivf_radius_oracle(
        table=(
            f"(SELECT * FROM embeddings"
            f" WHERE NOT (vec_id % {_DELETE_MOD} = {_DELETE_RES})) "
        )
    ),
)(stream_radius_index_live)

_BQ_DELETED_ORACLE = _bq_search_oracle(
    ORACLE_DIM,
    table=(
        f"(SELECT * FROM embeddings"
        f" WHERE NOT (vec_id % {_DELETE_MOD} = {_DELETE_RES})) "
    ),
)


def _cdc_feed(emb: DataFrame) -> DataFrame:
    """The insert side of the CDC feed: every corpus row as an insert
    change (csn=1, no tombstone)."""
    return emb.select(
        "vec_id",
        "embedding",
        F.lit(False).alias("_tombstone"),
        F.lit(_CSN_INSERT).cast("long").alias("_csn"),
    )


def _cdc_delete_wave(emb: DataFrame) -> DataFrame:
    """The delete wave: tombstones (csn=2) for ALL ids with
    vec_id % MOD == RES — including second-half ids whose insert may
    not have been delivered yet (the merge parks the tombstone and
    absorbs the late insert)."""
    return emb.where(
        F.col("vec_id") % _DELETE_MOD == _DELETE_RES
    ).select(
        "vec_id",
        "embedding",
        F.lit(True).alias("_tombstone"),
        F.lit(_CSN_DELETE).cast("long").alias("_csn"),
    )


def _cdc_redeliver_after_delete(emb: DataFrame) -> DataFrame:
    """Post-delete re-delivery: the ORIGINAL insert rows (csn=1) for a
    slice of the DELETED ids plus a slice of live ids — at-least-once
    delivery arriving AFTER the delete they precede causally.  The
    merge must absorb the deleted ids' inserts (stale csn) and the live
    ids' inserts (same csn = re-delivery) without changing anything."""
    return emb.where(
        ((F.col("vec_id") % _DELETE_MOD == _DELETE_RES) & (F.col("vec_id") % 2 == 0))
        | (F.col("vec_id") % 23 == 5)
    ).select(
        "vec_id",
        "embedding",
        F.lit(False).alias("_tombstone"),
        F.lit(_CSN_INSERT).cast("long").alias("_csn"),
    )


_CDC_SCHEMA = (
    "vec_id long, embedding array<float>, _tombstone boolean, _csn long"
)


@register("stream_ann_index_delete_live", oracle=_BQ_DELETED_ORACLE)
def stream_ann_index_delete_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE propagation through the live-maintained ANN index — the
    hard half of index maintenance (the reference's change feed carries
    deletions, rx-collection.js:243-289, and a derived index that only
    absorbs upserts serves ghosts).  Same checkpointed pipeline as
    stream_ann_index_live, but the feed is a CDC stream: every change
    carries a per-key change sequence number and a tombstone flag, and
    the handler applies the whole batch through ONE
    ``merge_cdc`` (operators/dml.py) — max-csn wins, tombstones stored
    as `_deleted=true` rows.  That makes the final state independent of
    arrival order, certified by running the NASTY schedule: the delete
    wave (csn=2, ids with vec_id % {m} == {r} — INCLUDING second-half
    ids whose insert has not been delivered yet) is appended BEFORE the
    second insert half, and after everything drains a third run
    re-delivers the original csn=1 inserts for half the deleted ids —
    none may resurrect.  The probe reads dest.docs() — the implicit
    `_deleted = false` view every reference query applies — and must
    hash-match the batch oracle over the corpus WITH the deleted
    vectors excluded.  At 100 TB tombstones touch only their key-hashed
    buckets and compact on the next partition rewrite."""
    import os
    import shutil
    import tempfile

    from javascript_vector_database_spark.operators.dml import ParquetTable
    from javascript_vector_database_spark.registry.feed_state import (
        _stream_feed,
    )
    from javascript_vector_database_spark.streaming.pipeline import (
        streaming_pipeline,
    )

    qv = get_query_vec(spark, sf_dir)
    dim = len(qv)
    emb = load_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="stream_annidx_del_")
    src = os.path.join(tmp, "src")
    cp = os.path.join(tmp, "cp")
    dest = ParquetTable(spark, os.path.join(tmp, "index"), "vec_id")
    feed_rest = _stream_feed(spark, _cdc_feed(emb), src, "vec_id")

    def handler(batch: DataFrame, batch_id: int) -> None:
        # ONE CDC merge for the whole batch: the packed words are a pure
        # row-local projection with the CDC flags riding along (a
        # re-join on vec_id would cross-pair a key delivered twice in
        # one batch); tombstones keep their payload so the merge window
        # and csn comparison see every change uniformly
        dest.merge_cdc(
            quant.bq_table(batch, dim, extra_cols=("_tombstone", "_csn")),
            lwt=float(batch_id),
        )

    try:
        q = streaming_pipeline(spark, src, _CDC_SCHEMA, handler, cp)
        q.awaitTermination()
        # delete wave FIRST (tombstones for not-yet-delivered ids too),
        # then the second insert half — the order a naive apply breaks on
        _cdc_delete_wave(emb).write.mode("append").parquet(src)
        feed_rest()
        q2 = streaming_pipeline(spark, src, _CDC_SCHEMA, handler, cp)
        q2.awaitTermination()
        # run 3: at-least-once re-delivery AFTER the delete — the stale
        # csn=1 inserts must be absorbed, not resurrect deleted rows
        _cdc_redeliver_after_delete(emb).write.mode("append").parquet(src)
        q3 = streaming_pipeline(spark, src, _CDC_SCHEMA, handler, cp)
        q3.awaitTermination()
        stored = dest.docs().select("vec_id", "bq_words")
        alive = emb.where(~(F.col("vec_id") % _DELETE_MOD == _DELETE_RES))
        out = quant.bq_search_precomputed(stored, alive, qv)
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


stream_ann_index_delete_live.__doc__ = (
    stream_ann_index_delete_live.__doc__.format(m=_DELETE_MOD, r=_DELETE_RES)
)


#: alive-only corpus for the IVF delete oracle; centroids stay the FULL
#: table's hash-order sample (the write-time set is fixed before any
#: delete, exactly like the Spark side's collect_centroids(emb))
_IVF_DELETED_ORACLE = _ivf_search_oracle(
    table=(
        f"(SELECT * FROM embeddings"
        f" WHERE NOT (vec_id % {_DELETE_MOD} = {_DELETE_RES})) "
    ),
    cents_cte=_IVF_CENTS_CTE,
)


@register("stream_ivf_index_delete_live", oracle=_IVF_DELETED_ORACLE)
def stream_ivf_index_delete_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE propagation through the PARTITION_COL live IVF layout
    (19th streaming==batch row), under the per-key CSN discipline
    (operators/dml.py:merge_cdc).  The CDC feed's tombstones carry
    their payload, so the handler computes ivf_cell for DELETES too —
    the partition value is a pure function of the embedding — and the
    whole batch flows through ONE merge whose touched-partition pruning
    rides the ivf_cell column directly (no PK-semi-join fallback on
    this path; keys-only bulk_remove keeps that fallback for callers
    without the payload, unit-pinned in tests/test_r10_wave.py).
    Nasty schedule certified end-to-end: the delete wave (csn=2, ids
    with vec_id % {m} == {r} — INCLUDING second-half ids not yet
    delivered) lands BEFORE the second insert half, and a third
    checkpointed run re-delivers original csn=1 inserts for half the
    deleted ids, which must not resurrect.  The probe reads dest.docs()
    (the implicit `_deleted = false` view) with PartitionFilters
    intact, and must hash-match the batch IVF oracle over the corpus
    WITH the deleted vectors excluded — centroids stay the full table's
    write-time sample on both engines."""
    import os
    import shutil
    import tempfile

    from javascript_vector_database_spark.operators.dml import ParquetTable
    from javascript_vector_database_spark.registry.feed_state import (
        _stream_feed,
    )
    from javascript_vector_database_spark.streaming.pipeline import (
        streaming_pipeline,
    )

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = ann_scale.collect_centroids(emb)  # fixed BEFORE any delete
    tmp = tempfile.mkdtemp(prefix="stream_ivfidx_del_")
    src = os.path.join(tmp, "src")
    cp = os.path.join(tmp, "cp")
    dest = ParquetTable(
        spark, os.path.join(tmp, "index"), "vec_id", partition_col="ivf_cell"
    )
    feed_rest = _stream_feed(spark, _cdc_feed(emb), src, "vec_id")

    def handler(batch: DataFrame, batch_id: int) -> None:
        # ivf_cell computed for every change INCLUDING tombstones (pure
        # function of the payload) — the merge prunes on the partition
        # column for inserts and deletes alike
        dest.merge_cdc(
            batch.withColumn(
                "ivf_cell",
                ann_scale.ivf_cell_expr(F.col("embedding"), cents),
            ),
            lwt=float(batch_id),
        )

    try:
        q = streaming_pipeline(spark, src, _CDC_SCHEMA, handler, cp)
        q.awaitTermination()
        _cdc_delete_wave(emb).write.mode("append").parquet(src)
        feed_rest()
        q2 = streaming_pipeline(spark, src, _CDC_SCHEMA, handler, cp)
        q2.awaitTermination()
        _cdc_redeliver_after_delete(emb).write.mode("append").parquet(src)
        q3 = streaming_pipeline(spark, src, _CDC_SCHEMA, handler, cp)
        q3.awaitTermination()
        stored = dest.docs().select("vec_id", "embedding", "ivf_cell")
        out = ann_scale.ivf_search(stored, qv, cents=cents, precomputed=True)
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


stream_ivf_index_delete_live.__doc__ = (
    stream_ivf_index_delete_live.__doc__.format(m=_DELETE_MOD, r=_DELETE_RES)
)


@register(
    "stream_ivf_index_retrain_live",
    oracle=_ivf_search_oracle(
        nprobe=ann_scale.LLOYD_NPROBE, cents_cte=_lloyd_cents_cte()
    ),
)
def stream_ivf_index_retrain_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX LIFECYCLE closed (21st streaming==batch row): live build ->
    RETRAIN -> blue/green MIGRATION -> serve.  Every prior live row
    maintains an index under FIXED write-time constants; real
    deployments retrain those constants (drifted corpora, better
    centroids) and must then migrate the partition layout — at 100 TB
    that is the standing reindex job, and it is done blue/green (build
    the new layout beside the old, swap the serving pointer) because an
    in-place cell rewrite would serve a half-migrated index.

    Script: (1) the checkpointed pipeline MERGEs (vec_id, ivf_cell,
    embedding) into a partitionBy(ivf_cell) table under the SAMPLED
    write-time centroids — two feed halves, stop/restart, re-delivered
    slice, exactly stream_ivf_index_live; (2) RETRAIN: 3 deterministic
    Lloyd rounds (integer-exact means, the oracle-checked trainer
    behind ann_ivf_lloyd_search); (3) MIGRATE: one scan of the OLD
    layout re-assigns every stored row to its new cell and bulk-loads a
    NEW partitionBy(ivf_cell) table (the green side; the swap is a
    pointer flip); (4) serve: ``ivf_search(precomputed=True,
    nprobe={np})`` probes the migrated table and must hash-match the
    SAME DuckDB oracle as ann_ivf_lloyd_search — an unrolled CTE chain
    that retrains the centroids inside DuckDB, so the trainer, the
    migration, AND the probe are all value-checked end-to-end.
    Migration cost at 100 TB: one corpus scan + one partitioned write
    (the argmin re-assignment is scan-local); probes never degrade
    because the old layout serves until the swap."""
    import os
    import shutil
    import tempfile

    from javascript_vector_database_spark.operators.dml import ParquetTable
    from javascript_vector_database_spark.registry.feed_state import (
        _stream_feed,
    )
    from javascript_vector_database_spark.streaming.pipeline import (
        streaming_pipeline,
    )

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents0 = ann_scale.collect_centroids(emb)  # the v1 write-time set
    tmp = tempfile.mkdtemp(prefix="stream_ivfidx_rt_")
    src = os.path.join(tmp, "src")
    cp = os.path.join(tmp, "cp")
    blue = ParquetTable(
        spark, os.path.join(tmp, "blue"), "vec_id", partition_col="ivf_cell"
    )
    feed = emb.select("vec_id", "embedding")
    feed_rest = _stream_feed(spark, feed, src, "vec_id")
    schema = "vec_id long, embedding array<float>"

    def handler(batch: DataFrame, batch_id: int) -> None:
        blue.bulk_upsert(
            batch.withColumn(
                "ivf_cell",
                ann_scale.ivf_cell_expr(F.col("embedding"), cents0),
            ),
            lwt=float(batch_id),
        )

    try:
        q = streaming_pipeline(spark, src, schema, handler, cp)
        q.awaitTermination()
        feed_rest()
        feed.where(
            (F.coalesce(F.col("vec_id"), F.lit(0)) % 2 == 0)
            & (F.col("vec_id") % 10 == 0)
        ).write.mode("append").parquet(src)
        q2 = streaming_pipeline(spark, src, schema, handler, cp)
        q2.awaitTermination()
        # RETRAIN: the oracle-checked Lloyd trainer over the corpus
        cents1 = ann_scale.ivf_lloyd_centroids(emb)
        # MIGRATE blue -> green: ONE scan of the old layout, scan-local
        # re-assignment, one partitioned bulk load; the old table keeps
        # serving until the pointer flip below
        green = ParquetTable(
            spark,
            os.path.join(tmp, "green"),
            "vec_id",
            partition_col="ivf_cell",
        )
        green.bulk_upsert(
            blue.docs()
            .select("vec_id", "embedding")
            .withColumn(
                "ivf_cell",
                ann_scale.ivf_cell_expr(F.col("embedding"), cents1),
            ),
            lwt=100.0,
        )
        serving = green  # the blue/green pointer flip
        stored = serving.docs().select("vec_id", "embedding", "ivf_cell")
        out = ann_scale.ivf_search(
            stored, qv, cents=cents1, precomputed=True,
            nprobe=ann_scale.LLOYD_NPROBE,
        )
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


stream_ivf_index_retrain_live.__doc__ = (
    stream_ivf_index_retrain_live.__doc__.format(np=ann_scale.LLOYD_NPROBE)
)


def _hybrid_live_oracle() -> str:
    from javascript_vector_database_spark.registry.text_queries import (
        _bm25_oracle,
    )
    from javascript_vector_database_spark.registry.vector_search import (
        RRF_K,
        RRF_SCALE,
        RRF_TOP,
    )

    lex = _bm25_oracle().strip()
    vec = _bq_search_oracle(ORACLE_DIM).strip()
    return f"""
WITH lex AS MATERIALIZED (SELECT * FROM ({lex})),
vec AS MATERIALIZED (SELECT * FROM ({vec})),
rl AS (SELECT doc_id,
              row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
       FROM lex),
rv AS (SELECT vec_id AS doc_id,
              row_number() OVER (ORDER BY distance ASC, vec_id ASC) AS r
       FROM vec),
u AS (
  SELECT doc_id, CAST({RRF_SCALE} // ({RRF_K} + r) AS BIGINT) AS s FROM rl
  UNION ALL
  SELECT doc_id, CAST({RRF_SCALE} // ({RRF_K} + r) AS BIGINT) AS s FROM rv
)
SELECT doc_id, CAST(sum(s) AS BIGINT) AS rrf_micro,
       CAST(count(*) AS BIGINT) AS n_lists
FROM u GROUP BY doc_id
ORDER BY rrf_micro DESC, doc_id ASC
LIMIT {RRF_TOP}
"""


@register("stream_hybrid_live", oracle=_hybrid_live_oracle())
def stream_hybrid_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE capstone streaming==batch row (14th): hybrid search served
    ENTIRELY from live-maintained indexes.  Two checkpointed pipelines
    run side by side under their own change feeds — the lexical tf/dl
    index (stream_bm25_index_live's ingest) and the BQ sign-word index
    (stream_ann_index_live's) — each with a stop/restart between feed
    halves; the query then fuses BM25-off-the-maintained-tf-table with
    the hamming-probe-off-the-maintained-words-table by the registered
    RRF rule, and the fused top-10 must hash-match an oracle that
    RESCANS the corpus for both arms.  This is the reference's whole
    architecture in one row (src/database.ts:176-206: reactive derived
    collections standing in for the corpus at query time) — if either
    maintained index dropped, duplicated, or ghosted one row, the
    fusion's ranks would shift and the hash would miss.  Arms are
    bounded top-k lists, so fusion cost is O(k); the rank windows run
    on 15+10 rows, never the corpus."""
    import os
    import shutil
    import tempfile

    from javascript_vector_database_spark.functions import text as T
    from javascript_vector_database_spark.operators.dml import ParquetTable
    from javascript_vector_database_spark.registry.feed_state import (
        _stream_feed,
    )
    from javascript_vector_database_spark.registry.text_queries import (
        BM25_TERMS,
        bm25_from_tf_index,
    )
    from javascript_vector_database_spark.registry.vector_search import (
        RRF_K,
        RRF_SCALE,
        RRF_TOP,
    )
    from javascript_vector_database_spark.streaming.pipeline import (
        streaming_pipeline,
    )

    qv = get_query_vec(spark, sf_dir)
    dim = len(qv)
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="stream_hybrid_")
    lex_src, lex_cp = os.path.join(tmp, "lsrc"), os.path.join(tmp, "lcp")
    vec_src, vec_cp = os.path.join(tmp, "vsrc"), os.path.join(tmp, "vcp")
    lex_dest = ParquetTable(spark, os.path.join(tmp, "lidx"), "doc_id")
    vec_dest = ParquetTable(spark, os.path.join(tmp, "vidx"), "vec_id")
    lex_rest = _stream_feed(spark, docs, lex_src, "doc_id")
    vec_rest = _stream_feed(
        spark, emb.select("vec_id", "embedding"), vec_src, "vec_id"
    )

    def tf(term: str):
        return F.size(F.filter(F.col("toks"), lambda x: x == F.lit(term)))

    def lex_handler(batch: DataFrame, batch_id: int) -> None:
        toks = batch.select("doc_id", T.word_tokens("text").alias("toks"))
        lex_dest.bulk_upsert(
            toks.select(
                "doc_id",
                F.size("toks").cast("long").alias("dl"),
                *[
                    tf(t).cast("long").alias(f"tf{i}")
                    for i, t in enumerate(BM25_TERMS)
                ],
            ),
            lwt=float(batch_id),
        )

    def vec_handler(batch: DataFrame, batch_id: int) -> None:
        vec_dest.bulk_upsert(quant.bq_table(batch, dim), lwt=float(batch_id))

    lex_schema = "doc_id long, text string"
    vec_schema = "vec_id long, embedding array<float>"
    try:
        for src, cp, handler, schema in (
            (lex_src, lex_cp, lex_handler, lex_schema),
            (vec_src, vec_cp, vec_handler, vec_schema),
        ):
            q = streaming_pipeline(spark, src, schema, handler, cp)
            q.awaitTermination()
        lex_rest()
        vec_rest()
        for src, cp, handler, schema in (
            (lex_src, lex_cp, lex_handler, lex_schema),
            (vec_src, vec_cp, vec_handler, vec_schema),
        ):
            q = streaming_pipeline(spark, src, schema, handler, cp)
            q.awaitTermination()
        lex = bm25_from_tf_index(lex_dest.docs())
        vec = quant.bq_search_precomputed(
            vec_dest.docs().select("vec_id", "bq_words"), emb, qv
        )
        # fuse on the driver: both arms are bounded top-k lists
        lrows = sorted(
            lex.collect(), key=lambda r: (-r["bm25"], r["doc_id"])
        )
        vrows = sorted(
            vec.collect(), key=lambda r: (r["distance"], r["vec_id"])
        )
        score: dict[int, list[int]] = {}
        for rank, r in enumerate(lrows, start=1):
            e = score.setdefault(int(r["doc_id"]), [0, 0])
            e[0] += RRF_SCALE // (RRF_K + rank)
            e[1] += 1
        for rank, r in enumerate(vrows, start=1):
            e = score.setdefault(int(r["vec_id"]), [0, 0])
            e[0] += RRF_SCALE // (RRF_K + rank)
            e[1] += 1
        fused = sorted(
            ((doc, s, n) for doc, (s, n) in score.items()),
            key=lambda t: (-t[1], t[0]),
        )[:RRF_TOP]
        out = spark.createDataFrame(
            fused, schema="doc_id long, rrf_micro long, n_lists long"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
