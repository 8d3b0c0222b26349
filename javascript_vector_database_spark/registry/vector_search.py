"""§2.8 vector-search surface: kNN/ANN strategies, flagship path, compat
index encoding, docReads efficiency metric."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from javascript_vector_database_spark import oracle as osql
from javascript_vector_database_spark.functions.vector import index_nr_to_string
from javascript_vector_database_spark.operators import knn
from javascript_vector_database_spark.pivots import (
    DOCS_PER_INDEX_SIDE,
    INDEX_DISTANCE,
    TUNED_INDEX_DISTANCE,
    pivot_sql_literal,
)
from javascript_vector_database_spark.registry import (
    get_query_vec,
    register,
    used_pivots,
)
from javascript_vector_database_spark.tables import load_table

#: oracle SQL is generated against the driver's sf0.01 data (64-dim);
#: the Spark side infers the dimension from the data at runtime.
ORACLE_DIM = 64


def _pivot_lits(dim: int) -> list[str]:
    return [pivot_sql_literal(p) for p in used_pivots(dim)]


# ---------------------------------------------------------------------------
# exact kNN (vectorSearchFullScan, reference src/search.ts:5-17)
# ---------------------------------------------------------------------------

def _knn_exact_oracle(
    table: str = "embeddings", qcte: str = osql.QVEC_CTE
) -> str:
    """``table``/``qcte`` parametrize the corpus source so the same
    builder serves the sf tables AND the 384-dim reference-geometry
    fixture (registry/ref_geometry.py)."""
    return f"""
WITH {qcte}
SELECT vec_id, round({osql.sql_euclid('embedding', 'qv')}, 6) AS distance
FROM {table}, q
ORDER BY distance ASC, vec_id ASC
LIMIT 10
"""


@register("knn_exact", oracle=_knn_exact_oracle())
def knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 nearest by euclidean distance; one scan ->
    TakeOrderedAndProject."""
    qv = get_query_vec(spark, sf_dir)
    return knn.exact_knn(load_table(spark, sf_dir, "embeddings"), qv)


#: the batch-query id set (rows of the embeddings table used as queries)
BATCH_QUERY_IDS = (1, 2, 3, 4, 5)

_BATCH_QS_CTE = (
    "qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings "
    f"WHERE vec_id IN {BATCH_QUERY_IDS})"
)

_KNN_BATCH_ORACLE = f"""
WITH {_BATCH_QS_CTE},
d AS (
  SELECT q.query_id, e.vec_id,
         round({osql.sql_euclid('e.embedding', 'q.qv')}, 6) AS distance
  FROM embeddings e CROSS JOIN qs q
)
SELECT query_id, vec_id, distance FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY distance ASC, vec_id ASC) AS rn
  FROM d
) WHERE rn <= 10
"""


@register("knn_batch_exact", oracle=_KNN_BATCH_ORACLE)
def knn_batch_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch exact kNN: top-10 for 5 query vectors in ONE corpus scan
    (broadcast query set + per-query row_number window) — the training-
    pipeline extension of vectorSearchFullScan."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id").isin(list(BATCH_QUERY_IDS))).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return knn.knn_batch(emb, queries)


# ---------------------------------------------------------------------------
# pivot-range ANN (vectorSearchIndexRange, src/search.ts:19-54)
# ---------------------------------------------------------------------------


def _ann_range_oracle(dim: int, index_distance: float = INDEX_DISTANCE) -> str:
    conds = []
    for lit in _pivot_lits(dim):
        d_i = osql.sql_euclid(lit, "qv")
        e_i = osql.sql_euclid("embedding", lit)
        conds.append(
            f"({e_i} > {d_i} - {d_i} * {index_distance}"
            f" AND {e_i} < {d_i} + {d_i} * {index_distance})"
        )
    cond = "\n   OR ".join(conds)
    return f"""
WITH {osql.QVEC_CTE}
SELECT vec_id, round({osql.sql_euclid('embedding', 'qv')}, 6) AS distance
FROM embeddings, q
WHERE {cond}
ORDER BY distance ASC, vec_id ASC
LIMIT 10
"""


@register("knn_ann_range", oracle=_ann_range_oracle(ORACLE_DIM))
def knn_ann_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-distance range candidates, exact re-rank, top-10.  Single scan
    with the OR of 5 sargable range predicates ≡ the reference's 5-query
    union-dedup (src/search.ts:21-40)."""
    qv = get_query_vec(spark, sf_dir)
    pivots = used_pivots(len(qv))
    return knn.ann_index_range(load_table(spark, sf_dir, "embeddings"), qv, pivots)


@register(
    "knn_ann_range_tuned",
    oracle=_ann_range_oracle(ORACLE_DIM, index_distance=TUNED_INDEX_DISTANCE),
)
def knn_ann_range_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The range-ANN band as a TUNABLE, demonstrated: identical plan to
    ``knn_ann_range`` but at ±{w} of each pivot distance instead of the
    reference's hard-coded ±0.003 (src/search.ts:20,27 — faithfully
    served by the sibling row).  Measured trade on the 64-dim corpus
    (bench extras `ann_range_tuned_*`): recall@10 0.87 at docs-read
    0.78, vs 0.29 at 0.13 for the faithful band — the full sweep lives
    on pivots.TUNED_INDEX_DISTANCE with the honest geometry caveat (this
    synthetic corpus buys recall with reads; the knob, not the curve, is
    the deliverable).  Same 100 TB shape: one scan, 5 sargable range
    predicates OR-ed, exact re-rank via TakeOrderedAndProject."""
    qv = get_query_vec(spark, sf_dir)
    pivots = used_pivots(len(qv))
    return knn.ann_index_range(
        load_table(spark, sf_dir, "embeddings"),
        qv,
        pivots,
        index_distance=TUNED_INDEX_DISTANCE,
    )


knn_ann_range_tuned.__doc__ = knn_ann_range_tuned.__doc__.format(
    w=TUNED_INDEX_DISTANCE
)


@register("knn_ann_range_indexed", oracle=_ann_range_oracle(ORACLE_DIM))
def knn_ann_range_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's pivot index STORED and probed — the plan it
    actually runs, demonstrated in our engine rather than asserted:
    src/database.ts:103-109's five declared indexes are written at
    build time as one composite (pivot, key, id) index sorted by
    (pivot, key), and the query's five band range-scans
    (src/search.ts:19-54) are five (pivot, key) ranges of it, read in
    one scan + union-dedup + doc-read re-rank.  Unlike the
    sibling ``knn_ann_range`` (which recomputes the pivot distances per
    query for oracle-shape fidelity), here the band predicates hit
    SORTED stored columns: they push to parquet and row groups outside
    the band are skipped via footer min/max — the index's I/O value,
    measured as the ``pivot_idx_prunable_frac`` bench extra and
    plan-pinned (PushedFilters) in tests/test_plans.py.  Same oracle
    as ``knn_ann_range``: the stored probe must return hash-identical
    results to the recomputed scan."""
    import os
    import tempfile

    qv = get_query_vec(spark, sf_dir)
    pivots = used_pivots(len(qv))
    base_dir = os.path.join(
        tempfile.mkdtemp(prefix="pivot_idx_"), "pivot_index"
    )
    knn.write_pivot_index_tables(
        load_table(spark, sf_dir, "embeddings"), pivots, base_dir
    )
    return knn.ann_index_range_stored(spark, base_dir, qv, pivots)


#: the batch-probe query-id set (rows of the embeddings table, so the
#: oracle derives identical query vectors)
IDX_BATCH_IDS = (1, 2, 7)


def _ann_range_batch_oracle(
    dim: int,
    ids: tuple[int, ...] = IDX_BATCH_IDS,
    index_distance: float = INDEX_DISTANCE,
) -> str:
    conds = []
    for lit in _pivot_lits(dim):
        d_i = osql.sql_euclid(lit, "q.qv")
        e_i = osql.sql_euclid("e.embedding", lit)
        conds.append(
            f"({e_i} > {d_i} - {d_i} * {index_distance}"
            f" AND {e_i} < {d_i} + {d_i} * {index_distance})"
        )
    cond = "\n   OR ".join(conds)
    return f"""
WITH qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
            WHERE vec_id IN {ids}),
cand AS (
  SELECT q.query_id, e.vec_id,
         round({osql.sql_euclid('e.embedding', 'q.qv')}, 6) AS distance
  FROM embeddings e CROSS JOIN qs q
  WHERE {cond}
)
SELECT query_id, vec_id, distance FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY distance ASC, vec_id ASC) AS rn
  FROM cand
) WHERE rn <= 10
"""


def knn_ann_range_indexed_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STAGED r14 (no @register yet: the r13 window is exactly full —
    compare-checked at sf0.01 by tests/test_r13_wave.py through the
    identical driver contract): eval-set retrieval over the reference's
    STORED index — the batch sibling of knn_ann_range_indexed,
    completing the batch family (knn_batch_exact / ann_ivf_batch_search
    / ann_pq_batch_search) on the index shape the reference actually
    ships.  One sargable band scan of the composite index per query,
    planned in ONE job (each still pushes to parquet and skips row
    groups), per-query Set-union dedup, one broadcast doc-read join,
    per-query top-10 through a WindowGroupLimit
    (operators/knn.py:ann_index_range_stored_batch)."""
    import os
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    q_rows = (
        emb.where(F.col("vec_id").isin(list(IDX_BATCH_IDS)))
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in q_rows
    ]
    pivots = used_pivots(len(queries[0][1]))
    base_dir = os.path.join(
        tempfile.mkdtemp(prefix="pivot_idx_batch_"), "pivot_index"
    )
    knn.write_pivot_index_tables(emb, pivots, base_dir)
    return knn.ann_index_range_stored_batch(
        spark, base_dir, queries, pivots
    )


@register(
    "stream_pivot_index_tables_live", oracle=_ann_range_oracle(ORACLE_DIM)
)
def stream_pivot_index_tables_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SORTED secondary-index lifecycle certified live —
    the sibling of stream_pivot_index_live (which maintains the keyed
    MERGE table); this row maintains the SORTED composite (pivot, key)
    index (the reference's declared indexes, src/database.ts:103-109)
    under streaming ingest with the LSM discipline:

    * each micro-batch ANTI-JOINS against the stored base ids first
      (the reference pipeline's idempotence gate, src/database.ts:182 —
      an append-only sink must dedup BEFORE appending, unlike the MERGE
      path where re-delivery is absorbed by the upsert), then appends
      one unsorted index segment (append_pivot_index_delta);
    * the feed arrives in two halves with a STOP/RESTART from the same
      checkpoint between them, plus a RE-DELIVERED slice of the first
      half that the anti-join must swallow;
    * after the drain, compact_pivot_index_tables re-sorts the index
      (the footer-prunability repayment measured by
      tests/test_r12_wave.py and the pivot_idx_prunable_frac extra);
    * the faithful ±0.003 band probe over the compacted stored tables
      must hash-match the batch knn_ann_range oracle."""
    import os
    import shutil
    import tempfile

    from javascript_vector_database_spark.registry.feed_state import (
        _stream_feed,
    )
    from javascript_vector_database_spark.streaming.pipeline import (
        streaming_pipeline,
    )

    qv = get_query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    pivots = used_pivots(len(qv))
    tmp = tempfile.mkdtemp(prefix="stream_pividx_tabs_")
    src = os.path.join(tmp, "src")
    cp = os.path.join(tmp, "cp")
    base_dir = os.path.join(tmp, "index")
    feed_rest = _stream_feed(spark, emb, src, "vec_id")

    def handler(batch: DataFrame, batch_id: int) -> None:
        base_path = os.path.join(base_dir, "base")
        if os.path.exists(base_path):
            seen = spark.read.parquet(base_path).select("vec_id")
            batch = batch.join(seen, "vec_id", "left_anti")
        knn.append_pivot_index_delta(batch, pivots, base_dir)

    try:
        q = streaming_pipeline(spark, src, emb.schema, handler, cp)
        q.awaitTermination()
        # re-deliver a slice of the first half (at-least-once file
        # source), then the second half, resuming from the checkpoint
        emb.where(
            (F.coalesce(F.col("vec_id"), F.lit(0)) % 2 == 0)
            & (F.col("vec_id") % 5 == 0)
        ).write.mode("append").parquet(src)
        feed_rest()
        q2 = streaming_pipeline(spark, src, emb.schema, handler, cp)
        q2.awaitTermination()
        knn.compact_pivot_index_tables(spark, base_dir)
        out = knn.ann_index_range_stored(spark, base_dir, qv, pivots)
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register("stream_pivot_index_live", oracle=_ann_range_oracle(ORACLE_DIM))
def stream_pivot_index_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE REFERENCE'S OWN flagship write path certified live (20th
    streaming==batch row): the reference's entire architecture is a
    pipeline that computes idx0..idx4 pivot distances for every arriving
    document and persists them as the vector collection's index columns
    (src/database.ts:176-206, idx fields :195-198); searches then
    range-scan those stored columns (src/search.ts:19-54).  Every OTHER
    index family (BQ/BM25/IVF/IVF-PQ/LSH) got this certification in
    r9-r10; this row closes the one the reference actually ships.

    A checkpointed Structured Streaming pipeline
    (streaming/pipeline.py:streaming_pipeline — the offset log == the
    reference's checkpoint doc) computes the five pivot distances per
    arriving vector (operators/knn.py:build_pivot_index — a pure
    scan-local projection against the FIXED write-time pivot set, no
    shuffle) and MERGEs (vec_id, embedding, idx0..idx4) into a managed
    ParquetTable keyed on vec_id.  The feed arrives in two halves with a
    STOP/RESTART from the same checkpoint between them (crash/resume)
    plus a re-delivered slice of the first half (at-least-once file
    delivery); pivot distances are key-stable pure functions of the
    payload, so the MERGE absorbs both invisibly.  Certification: the
    faithful ±0.003 range probe (``ann_index_range(precomputed=True)``,
    src/search.ts:19-54 semantics) runs against the LIVE-maintained
    table and must hash-match the SAME DuckDB oracle as the batch
    ``knn_ann_range`` row.  At 100 TB this is the standing service the
    reference runs per collection: per-row distance projection at
    ingest, MERGE touching only key-hashed buckets, probes reading the
    maintained DOUBLE columns with parquet min/max skipping — never
    rescanning the corpus."""
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
    pivots = used_pivots(len(qv))
    emb = load_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="stream_pividx_")
    src = os.path.join(tmp, "src")
    cp = os.path.join(tmp, "cp")
    dest = ParquetTable(spark, os.path.join(tmp, "index"), "vec_id")
    feed = emb.select("vec_id", "embedding")
    feed_rest = _stream_feed(spark, feed, src, "vec_id")
    schema = "vec_id long, embedding array<float>"
    idx_cols = [f"idx{i}" for i in range(len(pivots))]

    def handler(batch: DataFrame, batch_id: int) -> None:
        # the reference's pipeline handler verbatim in Spark terms:
        # five euclidean projections against fixed pivots, then MERGE
        # keyed on vec_id (re-delivered rows recompute identical idx
        # values, so the upsert is idempotent)
        dest.bulk_upsert(
            knn.build_pivot_index(batch, pivots).select(
                "vec_id", "embedding", *idx_cols
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
        stored = dest.docs().select("vec_id", "embedding", *idx_cols)
        out = knn.ann_index_range(stored, qv, pivots, precomputed=True)
        out = spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# pivot-neighborhood ANN (vectorSearchIndexSimilarity, src/search.ts:56-109)
# ---------------------------------------------------------------------------


def _ann_similarity_oracle(
    dim: int, table: str = "embeddings", qcte: str = osql.QVEC_CTE
) -> str:
    lits = _pivot_lits(dim)
    idx_cols = ", ".join(
        f"{osql.sql_euclid('embedding', lit)} AS idx{i}" for i, lit in enumerate(lits)
    )
    d_cols = ", ".join(
        f"{osql.sql_euclid(lit, 'qv')} AS d{i}" for i, lit in enumerate(lits)
    )
    arms = []
    for i in range(len(lits)):
        arms.append(
            f"(SELECT vec_id, embedding, qv FROM emb, d WHERE idx{i} < d{i} "
            f"ORDER BY idx{i} DESC, vec_id ASC LIMIT {DOCS_PER_INDEX_SIDE})"
        )
        arms.append(
            f"(SELECT vec_id, embedding, qv FROM emb, d WHERE idx{i} > d{i} "
            f"ORDER BY idx{i} ASC, vec_id ASC LIMIT {DOCS_PER_INDEX_SIDE})"
        )
    union = "\nUNION\n".join(arms)
    return f"""
WITH {qcte},
emb AS (SELECT vec_id, embedding, qv, {idx_cols} FROM {table}, q),
d AS (SELECT {d_cols} FROM q),
cand AS ({union})
SELECT vec_id, round({osql.sql_euclid('embedding', 'qv')}, 6) AS distance
FROM cand
ORDER BY distance ASC, vec_id ASC
LIMIT 10
"""


@register("knn_ann_similarity", oracle=_ann_similarity_oracle(ORACLE_DIM))
def knn_ann_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pivot bounded neighborhoods (100/side, $lt desc + $gt asc),
    union-dedup, exact re-rank, top-10."""
    qv = get_query_vec(spark, sf_dir)
    pivots = used_pivots(len(qv))
    return knn.ann_index_similarity(load_table(spark, sf_dir, "embeddings"), qv, pivots)


@register(
    "knn_ann_similarity_indexed", oracle=_ann_similarity_oracle(ORACLE_DIM)
)
def knn_ann_similarity_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's SECOND search mode over its stored index —
    vectorSearchIndexSimilarity's per-pivot $lt/$gt + limit Mango
    queries (src/search.ts:56-109) run as sargable mini-scans of the
    sorted composite (pivot, key) index, one scan for all five pivots
    (operators/knn.py:ann_index_similarity_stored), union-dedup +
    broadcast doc-read re-rank.  Same oracle as knn_ann_similarity:
    the stored probe must hash-match the recompute path.  The in-row
    index build is itemized separately in bench
    (ann_similarity_indexed_sec_per_query is the steady-state probe)."""
    import os
    import tempfile

    qv = get_query_vec(spark, sf_dir)
    pivots = used_pivots(len(qv))
    base_dir = os.path.join(
        tempfile.mkdtemp(prefix="pivot_idx_sim_"), "pivot_index"
    )
    knn.write_pivot_index_tables(
        load_table(spark, sf_dir, "embeddings"), pivots, base_dir
    )
    return knn.ann_index_similarity_stored(spark, base_dir, qv, pivots)


# ---------------------------------------------------------------------------
# docReads efficiency metric (reference src/search.ts:15,38,52)
# ---------------------------------------------------------------------------


def _doc_reads_oracle(dim: int) -> str:
    conds = []
    for lit in _pivot_lits(dim):
        d_i = osql.sql_euclid(lit, "qv")
        e_i = osql.sql_euclid("embedding", lit)
        conds.append(
            f"({e_i} > {d_i} - {d_i} * {INDEX_DISTANCE}"
            f" AND {e_i} < {d_i} + {d_i} * {INDEX_DISTANCE})"
        )
    cond = "\n   OR ".join(conds)
    return f"""
WITH {osql.QVEC_CTE}
SELECT count(*) AS doc_reads,
       (SELECT count(*) FROM embeddings) AS total_docs
FROM embeddings, q
WHERE {cond}
"""


@register("ann_doc_reads", oracle=_doc_reads_oracle(ORACLE_DIM))
def ann_doc_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate rows touched by the range-ANN predicate vs table size —
    the reference's docReads efficiency counter."""
    qv = get_query_vec(spark, sf_dir)
    pivots = used_pivots(len(qv))
    emb = load_table(spark, sf_dir, "embeddings")
    src = knn.build_pivot_index(emb, pivots)
    cond = knn._band_cond("ann_doc_reads", qv, pivots, INDEX_DISTANCE)
    return src.where(cond).agg(
        F.count(F.lit(1)).alias("doc_reads"),
        F.lit(emb.count()).cast("long").alias("total_docs"),
    )


# ---------------------------------------------------------------------------
# compat fixed-width index-key encoding (src/database.ts:223-225, §1.3 quirk)
# ---------------------------------------------------------------------------


def _compat_oracle(dim: int, table: str = "embeddings") -> str:
    lit = _pivot_lits(dim)[0]
    d = osql.sql_euclid("embedding", lit)
    s = f"regexp_replace(CAST({d} * 10.0 AS VARCHAR), '\\.0$', '')"
    return f"""
SELECT vec_id,
       rpad(substr({s}, 1, 10), 10, '0') AS idx0_str
FROM {table}
"""


def _sql_index_string(d_expr: str) -> str:
    """DuckDB mirror of index_nr_to_string over a distance expression."""
    s = f"regexp_replace(CAST({d_expr} * 10.0 AS VARCHAR), '\\.0$', '')"
    return f"rpad(substr({s}, 1, 10), 10, '0')"


def _compat_range_oracle(
    dim: int, table: str = "embeddings", qcte: str = osql.QVEC_CTE
) -> str:
    conds = []
    for lit in _pivot_lits(dim):
        d_i = osql.sql_euclid(lit, "qv")
        e_i = _sql_index_string(osql.sql_euclid("embedding", lit))
        lo = _sql_index_string(f"({d_i} - {d_i} * {INDEX_DISTANCE})")
        hi = _sql_index_string(f"({d_i} + {d_i} * {INDEX_DISTANCE})")
        conds.append(f"({e_i} > {lo} AND {e_i} < {hi})")
    cond = "\n   OR ".join(conds)
    return f"""
WITH {qcte}
SELECT vec_id, round({osql.sql_euclid('embedding', 'qv')}, 6) AS distance
FROM {table}, q
WHERE {cond}
ORDER BY distance ASC, vec_id ASC
LIMIT 10
"""


@register("knn_ann_range_compat", oracle=_compat_range_oracle(ORACLE_DIM))
def knn_ann_range_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-key range ANN, quirk-faithful (src/search.ts:27-36 over the
    lexicographic 10-char keys of src/database.ts:223-225) — the mode the
    reference actually runs; diverges from double mode across
    digit-count regime boundaries (SURVEY §1.3)."""
    qv = get_query_vec(spark, sf_dir)
    pivots = used_pivots(len(qv))
    return knn.ann_index_range_compat(
        load_table(spark, sf_dir, "embeddings"), qv, pivots
    )


def knn_ann_range_compat_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STAGED r14 (no @register yet: the r13 window is exactly full —
    compare-checked at sf0.01 by tests/test_r13_wave.py through the
    identical driver contract): the last fidelity seam between "what
    the reference stores" and "what we store" closed — the stored
    secondary-index tables carry the reference's PHYSICAL key, the
    10-char lexicographic string (src/database.ts:223-225), and the
    probe range-scans them with STRING band bounds (src/search.ts:27-36)
    via operators/knn.py:ann_index_range_compat_stored.  Same oracle as
    knn_ann_range_compat: the stored string probe must hash-match the
    recompute-per-query string path, quirks included."""
    import os
    import tempfile

    qv = get_query_vec(spark, sf_dir)
    pivots = used_pivots(len(qv))
    base_dir = os.path.join(
        tempfile.mkdtemp(prefix="pivot_idx_compat_"), "pivot_index"
    )
    knn.write_pivot_index_tables(
        load_table(spark, sf_dir, "embeddings"),
        pivots,
        base_dir,
        compat_strings=True,
    )
    return knn.ann_index_range_compat_stored(spark, base_dir, qv, pivots)


@register("compat_index_string", oracle=_compat_oracle(ORACLE_DIM))
def compat_index_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 10-char lexicographic index key, reproduced for
    fidelity (`((nr*10)+'').slice(0,10).padEnd(10,'0')`)."""
    qv = get_query_vec(spark, sf_dir)
    pivots = used_pivots(len(qv))
    emb = load_table(spark, sf_dir, "embeddings")
    src = knn.build_pivot_index(emb, pivots[:1])
    return src.select(
        "vec_id", index_nr_to_string("idx0").alias("idx0_str")
    )


# ---------------------------------------------------------------------------
# flagship: ANN search joined back to source documents (§3.1 end-to-end)
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = f"""
WITH {osql.QVEC_CTE},
topk AS (
  SELECT vec_id, round({osql.sql_euclid('embedding', 'qv')}, 6) AS distance
  FROM embeddings, q
  ORDER BY distance ASC, vec_id ASC
  LIMIT 10
)
SELECT t.vec_id AS doc_id, t.distance, d.lang, d.source, d.n_chars
FROM topk t JOIN documents d ON d.doc_id = t.vec_id
ORDER BY t.distance ASC, t.vec_id ASC
"""


@register("flagship_search", oracle=_FLAGSHIP_ORACLE)
def flagship_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship read path end-to-end (src/index.ts:50-109):
    embed query (here: stored vector) -> k-NN -> join source documents.
    The 10-row top-k is broadcast into the join — no shuffle of
    documents."""
    qv = get_query_vec(spark, sf_dir)
    topk = knn.exact_knn(load_table(spark, sf_dir, "embeddings"), qv)
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.join(F.broadcast(topk), docs["doc_id"] == topk["vec_id"], "inner")
        .select(
            topk["vec_id"].alias("doc_id"),
            "distance",
            "lang",
            "source",
            "n_chars",
        )
        .orderBy(F.col("distance").asc(), F.col("doc_id").asc())
    )


# ---------------------------------------------------------------------------
# MMR diversified re-ranking
# ---------------------------------------------------------------------------


def _mmr_oracle() -> str:
    from javascript_vector_database_spark.operators.knn import (
        MMR_K,
        MMR_LAMBDA_DEN,
        MMR_LAMBDA_NUM,
        MMR_POOL,
    )

    cos_q = osql.sql_cosine("embedding", "qv")
    ctes = [
        osql.QVEC_CTE,
        f"""cand AS (
  SELECT vec_id, embedding, {cos_q} AS rel
  FROM embeddings, q ORDER BY rel DESC, vec_id ASC LIMIT {MMR_POOL})""",
        "s1 AS (SELECT vec_id, embedding, rel FROM cand "
        "ORDER BY rel DESC, vec_id ASC LIMIT 1)",
    ]
    for i in range(2, MMR_K + 1):
        prev = [f"s{j}" for j in range(1, i)]
        sims = ", ".join(
            osql.sql_cosine("c.embedding", f"{p}.embedding") for p in prev
        )
        maxsim = f"greatest({sims})" if len(prev) > 1 else sims
        notin = ", ".join(f"{p}.vec_id" for p in prev)
        ctes.append(
            f"""r{i} AS (
  SELECT c.vec_id, c.embedding, c.rel,
         c.rel * {MMR_LAMBDA_NUM} / {MMR_LAMBDA_DEN}
         - ({maxsim}) * {MMR_LAMBDA_DEN - MMR_LAMBDA_NUM} / {MMR_LAMBDA_DEN}
           AS score
  FROM cand c, {', '.join(prev)}
  WHERE c.vec_id NOT IN ({notin}))"""
        )
        ctes.append(
            f"s{i} AS (SELECT vec_id, embedding, rel FROM r{i} "
            "ORDER BY score DESC, vec_id ASC LIMIT 1)"
        )
    arms = "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, vec_id, round(rel, 6) AS rel FROM s{i}"
        for i in range(1, MMR_K + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + arms


@register("knn_mmr_rerank", oracle=_mmr_oracle())
def knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-k (operators/knn.py::mmr_rerank): greedy
    0.5*relevance - 0.5*max-similarity-to-selected over the top-20
    cosine pool — the diversity pass a RAG retriever runs after ANN.
    The oracle unrolls the identical greedy selection as CTE levels."""
    from javascript_vector_database_spark.operators.knn import mmr_rerank
    from javascript_vector_database_spark.registry import get_query_vec

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_rerank(emb, get_query_vec(spark, sf_dir))


@register(
    "embedding_norm_profile",
    oracle=f"""
SELECT label,
       CAST(count(*) AS BIGINT) AS n,
       round(min({osql.sql_l2_norm('embedding')}), 6) AS min_norm,
       round(max({osql.sql_l2_norm('embedding')}), 6) AS max_norm
FROM embeddings GROUP BY label
""",
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-health profile per label: count and the min/max L2 norm
    (a zero or exploded norm is a broken embedding batch).  min/max of
    identically-computed doubles are order-independent — the one vector
    statistic that is exactly oracle-checkable without decimal tricks;
    a MEAN norm would be a shuffle-order-dependent float sum and is
    deliberately absent."""
    from javascript_vector_database_spark.functions.vector import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    n = l2_norm(F.col("embedding"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.min(n), 6).alias("min_norm"),
        F.round(F.max(n), 6).alias("max_norm"),
    )


# ---------------------------------------------------------------------------
# hybrid search: reciprocal-rank fusion of the lexical and vector lists
# ---------------------------------------------------------------------------

#: the standard RRF dampening constant (Cormack, Clarke & Buettcher,
#: SIGIR 2009 — public); fused contribution = SCALE div (K + rank)
RRF_K = 60
RRF_SCALE = 1_000_000
RRF_TOP = 10


def _rrf_oracle() -> str:
    from javascript_vector_database_spark.registry.text_queries import (
        _bm25_oracle,
    )

    lex = _bm25_oracle().strip()
    vec = _knn_exact_oracle().strip()
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


@register("hybrid_rrf_search", oracle=_rrf_oracle())
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID search — the query every production vector store serves
    beside pure ANN: fuse the lexical BM25 top-{bt} and the vector
    exact top-10 (documents and embeddings share the id space) by
    reciprocal-rank fusion, score = sum over lists of
    SCALE div ({k} + rank).  RRF uses RANKS only, so the fused score is
    exact-integer (engine-identical floor division) even though the
    underlying scores are floats; ranks are deterministic via the same
    (score, id) tiebreaks both list rows already hash-match under.
    n_lists rides along (2 = consensus hit, 1 = single-list).  The two
    candidate lists are the ALREADY-REGISTERED rows reused verbatim —
    at 100 TB each is its own bounded top-k job and the fusion is
    driver-trivial (k+k rows); the row_number windows here run over
    those bounded lists, never the corpus."""
    from javascript_vector_database_spark.registry.text_queries import (
        text_bm25_search,
    )

    lex = text_bm25_search(spark, sf_dir)
    vec = knn_exact(spark, sf_dir)
    wl = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    wv = Window.orderBy(F.col("distance").asc(), F.col("vec_id").asc())
    rl = lex.select("doc_id", F.row_number().over(wl).alias("r"))
    rv = vec.select(
        F.col("vec_id").alias("doc_id"), F.row_number().over(wv).alias("r")
    )
    u = rl.unionByName(rv).select(
        "doc_id",
        F.expr(f"{RRF_SCALE} DIV ({RRF_K} + r)").cast("long").alias("s"),
    )
    return (
        u.groupBy("doc_id")
        .agg(
            F.sum("s").cast("long").alias("rrf_micro"),
            F.count(F.lit(1)).cast("long").alias("n_lists"),
        )
        .orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc())
        .limit(RRF_TOP)
    )


hybrid_rrf_search.__doc__ = hybrid_rrf_search.__doc__.format(
    bt=15, k=RRF_K
)


_HYBRID_BATCH_QIDS = (1, 2, 3)


def _rrf_batch_oracle() -> str:
    from javascript_vector_database_spark.registry.text_queries import (
        _bm25_batch_oracle,
    )

    lex = _bm25_batch_oracle().strip()
    vec = _KNN_BATCH_ORACLE.strip()
    qids = ", ".join(str(q) for q in _HYBRID_BATCH_QIDS)
    return f"""
WITH lex AS MATERIALIZED (
  SELECT * FROM ({lex}) WHERE query_id IN ({qids})),
vec AS MATERIALIZED (
  SELECT * FROM ({vec}) WHERE query_id IN ({qids})),
rl AS (SELECT query_id, doc_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY bm25 DESC, doc_id ASC) AS r
       FROM lex),
rv AS (SELECT query_id, vec_id AS doc_id,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY distance ASC, vec_id ASC) AS r
       FROM vec),
u AS (
  SELECT query_id, doc_id,
         CAST({RRF_SCALE} // ({RRF_K} + r) AS BIGINT) AS s FROM rl
  UNION ALL
  SELECT query_id, doc_id,
         CAST({RRF_SCALE} // ({RRF_K} + r) AS BIGINT) AS s FROM rv
),
f AS (
  SELECT query_id, doc_id, CAST(sum(s) AS BIGINT) AS rrf_micro,
         CAST(count(*) AS BIGINT) AS n_lists
  FROM u GROUP BY 1, 2
)
SELECT query_id, doc_id, rrf_micro, n_lists FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_micro DESC, doc_id ASC) AS rn
  FROM f
) WHERE rn <= {RRF_TOP}
"""


@register("hybrid_rrf_batch", oracle=_rrf_batch_oracle())
def hybrid_rrf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH hybrid search: reciprocal-rank fusion for several queries
    at once, each query pairing its lexical arm (the registered batch
    BM25, one corpus scan for ALL queries) with its vector arm (the
    registered batch kNN, one corpus scan) — so the whole hybrid batch
    costs TWO corpus scans regardless of query count, the amortization
    shape both batch rows already certify.  Per query: rank each arm
    (windows PARTITIONED by query_id — never global), fuse with the
    same integer SCALE div (K + rank) scoring as `hybrid_rrf_search`,
    keep the top-{k} per query.  Queries {q} carry both a term set
    (BM25_BATCH) and a query vector (the same ids in the embeddings
    table)."""
    from javascript_vector_database_spark.registry.text_queries import (
        text_bm25_batch_search,
    )

    qids = list(_HYBRID_BATCH_QIDS)
    lex = text_bm25_batch_search(spark, sf_dir).where(
        F.col("query_id").isin(qids)
    )
    vec = knn_batch_exact(spark, sf_dir).where(F.col("query_id").isin(qids))
    wl = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("vec_id").asc()
    )
    rl = lex.select("query_id", "doc_id", F.row_number().over(wl).alias("r"))
    rv = vec.select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wv).alias("r"),
    )
    u = rl.unionByName(rv).select(
        "query_id",
        "doc_id",
        F.expr(f"{RRF_SCALE} DIV ({RRF_K} + r)").cast("long").alias("s"),
    )
    fused = u.groupBy("query_id", "doc_id").agg(
        F.sum("s").cast("long").alias("rrf_micro"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("__rn", F.row_number().over(wf))
        .where(F.col("__rn") <= RRF_TOP)
        .select("query_id", "doc_id", "rrf_micro", "n_lists")
    )


hybrid_rrf_batch.__doc__ = hybrid_rrf_batch.__doc__.format(
    k=RRF_TOP, q=_HYBRID_BATCH_QIDS
)
