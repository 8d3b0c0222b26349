"""Reference-geometry (384-dim) vector-search family.

The reference's default embedding model emits 384-dim unit-L2 vectors
(MiniLM, reference src/vector.ts:8-19); the driver's sf tables carry
64-dim synthetic embeddings, so until round 5 the §1.3 compat-string
quirk and every ANN strategy had only ever executed at toy
dimensionality.  sentence-transformers is not installable here, so the
reference's own precomputed-embeddings decoupling is used instead
(src/database.ts:147-158 loads `embeddings.json` rather than embedding
at import): ``fixtures/embeddings_384.parquet`` holds 2000 deterministic
clustered unit-norm 384-dim vectors (tools/make_fixture_384.py), and
this family runs the dimension-agnostic operators over it at reference
geometry.

Every query here IGNORES ``sf_dir`` and reads the committed fixture; the
DuckDB oracles read the very same parquet via ``read_parquet``, so the
driver's value-hash contract holds exactly as for the sf tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from javascript_vector_database_spark.functions.vector import index_nr_to_string
from javascript_vector_database_spark.operators import knn
from javascript_vector_database_spark.registry import QVEC_ID, register, used_pivots
from javascript_vector_database_spark.registry.vector_search import (
    _ann_similarity_oracle,
    _compat_oracle,
    _compat_range_oracle,
    _knn_exact_oracle,
)

#: the reference's MiniLM output dimensionality (src/vector.ts:24-39)
REFERENCE_DIM = 384

FIXTURE_PATH = os.path.abspath(
    os.path.join(
        os.path.dirname(__file__), "..", "..", "fixtures", "embeddings_384.parquet"
    )
)

#: TRAINED coarse-quantizer centroids for the fixture (MLlib k-means‖,
#: exported once by tools/make_centroids_384.py — the write-time-artifact
#: decoupling that makes a non-SQL-reproducible training step
#: oracle-checkable: both engines read the identical parquet)
CENTROIDS_PATH = os.path.abspath(
    os.path.join(
        os.path.dirname(__file__), "..", "..", "fixtures", "centroids_384.parquet"
    )
)

_T = f"read_parquet('{FIXTURE_PATH}')"
_QCTE = f"q AS (SELECT embedding AS qv FROM {_T} WHERE vec_id = {QVEC_ID})"
_TRAINED_CENTS_CTE = (
    f"cents AS (SELECT cid, cemb FROM read_parquet('{CENTROIDS_PATH}'))"
)


#: per-session cache of the fixture scan, query vector, and coarse
#: centroids.  These are WRITE-TIME artifacts (the reference stores its
#: index at insert — src/database.ts:195-198 — and the *_precomputed
#:  variants make the same point for the sf tables): nine 384-family
#: queries re-deriving them pays ~2.5s of repeated 2000-row jobs each.
#: Keyed on the SparkSession object itself (kept as the value's first
#: element so id() can't be reused after gc).
_SESSION_CACHE: dict = {}


def _cached(spark: SparkSession, key: str, build):
    entry = _SESSION_CACHE.get(key)
    if entry is None or entry[0] is not spark:
        _SESSION_CACHE[key] = entry = (spark, build())
    return entry[1]


def _fixture(spark: SparkSession) -> DataFrame:
    return _cached(
        spark, "fx", lambda: spark.read.parquet(FIXTURE_PATH).cache()
    )


def _fixture_qvec(spark: SparkSession) -> list[float]:
    def build():
        row = (
            _fixture(spark)
            .where(F.col("vec_id") == QVEC_ID)
            .select("embedding")
            .first()
        )
        return [float(x) for x in row[0]]

    return _cached(spark, "qvec", build)


def _fixture_cents(spark: SparkSession, k: int):
    from javascript_vector_database_spark.operators import ann_scale

    return _cached(
        spark,
        f"cents{k}",
        lambda: ann_scale.collect_centroids(_fixture(spark), k=k),
    )


def trained_cents(spark: SparkSession) -> list[tuple[int, list[float]]]:
    """The persisted trained centroid set (16 rows — bounded collect),
    sorted by cid for deterministic argmin tie-breaks."""

    def build():
        rows = spark.read.parquet(CENTROIDS_PATH).collect()
        return sorted(
            (int(r["cid"]), [float(x) for x in r["cemb"]]) for r in rows
        )

    return _cached(spark, "trained_cents", build)


@register("knn_exact_384", oracle=_knn_exact_oracle(table=_T, qcte=_QCTE))
def knn_exact_384(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 at reference dimensionality — same
    TakeOrderedAndProject shape as `knn_exact`, 6x wider rows."""
    return knn.exact_knn(_fixture(spark), _fixture_qvec(spark))


@register(
    "knn_ann_similarity_384",
    oracle=_ann_similarity_oracle(REFERENCE_DIM, table=_T, qcte=_QCTE),
)
def knn_ann_similarity_384(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pivot bounded neighborhoods (100/side) at 384 dims: distances
    between clustered unit vectors concentrate near sqrt(2), which is
    exactly the regime the reference's own index operates in.

    The pivot index is materialized ONCE (localCheckpoint) before the 10
    arms read it — the write-time-index emulation the reference itself
    uses (idx columns stored at insert, src/database.ts:195-198).
    Without it each arm re-derives its 384-term distance projection and
    the analyzer/codegen cost dominates (measured 3.7s -> the arms then
    plan against a plain materialized relation)."""
    qv = _fixture_qvec(spark)
    pivots = used_pivots(len(qv))
    indexed = knn.build_pivot_index(_fixture(spark), pivots).localCheckpoint()
    return knn.ann_index_similarity(indexed, qv, pivots, precomputed=True)


@register(
    "knn_ann_range_compat_384",
    oracle=_compat_range_oracle(REFERENCE_DIM, table=_T, qcte=_QCTE),
)
def knn_ann_range_compat_384(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §1.3 string-key quirk at reference geometry: pivot distances
    near 1.4 put every key in the '1x.xxxxxxxx' 10-char regime
    (src/database.ts:223-225), so lexicographic and numeric order agree
    within the band — the regime the reference actually ships."""
    qv = _fixture_qvec(spark)
    return knn.ann_index_range_compat(_fixture(spark), qv, used_pivots(len(qv)))


#: nprobe for the 384-dim IVF row: 4 of 16 cells.  The 64-dim family's
#: N_PROBE=2 under-recalls at reference geometry (bench extras:
#: recall@10 0.26 sampled / 0.58 kmeans at nprobe=2 vs 0.46 / 0.88 at
#: nprobe=4) — the clustered fixture puts true neighbors in adjacent
#: cells more often than the uniform corpus.  Still prunes 3/4 of the
#: scan; the oracle mirrors the probe width.
IVF_NPROBE_384 = 4


def _ivf_384_oracle() -> str:
    from javascript_vector_database_spark.registry.ann_scale_queries import (
        _ivf_search_oracle,
    )

    return _ivf_search_oracle(
        table=_T,
        qcte=_QCTE,
        nprobe=IVF_NPROBE_384,
        cents_cte=_TRAINED_CENTS_CTE,
    )


@register("ann_ivf_384", oracle=_ivf_384_oracle())
def ann_ivf_384(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF scale path at reference geometry, on the TRAINED coarse
    quantizer: the fixture's clustered structure (semantic corpora are
    clustered) is exactly where coarse quantization earns its keep — a
    cell probe prunes 3/4 of the corpus while keeping the true
    neighbors.  Centroids come from the committed k-means fixture
    (fixtures/centroids_384.parquet, tools/make_centroids_384.py) that
    the DuckDB oracle read_parquets identically, so the recall-optimal
    configuration is fully hash-checked: recall@10 0.88 at nprobe=4 vs
    0.46 for the r7 hash-order sample at the same probe width (pinned in
    tests/test_ref_geometry.py).  Training is a write-time step at
    scale — persisted beside the table, never re-derived per query."""
    from javascript_vector_database_spark.operators import ann_scale

    return ann_scale.ivf_search(
        _fixture(spark),
        _fixture_qvec(spark),
        nprobe=IVF_NPROBE_384,
        cents=trained_cents(spark),
    )


def _sq8_384_oracle() -> str:
    from javascript_vector_database_spark.registry.ann_scale_queries import (
        _sq8_search_oracle,
    )

    return _sq8_search_oracle(table=_T, qcte=_QCTE)


@register("ann_sq8_384", oracle=_sq8_384_oracle())
def ann_sq8_384(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization at reference geometry: 384 codes/vector,
    one global (lo, hi) affine.  Unit-norm MiniLM-like components sit in
    [-1, 1] with most mass near 0 (|x| ~ 1/sqrt(384)), so the global
    affine wastes levels on the tails — exactly the regime the per-dim
    re-rank pool exists for; the exact re-rank restores the true top-k
    (same integer code-distance + re-rank contract as `ann_sq8_search`)."""
    from javascript_vector_database_spark.operators import quant

    return quant.sq8_search(_fixture(spark), _fixture_qvec(spark))


def _pq_384_oracle() -> str:
    from javascript_vector_database_spark.registry.ann_scale_queries import (
        _pq_search_oracle,
    )

    from javascript_vector_database_spark.operators import pq as pqm

    return _pq_search_oracle(
        table=_T,
        qcte=_QCTE,
        sd=REFERENCE_DIM // pqm.PQ_M_384,
        m=pqm.PQ_M_384,
        rerank=pqm.PQ_RERANK_384,
    )


@register("ann_pq_384", oracle=_pq_384_oracle())
def ann_pq_384(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC at reference geometry, the r7 probe shape: M=96 subspaces
    of 4 dims each + a 32x exact re-rank pool.  The r6 config (M=8,
    48-dim subspaces, rerank=8) measured recall@10 = 0.22 with this
    sampled codebook — PQ accuracy is set by bits per COMPONENT, so wide
    subspaces under-quantize (Jégou §V; FAISS convention is 4-8 dims per
    subquantizer).  This configuration measures 0.88 on the fixture
    (sweep in operators/pq.py PQ_M_384 notes).  Codebook remains the
    deterministic hash-order sample the oracle mirrors; the trained
    variant rides the bench recall report, not the driver contract."""
    from javascript_vector_database_spark.operators import pq as pqm

    fx = _fixture(spark)
    cb = pqm.pq_codebook(_fixture_cents(spark, pqm.PQ_K), m=pqm.PQ_M_384)
    return pqm.pq_search(
        fx, _fixture_qvec(spark), cb, rerank=pqm.PQ_RERANK_384
    )


#: coarse probe width for the composed IVF-PQ at 384: 6 of 16 cells.
#: Measured recall@10 sweep (trained coarse cells, sampled M=96 raw
#: codebook, rerank=32 unless noted): sampled-cents nprobe=2 (the
#: pre-r8 registered config) 0.26; sampled nprobe=4 0.44; trained
#: nprobe=4 0.78 (rerank=48: 0.80); trained nprobe=6 **0.88**
#: (rerank=48: 0.92); trained nprobe=8 0.88.  At K=16 coarse cells a
#: 6-cell probe reads 3/8 of the corpus' CODES (48 bytes/row, not the
#: floats); production K is thousands, where the same recall point
#: costs a tiny cell fraction.
IVFPQ_NPROBE_384 = 6


def _ivfpq_384_oracle() -> str:
    from javascript_vector_database_spark.operators import pq as pqm
    from javascript_vector_database_spark.registry.ann_scale_queries import (
        _ivfpq_trained_oracle,
    )

    return _ivfpq_trained_oracle(
        table=_T,
        qcte=_QCTE,
        sd=REFERENCE_DIM // pqm.PQ_M_384,
        m=pqm.PQ_M_384,
        rerank=pqm.PQ_RERANK_384,
        nprobe=IVFPQ_NPROBE_384,
        cents_cte=_TRAINED_CENTS_CTE,
    )


@register("ann_ivfpq_384", oracle=_ivfpq_384_oracle())
def ann_ivfpq_384(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ at reference geometry — the full FAISS-style composition
    (coarse probe x 4-dim-subspace ADC x 32x exact re-rank) on the
    clustered 384-dim fixture, sharing the M=96 probe shape with
    `ann_pq_384`.  Since r8 the COARSE quantizer is the trained
    centroid fixture (the same ann_ivf_384 artifact; the PQ codebook
    stays the hash-order sample both engines derive in-query):
    registered recall@10 **0.88** at nprobe=6 vs 0.26 for the pre-r8
    sampled-cents nprobe=2 config (sweep in IVFPQ_NPROBE_384's note,
    pinned in tests/test_ref_geometry.py)."""
    from javascript_vector_database_spark.operators import ann_scale
    from javascript_vector_database_spark.operators import pq as pqm

    fx = _fixture(spark)
    cb = pqm.pq_codebook(_fixture_cents(spark, ann_scale.IVF_K), m=pqm.PQ_M_384)
    return pqm.ivfpq_search(
        fx,
        _fixture_qvec(spark),
        trained_cents(spark),
        cb,
        nprobe=IVFPQ_NPROBE_384,
        rerank=pqm.PQ_RERANK_384,
    )


@register(
    "stream_reactive_topk_384",
    oracle=_knn_exact_oracle(table=_T, qcte=_QCTE),
)
def stream_reactive_topk_384(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's live-search UX shape, driver-certified at
    reference geometry: a change feed of scored documents drives a
    REACTIVE sorted-limit query (RxQuery.$ semantics — event-reduce
    maintenance with the bounded runFullQueryAgain fallback,
    streaming/reactive.py ReactiveQuery) whose maintained emission is
    the live top-10 by distance.  The fixture streams in two
    micro-batches (vec_id-parity halves, real cross-batch state
    folding); after awaitIdle the maintained bounded view must equal
    the one-shot batch `knn_exact_384` — certified against the SAME
    DuckDB oracle.  Distance is computed at feed time (the reference
    scores at write via its stored index, src/database.ts:195-198), so
    the maintained query itself never rescans the corpus: each bulk
    folds in O(|bulk| + limit)."""
    import shutil
    import tempfile

    from javascript_vector_database_spark.operators.knn import with_distance
    from javascript_vector_database_spark.pivots import TOP_K
    from javascript_vector_database_spark.registry.feed_state import (
        _stream_feed,
    )
    from javascript_vector_database_spark.streaming.reactive import (
        ReactiveQuery,
    )

    qv = _fixture_qvec(spark)
    docs = with_distance(_fixture(spark), qv).select(
        "vec_id",
        "distance",
        F.lit(False).alias("_deleted"),
        F.col("vec_id").cast("double").alias("_lwt"),
    )
    tmp = tempfile.mkdtemp(prefix="stream_rtopk_")
    src = os.path.join(tmp, "src")
    feed_rest = _stream_feed(spark, docs, src, "vec_id")
    rq = ReactiveQuery(
        spark,
        {},
        os.path.join(tmp, "rq"),
        id_col="vec_id",
        sort=[("distance", "asc")],
        limit=TOP_K,
    )
    q = rq.start_stream(
        src,
        "vec_id long, distance double, _deleted boolean, _lwt double",
        os.path.join(tmp, "cp"),
    )
    try:
        q.processAllAvailable()
        feed_rest()
        q.processAllAvailable()
        live = rq.results().select("vec_id", "distance")
        out = spark.createDataFrame(live.collect(), live.schema)
    finally:
        q.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _ivfpq_residual_384_oracle() -> str:
    from javascript_vector_database_spark.operators import pq as pqm
    from javascript_vector_database_spark.registry.ann_scale_queries import (
        _ivfpq_residual_oracle,
    )

    return _ivfpq_residual_oracle(
        table=_T,
        qcte=_QCTE,
        sd=REFERENCE_DIM // pqm.PQ_M_384,
        m=pqm.PQ_M_384,
        rerank=pqm.PQ_RERANK_384,
        nprobe=IVF_NPROBE_384,
        cents_cte=_TRAINED_CENTS_CTE,
    )


@register("ann_ivfpq_residual_384", oracle=_ivfpq_residual_384_oracle())
def ann_ivfpq_residual_384(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ at reference geometry — the full FAISS IndexIVFPQ
    semantics (Jégou §IV.B): PQ encodes v - centroid(cell(v)) and ADC
    runs per probed cell against that cell's QUERY residual, over the
    trained coarse quantizer (fixtures/centroids_384.parquet).  Honest
    measurement: on THIS fixture residual encoding is recall-neutral vs
    raw-vector PQ (0.78 both, rerank=32/nprobe=4/trained cents) because
    the fixture's within-cluster residuals are isotropic Gaussian noise
    BY CONSTRUCTION — there is no anisotropic structure left to
    quantize.  On real embedding corpora residuals carry most of the
    local structure, which is why FAISS defaults to them; the operator,
    per-cell LUT plumbing, and oracle are the deployment shape either
    way."""
    from javascript_vector_database_spark.operators import pq as pqm

    cents = trained_cents(spark)
    cb = pqm.residual_codebook(_fixture(spark), cents, m=pqm.PQ_M_384)
    return pqm.ivfpq_residual_search(
        _fixture(spark),
        _fixture_qvec(spark),
        cents,
        cb,
        nprobe=IVF_NPROBE_384,
        rerank=pqm.PQ_RERANK_384,
    )


@register("compat_index_string_384", oracle=_compat_oracle(REFERENCE_DIM, table=_T))
def compat_index_string_384(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ECMA-262-faithful fixed-width key for every fixture row."""
    qv = _fixture_qvec(spark)
    src = knn.build_pivot_index(_fixture(spark), used_pivots(len(qv))[:1])
    return src.select(
        "vec_id", index_nr_to_string("idx0").alias("idx0_str")
    )


def _cosine_pairs_384_oracle() -> str:
    from javascript_vector_database_spark import oracle as osql
    from javascript_vector_database_spark.registry.ann_scale_queries import (
        _lsh_sql_bucket,
    )

    bucket = _lsh_sql_bucket("embedding", REFERENCE_DIM, bits=6)
    cos = (
        f"round({osql.sql_dot('a.embedding', 'b.embedding')}"
        " / (a.nrm * b.nrm), 6)"
    )
    return f"""
WITH side AS (
  SELECT vec_id, embedding, {bucket} AS blk,
         {osql.sql_l2_norm('embedding')} AS nrm
  FROM {_T}
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos_sim
FROM side a JOIN side b ON a.blk = b.blk AND a.vec_id < b.vec_id
WHERE {cos} >= 0.2
"""


@register("dedup_cosine_pairs_384", oracle=_cosine_pairs_384_oracle())
def dedup_cosine_pairs_384(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at reference geometry: the same
    hyperplane-LSH blocked self-join as `dedup_cosine_pairs`, with 6
    sign bits — at 384 dims random hyperplanes split the fixture's
    clusters finely (each plane cuts through cluster noise), so fewer
    bits keep blocking recall while the within-block pair count stays
    ~n^2/2^bits.  Dimension-agnostic operator + parameterized oracle."""
    from javascript_vector_database_spark.operators import dedup

    return dedup.cosine_near_dup_pairs(
        _fixture(spark), dim=REFERENCE_DIM, lsh_bits=6
    )


def _bq_384_oracle() -> str:
    from javascript_vector_database_spark.operators import quant
    from javascript_vector_database_spark.registry.ann_scale_queries import (
        _bq_search_oracle,
    )

    return _bq_search_oracle(
        REFERENCE_DIM, table=_T, qcte=_QCTE, rerank=quant.BQ_RERANK_384
    )


@register("ann_bq_384", oracle=_bq_384_oracle())
def ann_bq_384(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary quantization at reference geometry: 384 sign bits in 8
    packed words (1536 float bytes -> 48 BITS per vector), hamming
    probe + k*32 exact re-rank.  1-bit codes need the published
    10-30x oversampling regime — measured recall@10 avg over the
    bench's 5-query set: 0.52 at rerank=8, 0.68 at 16, **0.88 at the
    registered rerank=32**, 0.94 at 48 (operators/quant.py
    BQ_RERANK_384 notes; a single-query measurement reads 0.80 at
    rerank=8, which is why the default was re-measured on the full
    query set before registration).  Reported in bench extras beside
    SQ8/PQ so the quantizer family reads as one accuracy/cost curve."""
    from javascript_vector_database_spark.operators import quant

    return quant.bq_search(
        _fixture(spark), _fixture_qvec(spark), rerank=quant.BQ_RERANK_384
    )
