"""Deduplication operators for the training-data pipeline surface.

Strategies (each designed for 100 TB):

* ``exact_dedup``        — hash-groupBy on normalized text; one shuffle on
                           a 32-char key, map-side partial agg.
* ``minhash_signatures`` — word-shingle MinHash: ONE md5 per shingle ->
                           two 32-bit ints -> all H hashes by double
                           hashing (v1 + i*v2) mod P (Kirsch-
                           Mitzenmacher).  Table path = row-local explode
                           + H codegen'd ``min`` aggregates (map-side
                           partial collapses to one row/doc before the
                           shuffle); the equivalent single-``aggregate``
                           HOF fold (``minhash_sig``) is kept for Column
                           composition but HOFs evaluate interpreted —
                           measured 3-10x slower end-to-end.
* ``lsh_band_pairs``     — banding: group signature rows into B bands,
                           hash each band, self-join on (band_idx, band
                           hash) to get candidate pairs, verify with exact
                           shingle Jaccard.  The only shuffle is on short
                           band-hash keys; candidate pairs ≪ n².
* ``simhash``            — 16-bit SimHash from the same per-shingle ints
                           via one aggregate pass (bit-count accumulator
                           array), then weighted-majority finish.
* ``cosine_near_dup``    — embedding near-duplicate pairs, blocked on the
                           hyperplane-LSH sign bucket (2^bits cells) so
                           the self-join never goes quadratic; norms are
                           pre-projected so each pair costs ONE dot fold.

The reference itself has no dedup surface; its union-dedup Set
(reference src/search.ts:21,37) maps to ``dropDuplicates`` — used here and
in knn.  These operators are the SURVEY §7.7 extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from javascript_vector_database_spark.functions.text import word_tokens
from javascript_vector_database_spark.functions.vector import dot, l2_norm

DEFAULT_SHINGLE = 3
DEFAULT_HASHES = 8
DEFAULT_BANDS = 4  # rows-per-band = HASHES // BANDS


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# re-exported for compatibility; see tables.spread for the scale rationale
from javascript_vector_database_spark.tables import spread  # noqa: E402,F401


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups: md5 of the raw text, keep the min id as the
    canonical representative.  Output: (text_hash, canonical_id, n_dups)."""
    return (
        df.select(F.md5(_as_col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct text (the min-id row)."""
    w_hash = df.withColumn("__h", F.md5(_as_col(text_col)))
    keep = w_hash.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return w_hash.join(keep, ["__h", id_col], "inner").drop("__h")


# ---------------------------------------------------------------------------
# shingles + minhash
# ---------------------------------------------------------------------------


def shingles(text: Column | str, k: int = DEFAULT_SHINGLE) -> Column:
    """Distinct word k-grams as an array column, built by index-transform
    over the token array — no explode."""
    toks = word_tokens(text)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]
        ),
    )
    return F.when(n >= k, F.array_distinct(gram)).otherwise(
        F.array_distinct(F.array(F.array_join(toks, " ")))
    )


#: modulus for double-hashed MinHash values (Mersenne prime 2^31 - 1)
MINHASH_P = 2147483647


def shingle_hash_pairs(
    text: Column | str, shingle_k: int = DEFAULT_SHINGLE
) -> Column:
    """Per-shingle 64-bit material: ONE md5 per shingle, split into two
    32-bit ints (hex chars 1-8 and 9-16).  array<struct<v1,v2>>."""
    hs = F.transform(shingles(_as_col(text), shingle_k), lambda s: F.md5(s))
    return F.transform(
        hs,
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("v1"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("v2"),
        ),
    )


def minhash_sig(
    text: Column | str,
    num_hashes: int = DEFAULT_HASHES,
    shingle_k: int = DEFAULT_SHINGLE,
) -> Column:
    """All H min-hashes in ONE pass over the shingles: h_i(s) =
    (v1 + i*v2) mod P (Kirsch-Mitzenmacher double hashing; no overflow:
    v < 2^32, i < H so v1 + i*v2 < 2^36).  array<bigint> of length H."""
    salts = F.array(*[F.lit(i).cast("long") for i in range(num_hashes)])
    init = F.array_repeat(F.lit(MINHASH_P).cast("long"), num_hashes)
    return F.aggregate(
        shingle_hash_pairs(text, shingle_k),
        init,
        lambda acc, x: F.zip_with(
            acc, salts, lambda m, i: F.least(m, (x["v1"] + i * x["v2"]) % MINHASH_P)
        ),
    )


def exploded_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = DEFAULT_SHINGLE,
    out_col: str = "sh",
) -> DataFrame:
    """(id, sh): one row per shingle STRING, built with the same
    codegen-friendly sequence+getItem shape as
    :func:`exploded_shingle_hashes` (no interpreted HOF) — for operators
    that join on the gram text itself (e.g. decontamination).  Grams are
    NOT deduplicated per doc; aggregate-side dedup is cheaper than a
    row-local array_distinct HOF.

    Docs with fewer than ``shingle_k`` tokens are DROPPED (they have no
    k-grams) — matching the SQL-oracle gram expression, which NULLs out
    on them; the hash-side path (:func:`exploded_shingle_hashes`) instead
    keeps a whole-text fallback, a deliberate divergence covered by its
    own oracle + pytest guard."""
    toks = F.split(F.trim(F.lower(_as_col(text_col))), r"\s+")
    base = spread(df).select(F.col(id_col), toks.alias("__t"))
    base = base.where(F.size("__t") >= shingle_k)
    pos = F.explode(F.sequence(F.lit(0), F.size("__t") - shingle_k))
    ex = base.select(id_col, "__t", pos.alias("__i"))
    gram = F.concat_ws(
        " ", *[F.col("__t")[F.col("__i") + j] for j in range(shingle_k)]
    )
    return ex.select(id_col, gram.alias(out_col))


def exploded_shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = DEFAULT_SHINGLE,
    distinct: bool = False,
) -> DataFrame:
    """(id, v1, v2): one row per shingle, the two 32-bit ints of its md5.

    This is the shared front half of the aggregate-based MinHash/SimHash
    paths, built WITHOUT higher-order functions: HOFs evaluate
    interpreted (no whole-stage codegen) and measured 3-10x slower than
    this shape on the same data.  Here the shingle positions are exploded
    from a ``sequence`` and each gram is assembled by 0-based ``getItem``
    — everything stays inside codegen.  The explode is row-local (no
    shuffle) and each doc's shingles stay inside one partition, so the
    downstream per-doc aggregation partials collapse to one row per doc
    before anything crosses the wire.

    ``distinct=False`` keeps duplicate grams (MinHash's min is multiset-
    invariant, so dedup would be wasted work); ``distinct=True`` matches
    the reference construction's distinct-shingle set (needed by SimHash
    majorities) via a (id, v1, v2) aggregate whose in-partition partial
    does all the actual deduping."""
    toks = F.split(F.trim(F.lower(_as_col(text_col))), r"\s+")
    base = spread(df).select(F.col(id_col), toks.alias("__t"))
    pos = F.explode(
        F.sequence(F.lit(0), F.greatest(F.size("__t") - shingle_k, F.lit(0)))
    )
    ex = base.select(id_col, "__t", pos.alias("__i"))
    gram = F.when(
        F.size("__t") >= shingle_k,
        F.concat_ws(
            " ", *[F.col("__t")[F.col("__i") + j] for j in range(shingle_k)]
        ),
    ).otherwise(F.array_join("__t", " "))
    h = F.md5(gram)
    out = ex.select(
        id_col,
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("v1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("v2"),
    )
    if distinct:
        out = out.dropDuplicates([id_col, "v1", "v2"])
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_HASHES,
    shingle_k: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Per-document MinHash signature.  Output: (id, mh array<bigint>[H]).

    explode + H codegen'd ``min`` aggregates (see
    :func:`exploded_shingle_hashes`); the map-side partial agg reduces to
    one row per doc per partition, and the explode is row-local, so the
    only shuffle moves one short row per document.  Same values as the
    HOF fold :func:`minhash_sig` (identical double hashing) — the DuckDB
    oracle is unchanged."""
    ex = exploded_shingle_hashes(df, text_col, id_col, shingle_k)
    return _minhash_from_exploded(ex, id_col, num_hashes)


def _minhash_from_exploded(
    ex: DataFrame, id_col: str, num_hashes: int = DEFAULT_HASHES
) -> DataFrame:
    """MinHash aggregation half of :func:`minhash_signatures`, reusable
    over a precomputed (id, v1, v2) shingle-hash table (multipass shares
    one such table across its passes)."""
    mins = ex.groupBy(id_col).agg(
        *[
            F.min((F.col("v1") + i * F.col("v2")) % MINHASH_P).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        id_col, F.array(*[f"__m{i}" for i in range(num_hashes)]).alias("mh")
    )


#: per-(band, band-hash) contribution cap: a bucket of m docs otherwise
#: emits m^2/2 candidate pairs out of ONE AQE-unsplittable join cell — a
#: mass-duplicated crawl (boilerplate pages, mirrored sites) hits this
#: even after exact-dup collapse.  64 keeps recall for real near-dup
#: neighborhoods (bucket population is tiny under uniform hashing) while
#: bounding the worst bucket to 64^2/2 pairs.
DEFAULT_BUCKET_CAP = 64


def lsh_band_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = DEFAULT_SHINGLE,
    jaccard_threshold: float | None = None,
    collapse_exact: bool = True,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding, optionally verified
    with exact shingle Jaccard.  Output: (id_a, id_b[, jaccard]) with
    id_a < id_b, distinct.

    Hot-bucket guards (both deterministic, both mirrored bit-for-bit in
    the DuckDB oracle):

    * ``collapse_exact``: byte-identical texts are collapsed to their
      min-id representative BEFORE banding; each exact-dup group of size m
      contributes m-1 star edges (rep -> member) instead of an m^2/2
      clique, and only representatives enter the band self-join.  Exact
      copies share a signature anyway, so banding loses nothing.
      Connectivity of the duplicate graph is preserved exactly.
    * ``bucket_cap``: within each (band, band-hash) bucket only the
      ``bucket_cap`` smallest ids pair up (a row_number rank filter —
      Catalyst's InferWindowGroupLimit applies the cap map-side, so
      oversized buckets are trimmed BEFORE the join's exchange).  Without
      it, one boilerplate bucket of m docs emits m^2/2 candidates from a
      single AQE-unsplittable join cell.

    tests/test_text_dedup.py::test_lsh_hot_bucket_guard pins both on a
    degenerate 10k-copies corpus."""
    from pyspark.sql.window import Window

    src = spread(df).select(F.col(id_col), _as_col(text_col).alias("__text"))
    star: DataFrame | None = None
    if collapse_exact:
        # one window shuffle on the text hash: rep = min id per exact group
        wth = Window.partitionBy("__th")
        withh = src.withColumn("__th", F.md5(F.col("__text"))).withColumn(
            "__rep", F.min(id_col).over(wth)
        )
        star = withh.where(F.col(id_col) != F.col("__rep")).select(
            F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b")
        )
        src = withh.where(F.col(id_col) == F.col("__rep")).select(
            id_col, "__text"
        )
    # band keys are plain projections over the aggregated signature —
    # the whole pipeline (explode -> min-agg -> md5 band hash -> explode)
    # stays inside whole-stage codegen; no interpreted HOF anywhere
    sigs = minhash_signatures(src, "__text", id_col, num_hashes, shingle_k)
    pairs = _band_pairs_from_sigs(
        sigs, id_col, num_hashes, bands, bucket_cap
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    pairs = pairs.distinct()
    if jaccard_threshold is None:
        return pairs
    sh = df.select(
        F.col(id_col), shingles(_as_col(text_col), shingle_k).alias("sh")
    )
    pairs = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return pairs


def lsh_pairs_from_sig_table(
    sig_table: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_HASHES,
    bands: int = DEFAULT_BANDS,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Pair derivation over a MAINTAINED (id, th, mh) signature table —
    the query-time half of :func:`lsh_band_pairs` when the per-document
    work (text hash + MinHash signature, both deterministic pure
    functions of the text) was done at INGEST and MERGEd into a managed
    table.  Replays the identical two hot-bucket guards over the stored
    rows: exact-dup star collapse on ``th`` (rows with a NULL ``mh`` —
    shingle-less docs — still participate here, exactly as they enter
    ``lsh_band_pairs``'s collapse before signatures exist), then capped
    banding over the surviving representatives' stored signatures.
    Returns the identical (id_a, id_b) set as ``lsh_band_pairs`` over
    the same corpus; certified by ``stream_lsh_index_live`` against the
    batch row's DuckDB oracle."""
    from pyspark.sql.window import Window

    wth = Window.partitionBy("th")
    withrep = sig_table.select(id_col, "th", "mh").withColumn(
        "__rep", F.min(id_col).over(wth)
    )
    star = withrep.where(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b")
    )
    reps = (
        withrep.where(F.col(id_col) == F.col("__rep"))
        .where(F.col("mh").isNotNull())
        .select(id_col, "mh")
    )
    pairs = _band_pairs_from_sigs(reps, id_col, num_hashes, bands, bucket_cap)
    return pairs.unionByName(star).distinct()


def _band_pairs_from_sigs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = DEFAULT_HASHES,
    bands: int = DEFAULT_BANDS,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Banding + capped bucket self-join half of :func:`lsh_band_pairs`,
    reusable over a precomputed (id, mh) signature table.  Output:
    (id_a, id_b), NOT distinct (caller unions/dedups)."""
    from pyspark.sql.window import Window

    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at("mh", b * rows_per_band + r + 1).cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    bands_df = sigs.select(
        F.col(id_col), F.explode(band_structs).alias("bk")
    ).select(id_col, "bk.band", "bk.bh")
    if bucket_cap is not None:
        wb = Window.partitionBy("band", "bh").orderBy(F.col(id_col).asc())
        bands_df = (
            bands_df.withColumn("__bn", F.row_number().over(wb))
            .where(F.col("__bn") <= bucket_cap)
            .drop("__bn")
        )
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = DEFAULT_SHINGLE,
    threshold: float = 0.8,
) -> DataFrame:
    """Overlap-coefficient (containment) near-dup pairs:
    ``|S(a) ∩ S(b)| / min(|S(a)|, |S(b)|) >= threshold`` over distinct
    k-shingle sets — the SUB-document duplication detector (a document
    embedded verbatim inside a larger one scores ~1.0 here while its
    Jaccard shrinks with the size ratio; Broder's containment measure,
    the shape train/eval decontamination and quote/boilerplate-inclusion
    sweeps need).  Output: (id_a, id_b, overlap_coef), id_a < id_b.

    Scale shape: exact-duplicate texts collapse to one representative
    first (the multipass discipline — mass-duplicated corpora would
    otherwise multiply every posting), then an inverted-index join on
    the 64-bit shingle hashes pairs ONLY documents that actually share a
    shingle (candidate volume is sum over shingles of df^2 on the
    UNIQUE-text corpus, no caller-supplied block key), and per-pair
    intersection counts meet the per-doc set sizes for the coefficient.
    Hash-set counts stand in for string-set counts (64 bits; the
    jaccard_prefix_pairs collision math).  The DuckDB oracle runs the
    textbook quadratic list_intersect over the same representatives."""
    from pyspark.sql.window import Window

    src = spread(df).select(F.col(id_col), _as_col(text_col).alias("__text"))
    wth = Window.partitionBy("__th")
    withh = src.withColumn("__th", F.md5("__text")).withColumn(
        "__rep", F.min(id_col).over(wth)
    )
    reps = withh.where(F.col(id_col) == F.col("__rep")).select(
        id_col, "__text"
    )
    # three consumers (sizes + both posting sides) — materialize once
    ex = exploded_shingle_hashes(
        reps, "__text", id_col, shingle_k, distinct=True
    ).localCheckpoint(eager=True)
    sizes = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__sz")
    )
    a = ex.select(F.col(id_col).alias("id_a"), "v1", "v2")
    b = ex.select(F.col(id_col).alias("id_b"), "v1", "v2")
    inter = (
        a.join(b, ["v1", "v2"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__sz").alias("__sa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__sz").alias("__sb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "overlap_coef",
            F.round(F.col("__c") / F.least("__sa", "__sb"), 6),
        )
        .where(F.col("overlap_coef") >= threshold)
        .select("id_a", "id_b", "overlap_coef")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = DEFAULT_SHINGLE,
    threshold: float = 0.1,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs.  Quadratic unless blocked —
    pass ``block_col`` (e.g. a source/label/LSH bucket) at scale, or use
    :func:`jaccard_prefix_pairs`, whose rarity-prefix blocking needs no
    caller-supplied key and returns the identical result."""
    sh = spread(df).select(
        F.col(id_col),
        *( [F.col(block_col)] if block_col else [] ),
        shingles(_as_col(text_col), shingle_k).alias("sh"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    return (
        a.join(b, cond)
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size(F.array_union("a.sh", "b.sh")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "jaccard",
        )
    )


def minhash_jaccard_calibration(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_HASHES,
    shingle_k: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Sketch-vs-truth calibration for the MinHash estimator, measured
    where it matters: on the CANDIDATE PAIRS LSH banding actually emits
    (:func:`lsh_band_pairs` — exact-dup star collapse, per-bucket cap,
    the scale-proven shape).  For each candidate pair, the exact
    shingle Jaccard NEXT TO the signature estimate (agreeing slots /
    H) — including the low-similarity false positives banding lets
    through, which is precisely the calibration signal a pipeline owner
    needs to pick a banding threshold.  Both scores ride as exact
    BIGINT micros: ``floor(|I| * 1e6 / |U|)`` (the quotient's
    fractional part is >= 1/|U|, far above double ulp) and
    ``floor(agree * 1e6 / H)``.  Output: (id_a, id_b, exact_micro,
    est_micro, err_micro).

    Cost shape: one shingle+signature scan over the corpus (row-local,
    checkpointed once for the two pair sides), the banding join from
    lsh_band_pairs, then O(shingles + H) per CANDIDATE — linear in the
    candidate count, never a block-quadratic self-join.  (The first
    version self-joined per source block and sat in a single
    array_intersect task for 19+ minutes on the 10x mass-duplicated
    corpus — candidate-bounded is the only shape that survives.)"""
    pairs = lsh_band_pairs(
        df, text_col, id_col, num_hashes=num_hashes, shingle_k=shingle_k
    )
    per = (
        spread(df)
        .select(
            F.col(id_col),
            shingles(_as_col(text_col), shingle_k).alias("sh"),
        )
        .join(minhash_signatures(df, text_col, id_col, num_hashes, shingle_k), id_col)
        .localCheckpoint()
    )
    a = per.select(
        F.col(id_col).alias("id_a"),
        F.col("sh").alias("__sha"),
        F.col("mh").alias("__mha"),
    )
    b = per.select(
        F.col(id_col).alias("id_b"),
        F.col("sh").alias("__shb"),
        F.col("mh").alias("__mhb"),
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("__mha"),
            F.col("__mhb"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.floor(
                F.size(F.array_intersect("__sha", "__shb")) * F.lit(1000000.0)
                / F.size(F.array_union("__sha", "__shb"))
            )
            .cast("long")
            .alias("exact_micro"),
            F.floor(agree * F.lit(1000000.0) / F.lit(num_hashes))
            .cast("long")
            .alias("est_micro"),
        )
        .withColumn(
            "err_micro", (F.col("est_micro") - F.col("exact_micro")).cast("long")
        )
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash(text: Column | str, bits: int = SIMHASH_BITS, shingle_k: int = DEFAULT_SHINGLE) -> Column:
    """SimHash over shingle hashes: bit b of the result is 1 iff the
    majority of shingles have bit b set in their 32-bit hash (v1 of the
    md5 digest).  ONE aggregate pass: the accumulator is a per-bit
    counter array + the shingle count; the finish step takes the weighted
    majority.  The bit test is pure integer (``v & 2^b``) — no float
    division in the interpreted HOF hot path; the DuckDB oracle's
    ``(v // 2^b) % 2`` on BIGINT computes the identical bit."""
    masks = F.array(*[F.lit(2**b).cast("long") for b in range(bits)])
    weights = F.array(*[F.lit(2 ** (bits - 1 - b)).cast("long") for b in range(bits)])
    init = F.struct(
        F.array_repeat(F.lit(0).cast("long"), bits).alias("cnt"),
        F.lit(0).cast("long").alias("n"),
    )
    return F.aggregate(
        shingle_hash_pairs(text, shingle_k),
        init,
        lambda acc, x: F.struct(
            F.zip_with(
                acc["cnt"],
                masks,
                lambda c, m: c
                + F.when(x["v1"].bitwiseAND(m) != 0, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
            ).alias("cnt"),
            (acc["n"] + 1).alias("n"),
        ),
        lambda acc: F.aggregate(
            F.zip_with(
                acc["cnt"],
                weights,
                lambda c, w: F.when(c * 2 > acc["n"], w).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        ),
    )


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    shingle_k: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Per-document SimHash via explode + codegen'd bit-count aggregates
    (same values as the HOF fold :func:`simhash`; same scale shape as
    :func:`minhash_signatures` — one short row per doc crosses the
    shuffle).  ``distinct=True`` because the bit majority is over the
    distinct-shingle set (duplicates would bias the counts)."""
    ex = exploded_shingle_hashes(df, text_col, id_col, shingle_k, distinct=True)
    return _simhash_from_exploded(ex, id_col, bits)


def _simhash_from_exploded(
    ex: DataFrame, id_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """Bit-majority half of :func:`simhash_table`, reusable over a
    precomputed DISTINCT (id, v1, v2) shingle-hash table."""
    counted = ex.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright("v1", b).bitwiseAND(F.lit(1))).alias(f"__c{b}")
            for b in range(bits)
        ],
    )
    weighted = [
        F.when(F.col(f"__c{b}") * 2 > F.col("__n"), F.lit(2 ** (bits - 1 - b)))
        .otherwise(F.lit(0))
        .cast("long")
        for b in range(bits)
    ]
    out = weighted[0]
    for w in weighted[1:]:
        out = out + w
    return counted.select(id_col, out.alias("simhash"))


# ---------------------------------------------------------------------------
# duplicate clusters (connected components over candidate pairs)
# ---------------------------------------------------------------------------


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over candidate-duplicate pairs: every doc in a
    component gets ``cluster_id`` = the component's minimum doc id (the
    canonical representative a curation pipeline keeps).  Singletons (docs
    in no pair) are not emitted.  Output: (doc_id, cluster_id).

    Iterative min-label propagation with a fixpoint early-exit: labels
    start as each node's own id; each round every node takes the min of
    its own and its neighbors' labels — one shuffle per round (groupBy
    node), O(component diameter) rounds.  LSH duplicate clusters are
    cliquish (diameter 2-3 through a shared band), so rounds stay small;
    for adversarial long-path graphs at 100 TB the alternating
    large-star/small-star formulation bounds rounds to O(log n) — this
    driver loop keeps the simpler shape and logs a hard ``max_iter`` so
    the cap is never silent.  ``localCheckpoint`` truncates the growing
    plan lineage each round (the classic iterative-DataFrame footgun).

    r14 round shape (same labels, fewer exchanges):

    * the INIT is the first propagation round fused into one grouped
      min — label0(v) = min(v, neighbors(v)) — for the same single
      shuffle the old identity init paid, saving one full round;
    * each round is ONE edge join + ONE union-grouped min (3 exchanges:
      labels to the join, the edge side, the partial-agged group) —
      the old shape re-joined labels onto the neighbor mins (5).  The
      self leg carries the old label through the aggregation, so the
      fixpoint probe (min label undercuts old label — valid for ANY id
      type) still rides the materializing checkpoint job as an
      Observation;
    * no ``distinct`` on the symmetric edge list: a grouped min is
      multiset-invariant, every candidate-pair generator in the repo
      already emits distinct (id_a < id_b) pairs, and the union of the
      two orientations of a distinct oriented list is distinct by
      construction — the old dedup shuffle bought nothing."""
    from pyspark.sql import Observation

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # materialize the edge list ONCE: every round joins it, and without
    # this each round would recompute the (possibly expensive) candidate-
    # pair pipeline feeding `pairs` from scratch
    sym = sym.localCheckpoint()
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("__mn"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__mn")).alias("cluster_id"),
        )
        .localCheckpoint()
    )
    lbl_type = labels.schema["cluster_id"].dataType
    for it in range(max_iter):
        contrib = sym.join(
            labels.select(
                F.col("node").alias("src"), F.col("cluster_id").alias("lbl")
            ).hint("shuffle_hash"),
            "src",
        ).select(
            F.col("dst").alias("node"),
            "lbl",
            F.lit(None).cast(lbl_type).alias("__own"),
        )
        own = labels.select(
            "node",
            F.col("cluster_id").alias("lbl"),
            F.col("cluster_id").alias("__own"),
        )
        # the fixpoint probe rides the SAME job that materializes the
        # round's labels (Observation published by the checkpoint):
        # exactly one __own per node (labels is keyed), so min(__own)
        # IS the old label and a changed row is min(lbl) < it.
        # coalesce: sum over ZERO rows publishes NULL, and an empty
        # candidate-pair input must converge on round 0, not spin to
        # the max_iter RuntimeError
        obs = Observation(f"cc_round_{it}")
        upd = (
            contrib.unionByName(own)
            .groupBy("node")
            .agg(
                F.min("lbl").alias("cluster_id"),
                F.min("__own").alias("__old"),
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum(
                        (F.col("cluster_id") < F.col("__old")).cast("long")
                    ),
                    F.lit(0),
                ).alias("n_changed"),
            )
        )
        labels = upd.drop("__old").localCheckpoint()
        if obs.get["n_changed"] == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds — "
            "component diameter exceeds the cap; raise max_iter or switch "
            "to the large-star/small-star formulation"
        )
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


def cosine_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.2,
    lsh_bits: int = 8,
    lsh_seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked so the self-join is
    per-block.  Output: (id_a, id_b, cos_sim).

    Scale design (this is the 100 TB shape, not just the test shape):

    * **Fine-grained blocking.** Default block key is the hyperplane-LSH
      sign bucket (``ann_scale.lsh_bucket``, 2^bits cells) — within-block
      pair count stays near-linear in n because bucket population is
      n / 2^bits on average.  A coarse key (e.g. a 10-value label) makes
      the join quadratic-within-block; pass ``block_col`` only when the
      column really is fine-grained.
    * **One fold per pair.** The L2 norm is pre-projected ONCE per row on
      the scan side; the per-pair work is a single ``dot`` fold —
      higher-order array functions are interpreted (no codegen/CSE), so
      keeping the join/projection down to one fold matters.
    * **No cosine in the join condition.** The join matches on the short
      block key only; cos_sim is computed after, so the hash join stays a
      cheap key-equality probe.
    * **spread() the scan.** A small single-row-group parquet file is one
      task no matter how many cores; at 100 TB this is a no-op.
    """
    if block_col is None:
        # local import: ann_scale depends on knn, not on dedup — no cycle
        from javascript_vector_database_spark.operators.ann_scale import (
            hyperplanes,
            lsh_bucket,
        )

        if dim is None:
            # probe a non-null vector (a nullable first ROW must not be
            # read as "table is empty")
            head = df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
            if head is None:
                # no usable vectors: no pairs; keep the table's id type
                return df.select(
                    F.col(id_col).alias("id_a"),
                    F.col(id_col).alias("id_b"),
                    F.lit(0.0).alias("cos_sim"),
                ).limit(0)
            dim = len(head[0])
        planes = hyperplanes(dim, lsh_bits, lsh_seed)
        block = lsh_bucket(F.col(vec_col), planes)
    else:
        block = F.col(block_col)
    side = spread(df).select(
        F.col(id_col),
        F.col(vec_col),
        block.alias("__blk"),
        l2_norm(F.col(vec_col)).alias("__nrm"),
    )
    a, b = side.alias("a"), side.alias("b")
    cond = (F.col("a.__blk") == F.col("b.__blk")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
                / (F.col("a.__nrm") * F.col("b.__nrm")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def cosine_batch_vs_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.2,
    top_n: int = 1,
    lsh_bits: int = 8,
    lsh_seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Cross-table near-dup gate: for each BATCH row, its ``top_n`` best
    CORPUS matches with cosine >= threshold — the "dedup the incoming
    crawl against the existing training set" operation (the reference only
    self-dedups one collection; this is its pipeline generalization).
    Output: (batch_id, corpus_id, cos_sim).

    Same 100 TB shape as :func:`cosine_near_dup_pairs`: both sides bucket
    on the SAME seeded hyperplane-LSH key, the join matches bucket
    equality only (near-linear candidates, no |batch| x |corpus| blowup),
    norms are pre-projected so each candidate pair costs one dot fold, and
    the per-batch-row top-n is a window over the few candidates — not a
    global sort."""
    from javascript_vector_database_spark.operators.ann_scale import (
        hyperplanes,
        lsh_bucket,
    )
    from javascript_vector_database_spark.operators.knn import top_n_per_query

    if dim is None:
        head = batch.where(F.col(vec_col).isNotNull()).select(vec_col).first()
        if head is None:
            return batch.select(
                F.col(id_col).alias("batch_id"),
                F.col(id_col).alias("corpus_id"),
                F.lit(0.0).alias("cos_sim"),
            ).limit(0)
        dim = len(head[0])
    planes = hyperplanes(dim, lsh_bits, lsh_seed)

    def side(df: DataFrame, tag: str) -> DataFrame:
        return spread(df).select(
            F.col(id_col).alias(f"{tag}_id"),
            F.col(vec_col).alias(f"{tag}_vec"),
            lsh_bucket(F.col(vec_col), planes).alias(f"{tag}_blk"),
            l2_norm(F.col(vec_col)).alias(f"{tag}_nrm"),
        )

    scored = (
        side(batch, "batch")
        .join(side(corpus, "corpus"), F.col("batch_blk") == F.col("corpus_blk"))
        .select(
            "batch_id",
            "corpus_id",
            F.round(
                dot(F.col("batch_vec"), F.col("corpus_vec"))
                / (F.col("batch_nrm") * F.col("corpus_nrm")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )
    return top_n_per_query(
        scored, top_n, "batch_id",
        F.col("cos_sim").desc(), F.col("corpus_id"),
    )


def duplicate_clusters_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): converges in O(log n) rounds on ANY graph shape — the
    robust-scale alternative to :func:`duplicate_clusters`' min-label
    propagation, whose round count is the component DIAMETER (fine for
    cliquish LSH duplicate groups, pathological for long chains).
    Same contract: (doc_id, cluster_id = component min id), singletons
    not emitted.

    Each round is two groupBy-min + join passes over the current edge
    set; the edge set only shrinks toward the star forest, and
    ``localCheckpoint`` truncates lineage per round.  Fixpoint = the
    oriented edge set is unchanged (exact anti-join probe both ways)."""
    from pyspark.sql import Observation

    e0 = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).where(
        F.col(id_a) != F.col(id_b)
    )
    # canonical orientation (hi, lo): u > v
    edges = (
        e0.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    for it in range(max_iter):
        # -- large-star: for every node x, m = min over ALL its neighbors
        # and itself; connect each neighbor GREATER than x to m
        nbrs = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m_all = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("__mn", "u").alias("m"))
        )
        large = (
            nbrs.join(m_all.hint("shuffle_hash"), "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: per node x over its SMALLER-or-equal neighbors,
        # m = min; connect those neighbors (and x) to m
        m_small = large.groupBy("u").agg(F.min("v").alias("m"))
        joined = large.join(m_small.hint("shuffle_hash"), "u")
        small = (
            joined.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(joined.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # fixpoint: oriented edge sets identical — the symmetric-
        # difference count is OBSERVED on the full-outer join whose
        # matched side IS the next round's edge set, so one job per
        # round materializes the new edges AND publishes the diff
        # (the old shape checkpointed small, then ran a second
        # full-outer count job over the two frames)
        obs = Observation(f"star_round_{it}")
        merged = (
            small.withColumn("__a", F.lit(1))
            .join(
                edges.withColumn("__b", F.lit(1)), ["u", "v"], "full_outer"
            )
            .observe(
                obs,
                F.coalesce(
                    F.sum(
                        (F.col("__a").isNull() | F.col("__b").isNull())
                        .cast("long")
                    ),
                    F.lit(0),
                ).alias("n_diff"),
            )
        )
        edges = (
            merged.where(F.col("__a") == 1)
            .select("u", "v")
            .localCheckpoint()
        )
        if obs.get["n_diff"] == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters_star did not converge in {max_iter} rounds"
        )
    # star forest: every edge points node -> component root; roots appear
    # only on the right side
    roots = edges.select(F.col("v").alias("node")).distinct().withColumn(
        "cluster_id", F.col("node")
    )
    members = edges.select(F.col("u").alias("node"), F.col("v").alias("cluster_id"))
    return members.unionByName(roots).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the MOSS
# algorithm): the real rolling-hash document fingerprint
# ---------------------------------------------------------------------------

WINNOW_K = 5  # k-gram length (tokens)
WINNOW_W = 4  # winnowing window (positions)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = WINNOW_K,
    window_w: int = WINNOW_W,
) -> DataFrame:
    """Per-doc winnowing fingerprint set: hash every k-gram, slide a
    w-position window, keep each window's MINIMUM hash; the distinct
    minima are the fingerprints.  Guarantees of the scheme: any shared
    run of >= w+k-1 tokens between two documents shares at least one
    fingerprint (detection threshold), while storage is ~2/(w+1) of the
    gram count — the partial-overlap detector that whole-document
    hashing (functions/text.fingerprint) and MinHash (whole-doc
    similarity) don't give.

    Output: one row per (id, fp) — join-ready for shared-fingerprint
    overlap mining, same blocked-join shape as decontamination.

    Plan: the gram explode is row-local (sequence + getItem, codegen);
    the sliding min is ONE window pass ordered by position within each
    doc — the only shuffle is the per-doc repartition, and everything
    is 60-bit integer arithmetic, so the oracle match is exact with no
    float discipline needed.  Docs shorter than w full windows keep one
    whole-doc-min fingerprint so no doc vanishes."""
    from pyspark.sql.window import Window

    toks = F.split(F.trim(F.lower(_as_col(text_col))), r"\s+")
    base = spread(df).select(F.col(id_col), toks.alias("__t"))
    pos = F.explode(
        F.sequence(F.lit(0), F.greatest(F.size("__t") - shingle_k, F.lit(0)))
    )
    ex = base.select(id_col, "__t", pos.alias("__i"))
    gram = F.when(
        F.size("__t") >= shingle_k,
        F.concat_ws(
            " ", *[F.col("__t")[F.col("__i") + j] for j in range(shingle_k)]
        ),
    ).otherwise(F.array_join("__t", " "))
    h = F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")
    grams = ex.select(id_col, "__i", h.alias("__h"))
    wf = Window.partitionBy(id_col).orderBy(F.col("__i").asc())
    win_min = F.min("__h").over(wf.rowsBetween(0, window_w - 1))
    max_i = F.max("__i").over(Window.partitionBy(id_col))
    sel = (
        grams.select(
            id_col,
            F.col("__i"),
            win_min.alias("__m"),
            max_i.alias("__mx"),
        )
        .where(
            (F.col("__i") <= F.col("__mx") - (window_w - 1))
            | ((F.col("__mx") < window_w - 1) & (F.col("__i") == 0))
        )
        .select(id_col, F.col("__m").alias("fp"))
        .distinct()
    )
    return sel


def sql_winnow_fingerprints(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = WINNOW_K,
    window_w: int = WINNOW_W,
) -> str:
    """DuckDB oracle: same grams, same 60-bit hash, same full-window
    sliding min and short-doc fallback."""
    toks = f"regexp_split_to_array(trim(lower({text_col})), '\\s+')"
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(shingle_k))
    return f"""
WITH base AS (SELECT {id_col}, {toks} AS toks FROM {table}),
ex AS (
  SELECT {id_col}, i - 1 AS i,
         CASE WHEN len(toks) >= {shingle_k} THEN {gram}
              ELSE array_to_string(toks, ' ') END AS g
  FROM base,
       LATERAL unnest(range(1, greatest(len(toks) - {shingle_k - 1}, 1) + 1))
         AS t(i)
),
grams AS (
  SELECT {id_col}, i,
         ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM ex
),
sel AS (
  SELECT {id_col}, i,
         min(h) OVER (PARTITION BY {id_col} ORDER BY i ASC
                      ROWS BETWEEN CURRENT ROW AND {window_w - 1} FOLLOWING)
           AS m,
         max(i) OVER (PARTITION BY {id_col}) AS mx
  FROM grams
)
SELECT DISTINCT {id_col}, m AS fp
FROM sel
WHERE i <= mx - {window_w - 1} OR (mx < {window_w - 1} AND i = 0)
"""


#: per-fingerprint contribution cap for overlap pairing — same guard as
#: the LSH band join (DEFAULT_BUCKET_CAP): a boilerplate fingerprint in m
#: docs would otherwise emit m^2/2 pairs from one join cell
WINNOW_FP_CAP = 64


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 2,
    shingle_k: int = WINNOW_K,
    window_w: int = WINNOW_W,
    fp_cap: int | None = WINNOW_FP_CAP,
) -> DataFrame:
    """Partial-overlap candidate pairs: docs sharing >= ``min_shared``
    winnowing fingerprints (id_a < id_b, with the shared count).  The
    MOSS report shape — catches partial copies (a paragraph lifted into
    an otherwise-different page) that whole-doc MinHash similarity
    dilutes below threshold.

    Same scale discipline as the LSH band join: the self-join key is the
    fingerprint, and each fingerprint contributes only its ``fp_cap``
    smallest ids (row_number rank filter, applied map-side via
    InferWindowGroupLimit), so a boilerplate fingerprint can't emit a
    quadratic join cell."""
    from pyspark.sql.window import Window

    fps = winnow_fingerprints(df, text_col, id_col, shingle_k, window_w)
    if fp_cap is not None:
        wb = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
        fps = (
            fps.withColumn("__rn", F.row_number().over(wb))
            .where(F.col("__rn") <= fp_cap)
            .drop("__rn")
        )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def sql_winnow_overlap_pairs(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 2,
    shingle_k: int = WINNOW_K,
    window_w: int = WINNOW_W,
    fp_cap: int | None = WINNOW_FP_CAP,
) -> str:
    """DuckDB oracle: same fingerprints, same per-fp cap, same pairing."""
    fps = sql_winnow_fingerprints(table, text_col, id_col, shingle_k, window_w)
    cap = ""
    if fp_cap is not None:
        cap = f""",
capped AS (
  SELECT {id_col}, fp FROM (
    SELECT {id_col}, fp,
           row_number() OVER (PARTITION BY fp ORDER BY {id_col} ASC) AS rn
    FROM fps
  ) WHERE rn <= {fp_cap}
)"""
    src = "capped" if fp_cap is not None else "fps"
    return f"""
WITH fps AS ({fps}){cap}
SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM {src} a JOIN {src} b
  ON a.fp = b.fp AND a.{id_col} < b.{id_col}
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


# ---------------------------------------------------------------------------
# prefix-filtered set-similarity join (PPJoin-style, Chaudhuri ICDE'06)
# ---------------------------------------------------------------------------


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = DEFAULT_SHINGLE,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """Exact shingle-Jaccard pairs >= t_num/t_den WITHOUT a caller-supplied
    block key — the scale answer to :func:`ngram_jaccard_pairs`'s
    documented "quadratic unless blocked" caveat.

    Three stacked guards, ALL lossless (the result equals the quadratic
    join, which is what the oracle runs):

    * **exact-dup collapse**: byte-identical texts are collapsed to their
      min-id representative and only UNIQUE texts enter the expensive
      prefix join; afterwards rep-level results expand back — the intra-
      group cliques at jaccard 1.0 and, for every matched rep pair, the
      members' cross products at the rep pair's jaccard (identical text
      => identical gram set).  The expansion is output-sized, so a
      mass-duplicated crawl pays for its (inherently quadratic-in-copies)
      OUTPUT but never for candidate generation — without this, a 10x-
      duplicated corpus multiplies every gram's df by 10 and candidates
      by 100 (measured: 168s -> ~20s on the bench's 10x scale-up).
    * **prefix filtering** (PPJoin, Chaudhuri ICDE'06): order every doc's
      distinct shingles by global rarity (df asc, gram asc) and keep the
      first ``p = L - ceil(t*L) + 1``.  Sets with Jaccard >= t share
      >= ceil(t*L) elements, which cannot all avoid the prefix — so
      equality on ONE prefix gram is a lossless blocking key.  Prefix
      grams are each doc's RAREST, the opposite tail from boilerplate.
    * **length filter**: Jaccard >= t forces t*max(La,Lb) <= min(La,Lb);
      the integer inequality prunes cross-size candidates in the join
      condition itself.

    All thresholds are exact integer fractions (prefix length, length
    filter, and the final inter*den >= num*union gate), so no engine
    disagrees on a boundary pair.  Verification is row-local
    array_intersect on surviving candidates only.

    Grams travel as 60-bit md5 fingerprints (hex chars 1-15 -> BIGINT,
    the same construction as the winnowing/KMV pipelines, mirrored
    exactly in the oracle): the gram shuffle and the verify arrays carry
    8-byte longs instead of ~20-byte strings, and the intersect compares
    integers.  Jaccard over fingerprints differs from string-gram
    Jaccard only on a 60-bit collision — expected colliding gram pairs
    ~= G^2/2^61 for G distinct grams (~3e-8 here; at 10^12 grams some
    collisions exist but each shifts one pair's jaccard by ~1/|union|).
    Both engines hash identically, so they agree bit-for-bit on every
    input regardless."""
    from pyspark.sql.window import Window

    # --- exact-dup collapse: unique texts only, remember the groups ----
    src = spread(df).select(F.col(id_col), _as_col(text_col).alias("__text"))
    wth = Window.partitionBy("__th")
    withh = src.withColumn("__th", F.md5(F.col("__text"))).withColumn(
        "__rep", F.min(id_col).over(wth)
    )
    members = withh.select(
        F.col("__rep").alias("rep"), F.col(id_col).alias("member")
    ).localCheckpoint()
    reps = (
        withh.where(F.col(id_col) == F.col("__rep"))
        .select(F.col(id_col).alias("__rid"), "__text")
    )
    # re-spread BEFORE the CPU-heavy shingle projection: AQE coalesces
    # the exact-collapse window's shuffle by BYTE size, and unique-doc
    # text is small enough to land in very few partitions (measured: ONE
    # at sf0.1 → the shingle stage ran single-threaded, 8.5s vs 0.9s).
    # Shingling inflates each row ~10x, so size-based coalescing is the
    # wrong signal either way — at any scale the k-gram build wants the
    # full task fan-out, and its output would overflow a byte-coalesced
    # partition's memory budget.
    from javascript_vector_database_spark.session import (
        shuffle_partitions_or_default,
    )

    n_part = shuffle_partitions_or_default(df.sparkSession)
    reps = reps.repartition(n_part, F.col("__rid"))

    # --- prefix join over representatives -----------------------------
    # materialized ONCE: three consumers (the exploded gram table and the
    # two verify sides) would otherwise each re-run the exact-collapse
    # window + shingling over the full corpus text
    h60 = F.array_distinct(
        F.transform(
            shingles(F.col("__text"), shingle_k),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                "long"
            ),
        )
    )
    g = reps.select(F.col("__rid"), h60.alias("sh")).localCheckpoint()
    rep_pairs = _prefix_rep_pairs(g, t_num, t_den)

    # --- expand back to member level (output-sized work) ---------------
    # (a) intra-group cliques: identical texts pair at jaccard 1.0
    m1 = members.select("rep", F.col("member").alias("id_a"))
    m2 = members.select("rep", F.col("member").alias("id_b"))
    intra = (
        m1.join(m2, "rep")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    # (b) inter-group: every member of ra pairs with every member of rb
    # at the rep pair's jaccard; normalize order afterwards
    cross = (
        rep_pairs.join(
            members.select(F.col("rep").alias("ra"), F.col("member").alias("ma")),
            "ra",
        )
        .join(
            members.select(F.col("rep").alias("rb"), F.col("member").alias("mb")),
            "rb",
        )
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "jaccard",
        )
    )
    return intra.unionByName(cross)


def _prefix_rep_pairs(
    g: DataFrame, t_num: int = 1, t_den: int = 2
) -> DataFrame:
    """Prefix-filter + verify half of :func:`jaccard_prefix_pairs` over a
    precomputed (``__rid``, ``sh`` array<bigint>) distinct-gram table of
    UNIQUE texts.  Output: (ra, rb, jaccard) rep-level pairs."""
    from pyspark.sql.window import Window

    ex = g.select("__rid", F.explode("sh").alias("g"))
    dfreq = ex.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("gdf"))
    w = Window.partitionBy("__rid").orderBy(F.col("gdf").asc(), F.col("g").asc())
    ranked = ex.join(dfreq, "g").select(
        "__rid",
        "g",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("__rid")).alias("L"),
    )
    pref = ranked.where(
        F.col("r")
        <= F.col("L") - F.expr(f"({t_num} * L + {t_den} - 1) DIV {t_den}") + 1
    ).select("__rid", "g", "L", "r")
    # positional filter (PPJoin, Xiao WWW'08): both docs order their
    # grams by the SAME global (rarity, gram) key, so for a shared gram
    # at positions (i, j) the true overlap is bounded by
    #   ubound = min(i-1, j-1) + 1 + min(La-i, Lb-j)
    # (common-before + this gram + common-after).  Jaccard >= t needs
    # overlap >= ceil(t*(La+Lb)/(1+t)); in exact integers the occurrence
    # survives iff ubound*(t_num+t_den) >= t_num*(La+Lb).  The bound is
    # a true overlap upper bound for EVERY shared occurrence, so any
    # qualifying pair keeps all its occurrences — lossless — while
    # boilerplate-tail matches (one rare gram shared late in two long
    # docs) die in the join condition, before distinct+verify.
    ubound = (
        F.least(F.col("a.r") - 1, F.col("b.r") - 1)
        + 1
        + F.least(F.col("a.L") - F.col("a.r"), F.col("b.L") - F.col("b.r"))
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.__rid") < F.col("b.__rid"))
            # length filter: t*max <= min, integer form (both directions)
            & (F.col("a.L") * t_num <= F.col("b.L") * t_den)
            & (F.col("b.L") * t_num <= F.col("a.L") * t_den)
            & (
                ubound * (t_num + t_den)
                >= F.lit(t_num) * (F.col("a.L") + F.col("b.L"))
            ),
        )
        .select(
            F.col("a.__rid").alias("ra"),
            F.col("b.__rid").alias("rb"),
        )
        .distinct()
    )
    ga = g.select(F.col("__rid").alias("ra"), F.col("sh").alias("sh_a"))
    gb = g.select(F.col("__rid").alias("rb"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(ga, "ra")
        .join(gb, "rb")
        .where(inter * t_den >= F.lit(t_num) * uni)
        .select(
            "ra",
            "rb",
            F.round(inter.cast("double") / uni, 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# simhash hamming-distance pair join (pigeonhole band blocking)
# ---------------------------------------------------------------------------

#: hamming threshold and the pigeonhole band split of the 16-bit hash:
#: k flips touch at most k bands, so k+1 bands guarantee one untouched
#: band — equality on one band is a LOSSLESS blocking key for ham <= k
SIMHAM_K = 2
_SIMHAM_BANDS = ((0, 64), (6, 32), (11, 32))  # (shift, modulus): 6+5+5 bits


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = SIMHAM_K,
) -> DataFrame:
    """(id_a, id_b, hamming): doc pairs whose 16-bit SimHashes differ in
    at most ``max_hamming`` bits — the BIT-space near-dup join
    complementing the token-space LSH/prefix joins.  Blocking is the
    pigeonhole band split (len(_SIMHAM_BANDS) = SIMHAM_K + 1 bands), so
    the self-join keys on (band_idx, band_value) — never all-pairs —
    and is lossless by the pigeonhole argument; verification is one
    codegen ``bit_count(xor)`` per candidate.  The oracle is the
    quadratic join (small corpus), the result identical."""
    sims = simhash_table(df, text_col, id_col)
    return _hamming_pairs_from_simhash(sims, id_col, max_hamming)


def _hamming_pairs_from_simhash(
    sims: DataFrame, id_col: str, max_hamming: int = SIMHAM_K
) -> DataFrame:
    """Pigeonhole band self-join half of :func:`simhash_hamming_pairs`,
    reusable over a precomputed (id, simhash) table."""
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                (F.shiftright("simhash", sh) % mod).alias("v"),
            )
            for i, (sh, mod) in enumerate(_SIMHAM_BANDS)
        ]
    )
    bd = sims.select(id_col, "simhash", F.explode(bands).alias("bk")).select(
        id_col, "simhash", "bk.band", "bk.v"
    )
    a, b = bd.alias("a"), bd.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# multi-pass blocking union over ONE shared shingle-hash table
# ---------------------------------------------------------------------------


def multipass_pair_union(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = DEFAULT_SHINGLE,
    bucket_cap: int | None = DEFAULT_BUCKET_CAP,
    max_hamming: int = SIMHAM_K,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """UNION of the three near-dup candidate generators (MinHash-LSH
    banding, SimHash hamming, prefix-filtered exact Jaccard) computed
    from ONE scan: the exact-dup collapse runs once, and one
    localCheckpoint'd (id, v1, v2) shingle-hash table feeds all three
    passes — MinHash reads (v1, v2) directly, SimHash the distinct v1
    bits, and the prefix join the 60-bit fingerprint v1*2^28 + (v2>>4)
    (same value as md5 hex chars 1-15, so identical to the standalone
    :func:`jaccard_prefix_pairs` grams).  Standalone the three passes
    tokenize + md5 the corpus once EACH; here the corpus text is read
    and hashed exactly once.

    Pair-set equivalence with the standalone union (what the oracle
    runs): identical texts share every signature, so each pass's
    member-level pair set is (its rep-level pair set expanded through
    the exact-dup groups) plus the intra-group cliques — except LSH,
    whose star collapse deliberately emits only rep-level pairs + star
    edges (a subset of the cliques the prefix/simhash passes contribute
    anyway).  Output: distinct (id_a, id_b), id_a < id_b."""
    from pyspark.sql.window import Window

    src = spread(df).select(F.col(id_col), _as_col(text_col).alias("__text"))
    wth = Window.partitionBy("__th")
    withh = src.withColumn("__th", F.md5(F.col("__text"))).withColumn(
        "__rep", F.min(id_col).over(wth)
    )
    members = withh.select(
        F.col("__rep").alias("rep"), F.col(id_col).alias("member")
    ).localCheckpoint()
    # re-spread before the CPU-heavy hash explode — see the same guard in
    # jaccard_prefix_pairs (AQE byte-coalescing starves the map stage)
    from javascript_vector_database_spark.session import (
        shuffle_partitions_or_default,
    )

    n_part = shuffle_partitions_or_default(df.sparkSession)
    reps = (
        withh.where(F.col(id_col) == F.col("__rep"))
        .select(F.col(id_col), "__text")
        .repartition(n_part, F.col(id_col))
    )
    ex = exploded_shingle_hashes(reps, "__text", id_col, shingle_k).localCheckpoint()
    exd = ex.dropDuplicates([id_col, "v1", "v2"])

    # pass 1: token-space MinHash-LSH banding (rep-level, capped buckets)
    sigs = _minhash_from_exploded(ex, id_col, num_hashes)
    lsh_pairs = _band_pairs_from_sigs(sigs, id_col, num_hashes, bands, bucket_cap)

    # pass 2: bit-space SimHash hamming (rep-level)
    sims = _simhash_from_exploded(exd, id_col)
    sim_pairs = _hamming_pairs_from_simhash(sims, id_col, max_hamming).select(
        "id_a", "id_b"
    )

    # pass 3: prefix-filtered exact Jaccard (rep-level)
    h60 = F.col("v1") * F.lit(268435456).cast("long") + F.shiftright("v2", 4)
    g = (
        exd.select(F.col(id_col).alias("__rid"), h60.alias("__h"))
        .groupBy("__rid")
        .agg(F.collect_set("__h").alias("sh"))
    )
    pj_pairs = _prefix_rep_pairs(g, t_num, t_den).select(
        F.col("ra").alias("id_a"), F.col("rb").alias("id_b")
    )

    # expansion: dedup the rep-level union BEFORE the member fan-out so
    # a pair caught by both passes expands once
    rep_level = sim_pairs.unionByName(pj_pairs).distinct()
    cross = (
        rep_level.join(
            members.select(F.col("rep").alias("id_a"), F.col("member").alias("ma")),
            "id_a",
        )
        .join(
            members.select(F.col("rep").alias("id_b"), F.col("member").alias("mb")),
            "id_b",
        )
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
        )
    )
    m1 = members.select("rep", F.col("member").alias("id_a"))
    m2 = members.select("rep", F.col("member").alias("id_b"))
    intra = (
        m1.join(m2, "rep")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return (
        intra.unionByName(lsh_pairs).unionByName(cross).distinct()
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style cluster representatives)
# ---------------------------------------------------------------------------

#: a doc whose cosine to its cluster representative reaches this is a
#: semantic near-duplicate of the representative (set against the test
#: corpus' cos-to-medoid profile: p50 ~0.22, max ~0.45-0.47 across SFs,
#: so 0.25 flags the dense upper tail without degenerating to empty)
SEMANTIC_TAU = 0.25


def semantic_medoids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Cluster-representative selection (the keep-side of SemDeDup,
    Abbas et al. 2023, arXiv:2303.09540): assign every embedding to its
    nearest fixed centroid (ann_scale.ivf_assign_dist — one scan-local
    argmin fold over K inlined literals), then per cluster keep the
    MEDOID, the member closest to the centroid (ties to the lowest id).
    Output: (ivf_cell, n_docs, medoid_id, medoid_dist).

    Determinism: the per-row distance fold is bit-identical across
    engines (oracle.py contract) and the medoid argmin is a min over
    (distance, id) structs — order-insensitive, no float accumulation.

    Scale shape: assignment is embarrassingly parallel; the reduction is
    one groupBy over K keys with map-side partials (each task emits at
    most K rows regardless of input size)."""
    from javascript_vector_database_spark.operators.ann_scale import (
        ivf_assign_dist,
    )

    a = ivf_assign_dist(df, id_col=id_col, vec_col=vec_col, cents=cents)
    g = a.groupBy("ivf_cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min(
            F.struct(F.col("cdist").alias("d"), F.col(id_col).alias("i"))
        ).alias("m"),
    )
    return g.select(
        "ivf_cell",
        "n_docs",
        F.col("m.i").alias("medoid_id"),
        F.round(F.col("m.d"), 6).alias("medoid_dist"),
    )


def semantic_prune(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = SEMANTIC_TAU,
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """The prune-side of SemDeDup: docs whose cosine to their cluster's
    MEDOID reaches ``threshold`` are semantic near-duplicates of the
    representative and are flagged for removal.  Output: (vec_id,
    ivf_cell, cos_to_medoid) — the prune list (the medoid itself is
    never flagged).

    Unlike pairwise near-dup (cosine_near_dup_pairs), the comparison is
    LINEAR: each doc is scored against exactly one representative, so
    cost is one broadcast join (K medoid rows) + one dot fold per row —
    the shape that makes semantic dedup tractable on a 100 TB corpus
    where within-cluster pairwise would be quadratic."""
    from javascript_vector_database_spark.operators.ann_scale import (
        collect_centroids,
        ivf_assign_dist,
    )

    if cents is None:
        cents = collect_centroids(df, id_col, vec_col)
    # materialize the assignment ONCE: both the medoid aggregation and the
    # scored side below consume it, and without the checkpoint the full
    # embedding scan + K-centroid argmin fold would execute twice (the
    # same multi-consumer discipline as containment_pairs / harmonic
    # hubs).  Eager — lazy localCheckpoint deadlocks under broadcast
    # subtrees (see streaming/pipeline.py checkpoint notes).
    a = ivf_assign_dist(
        df, id_col=id_col, vec_col=vec_col, cents=cents
    ).localCheckpoint()
    med = (
        a.groupBy("ivf_cell")
        .agg(
            F.min(
                F.struct(F.col("cdist").alias("d"), F.col(id_col).alias("i"))
            ).alias("m")
        )
        .select("ivf_cell", F.col("m.i").alias("medoid_id"))
    )
    med_emb = med.join(
        df.select(
            F.col(id_col).alias("medoid_id"),
            F.col(vec_col).alias("__memb"),
            l2_norm(F.col(vec_col)).alias("__mnrm"),
        ),
        "medoid_id",
    )
    return (
        a.select(
            F.col(id_col),
            "ivf_cell",
            F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("__nrm"),
        )
        .join(F.broadcast(med_emb), "ivf_cell")
        .where(F.col(id_col) != F.col("medoid_id"))
        .select(
            F.col(id_col),
            "ivf_cell",
            F.round(
                dot(F.col(vec_col), F.col("__memb"))
                / (F.col("__nrm") * F.col("__mnrm")),
                6,
            ).alias("cos_to_medoid"),
        )
        .where(F.col("cos_to_medoid") >= threshold)
    )


# ---------------------------------------------------------------------------
# duplicated-passage profile (ExactSubstr at k-gram granularity)
# ---------------------------------------------------------------------------

SUBSTR_GRAM_K = 8


def duplicated_gram_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SUBSTR_GRAM_K,
) -> DataFrame:
    """(id, n_grams, n_dup, dup_micro): per-doc duplicated-passage
    profile — of the doc's DISTINCT token ``k``-grams, how many also
    occur in at least one other document.  This is the doc-level
    aggregate of ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — public) at k-gram
    rather than suffix-array granularity: a high ``dup_micro`` doc is
    mostly stitched from passages that exist elsewhere in the corpus,
    even when no single WHOLE-doc near-dup pair fires (the measurement
    MinHash/SimHash structurally cannot make).

    Shape: the shared codegen gram front-half
    (:func:`exploded_shingle_hashes`, distinct per doc — 64-bit gram
    keys so nothing wider than (id, v1, v2) ever shuffles), one
    map-side-combined groupBy over the gram key for corpus doc-counts,
    one shuffle join back (a universal boilerplate gram skews the GRAM
    side only — AQE skew-join splits it; a window over the gram key
    would instead pin the hot gram to one task, which is why this is a
    join), one groupBy back to doc grain.  ``dup_micro = (n_dup * 1e6)
    DIV n_grams`` — non-negative floor DIV, engine-identical."""
    g = exploded_shingle_hashes(
        df, text_col=text_col, id_col=id_col, shingle_k=k, distinct=True
        # 2 consumers (corpus doc-counts + the join back): pin so the
        # gram explosion + per-doc dedup runs once — at scale that IS
        # the query's cost (the checkpointed-shingle-table discipline of
        # jaccard_prefix_pairs)
    ).localCheckpoint(eager=True)
    nd = g.groupBy("v1", "v2").agg(
        F.count(F.lit(1)).cast("long").alias("__nd")
    )
    return (
        g.join(nd, ["v1", "v2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("__nd") >= 2).cast("long"))
            .cast("long")
            .alias("n_dup"),
        )
        .withColumn("dup_micro", F.expr("(n_dup * 1000000) DIV n_grams"))
    )
