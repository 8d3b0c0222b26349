"""Corpus-curation operators for the training-data pipeline: PII
scrubbing, repetition/boilerplate metrics, eval-set contamination checks,
deterministic mixture sampling, and sequence packing.

No reference analog (the reference indexes a fixed 10k-doc corpus,
src/database.ts:181-205); these are the standard pre-training curation
passes (C4/Gopher-style filters, GPT-3-style decontamination) expressed
Spark-first:

* everything is built-in Column expressions or one explode + hash-key
  shuffle — no Python in the hot path, whole-stage codegen end to end;
* every randomized-looking decision (sampling, packing order) is a
  deterministic md5 of the primary key, so results are reproducible
  across runs, engines, and partitionings, and DuckDB can oracle them.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from javascript_vector_database_spark.functions.text import word_tokens
from javascript_vector_database_spark.operators.dedup import shingles
from javascript_vector_database_spark.operators.knn import top_n_per_query
from javascript_vector_database_spark.tables import spread

# ---------------------------------------------------------------------------
# PII scrub
# ---------------------------------------------------------------------------

#: portable regexes (same semantics in Java regex and DuckDB's RE2):
#: no lookaround, no backrefs, ASCII classes only.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ]?[0-9]{0,4}",
    "ipv4": r"([0-9]{1,3}\.){3}[0-9]{1,3}",
}

PII_TOKENS = {"email": "[EMAIL]", "phone": "[PHONE]", "ipv4": "[IP]"}


def pii_scrub(
    df: DataFrame, text_col: str = "text", out_col: str = "scrubbed"
) -> DataFrame:
    """Count and redact PII spans.  Adds ``n_<kind>`` counts per pattern
    and ``out_col`` with each span replaced by its redaction token.

    Order matters: emails are redacted first (so the numeric patterns
    never chew on an address), then IPs before phones (a dotted IP octet
    run is a substring the looser phone pattern could half-match, and
    Java's leftmost-first vs RE2's matching could disagree on the split —
    redacting the tighter pattern first removes the ambiguity).  All
    JVM-side (``regexp_count``/``regexp_replace``), linear per row, zero
    shuffle — at 100 TB this rides the scan."""
    cur = F.col(text_col)
    out = df
    # counts run on the progressively-scrubbed string, so each pattern
    # only sees text the tighter earlier patterns have already claimed
    for kind in ("email", "ipv4", "phone"):
        pat = PII_PATTERNS[kind]
        out = out.withColumn(f"n_{kind}", F.regexp_count(cur, F.lit(pat)))
        cur = F.regexp_replace(cur, pat, PII_TOKENS[kind])
    return out.withColumn(out_col, cur)


def sql_pii_scrub(text: str) -> dict[str, str]:
    """DuckDB fragments mirroring :func:`pii_scrub`: kind -> count expr
    (each over the progressively-scrubbed string, same as the Spark side),
    plus 'scrubbed' -> the fully chained global regexp_replace."""
    frags: dict[str, str] = {}
    cur = text
    for kind in ("email", "ipv4", "phone"):
        pat = PII_PATTERNS[kind]
        frags[kind] = f"len(regexp_extract_all({cur}, '{pat}'))"
        cur = f"regexp_replace({cur}, '{pat}', '{PII_TOKENS[kind]}', 'g')"
    frags["scrubbed"] = cur
    return frags


# ---------------------------------------------------------------------------
# repetition / boilerplate metrics (Gopher-style quality signals)
# ---------------------------------------------------------------------------


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition metrics: token count, distinct-token count,
    top-token share, duplicate-token ratio, duplicate-bigram ratio.

    The unigram frequency table is explode -> groupBy(doc, token) with
    map-side partial aggregation — the shuffle key is (doc, token) so the
    reduction is near-local; bigram dedup is row-local array math.  These
    are the filters Gopher/C4 apply before training (drop docs whose
    top token exceeds ~20% or whose duplicate-line fraction is high)."""
    toks = word_tokens(F.col(text_col))
    base = spread(df.select(F.col(id_col), toks.alias("__toks")))
    # row-local: bigram duplicate ratio
    bigrams = F.expr(
        "transform(sequence(0, greatest(size(__toks) - 2, 0)), "
        "i -> concat_ws(' ', __toks[i], __toks[i+1]))"
    )
    row_local = base.select(
        id_col,
        F.size("__toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).cast("long").alias("n_distinct"),
        F.when(F.size("__toks") >= 2, F.size(bigrams))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_bigrams"),
        F.when(F.size("__toks") >= 2, F.size(F.array_distinct(bigrams)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_distinct_bigrams"),
    )
    top = (
        base.select(id_col, F.explode("__toks").alias("tok"))
        .groupBy(id_col, "tok")
        .count()
        .groupBy(id_col)
        .agg(F.max("count").cast("long").alias("top_freq"))
    )
    return row_local.join(top, id_col).select(
        id_col,
        "n_tokens",
        "n_distinct",
        F.round(F.col("top_freq") / F.col("n_tokens"), 6).alias("top_token_share"),
        F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 6).alias("dup_token_ratio"),
        F.round(
            F.when(
                F.col("n_bigrams") > 0,
                1 - F.col("n_distinct_bigrams") / F.col("n_bigrams"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_bigram_ratio"),
    )


def sql_repetition_stats(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    toks = f"regexp_split_to_array(trim(lower({text_col})), '\\s+')"
    return f"""
WITH t AS (SELECT {id_col}, {toks} AS toks FROM {table}),
row_local AS (
  SELECT {id_col},
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END AS n_bigrams,
         CASE WHEN len(toks) >= 2 THEN len(list_distinct(list_transform(
             range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])))
              ELSE 0 END AS n_distinct_bigrams
  FROM t
),
tf AS (
  SELECT {id_col}, unnest(toks) AS tok FROM t
),
top AS (
  SELECT {id_col}, max(cnt) AS top_freq
  FROM (SELECT {id_col}, tok, count(*) AS cnt FROM tf GROUP BY 1, 2)
  GROUP BY 1
)
SELECT r.{id_col} AS {id_col},
       CAST(r.n_tokens AS BIGINT) AS n_tokens,
       CAST(r.n_distinct AS BIGINT) AS n_distinct,
       round(top.top_freq * 1.0 / r.n_tokens, 6) AS top_token_share,
       round(1 - r.n_distinct * 1.0 / r.n_tokens, 6) AS dup_token_ratio,
       round(CASE WHEN r.n_bigrams > 0
             THEN 1 - r.n_distinct_bigrams * 1.0 / r.n_bigrams
             ELSE 0.0 END, 6) AS dup_bigram_ratio
FROM row_local r JOIN top USING ({id_col})
"""


# ---------------------------------------------------------------------------
# eval-set contamination (GPT-3-style n-gram decontamination)
# ---------------------------------------------------------------------------

#: shared-shingle threshold for flagging a training doc as contaminated
MIN_SHARED_SHINGLES = 8


def contamination_pairs(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = MIN_SHARED_SHINGLES,
    shingle_k: int = 3,
) -> DataFrame:
    """Training docs sharing >= ``min_shared`` distinct word k-grams with
    an eval doc: (eval_id, doc_id, n_shared).  The decontamination pass a
    pipeline runs before training so benchmark text never leaks in.

    Both sides explode their shingles with the codegen sequence+getItem
    shape (dedup.exploded_shingles — no interpreted HOF); the join key is
    the shingle string, so candidates meet only where text overlaps —
    never |corpus| x |eval|.  The eval side is tiny by construction
    (benchmarks), so Spark broadcasts it and the corpus side never
    shuffles: at 100 TB this is a map-side join over the scan.  Shared
    DISTINCT grams are counted with count_distinct in the aggregate (the
    exploded grams carry per-doc multiplicity; deduping row-locally would
    cost an extra corpus shuffle, the distinct aggregate does not)."""
    from javascript_vector_database_spark.operators.dedup import exploded_shingles

    ev = exploded_shingles(eval_df, text_col, id_col, shingle_k).select(
        F.col(id_col).alias("eval_id"), F.col("sh")
    ).distinct()
    cp = exploded_shingles(corpus, text_col, id_col, shingle_k)
    return (
        cp.join(F.broadcast(ev), "sh")
        .groupBy("eval_id", id_col)
        .agg(F.count_distinct("sh").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def sql_contamination_pairs(
    corpus_pred: str,
    eval_pred: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = MIN_SHARED_SHINGLES,
    shingle_k: int = 3,
) -> str:
    toks = f"regexp_split_to_array(trim(lower({text_col})), '\\s+')"
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(shingle_k))
    # sub-k-token docs have no k-grams and are dropped on BOTH engines
    # (Spark side: exploded_shingles filters size(toks) >= k)
    sh = (
        f"list_distinct(list_transform("
        f"range(1, len(toks) - {shingle_k - 1} + 1), i -> {gram}))"
    )
    return f"""
WITH t AS (SELECT {id_col}, {sh} AS sh
           FROM (SELECT {id_col}, {toks} AS toks
                 FROM {table}
                 WHERE len({toks}) >= {shingle_k})),
ev AS (SELECT {id_col} AS eval_id, unnest(sh) AS g FROM t WHERE {eval_pred}),
cp AS (SELECT {id_col}, unnest(sh) AS g FROM t WHERE {corpus_pred})
SELECT ev.eval_id, cp.{id_col} AS {id_col}, CAST(count(*) AS BIGINT) AS n_shared
FROM cp JOIN ev USING (g)
GROUP BY 1, 2
HAVING count(*) >= {min_shared}
"""


# ---------------------------------------------------------------------------
# deterministic mixture sampling
# ---------------------------------------------------------------------------

#: hash-bucket resolution for sampling rates (1 bp granularity)
SAMPLE_BUCKETS = 10_000


def portable_hash_bucket(col: Column, buckets: int = SAMPLE_BUCKETS) -> Column:
    """Uniform bucket in [0, buckets) from md5 of the key — identical in
    Spark and DuckDB (unlike each engine's native ``hash``), so sampling
    decisions are reproducible and oracle-checkable.  Same idiom as the
    MinHash material (dedup.shingle_hash_pairs)."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
    return h % buckets


def sql_hash_bucket(expr: str, buckets: int = SAMPLE_BUCKETS) -> str:
    return (
        f"(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT % {buckets})"
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep each row with its group's target rate, decided by the portable
    hash of the primary key: the down/up-weighting step that shapes a raw
    crawl into a target training mixture.  Stateless, shuffle-free,
    row-local — the filter rides the scan at any scale, and adding data
    never changes earlier keep/drop decisions (hash, not rank)."""
    bucket = portable_hash_bucket(F.col(id_col))
    rate = F.lit(default_rate)
    for grp, r in rates.items():
        rate = F.when(F.col(group_col) == grp, F.lit(r)).otherwise(rate)
    return df.where(bucket < rate * SAMPLE_BUCKETS)


def sql_mixture_sample(
    rates: dict[str, float],
    table: str = "documents",
    group_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> str:
    cases = " ".join(
        f"WHEN {group_col} = '{g}' THEN {r}" for g, r in rates.items()
    )
    return (
        f"SELECT * FROM {table} WHERE {sql_hash_bucket(id_col)} < "
        f"(CASE {cases} ELSE {default_rate} END) * {SAMPLE_BUCKETS}"
    )


# ---------------------------------------------------------------------------
# sequence packing (concat-then-chunk layout)
# ---------------------------------------------------------------------------

DEFAULT_PACK_TOKENS = 2048


def pack_sequences(
    df: DataFrame,
    max_tokens: int = DEFAULT_PACK_TOKENS,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "source",
) -> DataFrame:
    """Assign each document its token interval in the per-``part_col``
    concatenated token stream: (id, part, n_tokens, start_token, bin_id)
    where ``bin_id = start_token div max_tokens`` — the concat-then-chunk
    layout most pre-training loaders use (documents flow across bin
    boundaries; the loader splits at exactly ``max_tokens``).

    One window per part (single shuffle on ``part_col``); the order
    within a part is the primary key, so the packing is deterministic.
    At 100 TB the window key should be (part, shard) with a second
    cumulative pass over per-shard totals — documented, not needed at
    bench scale."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = F.size(word_tokens(F.col(text_col))).cast("long")
    return (
        df.select(F.col(id_col), F.col(part_col), n_tok.alias("n_tokens"))
        .withColumn("start_token", F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .withColumn(
            "bin_id", F.floor(F.col("start_token") / max_tokens).cast("long")
        )
    )


def sql_pack_sequences(
    max_tokens: int = DEFAULT_PACK_TOKENS,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "source",
) -> str:
    n_tok = f"len(regexp_split_to_array(trim(lower({text_col})), '\\s+'))"
    return f"""
WITH t AS (SELECT {id_col}, {part_col}, CAST({n_tok} AS BIGINT) AS n_tokens
           FROM {table})
SELECT {id_col}, {part_col}, n_tokens,
       CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS start_token,
       CAST(floor((sum(n_tokens) OVER w - n_tokens) / {max_tokens}) AS BIGINT)
           AS bin_id
FROM t
WINDOW w AS (PARTITION BY {part_col} ORDER BY {id_col}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# text normalization (pre-dedup canonicalization)
# ---------------------------------------------------------------------------


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for dedup: lower-case, strip every char
    outside [a-z0-9 ], collapse whitespace runs, trim.  Pure JVM regex
    chain riding the scan; the regexes are RE2/Java-portable so the
    DuckDB oracle applies the identical pipeline."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def sql_normalize_text(expr: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({expr}), "
        f"'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality score (CCNet-style language-model filtering, with a
# corpus-trained unigram model standing in for the external KenLM)
# ---------------------------------------------------------------------------

#: tokens in the trained vocabulary; everything else scores at the OOV
#: floor ln(1/N).  Bounded so the model stays broadcast-sized at any
#: corpus scale (CCNet's KenLM is likewise a fixed artifact).
LM_VOCAB_SIZE = 1024


def unigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = LM_VOCAB_SIZE,
) -> DataFrame:
    """Per-doc average token log-probability under a unigram LM trained
    on the corpus itself — the shape of CCNet/Gopher perplexity
    filtering (docs far below the corpus-typical score are boilerplate
    or the wrong language; far above are repetitive).  Output:
    (id_col, n_tokens bigint, lm_score double) with
    ``lm_score = Σ_t count_d(t)·ln(p(t)) / n_d`` rounded to 4 decimals.

    Scale shape: ONE token-stats pass (explode → count, map-side
    combined), a top-``vocab_size`` model (broadcast-sized by
    construction; OOV tokens take the ln(1/N) floor so the model never
    grows with the corpus), then a broadcast join back to per-doc token
    counts.  Determinism: the per-doc sum folds ``collect_list`` structs
    through ``sort_array`` (token-ascending), so shuffle order can never
    change the float result; the per-term ``ln`` is the one
    cross-engine transcendental, absorbed by the 4-decimal round (same
    policy as the HLL linear-counting branch, operators/sketch.py)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok = spread(docs).select(F.col(id_col), F.explode(toks).alias("__t"))
    # TRAIN once: one cached stats pass feeds both the total-count action
    # and the top-V draw, and the model lands driver-side (bounded by
    # vocab_size) as a local relation — so the SCORING plan below reads
    # the corpus exactly once, with no stats-lineage recompute.  This is
    # the write-time-artifact shape: at 100 TB the (term, logp) table
    # would be persisted and re-broadcast, never re-derived per query.
    stats = tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__c")).cache()
    try:
        n_total = int(stats.agg(F.sum("__c")).first()[0])
        top = stats.orderBy(F.col("__c").desc(), F.col("__t").asc()).limit(
            vocab_size
        ).collect()
    finally:
        stats.unpersist()
    vocab = docs.sparkSession.createDataFrame(
        [(r["__t"], math.log(int(r["__c"]) / float(n_total))) for r in top],
        "__t string, __lp double",
    )
    dt = tok.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__cd"))
    oov = -math.log(float(n_total))
    terms = dt.join(F.broadcast(vocab), "__t", "left").select(
        F.col(id_col),
        F.col("__t"),
        F.col("__cd"),
        (F.col("__cd") * F.coalesce(F.col("__lp"), F.lit(oov))).alias("__term"),
    )
    per_doc = terms.groupBy(id_col).agg(
        F.sum("__cd").alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__t", "__term"))),
                lambda s: s["__term"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__s"),
    )
    return per_doc.select(
        id_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.col("__s") / F.col("n_tokens"), 4).alias("lm_score"),
    )


def sql_unigram_lm_scores(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = LM_VOCAB_SIZE,
) -> str:
    """DuckDB oracle: same stats pass, same top-V model, same
    token-ascending ordered fold (``list(x ORDER BY t)`` mirrors
    sort_array+aggregate)."""
    toks = f"regexp_split_to_array(trim(lower({text_col})), '\\s+')"
    return f"""
WITH tok AS (SELECT {id_col}, unnest({toks}) AS t FROM {table}),
stats AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS N FROM stats),
vocab AS (SELECT t, ln(c / N) AS lp FROM stats, tot
          ORDER BY c DESC, t ASC LIMIT {vocab_size}),
dt AS (SELECT {id_col}, t, count(*) AS cd FROM tok GROUP BY {id_col}, t),
terms AS (
  SELECT dt.{id_col}, dt.t,
         dt.cd,
         dt.cd * coalesce(v.lp, -ln(N)) AS term
  FROM dt LEFT JOIN vocab v USING (t), tot
),
doc AS (
  SELECT {id_col},
         CAST(sum(cd) AS BIGINT) AS n_tokens,
         coalesce(list_reduce(list(term ORDER BY t ASC), (x, y) -> x + y),
                  0.0) AS s
  FROM terms GROUP BY {id_col}
)
SELECT {id_col}, n_tokens, round(s / n_tokens, 4) AS lm_score FROM doc
"""


#: keywords: drop terms appearing in more than this fraction of docs
#: (corpus-adaptive stopword cut — no language-specific list needed)
KEYWORD_MAX_DF_FRAC = 0.5
KEYWORD_TOP_N = 5


def keyword_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = KEYWORD_TOP_N,
    max_df_frac: float = KEYWORD_MAX_DF_FRAC,
) -> DataFrame:
    """Per-doc top-``top_n`` keywords by document-frequency-normalized
    term frequency (``tf/df`` — the tf-idf ordering without the
    transcendental: ln-based idf ranks near-equal scores differently
    across libms, while ``tf/df`` is one IEEE-exact division of small
    ints, so the RANKING is bit-identical on both engines, not just the
    rounded score).  Terms in more than ``max_df_frac`` of docs are cut
    (corpus-adaptive stopwords).  Output: (id, term, tf, df, score).

    Scale shape: tf is the (doc, term) count the repetition pass already
    shuffles; df is a term-count aggregate of the same explode (one
    extra skinny shuffle); the per-doc top-n is a rank filter Catalyst
    runs map-side (InferWindowGroupLimit)."""
    toks = word_tokens(F.col(text_col))
    tok = spread(docs).select(F.col(id_col), F.explode(toks).alias("__t"))
    tf = tok.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()
    max_df = int(n_docs * max_df_frac)
    scored = (
        tf.join(df_, "__t")
        .where(F.col("df") <= max_df)
        .select(
            F.col(id_col),
            F.col("__t").alias("term"),
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            (F.col("tf").cast("double") / F.col("df")).alias("score"),
        )
    )
    return top_n_per_query(
        scored, top_n, id_col, F.col("score").desc(), F.col("term")
    )


def sql_keyword_terms(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = KEYWORD_TOP_N,
    max_df_frac: float = KEYWORD_MAX_DF_FRAC,
) -> str:
    """DuckDB oracle — derives the doc count itself (the Spark side
    counts the same table), so one SQL string serves every scale
    factor."""
    toks = f"regexp_split_to_array(trim(lower({text_col})), '\\s+')"
    return f"""
WITH nd AS (SELECT count(*) AS n FROM {table}),
tok AS (SELECT {id_col}, unnest({toks}) AS t FROM {table}),
tf AS (SELECT {id_col}, t, count(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.{id_col}, tf.t AS term,
         CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
         CAST(tf.tf AS DOUBLE) / df.df AS score
  FROM tf JOIN df USING (t), nd
  WHERE df.df <= CAST(floor(nd.n * {max_df_frac}) AS BIGINT)
)
SELECT {id_col}, term, tf, df, score FROM (
  SELECT *, row_number() OVER (PARTITION BY {id_col}
                               ORDER BY score DESC, term ASC) AS rn
  FROM scored
) WHERE rn <= {top_n}
"""


# ---------------------------------------------------------------------------
# bloom-filter pre-filtered decontamination
# ---------------------------------------------------------------------------

#: bloom geometry: m = 2^16 bits (1024 longs, 8 KiB), k = 2 probes via
#: Kirsch-Mitzenmacher double hashing over the gram's md5 halves
BLOOM_BITS_LOG2 = 16
BLOOM_M = 1 << BLOOM_BITS_LOG2
BLOOM_WORDS = BLOOM_M // 64


def _bloom_positions(gram: Column) -> tuple[Column, Column]:
    """The k=2 bit positions of a gram: v1 mod m and (v1+v2) mod m from
    the two 32-bit md5 halves (same material as dedup.shingle_hash_pairs)."""
    h = F.md5(gram.cast("string"))
    v1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    v2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return v1 % BLOOM_M, (v1 + v2) % BLOOM_M


def bloom_bitmap(grams: DataFrame, gram_col: str = "sh") -> list[int]:
    """Build the eval-side bloom filter as BLOOM_WORDS longs.

    Distributed build: each gram's two bit positions explode row-locally,
    the per-word OR-fold is a groupBy over ≤ BLOOM_WORDS keys (map-side
    combined), and the driver collects at most BLOOM_WORDS = 1024 rows —
    bounded by the filter GEOMETRY, never by the eval-set size.  (This is
    the same contract as Spark's own runtime bloom-filter join
    [spark.sql.optimizer.runtime.bloomFilter.enabled], but deterministic
    and engine-portable so the result stays oracle-checkable.)"""
    p0, p1 = _bloom_positions(F.col(gram_col))
    pos = grams.select(
        F.explode(F.array(p0, p1)).alias("p")
    )
    # the PySpark shiftleft wrapper takes only a literal shift count; the
    # SQL ShiftLeft expression takes two expressions — go through expr()
    words = (
        pos.select(
            (F.col("p") / 64).cast("long").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
        .collect()
    )
    bitmap = [0] * BLOOM_WORDS
    for r in words:
        bitmap[int(r["w"])] = int(r["word"])
    return bitmap


def bloom_contamination_pairs(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = MIN_SHARED_SHINGLES,
    shingle_k: int = 3,
) -> DataFrame:
    """contamination_pairs with a bloom pre-filter on the corpus side:
    corpus grams check 2 bits of an 8 KiB bitmap (inlined as an array
    literal — pure codegen, rides the scan) and only survivors reach the
    exact confirm join.  Because a bloom filter has NO false negatives,
    the result is IDENTICAL to contamination_pairs — the oracle is the
    same SQL.

    Why it matters at 100 TB: the broadcast-hash contamination join is
    already map-side, but when the eval side outgrows the broadcast
    threshold (dedup against many benchmarks + held-out splits) the join
    degrades to a full corpus-gram SHUFFLE.  The bitmap stays tiny no
    matter how many grams it encodes (m is fixed; scale m, not the
    plan), so the corpus side still prunes ~(1-fpr) of its grams BEFORE
    that shuffle.  This is Spark's runtime bloom join made explicit,
    deterministic, and cross-engine-checkable."""
    from javascript_vector_database_spark.operators.dedup import exploded_shingles

    ev = (
        exploded_shingles(eval_df, text_col, id_col, shingle_k)
        .select(F.col(id_col).alias("eval_id"), F.col("sh"))
        .distinct()
    )
    bitmap = bloom_bitmap(ev.select("sh"))
    lit_map = F.lit(bitmap)
    cp = exploded_shingles(corpus, text_col, id_col, shingle_k)
    p0, p1 = _bloom_positions(F.col("sh"))
    probed = (
        cp.withColumn("__p0", p0)
        .withColumn("__p1", p1)
        .withColumn("__w0", F.get(lit_map, (F.col("__p0") / 64).cast("int")))
        .withColumn("__w1", F.get(lit_map, (F.col("__p1") / 64).cast("int")))
    )
    survivors = probed.where(
        F.expr(
            "(shiftright(__w0, CAST(__p0 % 64 AS INT)) & 1) = 1"
            " AND (shiftright(__w1, CAST(__p1 % 64 AS INT)) & 1) = 1"
        )
    ).drop("__p0", "__p1", "__w0", "__w1")
    return (
        survivors.join(F.broadcast(ev), "sh")
        .groupBy("eval_id", id_col)
        .agg(F.count_distinct("sh").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Luhn-validated card-number detection
# ---------------------------------------------------------------------------

CC_LEN = 16
CC_TOKEN = "[CC]"


def luhn_valid(candidate: Column) -> Column:
    """Luhn checksum over a FIXED 16-digit string, unrolled to a 16-term
    integer expression (pure codegen — no HOF, no UDF): from the right,
    every second digit doubles, minus 9 when > 9; valid iff the total is
    divisible by 10.  Validation-gated detection is what separates a
    card-number scrubber from a 16-digit-regex scrubber (phone+account
    collisions pass the regex but fail the checksum 90% of the time)."""
    total = F.lit(0)
    for i in range(1, CC_LEN + 1):
        d = F.substring(candidate, i, 1).cast("int")
        if (CC_LEN - i) % 2 == 1:  # positions doubled (odd offset from right)
            t = d * 2
            term = F.when(t > 9, t - 9).otherwise(t)
        else:
            term = d
        total = total + term
    return total % 10 == 0


def sql_luhn_valid(candidate: str) -> str:
    """DuckDB mirror of :func:`luhn_valid` (same unrolled 16 terms)."""
    terms = []
    for i in range(1, CC_LEN + 1):
        d = f"CAST(substr({candidate}, {i}, 1) AS INT)"
        if (CC_LEN - i) % 2 == 1:
            terms.append(f"(CASE WHEN {d} * 2 > 9 THEN {d} * 2 - 9 ELSE {d} * 2 END)")
        else:
            terms.append(d)
    return f"(({' + '.join(terms)}) % 10 = 0)"
