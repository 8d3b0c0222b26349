"""§2.1/2.3/2.4/2.6/2.7 relational surface: scans, point lookups, joins
(lookup/anti/zip), aggregation (incl. the reference's count fast mode),
sort/skip/limit, set ops — plus the group-by/window/rollup extension
surface the reference lacks but a 100 TB engine needs.

Float policy for aggregates: sums are computed over DECIMAL casts (exact,
order-independent — the only way two engines agree bit-for-bit on a 60k-row
sum), then cast back to DOUBLE and rounded for the output column."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from javascript_vector_database_spark.registry import register
from javascript_vector_database_spark.tables import load_table


@register(
    "scan_documents",
    oracle="SELECT doc_id, lang, source, n_chars FROM documents",
)
def scan_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full collection scan with projection (reference `find().exec()`,
    src/search.ts:6).  Column pruning reaches the parquet scan."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "point_lookup",
    oracle=(
        "SELECT doc_id, lang, n_chars FROM documents "
        "WHERE doc_id IN (3, 17, 42, 161, 499)"
    ),
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Get-by-id bulk lookup (reference findDocumentsById,
    MAP#rxdb/dist/esm/rx-query.js:95-120) — an IN-list predicate pushed to
    the scan."""
    return (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isin(3, 17, 42, 161, 499))
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "join_anti_missing_vectors",
    oracle=(
        "SELECT d.doc_id FROM documents d "
        "WHERE NOT EXISTS (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)"
    ),
)
def join_anti_missing_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's idempotence anti-join: docs whose vector does not
    exist yet (reference src/database.ts:184-192).  left_anti — Catalyst
    broadcasts the smaller side."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    return docs.join(emb, "doc_id", "left_anti").select("doc_id")


@register(
    "join_zip_documents_embeddings",
    oracle=(
        "SELECT d.doc_id, d.lang, e.label FROM documents d "
        "JOIN embeddings e ON e.vec_id = d.doc_id"
    ),
)
def join_zip_documents_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-aligned-collections 'zip join' (items.json + embeddings.json
    keyed by the same id, reference src/database.ts:147-158) as an ordinary
    equi-join."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return docs.join(emb, docs["doc_id"] == emb["vec_id"], "inner").select(
        "doc_id", "lang", "label"
    )


@register(
    "union_dedup",
    oracle=(
        "SELECT DISTINCT doc_id FROM ("
        "SELECT doc_id FROM documents WHERE lang = 'en' "
        "UNION ALL SELECT doc_id FROM documents WHERE n_chars < 200)"
    ),
)
def union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union + dedup of candidate sets (the reference's Set merge,
    src/search.ts:21-40)."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.where(F.col("lang") == "en").select("doc_id")
    b = docs.where(F.col("n_chars") < 200).select("doc_id")
    return a.unionByName(b).dropDuplicates(["doc_id"])


# ---------------------------------------------------------------------------
# aggregation / group-by extension surface
# ---------------------------------------------------------------------------


@register(
    "agg_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: map-side partial aggregation, one
    shuffle on a 2-column low-cardinality key.  DECIMAL sums keep the
    result order-independent (AQE may split partials any way it likes)."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec("l_quantity")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 2).alias(
                "sum_base_price"
            ),
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
                    "double"
                ),
                4,
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_top_revenue_orders",
    oracle="""
WITH rev AS (
  SELECT l_orderkey,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4) AS revenue
  FROM lineitem GROUP BY l_orderkey
)
SELECT o.o_orderkey, c.c_mktsegment, rev.revenue
FROM rev JOIN orders o ON o.o_orderkey = rev.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY rev.revenue DESC, o.o_orderkey ASC
LIMIT 20
""",
)
def agg_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3-shaped: aggregate lineitem -> join orders -> broadcast-join the
    small customer dim -> top-k (TakeOrderedAndProject, no full sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    rev = li.groupBy("l_orderkey").agg(
        F.round(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
                "double"
            ),
            4,
        ).alias("revenue")
    )
    return (
        rev.join(orders, rev["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .select("o_orderkey", "c_mktsegment", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@register(
    "set_ops_intersect_except",
    oracle="""
SELECT doc_id FROM documents WHERE lang = 'en'
INTERSECT
SELECT doc_id FROM documents WHERE n_chars >= 300
EXCEPT
SELECT doc_id FROM documents WHERE source = 'web'
""",
)
def set_ops_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 note made concrete: INTERSECT/EXCEPT have no reference
    surface but come free in Spark — both compile to aggregated
    left-semi/anti joins over one scan per branch."""
    docs = load_table(spark, sf_dir, "documents")
    en = docs.where(F.col("lang") == "en").select("doc_id")
    long_docs = docs.where(F.col("n_chars") >= 300).select("doc_id")
    web = docs.where(F.col("source") == "web").select("doc_id")
    # intersect() dedups (SQL INTERSECT DISTINCT); subtract = EXCEPT
    return en.intersect(long_docs).subtract(web)


@register(
    "join_salted_skew",
    oracle="""
SELECT o.o_orderpriority,
       count(*) AS n_items,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_price
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact-fact join (operators/skew.py::salted_join):
    per-row salt on the big side, right side exploded n_salt× — a hot
    orderkey spreads over n_salt reducers instead of pinning one
    straggler.  The join result is salt-independent, which is exactly
    what the plain-join oracle checks."""
    from javascript_vector_database_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, orders, "l_orderkey", n_salt=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total_price"),
        )
    )


@register(
    "window_top_customers_per_nation",
    oracle="""
SELECT n_name, c_custkey, c_acctbal, rn FROM (
  SELECT n.n_name, c.c_custkey,
         round(c.c_acctbal, 2) AS c_acctbal,
         row_number() OVER (PARTITION BY n.n_name
                            ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS rn
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
) WHERE rn <= 3
""",
)
def window_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via window row_number — the §2.5 extension surface.
    One shuffle on the partition key; the dim join is broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    w = W.partitionBy("n_name").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "n_name",
            "c_custkey",
            F.round(F.col("c_acctbal"), 2).alias("c_acctbal"),
            "rn",
        )
    )


@register(
    "rollup_orders_by_status_priority",
    oracle="""
SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def rollup_orders_by_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets extension (free in Spark, absent in the
    reference — SURVEY.md §2.4)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "events_windowed_agg",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def events_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the event stream table — the batch
    shape of the Structured Streaming windowed agg (same plan runs under
    readStream + watermark; see streaming/pipeline.py)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
    )


_BUCKETED_ORACLE = """
SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(e.label) AS BIGINT) AS label_sum
FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
GROUP BY d.lang
"""


@register("join_bucketed_colocated", oracle=_BUCKETED_ORACLE)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over bucketed managed tables (operators/bucketed.py):
    both sides written ONCE bucketed+sorted on the join key, then every
    join on that key runs with ZERO exchange below the aggregation —
    each task zips bucket i of both sides.  Values are layout-independent
    (same oracle as a plain join), which is the point: bucketing buys the
    plan, not different answers.  The write is the amortized cost a
    recurring 100 TB fact-to-fact join pays once."""
    import re

    from javascript_vector_database_spark.operators.bucketed import (
        colocated_join,
        write_bucketed,
    )

    tag = re.sub(r"[^0-9a-zA-Z]", "_", sf_dir.rstrip("/").split("/")[-1])
    docs_t, emb_t = f"b_docs_{tag}", f"b_emb_{tag}"
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang"
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    write_bucketed(docs, docs_t, "doc_id")
    write_bucketed(emb, emb_t, "doc_id")
    return (
        colocated_join(spark, docs_t, emb_t, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("label").cast("bigint").alias("label_sum"),
        )
    )


@register(
    "agg_regional_revenue",
    oracle="""
SELECT n.n_name,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o    ON o.o_orderkey = l.l_orderkey
JOIN customer c  ON c.c_custkey = o.o_custkey
JOIN supplier s  ON s.s_suppkey = l.l_suppkey
JOIN nation n    ON n.n_nationkey = c.c_nationkey
                AND n.n_nationkey = s.s_nationkey
JOIN region r    ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
)
def agg_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape — the 6-way star join that exercises Catalyst's
    join reordering and dimension broadcasting: region/nation/supplier/
    customer are all broadcast, orders-lineitem is the only real
    shuffle, and the region filter prunes before anything joins.  The
    decimal-sum discipline matches agg_pricing_summary (exact decimal
    aggregation, one final double round)."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(
            n,
            (n["n_nationkey"] == c["c_nationkey"])
            & (n["n_nationkey"] == s["s_nationkey"]),
        )
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
                    "double"
                ),
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# correlated subquery + large-order HAVING (TPC-H Q17/Q18 shapes)
# ---------------------------------------------------------------------------

#: Q17/Q18 predicates use only integer-valued doubles (quantities 1..50,
#: bounded counts), so every product/sum below 2^53 is IEEE-exact and
#: order-independent on both engines — no decimal cast needed for the
#: PREDICATE; output money sums keep the decimal discipline.
_Q17_SQL = """
SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2)
         AS avg_yearly,
       count(*) AS n_items
FROM {li} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#4'
  AND l.l_quantity * 5 *
      (SELECT count(*) FROM {li} l2 WHERE l2.l_partkey = l.l_partkey)
      < (SELECT sum(l2.l_quantity) FROM {li} l2 WHERE l2.l_partkey = l.l_partkey)
"""


@register(
    "agg_q17_small_quantity_revenue",
    oracle=_Q17_SQL.format(li="lineitem", part="part"),
)
def agg_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — revenue lost to small-quantity orders — run
    through the SQL ENTRY POINT with two correlated scalar subqueries
    (`l_quantity < avg(qty) per part`, expressed cross-multiplied so the
    comparison is integer-exact: qty*5*cnt < sum).  Catalyst DECORRELATES
    both subqueries into one aggregate + join against the per-part stats
    (RewriteCorrelatedScalarSubquery), so the executed plan scans lineitem
    twice and never nest-loops — the sweep's no-CartesianProduct guard
    pins that.  The oracle is the SAME text (DuckDB decorrelates it the
    same way), modulo view names."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q17_lineitem")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("q17_part")
    return spark.sql(_Q17_SQL.format(li="q17_lineitem", part="q17_part"))


@register(
    "agg_q18_large_orders",
    oracle="""
SELECT c.c_custkey, o.o_orderkey, CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
       round(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2) AS o_totalprice,
       CAST(sq.sum_qty AS DOUBLE) AS sum_qty
FROM orders o
JOIN (SELECT l_orderkey,
             sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150) sq
  ON sq.l_orderkey = o.o_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def agg_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): groupBy + HAVING feeds a
    join against orders, customer rides in as a broadcast dim.  The
    HAVING filter runs on the aggregate output BEFORE the join, so only
    qualifying orderkeys (a few % of orders) reach the shuffle join —
    the selective-aggregate-first ordering a 100 TB plan needs."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sq = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    return (
        sq.join(orders, sq["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("o_orderdate"),
            F.round(F.col("o_totalprice").cast("decimal(18,2)").cast("double"), 2).alias(
                "o_totalprice"
            ),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# integer-exact PageRank over the part co-purchase graph
# ---------------------------------------------------------------------------

_COPURCHASE_EDGES_SQL = """
SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
       CAST(1 AS BIGINT) AS w
FROM lineitem a JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
"""


def _pagerank_oracle() -> str:
    from javascript_vector_database_spark.operators.graph import sql_pagerank

    inner = sql_pagerank(_COPURCHASE_EDGES_SQL)
    return f"SELECT node, rank AS pagerank FROM ({inner})"


@register("graph_pagerank_copurchase", oracle=_pagerank_oracle())
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts sharing an order
    are linked — the association graph a recommender mines), 3 integer-
    exact power iterations (operators/graph.py:pagerank with w = 1 on
    every edge: BIGINT fixed-point ranks, DIV floor division —
    deterministic where float PageRank is shuffle-order-dependent).

    Scale shape: the edge build is a self-equi-join on l_orderkey whose
    per-order fan-out is bounded by order SIZE (groups of ~4, never a
    hot-key blowup); each round is one join + one map-side-combined sum
    on the edge list, the standard Pregel round.  The operator pins the
    edge list once for all 3 rounds."""
    from javascript_vector_database_spark.operators.graph import pagerank
    from javascript_vector_database_spark.registry.decorrelated import (
        symmetric_copurchase_edges,
    )

    edges = symmetric_copurchase_edges(spark, sf_dir).withColumn(
        "w", F.lit(1).cast("long")
    )
    return pagerank(edges).select("node", F.col("rank").alias("pagerank"))


# ---------------------------------------------------------------------------
# inter-event dwell times, ntile deciles, z-score outliers, relational
# division
# ---------------------------------------------------------------------------

_DWELL_ORACLE = """
WITH seq AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         lead(CAST(floor(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS nxt
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_gaps,
       round(CAST(sum(nxt - s) AS DOUBLE) / count(*), 6) AS avg_gap_s,
       CAST(min(nxt - s) AS BIGINT) AS min_gap_s,
       CAST(max(nxt - s) AS BIGINT) AS max_gap_s
FROM seq WHERE nxt IS NOT NULL
GROUP BY event_type
"""


@register("events_dwell_stats", oracle=_DWELL_ORACLE)
def events_dwell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event dwell-time stats: the gap from each event to the same
    user's NEXT event (any type), attributed to the earlier event's
    type.  One (user)-partitioned sort feeds the lead(); gaps are exact
    integer seconds (timestamp->long truncation is floor on both
    engines), so only the final avg division is float."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    s = F.col("ts").cast("long")
    seq = ev.select(
        "event_type", s.alias("s"), F.lead(s).over(w).alias("nxt")
    ).where(F.col("nxt").isNotNull())
    gap = F.col("nxt") - F.col("s")
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.round(F.sum(gap).cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_gap_s"
        ),
        F.min(gap).cast("bigint").alias("min_gap_s"),
        F.max(gap).cast("bigint").alias("max_gap_s"),
    )


_NTILE_ORACLE = """
WITH d AS (
  SELECT n_chars,
         ntile(10) OVER (ORDER BY n_chars ASC, doc_id ASC) AS decile
  FROM documents
)
SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM d GROUP BY decile
"""


@register("profile_ntile_deciles", oracle=_NTILE_ORACLE)
def profile_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-count decile assignment (ntile over a doc_id-tiebroken
    total order — deterministic cross-engine) summarized per decile.

    Scale shape: ranks through :func:`operators.rank.global_row_number`
    (P range-partitioned parallel sorts + broadcast offsets) and assigns
    the decile with the closed-form integer :func:`_exact_ntile` — the
    same de-ntile rewrite as customer_rfm_segments, so no unpartitioned
    window ever sorts the document grain."""
    from javascript_vector_database_spark.operators.rank import (
        global_row_number,
    )

    docs = load_table(spark, sf_dir, "documents").select("n_chars", "doc_id")
    ranked = global_row_number(
        docs, [F.col("n_chars").asc(), F.col("doc_id").asc()], out="__rn"
    )
    n = ranked.count()
    return (
        ranked.select("n_chars", _exact_ntile("__rn", n, 10).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


_ZSCORE_ORACLE = """
WITH s AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sx,
         sum(CAST(o_totalprice AS DECIMAL(18,2))
             * CAST(o_totalprice AS DECIMAL(18,2))) AS sxx
  FROM orders GROUP BY 1
),
z AS (
  SELECT o.o_orderkey, o.o_orderpriority,
         round(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2)
           AS o_totalprice,
         (CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
          - CAST(s.sx AS DOUBLE) / s.n)
         / sqrt((CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE)
                 * CAST(s.sx AS DOUBLE) / s.n) / (s.n - 1)) AS zval
  FROM orders o JOIN s ON s.o_orderpriority = o.o_orderpriority
)
SELECT o_orderkey, o_orderpriority, o_totalprice, round(zval, 6) AS z
FROM z WHERE abs(zval) >= 2.0
"""


@register("orders_price_outliers", oracle=_ZSCORE_ORACLE)
def orders_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority z-score outliers (|z| >= 2) of order value.  Moments
    are exact decimal sums; mean and sample-std expressions have the
    IDENTICAL shape on both engines, so z agrees bit-for-bit and the
    threshold never flakes.  The 5-row stats side broadcast-joins back
    onto the scan."""
    orders = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    s = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec).alias("sx"),
        F.sum(dec * dec).alias("sxx"),
    )
    x = dec.cast("double")
    mean = F.col("sx").cast("double") / F.col("n")
    std = F.sqrt(
        (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    z = (x - mean) / std
    return (
        orders.join(F.broadcast(s), "o_orderpriority")
        .where(F.abs(z) >= 2.0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(x, 2).alias("o_totalprice"),
            F.round(z, 6).alias("z"),
        )
    )


_DIVISION_ORACLE = """
WITH target AS (SELECT p_partkey FROM part
                WHERE p_brand = 'Brand#6' AND p_size <= 3),
cov AS (
  SELECT l.l_suppkey, count(DISTINCT l.l_partkey) AS n_parts
  FROM lineitem l JOIN target t ON t.p_partkey = l.l_partkey
  GROUP BY 1
)
SELECT c.l_suppkey, s.s_name, CAST(c.n_parts AS BIGINT) AS n_parts
FROM cov c JOIN supplier s ON s.s_suppkey = c.l_suppkey
WHERE c.n_parts = (SELECT count(*) FROM target)
"""


@register("division_suppliers_full_brand", oracle=_DIVISION_ORACLE)
def division_suppliers_full_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION: suppliers who have shipped EVERY part of the
    divisor set (Brand#6, size <= 3) — the for-all query join/semi-join
    algebra cannot express directly; here as the count-matching form:
    one broadcast semi-restriction of lineitem to the divisor, a
    distinct-count per supplier, and an equality against the divisor
    cardinality (a bounded driver-side count of a FILTERED DIMENSION —
    the same bounded-collect class as the IVF centroid fetch)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    # divisor: the Brand#6 small-size part set
    target = part.where(
        (F.col("p_brand") == "Brand#6") & (F.col("p_size") <= 3)
    ).select("p_partkey")
    n_target = target.count()
    cov = (
        li.join(F.broadcast(target), li["l_partkey"] == target["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.count_distinct("l_partkey").cast("bigint").alias("n_parts"))
        .where(F.col("n_parts") == n_target)
    )
    return cov.join(F.broadcast(sup), cov["l_suppkey"] == sup["s_suppkey"]).select(
        "l_suppkey", "s_name", "n_parts"
    )


_WINSOR_ORACLE = """
WITH r AS (
  SELECT o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) ASC,
                                     o_orderkey ASC) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
),
b AS (
  SELECT o_orderpriority,
         max(CASE WHEN rn = (5 * n + 99) // 100 THEN p END) AS lo,
         max(CASE WHEN rn = (95 * n + 99) // 100 THEN p END) AS hi,
         CAST(max(n) AS BIGINT) AS n
  FROM r GROUP BY 1
)
SELECT r.o_orderpriority, b.n AS n_orders,
       floor(CAST(sum(r.p) * 1000000 AS DOUBLE) / b.n) / 1000000.0
         AS raw_mean,
       floor(CAST(sum(least(greatest(r.p, b.lo), b.hi)) * 1000000 AS DOUBLE)
             / b.n) / 1000000.0 AS winsorized_mean
FROM r JOIN b USING (o_orderpriority)
GROUP BY 1, 2
"""


@register("orders_winsorized_mean", oracle=_WINSOR_ORACLE)
def orders_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group mean: clip order values at the group's exact
    type-1 p05/p95 boundaries (integer rank ceil(q*n), orderkey
    tiebreak — no interpolation, so the boundary VALUES are exact
    decimals) and average the clipped decimals.  One ranked sort per
    group feeds both the boundary pick (conditional agg) and the
    clipped sum; only the two final mean divisions are float.  The
    robust counterpart of orders_price_outliers' z-gate."""
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    w = W.partitionBy("o_orderpriority").orderBy(
        p.asc(), F.col("o_orderkey").asc()
    )
    r = orders.select(
        "o_orderpriority",
        p.alias("p"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("o_orderpriority")).alias("n"),
    )
    lo_rank = F.expr("(5 * n + 99) DIV 100")
    hi_rank = F.expr("(95 * n + 99) DIV 100")
    b = r.groupBy("o_orderpriority").agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("p"))).alias("lo"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("p"))).alias("hi"),
        F.max("n").cast("bigint").alias("n"),
    )
    clipped = F.least(F.greatest(F.col("p"), F.col("lo")), F.col("hi"))
    return (
        r.join(F.broadcast(b.drop("n")), "o_orderpriority")
        .groupBy("o_orderpriority", "n")
        # means are truncated at micro precision via floor, NOT round:
        # the exact quotient can land exactly on a rounding tie (decimal
        # sums over n = 2^a*5^b groups terminate), and Spark rounds
        # HALF_UP where DuckDB rounds half-even — floor of an exact-
        # integer-valued double has no tie to disagree on
        .agg(
            (
                F.floor((F.sum("p") * 1000000).cast("double") / F.col("n"))
                / F.lit(1000000.0)
            ).alias("raw_mean"),
            (
                F.floor(
                    (F.sum(clipped) * 1000000).cast("double") / F.col("n")
                )
                / F.lit(1000000.0)
            ).alias("winsorized_mean"),
        )
        .select(
            "o_orderpriority",
            F.col("n").alias("n_orders"),
            "raw_mean",
            "winsorized_mean",
        )
    )


_MAD_ORACLE = """
WITH r AS (
  SELECT o_orderpriority, o_orderkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) ASC,
                                     o_orderkey ASC) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
),
med AS (
  SELECT o_orderpriority, max(CASE WHEN rn = (n + 1) // 2 THEN p END) AS m
  FROM r GROUP BY 1
),
dev AS (
  SELECT r.o_orderpriority, r.o_orderkey, r.p, abs(r.p - med.m) AS ad, med.m
  FROM r JOIN med USING (o_orderpriority)
),
dr AS (
  SELECT o_orderpriority, ad,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY ad ASC) AS rn,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM dev
),
mad AS (
  SELECT o_orderpriority, max(CASE WHEN rn = (n + 1) // 2 THEN ad END) AS mad
  FROM dr GROUP BY 1
)
SELECT d.o_orderkey, d.o_orderpriority,
       round(CAST(d.p AS DOUBLE), 2) AS o_totalprice,
       round(CAST(d.m AS DOUBLE), 2) AS median_price,
       round(CAST(mad.mad AS DOUBLE), 2) AS mad
FROM dev d JOIN mad USING (o_orderpriority)
WHERE d.ad > 5 * mad.mad
"""


@register("orders_mad_outliers", oracle=_MAD_ORACLE)
def orders_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outliers — the robust sibling of the
    z-score gate, with ZERO float in the decision: the type-1 median
    (integer rank (n+1) DIV 2, orderkey tiebreak), the absolute
    deviations, the MAD, and the |x - med| > 5*MAD gate are all exact
    DECIMAL comparisons.  Two ranked windows + two conditional-agg
    boundary picks; floats appear only in the display rounding."""
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    wr = W.partitionBy("o_orderpriority").orderBy(p.asc(), F.col("o_orderkey").asc())
    r = orders.select(
        "o_orderpriority",
        "o_orderkey",
        p.alias("p"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("o_orderpriority")).alias("n"),
    )
    med = r.groupBy("o_orderpriority").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("p"))).alias("m")
    )
    dev = r.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        "o_orderkey",
        "p",
        "m",
        F.abs(F.col("p") - F.col("m")).alias("ad"),
    )
    wd = W.partitionBy("o_orderpriority").orderBy(F.col("ad").asc())
    dr = dev.select(
        "o_orderpriority",
        "ad",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("o_orderpriority")).alias("n"),
    )
    mad = dr.groupBy("o_orderpriority").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("ad"))).alias(
            "mad"
        )
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .where(F.col("ad") > F.lit(5) * F.col("mad"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("p").cast("double"), 2).alias("o_totalprice"),
            F.round(F.col("m").cast("double"), 2).alias("median_price"),
            F.round(F.col("mad").cast("double"), 2).alias("mad"),
        )
    )


#: minimum pair support for an association rule
_BASKET_MIN_SUPPORT = 3

_BASKET_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT a.l_orderkey AS o, a.l_partkey AS pa, b.l_partkey AS pb
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
sup AS (
  SELECT pa, pb, CAST(count(*) AS BIGINT) AS support
  FROM pairs GROUP BY 1, 2 HAVING count(*) >= {_BASKET_MIN_SUPPORT}
),
item AS (
  SELECT l_partkey, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
  FROM lineitem GROUP BY 1
)
SELECT s.pa, s.pb, s.support,
       floor(CAST(s.support * 1000000 AS DOUBLE) / ia.n_orders) / 1000000.0
         AS conf_a_to_b,
       floor(CAST(s.support * 1000000 AS DOUBLE) / ib.n_orders) / 1000000.0
         AS conf_b_to_a
FROM sup s
JOIN item ia ON ia.l_partkey = s.pa
JOIN item ib ON ib.l_partkey = s.pb
"""


@register("basket_association_rules", oracle=_BASKET_ORACLE)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over part co-occurrence: pair
    support (orders containing both) with confidence in both directions
    (support / item order-count, tie-free floor-at-micro).  The pair
    build is the same bounded per-order fan-out self-join as the
    PageRank edge list; support pruning (HAVING) runs BEFORE the item
    joins, so only frequent pairs reach them — the apriori property as
    plan structure."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "o").where(F.col("pa") < F.col("pb")).distinct()
    )
    sup = (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= _BASKET_MIN_SUPPORT)
    )
    item = li.groupBy("l_partkey").agg(
        F.count_distinct("l_orderkey").cast("long").alias("n_orders")
    )
    conf = lambda n: (  # noqa: E731
        F.floor((F.col("support") * 1000000).cast("double") / F.col(n))
        / F.lit(1000000.0)
    )
    return (
        sup.join(
            F.broadcast(item.select(F.col("l_partkey").alias("pa"),
                                    F.col("n_orders").alias("na"))), "pa"
        )
        .join(
            F.broadcast(item.select(F.col("l_partkey").alias("pb"),
                                    F.col("n_orders").alias("nb"))), "pb"
        )
        .select(
            "pa", "pb", "support",
            conf("na").alias("conf_a_to_b"),
            conf("nb").alias("conf_b_to_a"),
        )
    )


_OLS_ORACLE = """
WITH weekly AS (
  SELECT o_orderpriority AS priority,
         datediff('day', DATE '1970-01-05',
                  CAST(date_trunc('week', o_orderdate) AS DATE)) // 7 AS x,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS y_cents
  FROM orders GROUP BY 1, 2
),
s AS (
  SELECT priority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y_cents) AS BIGINT) AS sy,
         CAST(sum(x * y_cents) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM weekly GROUP BY 1
)
SELECT priority, n AS n_weeks,
       round(CAST(CAST(n AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0))
                  - CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))
                  AS DOUBLE)
             / CAST((n * sxx - sx * sx) * 100 AS DOUBLE), 6)
         AS slope_per_week,
       round(CAST(CAST(sy AS DECIMAL(19,0)) * CAST(sxx AS DECIMAL(19,0))
                  - CAST(sx AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0))
                  AS DOUBLE)
             / CAST((n * sxx - sx * sx) * 100 AS DOUBLE), 6)
         AS intercept
FROM s
"""


@register("orders_weekly_trend_ols", oracle=_OLS_ORACLE)
def orders_weekly_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority OLS trend of weekly revenue — slope and intercept
    from the closed-form normal equations over EXACT integer sums:
    weekly revenue is summed as decimal then carried in BIGINT cents, x
    is the integer week index (Monday-epoch DIV 7), and
    ``slope = (n*Σxy − Σx*Σy) / (n*Σx² − (Σx)²)`` — every operand a
    shuffle-order-proof BIGINT (the PageRank determinism discipline
    applied to regression), with ONE double division at the end.  Bound
    check: Σxy <= weeks x max_week x max_cents ~ 1e15 « 2^63.  Two
    map-side-combined groupBys (fact -> (priority, week) -> priority);
    no window, no collect — the trend-extraction shape a monitoring
    pipeline runs over any metric at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.expr(
            "datediff(CAST(date_trunc('week', o_orderdate) AS DATE), "
            "DATE '1970-01-05') DIV 7"
        ).alias("x"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("y_cents")
    )
    s = weekly.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y_cents").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y_cents")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    # numerators in DECIMAL: sy*sxx reaches ~1e21 (past int64) at sf0.01
    # already — decimal(19,0) x decimal(19,0) stays exact to 38 digits on
    # both engines; the denominator (n*sxx ~ 1e12) stays BIGINT
    d19 = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * 100
    return s.select(
        "priority",
        F.col("n").alias("n_weeks"),
        F.round(
            (d19("n") * d19("sxy") - d19("sx") * d19("sy")).cast("double")
            / den.cast("double"),
            6,
        ).alias("slope_per_week"),
        F.round(
            (d19("sy") * d19("sxx") - d19("sx") * d19("sxy")).cast("double")
            / den.cast("double"),
            6,
        ).alias("intercept"),
    )


_RFM_ORACLE = """
WITH base AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY 1
),
scored AS (
  SELECT o_custkey, frequency,
         round(CAST(monetary AS DOUBLE), 2) AS monetary,
         ntile(4) OVER (ORDER BY last_order DESC, o_custkey ASC) AS r_quartile,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_quartile,
         ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_quartile
  FROM base
)
SELECT r_quartile, f_quartile, m_quartile,
       CAST(count(*) AS BIGINT) AS n_customers,
       round(CAST(sum(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_monetary
FROM scored GROUP BY 1, 2, 3
"""


def _exact_ntile(rn_col: str, n: int, k: int) -> Column:
    """ntile(k) of row ``rn_col`` (1-based row_number) among ``n`` total
    rows, as a closed-form INTEGER expression: with q = n div k and
    r = n mod k, the first r buckets hold q+1 rows (SQL-standard ntile,
    verified against DuckDB), so
    ``bucket = ceil(rn/(q+1))`` up to the r*(q+1) cut and
    ``r + ceil((rn-cut)/q)`` past it — all DIV arithmetic, exact at any
    BIGINT row count."""
    q, r = divmod(n, k)
    if q == 0:  # n < k: one row per bucket
        return F.col(rn_col).cast("int")
    cut = r * (q + 1)
    return F.expr(
        f"CAST(CASE WHEN {rn_col} <= {cut} "
        f"THEN ({rn_col} + {q}) DIV {q + 1} "
        f"ELSE {r} + (({rn_col} - {cut}) + {q - 1}) DIV {q} END AS INT)"
    )


@register("customer_rfm_segments", oracle=_RFM_ORACLE)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: quartile-bucket customers independently by
    recency, frequency, and monetary value, then profile the 64
    segments (64-key groupBy).

    Scale shape (r6 verdict item #2): each quartile dimension ranks
    through :func:`operators.rank.global_row_number` — P parallel
    range-partitioned sorts + broadcast offsets — and the bucket is the
    closed-form :func:`_exact_ntile` over that rank, so NO unpartitioned
    ``ntile`` window ever sorts the full customer grain (the r5-flagged
    shape fixed on pareto/percent_rank and previously missed here).
    Custkey tiebreaks make each order total, so ranks (hence buckets)
    are deterministic and equal the oracle's ntile."""
    from javascript_vector_database_spark.operators.rank import (
        global_row_number,
    )

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    # monetary is decimal(18,2): round(cast double, 2) is value-identical,
    # so ordering by the rounded column matches the oracle's ntile order
    scored = base.select(
        "o_custkey",
        "last_order",
        "frequency",
        F.round(F.col("monetary").cast("double"), 2).alias("monetary"),
    )
    scored = global_row_number(
        scored,
        [F.col("last_order").desc(), F.col("o_custkey").asc()],
        out="__rn_r",
    )
    # one bounded scalar off the checkpointed rank input (pareto idiom);
    # the count materializes the checkpoint the later stages reuse
    n = scored.count()
    dims = [
        ("r_quartile", "__rn_r", None),
        ("f_quartile", "__rn_f", [F.col("frequency").desc(), F.col("o_custkey").asc()]),
        ("m_quartile", "__rn_m", [F.col("monetary").desc(), F.col("o_custkey").asc()]),
    ]
    for quart, rn_name, order in dims:
        if order is not None:
            scored = global_row_number(scored, order, out=rn_name)
        scored = scored.withColumn(quart, _exact_ntile(rn_name, n, 4)).drop(
            rn_name
        )
    return scored.groupBy("r_quartile", "f_quartile", "m_quartile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(
            F.sum(F.col("monetary").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total_monetary"),
    )


@register(
    "graph_degree_histogram",
    oracle=f"""
WITH edges AS ({_COPURCHASE_EDGES_SQL}),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
        FROM edges GROUP BY src)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
""",
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the structure
    profile run before any iterative graph algorithm (a heavy tail
    here predicts PageRank/CC hot keys; see graph_pagerank_copurchase).

    r14: reads the SHARED materialized pair list (_copurchase_edges —
    the same write-time edge table every other graph row consumes)
    instead of replaying the lineitem self-join + distinct; a node's
    degree is its appearance count across both pair endpoints, which
    equals the symmetric edge list's per-src count row for row."""
    from javascript_vector_database_spark.registry.decorrelated import (
        _copurchase_edges,
    )

    pairs = _copurchase_edges(spark, sf_dir)
    ends = pairs.select(F.col("src").alias("n")).unionAll(
        pairs.select(F.col("dst").alias("n"))
    )
    deg = ends.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


_PARETO_ORACLE = """
WITH c AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
),
r AS (
  SELECT o_custkey, rev,
         row_number() OVER (ORDER BY rev DESC, o_custkey ASC) AS rn,
         sum(rev) OVER (ORDER BY rev DESC, o_custkey ASC
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(rev) OVER () AS tot,
         count(*) OVER () AS n
  FROM c
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       floor(CAST(max(cum) * 1000000 AS DOUBLE) / max(CAST(tot AS DOUBLE)))
         / 1000000.0 AS cum_revenue_share
FROM (SELECT *, CAST(ceil(rn * 10.0 / n) AS INT) AS decile FROM r)
GROUP BY decile
"""


@register("customer_pareto_share", oracle=_PARETO_ORACLE)
def customer_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 report): customers ranked by
    revenue, cumulative share at each population decile.

    Scale shape (r5 verdict item #2): the rank comes from
    :func:`operators.rank.global_row_number` — P parallel range-
    partitioned sorts + broadcast offsets — NOT an unpartitioned
    window, so no single task ever sorts the full customer grain.  The
    per-row running revenue the oracle words as ``max(cum)`` per decile
    equals the running sum of per-decile revenue totals, so the only
    cumulative window left runs over the 10 decile rows (bounded).
    Exact decimal sums throughout; share division is the tie-free
    floor-at-micro.  decile = ceil(rn*10/n), integer-exact."""
    from javascript_vector_database_spark.operators.rank import (
        global_row_number,
    )

    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    ranked = global_row_number(
        c, [F.col("rev").desc(), F.col("o_custkey").asc()]
    )
    # n is one bounded scalar off the checkpointed rank input — inlined
    # as a literal (the ann_scale idiom), never a keyless 1-row join
    n = ranked.count()
    d = ranked.withColumn(
        "decile", F.ceil(F.col("rn") * 10.0 / F.lit(n)).cast("int")
    )
    per = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev").alias("drev"),
    )
    # cumulative-over-deciles: 10 bounded rows, exact decimal
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per.select(
        "decile",
        "n_customers",
        (
            F.floor(
                (F.sum("drev").over(wc) * 1000000).cast("double")
                / F.sum("drev").over(W.partitionBy()).cast("double")
            )
            / F.lit(1000000.0)
        ).alias("cum_revenue_share"),
    )


_QUALITY_CHECKS_ORACLE = """
SELECT 'orders_pk_unique' AS check_name,
       CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'orders_custkey_not_null',
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'orders_fk_customer',
       CAST(count(*) AS BIGINT)
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem_fk_orders',
       CAST(count(*) AS BIGINT)
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'lineitem_qty_positive',
       CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'events_ts_in_range',
       CAST(sum(CASE WHEN ts < TIMESTAMP '2020-01-01 00:00:00'
                       OR ts > TIMESTAMP '2030-01-01 00:00:00'
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM events
"""


@register("quality_checks_report", oracle=_QUALITY_CHECKS_ORACLE)
def quality_checks_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt-style data-quality suite as ONE query: pk uniqueness,
    not-null, two referential-integrity anti-joins, a domain check, and
    a timestamp range check — each arm a count of VIOLATIONS (all 0 on
    healthy data, and the zeros are what the report proves).  Anti-join
    arms broadcast the dim side; every other arm rides its scan."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def arm(name, df):
        return df.select(
            F.lit(name).alias("check_name"),
            F.col("n_violations").cast("bigint").alias("n_violations"),
        )

    arms = [
        arm(
            "orders_pk_unique",
            orders.agg(
                (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias(
                    "n_violations"
                )
            ),
        ),
        arm(
            "orders_custkey_not_null",
            orders.agg(
                F.sum(
                    F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
                ).alias("n_violations")
            ),
        ),
        arm(
            "orders_fk_customer",
            orders.join(
                F.broadcast(cust),
                orders["o_custkey"] == cust["c_custkey"],
                "left_anti",
            ).agg(F.count(F.lit(1)).alias("n_violations")),
        ),
        arm(
            "lineitem_fk_orders",
            li.join(
                orders.select("o_orderkey"),
                li["l_orderkey"] == F.col("o_orderkey"),
                "left_anti",
            ).agg(F.count(F.lit(1)).alias("n_violations")),
        ),
        arm(
            "lineitem_qty_positive",
            li.agg(
                F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias(
                    "n_violations"
                )
            ),
        ),
        arm(
            "events_ts_in_range",
            ev.agg(
                F.sum(
                    F.when(
                        (F.col("ts") < F.lit("2020-01-01 00:00:00").cast("timestamp"))
                        | (
                            F.col("ts")
                            > F.lit("2030-01-01 00:00:00").cast("timestamp")
                        ),
                        1,
                    ).otherwise(0)
                ).alias("n_violations")
            ),
        ),
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


_WOW_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
)
SELECT week,
       round(CAST(rev AS DOUBLE), 2) AS revenue,
       floor(CAST((rev - lag(rev) OVER (ORDER BY week ASC)) * 1000000
                  AS DOUBLE)
             / CAST(lag(rev) OVER (ORDER BY week ASC) AS DOUBLE))
         / 1000000.0 AS wow_growth
FROM weekly
"""


@register("orders_wow_growth", oracle=_WOW_ORACLE)
def orders_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth: exact decimal weekly sums, growth
    as the tie-free floor-at-micro ratio of the exact delta over the
    prior week (first week NULL).  One coarse-key groupBy + one tiny
    ordered window."""
    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    w = W.orderBy(F.col("week").asc())
    prev = F.lag("rev").over(w)
    return weekly.select(
        "week",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        (
            F.floor(
                ((F.col("rev") - prev) * 1000000).cast("double")
                / prev.cast("double")
            )
            / F.lit(1000000.0)
        ).alias("wow_growth"),
    )


@register(
    "agg_q10_returned_items",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name,
       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
         AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
""",
)
def agg_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — the returned-items customer report: the
    returnflag filter prunes lineitem AT THE SCAN (pushed filter), the
    snowflake dims broadcast, one groupBy on custkey, TakeOrdered
    top-20.  Exact decimal revenue."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
                    "double"
                ),
                4,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "agg_q4_late_orders",
    oracle="""
SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY 1
""",
)
def agg_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — orders with at least one late lineitem, counted
    by priority: the EXISTS compiles to a LEFT SEMI join (one probe per
    order, never a fan-out then dedup), then a 5-key groupBy."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (li["l_orderkey"] == orders["o_orderkey"])
        & (li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


@register(
    "lineitem_ship_latency",
    oracle="""
SELECT CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
         AS latency_days,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1
""",
)
def lineitem_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution in whole days — the SLA
    histogram (exact integer day diffs, one fact-fact equi-join, a
    bounded-key groupBy)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(orders, li["l_orderkey"] == F.col("o_orderkey"))
        .select(
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            )
            .cast("bigint")
            .alias("latency_days")
        )
        .groupBy("latency_days")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))
    )


_TRAILING_ORACLE = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01',
                        CAST(o_orderdate AS DATE)) AS BIGINT) AS day_idx,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
)
SELECT day_idx,
       round(CAST(rev AS DOUBLE), 2) AS revenue,
       round(CAST(sum(rev) OVER (ORDER BY day_idx ASC
                                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS DOUBLE), 2) AS trailing_7d
FROM daily
"""


@register("orders_trailing_week_revenue", oracle=_TRAILING_ORACLE)
def orders_trailing_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day revenue via a RANGE window frame — the VALUE-based
    frame (gaps in the date axis shrink the window) that a ROWS frame
    cannot express; the integer day index keeps the frame bounds
    engine-portable.  Exact decimal sums over the tiny daily rollup."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("long")
    daily = orders.groupBy(day.alias("day_idx")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    w = W.orderBy(F.col("day_idx").asc()).rangeBetween(-6, 0)
    return daily.select(
        "day_idx",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.round(F.sum("rev").over(w).cast("double"), 2).alias("trailing_7d"),
    )


_PRANK_ORACLE = """
WITH r AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p,
         rank() OVER (PARTITION BY o_orderpriority
                      ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) ASC) AS rk,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderkey, o_orderpriority,
       round(CAST(p AS DOUBLE), 2) AS o_totalprice,
       floor(CAST((rk - 1) * 1000000 AS DOUBLE) / (n - 1)) / 1000000.0
         AS pct_rank
FROM r
-- exact integer form of percent_rank >= 0.99
WHERE (rk - 1) * 100 >= 99 * (n - 1)
"""


@register("orders_percent_rank_top", oracle=_PRANK_ORACLE)
def orders_percent_rank_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-percentile orders per priority via rank(): the >= 0.99 gate
    is the exact integer cross-multiplication (rk-1)*100 >= 99*(n-1) —
    never a float percent_rank comparison; the displayed pct_rank uses
    the tie-free floor-at-micro.  rank() (not row_number) so price ties
    share a percentile.

    Scale shape (r5 verdict item #3): o_orderpriority has 5 distinct
    values, so ``rank() OVER (PARTITION BY priority)`` would sort n/5
    rows in ONE task per priority.  The rank instead comes from
    :func:`operators.rank.grouped_global_rank` (range partition on
    (priority, price) → P parallel local ranks + bounded offsets), and
    the per-priority count joins in as a broadcast 5-row aggregate."""
    from javascript_vector_database_spark.operators.rank import (
        grouped_global_rank,
    )

    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    base = orders.select("o_orderkey", "o_orderpriority", p.alias("p"))
    ranked = grouped_global_rank(
        base, "o_orderpriority", F.col("p"), out="rk"
    )
    n_by = base.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    r = ranked.join(F.broadcast(n_by), "o_orderpriority")
    return r.where((F.col("rk") - 1) * 100 >= 99 * (F.col("n") - 1)).select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("p").cast("double"), 2).alias("o_totalprice"),
        (
            F.floor(((F.col("rk") - 1) * 1000000).cast("double") / (F.col("n") - 1))
            / F.lit(1000000.0)
        ).alias("pct_rank"),
    )


_FILL_RATE_ORACLE = """
SELECT l.l_suppkey, s.s_name,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                    CAST(l.l_shipdate AS DATE)) <= 30
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
       floor(CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                          CAST(l.l_shipdate AS DATE)) <= 30
                           THEN 1 ELSE 0 END) * 1000000 AS DOUBLE)
             / count(*)) / 1000000.0 AS fill_rate
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
GROUP BY 1, 2
HAVING count(*) >= 20
"""


@register("supplier_fill_rate", oracle=_FILL_RATE_ORACLE)
def supplier_fill_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier 30-day fill rate — the entity scorecard form of the
    shipping-latency histogram: one fact-fact join, broadcast supplier
    dim, integer on-time counts with the tie-free floor-at-micro rate,
    a HAVING floor so thin suppliers don't report noise."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    sup = load_table(spark, sf_dir, "supplier")
    on_time = F.when(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        <= 30,
        1,
    ).otherwise(0)
    g = (
        li.join(orders, li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("l_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(on_time).cast("bigint").alias("n_on_time"),
        )
        .where(F.col("n_items") >= 20)
    )
    return g.select(
        "l_suppkey",
        "s_name",
        "n_items",
        "n_on_time",
        (
            F.floor((F.col("n_on_time") * 1000000).cast("double") / F.col("n_items"))
            / F.lit(1000000.0)
        ).alias("fill_rate"),
    )


@register(
    "orders_basket_size_hist",
    oracle="""
SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders
FROM (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1)
GROUP BY n_lines
""",
)
def orders_basket_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution (lineitems per order) — the structural
    profile that sizes every per-order fan-out in this repo (the
    co-purchase self-join, Q18's HAVING): two map-side-combined
    groupBys, final key domain = distinct basket sizes."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    return per.groupBy("n_lines").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )


# ---------------------------------------------------------------------------
# round 6: Q21-shape sole-late supplier, triangle count, attribution
# ---------------------------------------------------------------------------

_LATE_DAYS = 100

_Q21_ORACLE = f"""
WITH li AS (
  SELECT l.l_orderkey, l.l_suppkey,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) > {_LATE_DAYS} AS late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT l.l_suppkey, CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
FROM li l
WHERE l.late
  AND EXISTS (SELECT 1 FROM li x
              WHERE x.l_orderkey = l.l_orderkey
                AND x.l_suppkey <> l.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM li y
                  WHERE y.l_orderkey = l.l_orderkey
                    AND y.l_suppkey <> l.l_suppkey AND y.late)
GROUP BY 1 ORDER BY n_orders DESC, l_suppkey ASC LIMIT 20
"""


@register("supplier_sole_late_q21", oracle=_Q21_ORACLE)
def supplier_sole_late_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who were the ONLY late shipper in a
    multi-supplier order (the blame report).  The oracle keeps Q21's
    textbook EXISTS / NOT EXISTS pair; the Spark plan compiles the same
    predicate to ONE per-order aggregate joined back — n_supps > 1 ==
    the EXISTS, distinct-late-suppliers == 1 (I am late, so the one is
    me) == the NOT EXISTS.  At 100 TB that is one map-side-combined
    groupBy over lineitem instead of two additional lineitem-wide
    semi/anti join shuffles; both forms are exactly equivalent."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    late = (
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        > _LATE_DAYS
    )
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "l_orderkey", "l_suppkey", late.alias("late")
    )
    # pre-reduce to the UNIQUE (order, supplier) grain with an any-late
    # flag: the two per-order countDistincts become a plain count and a
    # boolean sum (no distinct-expand), the final per-supplier
    # countDistinct becomes a plain count, and the reduced relation is
    # checkpointed — it feeds both the per-order aggregate and the final
    # join (without it the lineitem-orders join replays twice; measured
    # 3.5s -> 2.0s at sf0.1)
    per_supp = (
        j.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.col("late")).alias("supp_late"))
        .localCheckpoint(eager=True)
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum(F.col("supp_late").cast("long")).alias("n_late_supps"),
    )
    return (
        per_supp.where(F.col("supp_late"))
        .join(per_order, "l_orderkey")
        .where((F.col("n_supps") > 1) & (F.col("n_late_supps") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("l_suppkey").asc())
        .limit(20)
    )


# the canonical co-purchase pairs CTE — imported so this oracle can
# never drift from the edge list its Spark side reads (the clustering/
# link-prediction/PPR oracles interpolate the same constant)
from javascript_vector_database_spark.registry.decorrelated import (  # noqa: E402
    _COPURCHASE_PAIRS as _PAIRS_CTE,
)

_TRIANGLE_ORACLE = f"""
WITH {_PAIRS_CTE.strip()}
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM pairs e1
JOIN pairs e2 ON e2.src = e1.dst
JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst
"""


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the co-purchase graph (the clustering-coefficient
    numerator — how cliquish purchase behavior is).  Spark runs the
    degree-ordered compact-forward algorithm (operators/graph.py:
    triangle_count — wedges only at each edge's low-degree endpoint,
    O(m^1.5) bound); the oracle's id-ordered 3-way self-join counts the
    identical triangle set."""
    from javascript_vector_database_spark.operators.graph import (
        triangle_count,
    )

    # the session-cached materialized edge list (registry/decorrelated
    # builds it once per (session, sf) — four graph queries share it)
    from javascript_vector_database_spark.registry.decorrelated import (
        _copurchase_edges,
    )

    return triangle_count(_copurchase_edges(spark, sf_dir))


_ATTR_WINDOW_DAYS = 7

_ATTR_ORACLE = f"""
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(value AS DECIMAL(18,2)) AS v,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER w AS channel,
         last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                    IGNORE NULLS) OVER w AS src_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
       round(CAST(sum(v) AS DOUBLE), 2) AS attributed_revenue
FROM seq
WHERE event_type = 'purchase' AND channel IS NOT NULL
  AND date_diff('day', CAST(src_ts AS DATE), CAST(ts AS DATE))
      <= {_ATTR_WINDOW_DAYS}
GROUP BY 1
"""


@register("events_attribution_last_touch", oracle=_ATTR_ORACLE)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase's revenue credits
    the user's most recent non-purchase event within a 7-day lookback.
    One per-user window (ignore-nulls last over the strictly-preceding
    frame) carries both the channel and its timestamp — the raw stream
    is touched once and the shuffle partitions by user, so no global
    sort exists at any user count.  Exact decimal revenue sums."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("channel"),
        F.last(F.when(non_purchase, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("src_ts"),
    )
    return (
        seq.where(
            (F.col("event_type") == "purchase")
            & F.col("channel").isNotNull()
            & (
                F.datediff(F.col("ts").cast("date"), F.col("src_ts").cast("date"))
                <= _ATTR_WINDOW_DAYS
            )
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.round(F.sum("v").cast("double"), 2).alias("attributed_revenue"),
        )
    )


_Q6_ORACLE = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4)
         AS revenue_effect,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@register("agg_q6_forecast_revenue", oracle=_Q6_ORACLE)
def agg_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical pushdown
    query — every predicate is sargable, so the parquet scan receives
    all four PushedFilters and the plan is scan -> partial agg -> one
    1-row exchange.  Exact decimal product-sum."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * dec("l_discount")).cast("double"), 4
            ).alias("revenue_effect"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


_Q7_ORACLE = """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
         AS volume
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation ns ON ns.n_nationkey = s.s_nationkey
JOIN nation nc ON nc.n_nationkey = c.c_nationkey
WHERE ns.n_nationkey < nc.n_nationkey
GROUP BY 1, 2
ORDER BY volume DESC, supp_nation ASC, cust_nation ASC
LIMIT 20
"""


@register("agg_q7_nation_volume", oracle=_Q7_ORACLE)
def agg_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (shipping volume between nations): the 6-table
    star — lineitem shuffles once onto orders; customer, supplier, and
    both nation arms broadcast (pinned with agg_regional_revenue's plan
    discipline).  Top-20 by exact decimal volume with name tiebreaks."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    ns = nat.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nat.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .where(F.col("ns_key") < F.col("nc_key"))
    )
    return (
        j.groupBy("supp_nation", "cust_nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
                    "double"
                ),
                4,
            ).alias("volume"),
        )
        .orderBy(
            F.col("volume").desc(),
            F.col("supp_nation").asc(),
            F.col("cust_nation").asc(),
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# gaps-and-islands: per-user consecutive-day activity streaks
# ---------------------------------------------------------------------------

_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
isl AS (
  SELECT user_id, d,
         d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d ASC)
                  AS INT) AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, count(*) AS len
  FROM isl GROUP BY 1, 2
),
best AS (
  SELECT user_id, max(len) AS max_streak FROM streaks GROUP BY 1
)
SELECT CAST(max_streak AS BIGINT) AS streak_days,
       CAST(count(*) AS BIGINT) AS n_users
FROM best GROUP BY 1 ORDER BY streak_days ASC
"""


@register("events_activity_streaks", oracle=_STREAKS_ORACLE)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: the longest run of CONSECUTIVE active days per
    user, reported as a streak-length histogram (the engagement-streak
    primitive behind DAU badges and churn features).  The classic
    construction: distinct (user, day) -> per-user row_number ->
    `day - row_number` is constant within a consecutive run (the island
    key) -> count per island -> max per user.  Every window and group
    key includes user_id (high cardinality), so the whole plan is one
    user-keyed shuffle followed by map-side work — no global sort, and
    the histogram output is bounded by the calendar span.  Both engines
    evaluate date - int as calendar-day subtraction."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    w = W.partitionBy("user_id").orderBy(F.col("d").asc())
    isl = days.withColumn(
        "island",
        F.date_sub(F.col("d"), F.row_number().over(w).cast("int")),
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    best = streaks.groupBy("user_id").agg(F.max("len").alias("max_streak"))
    return (
        best.groupBy(F.col("max_streak").cast("long").alias("streak_days"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.col("streak_days").asc())
    )


# ---------------------------------------------------------------------------
# distributed prefix scan: revenue milestones + exact grouped weighted median
# ---------------------------------------------------------------------------

#: milestone stride in cents ($1000): output rows scale as
#: total_revenue / stride — ~10 at sf0.001, ~1k at sf1.
MILESTONE_CENTS = 100_000

_MILESTONES_ORACLE = f"""
WITH pur AS (
  SELECT event_id, ts,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_cents
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT event_id, v_cents,
         sum(v_cents) OVER (ORDER BY ts ASC, event_id ASC
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM pur
)
SELECT CAST(cum // {MILESTONE_CENTS} AS BIGINT) AS milestone,
       event_id,
       CAST(cum AS BIGINT) AS cum_cents,
       CAST(cum // {MILESTONE_CENTS}
            - (cum - v_cents) // {MILESTONE_CENTS} AS BIGINT) AS n_crossed
FROM c
WHERE cum // {MILESTONE_CENTS} > (cum - v_cents) // {MILESTONE_CENTS}
ORDER BY milestone ASC
"""


@register("events_revenue_milestones", oracle=_MILESTONES_ORACLE)
def events_revenue_milestones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The purchase events at which cumulative revenue crosses each
    $1000 milestone — an exact EVENT-GRAIN running total, the one shape
    a naive ``sum() OVER (ORDER BY ts)`` turns into a single-partition
    sort of the whole fact table.  Runs through
    :func:`operators.prefix.global_prefix_sum` (Blelloch two-phase
    scan): P parallel local cumulative sums over range-partitioned
    slices plus broadcast per-partition offsets, so the only
    ``__pid``-ordered window sees P bounded rows.  (ts, event_id) is a
    total order; purchase cents are non-negative, so the integer-floor
    crossing predicate ``cum DIV M > (cum - v) DIV M`` agrees with
    DuckDB's ``//`` bit-for-bit.  Output is bounded by
    total_revenue / MILESTONE_CENTS, not the row count."""
    from javascript_vector_database_spark.operators.prefix import (
        global_prefix_sum,
    )

    M = MILESTONE_CENTS
    pur = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "ts",
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("v_cents"),
        )
    )
    c = global_prefix_sum(
        pur,
        [F.col("ts").asc(), F.col("event_id").asc()],
        "v_cents",
        out="cum",
    )
    return (
        c.where(F.expr(f"cum DIV {M} > (cum - v_cents) DIV {M}"))
        .select(
            F.expr(f"cum DIV {M}").alias("milestone"),
            "event_id",
            F.col("cum").alias("cum_cents"),
            F.expr(
                f"cum DIV {M} - (cum - v_cents) DIV {M}"
            ).alias("n_crossed"),
        )
        .orderBy(F.col("milestone").asc())
    )


_WMEDIAN_ORACLE = """
WITH t AS (
  SELECT l_returnflag AS ret_flag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS p_cents,
         CAST(l_quantity AS BIGINT) AS w,
         l_orderkey AS ok, l_linenumber AS ln
  FROM lineitem
),
tot AS (SELECT ret_flag, sum(w) AS tw FROM t GROUP BY 1),
c AS (
  SELECT ret_flag, p_cents, w,
         sum(w) OVER (PARTITION BY ret_flag
                      ORDER BY p_cents ASC, ok ASC, ln ASC
                      ROWS UNBOUNDED PRECEDING) AS cw
  FROM t
)
SELECT c.ret_flag,
       CAST(min(p_cents) AS BIGINT) AS wmedian_cents,
       CAST(min(tw) AS BIGINT) AS total_weight
FROM c JOIN tot USING (ret_flag)
WHERE 2 * cw >= tw AND 2 * (cw - w) < tw
GROUP BY 1 ORDER BY ret_flag ASC
"""


@register("lineitem_weighted_median", oracle=_WMEDIAN_ORACLE)
def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantity-weighted median of extended price per return flag
    — the lower weighted median: the first price (in (price, orderkey,
    linenumber) order) whose running weight reaches half the group
    total.  The sketch family answers this approximately
    (`sketch_grouped_quantiles`); this is the exact complement, and the
    3-group grain is precisely where a per-group window scan
    single-threads a 100 TB table.  Runs through
    :func:`operators.prefix.grouped_prefix_sum`: range partition on
    (flag, price, tiebreak), P parallel local cumulative sums, P x 3
    offset rows.  Weights are >= 1, so the running total is strictly
    increasing and exactly ONE row per group satisfies the crossing
    predicate ``2*cw >= tw AND 2*(cw - w) < tw`` (min() below is
    identity, kept for schema discipline).  All arithmetic is BIGINT
    cents — both engines agree bit-for-bit."""
    from javascript_vector_database_spark.operators.prefix import (
        grouped_prefix_sum,
    )

    t = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("ret_flag"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("p_cents"),
        F.col("l_quantity").cast("long").alias("w"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    tot = t.groupBy("ret_flag").agg(F.sum("w").cast("long").alias("tw"))
    c = grouped_prefix_sum(
        t,
        "ret_flag",
        [F.col("p_cents").asc(), F.col("ok").asc(), F.col("ln").asc()],
        "w",
        out="cw",
    )
    return (
        c.join(F.broadcast(tot), "ret_flag")
        .where((2 * F.col("cw") >= F.col("tw")) & (2 * (F.col("cw") - F.col("w")) < F.col("tw")))
        .groupBy("ret_flag")
        .agg(
            F.min("p_cents").cast("long").alias("wmedian_cents"),
            F.min("tw").cast("long").alias("total_weight"),
        )
        .orderBy(F.col("ret_flag").asc())
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend: median of pairwise weekly-revenue slopes
# ---------------------------------------------------------------------------

_THEIL_SEN_ORACLE = """
WITH weekly AS (
  SELECT o_orderpriority AS priority,
         datediff('day', DATE '1970-01-05',
                  CAST(date_trunc('week', o_orderdate) AS DATE)) // 7 AS x,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS y_cents
  FROM orders GROUP BY 1, 2
),
nw AS (SELECT priority, CAST(count(*) AS BIGINT) AS n_weeks
       FROM weekly GROUP BY 1),
pairs AS (
  SELECT a.priority, a.x AS ax, b.x AS bx,
         (b.y_cents - a.y_cents) * 1000000 AS num,
         b.x - a.x AS dx
  FROM weekly a JOIN weekly b
    ON b.priority = a.priority AND a.x < b.x
),
slopes AS (
  SELECT priority, ax, bx,
         (num - ((num % dx + dx) % dx)) // dx AS slope_micro
  FROM pairs
),
ranked AS (
  SELECT priority, slope_micro,
         row_number() OVER (PARTITION BY priority
                            ORDER BY slope_micro ASC, ax ASC, bx ASC) AS rn,
         count(*) OVER (PARTITION BY priority) AS n_pairs
  FROM slopes
)
SELECT r.priority, nw.n_weeks, CAST(r.n_pairs AS BIGINT) AS n_pairs,
       CAST(r.slope_micro AS BIGINT) AS ts_slope_micro
FROM ranked r JOIN nw USING (priority)
WHERE r.rn = (r.n_pairs + 1) // 2
ORDER BY priority ASC
"""


@register("orders_theil_sen_trend", oracle=_THEIL_SEN_ORACLE)
def orders_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of weekly revenue per priority: the LOW
    MEDIAN of all pairwise slopes (y_j - y_i)/(x_j - x_i) — the
    breakdown-resistant complement of orders_weekly_trend_ols (one
    blowout week drags OLS; Theil-Sen shrugs off up to ~29% outliers,
    Sen 1968, public).  Slopes are micro-scaled BIGINTs via the
    sign-safe floor division (num - pmod(num, dx)) DIV dx (dy can be
    negative; `%` follows the dividend's sign identically in both
    engines, so the non-negative-remainder form makes the division
    exact and mode-free).  The pair fan-out is weeks^2 PER PRIORITY —
    O(groups x W^2) on a W ~ hundreds weekly rollup, built by one
    broadcast self-equi-join on priority (never on the fact table: the
    raw scan collapses to (priority, week) grain first, which is the
    entire scale story).  Median extraction is a deterministic
    (slope, x_i, x_j) row_number at rank (n+1) DIV 2."""
    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.expr(
            "datediff(CAST(date_trunc('week', o_orderdate) AS DATE), "
            "DATE '1970-01-05') DIV 7"
        ).alias("x"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("y_cents")
        # 3 consumers below (n_weeks agg + both self-join sides): pin the
        # tiny rollup so the ORDERS scan runs once, not three times
    ).localCheckpoint(eager=True)
    nw = weekly.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks")
    )
    a = weekly.select("priority", F.col("x").alias("ax"), F.col("y_cents").alias("ay"))
    b = weekly.select("priority", F.col("x").alias("bx"), F.col("y_cents").alias("by"))
    pairs = (
        a.join(F.broadcast(b), "priority")
        .where(F.col("ax") < F.col("bx"))
        .select(
            "priority",
            "ax",
            "bx",
            ((F.col("by") - F.col("ay")) * 1000000).alias("num"),
            (F.col("bx") - F.col("ax")).alias("dx"),
        )
    )
    slopes = pairs.select(
        "priority",
        "ax",
        "bx",
        F.expr("(num - ((num % dx + dx) % dx)) DIV dx").alias("slope_micro"),
    )
    wp = W.partitionBy("priority")
    ranked = slopes.select(
        "priority",
        "slope_micro",
        F.row_number()
        .over(wp.orderBy(F.col("slope_micro").asc(), F.col("ax").asc(), F.col("bx").asc()))
        .alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n_pairs"),
    )
    return (
        ranked.where(F.expr("rn = (n_pairs + 1) DIV 2"))
        .join(F.broadcast(nw), "priority")
        .select(
            "priority",
            "n_weeks",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("slope_micro").cast("long").alias("ts_slope_micro"),
        )
        .orderBy(F.col("priority").asc())
    )


_MANN_KENDALL_ORACLE = """
WITH weekly AS (
  SELECT o_orderpriority AS priority,
         datediff('day', DATE '1970-01-05',
                  CAST(date_trunc('week', o_orderdate) AS DATE)) // 7 AS x,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS y_cents
  FROM orders GROUP BY 1, 2
),
pairs AS (
  SELECT a.priority,
         CASE WHEN b.y_cents > a.y_cents THEN 1
              WHEN b.y_cents < a.y_cents THEN -1 ELSE 0 END AS sgn
  FROM weekly a JOIN weekly b
    ON b.priority = a.priority AND a.x < b.x
)
SELECT priority,
       (SELECT CAST(count(*) AS BIGINT) FROM weekly w
        WHERE w.priority = p.priority) AS n_weeks,
       CAST(sum(sgn) AS BIGINT) AS s_stat,
       CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
       CASE WHEN sum(sgn) > 0 THEN 'increasing'
            WHEN sum(sgn) < 0 THEN 'decreasing'
            ELSE 'none' END AS trend
FROM pairs p GROUP BY priority
ORDER BY priority ASC
"""


@register("orders_mann_kendall", oracle=_MANN_KENDALL_ORACLE)
def orders_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend TEST over weekly revenue per priority: the
    S statistic (sum of sign(y_j - y_i) over all week pairs, Mann 1945
    / Kendall 1975 — the standard nonparametric is-there-a-trend test,
    the hypothesis-test companion of orders_theil_sen_trend's slope
    ESTIMATE; the pair shares one weekly rollup and the same
    O(groups x weeks^2) rollup-only fan-out).  Everything is a signed
    integer count — no variance/z normalization here because that needs
    a sqrt (engine-divergent last ulp); S plus the pair counts carry
    the full evidence and the caller can normalize display-side."""
    orders = load_table(spark, sf_dir, "orders")
    weekly = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.expr(
            "datediff(CAST(date_trunc('week', o_orderdate) AS DATE), "
            "DATE '1970-01-05') DIV 7"
        ).alias("x"),
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("y_cents")
        # same 3-consumer pin as orders_theil_sen_trend
    ).localCheckpoint(eager=True)
    nw = weekly.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks")
    )
    a = weekly.select("priority", F.col("x").alias("ax"), F.col("y_cents").alias("ay"))
    b = weekly.select("priority", F.col("x").alias("bx"), F.col("y_cents").alias("by"))
    sgn = (
        F.when(F.col("by") > F.col("ay"), 1)
        .when(F.col("by") < F.col("ay"), -1)
        .otherwise(0)
    )
    pairs = (
        a.join(F.broadcast(b), "priority")
        .where(F.col("ax") < F.col("bx"))
        .select("priority", sgn.alias("sgn"))
    )
    agg = pairs.groupBy("priority").agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.sum((F.col("sgn") == 1).cast("long")).cast("long").alias("n_pos"),
        F.sum((F.col("sgn") == -1).cast("long")).cast("long").alias("n_neg"),
    )
    return (
        agg.join(F.broadcast(nw), "priority")
        .select(
            "priority",
            "n_weeks",
            "s_stat",
            "n_pos",
            "n_neg",
            F.when(F.col("s_stat") > 0, "increasing")
            .when(F.col("s_stat") < 0, "decreasing")
            .otherwise("none")
            .alias("trend"),
        )
        .orderBy(F.col("priority").asc())
    )


# ---------------------------------------------------------------------------
# Gini coefficient of customer revenue (distributed exact rank consumer)
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT rev_cents,
         row_number() OVER (ORDER BY rev_cents ASC, o_custkey ASC) AS rn
  FROM per_cust
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rev_cents) AS BIGINT) AS total,
         CAST(sum(rn * rev_cents) AS BIGINT) AS weighted
  FROM ranked
)
SELECT n AS n_customers, total AS total_cents,
       CAST(floor((2.0 * CAST(weighted AS DOUBLE)
                   - CAST((n + 1) * total AS DOUBLE))
                  * 1000000.0
                  / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)))
            AS BIGINT) AS gini_micro
FROM s
"""


@register("customer_gini_revenue", oracle=_GINI_ORACLE)
def customer_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers — the
    scalar inequality metric behind customer_pareto_share's curve:
    G = (2*sum(i*x_(i)) - (n+1)*sum(x)) / (n*sum(x)) over ASCENDING
    rank i.  The global rank runs through operators/rank.py's
    distributed prefix rank (P parallel sorts + broadcast offsets —
    never a single-partition window over customers), the moment sums
    are exact BIGINTs (bound: rank*cents*n ~ n^2*cents must stay
    < 2^63 — fine to ~10^7 customers at 10^9 max cents; past that,
    lift `weighted` to DECIMAL(38) as orders_weekly_trend_ols does),
    and the one double division floors at micro precision with both
    engines fed identical int64 operands."""
    from javascript_vector_database_spark.operators.rank import (
        global_row_number,
    )

    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rev_cents")
        )
    )
    ranked = global_row_number(
        per_cust,
        [F.col("rev_cents").asc(), F.col("o_custkey").asc()],
        out="rn",
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev_cents").cast("long").alias("total"),
        F.sum(F.col("rn") * F.col("rev_cents")).cast("long").alias("weighted"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        F.floor(
            (
                F.lit(2.0) * F.col("weighted").cast("double")
                - ((F.col("n") + 1) * F.col("total")).cast("double")
            )
            * F.lit(1000000.0)
            / (F.col("n").cast("double") * F.col("total").cast("double"))
        )
        .cast("long")
        .alias("gini_micro"),
    )


# ---------------------------------------------------------------------------
# Z-order clustered layout: multi-dimensional file skipping
# ---------------------------------------------------------------------------

#: box bounds valid at EVERY sf (sf0.001's user_ids span only 0..14)
_ZBOX_USER = (3, 9)
_ZBOX_TS = ("2024-01-08 00:00:00", "2024-01-15 00:00:00")

_ZORDER_BOX_ORACLE = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_value
FROM events
WHERE user_id BETWEEN {_ZBOX_USER[0]} AND {_ZBOX_USER[1]}
  AND ts >= TIMESTAMP '{_ZBOX_TS[0]}' AND ts < TIMESTAMP '{_ZBOX_TS[1]}'
GROUP BY event_type
"""


@register("layout_zorder_box_query", oracle=_ZORDER_BOX_ORACLE)
def layout_zorder_box_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D box query served from a Z-ORDER clustered layout — the
    multi-dimensional file-skipping technique (Morton 1966; the public
    idea behind Delta/Iceberg OPTIMIZE ZORDER BY).  A time-sorted event
    log prunes time ranges but reads EVERYTHING for a user-scoped
    query; interleaving the bits of the normalized (user_id, ts) codes
    and range-partitioning + sorting the WRITE on that one z-value
    gives every file a tight min/max bounding box in BOTH dimensions,
    so parquet footers prune the box query in either dimension
    (operators/layout.py; the z column is dropped — readers see plain
    predicates, and the scan carries both ranges as PushedFilters,
    pinned by tests/test_plans.py).  Same rows as the straight scan —
    the oracle never sees the layout; the layout's VALUE is measured
    by bench extras zorder_prunable_frac vs timesort_prunable_frac
    (footer-level skippable-file fraction of this exact box under each
    layout, read back with pyarrow) and pinned directionally by
    tests/test_r10_wave.py.  At 100 TB this is a write-time clustering
    decision exactly like the IVF cell layout: one extra sort at
    ingest, every mixed-predicate scan thereafter reads a small file
    subset."""
    import os
    import tempfile

    from javascript_vector_database_spark.operators import layout

    ev = load_table(spark, sf_dir, "events")
    path = os.path.join(tempfile.mkdtemp(prefix="zorder_"), "events_z")
    layout.write_zorder_layout(
        ev, path, F.col("user_id"), F.col("ts").cast("long")
    )
    z = spark.read.parquet(path)
    out = (
        z.where(
            F.col("user_id").between(*_ZBOX_USER)
            & (F.col("ts") >= F.lit(_ZBOX_TS[0]).cast("timestamp"))
            & (F.col("ts") < F.lit(_ZBOX_TS[1]).cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_value"),
        )
    )
    # freeze before the tmp layout disappears with the registry call
    return spark.createDataFrame(out.collect(), out.schema)
