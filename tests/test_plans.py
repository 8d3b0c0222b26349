"""Physical-plan regression guards: the scale claims (§ "100 TB shape")
pinned as assertions over `explain`, so a refactor that silently degrades
a plan (full sort instead of top-k, lost pushdown, cartesian blowup,
lost partition pruning) fails CI."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from javascript_vector_database_spark import registry
from javascript_vector_database_spark.operators import ann_scale
from javascript_vector_database_spark.tables import load_table
from tests.plan_scans import (
    file_scans,
    pivot_band_bounds,
    pivot_side_bounds,
)

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_knn_exact_is_take_ordered(spark):
    """Top-k must be TakeOrderedAndProject (per-partition heap + k-row
    driver merge), never a global Sort + Limit."""
    plan = _plan(registry.queries()["knn_exact"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_knn_batch_partial_group_limit(spark):
    """Batch kNN's per-query rank filter must compile to a two-phase
    WindowGroupLimit with the Partial phase BELOW the exchange
    (InferWindowGroupLimit): each map partition emits at most k rows per
    query, so the shuffle carries parts x |Q| x k survivors — never the
    full n x |Q| scored set (round-4 verdict item #1)."""
    plan = _plan(registry.queries()["knn_batch_exact"](spark, SF))
    partial = plan.find("WindowGroupLimit")
    assert partial != -1 and "Partial" in plan[partial:], plan
    # tree prints parents above children: the shuffle exchange must sit
    # ABOVE (i.e. consume) the Partial group limit, and there must be
    # exactly one hash exchange (the survivor merge)
    ex = [i for i in range(len(plan)) if plan.startswith("Exchange hashpartitioning", i)]
    assert len(ex) == 1, plan
    partial_pos = plan.find("row_number(), 10, Partial")
    assert partial_pos != -1, plan
    assert ex[0] < partial_pos, plan


def test_curation_pipeline_antijoin_aqe_sized(spark):
    """The near-dup anti-join must NOT hard-broadcast the dupe-id side
    (billions of ids on a real crawl = driver OOM) and must never degrade
    to a nested-loop plan: AQE sizes the materialized distinct at runtime
    and picks broadcast/shuffled-hash/SMJ as the data dictates."""
    df = registry.queries()["curation_pipeline"](spark, SF)
    df.collect()  # let AQE finalize the adaptive plan
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(
        j in plan
        for j in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")
    ), plan


def test_bucketed_join_no_exchange(spark):
    """Two tables bucketed+sorted on the join key must join with ZERO
    Exchange (co-located scan-side zip) — the layout that turns a
    recurring 100 TB fact-to-fact join from the cluster's largest shuffle
    into a scan."""
    from javascript_vector_database_spark.operators.bucketed import (
        colocated_join,
        write_bucketed,
    )

    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    emb = load_table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "label"
    )
    write_bucketed(docs, "b_docs_plan_t", "doc_id")
    write_bucketed(emb, "b_emb_plan_t", "doc_id")
    j = colocated_join(spark, "b_docs_plan_t", "b_emb_plan_t", "doc_id")
    j.collect()
    plan = _plan(j)
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan
    # rows equal the plain (shuffled) join — bucketing buys the plan only
    plain = docs.join(emb, "doc_id")
    assert j.count() == plain.count()


def test_regional_revenue_broadcasts_dimensions(spark):
    """The Q5-shape star join must broadcast its dimension sides (never a
    nested loop): at 100 TB the orders-lineitem join is the only shuffle
    this plan is allowed."""
    df = registry.queries()["agg_regional_revenue"](spark, SF)
    df.collect()
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_mango_range_filter_pushed_to_scan(spark):
    """Sargable Mango predicates must reach the parquet scan."""
    plan = _plan(registry.queries()["mango_range"](spark, SF))
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip()


def test_changefeed_keyset_predicate_pushed(spark):
    plan = _plan(registry.queries()["changefeed_page"](spark, SF))
    assert "PushedFilters: [" in plan
    assert "TakeOrderedAndProject" in plan


def test_flagship_uses_broadcast_join(spark):
    """The post-search PK lookup join must broadcast the tiny side."""
    plan = _plan(registry.queries()["flagship_search"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cosine_dedup_no_cartesian(spark):
    """Blocked self-join must hash-join on the block key — a cartesian or
    nested-loop plan means blocking broke."""
    plan = _plan(registry.queries()["dedup_cosine_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must not read the full documents schema
    (payload-bearing `text` stays unread)."""
    docs = load_table(spark, SF, "documents").select("doc_id", "lang")
    plan = _plan(docs)
    read = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "text" not in read


def test_ivf_partitioned_write_prunes(spark, tmp_path):
    """The IVF scale path: table written partitioned by ivf_cell, probe
    query's IN-list becomes a partition filter — whole cells are skipped
    before any scan."""
    emb = load_table(spark, SF, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    assigned = emb.withColumn(
        "ivf_cell", ann_scale.ivf_cell_expr(F.col("embedding"), cents)
    )
    path = str(tmp_path / "ivf_table")
    assigned.write.partitionBy("ivf_cell").parquet(path)

    probe = spark.read.parquet(path).where(F.col("ivf_cell").isin([1, 2]))
    plan = _plan(probe)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "ivf_cell" in seg
    # and the scan actually read only the probed cells
    assert probe.select("ivf_cell").distinct().count() <= 2


def test_zorder_scan_pushes_both_ranges(spark, tmp_path):
    """The z-ordered layout is read with PLAIN predicates — both box
    ranges must reach the parquet scan as PushedFilters (the footers
    they prune against are pinned by test_r10_wave's stats test)."""
    from javascript_vector_database_spark.operators import layout

    ev = load_table(spark, SF, "events")
    path = str(tmp_path / "z")
    layout.write_zorder_layout(
        ev, path, F.col("user_id"), F.col("ts").cast("long")
    )
    probe = spark.read.parquet(path).where(
        F.col("user_id").between(3, 9)
        & (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
    )
    plan = _plan(probe)
    seg = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "user_id" in seg and "ts" in seg


def test_partition_col_table_probe_prunes(spark, tmp_path):
    """The LIVE IVF layout's probe plan: a ParquetTable stored with
    partition_col='ivf_cell' (the table stream_ivf_index_live MERGEs
    into) must serve ivf_search(precomputed=True) with a real
    PartitionFilter — MERGE maintenance and probe pruning ride the same
    physical column."""
    from javascript_vector_database_spark.operators.dml import ParquetTable

    emb = load_table(spark, SF, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    assigned = emb.select("vec_id", "embedding").withColumn(
        "ivf_cell", ann_scale.ivf_cell_expr(F.col("embedding"), cents)
    )
    t = ParquetTable(
        spark, str(tmp_path / "live_ivf"), "vec_id", partition_col="ivf_cell"
    )
    # build through the MERGE path (two upserts), like the live handler
    t.bulk_upsert(assigned.where(F.col("vec_id") % 2 == 0), lwt=1.0)
    t.bulk_upsert(assigned.where(F.col("vec_id") % 2 != 0), lwt=2.0)

    qv = registry.get_query_vec(spark, SF)
    probe = ann_scale.ivf_search(
        t.docs().select("vec_id", "embedding", "ivf_cell"),
        qv,
        cents=cents,
        precomputed=True,
    )
    plan = _plan(probe)
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "ivf_cell" in seg and seg.strip()
    # and it returns the same rows as the inline-assignment path
    baseline = ann_scale.ivf_search(emb, qv, cents=cents)
    assert [tuple(r) for r in probe.collect()] == [
        tuple(r) for r in baseline.collect()
    ]


def test_ivf_search_partitioned_registry_prunes(spark):
    """The registry's precomputed-IVF probe query must hit the partitioned
    layout with a real partition filter (no per-query assignment fold over
    the corpus) and return the same rows as the inline-assignment path."""
    q = registry.queries()
    probe = q["ann_ivf_search_partitioned"](spark, SF)
    plan = _plan(probe)
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "ivf_cell" in seg and seg.strip()
    baseline = q["ann_ivf_search"](spark, SF)
    assert [tuple(r) for r in probe.collect()] == [
        tuple(r) for r in baseline.collect()
    ]


def test_lsh_search_precomputed_matches_inline(spark, tmp_path):
    """lsh_search over a stored bucket column (precomputed=True) returns
    the same top-k as the inline-hash path, without re-hashing the corpus."""
    emb = load_table(spark, SF, "embeddings")
    qv = registry.get_query_vec(spark, SF)
    planes = ann_scale.hyperplanes(len(qv))
    path = str(tmp_path / "lsh_table")
    emb.withColumn(
        "bucket", ann_scale.lsh_bucket(F.col("embedding"), planes)
    ).write.parquet(path)
    stored = spark.read.parquet(path)
    got = ann_scale.lsh_search(stored, qv, precomputed=True)
    want = ann_scale.lsh_search(emb, qv)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    # the precomputed plan pushes the IN-list to the scan
    plan = _plan(stored.where(F.col("bucket").isin(["0" * 8])))
    assert "PushedFilters: [" in plan


@pytest.mark.parametrize("kind", ["sq8", "pq", "bq"])
def test_stored_code_probe_plan(spark, tmp_path, kind):
    """The compressed-scan claim, for every stored-code probe: the scan
    of the stored code table reads ONLY (id, code) — the float vector
    column never appears in its ReadSchema — the k*rerank pool reaches
    the vector table through exactly one broadcast left-semi join, the
    exact top-k is the top of the plan, and the rows equal the
    inline-coding path's."""
    from javascript_vector_database_spark.operators import pq as pqm
    from javascript_vector_database_spark.operators import quant

    emb = load_table(spark, SF, "embeddings")
    qv = registry.get_query_vec(spark, SF)
    vec = F.col("embedding")
    if kind == "sq8":
        lo, hi = quant.sq8_params(emb)
        code_col, code = "sq8_code", quant.sq8_code_expr(vec, lo, hi)
        want = quant.sq8_search(emb, qv)

        def probe(stored):
            return quant.sq8_search_precomputed(stored, emb, qv, lo, hi)
    elif kind == "pq":
        cb = pqm.pq_codebook(ann_scale.collect_centroids(emb, k=pqm.PQ_K))
        code_col, code = "pq_code", pqm.pq_code_expr(vec, cb)
        want = pqm.pq_search(emb, qv, cb)

        def probe(stored):
            return pqm.pq_search_precomputed(stored, emb, qv, cb)
    else:
        code_col = "bq_words"
        code = F.array(*quant.bq_word_exprs(vec, len(qv)))
        want = quant.bq_search(emb, qv)

        def probe(stored):
            return quant.bq_search_precomputed(stored, emb, qv)
    path = str(tmp_path / f"{kind}_codes")
    # store codes NEXT TO the vector (the deployment shape): pruning, not
    # a separate table, is what keeps the vector out of the probe scan
    emb.withColumn(code_col, code).write.parquet(path)
    got = probe(spark.read.parquet(path))
    plan = _plan(got)  # before the collect: the initial plan only
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]
    reads = [p.splitlines()[0] for p in plan.split("ReadSchema: ")[1:]]
    code_reads = [r for r in reads if code_col in r]
    assert code_reads and all("embedding" not in r for r in code_reads), reads
    joins = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln]
    assert len(joins) == 1 and "LeftSemi" in joins[0], plan
    ops = [ln.lstrip(" +-:") for ln in plan.splitlines()]
    top = next(op for op in ops if not op.startswith("AdaptiveSparkPlan"))
    assert top.startswith("TakeOrderedAndProject"), plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """The co-located join scale path: both sides bucketed+sorted by the
    join key -> SortMergeJoin with NO Exchange (at 100 TB this is the
    difference between a full-network shuffle and a local merge)."""
    emb = load_table(spark, SF, "embeddings").select("vec_id", "label")
    docs = load_table(spark, SF, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    spark.sql("DROP TABLE IF EXISTS b_emb")
    spark.sql("DROP TABLE IF EXISTS b_docs")
    (emb.write.bucketBy(8, "vec_id").sortBy("vec_id")
        .option("path", str(tmp_path / "b_emb")).saveAsTable("b_emb"))
    (docs.write.bucketBy(8, "vec_id").sortBy("vec_id")
        .option("path", str(tmp_path / "b_docs")).saveAsTable("b_docs"))
    # at test scale the optimizer rightly prefers broadcast; force the
    # SMJ path to expose what bucketing buys when BOTH sides are huge
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_emb").join(spark.table("b_docs"), "vec_id")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert j.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_emb")
        spark.sql("DROP TABLE IF EXISTS b_docs")


def test_ivfpq_partitioned_prunes_cells_and_columns(spark):
    """The IVF-PQ compounding claim: the registry's partitioned probe
    query carries a real PartitionFilter on ivf_cell (whole cells skipped
    before any scan) AND its code scan never reads the float vector
    (column pruning); results equal the inline path."""
    q = registry.queries()
    probe = q["ann_ivfpq_search_partitioned"](spark, SF)
    plan = _plan(probe)
    # the plan has several scans (vector table + stored codes); the
    # stored-code scan must be the one carrying the cell filter
    segs = [p.split("]", 1)[0] for p in plan.split("PartitionFilters: [")[1:]]
    assert any("ivf_cell" in s for s in segs), segs
    # the stored-code scan's ReadSchema must not contain the vector
    for part in plan.split("ReadSchema: ")[1:]:
        schema_line = part.splitlines()[0]
        if "pq_code" in schema_line:
            assert "embedding" not in schema_line
    baseline = q["ann_ivfpq_search"](spark, SF)
    assert [tuple(r) for r in probe.collect()] == [
        tuple(r) for r in baseline.collect()
    ]


def test_domain_cap_partial_group_limit(spark):
    """The per-domain cap's rank filter must compile to the two-phase
    WindowGroupLimit (Partial below the exchange): each map partition
    emits at most DOMAIN_CAP rows per source before the shuffle, so the
    exchange carries O(domains x cap) rows, never the corpus."""
    plan = _plan(registry.queries()["curation_domain_cap"](spark, SF))
    partial_pos = plan.find("Partial")
    assert "WindowGroupLimit" in plan and partial_pos != -1, plan
    ex = plan.find("Exchange hashpartitioning")
    assert ex != -1 and ex < partial_pos, plan


def test_q17_correlated_subqueries_decorrelated(spark):
    """Catalyst must rewrite Q17's two correlated scalar subqueries into
    ordinary aggregate+join plans (RewriteCorrelatedScalarSubquery): the
    executed plan contains hash/sort-merge joins only — a surviving
    nested-loop or cartesian means per-row subquery re-execution, which
    is quadratic at any scale."""
    plan = _plan(registry.queries()["agg_q17_small_quantity_revenue"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_pareto_rank_is_distributed(spark):
    """customer_pareto_share (r5 verdict item #2): the customer-grain
    rank must come from the range-partition + local-window construction
    — the row_number window is partitioned by the physical partition id,
    and NO window over the unbounded grain orders by rev globally."""
    plan = _plan(registry.queries()["customer_pareto_share"](spark, SF))
    # (the repartitionByRange exchange itself lives behind the
    # localCheckpoint lineage cut, so it can't be asserted here; the
    # correctness unit test in test_relational_feed pins the cross-
    # partition ordering it provides)
    rn = plan.find("row_number() windowspecdefinition(")
    assert rn != -1, plan
    spec = plan[rn : rn + 120]
    assert "__pid" in spec, spec
    # the old single-partition shape: a window spec starting at rev DESC
    assert "windowspecdefinition(rev" not in plan, plan


def test_percent_rank_is_distributed(spark):
    """orders_percent_rank_top (r5 verdict item #3): rank() must be
    partitioned by (partition id, priority) — never by the 5-value
    priority alone, which would sort n/5 rows in one task."""
    plan = _plan(registry.queries()["orders_percent_rank_top"](spark, SF))
    rk = plan.find("rank(")
    assert rk != -1, plan
    spec_start = plan.find("windowspecdefinition(", rk)
    spec = plan[spec_start : spec_start + 120]
    assert "__pid" in spec, spec


def test_q6_all_predicates_pushed(spark):
    """Q6 is the canonical pushdown query: the date range, discount band,
    and quantity cap must ALL reach the parquet scan — each bound itself,
    read from the full PushedFilters text — and the ReadSchema must
    carry only the four referenced columns."""
    df = registry.queries()["agg_q6_forecast_revenue"](spark, SF)
    [(table, pushed)] = file_scans(df)
    assert table == "lineitem.parquet"
    for bound in (
        "GreaterThanOrEqual(l_shipdate,1996-01-01 00:00:00.0)",
        "LessThan(l_shipdate,1997-01-01 00:00:00.0)",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert bound in pushed, pushed
    read = _plan(df).split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_extendedprice" in read and "l_orderkey" not in read, read


def test_q7_star_broadcasts_all_dims(spark):
    """The Q7 6-table star: lineitem-orders is the only shuffle join;
    customer, supplier, and both nation arms broadcast (5 BHJ) with no
    nested loop anywhere."""
    plan = _plan(registry.queries()["agg_q7_nation_volume"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_triangle_count_no_cartesian(spark):
    """Degree-oriented triangle counting: wedge + closing joins must all
    be hash joins on real keys — a nested-loop/cartesian means the
    orientation or the semi-join broke.  Both are SHUFFLE_HASH-hinted in
    ``graph.closed_wedges``: a sort-merge join would sort the O(m^1.5)
    wedge set, so the wedge join and the closing LeftSemi are the plan's
    only two joins and both are ShuffledHashJoin."""
    plan = _plan(registry.queries()["graph_triangle_count"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    joins = re.findall(r"(\w+Join) \[[^\]]*\], \[[^\]]*\], (\w+)", plan)
    assert sorted(joins) == [
        ("ShuffledHashJoin", "Inner"),
        ("ShuffledHashJoin", "LeftSemi"),
    ], plan


def test_q2_decorrelated_all_dims_broadcast(spark):
    """Q2's decorrelated plan: the region-filtered supplier relation and
    the per-part min both broadcast — no shuffle join anywhere except
    the (part, supplier) aggregate's own exchange."""
    plan = _plan(registry.queries()["agg_q2_min_cost_supplier"](spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q22_scalar_broadcast_and_anti(spark):
    """Q22: the 1-row (count, sum) aggregate rides a broadcast nested
    loop (bounded by construction); the NOT EXISTS compiles to a
    broadcast/shuffled hash anti join, never a per-row subquery."""
    plan = _plan(registry.queries()["agg_q22_dormant_customers"](spark, SF))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_common_neighbors_no_cartesian(spark):
    """Link prediction: wedge generation joins on the pivot key and the
    anti join on the pair key — all hash joins, no cartesian."""
    plan = _plan(registry.queries()["graph_common_neighbors"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftAnti" in plan, plan


def test_tfidf_postings_join_stays_jvm(spark):
    """The TF-IDF postings join: no Python boundary anywhere (the whole
    pipeline is token explode + joins + integer aggregates) and no
    cartesian — candidate pairs exist only through the shared-term join."""
    plan = _plan(registry.queries()["text_tfidf_similar_pairs"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, plan


def test_skyline_no_global_window_no_cartesian(spark):
    """The skyline sweep: every WindowExec must partition on __pid (P
    parallel local sweeps) except the bounded P-row offsets window, and
    the dominance test must never become a quadratic join."""
    plan = _plan(registry.queries()["parts_price_size_skyline"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "LeftSemi" in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "graph_pagerank_copurchase",
        "graph_personalized_pagerank",
        "graph_pagerank_weighted",
    ],
)
def test_ppr_no_cartesian(spark, name):
    """PageRank rounds (operators/graph.py:pagerank): no cartesian or
    nested-loop join, and exactly one shuffled-hash contribution join
    per round — the pinned (edges ⋈ strength) table is never re-joined
    inside the rounds."""
    from javascript_vector_database_spark.operators.graph import (
        PAGERANK_ROUNDS,
    )

    plan = _plan(registry.queries()[name](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("ShuffledHashJoin") == PAGERANK_ROUNDS, plan


@pytest.mark.parametrize(
    "name", ["ann_ivf_radius_search", "ann_ivf_radius_batch"]
)
def test_ivf_radius_fused_reads_no_parquet(spark, name):
    """The fused radius rows read the corpus once, inside the narrow
    checkpoint (operators/ann_scale.py:ivf_radius_fused): the returned
    plan scans only that checkpoint, never a parquet file."""
    plan = _plan(registry.queries()[name](spark, SF))
    assert "FileScan" not in plan, plan


def test_grouped_skyline_windows_on_group(spark):
    """The grouped sweep's window must partition on the group key —
    a bare orderBy window would be the single-partition shape."""
    plan = _plan(registry.queries()["brand_price_size_skyline"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    spec = plan.find("windowspecdefinition(p_brand")
    assert spec != -1, plan


def test_linear_attribution_no_cartesian(spark):
    """The touch-purchase match must be an equi-join on user with the
    window as a residual predicate — never a cross join."""
    plan = _plan(registry.queries()["events_attribution_linear"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pq_batch_partial_group_limit(spark):
    """Batch PQ ADC must inherit knn_batch's two-phase WindowGroupLimit
    (per-query partial top-k*rerank below the exchange) AND never join
    the float-vector table before candidate pruning — only the bounded
    survivor set reaches the exact re-rank."""
    plan = _plan(registry.queries()["ann_pq_batch_search"](spark, SF))
    partial = plan.find("WindowGroupLimit")
    assert partial != -1 and "Partial" in plan[partial:], plan
    assert "row_number(), 80, Partial" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_clustering_hubs_seed_restricted(spark):
    """The seeded clustering-coefficient probe: the adjacency must be
    restricted to the bounded seed set via BROADCAST semi-joins (never a
    shuffle of the full adjacency against 20 seeds), the closing-edge
    test must stay a semi-join, and nothing may go quadratic."""
    plan = _plan(
        registry.queries()["graph_clustering_coefficient_hubs"](spark, SF)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("LeftSemi") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan


def test_time_decay_attribution_no_cartesian(spark):
    """Time-decay attribution shares linear's plan shape: equi-join on
    user with the lookback as a residual predicate, weight-sum window
    keyed by the high-cardinality purchase id."""
    plan = _plan(
        registry.queries()["events_attribution_time_decay"](spark, SF)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "windowspecdefinition(p_id" in plan, plan


def test_activity_streaks_windows_on_user(spark):
    """Gaps-and-islands: the island row_number must partition on
    user_id — a bare orderBy window would globally sort the day table."""
    plan = _plan(registry.queries()["events_activity_streaks"](spark, SF))
    assert "windowspecdefinition(user_id" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_key_skew_topk_and_broadcast(spark):
    """Key-skew profile: the top slice compiles to TakeOrderedAndProject
    (never a global sort) and the 1-row totals ride a broadcast."""
    plan = _plan(registry.queries()["profile_key_skew"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoop" in plan or "BroadcastExchange" in plan, plan


def test_revenue_milestones_pid_scan(spark):
    """The event-grain running total must run through the two-phase
    parallel scan: cumulative windows keyed by __pid, never a bare
    ORDER BY over the purchase grain, offsets on a broadcast."""
    plan = _plan(registry.queries()["events_revenue_milestones"](spark, SF))
    assert "windowspecdefinition(__pid" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_weighted_median_pid_scan(spark):
    """Grouped weighted median: the per-group cumulative sum windows on
    (__pid, ret_flag) and the 3-row totals ride a broadcast join."""
    plan = _plan(registry.queries()["lineitem_weighted_median"](spark, SF))
    assert "windowspecdefinition(__pid" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def _stored_probe_scans(probe) -> dict[str, str]:
    """The probe's parquet scans by directory name: exactly two, the
    one composite pivot index and the base table."""
    scans = file_scans(probe)
    assert sorted(name for name, _ in scans) == ["base", "index"], scans
    return dict(scans)


def test_ann_range_indexed_pushes_bands_to_stored_index(spark):
    """The stored-pivot-index probe (knn_ann_range_indexed) reads the
    one composite (pivot, key) index with ONE scan, and every pivot's
    band reaches that scan as a PushedFilter ``pivot = i AND key > lo_i
    AND key < hi_i`` with the bounds of ``knn.pivot_bands`` — the I/O
    the reference's five secondary indexes exist to buy
    (src/database.ts:103-109)."""
    from javascript_vector_database_spark.operators import knn
    from javascript_vector_database_spark.pivots import INDEX_DISTANCE

    probe = registry.queries()["knn_ann_range_indexed"](spark, SF)
    pushed = _stored_probe_scans(probe)["index"]
    qv = registry.get_query_vec(spark, SF)
    pivots = registry.used_pivots(len(qv))
    want = knn.pivot_bands("plan pin", qv, pivots, INDEX_DISTANCE)
    got = {
        n: (float(lo), float(hi))
        for n, (lo, hi) in pivot_band_bounds(pushed).items()
    }
    assert got == dict(enumerate(want)), pushed
    # the doc-read re-rank never shuffles the corpus into a cartesian
    assert "CartesianProduct" not in _plan(probe)


def test_ann_similarity_indexed_one_exchange_window(spark):
    """The stored similarity probe (knn_ann_similarity_indexed): ONE
    scan of the composite index, whose per-(pivot, side) row_number
    limit runs as a Partial WindowGroupLimit BELOW the one hash exchange
    (not one TakeOrderedAndProject job per side); both one-sided
    filters of every pivot, ``pivot = i AND (key < d_i OR key > d_i)``,
    reach that scan, the doc read is a broadcast left-semi join, and the
    only top-k is the final one."""
    from javascript_vector_database_spark.operators import knn
    from javascript_vector_database_spark.pivots import DOCS_PER_INDEX_SIDE

    probe = registry.queries()["knn_ann_similarity_indexed"](spark, SF)
    pushed = _stored_probe_scans(probe)["index"]
    plan = _plan(probe)
    assert plan.count("TakeOrderedAndProject") == 1, plan
    top = plan.find("TakeOrderedAndProject")
    assert top < plan.find("BroadcastHashJoin"), plan
    assert "CartesianProduct" not in plan, plan
    semi = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln]
    assert len(semi) == 1 and "LeftSemi" in semi[0], plan
    assert plan.count("BroadcastExchange") == 1, plan
    ex = [
        i for i in range(len(plan))
        if plan.startswith("Exchange hashpartitioning", i)
    ]
    assert len(ex) == 1, plan
    partial = plan.find(f"row_number(), {DOCS_PER_INDEX_SIDE}, Partial")
    assert partial != -1 and plan.count(", Partial") == 1, plan
    assert plan.find("BroadcastExchange") < ex[0] < partial, plan
    qv = registry.get_query_vec(spark, SF)
    ds = knn._pivot_distances(
        "plan pin", qv, registry.used_pivots(len(qv))
    )
    got = {
        n: (float(lt), float(gt))
        for n, (lt, gt) in pivot_side_bounds(pushed).items()
    }
    assert got == {n: (d, d) for n, d in enumerate(ds)}, pushed


def test_ivf_radius_partitioned_probe_prunes(spark):
    """The partitioned radius row's probe list must become a real
    PartitionFilter on ivf_cell (pruned cells = directories never
    opened), like the top-k partitioned sibling."""
    probe = registry.queries()["ann_ivf_radius_search_partitioned"](spark, SF)
    plan = _plan(probe)
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "ivf_cell" in seg and seg.strip()
