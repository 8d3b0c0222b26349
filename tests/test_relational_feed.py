from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from javascript_vector_database_spark import registry
from tests.oracle_harness import compare

NAMES = [
    "join_anti_missing_vectors",
    "join_zip_documents_embeddings",
    "union_dedup",
    "agg_pricing_summary",
    "agg_top_revenue_orders",
    "window_top_customers_per_nation",
    "rollup_orders_by_status_priority",
    "events_windowed_agg",
    "changefeed_page",
    "state_fold_last_per_user",
    "knn_ann_similarity",
    "ann_doc_reads",
    "compat_index_string",
    "events_rollup_multires",
    "sketch_kmv_distinct_users",
    "sketch_hll_distinct_users",
    "sketch_hll_users_by_type",
    "sketch_cms_token_freq",
    "sketch_histogram_quantiles",
    "events_session_window_agg",
    "join_salted_skew",
    "set_ops_intersect_except",
    "join_bucketed_colocated",
    "events_funnel_counts",
    "events_retention_cohorts",
    "events_hopping_window_agg",
    "agg_regional_revenue",
    "agg_q17_small_quantity_revenue",
    "agg_q18_large_orders",
    "events_scd2_state_intervals",
    "events_gapfill_hourly",
    "graph_pagerank_copurchase",
    "events_hourly_trend",
    "events_corr_pairs",
    "events_dwell_stats",
    "profile_ntile_deciles",
    "orders_price_outliers",
    "division_suppliers_full_brand",
    "events_funnel_latency",
    "events_asof_join_forward",
    "orders_winsorized_mean",
    "events_markov_transitions",
    "events_cusum_alarms",
    "orders_mad_outliers",
    "basket_association_rules",
    "customer_rfm_segments",
    "events_session_funnel",
    "graph_degree_histogram",
    "customer_pareto_share",
    "sketch_comparison_report",
    "quality_checks_report",
    "orders_wow_growth",
    "agg_q10_returned_items",
    "agg_q4_late_orders",
    "lineitem_ship_latency",
    "events_props_json_stats",
    "events_cohort_ltv",
    "embedding_norm_profile",
    "events_top_journeys",
    "sketch_grouped_quantiles",
    "orders_trailing_week_revenue",
    "orders_percent_rank_top",
    "supplier_fill_rate",
    "sketch_kmv_set_ops",
    "sketch_hll_rolling_distinct",
    "events_retention_rate",
    "orders_basket_size_hist",
    "events_stickiness",
    "text_keywords",
]


def test_salted_join_equals_plain_join(spark, sf_oracle):
    """The salted join's result is salt-independent: identical rows to a
    plain equi-join, with the hot key spread over n_salt partitions."""
    from javascript_vector_database_spark.operators.skew import salted_join
    from javascript_vector_database_spark.tables import load_table

    li = load_table(spark, sf_oracle, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    orders = load_table(spark, sf_oracle, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    got = sorted(
        tuple(r)
        for r in salted_join(li, orders, "l_orderkey", n_salt=4).collect()
    )
    want = sorted(tuple(r) for r in li.join(orders, "l_orderkey").collect())
    assert got == want


def test_kmv_estimate_is_close_to_exact(spark, sf_oracle):
    """The sketch estimate lands within the KMV error envelope
    (~1/sqrt(K) ≈ 12.5% for K=64) of the true distinct count."""
    from javascript_vector_database_spark.tables import load_table

    est = registry.queries()["sketch_kmv_distinct_users"](
        spark, sf_oracle
    ).first()["kmv_estimate"]
    exact = (
        load_table(spark, sf_oracle, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert abs(est - exact) / exact < 0.25


def test_hll_estimate_close_mergeable_and_bounded(spark, sf_oracle):
    """HLL lands within its ~6.5% RSE envelope (m=256, generous 3-sigma
    bound), merging two halves' registers equals the whole (max is the
    merge), and the register table never exceeds m rows."""
    from javascript_vector_database_spark.operators.sketch import (
        HLL_M,
        hll_distinct_estimate,
    )
    from javascript_vector_database_spark.tables import load_table

    ev = load_table(spark, sf_oracle, "events")
    est = hll_distinct_estimate(ev, "user_id").first()["hll_estimate"]
    exact = ev.select("user_id").distinct().count()
    assert abs(est - exact) / exact < 0.20
    # merge = estimate over the union: splitting the table cannot change
    # registers (max over a union is max of maxes)
    lo = ev.where(F.col("event_id") % 2 == 0)
    hi = ev.where(F.col("event_id") % 2 == 1)
    merged = hll_distinct_estimate(lo.unionByName(hi), "user_id").first()
    assert merged["hll_estimate"] == est
    # bounded state: at most m register rows feed the final fold
    zeros = hll_distinct_estimate(ev, "user_id").first()["hll_zero_registers"]
    assert 0 <= zeros <= HLL_M


def test_hll_register_tables_compose(spark, sf_oracle):
    """The deployment shape: per-slice register tables (here: split by
    event_id parity, standing in for per-day tables) UNION into the same
    estimate as a single pass over the whole table — and
    hll_distinct_estimate == hll_estimate_from_registers(hll_registers)."""
    from javascript_vector_database_spark.operators.sketch import (
        hll_distinct_estimate,
        hll_estimate_from_registers,
        hll_registers,
    )
    from javascript_vector_database_spark.tables import load_table

    ev = load_table(spark, sf_oracle, "events")
    whole = hll_distinct_estimate(ev, "user_id").first()
    via_regs = hll_estimate_from_registers(
        hll_registers(ev, "user_id")
    ).first()
    assert tuple(whole) == tuple(via_regs)
    day1 = hll_registers(ev.where(F.col("event_id") % 2 == 0), "user_id")
    day2 = hll_registers(ev.where(F.col("event_id") % 2 == 1), "user_id")
    merged = hll_estimate_from_registers(day1.unionByName(day2)).first()
    assert tuple(merged) == tuple(whole)


@pytest.mark.parametrize("name", NAMES)
def test_oracle(spark, sf_oracle, name):
    compare(spark, sf_oracle, registry.queries()[name], registry.oracle_sql()[name])


def test_sessionize_and_asof_oracles(spark, sf_oracle):
    for name in ["events_sessionize", "events_asof_join"]:
        compare(
            spark, sf_oracle, registry.queries()[name], registry.oracle_sql()[name]
        )


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row at-or-before each left ts; no
    prior right row -> NULLs; equal timestamps match inclusively."""
    from javascript_vector_database_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 205), (3, 1, 50), (4, 2, 100)],
        "event_id long, k long, t long",
    ).select("event_id", "k", F.col("t").cast("timestamp").alias("t"))
    right = spark.createDataFrame(
        [(1, 100, 10), (1, 200, 20), (3, 100, 99)],
        "k long, rt long, val long",
    ).select("k", F.col("rt").cast("timestamp").alias("rt"), "val")
    got = {
        r["event_id"]: r["val"]
        for r in asof_join(
            left, right, key="k", left_ts="t", right_ts="rt", right_vals=["val"]
        ).collect()
    }
    assert got == {1: 10, 2: 20, 3: None, 4: None}


def test_asof_join_null_value_not_spliced(spark):
    """All output value columns come from the SAME as-of row: a NULL in
    one value column of the matched row must surface as NULL, never be
    back-filled from an older right row (the struct-carry contract)."""
    from javascript_vector_database_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, 250)], "event_id long, k long, t long"
    ).select("event_id", "k", F.col("t").cast("timestamp").alias("t"))
    right = spark.createDataFrame(
        [(1, 100, 10, 11), (1, 200, None, 22)],
        "k long, rt long, a long, b long",
    ).select("k", F.col("rt").cast("timestamp").alias("rt"), "a", "b")
    row = asof_join(
        left, right, key="k", left_ts="t", right_ts="rt", right_vals=["a", "b"]
    ).first()
    # the as-of row is rt=200 -> (a=NULL, b=22); a must NOT become 10
    assert row["a"] is None and row["b"] == 22

    # value-name collision with a left column is rejected up front
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        asof_join(
            left.withColumn("a", F.lit(0)),
            right,
            key="k",
            left_ts="t",
            right_ts="rt",
            right_vals=["a", "b"],
        )


def test_range_join_oracle_and_plan(spark, sf_oracle):
    compare(
        spark,
        sf_oracle,
        registry.queries()["events_range_join"],
        registry.oracle_sql()["events_range_join"],
    )
    plan = (
        registry.queries()["events_range_join"](spark, sf_oracle)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the whole point: a hash equi-join on (key, bucket), not a nested loop
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_strict_ordering(spark):
    """The cascade requires strict temporal order: a user with
    click-before-view reaches step 1 only; out-of-order purchase does not
    count; a complete ordered chain reaches step 3."""
    import datetime as dt

    from javascript_vector_database_spark.operators.funnel import funnel_counts

    t0 = dt.datetime(2024, 1, 1, 10, 0)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        # user 1: full ordered chain
        (1, ts(0), "view"), (1, ts(1), "click"), (1, ts(2), "purchase"),
        # user 2: click precedes view; purchase precedes the click-after-view
        (2, ts(0), "click"), (2, ts(1), "purchase"), (2, ts(2), "view"),
        # user 3: view then purchase, never clicks
        (3, ts(0), "view"), (3, ts(5), "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["step"]: r["n_users"]
        for r in funnel_counts(ev, ["view", "click", "purchase"]).collect()
    }
    assert got == {1: 3, 2: 1, 3: 1}


def test_retention_offsets(spark):
    """Constructed cohort: first-seen week anchors offset 0; a return in
    the third ISO week lands at offset 2; a second user seen only once
    contributes only offset 0 of their own cohort."""
    import datetime as dt

    from javascript_vector_database_spark.operators.funnel import (
        retention_cohorts,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1, 10)),   # Monday, ISO week 1
        (1, dt.datetime(2024, 1, 3, 10)),   # same week -> still offset 0
        (1, dt.datetime(2024, 1, 15, 10)),  # two weeks later -> offset 2
        (2, dt.datetime(2024, 1, 8, 10)),   # cohort week 2, once
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
        for r in retention_cohorts(ev).collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
    }


def test_scd2_intervals_on_constructed_stream(spark):
    """Pin the gaps-and-islands semantics: runs collapse, intervals abut
    (valid_to = next run's valid_from), the last run stays open, and an
    A->B->A flip produces two separate A runs (not one merged state)."""
    from datetime import datetime as dt

    rows = [
        (1, dt(2024, 1, 1, 0), 7, "a", 0.0, ""),
        (2, dt(2024, 1, 1, 1), 7, "a", 0.0, ""),
        (3, dt(2024, 1, 1, 2), 7, "b", 0.0, ""),
        (4, dt(2024, 1, 1, 3), 7, "a", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = registry.queries()["events_scd2_state_intervals"](spark, d)
        got = sorted(
            (r["run_id"], r["state"], r["valid_from"], r["valid_to"], r["n_events"])
            for r in out.collect()
        )
    assert got == [
        (1, "a", dt(2024, 1, 1, 0), dt(2024, 1, 1, 2), 2),
        (2, "b", dt(2024, 1, 1, 2), dt(2024, 1, 1, 3), 1),
        (3, "a", dt(2024, 1, 1, 3), None, 1),
    ]


def test_gapfill_fills_holes_and_carries_value(spark):
    """A 3-hour hole gets n_events=0 rows carrying the last observed
    hourly value; the spine spans each type's own min..max hour."""
    from datetime import datetime as dt

    rows = [
        (1, dt(2024, 1, 1, 0, 10), 7, "x", 2.0, ""),
        (2, dt(2024, 1, 1, 0, 20), 7, "x", 3.0, ""),
        (3, dt(2024, 1, 1, 4, 5), 8, "x", 5.0, ""),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/events.parquet")
        out = registry.queries()["events_gapfill_hourly"](spark, d)
        got = {
            r["hour"]: (r["n_events"], r["filled_value"]) for r in out.collect()
        }
    assert len(got) == 5  # hours 0..4 inclusive
    assert got[dt(2024, 1, 1, 0)] == (2, 5.0)
    for h in (1, 2, 3):
        assert got[dt(2024, 1, 1, h)] == (0, 5.0)  # hole, value carried
    assert got[dt(2024, 1, 1, 4)] == (1, 5.0)


def test_integer_pagerank_matches_local_model(spark):
    """Pin the integer fixed-point iteration on a 3-node path graph
    against a pure-Python model of the same formula ((rank * w) DIV
    strength, 85/100 damping in integer space) — once unweighted
    (w = 1: rank DIV outdeg) and once with a w = 3 edge."""
    from javascript_vector_database_spark.operators.graph import (
        BASE_MASS,
        DAMP_DEN,
        DAMP_NUM,
        PAGERANK_ROUNDS,
        RANK_SCALE,
        pagerank,
    )

    adj = {1: [2], 2: [1, 3], 3: [2]}
    for heavy in (1, 3):
        wt = {(1, 2): heavy, (2, 1): heavy, (2, 3): 1, (3, 2): 1}
        edges = spark.createDataFrame(
            [(a, b, w) for (a, b), w in wt.items()],
            "src long, dst long, w long",
        )
        got = {r["node"]: r["rank"] for r in pagerank(edges).collect()}

        strength = {a: sum(wt[(a, b)] for b in adj[a]) for a in adj}
        rank = {n: RANK_SCALE for n in adj}
        for _ in range(PAGERANK_ROUNDS):
            contrib = {n: 0 for n in adj}
            for src, dsts in adj.items():
                for d in dsts:
                    contrib[d] += rank[src] * wt[(src, d)] // strength[src]
            rank = {
                n: BASE_MASS + (DAMP_NUM * c) // DAMP_DEN
                for n, c in contrib.items()
            }
        assert got == rank, (heavy, got, rank)
        # the middle node of a path must outrank the endpoints; the
        # heavy edge pulls mass toward node 1
        assert got[2] > got[1] >= got[3]
        assert (got[1] > got[3]) == (heavy > 1)


def test_corr_pairs_perfect_and_bounds(spark, tmp_path, sf_oracle):
    """Two event types firing identically every hour correlate at
    exactly 1.0; on the real corpus every r lies in [-1, 1] and all
    type pairs appear."""
    from datetime import datetime as dt, timedelta

    rows = []
    eid = 0
    for hour in range(6):
        for k in range(hour + 1):  # varying hourly volume 1..6
            for typ in ("x", "y"):
                eid += 1
                rows.append(
                    (eid, dt(2024, 1, 1) + timedelta(hours=hour, minutes=k), 1, typ, 0.0, "")
                )
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = registry.queries()["events_corr_pairs"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["pearson_r"] == 1.0

    real = registry.queries()["events_corr_pairs"](spark, sf_oracle).collect()
    assert len(real) == 10  # C(5,2) type pairs
    assert all(-1.0 <= r["pearson_r"] <= 1.0 for r in real)


def test_hourly_trend_recovers_constructed_slope(spark, tmp_path):
    """A series with exactly k+1 events in hour k has slope 1 and
    intercept 1 - x0 relative to the fixed epoch origin."""
    from datetime import datetime as dt, timedelta

    rows = []
    eid = 0
    for hour in range(8):
        for k in range(hour + 1):
            eid += 1
            rows.append(
                (eid, dt(2024, 1, 2) + timedelta(hours=hour, minutes=k), 1, "z", 0.0, "")
            )
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = registry.queries()["events_hourly_trend"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_hours"] == 8 and r["slope"] == 1.0
    # hour index of 2024-01-02 00:00 relative to the 2024-01-01 origin
    assert r["intercept"] == 1.0 - 24.0


def test_relational_division_semantics(spark, tmp_path):
    """Division keeps only suppliers covering the WHOLE divisor set: one
    supplier ships both target parts, one ships just one, one ships
    only non-target parts."""
    import datetime as dtm

    part = spark.createDataFrame(
        [(1, "p1", "Brand#6", "t", 1, 1.0), (2, "p2", "Brand#6", "t", 2, 1.0),
         (3, "p3", "Brand#9", "t", 1, 1.0)],
        ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    )
    sup = spark.createDataFrame(
        [(10, "full", 0, 0.0), (11, "half", 0, 0.0), (12, "none", 0, 0.0)],
        ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    d = dtm.datetime(2024, 1, 1)
    li_rows = [
        (1, 1, 10, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
        (1, 2, 10, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
        (2, 1, 11, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
        (3, 3, 12, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", d),
    ]
    li = spark.createDataFrame(
        li_rows,
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
         "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
         "l_linestatus", "l_shipdate"],
    )
    part.write.parquet(str(tmp_path / "part.parquet"))
    sup.write.parquet(str(tmp_path / "supplier.parquet"))
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    out = registry.queries()["division_suppliers_full_brand"](
        spark, str(tmp_path)
    ).collect()
    assert [(r["l_suppkey"], r["s_name"], r["n_parts"]) for r in out] == [
        (10, "full", 2)
    ]


def test_funnel_latency_greedy_gaps(spark, tmp_path):
    """Constructed funnel: the gaps come from each user's EARLIEST legal
    chain (view@0 -> click@60 -> purchase@180), and a user who clicks
    before viewing does not convert."""
    from datetime import datetime as dt

    base = dt(2024, 1, 1)
    rows = [
        (1, base, 1, "view", 0.0, ""),
        (2, base.replace(minute=1), 1, "click", 0.0, ""),
        (3, base.replace(minute=3), 1, "purchase", 0.0, ""),
        # a later, slower chain for the same user must NOT change gaps
        (4, base.replace(hour=1), 1, "click", 0.0, ""),
        # user 2: click precedes the first view -> no conversion
        (5, base, 2, "click", 0.0, ""),
        (6, base.replace(minute=5), 2, "view", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r["step"]: (r["n_users"], r["avg_gap_s"], r["max_gap_s"])
        for r in registry.queries()["events_funnel_latency"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[1] == (1, 60.0, 60)    # view -> click
    assert out[2] == (1, 120.0, 120)  # click -> purchase


def test_asof_forward_semantics(spark):
    """Forward as-of: equal timestamps match (inclusive), the NEAREST
    following row wins, and rows with no following right row keep NULL."""
    from datetime import datetime as dt

    from javascript_vector_database_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 7, dt(2024, 1, 2)), (2, 7, dt(2024, 1, 5)), (3, 8, dt(2024, 1, 1))],
        ["id", "k", "ts"],
    )
    right = spark.createDataFrame(
        [(7, dt(2024, 1, 2), 100), (7, dt(2024, 1, 4), 200)],
        ["k", "rts", "v"],
    )
    out = {
        r["id"]: r["v"]
        for r in asof_join(
            left, right, key="k", left_ts="ts", right_ts="rts",
            right_vals=["v"], direction="forward",
        ).collect()
    }
    assert out == {1: 100, 2: None, 3: None}


def test_cusum_prefix_min_identity(spark, tmp_path):
    """The windowed prefix-min rewrite equals the textbook recursion
    s_t = max(0, s_{t-1} + d_t) on a constructed shifted series (flat
    then step up), and the alarm fires during the shift only."""
    from datetime import datetime as dt, timedelta

    rows, eid = [], 0
    # 12 flat hours of 2 events, then 6 hours of 30 events (the shift)
    for hour in range(18):
        n = 2 if hour < 12 else 30
        for k in range(n):
            eid += 1
            rows.append(
                (eid, dt(2024, 1, 1) + timedelta(hours=hour, seconds=k), 1, "x", 0.0, "")
            )
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = registry.queries()["events_cusum_alarms"](spark, str(tmp_path)).collect()

    # textbook recursion, pure python
    ys = [2] * 12 + [30] * 6
    nh, tot = len(ys), sum(ys)
    s, expected = 0, {}
    for i, y in enumerate(ys):
        s = max(0, s + nh * y - tot)
        if s >= 25 * nh:
            expected[dt(2024, 1, 1) + timedelta(hours=i)] = s
    got = {r["hour"]: r["cusum"] for r in out}
    assert got == expected and len(expected) > 0
    assert min(expected) >= dt(2024, 1, 1, 12)  # alarms only in the shift


def test_global_row_number_matches_single_window(spark):
    """The distributed prefix-rank construction must reproduce the exact
    row_number() of a single global sort — including cross-partition
    ordering (range boundaries) and offset arithmetic."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from javascript_vector_database_spark.operators.rank import (
        global_row_number,
    )

    df = spark.range(0, 5000).select(
        F.col("id"), (F.col("id") * 2654435761 % 997).alias("v")
    )
    got = {
        (r["id"], r["rn"])
        for r in global_row_number(
            df, [F.col("v").desc(), F.col("id").asc()], num_partitions=16
        ).collect()
    }
    w = Window.orderBy(F.col("v").desc(), F.col("id").asc())
    want = {
        (r["id"], r["rn"])
        for r in df.select(
            "id", F.row_number().over(w).cast("long").alias("rn")
        ).collect()
    }
    assert got == want


def test_grouped_global_rank_matches_single_window(spark):
    """grouped_global_rank must reproduce rank() per low-cardinality
    group exactly — ties (rank gaps) included, which exercises the
    equal-keys-never-split property of the range partitioner."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from javascript_vector_database_spark.operators.rank import (
        grouped_global_rank,
    )

    df = spark.range(0, 5000).select(
        F.col("id"),
        (F.col("id") % 5).cast("string").alias("g"),
        (F.col("id") % 37).alias("v"),  # heavy ties within each group
    )
    got = {
        (r["id"], r["rk"])
        for r in grouped_global_rank(
            df, "g", F.col("v"), num_partitions=16
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(F.col("v").asc())
    want = {
        (r["id"], r["rk"])
        for r in df.select(
            "id", F.rank().over(w).cast("long").alias("rk")
        ).collect()
    }
    assert got == want


def test_global_prefix_sum_matches_single_window(spark):
    """The two-phase parallel scan must reproduce the exact running
    total of a single global cumulative-sum window — cross-partition
    offsets included."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from javascript_vector_database_spark.operators.prefix import (
        global_prefix_sum,
    )

    df = spark.range(0, 5000).select(
        F.col("id"), (F.col("id") * 2654435761 % 997).alias("v")
    )
    got = {
        (r["id"], r["cum"])
        for r in global_prefix_sum(
            df, [F.col("id").asc()], "v", num_partitions=16
        ).collect()
    }
    w = (
        Window.orderBy(F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r["id"], r["cum"])
        for r in df.select(
            "id", F.sum("v").over(w).cast("long").alias("cum")
        ).collect()
    }
    assert got == want


def test_grouped_prefix_sum_matches_single_window(spark):
    """grouped_prefix_sum must reproduce the per-group running total of
    a PARTITION BY window exactly, for low-cardinality groups whose
    slices span many range partitions."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from javascript_vector_database_spark.operators.prefix import (
        grouped_prefix_sum,
    )

    df = spark.range(0, 5000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 48271 % 103).alias("v"),
    )
    got = {
        (r["id"], r["cum"])
        for r in grouped_prefix_sum(
            df, "g", [F.col("id").asc()], "v", num_partitions=16
        ).collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r["id"], r["cum"])
        for r in df.select(
            "id", F.sum("v").over(w).cast("long").alias("cum")
        ).collect()
    }
    assert got == want


def test_grouped_prefix_min_matches_single_window(spark):
    """grouped_prefix_min must reproduce the per-group running MIN of a
    PARTITION BY window exactly — including the NULL-offset first
    partition of each group and negative values."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from javascript_vector_database_spark.operators.prefix import (
        grouped_prefix_min,
    )

    df = spark.range(0, 5000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("g"),
        ((F.col("id") * 48271 % 103) - 51).alias("v"),
    )
    got = {
        (r["id"], r["cummin"])
        for r in grouped_prefix_min(
            df, "g", [F.col("id").asc()], "v", num_partitions=16
        ).collect()
    }
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r["id"], r["cummin"])
        for r in df.select(
            "id", F.min("v").over(w).cast("long").alias("cummin")
        ).collect()
    }
    assert got == want


def test_cusum_grouped_scan_single_group_corpus(spark):
    """The skew routing events_cusum_alarms' docstring promises: on a
    corpus where ONE group holds every row (the one-giant-user shape),
    the CUSUM statistic computed through the two-phase grouped scans
    (grouped_prefix_sum for P_t, grouped_prefix_min for the running
    min) equals the stacked-window form exactly — and stays P-parallel
    instead of serializing into a single window partition."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from javascript_vector_database_spark.operators.prefix import (
        grouped_prefix_min,
        grouped_prefix_sum,
    )

    df = spark.range(0, 3000).select(
        F.col("id"),
        F.lit("the_one_user").alias("g"),
        ((F.col("id") * 2654435761 % 41) - 20).alias("d"),
    )
    pf = grouped_prefix_sum(
        df, "g", [F.col("id").asc()], "d", out="pf", num_partitions=16
    )
    scan = grouped_prefix_min(
        pf, "g", [F.col("id").asc()], "pf", out="mn", num_partitions=16
    ).select("id", (F.col("pf") - F.col("mn")).alias("s"))
    got = {(r["id"], r["s"]) for r in scan.collect()}

    w = (
        Window.partitionBy("g")
        .orderBy(F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ref = df.select(
        "id", (F.sum("d").over(w)).cast("long").alias("pf")
    ).select("id", "pf", F.min("pf").over(
        Window.orderBy(F.col("id").asc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
    ).alias("mn"))
    want = {(r["id"], r["pf"] - r["mn"]) for r in ref.collect()}
    assert got == want
    # CUSUM recursion sanity: s is the max(0, s+d) fold
    rows = sorted(
        (r["id"], r["d"]) for r in df.select("id", "d").collect()
    )
    s, model = 0, {}
    for i, d in rows:
        s = max(0, s + d)
        model[i] = s
    assert {i: v for i, v in got} == model


def test_prefix_sum_property_random_inputs(spark):
    """Property: on arbitrary (key, value) inputs — including negative
    values, duplicates-free total order, and partition counts that
    don't divide the data evenly — both scan helpers equal a driver-
    side Python prefix sum.  Deterministic seeds; pure-Python model
    written against the DEFINITION, not the Spark code."""
    import random

    for seed, n, parts in ((1, 257, 7), (2, 1024, 16), (3, 33, 64)):
        rng = random.Random(seed)
        rows = [
            (i, rng.randint(-1000, 1000), str(rng.randint(0, 2)))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "id long, v long, g string")

        from javascript_vector_database_spark.operators.prefix import (
            global_prefix_sum,
            grouped_prefix_sum,
        )

        got = {
            r["id"]: r["cum"]
            for r in global_prefix_sum(
                df, [F.col("id").asc()], "v", num_partitions=parts
            ).collect()
        }
        acc, want = 0, {}
        for i, v, _ in rows:
            acc += v
            want[i] = acc
        assert got == want

        gotg = {
            r["id"]: r["cum"]
            for r in grouped_prefix_sum(
                df, "g", [F.col("id").asc()], "v", num_partitions=parts
            ).collect()
        }
        accs: dict[str, int] = {}
        wantg = {}
        for i, v, g in rows:
            accs[g] = accs.get(g, 0) + v
            wantg[i] = accs[g]
        assert gotg == wantg


def test_milestone_crossing_counts_multi_step(spark):
    """A single purchase can cross SEVERAL milestones at once; the
    integer-floor predicate must emit that one row with the right
    n_crossed, and zero-value rows must never appear.  Hand-crafted
    values against a pure-Python model of the same floors."""
    from javascript_vector_database_spark.operators.prefix import (
        global_prefix_sum,
    )

    M = 100
    vals = [40, 0, 70, 250, 30, 10, 100]  # cum: 40,40,110,360,390,400,500
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    c = global_prefix_sum(df, [F.col("id").asc()], "v", num_partitions=4)
    got = {
        r["id"]: (r["cum"] // M, (r["cum"] - vals[r["id"]]) // M)
        for r in c.collect()
    }
    crossed = {
        i: hi - lo for i, (hi, lo) in got.items() if hi > lo
    }
    # python model
    acc, want = 0, {}
    for i, v in enumerate(vals):
        lo = acc // M
        acc += v
        if acc // M > lo:
            want[i] = acc // M - lo
    assert crossed == want
    assert want == {2: 1, 3: 2, 5: 1, 6: 1}  # id=3 crosses 2 and 3 at once
    assert 1 not in crossed and 4 not in crossed  # zero/no-cross rows


def test_weighted_median_crossing_row_unique_with_ties(spark):
    """The crossing predicate (2*cw >= tw AND 2*(cw-w) < tw) selects
    EXACTLY one row per group even when the median price is tied
    across rows and when the total weight is even (lower median)."""
    from javascript_vector_database_spark.operators.prefix import (
        grouped_prefix_sum,
    )

    rows = [
        # group a: weights 1+3+2 = 6 (even), crossing in the tied pair
        ("a", 10, 1, 0), ("a", 20, 3, 1), ("a", 20, 2, 2),
        # group b: single heavy row dominates
        ("b", 5, 10, 3), ("b", 99, 1, 4),
    ]
    df = spark.createDataFrame(rows, "g string, p long, w long, tb long")
    tot = {g: s for g, s in [("a", 6), ("b", 11)]}
    c = grouped_prefix_sum(
        df, "g", [F.col("p").asc(), F.col("tb").asc()], "w",
        num_partitions=4, out="cw",
    )
    hits = [
        (r["g"], r["p"])
        for r in c.collect()
        if 2 * r["cw"] >= tot[r["g"]] and 2 * (r["cw"] - r["w"]) < tot[r["g"]]
    ]
    assert sorted(hits) == [("a", 20), ("b", 5)]
    assert len(hits) == len(set(g for g, _ in hits))  # one per group
