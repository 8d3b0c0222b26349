"""Every registered query compared against its oracle at the smallest SF.

The per-module suites check their own query families at sf0.01; this
sweep guarantees NO registry entry — present or future — ships without a
local value-level oracle check (the same count/schema/value contract the
driver's CORRECTNESS file grades).  sf0.001 keeps the whole sweep cheap;
a query that is correct here and in its module's sf0.01 check has two
independent data points before the driver ever sees it.
"""

from __future__ import annotations

import pytest

from javascript_vector_database_spark import registry
from javascript_vector_database_spark.plancheck import (
    unpartitioned_window_keys,
)
from tests.oracle_harness import compare

SF_SMOKE = "/root/testdata/sf0.001"

ALL_NAMES = sorted(registry.queries())

#: queries whose plan INTENTIONALLY contains a BroadcastNestedLoopJoin:
#: a broadcast crossJoin against a tiny literal/query-vector side is the
#: right fan-out shape (the small side is bounded by construction).  Any
#: OTHER query acquiring a BNLJ — or ANY query acquiring a non-broadcast
#: CartesianProduct — is a 100 TB regression and fails the sweep.
BNLJ_ALLOWED = {
    "knn_batch_exact",  # 5-row query table broadcast against the corpus
    # inherits knn_batch_exact's 5-row broadcast as its vector arm
    "hybrid_rrf_batch",
    # same 5-anchor broadcast-vs-corpus shape as knn_batch_exact
    "embedding_hard_negatives",
    # decorrelated scalar subqueries: a ONE-row global aggregate
    # (total / max / (count, sum) pair) broadcast-crossJoined against
    # the grouped relation — the side is 1 row by construction
    "agg_q11_important_shares",
    "agg_q15_top_supplier",
    "agg_q22_dormant_customers",
    "profile_key_skew",  # 1-row (n_keys, total_rows) aggregate broadcast
    # the grand-total N is a ONE-row aggregate broadcast against the
    # tiny lang x source cell table
    "profile_chi_square",
    # the corpus-count N is a ONE-row aggregate broadcast against the
    # 10-row bin table (target ranks = i*n/10)
    "profile_equidepth_bins",
    # the PassJoin both-short pool: strings shorter than k+1 chars have
    # ED <= k to EACH OTHER unconditionally, so every joined row is a
    # true output pair — the tiny constant-key join is 1:1 with the
    # output, not a blocking failure
    "text_editdistance_pairs",
}


#: queries whose plan INTENTIONALLY contains an unpartitioned window —
#: every entry's window input is BOUNDED by construction (a domain-sized
#: rollup, never the data grain), with the bound named here.  Everything
#: else must partition its windows on a real key or rank.py's ``__pid``
#: (those are recognized structurally and never reach this list).  The
#: registry-wide assertion below is the r5/r6-verdict sweep guard: an
#: RFM-class regression (data-grain ntile/rank with no partition) now
#: fails every pytest run.
UNPART_WINDOW_ALLOWED = {
    # cumulative share over the 10 decile rollup rows + OVER () total
    "customer_pareto_share": "10 decile rows",
    # three rolling stats over the 24-hour-of-day rollup
    "events_anomaly_hours": "24 hour-of-day rows",
    # trailing window over the day-index rollup (calendar-bounded)
    "orders_trailing_week_revenue": "day-grain rollup",
    # lag over the week rollup (calendar-bounded)
    "orders_wow_growth": "week-grain rollup",
    # running count over the fixed-width histogram bins (value-range
    # bounded — the sketch property itself)
    "sketch_histogram_quantiles": "histogram bins",
    # rank over a 30-row TakeOrdered survivor set
    "text_zipf_profile": "top-30 limit input",
    # OVER () totals across the 9 first-digit rollup rows
    "profile_benford_digits": "9 digit rows",
    # OVER () totals across the fixed histogram buckets per split
    "profile_split_drift": "histogram buckets",
    # OVER () scalar across the bounded event-type pair grid
    "events_corr_pairs": "type-pair grid",
    # row_number over the two fused candidate lists — each is an
    # already-limited top-k (15 lexical + 10 vector rows)
    "hybrid_rrf_search": "top-15/top-10 limit inputs",
}


@pytest.mark.parametrize("name", ALL_NAMES)
def test_registry_sweep(spark, name):
    compare(spark, SF_SMOKE, registry.queries()[name], registry.oracle_sql()[name])
    plan = (
        registry.queries()[name](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .sparkPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, f"{name} went cartesian:\n{plan}"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} acquired a nested-loop join:\n{plan}"
        )
    if name not in UNPART_WINDOW_ALLOWED:
        keys = unpartitioned_window_keys(plan)
        assert not keys, (
            f"{name} runs unpartitioned window(s) over {keys} — partition "
            f"on a real key, use operators/rank.py's __pid discipline, or "
            f"whitelist with a bounded-input justification:\n{plan}"
        )
