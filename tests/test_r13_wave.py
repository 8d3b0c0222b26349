"""Round-13 wave: the compat-string STORED index (staged r14) and the
round's registration/bench seams pinned.

The r12 verdict's ask #6: the stored secondary-index tables carried the
exact double, but the reference's PHYSICAL index key is the 10-char
lexicographic string (src/database.ts:223-225).  ``knn_ann_range_compat_indexed``
(staged, registry/vector_search.py) stores THAT key and probes it with
string band bounds — these tests value-check it through the identical
driver compare contract before the r14 registration flip, plus pin the
plan (string bands must reach the parquet scans as PushedFilters) and
the quirk-faithfulness (stored string probe == recompute string probe,
both diverging from double mode the same way).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from javascript_vector_database_spark.operators import knn
from javascript_vector_database_spark.registry import (
    get_query_vec,
    used_pivots,
)
from javascript_vector_database_spark.tables import load_table

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def test_staged_r14_compat_indexed_matches_oracle(spark):
    """The staged row value-checked NOW at sf0.01 through the identical
    driver compare contract (rows + schema-by-name + values), so the
    r14 registration is a mechanical @register flip."""
    from javascript_vector_database_spark.registry import vector_search as vs
    from tests.oracle_harness import compare

    compare(
        spark,
        SF_ORACLE,
        vs.knn_ann_range_compat_indexed,
        vs._compat_range_oracle(vs.ORACLE_DIM),
    )


def test_compat_stored_equals_recompute_and_keeps_the_quirk(spark, tmp_path):
    """Stored string probe == recompute string probe row-for-row, and
    both read the STRING key: where the lexicographic order mis-sorts
    across digit-count regimes, stored must diverge from the double
    stored mode exactly as the recompute modes diverge from each other
    (same candidate ids on each side of the seam)."""
    emb = load_table(spark, SF_SMOKE, "embeddings")
    qv = get_query_vec(spark, SF_SMOKE)
    pivots = used_pivots(len(qv))
    base = str(tmp_path / "compat_idx")
    knn.write_pivot_index_tables(emb, pivots, base, compat_strings=True)

    ref = knn.ann_index_range_compat(emb, qv, pivots).collect()
    got = knn.ann_index_range_compat_stored(spark, base, qv, pivots).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]

    # the stored index really carries the 10-char string key, and its
    # values agree with the driver-side mirror
    index = spark.read.parquet(os.path.join(base, "index"))
    assert index.dtypes == [
        ("pivot", "int"), ("key", "string"), ("vec_id", "bigint")
    ]
    row = (
        knn.build_pivot_index(emb, pivots[:1], compat_strings=True)
        .select("vec_id", "idx0", "idx0_str")
        .orderBy("vec_id")
        .first()
    )
    assert row["idx0_str"] == knn._py_index_string(float(row["idx0"]))
    assert len(row["idx0_str"]) == 10
    stored = index.where(
        (F.col("pivot") == 0) & (F.col("vec_id") == row["vec_id"])
    ).collect()
    assert [r["key"] for r in stored] == [row["idx0_str"]]


def test_compat_stored_pushes_string_bands(spark):
    """The string probe reads the one composite index with ONE scan
    beside the base scan, and every pivot's string band reaches it as a
    PushedFilter ``pivot = i AND key > lo_i AND key < hi_i`` over the
    10-char keys — parquet keeps binary min/max stats for strings, so
    the reference's physical key buys the same row-group skipping as
    the double keys."""
    from javascript_vector_database_spark.pivots import INDEX_DISTANCE
    from javascript_vector_database_spark.registry import vector_search as vs
    from tests.plan_scans import file_scans, pivot_band_bounds

    probe = vs.knn_ann_range_compat_indexed(spark, SF_SMOKE)
    scans = file_scans(probe)
    assert sorted(name for name, _ in scans) == ["base", "index"], scans
    qv = get_query_vec(spark, SF_SMOKE)
    bands = knn.pivot_bands(
        "plan pin", qv, used_pivots(len(qv)), INDEX_DISTANCE
    )
    want = {
        n: (knn._py_index_string(lo), knn._py_index_string(hi))
        for n, (lo, hi) in enumerate(bands)
    }
    pushed = dict(scans)["index"]
    assert pivot_band_bounds(pushed) == want, pushed
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_staged_r14_indexed_batch_matches_oracle(spark):
    """The batch stored-index probe value-checked at sf0.01 through the
    driver contract before its r14 registration flip."""
    from javascript_vector_database_spark.registry import vector_search as vs
    from tests.oracle_harness import compare

    compare(
        spark,
        SF_ORACLE,
        vs.knn_ann_range_indexed_batch,
        vs._ann_range_batch_oracle(vs.ORACLE_DIM),
    )


def test_indexed_batch_equals_singles_and_plan(spark, tmp_path):
    """Batch == per-query single probes row-for-row, and the plan keeps
    the 100 TB shape: no cartesian, rank filter rewritten into a
    WindowGroupLimit, band predicates pushed to the index scans."""
    from javascript_vector_database_spark.registry import vector_search as vs
    from tests.plan_scans import file_scans, pivot_band_bounds

    emb = load_table(spark, SF_SMOKE, "embeddings")
    pivots = used_pivots(len(get_query_vec(spark, SF_SMOKE)))
    base = str(tmp_path / "batch_idx")
    knn.write_pivot_index_tables(emb, pivots, base)
    q_rows = (
        emb.where(F.col("vec_id").isin(list(vs.IDX_BATCH_IDS)))
        .select("vec_id", "embedding")
        .collect()
    )
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in q_rows
    ]
    batch = knn.ann_index_range_stored_batch(spark, base, queries, pivots)
    scans = file_scans(batch)  # before the plan runs: see file_scans
    got = {
        (r["query_id"], r["vec_id"], r["distance"])
        for r in batch.collect()
    }
    want = set()
    for qid, qv in queries:
        for r in knn.ann_index_range_stored(spark, base, qv, pivots).collect():
            want.add((qid, r["vec_id"], r["distance"]))
    assert got == want

    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan, plan
    # one band scan of the composite index per query, each pushing
    # every pivot's band
    assert sorted(name for name, _ in scans) == (
        ["base"] + ["index"] * len(queries)
    ), scans
    for name, pushed in scans:
        if name == "index":
            assert sorted(pivot_band_bounds(pushed)) == list(
                range(len(pivots))
            ), pushed


def test_r13_window_composition():
    """The driver stamps the first 50 registered names: the four
    r13-new rows must sit inside, every window row must carry an
    oracle, and the one held-back r7 row must be flagship_search (the
    row entry() smoke-runs independently every round)."""
    from javascript_vector_database_spark import registry

    names = list(registry.queries())
    window = set(names[:50])
    for n in (
        "knn_ann_similarity_indexed",
        "ann_ivf_radius_batch",
        "stream_radius_index_live",
        "stream_pivot_index_tables_live",
    ):
        assert n in window, n
    oracles = registry.oracle_sql()
    assert all(n in oracles for n in names[:50])
    # staged r14 rows are NOT registered yet (window full)
    assert "knn_ann_range_compat_indexed" not in names
    assert "knn_ann_range_indexed_batch" not in names
