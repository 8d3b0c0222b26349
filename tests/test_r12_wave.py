"""Crafted-data pins for the r12 wave.

Headline pins: the r11 ADVICE findings on ``ParquetTable`` partition
handling — NULL/empty partition values must survive touched-partition
DML (the read filter was three-valued and silently dropped stored
NULL-partition rows), boolean partition values must render to Spark's
directory names, and ``merge_cdc``'s key-stability contract is now
enforced (detect) or healed (repair) instead of prose.  Plus the
``CachedCollection.find_by_ids`` cache-key discipline.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from javascript_vector_database_spark.operators.dml import (
    ParquetTable,
    _escape_part_value,
)
from javascript_vector_database_spark.operators.query_cache import (
    CachedCollection,
)


def _cdc(spark, rows):
    """(id, v, cell, tombstone, csn) CDC delta with a data partition col."""
    return spark.createDataFrame(
        rows, "id long, v string, cell string, _tombstone boolean, _csn long"
    )


def _alive(t):
    return sorted(
        (r["id"], r["v"]) for r in t.docs().select("id", "v").collect()
    )


# ---------------------------------------------------------------------------
# NULL / empty-string partition values (r11 ADVICE medium)
# ---------------------------------------------------------------------------


def test_merge_cdc_null_partition_no_loss(spark, tmp_path):
    """The exact ADVICE repro: three stored NULL-cell rows, a merge_cdc
    update of ONE of them must not delete the unrelated two.  The old
    read filter `isin([None])` matched nothing, so the directory swap
    replaced __HIVE_DEFAULT_PARTITION__ with only the delta winner."""
    t = ParquetTable(spark, str(tmp_path / "nullcell"), "id", partition_col="cell")
    t.merge_cdc(
        _cdc(spark, [(1, "a", None, False, 1), (2, "b", None, False, 1),
                     (3, "c", None, False, 1)]),
        lwt=0.0,
    )
    t.merge_cdc(_cdc(spark, [(2, "b2", None, False, 2)]), lwt=1.0)
    assert _alive(t) == [(1, "a"), (2, "b2"), (3, "c")]


def test_bulk_upsert_and_remove_null_partition(spark, tmp_path):
    """bulk_upsert / bulk_remove over a partition_col layout with NULL
    cells: the same three-valued-isin hole, every verb."""
    t = ParquetTable(spark, str(tmp_path / "nullbulk"), "id", partition_col="cell")
    base = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (3, "c", "k")],
        "id long, v string, cell string",
    )
    t.bulk_insert(base, lwt=0.0)
    t.bulk_upsert(
        spark.createDataFrame([(2, "b2", None)], "id long, v string, cell string"),
        lwt=1.0,
    )
    assert _alive(t) == [(1, "a"), (2, "b2"), (3, "c")]
    t.bulk_remove([1], lwt=2.0)
    assert _alive(t) == [(2, "b2"), (3, "c")]


def test_empty_string_partition_folds_into_null_dir(spark, tmp_path):
    """'' partition values land in __HIVE_DEFAULT_PARTITION__ (Spark
    folds them to NULL at write time); a delta carrying '' must read the
    stored NULL rows back and the swap must not double-process the
    shared directory."""
    t = ParquetTable(spark, str(tmp_path / "empty"), "id", partition_col="cell")
    t.merge_cdc(
        _cdc(spark, [(1, "a", "", False, 1), (2, "b", None, False, 1)]),
        lwt=0.0,
    )
    # both stored rows live in the null dir; update one via '' spelling
    t.merge_cdc(_cdc(spark, [(1, "a2", "", False, 2)]), lwt=1.0)
    assert _alive(t) == [(1, "a2"), (2, "b")]
    dirs = [d for d in os.listdir(t.path) if d.startswith("cell=")]
    assert dirs == ["cell=__HIVE_DEFAULT_PARTITION__"]


# ---------------------------------------------------------------------------
# partition-value rendering (r11 ADVICE low: booleans)
# ---------------------------------------------------------------------------


def test_escape_part_value_boolean_matches_spark(spark, tmp_path):
    assert _escape_part_value(True) == "true"
    assert _escape_part_value(False) == "false"
    # a boolean partition_col table: the verb must swap the REAL
    # directory (flag=true), not a phantom flag=True
    t = ParquetTable(spark, str(tmp_path / "boolcell"), "id", partition_col="flag")
    base = spark.createDataFrame(
        [(1, "a", True), (2, "b", True), (3, "c", False)],
        "id long, v string, flag boolean",
    )
    t.bulk_insert(base, lwt=0.0)
    t.bulk_upsert(
        spark.createDataFrame([(1, "a2", True)], "id long, v string, flag boolean"),
        lwt=1.0,
    )
    assert _alive(t) == [(1, "a2"), (2, "b"), (3, "c")]
    assert sorted(d for d in os.listdir(t.path) if d.startswith("flag=")) == [
        "flag=false", "flag=true",
    ]


def test_escape_part_value_rejects_unsupported_types():
    """Types whose Spark directory rendering is not emulated raise
    instead of silently writing a directory name Spark would not."""
    with pytest.raises(TypeError):
        _escape_part_value(1.5)
    with pytest.raises(TypeError):
        _escape_part_value(b"bytes")


# ---------------------------------------------------------------------------
# merge_cdc key-stability enforcement (r11 ADVICE low)
# ---------------------------------------------------------------------------


def test_merge_cdc_moved_key_detected(spark, tmp_path):
    """A csn-advanced update that changes the key's partition value
    raises under the default detect mode (both partitions in the touched
    set, so the prev join sees the move)."""
    t = ParquetTable(spark, str(tmp_path / "moved"), "id", partition_col="cell")
    t.merge_cdc(
        _cdc(spark, [(1, "a", "p0", False, 1), (2, "b", "p1", False, 1)]),
        lwt=0.0,
    )
    with pytest.raises(ValueError, match="key-stability"):
        # the delta touches p0 (id 3's insert), so id 1's stored row IS
        # read and its p0 -> p1 move is visible to the prev join
        t.merge_cdc(
            _cdc(spark, [(1, "a2", "p1", False, 2), (3, "c", "p0", False, 1)]),
            lwt=1.0,
        )


def test_merge_cdc_moved_key_repaired(spark, tmp_path):
    """repair mode extends the touched set with the stored rows' old
    partitions (PK semi-join fallback): the moved key's old directory is
    rewritten without the ghost, so the key count stays 1 and the old
    dir disappears.  Also covers the detect blind spot: the old
    partition is NOT in the delta's own partition set."""
    t = ParquetTable(spark, str(tmp_path / "repair"), "id", partition_col="cell")
    t.merge_cdc(
        _cdc(spark, [(1, "a", "p0", False, 1), (2, "b", "p1", False, 1)]),
        lwt=0.0,
    )
    t.merge_cdc(
        _cdc(spark, [(1, "a2", "p2", False, 2)]), lwt=1.0, moved_keys="repair"
    )
    assert _alive(t) == [(1, "a2"), (2, "b")]
    rows = t.docs().where(F.col("id") == 1).collect()
    assert len(rows) == 1 and rows[0]["cell"] == "p2"
    assert not os.path.exists(os.path.join(t.path, "cell=p0"))
    # untouched partition's files were not rewritten
    assert os.path.exists(os.path.join(t.path, "cell=p1"))


def test_merge_cdc_detect_blindspot_is_documented_not_silent_dup(spark, tmp_path):
    """detect mode cannot see a move whose old partition lies outside
    the touched set — assert the documented failure shape (the ghost)
    so a future fix that widens detection shows up as an xpass here."""
    t = ParquetTable(spark, str(tmp_path / "blind"), "id", partition_col="cell")
    t.merge_cdc(_cdc(spark, [(1, "a", "p0", False, 1)]), lwt=0.0)
    # move key 1 to p2; p0 is untouched by the delta -> ghost remains
    t.merge_cdc(_cdc(spark, [(1, "a2", "p2", False, 2)]), lwt=1.0)
    assert t.docs().where(F.col("id") == 1).count() == 2  # documented ghost
    # same schedule under repair converges to 1 (proved above)


def test_merge_cdc_stable_partition_value_passes_detect(spark, tmp_path):
    """Key-stable updates (same partition value) sail through detect —
    the default must not tax the contract-compliant hot path."""
    t = ParquetTable(spark, str(tmp_path / "stable"), "id", partition_col="cell")
    t.merge_cdc(_cdc(spark, [(1, "a", "p0", False, 1)]), lwt=0.0)
    t.merge_cdc(_cdc(spark, [(1, "a2", "p0", False, 2)]), lwt=1.0)
    t.merge_cdc(_cdc(spark, [(1, "a2", "p0", True, 3)]), lwt=2.0)
    assert _alive(t) == []


# ---------------------------------------------------------------------------
# CachedCollection.find_by_ids key discipline (r11 ADVICE low)
# ---------------------------------------------------------------------------


def test_find_by_ids_primitive_ids_hit_cache(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "cachet"), "id", n_buckets=2)
    t.bulk_insert(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
        lwt=0.0,
    )
    cache = CachedCollection.attach(t)
    a = cache.find_by_ids([2, 1])
    b = cache.find_by_ids([1, 2])  # order-insensitive canonical key
    assert a is b
    assert cache.hits == 1 and cache.misses == 1


def test_find_by_ids_rejects_nonprimitive_ids(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "cachenp"), "id", n_buckets=2)
    t.bulk_insert(
        spark.createDataFrame([(1, "a")], "id long, v string"), lwt=0.0
    )
    cache = CachedCollection.attach(t)
    with pytest.raises(TypeError, match="primitive"):
        cache.find_by_ids([object()])
    with pytest.raises(TypeError, match="primitive"):
        cache.find_by_ids(t.docs().select("id"))
    assert len(cache) == 0  # nothing persisted by the rejected calls


# ---------------------------------------------------------------------------
# stored pivot index: the band predicate's footer-stats value (r12)
# ---------------------------------------------------------------------------


def test_pivot_index_rowgroups_prunable_on_band(spark, tmp_path):
    """The written composite index is sorted by (pivot, key), so each
    pivot's ±0.003 band — the box {pivot: (i, i), key: (lo, hi)} — skips
    most row groups on footer min/max alone: the measured I/O win
    knn_ann_range_indexed claims (the pivot_idx_prunable_frac bench
    extra reads the same boxes)."""
    from javascript_vector_database_spark.operators import knn, layout
    from javascript_vector_database_spark.pivots import INDEX_DISTANCE
    from javascript_vector_database_spark.registry import (
        get_query_vec,
        used_pivots,
    )
    from javascript_vector_database_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    qv = get_query_vec(spark, sf)
    pivots = used_pivots(len(qv))
    base = str(tmp_path / "pividx")
    knn.write_pivot_index_tables(emb, pivots, base, n_files=8)
    stats = layout.rowgroup_minmax_stats(
        os.path.join(base, "index"), ["pivot", "key"]
    )
    fracs = []
    for i, p in enumerate(pivots):
        d_i = knn._py_euclid(p, qv)
        lo, hi = d_i - d_i * INDEX_DISTANCE, d_i + d_i * INDEX_DISTANCE
        box = {"pivot": (i, i), "key": (lo, hi)}
        fracs.append(layout.prunable_fraction(stats, box))
        # the key band alone, over the row groups that hold pivot i:
        # the pivot exchange and the record-count cut give this pivot
        # its own files, and the other pivots' row groups must not carry
        # the floor
        own = [s for s in stats if s["pivot"][0] <= i <= s["pivot"][1]]
        assert len(own) >= 8, (i, len(own))
        fracs.append(layout.prunable_fraction(own, {"key": (lo, hi)}))
    # a narrow band over a sorted key skips nearly everything; demand a
    # conservative floor so the pin is robust to row-group sizing
    assert min(fracs) >= 0.5, fracs
    # and the stored probe returns exactly the recompute-path rows
    got = knn.ann_index_range_stored(spark, base, qv, pivots).collect()
    ref = knn.ann_index_range(emb, qv, pivots).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


# ---------------------------------------------------------------------------
# staged-for-r13 operators (implemented + pinned now; registry rows land
# in the r13 driver window so every registered name keeps a stamp)
# ---------------------------------------------------------------------------


def test_ann_index_similarity_stored_matches_recompute(spark, tmp_path):
    """The stored-index similarity probe (the $lt and $gt sides of each
    pivot over the sorted composite index + doc-read re-rank) must
    return exactly the recompute-path rows, and every pivot's side
    predicates must push to the one index scan."""
    from tests.plan_scans import file_scans, pivot_side_bounds

    from javascript_vector_database_spark.operators import knn
    from javascript_vector_database_spark.registry import (
        get_query_vec,
        used_pivots,
    )
    from javascript_vector_database_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    qv = get_query_vec(spark, sf)
    pivots = used_pivots(len(qv))
    base = str(tmp_path / "pividx_sim")
    knn.write_pivot_index_tables(emb, pivots, base)
    got = knn.ann_index_similarity_stored(spark, base, qv, pivots)
    scans = dict(file_scans(got))
    assert sorted(scans) == ["base", "index"], scans
    assert sorted(pivot_side_bounds(scans["index"])) == list(
        range(len(pivots))
    ), scans
    ref = knn.ann_index_similarity(emb, qv, pivots)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in ref.collect()
    ]


def test_ivf_radius_batch_matches_single(spark):
    """The fused multi-query radius search must equal per-query single
    radius searches at each query's nn-th exact-NN radius (the lossless
    bound applied per query), with the corpus scanned once."""
    from javascript_vector_database_spark.operators import ann_scale
    from javascript_vector_database_spark.operators.knn import exact_knn
    from javascript_vector_database_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    nn = 5
    emb = load_table(spark, sf, "embeddings")
    cents = ann_scale.collect_centroids(emb)
    assigned = emb.withColumn(
        "ivf_cell", ann_scale.ivf_cell_expr(F.col("embedding"), cents)
    ).cache()
    radii = ann_scale.ivf_cell_radii(assigned, cents)
    queries = [
        (
            qid,
            [
                float(x)
                for x in emb.where(F.col("vec_id") == qid).first()["embedding"]
            ],
        )
        for qid in (1, 2, 7)
    ]
    batch = {
        (r["query_id"], r["vec_id"], r["distance"])
        for r in ann_scale.ivf_radius_fused(emb, queries, cents, nn).collect()
    }
    single = set()
    for qid, qv in queries:
        r = max(
            float(row["distance"]) for row in exact_knn(emb, qv, k=nn).collect()
        )
        for row in ann_scale.ivf_radius_search(
            assigned, qv, r, cents, radii
        ).collect():
            single.add((qid, row["vec_id"], row["distance"]))
    assert batch == single and len(batch) >= 3 * nn
    assigned.unpersist()


def test_update_cell_radii_matches_full_recompute(spark, tmp_path):
    """Incremental covering-radius maintenance (touched-cell recompute
    over the live partitioned table) must equal the full recompute
    after a CDC schedule containing inserts, an update that shrinks a
    cell's max, and deletes that empty a cell entirely."""
    import math

    from javascript_vector_database_spark.operators import ann_scale
    from javascript_vector_database_spark.operators.dml import ParquetTable

    cents = [(0, [0.0, 0.0]), (1, [100.0, 0.0]), (2, [0.0, 100.0])]
    def ring(cell, cx, cy, n, rad, base):
        return [
            (base + i, [cx + rad * math.cos(2 * math.pi * i / n),
                        cy + rad * math.sin(2 * math.pi * i / n)], cell)
            for i in range(n)
        ]

    rows = ring(0, 0.0, 0.0, 8, 1.0, 0) + ring(1, 100.0, 0.0, 8, 2.0, 100) \
        + ring(2, 0.0, 100.0, 4, 3.0, 200)
    def df(rws, dead=False, csn=1):
        return spark.createDataFrame(
            [(i, v, c, dead, csn) for i, v, c in rws],
            "vec_id long, embedding array<double>, ivf_cell long,"
            " _tombstone boolean, _csn long",
        )

    t = ParquetTable(spark, str(tmp_path / "rad"), "vec_id",
                     partition_col="ivf_cell")
    t.merge_cdc(df(rows), lwt=0.0)
    live = t.docs().select("vec_id", "embedding", "ivf_cell")
    radii = ann_scale.ivf_cell_radii(live, cents)
    assert radii == pytest.approx({0: 1.0, 1: 2.0, 2: 3.0}, abs=1e-6)

    # batch 2: grow cell 0 (insert at r=5), DELETE all of cell 2, and
    # re-deliver a cell-1 row (absorbed, radius unchanged)
    batch2 = df([(50, [5.0, 0.0], 0)], csn=2) \
        .unionByName(df([r for r in rows if r[2] == 2], dead=True, csn=2)) \
        .unionByName(df([rows[8]], csn=1))
    t.merge_cdc(batch2, lwt=1.0)
    live = t.docs().select("vec_id", "embedding", "ivf_cell")
    inc = ann_scale.update_cell_radii(radii, live, cents, [0, 1, 2])
    full = ann_scale.ivf_cell_radii(live, cents)
    assert inc == pytest.approx(full, abs=1e-9)
    assert 2 not in inc and inc[0] == pytest.approx(5.0, abs=1e-6)
    # untouched-cell path: only cell 0 in the touched list -> cell 1's
    # standing value carries over verbatim
    inc2 = ann_scale.update_cell_radii(radii, live, cents, [0])
    assert inc2[1] == radii[1] and inc2[0] == pytest.approx(5.0, abs=1e-6)


def test_staged_r13_rows_match_their_oracles(spark):
    """The three r13-staged registry rows value-checked NOW through the
    identical driver compare contract (rows + schema-by-name + values),
    so r13's registration is a mechanical @register flip:

    * knn_ann_similarity_indexed vs the knn_ann_similarity oracle
      (stored probe == recompute),
    * ann_ivf_radius_batch vs the per-query-radius batch oracle,
    * stream_radius_index_live vs the alive-only radius oracle — the
      hash match certifies the INCREMENTALLY maintained covering radii
      (an under-covering radius would prune a matching cell)."""
    from javascript_vector_database_spark.registry import (
        ann_scale_queries as asq,
    )
    from javascript_vector_database_spark.registry import (
        vector_search as vs,
    )
    from tests.oracle_harness import compare

    sf = "/root/testdata/sf0.01"
    compare(
        spark, sf, vs.knn_ann_similarity_indexed,
        vs._ann_similarity_oracle(vs.ORACLE_DIM),
    )
    compare(spark, sf, asq.ann_ivf_radius_batch, asq._IVF_RADIUS_BATCH_ORACLE)
    alive = (
        f"(SELECT * FROM embeddings"
        f" WHERE NOT (vec_id % {asq._DELETE_MOD} = {asq._DELETE_RES})) "
    )
    compare(
        spark, sf, asq.stream_radius_index_live,
        asq._ivf_radius_oracle(table=alive),
    )


def test_pivot_index_append_compact_lifecycle(spark, tmp_path):
    """LSM lifecycle of the stored pivot index: delta appends keep the
    probe CORRECT immediately (equal to a from-scratch build over the
    full corpus), degrade footer prunability on the delta segments, and
    compaction restores it — with the probe still equal after."""
    from javascript_vector_database_spark.operators import knn, layout
    from javascript_vector_database_spark.pivots import INDEX_DISTANCE
    from javascript_vector_database_spark.registry import (
        get_query_vec,
        used_pivots,
    )
    from javascript_vector_database_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    qv = get_query_vec(spark, sf)
    pivots = used_pivots(len(qv))
    base = str(tmp_path / "lsm_idx")
    first = emb.where(F.col("vec_id") % 3 != 0)
    knn.write_pivot_index_tables(first, pivots, base)

    def frac0():
        d0 = knn._py_euclid(pivots[0], qv)
        band = (d0 - d0 * INDEX_DISTANCE, d0 + d0 * INDEX_DISTANCE)
        stats = layout.rowgroup_minmax_stats(
            os.path.join(base, "index"), ["pivot", "key"]
        )
        box = {"pivot": (0, 0), "key": band}
        return layout.prunable_fraction(stats, box), len(stats)

    sorted_frac, n0 = frac0()
    # two delta batches (LSM segments)
    knn.append_pivot_index_delta(
        emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 == 0)),
        pivots, base,
    )
    knn.append_pivot_index_delta(
        emb.where((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 != 0)),
        pivots, base,
    )
    ref = knn.ann_index_range(emb, qv, pivots).collect()
    got = knn.ann_index_range_stored(spark, base, qv, pivots).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]
    appended_frac, n1 = frac0()
    assert n1 == n0 + 2  # one unsorted row group per delta batch
    assert appended_frac < sorted_frac  # the read-amplification tax
    knn.compact_pivot_index_tables(spark, base)
    compacted_frac, _ = frac0()
    assert compacted_frac >= sorted_frac  # compaction repays it
    got2 = knn.ann_index_range_stored(spark, base, qv, pivots).collect()
    assert [tuple(r) for r in got2] == [tuple(r) for r in ref]
    # the similarity mode survives the lifecycle too
    sim_ref = knn.ann_index_similarity(emb, qv, pivots).collect()
    sim_got = knn.ann_index_similarity_stored(spark, base, qv, pivots).collect()
    assert [tuple(r) for r in sim_got] == [tuple(r) for r in sim_ref]


def test_merge_cdc_moved_key_out_of_null_partition_detected(spark, tmp_path):
    """r12 review finding: a key moving OUT of the NULL/'' partition must
    raise under detect when the null directory is in the touched set —
    __prev_part IS NULL means 'stored in the null dir', not 'no stored
    row' (the explicit __prev_exists flag carries existence)."""
    t = ParquetTable(spark, str(tmp_path / "nullmove"), "id", partition_col="cell")
    t.merge_cdc(
        _cdc(spark, [(1, "a", None, False, 1), (2, "b", None, False, 1)]),
        lwt=0.0,
    )
    with pytest.raises(ValueError, match="key-stability"):
        # id 2's update keeps the null dir in the touched set, so id 1's
        # NULL -> p1 move is visible to the prev join
        t.merge_cdc(
            _cdc(spark, [(1, "a2", "p1", False, 2), (2, "b2", None, False, 2)]),
            lwt=1.0,
        )
    # and the ''<->NULL spelling difference is still NOT a move
    t2 = ParquetTable(spark, str(tmp_path / "nullsame"), "id", partition_col="cell")
    t2.merge_cdc(_cdc(spark, [(1, "a", None, False, 1)]), lwt=0.0)
    t2.merge_cdc(_cdc(spark, [(1, "a2", "", False, 2)]), lwt=1.0)
    assert _alive(t2) == [(1, "a2")]


def test_compact_pivot_index_recovers_from_stale_staging(spark, tmp_path):
    """r12 review finding: a leftover .compact.tmp from a crashed prior
    compaction must not wedge the next run."""
    from javascript_vector_database_spark.operators import knn
    from javascript_vector_database_spark.registry import (
        get_query_vec,
        used_pivots,
    )
    from javascript_vector_database_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    qv = get_query_vec(spark, sf)
    pivots = used_pivots(len(qv))
    base = str(tmp_path / "stale")
    knn.write_pivot_index_tables(emb, pivots, base)
    os.makedirs(os.path.join(base, "index.compact.tmp", "junk"))
    knn.compact_pivot_index_tables(spark, base)
    got = knn.ann_index_range_stored(spark, base, qv, pivots).collect()
    ref = knn.ann_index_range(emb, qv, pivots).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_staged_stream_pivot_index_tables_live(spark):
    """The LSM sorted-index lifecycle certified live (staged r13 row):
    two-halves + stop/restart + re-delivered slice through the
    anti-join idempotence gate, compaction, then the stored band probe
    must hash-match the batch knn_ann_range oracle."""
    from javascript_vector_database_spark.registry import (
        vector_search as vs,
    )
    from tests.oracle_harness import compare

    compare(
        spark, "/root/testdata/sf0.01",
        vs.stream_pivot_index_tables_live,
        vs._ann_range_oracle(vs.ORACLE_DIM),
    )
