from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from javascript_vector_database_spark.functions.embedding import embed_udf
from javascript_vector_database_spark.operators.dml import ParquetTable
from javascript_vector_database_spark.operators.knn import build_pivot_index
from javascript_vector_database_spark.pivots import make_pivots
from javascript_vector_database_spark.sources.json_dump import export_json, import_json
from javascript_vector_database_spark.streaming.pipeline import Pipeline, anti_join_new
from javascript_vector_database_spark.streaming.state import RxState
from tests.spark_jobs import jobs_run


@pytest.fixture()
def items(spark, tmp_path):
    """A small items source table with (id, body, _lwt)."""
    rows = [(i, f"doc body number {i} with words", float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, body string, _lwt double")
    path = str(tmp_path / "items")
    df.write.parquet(path)
    return path


def _make_pipeline(spark, items, tmp_path, batch_size=6):
    dest = ParquetTable(spark, str(tmp_path / "vectors"), "id")
    pivots = make_pivots(8)[:2]

    def handler(batch):
        new = anti_join_new(batch, dest, "id", "id")
        emb = new.withColumn("embedding", embed_udf(8)(F.col("body")))
        return build_pivot_index(emb, pivots).select(
            "id", "embedding", "idx0", "idx1"
        )

    return (
        Pipeline(
            spark,
            "embed-pipeline",
            items,
            dest,
            handler,
            str(tmp_path / "cp"),
            source_pk="id",
            batch_size=batch_size,
        ),
        dest,
    )


def test_pipeline_drains_and_derives_all(spark, items, tmp_path):
    pipe, dest = _make_pipeline(spark, items, tmp_path)
    total = pipe.await_idle()
    assert total == 20
    assert dest.docs().count() == 20
    # embeddings are unit-norm 8-dim
    row = dest.docs().select("embedding").first()
    assert len(row[0]) == 8
    assert abs(sum(x * x for x in row[0]) - 1.0) < 1e-5


def test_pipeline_checkpoint_resume_exactly_once(spark, items, tmp_path):
    """Kill between batches, re-run, assert exactly-once derived rows
    (SURVEY §5.4; reference checkpoint semantics rx-pipeline.js:62-95)."""
    pipe, dest = _make_pipeline(spark, items, tmp_path, batch_size=6)
    assert pipe.run_once() == 6  # batch 1
    assert pipe.run_once() == 6  # batch 2, then "crash"

    pipe2, dest2 = _make_pipeline(spark, items, tmp_path, batch_size=6)
    total = pipe2.await_idle()
    assert total == 8  # only the remaining rows
    assert dest2.docs().count() == 20
    assert dest2.docs().select("id").distinct().count() == 20


def test_pipeline_rerun_is_idempotent(spark, items, tmp_path):
    pipe, dest = _make_pipeline(spark, items, tmp_path)
    pipe.await_idle()
    assert pipe.await_idle() == 0  # drained: no new rows
    assert dest.docs().count() == 20


def test_bulk_insert_conflict_and_upsert(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), "id")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    res = t.bulk_insert(a, lwt=1.0)
    assert res == {"success": 2, "conflict": 0}
    b = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    res = t.bulk_insert(b, lwt=2.0)
    assert res == {"success": 1, "conflict": 1}  # id=2 conflicts (409)
    assert {r["v"] for r in t.docs().collect()} == {"a", "b", "c"}

    t.bulk_upsert(
        spark.createDataFrame([(2, "B2"), (4, "d")], "id long, v string"), lwt=3.0
    )
    got = {r["id"]: r["v"] for r in t.docs().collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}


def test_soft_delete_hides_but_keeps_rows(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), "id")
    t.bulk_insert(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), lwt=1.0
    )
    t.bulk_remove([1], lwt=2.0)
    assert {r["id"] for r in t.docs().collect()} == {2}
    assert t.df().count() == 2  # row kept for the change feed
    dead = t.df().where(F.col("_deleted")).first()
    assert dead["id"] == 1 and dead["_lwt"] == 2.0


def test_rev_maintenance(spark, tmp_path):
    """Optimistic revisions: '<height>-<hash>' stamped on insert, height
    bumped on upsert and remove (utils-revision.js:1-41)."""
    t = ParquetTable(spark, str(tmp_path / "t"), "id")
    t.bulk_insert(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), lwt=1.0
    )
    revs = {r["id"]: r["_rev"] for r in t.df().collect()}
    assert all(r.startswith("1-") for r in revs.values())
    assert revs[1] != revs[2]  # hash covers the payload

    t.bulk_upsert(
        spark.createDataFrame([(2, "B2"), (3, "c")], "id long, v string"), lwt=2.0
    )
    revs2 = {r["id"]: r["_rev"] for r in t.df().collect()}
    assert revs2[1] == revs[1]  # untouched row keeps its rev
    assert revs2[2].startswith("2-") and revs2[2] != revs[2]
    assert revs2[3].startswith("1-")

    # identical payload re-upserted: height bumps, hash stays
    t.bulk_upsert(
        spark.createDataFrame([(3, "c")], "id long, v string"), lwt=3.0
    )
    rev3 = {r["id"]: r["_rev"] for r in t.df().collect()}[3]
    assert rev3.startswith("2-")
    assert rev3.split("-", 1)[1] == revs2[3].split("-", 1)[1]

    t.bulk_remove([1], lwt=4.0)
    rev1 = {r["id"]: r["_rev"] for r in t.df().collect()}[1]
    assert rev1.startswith("2-")


def _partition_fingerprint(table_path: str) -> dict[str, dict[str, tuple]]:
    """Per-partition map of parquet file name -> (size, mtime_ns, bytes)."""
    out: dict[str, dict[str, tuple]] = {}
    for part in sorted(os.listdir(table_path)):
        full = os.path.join(table_path, part)
        if not (part.startswith("__pkb=") and os.path.isdir(full)):
            continue
        files = {}
        for f in sorted(os.listdir(full)):
            if f.endswith(".parquet"):
                p = os.path.join(full, f)
                st = os.stat(p)
                with open(p, "rb") as fh:
                    files[f] = (st.st_size, st.st_mtime_ns, fh.read())
        out[part] = files
    return out


def test_dml_rewrites_only_touched_partitions(spark, tmp_path):
    """The managed table is partitioned by pmod(hash(pk), N); every write
    verb must rewrite ONLY the partition its key hashes into — every
    other partition's parquet files stay byte-identical (same inode
    content AND mtime: the files were never rewritten).  One case per
    verb, run in turn on one table."""
    path = str(tmp_path / "t")
    t = ParquetTable(spark, path, "id", n_buckets=8)
    t.bulk_insert(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(64)], "id long, v string"
        ),
        lwt=1.0,
    )
    assert len(_partition_fingerprint(path)) > 1  # keys spread over buckets

    def rows(*r):
        return spark.createDataFrame(list(r), "id long, v string")

    def v(i):
        return {r["v"] for r in t.docs().where(F.col("id") == i).collect()}

    cases = [
        ("bulk_upsert", lambda: t.bulk_upsert(rows((3, "V3")), lwt=2.0),
         lambda _: v(3) == {"V3"} and t.docs().count() == 64),
        ("bulk_remove", lambda: t.bulk_remove([10], lwt=3.0),
         lambda _: t.docs().count() == 63 and t.df().count() == 64),
        # only partitions holding hit rows are rewritten
        ("incremental_modify",
         lambda: t.incremental_modify(
             {"id": {"$in": [5]}}, {"v": F.lit("V5")}, lwt=4.0),
         lambda _: v(5) == {"V5"}),
        ("bulk_insert",
         lambda: t.bulk_insert(rows((100, "new")), lwt=5.0),
         lambda res: res == {"success": 1, "conflict": 0}
         and v(100) == {"new"} and t.df().count() == 65),
        ("merge_cdc",
         lambda: t.merge_cdc(
             spark.createDataFrame(
                 [(7, "V7", False, 1)],
                 "id long, v string, _tombstone boolean, _csn long",
             ),
             lwt=6.0,
         ),
         lambda _: v(7) == {"V7"} and t.df().count() == 65),
        ("bulk_delete_rows", lambda: t.bulk_delete_rows([20]),
         lambda _: v(20) == set() and t.df().count() == 64),
    ]
    for verb, write, check in cases:
        before = _partition_fingerprint(path)
        res = write()
        after = _partition_fingerprint(path)
        changed = {p for p in before.keys() | after.keys()
                   if before.get(p) != after.get(p)}
        assert len(changed) == 1, verb  # exactly the key's bucket
        untouched = set(before) - changed
        assert untouched and all(before[p] == after[p] for p in untouched), verb
        assert check(res), verb


@pytest.mark.parametrize(
    "layout",
    [{"n_buckets": 8}, {"n_buckets": None}, {"partition_col": "cell"}],
    ids=["bucketed", "flat", "partition_col"],
)
def test_delta_repeating_a_key_raises_before_writing(spark, tmp_path, layout):
    """bulk_insert and bulk_upsert refuse a delta that repeats a primary
    key — both rows would be stored under it — naming the key, before
    anything is written: on a new table (nothing created) and on an
    existing one (stored rows unchanged).  The repeated key's two rows
    carry different ``cell`` values, so under a partition_col layout
    they land in two partitions."""
    schema = "id long, v string, cell string"
    t = ParquetTable(spark, str(tmp_path / "t"), "id", **layout)
    dup = spark.createDataFrame([(1, "a", "p"), (1, "b", "q")], schema)
    for verb in (t.bulk_insert, t.bulk_upsert):
        with pytest.raises(ValueError, match=r"repeats primary key id=\[1\]"):
            verb(dup, lwt=1.0)
    assert not t.exists()

    t.bulk_insert(
        spark.createDataFrame([(1, "x", "p"), (2, "y", "q")], schema), lwt=1.0
    )
    stored = sorted(tuple(r) for r in t.df().collect())
    for verb in (t.bulk_insert, t.bulk_upsert):
        with pytest.raises(ValueError, match=r"repeats primary key id=\[1\]"):
            verb(dup, lwt=2.0)
    assert sorted(tuple(r) for r in t.df().collect()) == stored


@pytest.mark.parametrize("verb", ["bulk_insert", "bulk_upsert", "merge_cdc"])
def test_streaming_delta_raises_analysis_exception(spark, tmp_path, verb):
    """A write verb takes batch deltas only: a ``readStream`` delta
    raises AnalysisException, on a new and on an existing table, and
    leaves the stored rows as they were."""
    from pyspark.errors import AnalysisException

    schema = "id long, v string, _tombstone boolean, _csn long"
    batch = spark.createDataFrame([(1, "a", False, 1)], schema)
    src = str(tmp_path / "src")
    batch.write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)

    new = ParquetTable(spark, str(tmp_path / "new"), "id")
    with pytest.raises(AnalysisException):
        getattr(new, verb)(stream, lwt=1.0)
    assert not new.exists()

    old = ParquetTable(spark, str(tmp_path / "old"), "id")
    getattr(old, verb)(batch, lwt=1.0)
    stored = sorted(tuple(r) for r in old.df().collect())
    with pytest.raises(AnalysisException):
        getattr(old, verb)(stream, lwt=2.0)
    assert sorted(tuple(r) for r in old.df().collect()) == stored


def test_bulk_remove_empty_and_duplicate_ids(spark, tmp_path):
    """Empty delete set is a no-op; duplicate keys in the ids frame must
    not fan out the join and duplicate table rows."""
    t = ParquetTable(spark, str(tmp_path / "t"), "id")
    t.bulk_insert(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), lwt=1.0
    )
    t.bulk_remove([], lwt=2.0)
    assert t.docs().count() == 2

    dup_ids = spark.createDataFrame([(1,), (1,), (1,)], "id long")
    t.bulk_remove(dup_ids, lwt=3.0)
    assert t.df().count() == 2  # no fan-out duplication
    assert t.docs().count() == 1


def test_reopen_adopts_stored_bucket_layout(spark, tmp_path):
    """The stored layout's bucket count wins over the constructor arg:
    reopening a table with a different n_buckets must keep pruning
    correct (conflicts detected, upserts in place, no duplicates)."""
    path = str(tmp_path / "t")
    t8 = ParquetTable(spark, path, "id", n_buckets=8)
    t8.bulk_insert(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(32)], "id long, v string"
        ),
        lwt=1.0,
    )
    # reopen with the default (16) — layout resolution must adopt 8
    t16 = ParquetTable(spark, path, "id")
    res = t16.bulk_insert(
        spark.createDataFrame([(3, "dup"), (99, "new")], "id long, v string"),
        lwt=2.0,
    )
    assert res == {"success": 1, "conflict": 1}
    t16.bulk_upsert(
        spark.createDataFrame([(3, "V3")], "id long, v string"), lwt=3.0
    )
    got = {r["id"]: r["v"] for r in t16.docs().collect()}
    assert len(got) == 33 and got[3] == "V3" and got[99] == "new"


def test_flat_legacy_table_stays_flat(spark, tmp_path):
    """A pre-bucketing flat dir opened with the default n_buckets keeps
    the flat whole-table path — no NULL-partition rows, no lost keys."""
    path = str(tmp_path / "flat")
    spark.createDataFrame(
        [(1, "a", False, 1.0), (2, "b", False, 1.0)],
        "id long, v string, _deleted boolean, _lwt double",
    ).write.parquet(path)
    t = ParquetTable(spark, path, "id")  # default n_buckets=16
    t.bulk_upsert(
        spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string"), lwt=2.0
    )
    got = {r["id"]: r["v"] for r in t.docs().collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    assert "__pkb" not in t.df().columns


def _footer_reads(jobs) -> int:
    """The mergeSchema footer reads among ``jobs_run``'s jobs."""
    return sum(1 for _, stages in jobs if stages[0].startswith("parquet at "))


@pytest.fixture()
def bucketed(spark, tmp_path):
    """A stored 16-bucket table of 32 rows (``_table_meta.json`` on disk)."""
    path = str(tmp_path / "b16")
    ParquetTable(spark, path, "id").bulk_insert(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(32)], "id long, v string"
        ),
        lwt=1.0,
    )
    return path


def test_get_by_ids_reads_no_footer_before_lookup(spark, bucketed):
    """The layout of a table with a meta file is answered from that file:
    the only footer read is the table read the lookup scans (a second,
    for ``_bucketed``, ran before every lookup)."""
    t = ParquetTable(spark, bucketed, "id")
    got, jobs = jobs_run(spark, lambda: t.get_by_ids([3, 7, 99]))
    assert _footer_reads(jobs) == 1, jobs
    assert sorted(r["id"] for r in got.collect()) == [3, 7]


def test_bulk_insert_runs_nine_jobs(spark, bucketed):
    """An insert into an existing 16-bucket table runs 9 jobs (12 with a
    footer read for the layout and an anti-join of the winners against
    the stored rows): the layout comes from the meta file, and the
    insert rule keeps only keys with no stored row, so no winner can
    replace one."""
    t = ParquetTable(spark, bucketed, "id")
    delta = spark.createDataFrame([(3, "dup"), (40, "new")], "id long, v string")
    res, jobs = jobs_run(spark, lambda: t.bulk_insert(delta, lwt=2.0))
    assert res == {"success": 1, "conflict": 1}
    assert len(jobs) == 9, jobs
    got = {r["id"]: r["v"] for r in t.docs().collect()}
    assert len(got) == 33 and got[3] == "v3" and got[40] == "new"


def test_rx_state_fold(spark, tmp_path):
    st = RxState(spark, str(tmp_path / "state"))
    assert st.get("importDone") is None
    st.set("importDone", False)
    st.set("progress", 5)
    st.set("importDone", True)
    snap = st.snapshot()
    assert snap == {"importDone": True, "progress": 5}


def test_rx_state_modifier_closure(spark, tmp_path):
    """The reference's state.set(path, modifier) functional form
    (rx-state.js:46-52): modifier receives the current folded value."""
    st = RxState(spark, str(tmp_path / "state_mod"))
    st.set("counter", lambda old: (old or 0) + 1)
    st.set("counter", lambda old: (old or 0) + 1)
    st.set("counter", lambda old: old * 10)
    assert st.get("counter") == 20


def test_parquet_table_compact(spark, tmp_path):
    """compact() rewrites each bucket to one file (the OPTIMIZE analog)
    without changing values or revision stamps."""
    path = str(tmp_path / "t_compact")
    t = ParquetTable(spark, path, "id", n_buckets=4)
    t.bulk_insert(
        spark.createDataFrame([(i, f"v{i}") for i in range(40)], "id long, v string"),
        lwt=1.0,
    )
    # several touched-partition rewrites accumulate files per bucket
    for lwt in (2.0, 3.0, 4.0):
        t.bulk_upsert(
            spark.createDataFrame(
                [(i, f"v{i}@{lwt}") for i in range(0, 40, 3)], "id long, v string"
            ),
            lwt=lwt,
        )
    before_rows = sorted(tuple(r) for r in t.df().collect())
    stats = t.compact()
    assert stats["files_after"] <= 4
    assert stats["files_after"] < stats["files_before"]
    after_rows = sorted(tuple(r) for r in t.df().collect())
    assert after_rows == before_rows  # values AND _rev stamps identical


def test_rx_state_compaction(spark, tmp_path):
    """Round-4 verdict item #6: the op-log must not grow unbounded.
    Auto-compaction past the threshold folds to one surviving op per key
    (original op_id/sid kept), state and id monotonicity survive, and
    subsequent sets keep working."""
    from javascript_vector_database_spark.streaming.state import RxState

    st = RxState(spark, str(tmp_path / "state_c"), compact_threshold=10)
    for i in range(12):  # crosses the threshold mid-loop
        st.set("counter", i)
        st.set("flag", i % 2 == 0)
    log = st._oplog()
    assert log.count() <= 10  # 24 ops written, so it compacted en route
    ids = [int(r["op_id"]) for r in log.collect()]
    # ids survive compaction untouched: unique, and the newest (23) present
    assert len(ids) == len(set(ids)) and max(ids) == 23
    assert st.snapshot() == {"counter": 11, "flag": False}
    st.set("counter", lambda old: old + 1)  # modifier over compacted log
    assert st.get("counter") == 12
    # explicit compact folds to one op per key and is idempotent
    st.compact()
    st.compact()
    assert st.get("counter") == 12
    surv = {r["k"]: int(r["op_id"]) for r in st._oplog().collect()}
    assert surv == {"counter": 24, "flag": 23}


def test_embed_udf_real_model_when_available(spark):
    """Real-model branch: exercised only when sentence-transformers is
    importable (public MiniLM weights, the reference's model) — asserts
    384-dim unit-norm output; otherwise the deterministic fake branch is
    asserted instead."""
    from javascript_vector_database_spark.functions import embedding as E

    df = spark.createDataFrame([("hello world",)], "body string")
    if E._HAS_ST:
        row = df.withColumn("e", E.embed_udf(E.REFERENCE_DIM)(F.col("body"))).first()
        assert len(row["e"]) == 384
    else:
        row = df.withColumn("e", E.embed_udf(8)(F.col("body"))).first()
        assert len(row["e"]) == 8
    assert abs(sum(x * x for x in row["e"]) - 1.0) < 1e-4


def test_streaming_pipeline_foreachbatch(spark, items, tmp_path):
    """Structured Streaming flavor: file source -> foreachBatch handler ->
    destination, exactly-once via Spark's checkpoint; processAllAvailable
    is the awaitIdle barrier (SURVEY §2.9)."""
    from javascript_vector_database_spark.streaming.pipeline import (
        streaming_pipeline,
    )

    dest = ParquetTable(spark, str(tmp_path / "svectors"), "id")
    pivots = make_pivots(8)[:2]

    def handler(batch, batch_id):
        new = anti_join_new(batch, dest, "id", "id")
        emb = new.withColumn("embedding", embed_udf(8)(F.col("body")))
        dest.bulk_upsert(
            build_pivot_index(emb, pivots).select("id", "embedding", "idx0", "idx1")
        )

    q = streaming_pipeline(
        spark, items, "id long, body string, _lwt double", handler,
        str(tmp_path / "scp"),
    )
    q.awaitTermination(120)
    assert dest.docs().count() == 20

    # restart with the same checkpoint: no reprocessing, still 20 rows
    q2 = streaming_pipeline(
        spark, items, "id long, body string, _lwt double", handler,
        str(tmp_path / "scp"),
    )
    q2.awaitTermination(120)
    assert dest.docs().count() == 20
    assert dest.docs().select("id").distinct().count() == 20


@pytest.mark.parametrize(
    "name", ["dml_roundtrip", "pipeline_roundtrip", "json_dump_roundtrip"]
)
def test_roundtrip_oracles(spark, sf_oracle, name):
    """Local re-verification of the driver's roundtrip rows (same
    value-level compare the driver applies)."""
    from javascript_vector_database_spark import registry
    from tests.oracle_harness import compare

    compare(spark, sf_oracle, registry.queries()[name], registry.oracle_sql()[name])


def test_json_dump_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", "1-x"), (2, "b", "1-y")], "id long, v string, _rev string"
    )
    path = str(tmp_path / "dump")
    export_json(df, path)
    schema = "id long, v string"
    back = import_json(spark, path, schema, lwt=42.0)
    rows = {r["id"]: r for r in back.collect()}
    assert set(rows) == {1, 2}
    assert "_rev" not in back.columns  # stripped from the dump
    assert rows[1]["_lwt"] == 42.0

    with pytest.raises(ValueError, match="schema hash"):
        import_json(spark, path, "id long, v string, extra int", lwt=0.0)
    # need the meta file present
    assert os.path.exists(os.path.join(path, "_dump_meta.json"))


def test_query_cache_tunnels_identical_specs(spark, tmp_path):
    """tunnelQueryCache semantics: the same normalized spec returns the
    SAME persisted DataFrame (selector key order irrelevant); a different
    spec misses; a write through the table invalidates, and the re-run
    sees the new data."""
    from javascript_vector_database_spark.operators.query_cache import (
        CachedCollection,
    )

    t = ParquetTable(spark, str(tmp_path / "t"), "id")
    t.bulk_insert(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "a", 30)], "id long, v string, n long"
        ),
        lwt=1.0,
    )
    cache = CachedCollection.attach(t)

    q1 = cache.find({"v": "a", "n": {"$gte": 10}}, sort=[{"id": "asc"}])
    q2 = cache.find({"n": {"$gte": 10}, "v": "a"}, sort=[{"id": "asc"}])
    assert q1 is q2  # key order normalized away -> one shared instance
    assert (cache.hits, cache.misses) == (1, 1)
    assert q1.storageLevel.useMemory  # persisted, not re-planned per exec
    assert [r["id"] for r in q1.collect()] == [1, 3]

    q3 = cache.find({"v": "a"})
    assert q3 is not q1
    assert cache.misses == 2

    t.bulk_upsert(
        spark.createDataFrame([(4, "a", 40)], "id long, v string, n long"), lwt=2.0
    )
    assert len(cache) == 0  # write fired the listener -> cache dropped
    q4 = cache.find({"v": "a", "n": {"$gte": 10}}, sort=[{"id": "asc"}])
    assert q4 is not q1
    assert [r["id"] for r in q4.collect()] == [1, 3, 4]
