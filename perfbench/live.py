"""The live phase: a changing collection, written and read by one client.

It runs in the traced ``registry_rows`` run, after the timed registry
passes, and feeds the per-layer metrics of ``streaming.pipeline``,
``functions.embedding``, ``operators.dml``, ``streaming.reactive`` and
``operators.query_cache``.

Inputs: the 500 documents of ``sf0.01/documents.parquet`` (text, lang,
source, n_chars), split by a seeded permutation into the ingested set
and a reserve of new documents.

Ingest: the ingested set drains through
``streaming.pipeline.Pipeline.await_idle`` in batches; the handler is
``anti_join_new`` -> ``embed_udf(384)`` -> ``knn.build_pivot_index`` and
the destination a PK-bucketed ``ParquetTable``.

Loop: one closed-loop client; a pass is one write followed by five
reads.  The write is a ``bulk_upsert`` of 8 rows (4 new ids from the
reserve, 4 existing ids given another document's content) and a
``bulk_remove`` of 2 ids, folded together into one sorted, limited
``ReactiveQuery``.  The reads go through ``CachedCollection.attach``:
``find``, ``count`` and ``find`` again with selectors drawn Zipf-skewed
from a seeded pool of 8 (a repeat hits the cache until the next write;
a ``count`` can be answered from a cached ``find``), ``find_by_ids`` of
5 ids, and ``knn.exact_knn`` over ``table.docs()``.

Every answer is checked against a Python model of the collection.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow.parquet as pq

from harness import Run, dir_bytes, median, stopwatch, tail
from vectors import TOP_K, check_topk, fold_dist

SIZES = {
    "full": {"docs": 200, "batch": 100, "pool": 8, "passes": 2},
    "tiny": {"docs": 60, "batch": 30, "pool": 4, "passes": 1},
}
DIM = 384
FIELDS = ("id", "text", "lang", "source", "n_chars")
UPSERT_NEW, UPSERT_OLD, REMOVE_N, BYIDS_N = 4, 4, 2, 5
LWT0 = 4.0e12  # after any wall-clock stamp the engine adds
RQ_SELECTOR = {"lang": "en", "n_chars": {"$gte": 200}}
RQ_LIMIT = 25
READS = ("find", "count", "find", "find_by_ids", "exact_knn")
WRITE_KINDS = ("dml.bulk_upsert", "dml.bulk_remove", "reactive.apply_changes")


def fake_embedding(text: str) -> np.ndarray:
    """The engine's deterministic stand-in model: a unit Gaussian vector
    seeded by md5(text), stored as float32."""
    seed = int.from_bytes(hashlib.md5(text.encode()).digest()[:4], "big")
    v = np.random.RandomState(seed).standard_normal(DIM)
    return (v / np.sqrt((v * v).sum())).astype(np.float32)


def _match(doc: dict, selector: dict) -> bool:
    for field, cond in selector.items():
        if field == "$and":
            if not all(_match(doc, s) for s in cond):
                return False
            continue
        v = doc[field]
        if not isinstance(cond, dict):
            cond = {"$eq": cond}
        for op, arg in cond.items():
            ok = {
                "$eq": lambda: v == arg,
                "$in": lambda: v in arg,
                "$gte": lambda: v >= arg,
                "$lt": lambda: v < arg,
                "$lte": lambda: v <= arg,
            }[op]()
            if not ok:
                return False
    return True


class Model:
    """Live documents by id, with their embeddings."""

    def __init__(self) -> None:
        self.docs: dict[int, dict] = {}
        self.emb: dict[int, np.ndarray] = {}

    def upsert(self, doc: dict) -> None:
        self.docs[doc["id"]] = doc
        self.emb[doc["id"]] = fake_embedding(doc["text"])

    def remove(self, ids: list[int]) -> None:
        for i in ids:
            self.docs.pop(i, None)
            self.emb.pop(i, None)

    def find(self, selector, sort, limit) -> list[int]:
        hits = [d for d in self.docs.values() if _match(d, selector)]
        if sort:
            field, direction = sort
            hits.sort(key=lambda d: d["id"])
            hits.sort(key=lambda d: d[field], reverse=direction == "desc")
            return [d["id"] for d in hits[:limit]]
        return sorted(d["id"] for d in hits)

    def knn(self, q: list[float]):
        ids = sorted(self.docs)
        mat = np.stack([self.emb[i] for i in ids]).astype(np.float64)
        return np.array(ids), fold_dist(mat, np.asarray(q))

    @staticmethod
    def payload(docs) -> int:
        """Bytes of user payload: the text fields as UTF-8, 8 bytes per
        number and the float32 embedding."""
        return sum(
            len(d["text"].encode()) + len(d["lang"]) + len(d["source"])
            + 16 + 4 * DIM
            for d in docs
        )


def selector_pool(rng: np.random.Generator, docs: list[dict], n: int) -> list:
    """(selector, (sort field, direction) or None, limit) entries over the
    documents' own field values."""
    langs = sorted({d["lang"] for d in docs})
    sources = sorted({d["source"] for d in docs})
    chars = sorted(d["n_chars"] for d in docs)
    pool = []
    for i in range(n):
        lang = langs[int(rng.integers(len(langs)))]
        c = chars[int(rng.integers(len(chars)))]
        kind = i % 4
        if kind == 0:
            pool.append(({"lang": lang}, None, None))
        elif kind == 1:
            pick = rng.choice(len(sources), 2, replace=False)
            pool.append((
                {"source": {"$in": [sources[int(j)] for j in pick]}},
                None, None))
        elif kind == 2:
            pool.append(({"n_chars": {"$lt": c}}, ("n_chars", "desc"), 20))
        else:
            pool.append((
                {"$and": [{"lang": {"$in": [lang, "en"]}},
                          {"n_chars": {"$lte": c}}]},
                None, None))
    return pool


class LivePhase:
    def __init__(self, run: Run, seed: int, scale: str, docs_path: str,
                 workdir: str):
        self.run = run
        self.size = SIZES[scale]
        self.rng = np.random.default_rng(seed)
        self.workdir = workdir
        self.times: dict[str, float] = {}
        self.model = Model()
        self.lwt = LWT0
        self.layer_times: dict[str, list[float]] = {
            "pipeline.run_once": [], "dml.get_by_ids": []}
        self.run_once_counters: list[dict] = []
        self.invalidations = 0
        self.written_bytes = 0
        self.written_user_bytes = 0
        rows = pq.read_table(docs_path).to_pylist()
        self.all_docs = [
            {"id": int(r["doc_id"]), "text": r["text"], "lang": r["lang"],
             "source": r["source"], "n_chars": int(r["n_chars"])}
            for r in rows
        ]

    # -- set-up ---------------------------------------------------------------

    def run_all(self) -> None:
        """Ingest, warm up every op once, then the timed passes."""
        self._ingest()
        self._warm_up()
        for _ in range(self.size["passes"]):
            self._pass()

    def _ingest(self) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from javascript_vector_database_spark.functions.embedding import embed_udf
        from javascript_vector_database_spark.operators import knn
        from javascript_vector_database_spark.operators.dml import ParquetTable
        from javascript_vector_database_spark.pivots import (
            N_PIVOTS_USED,
            make_pivots,
        )
        from javascript_vector_database_spark.streaming.pipeline import (
            Pipeline,
            anti_join_new,
        )

        run, spark, s = self.run, self.run.spark, self.size
        self.F, self.knn = F, knn
        self.schema = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ])
        self.change_schema = T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_deleted", T.BooleanType()),
            T.StructField("_lwt", T.DoubleType()),
        ])
        self.pivots = make_pivots(DIM)[:N_PIVOTS_USED]
        self.embed = embed_udf(DIM, use_real_model=False)

        order = self.rng.permutation(len(self.all_docs))
        docs = [self.all_docs[i] for i in order[:s["docs"]]]
        self.reserve = [self.all_docs[i] for i in order[s["docs"]:]]
        self.pool = selector_pool(self.rng, self.all_docs, s["pool"])
        zipf = 1.0 / np.arange(1, len(self.pool) + 1) ** 1.1
        self.pool_p = zipf / zipf.sum()

        source_dir = os.path.join(self.workdir, "source")
        df = spark.createDataFrame(
            [tuple(d[c] for c in FIELDS) + (LWT0 - len(docs) + i,)
             for i, d in enumerate(docs)],
            T.StructType(
                self.schema.fields + [T.StructField("_lwt", T.DoubleType())]),
        )
        df.coalesce(1).write.parquet(source_dir)
        with stopwatch(self.times, "reference_s"):
            for d in docs:
                self.model.upsert(d)

        table = ParquetTable(spark, os.path.join(self.workdir, "collection"),
                             "id", n_buckets=8)
        self.table = table

        def handler(batch):
            fresh = anti_join_new(batch, table, "id", "id")
            return knn.build_pivot_index(
                fresh.withColumn("embedding", self.embed(F.col("text"))),
                self.pivots,
            )

        pipe = Pipeline(
            spark, "embed", source_dir, table, handler,
            os.path.join(self.workdir, "checkpoints"),
            source_pk="id", lwt_col="_lwt", batch_size=s["batch"],
        )
        pipe.run_once = self._traced_run_once(pipe.run_once)
        n0 = len(run.ops)
        run.op("pipeline.await_idle", pipe.await_idle, action=lambda n: n,
               check=lambda n: n == len(docs))
        self.times["ingest_docs_per_s"] = (
            len(docs) / run.ops[n0]["total_s"] if "build_s" in run.ops[n0]
            else 0.0)
        self._time_embedding(source_dir)

    def _warm_up(self) -> None:
        from javascript_vector_database_spark.operators.query_cache import (
            CachedCollection,
        )
        from javascript_vector_database_spark.streaming.reactive import (
            ReactiveQuery,
        )

        run, table = self.run, self.table
        self.cache = CachedCollection.attach(table)
        table.on_write(self._count_invalidation)
        table.get_by_ids = self._timed(table.get_by_ids, "dml.get_by_ids")
        gone = sorted(self.model.docs)[:REMOVE_N]
        run.op("dml.bulk_remove",
               lambda: table.bulk_remove(gone, lwt=self.lwt),
               action=lambda r: r, timed=False)
        self.model.remove(gone)
        self.rq = ReactiveQuery(
            run.spark, RQ_SELECTOR, os.path.join(self.workdir, "reactive"),
            id_col="id", sort=[("n_chars", "desc")], limit=RQ_LIMIT,
        )
        run.op(
            "reactive.apply_changes",
            lambda: self.rq.apply_changes(
                table.df().select(*self.change_schema.fieldNames())),
            action=lambda r: r, check=lambda _r: self._check_rq(), timed=False,
        )
        for kind in READS:
            self._read(kind, timed=False)

    def _traced_run_once(self, inner):
        tracer = self.run.tracer

        def run_once():
            op_id = f"run_once-{len(self.layer_times['pipeline.run_once'])}"
            t0 = time.perf_counter()
            with tracer.span("pipeline.run_once", op_id), \
                    tracer.job_group(op_id, "pipeline.run_once"):
                n = inner()
            wall = time.perf_counter() - t0
            if n:  # the last, idle call only finds the source drained
                self.layer_times["pipeline.run_once"].append(wall)
                self.run_once_counters.append(tracer.read_counters(op_id, wall))
            return n
        return run_once

    def _timed(self, inner, name):
        def call(*a, **k):
            t0 = time.perf_counter()
            with self.run.tracer.span(name):
                out = inner(*a, **k)
            self.layer_times[name].append(time.perf_counter() - t0)
            return out
        return call

    def _time_embedding(self, source_dir: str) -> None:
        """``embed_udf`` alone over the ingested text."""
        F = self.F
        df = self.run.spark.read.parquet(source_dir)
        n0 = len(self.run.ops)
        self.run.op(
            "embedding.embed_udf",
            lambda: df.select(F.size(self.embed(F.col("text"))).alias("d"))
            .agg(F.count("d").alias("n"), F.min("d").alias("dim")),
            check=lambda rows: (rows[0]["n"], rows[0]["dim"])
            == (len(self.model.docs), DIM),
        )
        rec = self.run.ops[n0]
        self.times["embed_rows_per_s"] = (
            len(self.model.docs) / rec["total_s"] if "build_s" in rec else 0.0)

    def _count_invalidation(self) -> None:
        self.invalidations += 1

    # -- ops ------------------------------------------------------------------

    def _change_df(self, rows: list[dict], deleted: bool):
        return self.run.spark.createDataFrame(
            [(d["id"], d["lang"], d["n_chars"], deleted, self.lwt)
             for d in rows],
            self.change_schema,
        )

    def _write(self, timed: bool = True) -> None:
        """One write: an upsert and a remove, then their ReactiveQuery fold."""
        run, F = self.run, self.F
        self.lwt += 1.0
        live = sorted(self.model.docs)
        picks = self.rng.choice(len(live), UPSERT_OLD + REMOVE_N, replace=False)
        changed = []
        for i in picks[:UPSERT_OLD]:
            content = self.all_docs[int(self.rng.integers(len(self.all_docs)))]
            changed.append({**content, "id": live[int(i)]})
        rows = changed + [self.reserve.pop() for _ in range(UPSERT_NEW)]
        gone = [live[int(i)] for i in picks[UPSERT_OLD:]]
        gone_rows = [self.model.docs[i] for i in gone]
        df = run.spark.createDataFrame(
            [tuple(d[c] for c in FIELDS) for d in rows], self.schema)
        delta = self.knn.build_pivot_index(
            df.withColumn("embedding", self.embed(F.col("text"))), self.pivots
        )
        before = _files(self.table.path)
        run.op("dml.bulk_upsert",
               lambda: self.table.bulk_upsert(delta, lwt=self.lwt),
               action=lambda r: r, timed=timed)
        after = _files(self.table.path)
        self.written_bytes += sum(
            size for path, size in after.items() if before.get(path) != size)
        self.written_user_bytes += Model.payload(rows)
        run.op("dml.bulk_remove",
               lambda: self.table.bulk_remove(gone, lwt=self.lwt),
               action=lambda r: r, timed=timed)
        for d in rows:
            self.model.upsert(d)
        self.model.remove(gone)
        change = self._change_df(rows, False).unionByName(
            self._change_df(gone_rows, True))
        run.op("reactive.apply_changes",
               lambda: self.rq.apply_changes(change), action=lambda r: r,
               check=lambda _r: self._check_rq(), timed=timed)

    def _check_rq(self) -> bool:
        want = self.model.find(RQ_SELECTOR, ("n_chars", "desc"), RQ_LIMIT)
        n_match = len(self.model.find(RQ_SELECTOR, None, None))
        got = [r["id"] for r in self.rq.results().collect()]
        return self.rq.count() == n_match and sorted(got) == sorted(want)

    def _read(self, kind: str, timed: bool = True) -> None:
        run, cache, model = self.run, self.cache, self.model
        if kind in ("find", "count"):
            sel, sort, limit = self.pool[
                int(self.rng.choice(len(self.pool), p=self.pool_p))]
            want = model.find(sel, sort, limit)
        if kind == "find":
            sort_spec = [{sort[0]: sort[1]}] if sort else None
            run.op(
                "query_cache.find",
                lambda: cache.find(sel, sort=sort_spec, limit=limit),
                check=lambda rows: [r["id"] for r in rows] == want
                if sort else sorted(r["id"] for r in rows) == want,
                timed=timed,
            )
        elif kind == "count":
            n_match = len(model.find(sel, None, None))
            run.op("query_cache.count", lambda: cache.count(sel),
                   action=lambda n: n, check=lambda n: n == n_match,
                   timed=timed)
        elif kind == "find_by_ids":
            live = sorted(model.docs)
            ids = [live[int(i)] for i in
                   self.rng.choice(len(live), BYIDS_N - 1, replace=False)]
            ids.append(max(d["id"] for d in self.all_docs) + 1)  # never written
            want = sorted(i for i in ids if i in model.docs)
            run.op("query_cache.find_by_ids", lambda: cache.find_by_ids(ids),
                   check=lambda rows: sorted(r["id"] for r in rows) == want,
                   timed=timed)
        else:
            live = sorted(model.docs)
            base = model.emb[live[int(self.rng.integers(len(live)))]]
            q = base.astype(np.float64) + 0.02 * self.rng.standard_normal(DIM)
            q = [float(x) for x in q / np.sqrt((q * q).sum())]
            cand_ids, cand_dist = model.knn(q)
            run.op(
                "knn.exact_knn",
                lambda: self.knn.exact_knn(self.table.docs(), q, k=TOP_K,
                                           id_col="id"),
                check=lambda rows: check_topk(rows, cand_ids, cand_dist),
                timed=timed,
            )

    def _pass(self) -> None:
        self._write()
        for kind in READS:
            self._read(kind)

    # -- results ----------------------------------------------------------------

    def _writes(self) -> list[float]:
        """Write latencies: upsert + remove + the fold that follows."""
        ops = [r for r in self.run.ops if r["kind"] in WRITE_KINDS]
        return [
            sum(r["total_s"] for r in ops[i:i + 3])
            for i in range(0, len(ops) - 2, 3)
            if tuple(r["kind"] for r in ops[i:i + 3]) == WRITE_KINDS
        ]

    def _reads(self) -> list[float]:
        kinds = {"query_cache.find", "query_cache.count",
                 "query_cache.find_by_ids", "knn.exact_knn"}
        return [r["total_s"] for r in self.run.ops if r["kind"] in kinds]

    def report(self) -> dict[str, tuple[float, str]]:
        t, pct, n = tail(self._reads() + self._writes())
        stored, _files = dir_bytes(self.table.path)
        return {
            "ingest_docs_per_s": (self.times["ingest_docs_per_s"], "docs/s"),
            "write_p50_s": (median(self._writes()), "s"),
            "read_p50_s": (median(self._reads()), "s"),
            "live_tail_s": (t, "s"),
            "live_tail_percentile": (pct, "%"),
            "live_tail_samples": (n, "count"),
            "stored_bytes_per_user_byte": (
                stored / Model.payload(self.model.docs.values()), "ratio"),
        }

    def layers(self) -> dict[str, float]:
        run = self.run
        runs = self.run_once_counters
        upsert = run.layer("dml.bulk_upsert")
        rq = run.layer("reactive.apply_changes")
        find = run.layer("query_cache.find")
        hits, misses = self.cache.hits, self.cache.misses
        _bytes, files = dir_bytes(self.table.path)
        out = {
            "pipeline.run_once_s": median(self.layer_times["pipeline.run_once"]),
            "pipeline.batches": float(len(runs)),
            "pipeline.run_once.jobs": median([c["jobs"] for c in runs]),
            "pipeline.run_once.task_cpu_s": median(
                [c["task_cpu_s"] for c in runs]),
            "embedding.embed_udf.rows_per_s": self.times["embed_rows_per_s"],
            "dml.bulk_upsert_s": upsert["dml.bulk_upsert_s"],
            "dml.bulk_upsert.jobs": upsert["dml.bulk_upsert.jobs"],
            "dml.bulk_upsert.task_cpu_s": upsert["dml.bulk_upsert.task_cpu_s"],
            "dml.bulk_upsert.shuffle_write_bytes":
                upsert["dml.bulk_upsert.shuffle_write_bytes"],
            "dml.bulk_remove_s": run.layer("dml.bulk_remove")["dml.bulk_remove_s"],
            "dml.get_by_ids_s": median(self.layer_times["dml.get_by_ids"]),
            "dml.files": float(files),
            "dml.bytes_written_per_user_byte": (
                self.written_bytes / self.written_user_bytes
                if self.written_user_bytes else 0.0),
            "reactive.apply_changes_s": rq["reactive.apply_changes_s"],
            "reactive.apply_changes.jobs": rq["reactive.apply_changes.jobs"],
            "reactive.fallbacks": float(self.rq.fallbacks),
            "query_cache.hit_ratio":
                hits / (hits + misses) if hits + misses else 0.0,
            "query_cache.invalidations": float(self.invalidations),
            "query_cache.find.build_s": find["query_cache.find.build_s"],
            "query_cache.find.action_s": find["query_cache.find.action_s"],
            "query_cache.count_s":
                run.layer("query_cache.count")["query_cache.count_s"],
            "query_cache.find_by_ids.action_s":
                run.layer("query_cache.find_by_ids")[
                    "query_cache.find_by_ids.action_s"],
        }
        knn_stats = run.layer("knn.exact_knn")
        for key in ("build_s", "action_s", "jobs", "stages", "tasks",
                    "task_cpu_s", "slot_use"):
            out[f"knn.exact_knn.{key}"] = knn_stats[f"knn.exact_knn.{key}"]
        return out


def _files(path: str) -> dict[str, int]:
    """Size of every parquet file under a directory."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                p = os.path.join(root, name)
                out[p] = os.path.getsize(p)
    return out
