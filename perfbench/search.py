"""``search``: paper-scale k-NN over a read-only, pivot-indexed corpus.

Inputs: 10,000 unit vectors x 384 dims around 40 seeded cluster centres,
written as parquet; 16 queries, each a seeded perturbation of a corpus
point.  Load: ``knn.write_pivot_index_tables`` once, then
``knn.open_pivot_index_tables``.  Loop: one closed-loop client; a pass
runs the next query through ``exact_knn``, ``ann_index_range_stored`` and
``ann_index_similarity_stored`` and collects each answer.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Run, median, run_passes, stopwatch, tail
from vectors import (
    TOP_K,
    KnnReference,
    check_topk,
    clustered_corpus,
    perturbed_queries,
)

SIZES = {
    "full": {"n": 10_000, "dim": 384, "clusters": 40, "queries": 16},
    "tiny": {"n": 600, "dim": 384, "clusters": 8, "queries": 6},
}
N_FILES = 8
WARM_PASSES = 4
#: a warm pass (three queries) on 4 cores; sets the passes per run
NOMINAL_PASS_S = 3.0
STRATEGIES = (
    ("knn.exact_knn", "exact"),
    ("knn.ann_index_range_stored", "range"),
    ("knn.ann_index_similarity_stored", "similarity"),
)


class Search:
    def __init__(self, run: Run, seed: int, scale: str, workdir: str):
        self.run = run
        self.size = SIZES[scale]
        self.rng = np.random.default_rng(seed)
        self.workdir = workdir
        self.times: dict[str, float] = {}
        self.passes: list[float] = []

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        from javascript_vector_database_spark.operators import knn
        from javascript_vector_database_spark.pivots import (
            N_PIVOTS_USED,
            make_pivots,
        )

        s, run, spark = self.size, self.run, self.run.spark
        vecs = clustered_corpus(self.rng, s["n"], s["dim"], s["clusters"])
        ids = self.rng.permutation(s["n"]).astype(np.int64)
        self.queries = perturbed_queries(self.rng, vecs, s["queries"])
        self.pivots = make_pivots(s["dim"])[:N_PIVOTS_USED]

        corpus_dir = os.path.join(self.workdir, "corpus")
        with run.tracer.span("inputs.write"):
            _write_vectors(corpus_dir, ids, vecs)

        with stopwatch(self.times, "reference_s"):
            ref = KnnReference(ids, vecs, self.pivots)
            self.answers = []
            for q in self.queries:
                rc = ref.range_candidates(q)
                sc = ref.similarity_candidates(q)
                self.answers.append({
                    "exact": ref.answer(q),
                    "range": ref.answer(q, rc),
                    "similarity": ref.answer(q, sc),
                })

        corpus = spark.read.parquet(corpus_dir)
        idx_dir = os.path.join(self.workdir, "pivot_index")
        t0 = time.perf_counter()
        with run.tracer.span("knn.write_pivot_index_tables"):
            knn.write_pivot_index_tables(corpus, self.pivots, idx_dir)
        self.times["write_index_s"] = time.perf_counter() - t0
        with run.tracer.span("knn.open_pivot_index_tables"):
            tables = knn.open_pivot_index_tables(
                spark, idx_dir, len(self.pivots)
            )
        self.times["load_s"] = time.perf_counter() - t0

        self.calls = {
            "exact": lambda q: knn.exact_knn(corpus, q),
            "range": lambda q: knn.ann_index_range_stored(
                spark, idx_dir, q, self.pivots, tables=tables
            ),
            "similarity": lambda q: knn.ann_index_similarity_stored(
                spark, idx_dir, q, self.pivots, tables=tables
            ),
        }
        # warm-up passes over every strategy, checked, not recorded
        for qi in range(len(self.queries) - WARM_PASSES, len(self.queries)):
            self._pass(qi, timed=False)

    # -- loop -------------------------------------------------------------------

    def _pass(self, qi: int, timed: bool = True) -> float:
        q = self.queries[qi]
        exact_top = set(self.answers[qi]["exact"][2].tolist())
        total = 0.0
        for kind, strategy in STRATEGIES:
            cand_ids, cand_dist, _top = self.answers[qi][strategy]
            n0 = len(self.run.ops)
            rows = self.run.op(
                kind,
                lambda: self.calls[strategy](q),
                check=lambda rows: check_topk(rows, cand_ids, cand_dist),
                timed=timed,
                probe=None if strategy == "exact" else semi_join_rows,
            )
            if timed:
                rec = self.run.ops[n0]
                # true top-10 ids among the ids the engine returned
                rec["top10_hits"] = len(
                    exact_top & {int(r[0]) for r in rows or []})
                total += rec["total_s"]
        return total

    def loop(self, seconds: float) -> None:
        order = self.rng.permutation(len(self.queries) - WARM_PASSES)

        def one_pass(i: int) -> float:
            return self._pass(int(order[i % len(order)]))

        self.passes = run_passes(seconds, NOMINAL_PASS_S, one_pass)

    def traced_phase(self) -> None:
        """``search`` measures nothing beyond its loop."""

    # -- results ----------------------------------------------------------------

    def report(self) -> dict[str, tuple[float, str]]:
        run = self.run
        lat = {k: [r["total_s"] for r in run.timed(k)] for k, _ in STRATEGIES}
        pooled = [x for v in lat.values() for x in v]
        t, pct, n = tail(pooled)
        out = {
            "exact_knn_p50_s": (median(lat["knn.exact_knn"]), "s"),
            "ann_range_p50_s": (median(lat["knn.ann_index_range_stored"]), "s"),
            "ann_similarity_p50_s": (
                median(lat["knn.ann_index_similarity_stored"]), "s"),
            "search_tail_s": (t, "s"),
            "search_tail_percentile": (pct, "%"),
            "search_tail_samples": (n, "count"),
        }
        for kind, strategy in STRATEGIES[1:]:
            hits = [r.get("top10_hits", 0) / TOP_K for r in run.ops
                    if r["kind"] == kind]
            out[f"ann_{strategy}_recall_at_10"] = (
                float(np.mean(hits)) if hits else 0.0, "fraction")
        return out

    def layers(self) -> dict[str, float]:
        run = self.run
        out = {"knn.write_pivot_index_tables_s": self.times["write_index_s"]}
        for kind, _ in STRATEGIES:
            stats = run.layer(kind)
            for key in ("build_s", "action_s", "jobs", "stages", "tasks",
                        "task_cpu_s", "slot_use"):
                out[f"{kind}.{key}"] = stats[f"{kind}.{key}"]
        for kind, _ in STRATEGIES[1:]:
            out[f"{kind}.candidates"] = median(
                [r["candidates"] for r in run.timed(kind) if "candidates" in r])
        # a true top-10 id among the candidates always makes the returned
        # top 10, so the hits in the answer are the useful candidates
        recs = [r for r in run.timed("knn.ann_index_range_stored")
                if "candidates" in r]
        read = sum(r["candidates"] for r in recs)
        out["knn.ann_index_range_stored.useful_frac"] = (
            sum(r["top10_hits"] for r in recs) / read if read else 0.0)
        return out


def semi_join_rows(df) -> dict[str, float]:
    """Docs the engine read back for one ANN query: the output rows of
    the candidate semi-join in the executed plan (the reference's
    ``docReads``)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls in ("WholeStageCodegenExec", "InputAdapter"):
            stack.append(node.child())
        elif "Join" in cls and node.joinType().toString() == "LeftSemi":
            return {"candidates": float(
                node.metrics().apply("numOutputRows").value())}
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    raise RuntimeError("no semi-join in the executed plan")


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    """(vec_id bigint, embedding array<float>) split over N_FILES files."""
    os.makedirs(path, exist_ok=True)
    dim = vecs.shape[1]
    for part, rows in enumerate(np.array_split(np.arange(len(ids)), N_FILES)):
        emb = pa.FixedSizeListArray.from_arrays(
            pa.array(vecs[rows].reshape(-1), type=pa.float32()), dim
        ).cast(pa.list_(pa.float32()))
        table = pa.table({"vec_id": pa.array(ids[rows]), "embedding": emb})
        pq.write_table(table, os.path.join(path, f"part-{part:03d}.parquet"))
