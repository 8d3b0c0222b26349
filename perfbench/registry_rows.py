"""``registry_rows``: a fixed sample of registered rows over the sf0.01 tables.

Inputs: the engine's sf0.01 test tables, kept in ``perfbench/sf0.01``
and read in place; the seed sets the row order.  Load: one cold pass
over the sample (the first call of each row), then one warm-up pass.
Loop: one closed-loop client; a pass runs every sampled row through
``registry.queries()`` in the seed-permuted order and collects it.  Each
answer is compared with the row's ``registry.oracle_sql()`` answer,
computed by DuckDB over the same files before the session starts work.

The traced run then runs the live phase (live.py) in the same session,
after the timed passes.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import time

import numpy as np

from harness import Run, median, run_passes, stopwatch, tail
from live import LivePhase

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")
TABLES = ("customer", "documents", "embeddings", "lineitem", "nation",
          "orders", "supplier")

#: one row per family: vector search, IVF, dedup (a connected-components
#: loop), graph iteration, lexical search, relational star join
ROWS = (
    "knn_exact",
    "ann_ivf_search",
    "dedup_duplicate_clusters",
    "graph_hits_authorities",
    "text_bm25_search",
    "agg_q7_nation_volume",
)
#: a warm pass over ROWS on 4 cores; sets the passes per run
NOMINAL_PASS_S = 12.0


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.10g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.10g}")
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    return v


def canonical(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows sorted: an order-insensitive form
    (the registry's comparison contract)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=repr,
    )
    return [cols[i] for i in order], body


class RegistryRows:
    def __init__(self, run: Run, seed: int, scale: str, workdir: str):
        self.run = run
        self.scale = scale
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.workdir = workdir
        self.times: dict[str, float] = {}
        self.passes: list[float] = []
        self.live: LivePhase | None = None

    def setup(self) -> None:
        import duckdb

        from javascript_vector_database_spark import registry

        self.sf_dir = SF_DIR
        self.order = [ROWS[i] for i in self.rng.permutation(len(ROWS))]
        queries, oracles = registry.queries(), registry.oracle_sql()
        self.fns = {r: queries[r] for r in ROWS}

        with stopwatch(self.times, "reference_s"):
            con = duckdb.connect()
            try:
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')"
                    )
                self.want = {}
                for r in ROWS:
                    res = con.sql(oracles[r])
                    self.want[r] = canonical(res.columns, res.fetchall())
            finally:
                con.close()

        t0 = time.perf_counter()
        self._pass(timed=False)  # cold first call of every row
        self.times["load_s"] = time.perf_counter() - t0
        self._pass(timed=False)  # warm-up: second calls are still compiling

    def _check(self, row: str):
        def check(df_rows) -> bool:
            cols, want = self.want[row]
            got_cols = list(df_rows[0].__fields__) if df_rows else cols
            return canonical(got_cols, [tuple(r) for r in df_rows]) == (cols, want)
        return check

    def _pass(self, timed: bool = True) -> float:
        total = 0.0
        for row in self.order:
            n0 = len(self.run.ops)
            self.run.op(
                f"registry.{row}",
                lambda: self.fns[row](self.run.spark, self.sf_dir),
                check=self._check(row),
                timed=timed,
            )
            if timed:
                total += self.run.ops[n0].get("total_s", 0.0)
        return total

    def loop(self, seconds: float) -> None:
        self.passes = run_passes(seconds, NOMINAL_PASS_S, lambda _i: self._pass())

    def traced_phase(self) -> None:
        """The live phase: measured only in the traced run, after every
        end-to-end figure is taken."""
        self.live = LivePhase(
            self.run, self.seed, self.scale,
            os.path.join(SF_DIR, "documents.parquet"),
            os.path.join(self.workdir, "live"),
        )
        self.live.run_all()

    def report(self) -> dict[str, tuple[float, str]]:
        t, pct, n = tail([r["total_s"] for r in self.run.ops
                          if r["kind"].startswith("registry.") and "build_s" in r])
        out = {
            "registry_pass_s": (median(self.passes), "s"),
            "registry_tail_s": (t, "s"),
            "registry_tail_percentile": (pct, "%"),
            "registry_tail_samples": (n, "count"),
        }
        if self.live is not None:
            out.update(self.live.report())
        return out

    def layers(self) -> dict[str, float]:
        out = self.live.layers() if self.live is not None else {}
        for row in ROWS:
            kind = f"registry.{row}"
            stats = self.run.layer(kind)
            for key in ("build_s", "action_s", "jobs", "stages", "task_cpu_s",
                        "shuffle_write_bytes"):
                out[f"{kind}.{key}"] = stats[f"{kind}.{key}"]
        return out
