from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from javascript_vector_database_spark import registry
from javascript_vector_database_spark.operators import ann_scale, knn, quant
from javascript_vector_database_spark.operators import pq as pqm
from javascript_vector_database_spark.pivots import make_pivots
from javascript_vector_database_spark.tables import load_table
from tests.oracle_harness import compare
from tests.spark_jobs import executed_plans, jobs_run


def test_knn_batch_oracle(spark, sf_oracle):
    compare(
        spark,
        sf_oracle,
        registry.queries()["knn_batch_exact"],
        registry.oracle_sql()["knn_batch_exact"],
    )


def test_knn_batch_each_query_matches_single(spark, sf_oracle):
    """Per-query slices of the batch result equal the single-query path."""
    from javascript_vector_database_spark.operators import knn as K
    from javascript_vector_database_spark.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_oracle, "embeddings")
    batch = registry.queries()["knn_batch_exact"](spark, sf_oracle).collect()
    for qid in (1, 3, 5):
        got = [
            (r["vec_id"], r["distance"]) for r in batch if r["query_id"] == qid
        ]
        qv = registry.get_query_vec(spark, sf_oracle, vec_id=qid)
        want = [
            (r["vec_id"], r["distance"])
            for r in K.exact_knn(emb, qv).collect()
        ]
        assert got == want


def test_knn_exact_oracle(spark, sf_oracle):
    compare(spark, sf_oracle, registry.knn_exact, registry.oracle_sql()["knn_exact"])


def test_knn_exact_self_is_nearest(spark, sf_smoke):
    qv = registry.get_query_vec(spark, sf_smoke)
    top = registry.knn_exact(spark, sf_smoke).collect()
    assert top[0]["vec_id"] == registry.QVEC_ID
    assert top[0]["distance"] == 0.0
    dists = [r["distance"] for r in top]
    assert dists == sorted(dists)
    assert len(top) == 10


def test_ann_range_oracle(spark, sf_oracle):
    compare(
        spark, sf_oracle, registry.knn_ann_range, registry.oracle_sql()["knn_ann_range"]
    )


def test_ann_range_subset_of_table_and_ranked(spark, sf_smoke):
    """Index-path ⊆ scan-path metamorphic check (the reference author's own
    oracle, SURVEY.md §5.2)."""
    qv = registry.get_query_vec(spark, sf_smoke)
    pivots = make_pivots(len(qv))[:5]
    emb = load_table(spark, sf_smoke, "embeddings")
    exact = {r["vec_id"]: r["distance"] for r in knn.exact_knn(emb, qv, k=50).collect()}
    ann = knn.ann_index_range(emb, qv, pivots).collect()
    for r in ann:
        if r["vec_id"] in exact:
            assert abs(exact[r["vec_id"]] - r["distance"]) < 1e-9


def test_ann_similarity_recall(spark, sf_smoke):
    qv = registry.get_query_vec(spark, sf_smoke)
    pivots = make_pivots(len(qv))[:5]
    emb = load_table(spark, sf_smoke, "embeddings")
    exact_ids = {r["vec_id"] for r in knn.exact_knn(emb, qv).collect()}
    ann_ids = {
        r["vec_id"] for r in knn.ann_index_similarity(emb, qv, pivots).collect()
    }
    # 100 docs/side/pivot on a 500-row table covers nearly everything
    recall = len(exact_ids & ann_ids) / len(exact_ids)
    assert recall >= 0.8, recall


def test_flagship_oracle(spark, sf_oracle):
    compare(
        spark,
        sf_oracle,
        registry.flagship_search,
        registry.oracle_sql()["flagship_search"],
    )


def test_scan_and_point_lookup_oracles(spark, sf_oracle):
    qs, osql = registry.queries(), registry.oracle_sql()
    compare(spark, sf_oracle, qs["scan_documents"], osql["scan_documents"])
    compare(spark, sf_oracle, qs["point_lookup"], osql["point_lookup"])


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) == 10
    assert rows[0]["distance"] == 0.0


def test_compat_range_oracle(spark, sf_oracle):
    compare(
        spark,
        sf_oracle,
        registry.queries()["knn_ann_range_compat"],
        registry.oracle_sql()["knn_ann_range_compat"],
    )


def test_compat_string_range_divergence(spark):
    """Documents the §1.3 quirk: the lexicographic string index mis-orders
    across integer-digit-count regimes.  With a pivot window whose key
    bounds straddle the 1-digit/2-digit boundary (lo key '7.35...', hi key
    '13.65...'), string comparison excludes EVERYTHING: any key > '7.35'
    starts with '7'..'9' and therefore also sorts above '13.65'
    ('9' > '1'), while keys in the '10.x'-'13.x' regime sort below '7.35'
    ('1' < '7').  Double mode (the consciously-fixed scale path) returns
    the true candidates."""
    rows = [
        (1, [2.05, 0.0]),  # dist to pivot = 1.05 -> key '10.5000000'
        (2, [1.9, 0.0]),   # dist 0.9  -> key '9.00000000' (numeric window IN)
        (3, [2.6, 0.0]),   # dist 1.6  -> key '16.0000000' (numeric OUT)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    pivots = [[1.0, 0.0]]
    qv = [2.05, 0.0]  # d_pivot = 1.05; window +-0.3 -> (0.735, 1.365)
    wide = 0.3
    dbl = {
        r["vec_id"]
        for r in knn.ann_index_range(df, qv, pivots, index_distance=wide).collect()
    }
    compat = {
        r["vec_id"]
        for r in knn.ann_index_range_compat(
            df, qv, pivots, index_distance=wide
        ).collect()
    }
    assert dbl == {1, 2}
    # the quirk: the string window across the digit-count boundary is
    # lexicographically empty — the reference would MISS both candidates
    assert compat == set()


def test_mmr_skips_near_copies(spark):
    """MMR must pass over a near-copy of an already-selected item in
    favor of a diverse one, where plain top-k would take the copy."""
    from javascript_vector_database_spark.operators.knn import mmr_rerank

    rows = [
        (1, [0.9, 0.43, 0.0], "a"),    # best match to q
        (2, [0.9, 0.44, 0.0], "b"),    # near-copy of 1 (sim ~1)
        (3, [0.9, -0.43, 0.0], "c"),   # equally relevant, diverse
        (4, [0.7, 0.0, 0.7], "d"),     # diverse
        (5, [-1.0, 0.0, 0.0], "e"),    # anti-relevant
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = [r["vec_id"] for r in mmr_rerank(emb, [1.0, 0.0, 0.0], k=3)
           .orderBy("rank").collect()]
    assert out[0] == 1
    assert 2 not in out[1:]  # the near-copy is passed over
    assert set(out[1:]) <= {3, 4}


def test_mmr_oracle(spark, sf_oracle):
    compare(
        spark,
        sf_oracle,
        registry.queries()["knn_mmr_rerank"],
        registry.oracle_sql()["knn_mmr_rerank"],
    )


def test_lit_double_array_bit_identical(spark):
    """The one-parse literal path must produce bit-identical doubles to
    the per-element F.lit path — incl. subnormals, huge magnitudes,
    negative zero, and non-terminating binary fractions."""
    import struct

    from pyspark.sql import functions as F

    from javascript_vector_database_spark.functions.vector import (
        lit_double_array,
    )

    vals = [
        0.1 + 0.2, -0.0, 5e-324, 1e300, -1.7976931348623157e308,
        123456789.123456789, 2.0 ** -1022, 1 / 3,
        float("nan"), float("inf"), float("-inf"),
    ]
    old = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in vals]).alias("a")
    ).first()["a"]
    new = spark.range(1).select(lit_double_array(vals).alias("a")).first()["a"]
    assert all(
        struct.pack("d", a) == struct.pack("d", b) for a, b in zip(old, new)
    )
    assert len(old) == len(new) == len(vals)


# ---------------------------------------------------------------------------
# single-query probes rendered as one statement
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def stored_index(spark, sf_smoke, tmp_path_factory):
    """(embeddings, query, pivots, index dir) at sf0.001."""
    emb = load_table(spark, sf_smoke, "embeddings")
    qv = registry.get_query_vec(spark, sf_smoke)
    pivots = registry.used_pivots(len(qv))
    base = str(tmp_path_factory.mktemp("knn_stored") / "pivot_index")
    knn.write_pivot_index_tables(emb, pivots, base)
    return emb, qv, pivots, base


def _rows(df) -> list[str]:
    # repr, so that NaN distances compare equal
    return [repr(tuple(r)) for r in df.collect()]


def _cents(pivots):
    return list(enumerate(pivots))


#: every probe that ranks pivots or centroids, with a query one dimension
#: short; the stored ones get a missing index dir and the centroid ones
#: the pivots as centroids, so building anything would fail with another
#: error than the dimension check, or not at all
_SHORT_QUERY_PROBES = {
    "ann_index_range": lambda e, q, p: knn.ann_index_range(e, q, p),
    "candidate_count": lambda e, q, p: knn.candidate_count(e, q, p),
    "ann_index_range_stored": lambda e, q, p: knn.ann_index_range_stored(
        e.sparkSession, "/nonexistent", q, p),
    "ann_index_range_stored_batch": lambda e, q, p: (
        knn.ann_index_range_stored_batch(
            e.sparkSession, "/nonexistent", [(1, q)], p)),
    "ann_index_range_compat": lambda e, q, p: knn.ann_index_range_compat(
        e, q, p),
    "ann_index_range_compat_stored": lambda e, q, p: (
        knn.ann_index_range_compat_stored(
            e.sparkSession, "/nonexistent", q, p)),
    "ann_index_similarity": lambda e, q, p: knn.ann_index_similarity(
        e, q, p),
    "ann_index_similarity_stored": lambda e, q, p: (
        knn.ann_index_similarity_stored(
            e.sparkSession, "/nonexistent", q, p)),
    "ivf_search": lambda e, q, p: ann_scale.ivf_search(
        e, q, cents=_cents(p)),
    "knn_batch_ivf": lambda e, q, p: ann_scale.knn_batch_ivf(
        e, [(1, q)], cents=_cents(p)),
    "ivf_radius_search": lambda e, q, p: ann_scale.ivf_radius_search(
        e, q, 1.0, _cents(p), {}),
    "ivf_radius_fused": lambda e, q, p: ann_scale.ivf_radius_fused(
        e, [(1, q)], _cents(p), 10),
    "ivfpq_search": lambda e, q, p: pqm.ivfpq_search(
        e, q, _cents(p), pqm.pq_codebook(_cents(p))),
    "ivfpq_search_precomputed": lambda e, q, p: (
        pqm.ivfpq_search_precomputed(
            e, e, q, _cents(p), pqm.pq_codebook(_cents(p)))),
    "ivfpq_residual_search": lambda e, q, p: pqm.ivfpq_residual_search(
        e, q, _cents(p), pqm.pq_codebook(_cents(p))),
}


@pytest.mark.parametrize("probe", sorted(_SHORT_QUERY_PROBES))
def test_wrong_dimension_query_is_refused(spark, sf_smoke, probe):
    """A short query used to be truncated against the pivots and padded
    with nulls in the re-rank: every probe now refuses it up front,
    naming itself and both lengths."""
    emb = load_table(spark, sf_smoke, "embeddings")
    qv = registry.get_query_vec(spark, sf_smoke)
    pivots = registry.used_pivots(len(qv))
    msg = (
        f"{probe}: query vector has {len(qv) - 1} dimensions, "
        f"pivots have {len(qv)}"
    )
    with pytest.raises(ValueError, match=re.escape(msg)):
        _SHORT_QUERY_PROBES[probe](emb, qv[:-1], pivots)


def test_exact_knn_wrong_dimension_gives_null_distances(spark, sf_smoke):
    """exact_knn takes no pivots and checks nothing: as its docstring
    says, a query of the wrong length gives null distances."""
    emb = load_table(spark, sf_smoke, "embeddings")
    qv = registry.get_query_vec(spark, sf_smoke)
    rows = knn.exact_knn(emb, qv[:-1]).collect()
    assert len(rows) == 10
    assert all(r["distance"] is None for r in rows)


def test_probe_build_round_trip_budget(spark, stored_index, monkeypatch):
    """Building a probe, or the stored index's rows, is one parsed
    statement, not a py4j round trip per Column, literal and operator
    (236 / 621 / 1,184 gateway commands on the 384-dim search benchmark
    before), and the temporary views that bind the table handles are
    gone once the answer is in.
    The stored-code probes build their coarse score through the Column
    API, so they get a wider budget: under half of the 1,003 / 636
    commands they cost with hand-written tails on the 64-dim corpus."""
    import threading

    from py4j.clientserver import ClientServerConnection

    emb, qv, pivots, base = stored_index
    tables = knn.open_pivot_index_tables(spark, base, len(pivots))
    cents = ann_scale.collect_centroids(emb)
    cells = emb.withColumn(
        "ivf_cell", ann_scale.ivf_cell_expr(F.col("embedding"), cents))
    buckets = emb.withColumn("bucket", ann_scale.lsh_bucket(
        "embedding", ann_scale.hyperplanes(len(qv))))
    lo, hi = quant.sq8_params(emb)
    sq8_codes = quant.quantize_table(emb, lo, hi)
    bq_words = quant.bq_table(emb, len(qv))
    index_rows = emb.count() * len(pivots)
    builds = {
        "exact_knn": (40, lambda: knn.exact_knn(emb, qv)),
        "ann_index_range_stored": (40, lambda: knn.ann_index_range_stored(
            spark, base, qv, pivots, tables=tables)),
        "ann_index_similarity_stored": (40, lambda: (
            knn.ann_index_similarity_stored(
                spark, base, qv, pivots, tables=tables))),
        "ivf_search": (40, lambda: ann_scale.ivf_search(
            cells, qv, cents=cents, precomputed=True)),
        "lsh_search": (40, lambda: ann_scale.lsh_search(
            buckets, qv, precomputed=True)),
        "sq8_search_precomputed": (500, lambda: (
            quant.sq8_search_precomputed(sq8_codes, emb, qv, lo, hi))),
        "bq_search_precomputed": (300, lambda: (
            quant.bq_search_precomputed(bq_words, emb, qv))),
        # the stored index's rows: 912 commands here when every pivot's
        # key was a chained Column fold
        "_pivot_index_rows": (20, lambda: knn._pivot_index_rows(
            emb, pivots, "vec_id", "embedding")),
        "_pivot_index_rows(compat)": (20, lambda: knn._pivot_index_rows(
            emb, pivots, "vec_id", "embedding", compat_strings=True)),
    }
    real = ClientServerConnection.send_command
    sent = []
    builder = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        # py4j's finalizer thread releases the Java objects of earlier
        # work whenever Python frees them: those commands are not the
        # build's, so only the building thread's commands count
        if threading.get_ident() == builder:
            sent.append(command)
        return real(self, command, *args, **kwargs)

    for name, (limit, build) in builds.items():
        sent.clear()
        monkeypatch.setattr(ClientServerConnection, "send_command", counting)
        df = build()
        monkeypatch.setattr(ClientServerConnection, "send_command", real)
        assert 0 < len(sent) <= limit, (name, len(sent))
        rows = index_rows if name.startswith("_pivot") else 10
        assert len(df.collect()) == rows
        left = [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("_pyspark_")
        ]
        assert left == [], (name, left)


def test_pivot_index_write_exchanges_on_pivot(spark, stored_index, tmp_path):
    """The index write exchanges its rows on ``pivot``, the pivot number
    being the partition id, with no range exchange: a range exchange
    samples its keys in a job of its own, so every pivot fold ran twice.
    The base write runs beside it, under the caller's job group."""
    emb, _qv, pivots, _base = stored_index
    base = str(tmp_path / "layout")
    _, jobs = jobs_run(
        spark, lambda: knn.write_pivot_index_tables(emb, pivots, base))
    plans = executed_plans(spark, [j for j, _ in jobs])
    index = [p for p in plans if os.path.join(base, "index") in p]
    assert len(index) == 1, plans
    exchange = re.search(
        r"shufflepartitionidpassthrough\(direct_shuffle_partition_id"
        r"\(pivot#\d+\), (\d+)\)", index[0])
    assert exchange and int(exchange[1]) == len(pivots), index[0]
    assert "rangepartitioning" not in index[0].lower(), index[0]
    assert any(os.path.join(base, "base") in p for p in plans), plans


@pytest.mark.parametrize("failing", ["base", "index"])
def test_pivot_index_write_error_reaches_caller(
    spark, stored_index, tmp_path, monkeypatch, failing
):
    """The base table is written from a background thread while the
    index is built; a failure of either write is raised to the caller."""
    emb, _qv, pivots, _base = stored_index
    real = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if os.path.basename(path) == failing:
            raise OSError(f"{failing} write failed")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(OSError, match=f"{failing} write failed"):
        knn.write_pivot_index_tables(emb, pivots, str(tmp_path / "err"))


def test_pivot_index_files_cut_by_record_count(spark, stored_index, tmp_path):
    """Each file holds one pivot's rows, at most ``ceil(n / n_files)`` of
    them, sorted by key, and a pivot's files cover disjoint key ranges;
    compaction writes the same layout."""
    import pyarrow.parquet as pq

    emb, _qv, pivots, _base = stored_index
    n, n_files = emb.count(), 4
    per_file = -(-n // n_files)
    base = str(tmp_path / "cut")
    index = os.path.join(base, "index")
    knn.write_pivot_index_tables(emb, pivots, base, n_files=n_files)
    for step in ("write", "compact"):
        ranges = {}
        for f in sorted(os.listdir(index)):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(index, f)).to_pydict()
            assert len(set(t["pivot"])) == 1, (step, f)
            keys = t["key"]
            assert len(keys) <= per_file and keys == sorted(keys), (step, f)
            ranges.setdefault(t["pivot"][0], []).append(
                (keys[0], keys[-1], len(keys)))
        assert sorted(ranges) == list(range(len(pivots))), step
        for p, rs in ranges.items():
            rs.sort()
            assert len(rs) == -(-n // per_file), (step, p, len(rs))
            assert sum(r[2] for r in rs) == n, (step, p)
            assert all(a[1] <= b[0] for a, b in zip(rs, rs[1:])), (step, p)
        knn.compact_pivot_index_tables(spark, base, len(pivots), n_files)


@pytest.mark.parametrize(
    "special",
    [(float("nan"), float("inf")), (float("nan"), float("-inf")),
     (float("inf"), float("-inf"))],
    ids=["nan+inf", "nan-inf", "inf-inf"],
)
def test_stored_probes_render_special_literals(spark, stored_index, special):
    """NaN and infinite query components (and so NaN or infinite pivot
    distances and band bounds) render to literals that parse back to the
    same doubles: the stored probes return the recompute probes' rows."""
    emb, qv, pivots, base = stored_index
    q = [special[0], special[1], *qv[2:]]
    assert _rows(knn.ann_index_range_stored(spark, base, q, pivots)) == (
        _rows(knn.ann_index_range(emb, q, pivots))
    )
    sim = _rows(knn.ann_index_similarity_stored(spark, base, q, pivots))
    assert len(sim) == 10
    assert sim == _rows(knn.ann_index_similarity(emb, q, pivots))


def test_stored_probes_quote_identifiers(spark, stored_index, tmp_path):
    """Id and vector columns whose names need quoting (a space, braces)
    reach the rendered statements intact, and every probe answers as it
    does under the default names."""
    emb, qv, pivots, _base = stored_index
    id_col, vec_col = "doc id", "emb {v}"
    odd = emb.select(
        F.col("vec_id").alias(id_col), F.col("embedding").alias(vec_col)
    )
    names = {"id_col": id_col, "vec_col": vec_col}
    base, compat = str(tmp_path / "odd"), str(tmp_path / "odd_compat")
    knn.write_pivot_index_tables(odd, pivots, base, **names)
    knn.write_pivot_index_tables(odd, pivots, compat, compat_strings=True,
                                 **names)
    pairs = [
        (knn.exact_knn(odd, qv, **names), knn.exact_knn(emb, qv)),
        (knn.ann_index_range_stored(spark, base, qv, pivots, **names),
         knn.ann_index_range(emb, qv, pivots)),
        (knn.ann_index_range_compat_stored(spark, compat, qv, pivots,
                                           **names),
         knn.ann_index_range_compat(emb, qv, pivots)),
        (knn.ann_index_similarity_stored(spark, base, qv, pivots, **names),
         knn.ann_index_similarity(emb, qv, pivots)),
    ]
    for got, want in pairs:
        assert got.columns == [id_col, "distance"]
        assert _rows(got) == _rows(want)
    assert _rows(knn.ann_index_range(odd, qv, pivots, **names)) == _rows(
        knn.ann_index_range(emb, qv, pivots)
    )


def test_stored_probes_over_empty_corpus(spark, stored_index, tmp_path):
    """An index written over a zero-row frame answers every stored probe
    with an empty frame of the probe's columns, not an error."""
    emb, qv, pivots, _base = stored_index
    empty = emb.where(F.lit(False))
    base, compat = str(tmp_path / "empty"), str(tmp_path / "empty_compat")
    knn.write_pivot_index_tables(empty, pivots, base)
    knn.write_pivot_index_tables(empty, pivots, compat, compat_strings=True)
    probes = {
        "range": knn.ann_index_range_stored(spark, base, qv, pivots),
        "similarity": knn.ann_index_similarity_stored(
            spark, base, qv, pivots),
        "compat": knn.ann_index_range_compat_stored(
            spark, compat, qv, pivots),
        "batch": knn.ann_index_range_stored_batch(
            spark, base, [(1, qv), (2, qv)], pivots),
    }
    for name, got in probes.items():
        cols = ["vec_id", "distance"]
        if name == "batch":
            cols = ["query_id", *cols]
        assert got.columns == cols, name
        assert got.collect() == [], name
