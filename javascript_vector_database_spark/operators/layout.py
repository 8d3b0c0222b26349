"""Z-order (Morton) data clustering — multi-dimensional file skipping.

The 100 TB problem this solves: a table sorted (or range-partitioned) on
ONE column prunes scans on that column only — a time-sorted event log
answers time-range queries by skipping files, but a user-scoped query
still reads everything, because every file spans the full user range.
Interleaving the bits of two normalized dimension codes (Morton 1966,
public; the technique behind Delta/Iceberg ``OPTIMIZE ZORDER BY``) and
range-partitioning + sorting the write on that single z-value gives
every file a SMALL BOUNDING BOX in both dimensions at once: parquet
min/max footers then prune a 2-D box query down to the files whose box
intersects it, in either dimension or both.

Spark-first shape: the z-value is a pure Column expression (32 shift/
mask/or terms — whole-stage codegen, no UDF), the layout is one
``repartitionByRange(z).sortWithinPartitions(z)`` write, and the probe
is an ordinary filtered scan whose range predicates reach the footers
as PushedFilters.  Nothing at read time knows about z at all.

``file_minmax_stats`` / ``prunable_fraction`` read the parquet footers
directly (pyarrow) so the skipping claim is MEASURED per layout, not
asserted: bench extras record the prunable-file fraction of the same
box query under the z-ordered layout vs a single-column time-sorted
layout.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from javascript_vector_database_spark.functions.vector import lit_double_array

#: bits per dimension; z spans 2*Z_BITS bits (fits a long)
Z_BITS = 16


def z_norm16(col: Column, lo: Column | float, hi: Column | float) -> Column:
    """Normalize a numeric column to the [0, 2^Z_BITS) integer grid.
    ``lo``/``hi`` are the column's min/max (bounded 1-row scalars the
    caller inlines as literals — a write-time layout decision, exactly
    like IVF centroids)."""
    lo_c = F.lit(lo) if not isinstance(lo, Column) else lo
    hi_c = F.lit(hi) if not isinstance(hi, Column) else hi
    span = hi_c.cast("double") - lo_c.cast("double")
    frac = F.when(span > 0, (col.cast("double") - lo_c.cast("double")) / span).otherwise(
        F.lit(0.0)
    )
    scaled = F.floor(frac * ((1 << Z_BITS) - 1)).cast("long")
    return F.greatest(F.lit(0).cast("long"), F.least(scaled, F.lit((1 << Z_BITS) - 1).cast("long")))


def z_interleave_nd(codes: list[Column], bits: int = Z_BITS) -> Column:
    """Morton interleave of N ``bits``-wide non-negative codes: bit i of
    dimension d lands at position i*N + d.  Pure shift/mask/or Column
    fold — stays inside whole-stage codegen.  N*bits must fit a signed
    long (N=2 -> 32 bits, N=3 -> 48)."""
    n = len(codes)
    assert 1 < n * bits < 63, (n, bits)
    z = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i in range(bits):
        for d, c in enumerate(codes):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(c, i).bitwiseAND(one), i * n + d)
            )
    return z


def z_interleave(x: Column, y: Column, bits: int = Z_BITS) -> Column:
    """Morton interleave of two ``bits``-wide non-negative codes: bit i
    of x lands at position 2i, bit i of y at 2i+1."""
    return z_interleave_nd([x, y], bits)


#: bits per dimension in quantile mode (256 rank cells per dim)
ZQ_BITS = 8


def quantile_code8(col: Column, cuts: list[float]) -> Column:
    """8-bit RANK code: how many of the 255 write-time quantile cuts
    the value meets — the skew-proof normalization (what Delta's
    OPTIMIZE ZORDER BY actually interleaves: range-partition ids, i.e.
    rank cells, not a linear grid).  A min-max grid collapses a skewed
    dimension into a few occupied cells (events.value: median 35, max
    560 — ~90% of rows land in the bottom fifth of the grid), so files
    can't bound it; rank cells are uniformly occupied BY CONSTRUCTION
    regardless of the distribution.  The cuts are bounded write-time
    constants (one approxQuantile pass, the IVF-centroid idiom) and
    the code is one HOF fold over the 255-literal array — scan-local,
    no shuffle.  A NULL value folds to cell 0 (each NULL comparison
    takes the otherwise-0 branch), matching the minmax path's
    origin-cell coalesce."""
    arr = lit_double_array(cuts)
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, c: acc
        + F.when(col.cast("double") >= c, 1).otherwise(0).cast("long"),
    )


def write_zorder_layout_nd(
    df: DataFrame,
    path: str,
    dim_cols: list[Column],
    n_files: int = 16,
    rowgroup_bytes: int | None = None,
    norm: str = "minmax",
) -> None:
    """Write ``df`` clustered by the Morton code of ``dim_cols`` (2 or 3
    dimensions): one range-partition + in-partition sort on z routes
    neighboring z cells into the same files AND the same row groups, so
    every file footer carries a tight min/max box in EVERY source
    dimension, and every row group inside it a tighter one.  The z
    column itself is dropped — readers see the original schema and
    ordinary predicates.

    ``rowgroup_bytes`` caps the parquet row-group size
    (``parquet.block.size``): at 100 TB a data file holds many row
    groups and the scan's second pruning tier — row-group skipping
    against the SAME sorted z layout — is where most of the I/O win
    lives (files bound the task list; row groups bound the bytes read).
    Locally the default 128 MB block would leave one group per small
    file, so measurements pass ~1 MB to make the tier visible.

    ``norm="quantile"`` interleaves 8-bit RANK codes instead of the
    16-bit linear grid (see :func:`quantile_code8`) — pick it when any
    dimension is skewed; the linear grid is fine for uniform ones."""
    if norm == "quantile":
        probs = [i / (1 << ZQ_BITS) for i in range(1, 1 << ZQ_BITS)]
        tmp_names = [f"__zd{d}" for d in range(len(dim_cols))]
        flat = df.select(
            *[c.cast("double").alias(n) for c, n in zip(dim_cols, tmp_names)]
        )
        allcuts = flat.stat.approxQuantile(tmp_names, probs, 0.001)
        if any(not c for c in allcuts):
            raise ValueError(
                "write_zorder_layout needs >= 1 row with non-NULL values"
                " in every dimension column"
            )
        z = F.coalesce(
            z_interleave_nd(
                [
                    quantile_code8(c, cuts)
                    for c, cuts in zip(dim_cols, allcuts)
                ],
                bits=ZQ_BITS,
            ),
            F.lit(0).cast("long"),
        )
        _write_z_sorted(df, path, z, n_files, rowgroup_bytes)
        return
    bounds = df.agg(
        *[
            f(c).alias(f"{side}{d}")
            for d, c in enumerate(dim_cols)
            for side, f in (("lo", F.min), ("hi", F.max))
        ]
    ).first()  # bounded: one row of layout constants
    if bounds is None or any(
        bounds[f"lo{d}"] is None for d in range(len(dim_cols))
    ):
        # empty input (or an all-NULL dimension): no bounds to cluster on
        raise ValueError(
            "write_zorder_layout needs >= 1 row with non-NULL values in"
            " every dimension column"
        )
    # rows with a NULL dimension get z=0 (cluster at the origin) instead
    # of a NULL z that would range-partition arbitrarily; pruning stays
    # correct because parquet min/max bounds cover non-NULL values only
    # and a NULL dimension never satisfies a range predicate anyway
    z = F.coalesce(
        z_interleave_nd(
            [
                z_norm16(c, float(bounds[f"lo{d}"]), float(bounds[f"hi{d}"]))
                for d, c in enumerate(dim_cols)
            ]
        ),
        F.lit(0).cast("long"),
    )
    _write_z_sorted(df, path, z, n_files, rowgroup_bytes)


def _write_z_sorted(
    df: DataFrame,
    path: str,
    z: Column,
    n_files: int,
    rowgroup_bytes: int | None,
) -> None:
    """One range-partition + in-partition sort on the z code, then
    drop it — readers see the original schema and plain predicates."""
    spark = df.sparkSession
    ts_conf = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(ts_conf, None)
    # Spark's default INT96 timestamps carry NO parquet min/max stats —
    # a clustered layout whose timestamp footers can't bound is a
    # pruning no-op on the time dimension.  TIMESTAMP_MICROS restores
    # the stats (and Spark's own row-group skipping along with them).
    spark.conf.set(ts_conf, "TIMESTAMP_MICROS")
    try:
        writer = (
            df.withColumn("__z", z)
            .repartitionByRange(n_files, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("overwrite")
        )
        if rowgroup_bytes is not None:
            writer = writer.option("parquet.block.size", rowgroup_bytes)
        writer.parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(ts_conf)
        else:
            spark.conf.set(ts_conf, prev)


def write_zorder_layout(
    df: DataFrame,
    path: str,
    x_col: Column,
    y_col: Column,
    n_files: int = 16,
) -> None:
    """2-D Morton layout (see write_zorder_layout_nd)."""
    write_zorder_layout_nd(df, path, [x_col, y_col], n_files)


def compact_zorder_layout(
    spark,
    path: str,
    dim_cols: list[Column],
    n_files: int,
    rowgroup_bytes: int | None = None,
    norm: str = "minmax",
) -> None:
    """Compact a z-ordered layout to ``n_files`` files, PRESERVING the
    clustering: recompute the (pure-function) Morton code over the
    stored rows and rewrite through the same range-partition + sort —
    exactly what Delta's OPTIMIZE ZORDER BY does on every rewrite,
    because a clustering that evaporated on the first bin-packing pass
    would be a one-shot trick, not a layout.  Swap discipline: the new
    layout is fully written to a sibling dir first, the old dir is
    renamed aside, the new one renamed in (the no-table window is the
    instant between the two renames — versus the whole delete+rewrite
    under the naive shape), and only then is the old one deleted.  A
    failed rewrite cleans its temp dir and leaves the original
    untouched; stale .zcompact.old/.tmp dirs from a crashed prior run
    are pre-cleaned so the verb is self-healing."""
    import shutil

    tmp = path + ".zcompact.tmp"
    old = path + ".zcompact.old"
    shutil.rmtree(old, ignore_errors=True)  # crashed-run leftovers
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        write_zorder_layout_nd(
            spark.read.parquet(path), tmp, dim_cols, n_files,
            rowgroup_bytes, norm=norm,
        )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old)


def file_minmax_stats(path: str, cols: list[str]) -> list[dict]:
    """Per-parquet-file min/max of ``cols`` straight from the footers
    (pyarrow) — the exact information a scan's file/row-group skipping
    uses.  Returns one dict per file: {col: (min, max)}."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        mins: dict = {c: None for c in cols}
        maxs: dict = {c: None for c in cols}
        # a column missing stats in ANY row group has no file-level
        # bound at all — once invalid it must STAY invalid, or a later
        # row group's stats would fabricate a bound the statless group
        # can escape (and "prunable" would wrongly skip matching rows)
        valid: dict = {c: True for c in cols}
        for rg in range(md.num_row_groups):
            for c in cols:
                if not valid[c]:
                    continue
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    valid[c] = False
                    mins[c] = maxs[c] = None
                    continue
                mins[c] = st.min if mins[c] is None else min(mins[c], st.min)
                maxs[c] = st.max if maxs[c] is None else max(maxs[c], st.max)
        out.append({c: (mins[c], maxs[c]) for c in cols})
    return out


def rowgroup_minmax_stats(path: str, cols: list[str]) -> list[dict]:
    """Per-ROW-GROUP min/max of ``cols`` straight from the footers —
    the second pruning tier: after file skipping bounds the task list,
    each task skips the row groups inside its file whose stats miss the
    predicate (Spark's parquet reader does this natively once the stats
    exist).  Returns one dict per row group, pooled across files;
    ``prunable_fraction`` consumes it unchanged (a "unit" is a row
    group here instead of a file)."""
    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            rec: dict = {}
            for c in cols:
                st = md.row_group(rg).column(idx[c]).statistics
                if st is None or not st.has_min_max:
                    rec[c] = (None, None)
                else:
                    rec[c] = (st.min, st.max)
            out.append(rec)
    return out


def prunable_fraction(stats: list[dict], box: dict) -> float:
    """Fraction of files a box query can SKIP on footer evidence alone:
    a file is prunable iff its [min, max] misses the query interval in
    at least one constrained dimension.  ``box`` = {col: (lo, hi)}."""
    if not stats:
        return 0.0
    skipped = 0
    for f in stats:
        for c, (lo, hi) in box.items():
            mn, mx = f[c]
            if mn is None:
                continue  # no stats: never prunable on this column
            if mx < lo or mn > hi:
                skipped += 1
                break
    return skipped / len(stats)
