"""Write-path DML over parquet tables (SURVEY.md §2.10).

The reference's write surface: insert/bulkInsert with per-row 409 conflict
reports (MAP#rxdb/dist/esm/rx-collection.js:165-242), upsert/bulkUpsert
(overwrite on conflict, :294-342), soft delete (`_deleted: true`,
:243-289), optimistic revisions ``_rev`` bumped per write.

Spark has no in-place mutation; a managed table here is a parquet
directory PARTITIONED BY a PK hash bucket (``__pkb = pmod(hash(pk), N)``).
Every DML verb rewrites ONLY the partitions its keys hash into — the
dynamic-partition-overwrite shape, and the natural stand-in for Delta's
MERGE INTO: a conflicting/updated key always lands in the same bucket as
its stored row, so restricting the merge join to touched buckets is
exact, and untouched partitions' files are never rewritten (pinned by
tests/test_pipeline_dml.py).  At 100 TB: N scales with the table, reads
of the merge side are partition-pruned, and the per-verb write cost is
O(|delta| + touched-partition size), not O(table).

Every keyed write verb runs ONE rewrite cycle (``ParquetTable._rewrite``):
find the touched partitions (none for a flat table), read them, build
their new state, write it back.  Two bodies run on it:

* one MERGE (``_merge``) for ``bulk_insert``, ``bulk_upsert`` and
  ``merge_cdc``: the delta left-joins the stored ``(pk, _rev, …)``,
  keeps its winners by the verb's rule (no stored row / every row / the
  CSN rule), bumps their ``_rev``, anti-joins them out of the stored
  rows and unions them back in;
* one in-place UPDATE (``_update``) for ``bulk_remove`` and
  ``incremental_modify``: the matched rows get new values, ``_lwt`` and
  a bumped ``_rev``.

``bulk_delete_rows`` runs its anti-join on the same cycle.  A delta that
repeats a primary key raises before anything is written.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: internal partition column (PK hash bucket); stripped from every read
BUCKET_COL = "__pkb"

#: layout descriptor, written inside the table dir (underscore-prefixed
#: files are ignored by Spark's parquet reader, like _SUCCESS)
META_FILE = "_table_meta.json"

#: merge_cdc's delta columns: the producer-assigned change sequence number
#: (monotonic per key) and the delete flag
CSN_COL = "_csn"
TOMBSTONE_COL = "_tombstone"


#: characters Spark/Hive escape in partition directory names
#: (ExternalCatalogUtils.charToEscape: control chars, plus the set below)
_PART_ESCAPE = (
    {chr(c) for c in range(1, 32)}
    | set('"#%\'*/:=?\\{[]^')
    | {chr(127)}
)


def _escape_part_value(v) -> str:
    """Render a partition VALUE exactly as Spark writes its directory name
    (ExternalCatalogUtils.escapePathName): reserved characters become
    %XX uppercase hex.  Without this, a string-valued partition_col
    containing '/', ':' etc. would make _replace_partitions look for the
    wrong directory and silently leave stale data in place (r10 ADVICE).
    NULL/empty map to Spark's __HIVE_DEFAULT_PARTITION__ sentinel.

    Value RENDERING must also match Spark's, not Python's (r11 ADVICE):
    booleans write as 'true'/'false' directories, so str(True) would
    recreate the stale-directory bug for a boolean partition_col.  The
    supported partition-col types are exactly str/int/bool/None — any
    other type raises instead of silently diverging from Spark's
    directory-name formatting."""
    if v is None or v == "":
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):  # before int: bool subclasses int
        return "true" if v else "false"
    if not isinstance(v, (str, int)):
        raise TypeError(
            "partition values must be str/int/bool/None (got "
            f"{type(v).__name__}: {v!r}) — other types' Spark directory"
            " renderings are not emulated"
        )
    return "".join(
        f"%{ord(c):02X}" if c in _PART_ESCAPE else c for c in str(v)
    )


def _is_null_part(v) -> bool:
    """True when a touched-partition value lands in Spark's
    __HIVE_DEFAULT_PARTITION__ directory and reads back as NULL (both
    None and '' do — Spark folds empty strings into the null sentinel
    at write time)."""
    return v is None or v == ""


def _rev_bump(prev_rev: F.Column, payload_hash: F.Column) -> F.Column:
    """`_rev` = '<height>-<hash>' bumped per write
    (MAP#rxdb/dist/esm/plugins/utils/utils-revision.js:1-41)."""
    height = F.split(prev_rev, "-").getItem(0).cast("long")
    return F.concat(
        F.coalesce(height + 1, F.lit(1)).cast("string"), F.lit("-"), payload_hash
    )


def _payload_hash(cols: list[str]) -> F.Column:
    """Deterministic content hash of the user fields (name-sorted, meta
    columns excluded) — the reference's revision hash analog; md5 over a
    '|'-joined cast keeps it reproducible in the DuckDB oracle."""
    user = sorted(
        c for c in cols if c not in ("_rev", "_deleted", "_lwt", BUCKET_COL)
    )
    return F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in user]))


def _lwt_lit(lwt: float | None) -> F.Column:
    """The write's ``_lwt`` stamp: the caller's, else the wall clock in ms."""
    return F.lit(time.time() * 1000.0 if lwt is None else float(lwt))


def _live(rows: DataFrame) -> DataFrame:
    """Insert/upsert rows are live unless they carry their own ``_deleted``."""
    if "_deleted" in rows.columns:
        return rows
    return rows.withColumn("_deleted", F.lit(False))


class ParquetTable:
    """A tiny managed table: PK-bucket-partitioned parquet dir giving the
    reference's DML verbs on one touched-partition read-modify-write
    cycle (``_rewrite``), with one MERGE body (insert, upsert, CDC) and
    one in-place UPDATE body (remove, modify).
    ``n_buckets=None`` keeps a flat single-dir layout (used for small
    wholesale-replaced views like the reactive bounded emission).

    ``partition_col`` swaps the synthetic PK-hash bucket for a NAMED DATA
    column (e.g. an IVF coarse cell): the table is stored
    ``partitionBy(partition_col)`` so downstream probes get real
    PartitionFilters, while the DML verbs keep their touched-partition
    pruning.  Contract: the partition value must be KEY-STABLE — a pure
    function of the row's payload that re-deliveries and upserts of the
    same key reproduce (true for a deterministic coarse assignment under
    FIXED centroids).  An upsert that changes a key's partition value
    would strand the stored row in its old partition; a production
    engine resolves that with a PK->partition index lookup (Delta MERGE
    reads matched files by stats), which is out of scope for this
    emulation and asserted away by the contract.  Keyed verbs whose
    delta carries only PKs (bulk_remove/bulk_delete_rows) fall back to a
    semi-join over the stored table to find their touched partitions —
    correct, but a scan; the MERGE hot path always carries the column."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        primary_key: str,
        n_buckets: int | None = 16,
        partition_col: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.primary_key = primary_key
        self.n_buckets = n_buckets
        self.partition_col = partition_col
        self._layout_resolved = False
        self._write_listeners: list = []

    @property
    def _part(self) -> str:
        """The physical partition column: the caller's data column when
        ``partition_col`` is set, else the synthetic PK-hash bucket."""
        return self.partition_col or BUCKET_COL

    def on_write(self, fn) -> None:
        """Register a zero-arg callback fired after any write lands (the
        collection change-event hook; used by CachedCollection to drop
        stale cached query results)."""
        self._write_listeners.append(fn)

    def _notify_write(self) -> None:
        for fn in self._write_listeners:
            fn()

    # -- read ---------------------------------------------------------------

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def _raw(self) -> DataFrame:
        """Internal read keeping the bucket partition column.  mergeSchema
        so a schema-evolving upsert (new column in touched partitions
        only) never silently drops the column on later reads."""
        return self.spark.read.option("mergeSchema", "true").parquet(self.path)

    def _resolve_layout(self) -> None:
        """Adopt the STORED layout's bucket count: the ctor's ``n_buckets``
        only applies to tables this instance CREATES.  Without this,
        reopening an existing table with a different n_buckets would
        compute wrong buckets and silently mis-prune keyed DML, and a
        pre-bucketing flat dir would get NULL-partition rows on upgrade."""
        if self._layout_resolved or not self.exists():
            return
        meta_path = os.path.join(self.path, META_FILE)
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            self.n_buckets = meta.get("n_buckets")
            self.partition_col = meta.get("partition_col")
        elif BUCKET_COL not in self._raw().columns:
            self.n_buckets = None  # legacy flat dir: stay flat
        self._layout_resolved = True

    def _write_meta(self) -> None:
        with open(os.path.join(self.path, META_FILE), "w") as f:
            json.dump(
                {
                    "n_buckets": self.n_buckets,
                    "partition_col": self.partition_col,
                },
                f,
            )
        self._layout_resolved = True

    def df(self) -> DataFrame:
        d = self._raw()
        return d.drop(BUCKET_COL) if BUCKET_COL in d.columns else d

    def docs(self) -> DataFrame:
        """Non-deleted view (the implicit `_deleted=false` filter)."""
        d = self.df()
        return d.where(~F.col("_deleted")) if "_deleted" in d.columns else d

    def get_by_ids(self, ids: list) -> DataFrame:
        """Point-lookup fast path (the reference's ``findByIds``,
        MAP#rxdb/dist/esm/rx-collection.js:343-381 — a direct
        ``findDocumentsById`` storage call, never a full query).  The
        Spark analog of "go straight to the right storage shard": derive
        the PK-hash buckets the ids land in (bounded — same machinery as
        every keyed DML verb) and restrict the scan to those partition
        directories BEFORE the IN filter, so the read is
        O(touched buckets), not O(table).  Non-deleted rows only."""
        self._resolve_layout()
        if not self.exists():
            raise FileNotFoundError(self.path)
        src = self._raw()
        if self._bucketed() and not self.partition_col:
            src = src.where(
                F.col(BUCKET_COL).isin(self._touched(self._key_df(ids)))
            )
        pk = self.primary_key
        if isinstance(ids, DataFrame):
            src = src.join(self._key_df(ids), pk, "left_semi")
        else:
            # literal IN: pushes to parquet as row-group filters
            src = src.where(F.col(pk).isin(list(set(ids))))
        out = src.drop(BUCKET_COL) if BUCKET_COL in src.columns else src
        if "_deleted" in out.columns:
            out = out.where(~F.col("_deleted"))
        return out

    # -- physical layout ------------------------------------------------------

    def _bucket_expr(self) -> F.Column:
        return F.pmod(F.hash(F.col(self.primary_key)), F.lit(self.n_buckets))

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if self.partition_col:
            if self.partition_col not in df.columns:
                raise ValueError(
                    f"partition_col={self.partition_col!r} layout needs the"
                    " column on every written row (it is a data column,"
                    " not a derived hash)"
                )
            return df
        if not self.n_buckets or BUCKET_COL in df.columns:
            return df
        return df.withColumn(BUCKET_COL, self._bucket_expr())

    def _bucketed(self) -> bool:
        """True when the stored layout is partitioned (PK-hash bucket or
        a caller data column — it always is for tables this class created
        with n_buckets or partition_col set).  Answered from
        ``_table_meta.json`` when the table has one; only a legacy
        directory without it pays a footer read (a job of its own)."""
        self._resolve_layout()
        if os.path.exists(os.path.join(self.path, META_FILE)):
            return bool(self.partition_col or self.n_buckets)
        if self.partition_col:
            return self.partition_col in self._raw().columns
        return bool(self.n_buckets) and BUCKET_COL in self._raw().columns

    def _swap_in(self, new_df: DataFrame) -> None:
        """FULL rewrite (table create, or wholesale view replace) — one
        atomic directory swap."""
        self._resolve_layout()
        tmp = self.path + ".tmp"
        w = self._with_bucket(new_df)
        writer = w.write.mode("overwrite")
        if self.partition_col or self.n_buckets:
            writer = writer.partitionBy(self._part)
        writer.parquet(tmp)
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        os.replace(tmp, self.path)
        self._write_meta()
        self._notify_write()

    def _replace_partitions(self, parts_df: DataFrame, buckets: list[int]) -> None:
        """Swap in the complete new state of exactly ``buckets``; every
        other partition's files stay byte-identical on disk.  Staging to a
        sibling dir first avoids reading and overwriting the same path in
        one job (``parts_df`` is built over the live table).

        Each bucket's swap is an atomic ``os.replace``, but the loop is
        NOT transactional across buckets — a crash mid-loop leaves some
        buckets new and some old.  That is the documented trade-off of
        the parquet emulation; the transactional version of this exact
        plan is Delta's MERGE INTO (one commit over all touched files),
        which is the drop-in at production scale."""
        tmp = self.path + ".parts.tmp"
        self._with_bucket(parts_df).write.mode("overwrite").partitionBy(
            self._part
        ).parquet(tmp)
        # dedupe by DIRECTORY name: None and '' both land in
        # __HIVE_DEFAULT_PARTITION__, and swapping the same dir twice
        # would move the staged files on the first pass and delete the
        # result on the second
        subs = {f"{self._part}={_escape_part_value(b)}" for b in buckets}
        for sub in sorted(subs):
            dst = os.path.join(self.path, sub)
            src = os.path.join(tmp, sub)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            if os.path.exists(src):
                os.replace(src, dst)
            # a bucket whose new state is empty simply disappears
        shutil.rmtree(tmp)
        self._notify_write()

    def compact(self) -> dict[str, int]:
        """Maintenance verb — the Delta ``OPTIMIZE`` / bin-packing analog
        for this parquet emulation.  Every partition rewrite leaves up to
        one file per writing task in each touched bucket (32 shuffle
        tasks → up to 32 small files per bucket per verb), and small
        files are the classic 100 TB operational tax: open/footer
        overhead per file on every subsequent scan.  ``compact()``
        rewrites the table so each bucket holds ONE file: a
        ``repartition`` on the bucket column routes every bucket to
        exactly one task (same-task collisions are fine — partitionBy
        still emits one file per bucket directory per task).  Values,
        layout contract, and ``_rev`` stamps are untouched; reuses the
        per-bucket atomic-swap machinery.  Returns
        {files_before, files_after} for observability."""
        self._resolve_layout()
        if not self.exists():
            return {"files_before": 0, "files_after": 0}

        def _count_files() -> int:
            n = 0
            for root, _dirs, files in os.walk(self.path):
                n += sum(f.endswith(".parquet") for f in files)
            return n

        before = _count_files()
        if self._bucketed():
            raw = self._raw()
            buckets = [
                r[0] for r in raw.select(self._part).distinct().collect()
            ]
            n_parts = (
                max(len(buckets), 1)
                if self.partition_col
                else int(self.n_buckets)
            )
            self._replace_partitions(
                raw.repartition(n_parts, F.col(self._part)),
                buckets,
            )
        else:
            self._swap_in(self.df().coalesce(1))
        return {"files_before": before, "files_after": _count_files()}

    def _touched_pred(self, touched: list) -> F.Column:
        """Read-side filter matching exactly the partitions
        ``_replace_partitions`` will swap.  NULL-safe (r11 ADVICE medium):
        ``isin(touched)`` is three-valued — it never matches a stored
        NULL partition value, so a delta touching the
        __HIVE_DEFAULT_PARTITION__ directory would read back NONE of its
        stored rows while the swap replaced the whole directory with only
        the delta winners (silent data loss).  '' folds into the same
        directory at write time and reads back as NULL, so it routes to
        the isNull() arm too."""
        non_null = [t for t in touched if not _is_null_part(t)]
        pred = (
            F.col(self._part).isin(non_null) if non_null else F.lit(False)
        )
        if any(_is_null_part(t) for t in touched):
            pred = pred | F.col(self._part).isNull()
        return pred

    def _touched(self, keyed_df: DataFrame) -> list:
        """Distinct partitions a keys-only delta lands in (≤ partition
        count, bounded driver collect).  Under a ``partition_col`` layout
        a keys-only delta (bulk_remove) can't derive its partitions from
        the hash — fall back to a PK semi-join over the stored table (the
        documented no-PK-index scan; the MERGE always carries the column
        and never takes this branch)."""
        if self.partition_col and self.partition_col not in keyed_df.columns:
            src = self._raw().join(
                keyed_df.select(self.primary_key), self.primary_key,
                "left_semi",
            )
        else:
            src = self._with_bucket(keyed_df)
        return [r[0] for r in src.select(self._part).distinct().collect()]

    def _scan_delta(self, delta: DataFrame) -> tuple[int, list | None]:
        """The MERGE's first job over its delta: the row count and, on an
        existing partitioned table, the partitions the delta lands in
        (None otherwise).  It also finds a primary key the delta repeats
        — both rows would be stored under it — and raises naming it
        before anything is written.  On a partitioned table the counts
        ride the touched-partition collect as observed metrics and cost
        no job of their own."""
        pk = self.primary_key
        counts = [
            F.count(F.lit(1)).alias("rows"),
            F.count(pk).alias("keyed"),
            F.size(F.collect_set(pk)).alias("keys"),
        ]
        touched = None
        if self.exists() and self._bucketed():
            q = (
                self._with_bucket(delta)
                .observe("__delta_keys", *counts)
                .select(self._part)
                .distinct()
            )
            touched = [r[0] for r in q.collect()]
            # read off the query execution the collect ran: synchronous,
            # where Observation.get waits on a listener of the session
            row = q._jdf.queryExecution().observedMetrics().get("__delta_keys").get()
            n, keyed, keys = (row.get(i) for i in range(3))
        else:
            n, keyed, keys = delta.agg(*counts).first()
        if keyed != keys:
            rep = delta.groupBy(pk).count().where(F.col("count") > 1)
            raise ValueError(
                f"the delta repeats primary key {pk}="
                f"{[r[0] for r in rep.limit(3).collect()]}: one row per key"
            )
        return n, touched

    # -- write --------------------------------------------------------------

    def _rewrite(self, touched: list | None, build, src=None) -> None:
        """The one read-modify-write cycle of every keyed write verb: read
        the ``touched`` partitions (the whole table when it is flat:
        ``touched`` None), ``build`` their new state, and write it back
        — ``_replace_partitions`` swaps exactly those partitions,
        ``_swap_in`` the flat table.  ``src`` is a ``_raw()`` read the
        caller already holds: each read lists the table's footers in a
        job of its own."""
        if touched is None:
            self._swap_in(build(self.df()))
        else:
            cur = (self._raw() if src is None else src).where(
                self._touched_pred(touched)
            )
            self._replace_partitions(build(cur), touched)

    def _merge(
        self,
        delta: DataFrame,
        win: F.Column,
        lwt,
        moved_keys: str | None = None,
        insert: bool = False,
    ) -> tuple[int, int | None]:
        """The one MERGE (bulk_insert, bulk_upsert, merge_cdc).  The delta
        is stamped ``_lwt``, loses any ``_rev``, and is cached: its touched
        partitions, the join and the write are separate actions, and an
        uncached delta would re-run the caller's upstream computation
        (e.g. the pipeline's embedding UDF) once per action.

        On the rewrite cycle the delta left-joins the stored rows' ``(pk,
        _rev, _csn, _deleted)``; ``win`` keeps the rows that replace or
        add a stored row.  Each winner's ``_rev`` is bumped over the
        stored one — ``_rev_bump(NULL, h)`` is ``'1-h'``, so new keys and
        a new table need no branch of their own — and the winners are
        anti-joined out of the stored rows and unioned back in.  Returns
        (delta rows, winners), counting the winners in a job of their own
        only with ``insert``.  ``insert`` is bulk_insert's mode: its rule
        keeps only keys with no stored row, so no winner replaces one and
        the anti-join is skipped.  ``moved_keys`` is merge_cdc's
        key-stability mode."""
        pk = self.primary_key
        delta = delta.drop("_rev").withColumn("_lwt", _lwt_lit(lwt))
        stamp = _payload_hash(delta.columns)
        cached = [delta.cache()]
        won = [None]
        try:
            n, touched = self._scan_delta(delta)
            if not self.exists():
                self._swap_in(
                    delta.withColumn("_rev", _rev_bump(F.lit(None), stamp))
                )
                return n, n
            detect = self.partition_col and moved_keys == "detect"
            if self.partition_col and moved_keys == "repair":
                # the stored partitions of the delta's keys too, so a
                # moved key's old directory is rewritten without it
                touched = list({*touched, *self._touched(delta.select(pk))})

            def build(cur: DataFrame) -> DataFrame:
                def stored(c, default):
                    return F.col(c) if c in cur.columns else default

                prev = cur.select(
                    pk,
                    F.lit(True).alias("__prev"),
                    stored("_rev", F.lit(None).cast("string")).alias("__prev_rev"),
                    stored(CSN_COL, F.lit(None).cast("long")).alias("__prev_csn"),
                    stored("_deleted", F.lit(False)).alias("__prev_dead"),
                    *([F.col(self._part).alias("__prev_part")] if detect else []),
                )
                w = (
                    self._with_bucket(delta)
                    .join(prev, pk, "left")
                    .where(win)
                    .withColumn("_rev", _rev_bump(F.col("__prev_rev"), stamp))
                )
                if detect:
                    # the check materializes the delta-prev join once;
                    # cache it so the write reuses it instead of
                    # re-scanning the touched partitions
                    w = w.cache()
                    cached.append(w)
                    self._raise_on_moved_keys(w)
                w = w.drop(
                    "__prev", "__prev_rev", "__prev_csn", "__prev_dead",
                    "__prev_part",
                )
                if insert:
                    won[0] = w.count()
                    kept = cur
                else:
                    kept = cur.join(w.select(pk), pk, "left_anti")
                return kept.unionByName(w, allowMissingColumns=True)

            self._rewrite(touched, build)
            return n, won[0]
        finally:
            for d in cached:
                d.unpersist()

    def _raise_on_moved_keys(self, winners: DataFrame) -> None:
        """merge_cdc's ``"detect"`` mode: raise when a winner's partition
        value differs from its stored row's.  Directory-name equality:
        '' and NULL share the __HIVE_DEFAULT_PARTITION__ dir, so both
        sides are nullif-folded before comparing (a ''<->NULL "move" is
        not one).  ``__prev`` carries existence, so a stored row in the
        null directory is still seen (a NULL ``__prev_part`` means "stored
        in the null dir", not "no stored row")."""
        def folded(c):
            return F.nullif(F.col(c).cast("string"), F.lit(""))

        moved = (
            winners.where(
                F.col("__prev") & ~folded(self._part).eqNullSafe(folded("__prev_part"))
            )
            .select(self.primary_key, self._part, "__prev_part")
            .limit(3)
            .collect()
        )
        if moved:
            raise ValueError(
                "merge_cdc key-stability violation: partition value"
                f" changed for key(s) {[r[0] for r in moved]}"
                f" ({moved[0]['__prev_part']!r} ->"
                f" {moved[0][self._part]!r}) — the stored row would"
                " be stranded in its old partition; re-run with"
                " moved_keys='repair' to rewrite old directories"
            )

    def _update(
        self, touched: list | None, mark, sets: dict, lwt, src=None
    ) -> None:
        """The one in-place UPDATE (bulk_remove, incremental_modify) on the
        rewrite cycle: ``mark`` adds the boolean ``__hit`` column to the
        stored rows; the hit rows get ``sets`` and ``_lwt``, then a
        ``_rev`` bumped over their new payload."""

        def build(cur: DataFrame) -> DataFrame:
            user_cols = [c for c in cur.columns if c != BUCKET_COL]
            out, hit = mark(cur), F.col("__hit")
            for c, e in {**sets, "_lwt": _lwt_lit(lwt)}.items():
                out = out.withColumn(c, F.when(hit, e).otherwise(F.col(c)))
            if "_rev" in user_cols:
                bumped = _rev_bump(F.col("_rev"), _payload_hash(user_cols))
                out = out.withColumn(
                    "_rev", F.when(hit, bumped).otherwise(F.col("_rev"))
                )
            return out.drop("__hit")

        self._rewrite(touched, build, src)

    def bulk_insert(self, rows: DataFrame, lwt: float | None = None) -> dict[str, int]:
        """Insert; rows whose PK already exists are rejected per-row (the
        reference's 409 conflict category) while the rest succeed.  New
        rows are stamped `_rev = '1-<hash>'` (utils-revision.js:1-41).
        The MERGE keeps the delta rows with no stored row; a conflicting
        pk always lands in the same partition as the incoming row."""
        n, won = self._merge(
            _live(rows), F.col("__prev").isNull(), lwt, insert=True
        )
        return {"success": won, "conflict": n - won}

    def bulk_upsert(self, rows: DataFrame, lwt: float | None = None) -> None:
        """MERGE: matched -> replace with new state, not matched -> insert
        (reference bulkUpsert, rx-collection.js:294-342).  `_rev` height is
        bumped over the matched row's revision ('<h+1>-<hash>'), '1-<hash>'
        for fresh inserts (utils-revision.js:1-41).  Only the partitions
        the incoming keys land in are read or rewritten."""
        self._merge(_live(rows), F.lit(True), lwt)

    def incremental_modify(
        self,
        selector: dict,
        set_exprs: dict[str, F.Column],
        lwt: float | None = None,
    ) -> None:
        """UPDATE: apply column expressions to the rows matching a Mango
        selector — the reference's incrementalModify/incrementalPatch
        (MAP#rxdb/dist/esm/rx-document.js incremental ops; the
        conflict-retry loop collapses to one atomic read-modify-write
        under the single-writer driver, which is also why plain
        incrementalUpsert degenerates to bulk_upsert here).  `_rev` height
        is bumped on modified rows; soft-deleted rows are never touched.
        The selector scan sees the whole table, but only partitions
        containing hit rows are rewritten."""
        from javascript_vector_database_spark.operators.mango import (
            mango_to_column,
        )

        hit = mango_to_column(selector) & ~F.col("_deleted")
        touched = src = None
        if self._bucketed():
            src = self._raw()
            hits = src.where(hit).select(self._part).distinct()
            touched = [r[0] for r in hits.collect()]
            if not touched:
                return
        self._update(
            touched, lambda cur: cur.withColumn("__hit", hit), set_exprs, lwt, src
        )

    def merge_cdc(
        self, rows: DataFrame, lwt: float | None = None, moved_keys: str = "detect"
    ) -> None:
        """CDC MERGE with per-key change-sequence-number (CSN) conflict
        resolution — upserts and deletes in ONE verb that COMMUTES under
        at-least-once re-delivery.

        The ordering problem this solves: bulk_upsert + bulk_remove as
        separate verbs make the final state depend on ARRIVAL order — a
        re-delivered insert landing after its key's delete resurrects
        the row, which is why the r10 live-index rows restricted
        tombstones to checkpoint-complete ids.  Real CDC engines version
        every change with a monotonic per-key sequence number and keep
        the max in the MERGE (Delta CDF's _commit_version, a Kafka log
        offset); this verb implements that discipline:

        * every delta row carries ``_csn`` (producer-assigned, monotonic
          per key) and ``_tombstone`` (true = delete);
        * within one batch only the max-(csn, tombstone) row per key
          survives (a tombstone outranks an insert at the same csn);
        * against stored state an arriving row wins if its csn exceeds
          the stored row's, or — the SAME tie rule as within a batch —
          if it is a tombstone at the stored row's csn and the stored
          row is still alive; everything else (a re-delivery or a stale
          change) is absorbed silently, in EITHER direction, so the
          final state never depends on micro-batch boundaries;
        * a winning tombstone is STORED as a ``_deleted=true`` row (the
          soft-delete shape ``docs()`` already filters), never removed:
          it must outlive the insert it supersedes, and a tombstone for
          a not-yet-delivered key parks a row that absorbs the insert
          when it finally arrives — delete-before-insert and
          insert-after-delete both converge to deleted.

        Touched-partition contract: under a ``partition_col`` layout
        the delta must carry the partition column on EVERY row,
        tombstones included — the partition value is a pure function of
        the payload, so a CDC producer computes it for deletes too (and
        the MERGE never needs the PK-semi-join fallback).  Only touched
        partitions are read or rewritten, same as bulk_upsert.

        ``moved_keys`` makes the key-stability contract ENFORCED rather
        than prose (r11 ADVICE): a csn-advanced update whose payload
        maps the key to a DIFFERENT partition value would otherwise
        strand the stale live row in its old directory (a duplicate-key
        ghost).  Modes, partition_col layouts only:

        * ``"detect"`` (default) — the prev join carries the stored
          partition value; any winner whose new value differs raises
          before anything is written.  One delta-sized check job; moves
          whose OLD partition lies outside the touched set are invisible
          to it (their stored row was never read), which is exactly the
          case ``"repair"`` exists for.
        * ``"repair"`` — extend the touched set with the stored
          partitions of the delta's keys via the documented PK-semi-join
          fallback (a scan of the stored table, pruned only by parquet
          PK min/max), so a moved key's old directory is rewritten
          without the ghost.  This is what Delta MERGE does (matched
          files found by stats); pay it when the partition value is NOT
          a pure function of the key.
        """
        from pyspark.sql.window import Window

        if moved_keys not in ("detect", "repair"):
            raise ValueError(f"moved_keys: unknown mode {moved_keys!r}")
        latest = Window.partitionBy(self.primary_key).orderBy(
            F.col(CSN_COL).desc(), F.col(TOMBSTONE_COL).cast("int").desc()
        )
        delta = (
            rows.withColumn("__rn", F.row_number().over(latest))
            .where(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("_deleted", F.col(TOMBSTONE_COL))
            .drop(TOMBSTONE_COL)
        )
        csn, prev_csn = F.col(CSN_COL), F.col("__prev_csn")
        win = (
            prev_csn.isNull()
            | (csn > prev_csn)
            # equal-csn tombstone vs a stored LIVE row: the same tie rule
            # the within-batch window applies — without it the outcome
            # would depend on whether the pair shared a micro-batch
            | (
                (csn == prev_csn)
                & F.col("_deleted")
                & ~F.coalesce(F.col("__prev_dead"), F.lit(False))
            )
        )
        self._merge(delta, win, lwt, moved_keys)

    def _key_df(self, ids) -> DataFrame:
        """Normalize a Python list or single-column DataFrame of keys to a
        distinct one-column frame named after the PK (the reference's
        bulkRemove dedups by pk; duplicates would fan out the join)."""
        pk = self.primary_key
        if isinstance(ids, DataFrame):
            return ids.toDF(pk).distinct()
        if not ids:
            # empty delete set: an empty frame keyed like the table
            return self.df().select(pk).limit(0)
        return self.spark.createDataFrame([(i,) for i in ids]).toDF(pk).distinct()

    def bulk_remove(self, ids, lwt: float | None = None) -> None:
        """Soft delete: set `_deleted = true`, keep the row for the change
        feed (reference rx-collection.js:243-289), bump `_rev`.  ``ids``
        is a Python list or a single-column DataFrame of keys (the scale
        path — no driver round-trip).  Only the partitions the keys land
        in are read or rewritten."""
        keys = self._key_df(ids).withColumn("__hit", F.lit(True))
        self._update(
            self._touched(keys) if self._bucketed() else None,
            lambda cur: cur.join(keys, self.primary_key, "left"),
            {"_deleted": F.lit(True)},
            lwt,
        )

    def bulk_delete_rows(self, ids) -> None:
        """HARD delete (no tombstone) — for maintained result/view tables
        (streaming.reactive), NOT the reference's soft-delete surface.
        Touched-partition rewrite only."""
        keys = self._key_df(ids)
        self._rewrite(
            self._touched(keys) if self._bucketed() else None,
            lambda cur: cur.join(keys, self.primary_key, "left_anti"),
        )
