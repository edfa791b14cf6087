"""Incremental materialization (SURVEY §2.2 M3; ref
macros/materializations/incremental.sql:13-215).

Three strategies on plain Parquet-backed catalog tables (no engine
DML required — the delete+insert / merge semantics of the reference's
DELETE+INSERT statements are reproduced as anti-join + union +
staged-overwrite, which is also the scalable plan: one shuffle on the
key, no row-at-a-time updates):

- ``append``        — incremental.sql:120-128 (INSERT INTO … SELECT)
- ``delete+insert`` — incremental.sql:130-159 (DELETE partitions/keys
                      present in the new batch, then insert the batch)
- ``merge``         — incremental.sql:161-190 (DELETE matching keys,
                      INSERT ALL new rows == upsert by key; without
                      ``unique_key`` an append)

``unique_key`` may be a single column or a list
(incremental.sql:27-34). First run / full refresh ⇒ CTAS
(incremental.sql:73-94).

Scale notes (100 TB): the rewrite pattern reads old+new and overwrites
— on a real lake this should be Iceberg/Delta ``MERGE INTO`` which
rewrites only matched files; no such catalog ships with this engine,
so every batch takes the rewrite. The anti-join is a shuffle on the
unique key; AQE handles skew and broadcasts a small batch.
"""

from __future__ import annotations

import threading
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .ddl import clear_orphaned_location, table_layout, write_table


def _normalize_keys(unique_key: str | Sequence[str] | None) -> list[str]:
    if unique_key is None:
        return []
    if isinstance(unique_key, str):
        return [unique_key]
    return list(unique_key)


def _sync_partitions(spark: SparkSession, table: str) -> None:
    """Re-point a renamed table's partition metadata at its moved
    directory. Hive stores ABSOLUTE per-partition locations, so after
    ALTER TABLE RENAME a partitioned table reads empty — worse,
    dropping it would delete files at the stale locations (verified:
    the un-repaired backup's DROP removed the live target's files).
    No-op for unpartitioned tables."""
    try:
        spark.sql(f"MSCK REPAIR TABLE {table} SYNC PARTITIONS")
    except Exception:
        pass  # NOT_A_PARTITIONED_TABLE


def _swap_names(target: str) -> tuple[str, str]:
    return f"{target}__icebreaker_stage", f"{target}__icebreaker_old"


def _size_coalesced(df: DataFrame) -> DataFrame:
    """Size-targeted output files for full-rewrite writes (guide §6
    small-files): when Catalyst's plan-size estimate says the whole
    result is small (< 1 GiB), coalesce to ~128 MB-target files so a
    small table's rewrite does not scatter into one tiny file (plus
    one write task + one commit) per shuffle partition. Big or
    unestimable results keep their full write parallelism — at scale
    the estimate blows past the threshold and this is a no-op, so the
    rule is scale-adaptive, not a local-bench tune. coalesce() merges
    without a shuffle; at < 1 GiB true size the reduced upstream
    parallelism is noise."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return df
    if est <= 0 or est >= 1 << 30:
        return df
    return df.coalesce(max(1, -(-est // (128 << 20))))


def recover_staged_swap(spark: SparkSession, target: str) -> Optional[str]:
    """Heal a crash that interrupted _staged_overwrite's rename swap.

    Between 'RENAME target TO backup' and 'RENAME staging TO target'
    the target does not exist — without recovery the next incremental
    run would take the first-run CTAS path, rebuild the table from one
    batch, and the run after that would unconditionally DROP the
    backup: silent loss of all accumulated history. Called before any
    existence check that gates a CTAS.

    Preference order when target is missing:
    - staging exists ⇒ finish the swap (saveAsTable registers the
      table only after a complete write, so a cataloged staging table
      IS the full new state), then drop the backup;
    - else backup exists ⇒ roll back (re-apply of the interrupted
      batch is the caller's natural next step).
    Returns the action taken ('completed'/'rolled_back') or None.
    """
    if spark.catalog.tableExists(target):
        return None
    staging, backup = _swap_names(target)
    if spark.catalog.tableExists(staging):
        spark.sql(f"ALTER TABLE {staging} RENAME TO {target}")
        _sync_partitions(spark, target)
        spark.sql(f"DROP TABLE IF EXISTS {backup}")
        return "completed"
    if spark.catalog.tableExists(backup):
        spark.sql(f"ALTER TABLE {backup} RENAME TO {target}")
        _sync_partitions(spark, target)
        return "rolled_back"
    return None


def _staged_overwrite(
    spark: SparkSession,
    df: DataFrame,
    target: str,
    size_coalesce: bool = True,
    check: Optional[Callable[[], None]] = None,
    replace: bool = False,
) -> int:
    """Replace `target` with `df` even when df reads from target:
    write to a staging table first, then swap. Avoids Spark's
    cannot-overwrite-table-that-is-being-read error without caching
    the whole result in memory. Returns the row count write_table
    observed on the staging write — the rows of the new target, with
    no scan of the swapped-in table.

    The rewrite keeps the target's layout: its partitioning and
    bucketing are read from the catalog once (ddl.table_layout),
    before the staging write, and the staging table is written with
    them — no caller restates them. ``replace`` declares a new table
    instead (CREATE OR REPLACE TABLE … AS SELECT): the result is
    unpartitioned and unbucketed.

    ``check`` runs after the staging write and before the swap, so it
    can read Observations the write filled (the duplicate-match guard
    of MERGE and of the partial update); if it raises, the staging
    table is dropped and the target stays untouched.

    Crash safety: the old table is renamed aside (not dropped) before
    the staging table takes its name, and only dropped once the swap
    completed — a crash mid-swap leaves the data in either the backup
    or staging table instead of losing the target entirely. Each
    rename of a partitioned table is followed by a partition-metadata
    sync BEFORE the backup is dropped — see _sync_partitions; the same
    layout read says which of the two tables need it."""
    staging, backup = _swap_names(target)
    for t in (staging, backup):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    clear_orphaned_location(spark, backup)  # write_table clears staging's
    if size_coalesce:
        # callers that already sized their output (compaction) opt out
        df = _size_coalesced(df)
    layout = table_layout(spark, target)
    new_layout = ([], [], None, []) if replace else layout
    n = write_table(spark, df, staging, "overwrite", *new_layout)
    if check is not None:
        try:
            check()
        except BaseException:
            spark.sql(f"DROP TABLE IF EXISTS {staging}")
            raise
    if spark.catalog.tableExists(target):
        spark.sql(f"ALTER TABLE {target} RENAME TO {backup}")
        if layout[0]:
            _sync_partitions(spark, backup)
    spark.sql(f"ALTER TABLE {staging} RENAME TO {target}")
    if new_layout[0]:
        _sync_partitions(spark, target)
    spark.sql(f"DROP TABLE IF EXISTS {backup}")
    return n


def _apply_schema_change(
    spark: SparkSession,
    target: str,
    old: DataFrame,
    new_rows: DataFrame,
    mode: str,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Schema-drift policy (`on_schema_change`). The reference
    DECLARES this config but never implements it
    (incremental.sql:25 — read once, defaulted to 'ignore', unused);
    here all four dbt modes work:

    - ``ignore``             — insert using the TARGET's columns;
                               new source columns dropped, removed
                               ones become NULL (reference behavior)
    - ``fail``               — raise on any drift
    - ``append_new_columns`` — new source columns are added to the
                               target (existing rows read NULL)
    - ``sync_all_columns``   — add new AND drop removed columns

    Returns (old_aligned, new_aligned, final_columns). Widening the
    target is metadata-only until the next overwrite — on plain
    parquet the union rewrite pays the cost; on Iceberg/Delta it maps
    to ALTER TABLE ADD COLUMNS.
    """
    old_cols = list(old.columns)
    new_cols = list(new_rows.columns)
    added = [c for c in new_cols if c not in old_cols]
    removed = [c for c in old_cols if c not in new_cols]

    if mode == "fail":
        if added or removed:
            raise ValueError(
                f"schema drift on {target}: added={added} removed={removed} "
                "(on_schema_change='fail')"
            )
        return old, new_rows.select(old_cols), old_cols

    if mode == "append_new_columns":
        final = old_cols + added
        old_a = old.select(
            *old_cols, *[F.lit(None).cast(new_rows.schema[c].dataType).alias(c) for c in added]
        )
        new_a = new_rows.select(
            *[F.col(c) if c in new_cols else F.lit(None).cast(old.schema[c].dataType).alias(c)
              for c in final]
        )
        return old_a, new_a, final

    if mode == "sync_all_columns":
        final = [c for c in old_cols if c not in removed] + added
        old_a = old.select(
            *[c for c in old_cols if c not in removed],
            *[F.lit(None).cast(new_rows.schema[c].dataType).alias(c) for c in added],
        )
        return old_a, new_rows.select(final), final

    # 'ignore' (default; reference behavior incremental.sql:25):
    # target schema wins; missing source columns become NULL
    new_a = new_rows.select(
        *[F.col(c) if c in new_cols else F.lit(None).cast(old.schema[c].dataType).alias(c)
          for c in old_cols]
    )
    return old, new_a, old_cols


def _fans_out(scan, joined) -> bool:
    """True when a left join emitted more rows (``joined``'s observed
    ``n_j``) than the target scan fed it (``scan``'s ``n_t``): a
    target row matched more than one batch row — SQL MERGE's
    cardinality rule. An empty join output holds no duplicate; and
    with an empty target AQE prunes the join, taking the scan's
    observation with it, so ``n_t`` is read only past that case."""
    n_j = joined.get["n_j"]
    return bool(n_j) and n_j > scan.get["n_t"]


def _scope_split(
    old: DataFrame, predicates: Optional[Sequence[str]]
) -> tuple[DataFrame, Optional[DataFrame]]:
    """(in_scope, out_of_scope) target rows under dbt's
    incremental_predicates: out-of-scope rows (every predicate false
    or NULL) are carried through untouched and never join the batch.
    The predicates are evaluated on the target only."""
    if not predicates:
        return old, None
    if any("DBT_INTERNAL_SOURCE" in p for p in predicates):
        raise ValueError(
            "incremental_predicates cannot reference DBT_INTERNAL_SOURCE: "
            "they are evaluated on the TARGET rows only, so a batch-side "
            "predicate would silently bind to target columns."
        )
    pred = F.lit(True)
    for p in predicates:
        p = p.replace("DBT_INTERNAL_DEST.", "")
        pred = pred & F.coalesce(F.expr(p), F.lit(False))
    return old.filter(pred), old.filter(~pred)


def _update_columns(
    keys: list[str],
    final_cols: list[str],
    update: Optional[Sequence[str]],
    exclude: Optional[Sequence[str]],
) -> Optional[list[str]]:
    """The columns a matched row takes from the batch under dbt's
    merge_update_columns / merge_exclude_columns; None when neither is
    set (the batch row replaces the whole row). Keys never change on
    a match."""
    if update:
        cols = [c for c in update if c not in keys]
        if not cols:
            raise ValueError(
                "merge_update_columns contains only unique_key columns "
                "— nothing to update (keys never change on a match)."
            )
        return cols
    if exclude:
        cols = [c for c in final_cols if c not in exclude and c not in keys]
        if not cols:
            raise ValueError(
                "merge_exclude_columns excludes every non-key column "
                "— nothing to update."
            )
        return cols
    return None


def _partial_update(
    spark: SparkSession,
    target: str,
    scoped: DataFrame,
    carried: Optional[DataFrame],
    batch: DataFrame,
    keys: list[str],
    update_cols: list[str],
    final_cols: list[str],
) -> int:
    """``merge`` with merge_update_columns/merge_exclude_columns, as
    one staged rewrite: a matched in-scope target row takes only
    ``update_cols`` from its batch row (UPDATE SET), a batch row that
    matches none inserts whole (INSERT *). A target row matched by
    more than one batch row refuses before the swap, checked on
    count(1) observations the write fills on the scoped target scan
    and the joined rows; duplicate batch keys that match no target
    row all insert, as under MERGE INTO."""
    b = batch.select(
        *[F.col(k).alias(f"__bk_{k}") for k in keys],
        *[F.col(c).alias(f"__bv_{c}") for c in update_cols],
    )
    scan, joined = Observation(), Observation()
    t = scoped.observe(scan, F.count(F.lit(1)).alias("n_t"))
    # when(matched).otherwise(old) — NOT coalesce: a matched batch row
    # carrying an explicit NULL must write the NULL (UPDATE SET
    # semantics), not fall back to the old value
    matched = F.col(f"__bk_{keys[0]}").isNotNull()
    merged = (
        t.join(b, [t[k] == b[f"__bk_{k}"] for k in keys], "left")
        .observe(joined, F.count(F.lit(1)).alias("n_j"))
        .select(*[
            F.when(matched, F.col(f"__bv_{c}")).otherwise(F.col(c)).alias(c)
            if c in update_cols else F.col(c)
            for c in final_cols
        ])
    )
    # anti-join against the SCOPED slice: a batch row whose key
    # matches only an out-of-scope target row is not matched and
    # therefore inserts
    new_only = batch.join(
        scoped.select(keys).distinct(), on=keys, how="left_anti"
    ).select(*final_cols)
    if carried is not None:
        merged = merged.unionByName(carried.select(*final_cols))

    def refuse_fan_out() -> None:
        if _fans_out(scan, joined):
            raise ValueError(
                "merge_update_columns/merge_exclude_columns need at most "
                f"one batch row per unique_key {keys} matching a target "
                "row; dedupe the batch first."
            )

    return _staged_overwrite(
        spark, merged.unionByName(new_only), target, check=refuse_fan_out
    )


# spark.sql.sources.partitionOverwriteMode is session-wide and
# ProjectRunner runs models on several threads against one session:
# unserialized, one insert_overwrite restores another's DYNAMIC (which
# then leaks into later INSERT OVERWRITEs) or resets STATIC under
# another's write. Writer options do not reach these V1 tables, so the
# flip, the write and the restore hold one lock.
_OVERWRITE_MODE_LOCK = threading.Lock()


def run_incremental(
    spark: SparkSession,
    target: str,
    new_rows: DataFrame,
    strategy: str = "merge",
    unique_key: str | Sequence[str] | None = None,
    partition_by: Optional[str] = None,
    full_refresh: bool = False,
    on_schema_change: str = "ignore",
    clustered_by: str | Sequence[str] | None = None,
    buckets: Optional[int] = None,
    incremental_predicates: Optional[Sequence[str]] = None,
    merge_update_columns: Optional[Sequence[str]] = None,
    merge_exclude_columns: Optional[Sequence[str]] = None,
    collect_stats: bool = True,
) -> dict:
    """Apply one incremental batch in one of four ways:

    - **append** — ``append``, and ``merge`` without ``unique_key``,
      which degenerates to it (incremental.sql:120-128): the batch is
      inserted into the table; a batch that widens the schema
      rewrites the table once instead;
    - **keyed replace** — ``merge`` and ``delete+insert``
      (incremental.sql:130-190): target rows whose key is in the
      batch — for ``delete+insert`` with ``partition_by``, whose
      partition is — are dropped and every batch row is inserted, as
      one staged rewrite;
    - **partial update** — ``merge`` with ``merge_update_columns`` or
      ``merge_exclude_columns`` (see _partial_update);
    - **insert_overwrite** — dynamic overwrite of the batch's
      partitions.

    Returns a stats dict whose ``rows`` is the row count of ``target``
    after the call: the count write_table observed wherever the write
    replaced the whole table, one table count on the in-place paths
    (``append``, ``merge(append)``, ``insert_overwrite``) — None there
    under ``collect_stats=False``, whose callers loop many batches and
    skip that scan.

    ``partition_by``/``clustered_by``/``buckets`` declare the table's
    layout when a run creates it (first run or ``full_refresh``);
    every later batch keeps the layout the catalog records, whatever
    the config says, so changing an existing table's layout needs
    ``full_refresh`` (dbt-spark's contract). ``partition_by`` also
    names what ``delete+insert`` and ``insert_overwrite`` replace.

    ``incremental_predicates`` (dbt contract) bound which TARGET rows
    are eligible for matching: rows outside every predicate are
    carried through untouched and bypass the join's exchange, so only
    the predicate's slice shuffles. The caller promises the
    predicates cover every row the batch could match — the same
    promise dbt requires."""
    keys = _normalize_keys(unique_key)
    if merge_update_columns and merge_exclude_columns:
        raise ValueError(
            "merge_update_columns and merge_exclude_columns are "
            "mutually exclusive (dbt contract)")
    recovered = recover_staged_swap(spark, target)
    # surfaced on EVERY return path: operators must learn a crash-
    # recovery event happened no matter which strategy then ran
    extra = {"recovered_swap": recovered} if recovered else {}

    def _in_place(strategy_name: str, **more) -> dict:
        rows = spark.table(target).count() if collect_stats else None
        return {"strategy": strategy_name, "rows": rows, **more, **extra}

    if not spark.catalog.tableExists(target) or full_refresh:
        # incremental.sql:73-94 — first run / --full-refresh ⇒ CTAS
        n = write_table(
            spark, new_rows, target, "overwrite", partition_by, clustered_by, buckets
        )
        return {"strategy": "create", "rows": n, **extra}

    old = spark.table(target)
    target_cols = old.columns
    old, new_aligned, final_cols = _apply_schema_change(
        spark, target, old, new_rows, on_schema_change
    )

    if strategy == "append" or (strategy == "merge" and not keys):
        if final_cols != target_cols:
            # plain parquet cannot widen a table in place — rewrite once
            n = _staged_overwrite(spark, old.unionByName(new_aligned), target)
            return {
                "strategy": "append(schema-change rewrite)",
                "rows": n,
                "schema_change": on_schema_change,
                **extra,
            }
        n = write_table(spark, new_aligned, target, "append")
        label = "append" if strategy == "append" else "merge(append)"
        return _in_place(label, rows_appended=n)

    if strategy == "insert_overwrite":
        # dbt-spark's at-scale strategy for partitioned tables:
        # dynamic partition overwrite rewrites ONLY the partitions
        # present in the batch — untouched partitions' files are never
        # read or rewritten (a keyed replace rewrites the whole table;
        # at 100 TB with daily partitions that is the difference
        # between rewriting one day and rewriting three years). No
        # unique_key involved: the partition IS the replacement unit,
        # per the dbt contract.
        if not partition_by:
            raise ValueError("insert_overwrite needs partition_by")
        mode_key = "spark.sql.sources.partitionOverwriteMode"
        with _OVERWRITE_MODE_LOCK:
            prev_mode = spark.conf.get(mode_key, "STATIC")
            spark.conf.set(mode_key, "DYNAMIC")
            try:
                # insertInto is positional — align to the target's
                # column order (partition columns last in Spark's layout)
                new_aligned.select(*target_cols).write.mode(
                    "overwrite").insertInto(target)
            finally:
                spark.conf.set(mode_key, prev_mode)
        return _in_place("insert_overwrite")

    if strategy not in ("merge", "delete+insert"):
        raise ValueError(f"unknown incremental strategy: {strategy}")
    scoped, carried = _scope_split(old, incremental_predicates)
    if strategy == "merge":
        update_cols = _update_columns(
            keys, final_cols, merge_update_columns, merge_exclude_columns)
        if update_cols is not None:
            n = _partial_update(spark, target, scoped, carried, new_aligned,
                                keys, update_cols, final_cols)
            return {"strategy": "merge(partial-update)", "rows": n, **extra}
    # keyed replace (incremental.sql:130-190): DELETE the target rows
    # whose key — or partition — the batch holds, then INSERT every
    # batch row ⇒ old rows not in the batch ∪ batch
    if strategy == "delete+insert" and partition_by:
        # distinct partition values are tiny by construction —
        # broadcasting is always safe here
        parts = new_aligned.select(partition_by).distinct()
        kept = scoped.join(F.broadcast(parts), on=partition_by, how="left_anti")
    elif keys:
        # no forced broadcast of the key set: a backfill-sized batch
        # force-broadcast past autoBroadcastJoinThreshold must be
        # collected to the driver (OOM). AQE's runtime join selection
        # broadcasts small batches anyway and shuffle-joins big ones.
        kept = scoped.join(
            new_aligned.select(keys).distinct(), on=keys, how="left_anti"
        )
    else:
        raise ValueError("delete+insert needs unique_key or partition_by")
    if carried is not None:
        kept = kept.unionByName(carried)
    n = _staged_overwrite(spark, kept.unionByName(new_aligned), target)
    return {"strategy": strategy, "rows": n, **extra}
