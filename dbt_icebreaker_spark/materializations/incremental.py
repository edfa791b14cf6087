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
                      INSERT ALL new rows == upsert by key)

``unique_key`` may be a single column or a list
(incremental.sql:27-34). First run / full refresh ⇒ CTAS
(incremental.sql:73-94).

Scale notes (100 TB): the rewrite pattern reads old+new and overwrites
— on a real lake this should be Iceberg/Delta ``MERGE INTO`` which
rewrites only matched files; `use_sql_merge` switches to literal MERGE
when the target catalog supports it. The anti-join is a shuffle on
the unique key; AQE handles skew. The new batch is usually small ⇒
broadcast the *new* side of the anti-join.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
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
    can read Observations the write filled (MERGE's duplicate-match
    guard); if it raises, the staging table is dropped and the target
    stays untouched.

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
    new_layout = ([], [], None) if replace else layout
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


def _dest_pred(pred: str, alias: str | None = None) -> str:
    """Normalize a dbt incremental_predicate: the conventional
    DBT_INTERNAL_DEST / DBT_INTERNAL_SOURCE aliases map to the
    target/batch relation (SQL-merge path) or to bare target columns
    (rewrite path, alias=None)."""
    out = pred
    if alias is None:
        out = out.replace("DBT_INTERNAL_DEST.", "").replace(
            "DBT_INTERNAL_SOURCE.", "")
    else:
        out = out.replace("DBT_INTERNAL_DEST", alias).replace(
            "DBT_INTERNAL_SOURCE", "s")
    return out


def merge_into_sql(
    target: str,
    batch_view: str,
    keys: list[str],
    predicates: Optional[Sequence[str]] = None,
    update_columns: Optional[Sequence[str]] = None,
) -> str:
    """The literal MERGE INTO statement for catalogs with row-level
    DML (Delta/Iceberg): rewrites only matched files instead of the
    whole table — the preferred shape at 100 TB. Mirrors the
    reference's DELETE-matching + INSERT-all semantics
    (incremental.sql:161-190) as UPDATE SET * / INSERT *.

    Divergence from the rewrite path: a batch with MULTIPLE rows per
    unique_key inserts them all under the rewrite (reference
    INSERT-all), but SQL MERGE raises MERGE_CARDINALITY_VIOLATION —
    run_incremental converts that into an actionable error rather
    than silently changing semantics."""
    cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    for p in predicates or ():
        # extra ON conjuncts — on Delta/Iceberg these prune the
        # TARGET-side file scan (the dbt incremental_predicates
        # contract: rows outside the predicate are never matched)
        cond += f" AND ({_dest_pred(p, 't')})"
    if update_columns:
        sets = ", ".join(f"t.{c} = s.{c}" for c in update_columns)
        update = f"UPDATE SET {sets}"
    else:
        update = "UPDATE SET *"
    return (
        f"MERGE INTO {target} t USING {batch_view} s ON {cond} "
        f"WHEN MATCHED THEN {update} "
        "WHEN NOT MATCHED THEN INSERT *"
    )


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
    use_sql_merge: bool = False,
    incremental_predicates: Optional[Sequence[str]] = None,
    merge_update_columns: Optional[Sequence[str]] = None,
    merge_exclude_columns: Optional[Sequence[str]] = None,
    collect_stats: bool = True,
) -> dict:
    """Apply one incremental batch. Returns a stats dict whose
    ``rows`` is the row count of ``target`` after the call: the count
    write_table observed wherever the write replaced the whole table,
    one table count on the in-place paths (``append``,
    ``merge(append)``, ``insert_overwrite``, ``merge(sql)``) — None
    there under ``collect_stats=False``, whose callers loop many
    batches and skip that scan.

    ``partition_by``/``clustered_by``/``buckets`` declare the table's
    layout when a run creates it (first run or ``full_refresh``);
    every later batch keeps the layout the catalog records, whatever
    the config says, so changing an existing table's layout needs
    ``full_refresh`` (dbt-spark's contract). ``partition_by`` also
    names what ``delete+insert`` and ``insert_overwrite`` replace.

    ``incremental_predicates`` (dbt contract) bound which TARGET rows
    are eligible for matching: rows outside every predicate are
    carried through untouched and never join against the batch. On
    the SQL-merge path the predicates become ON-clause conjuncts
    (Delta/Iceberg prune target files with them — the 100 TB shape);
    on the rewrite path out-of-scope rows bypass the anti-join's
    exchange entirely, so only the predicate's slice shuffles. The
    caller promises the predicates cover every row the batch could
    match — the same promise dbt requires."""
    keys = _normalize_keys(unique_key)
    if merge_update_columns and merge_exclude_columns:
        raise ValueError(
            "merge_update_columns and merge_exclude_columns are "
            "mutually exclusive (dbt contract)")
    recovered = recover_staged_swap(spark, target)
    # surfaced on EVERY return path: operators must learn a crash-
    # recovery event happened no matter which strategy then ran
    extra = {"recovered_swap": recovered} if recovered else {}
    exists = spark.catalog.tableExists(target)

    def _in_place(strategy_name: str, **more) -> dict:
        rows = spark.table(target).count() if collect_stats else None
        return {"strategy": strategy_name, "rows": rows, **more, **extra}

    if not exists or full_refresh:
        # incremental.sql:73-94 — first run / --full-refresh ⇒ CTAS
        n = write_table(
            spark, new_rows, target, "overwrite", partition_by, clustered_by, buckets
        )
        return {"strategy": "create", "rows": n, **extra}

    old = spark.table(target)
    old, new_aligned, final_cols = _apply_schema_change(
        spark, target, old, new_rows, on_schema_change
    )
    schema_widened = list(final_cols) != list(spark.table(target).columns)
    if schema_widened and strategy == "append":
        # append can't widen in place on plain parquet — rewrite once
        n = _staged_overwrite(spark, old.unionByName(new_aligned), target)
        return {
            "strategy": "append(schema-change rewrite)",
            "rows": n,
            "schema_change": on_schema_change,
            **extra,
        }

    if strategy == "append":
        # incremental.sql:120-128
        n = write_table(spark, new_aligned, target, "append")
        return _in_place("append", rows_appended=n)

    def _scope_split(frame: DataFrame):
        """(in_scope, out_of_scope) under incremental_predicates —
        out-of-scope rows (predicate false OR NULL) skip the join."""
        if not incremental_predicates:
            return frame, None
        for p in incremental_predicates:
            if "DBT_INTERNAL_SOURCE" in p:
                raise ValueError(
                    "incremental_predicates referencing "
                    "DBT_INTERNAL_SOURCE need use_sql_merge=True (the "
                    "rewrite path evaluates predicates on the TARGET "
                    "only; a batch-side predicate would silently bind "
                    "to target columns)."
                )
        pred = F.lit(True)
        for p in incremental_predicates:
            pred = pred & F.coalesce(F.expr(_dest_pred(p)), F.lit(False))
        return frame.filter(pred), frame.filter(~pred)

    if strategy == "insert_overwrite":
        # dbt-spark's at-scale strategy for partitioned tables:
        # dynamic partition overwrite rewrites ONLY the partitions
        # present in the batch — untouched partitions' files are never
        # read or rewritten (delete+insert's staged rewrite touches
        # the whole table; at 100 TB with daily partitions that is the
        # difference between rewriting one day and rewriting three
        # years). No unique_key involved: the partition IS the
        # replacement unit, per the dbt contract.
        if not partition_by:
            raise ValueError("insert_overwrite needs partition_by")
        prev_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "STATIC"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "DYNAMIC")
        try:
            # insertInto is positional — align to the target's column
            # order (partition columns last in Spark's layout)
            cols = spark.table(target).columns
            new_aligned.select(*cols).write.mode("overwrite").insertInto(target)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        return _in_place("insert_overwrite")

    if strategy == "delete+insert":
        # incremental.sql:130-159: with partition_by, delete whole
        # partitions present in the batch; else delete by key tuple
        scoped, carried = _scope_split(old)
        if partition_by:
            # distinct partition values are tiny by construction —
            # broadcasting is always safe here
            parts = new_aligned.select(partition_by).distinct()
            kept = scoped.join(F.broadcast(parts), on=partition_by, how="left_anti")
        elif keys:
            # no forced broadcast of the key set: a backfill-sized
            # batch force-broadcast past autoBroadcastJoinThreshold
            # must be collected to the driver (OOM). AQE's runtime
            # join selection broadcasts small batches anyway and
            # shuffle-joins big ones.
            kept = scoped.join(
                new_aligned.select(keys).distinct(), on=keys, how="left_anti"
            )
        else:
            raise ValueError("delete+insert needs unique_key or partition_by")
        if carried is not None:
            kept = kept.unionByName(carried)
        n = _staged_overwrite(spark, kept.unionByName(new_aligned), target)
        return {"strategy": "delete+insert", "rows": n, **extra}

    update_cols: Optional[list[str]] = None
    if merge_update_columns:
        update_cols = [c for c in merge_update_columns if c not in keys]
        if not update_cols:
            raise ValueError(
                "merge_update_columns contains only unique_key columns "
                "— nothing to update (keys never change on a match)."
            )
    elif merge_exclude_columns:
        excl = set(merge_exclude_columns)
        update_cols = [
            c for c in final_cols if c not in excl and c not in keys
        ]
        if not update_cols:
            raise ValueError(
                "merge_exclude_columns excludes every non-key column "
                "— nothing to update."
            )

    if strategy == "merge":
        # incremental.sql:161-190: DELETE WHERE EXISTS(key match) then
        # INSERT ALL tmp rows ⇒ old rows not in batch ∪ batch
        if use_sql_merge and keys:
            # row-level DML path (Delta/Iceberg): only matched files
            # rewrite. Spark's built-in parquet tables lack MERGE —
            # surface that as an actionable error, never a silent
            # fallback that hides a misconfigured catalog.
            view = "__icebreaker_merge_batch"
            new_aligned.createOrReplaceTempView(view)
            try:
                spark.sql(merge_into_sql(target, view, keys, incremental_predicates, update_cols))
            except Exception as e:
                # classify by Spark's error condition, NOT substring-
                # matching "MERGE" (every failure of a MERGE statement
                # mentions MERGE in its plan dump — a typo'd column
                # would be misreported as a catalog limitation)
                cond = e.getCondition() if hasattr(e, "getCondition") else ""
                cond = cond or ""
                if cond.startswith("UNSUPPORTED_FEATURE"):
                    raise ValueError(
                        f"use_sql_merge=True but {target}'s catalog does "
                        "not support MERGE INTO (Spark built-in parquet "
                        "tables have no row-level DML). Use the default "
                        "rewrite path, or store the table in a Delta/"
                        "Iceberg catalog."
                    ) from e
                if cond.startswith("AMBIGUOUS_REFERENCE"):
                    raise ValueError(
                        "MERGE predicate references an unqualified "
                        "column that exists on both sides; qualify "
                        "incremental_predicates with DBT_INTERNAL_DEST "
                        "(target) or DBT_INTERNAL_SOURCE (batch)."
                    ) from e
                if "MERGE_CARDINALITY_VIOLATION" in cond:
                    raise ValueError(
                        "SQL MERGE requires at most one batch row per "
                        f"unique_key, but this batch has duplicates "
                        f"(keys: {keys}). Dedupe the batch first, or use "
                        "the default rewrite path, which keeps ALL batch "
                        "rows (reference DELETE+INSERT-all semantics)."
                    ) from e
                raise
            finally:
                spark.catalog.dropTempView(view)
            return _in_place("merge(sql)")
        if not keys:
            # reference merge without unique_key degenerates to append
            n = write_table(spark, new_aligned, target, "append")
            return _in_place("merge(append)", rows_appended=n)
        # AQE picks broadcast vs shuffle from the batch's runtime size
        # (see delete+insert note — a forced hint OOMs on backfills)
        scoped, carried = _scope_split(old)
        if update_cols is not None:
            # partial update: matched rows take only update_cols from
            # the batch; a batch with duplicate keys would fan the
            # join out — same cardinality contract as SQL MERGE
            if new_aligned.select(keys).distinct().count() != new_aligned.count():
                raise ValueError(
                    "merge_update_columns/merge_exclude_columns need "
                    f"at most one batch row per unique_key {keys}; "
                    "dedupe the batch first."
                )
            b = new_aligned.select(
                *[F.col(k).alias(f"__bk_{k}") for k in keys],
                *[F.col(c).alias(f"__bv_{c}") for c in update_cols],
            )
            join_cond = None
            for k in keys:
                c = scoped[k] == b[f"__bk_{k}"]
                join_cond = c if join_cond is None else (join_cond & c)
            # when(matched).otherwise(old) — NOT coalesce: a matched
            # batch row carrying an explicit NULL must write the NULL
            # (UPDATE SET semantics), not fall back to the old value
            matched = F.col(f"__bk_{keys[0]}").isNotNull()
            merged = scoped.join(b, join_cond, "left").select(
                *[
                    F.when(matched, F.col(f"__bv_{c}"))
                    .otherwise(scoped[c]).alias(c)
                    if c in update_cols
                    else scoped[c].alias(c)
                    for c in final_cols
                ]
            )
            # anti-join against the SCOPED slice: a batch row whose
            # key matches only an out-of-scope target row is NOT
            # matched (same as the SQL merge's predicate-qualified ON)
            # and therefore INSERTs
            new_only = new_aligned.join(
                scoped.select(keys).distinct(), on=keys, how="left_anti"
            ).select(*final_cols)
            kept = merged
            if carried is not None:
                kept = kept.unionByName(carried.select(*final_cols))
            n = _staged_overwrite(spark, kept.unionByName(new_only), target)
            return {"strategy": "merge(partial-update)", "rows": n, **extra}
        kept = scoped.join(
            new_aligned.select(keys).distinct(), on=keys, how="left_anti"
        )
        if carried is not None:
            kept = kept.unionByName(carried)
        n = _staged_overwrite(spark, kept.unionByName(new_aligned), target)
        return {"strategy": "merge", "rows": n, **extra}

    raise ValueError(f"unknown incremental strategy: {strategy}")
