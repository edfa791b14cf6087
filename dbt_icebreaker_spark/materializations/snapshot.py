"""Snapshot = SCD Type 2 materialization (SURVEY §2.2 M4; ref
macros/materializations/snapshot.sql:18-232).

Meta-columns exactly as the reference (snapshot.sql:89-111):
- ``dbt_valid_from``  — updated_at (timestamp strategy) else run ts
- ``dbt_valid_to``    — NULL while current; close-out ts when replaced
- ``dbt_scd_id``      — MD5(concat_ws('-', key cols…, updated_at))
- ``dbt_updated_at``  — updated_at / run ts

Update run reproduced as ONE batch full-outer rewrite instead of the
reference's UPDATE+INSERT pair (snapshot.sql:163-190): derive
(history ∪ closed ∪ carried ∪ new) and staged-overwrite. On
Iceberg/Delta this would be two MERGE INTO statements; the batch
rewrite is the plain-Parquet equivalent and shuffles once on the key.

Strategies: ``timestamp`` (uses updated_at column) and ``check``
(change detection on check_cols; the reference declares check_cols at
snapshot.sql:27-31 but still rides on scd_id — we hash check_cols for
real column-level change detection, superset of reference behavior).

Determinism: pass ``now`` to freeze CURRENT_TIMESTAMP for
reproducible tests (SURVEY §7.3 hard-points).
"""

from __future__ import annotations

import datetime as _dt
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ddl import write_table
from .incremental import _normalize_keys, _staged_overwrite, recover_staged_swap

META_COLS = ("dbt_valid_from", "dbt_valid_to", "dbt_scd_id", "dbt_updated_at")


def _scd_id(keys: list[str], updated_col):
    # snapshot.sql:99-107: MD5(concat_ws('-', keys…, updated_at))
    parts = [F.col(k).cast("string") for k in keys] + [updated_col.cast("string")]
    return F.md5(F.concat_ws("-", *parts))


def _with_meta(
    df: DataFrame,
    keys: list[str],
    strategy: str,
    updated_at: Optional[str],
    check_cols: Optional[Sequence[str]],
    now: _dt.datetime,
) -> DataFrame:
    if strategy == "timestamp":
        if not updated_at:
            raise ValueError("timestamp strategy requires updated_at column")
        upd = F.col(updated_at)
    else:  # check strategy: change signal = hash of check_cols
        cols = list(check_cols) if check_cols else [c for c in df.columns if c not in keys]
        upd = F.lit(now)
        chk = F.md5(F.concat_ws("||", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]))
        return (
            df.withColumn("dbt_valid_from", upd)
            .withColumn("dbt_valid_to", F.lit(None).cast("timestamp"))
            .withColumn("dbt_scd_id", _scd_id(keys, chk))
            .withColumn("dbt_updated_at", upd)
        )
    return (
        df.withColumn("dbt_valid_from", upd.cast("timestamp"))
        .withColumn("dbt_valid_to", F.lit(None).cast("timestamp"))
        .withColumn("dbt_scd_id", _scd_id(keys, upd))
        .withColumn("dbt_updated_at", upd.cast("timestamp"))
    )


def run_snapshot(
    spark: SparkSession,
    target: str,
    source: DataFrame,
    unique_key: str | Sequence[str],
    strategy: str = "timestamp",
    updated_at: Optional[str] = "updated_at",
    check_cols: Optional[Sequence[str]] = None,
    invalidate_hard_deletes: bool = False,
    now: Optional[_dt.datetime] = None,
) -> dict:
    keys = _normalize_keys(unique_key)
    if not keys:
        raise ValueError("snapshot requires unique_key")
    now = now or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    # heal a previously interrupted staged swap BEFORE the existence
    # check — otherwise a crash mid-swap reroutes to first-run CTAS
    # and the accumulated SCD2 history is silently lost
    recover_staged_swap(spark, target)

    staged = _with_meta(source, keys, strategy, updated_at, check_cols, now)

    # One row per unique_key, keeping the latest dbt_valid_from (scd_id
    # as deterministic tiebreak): a batch with duplicate keys would
    # otherwise fan out the join against `current` — duplicated
    # carried/closed rows and multiple open versions per key, silently
    # corrupting SCD2 history (dbt's snapshot contract is 1 row/key).
    dedup_w = Window.partitionBy(*keys).orderBy(
        F.col("dbt_valid_from").desc(), F.col("dbt_scd_id").desc()
    )
    staged = (
        staged.withColumn("__rn", F.row_number().over(dedup_w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    if not spark.catalog.tableExists(target):
        # snapshot.sql:89-111 — first run CTAS
        return {"run": "first", "rows": write_table(spark, staged, target)}

    tgt = spark.table(target)
    history = tgt.filter(F.col("dbt_valid_to").isNotNull())
    current = tgt.filter(F.col("dbt_valid_to").isNull())

    s = staged.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        F.col("dbt_scd_id").alias("__s_scd_id"),
        F.col("dbt_valid_from").alias("__s_valid_from"),
    )
    cond = [F.col(k) == F.col(f"__k_{k}") for k in keys]
    joined = current.join(s, on=cond, how="left")

    # carried: staging matches with same scd_id, or no staging row
    carried = joined.filter(
        F.col("__s_scd_id").isNull() | (F.col("__s_scd_id") == F.col("dbt_scd_id"))
    )
    if invalidate_hard_deletes:
        # snapshot.sql:193-207: close rows whose key vanished from source
        vanished = joined.filter(F.col("__s_scd_id").isNull())
        carried = joined.filter(F.col("__s_scd_id") == F.col("dbt_scd_id"))
        closed_deleted = vanished.withColumn("dbt_valid_to", F.lit(now).cast("timestamp"))
    else:
        closed_deleted = None

    # closed: scd_id differs ⇒ set valid_to = staging's valid_from
    # (snapshot.sql:163-172)
    closed = joined.filter(
        F.col("__s_scd_id").isNotNull() & (F.col("__s_scd_id") != F.col("dbt_scd_id"))
    ).withColumn("dbt_valid_to", F.col("__s_valid_from"))

    drop_aux = [c for c in joined.columns if c.startswith("__")]
    carried = carried.drop(*drop_aux)
    closed = closed.drop(*drop_aux)

    # new: staging rows with no current match OR changed scd_id
    # (snapshot.sql:175-190)
    cur_keys = current.select(
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        F.col("dbt_scd_id").alias("__c_scd_id"),
    )
    jn = staged.join(cur_keys, on=cond, how="left")
    new_rows = jn.filter(
        F.col("__c_scd_id").isNull() | (F.col("__c_scd_id") != F.col("dbt_scd_id"))
    ).drop(*[c for c in jn.columns if c.startswith("__")])

    parts = [history, carried, closed, new_rows]
    if closed_deleted is not None:
        parts.append(closed_deleted.drop(*drop_aux))
    result = parts[0]
    for p in parts[1:]:
        result = result.unionByName(p)

    return {"run": "update", "rows": _staged_overwrite(spark, result, target)}
