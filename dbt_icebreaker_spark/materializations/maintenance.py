"""Table maintenance (scale extension — the reference delegates file
layout to its warehouses; on a self-managed lake the engine owns it).

Small-file compaction is the 100 TB maintenance op every
incremental/streaming table eventually needs: every micro-batch merge
and append writes at least one file per shuffle partition, and a
table accumulating thousands of KB-sized files pays per-file open
cost, footer reads, and scheduler overhead on every scan. Compaction
rewrites the table into ~target-sized files through the SAME
crash-safe staged swap the incremental engine uses (backup rename →
staging rename → drop), which keeps the table's partitioning and
bucketing as the catalog records them (ddl.table_layout).

Sizing note: the file count target derives from the MEASURED table
bytes (catalog location walk), not row counts — the same
payload-not-rows principle as multimodal.repartition_for_payloads.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import SparkSession

from .ddl import table_layout, table_location
from .incremental import _staged_overwrite


def _scan_files(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) under a table location — one
    shared walker (sources.iter_data_files) for all size accounting."""
    from ..sources import iter_data_files

    n = total = 0
    for _p, size in iter_data_files(path):
        n += 1
        total += size
    return n, total


def zorder_key(df, cols: Sequence[str], bits: int = 8):
    """Z-order (Morton) key column over 2+ numeric columns — the
    multi-dimensional clustering key behind Delta/Iceberg OPTIMIZE
    ZORDER. Each column is linearly scaled to ``bits`` bits via
    broadcast min/max (one tiny aggregate — no per-column global
    sort), then the bit planes are interleaved JVM-side (pure
    shift/or arithmetic, whole-stage codegen). Sorting/range-
    partitioning by the key co-locates rows that are close in EVERY
    dimension, so per-file min/max stats narrow on all of them at
    once and multi-column predicates skip files that a single-column
    sort could not.

    Returns (df_with_key, key_col_name). NULLs scale to 0 (first
    files), matching the null-first convention of range layout."""
    from pyspark.sql import functions as F

    max_v = (1 << bits) - 1
    agg = df.agg(
        *[f(c).cast("double").alias(f"__{n}_{c}")
          for c in cols for f, n in ((F.min, "mn"), (F.max, "mx"))]
    )
    out = df.crossJoin(F.broadcast(agg))
    scaled = []
    for c in cols:
        mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        span = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        scaled.append(
            F.coalesce(
                F.floor((F.col(c).cast("double") - mn) / span * max_v)
                .cast("bigint"),
                F.lit(0),
            )
        )
    k = len(cols)
    z = F.lit(0).cast("bigint")
    for bit in range(bits):
        for j, s in enumerate(scaled):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(s, bit).bitwiseAND(F.lit(1)),
                            bit * k + j)
            )
    out = out.withColumn("__zvalue", z).drop(
        *[f"__{n}_{c}" for c in cols for n in ("mn", "mx")]
    )
    return out, "__zvalue"


def cluster_by_zorder(df, cols: Sequence[str], num_files: int):
    """Range-partition by the z-order key into ``num_files`` output
    partitions (→ files on write). One range exchange total."""
    keyed, key = zorder_key(df, cols)
    return keyed.repartitionByRange(num_files, key).drop(key)


def compact_table(
    spark: SparkSession,
    target: str,
    target_file_mb: int = 128,
    min_files: int = 2,
) -> dict:
    """Rewrite ``target`` into ~``target_file_mb``-sized files.

    Skips (no-op stats) when the table already has fewer than
    ``min_files`` files or is already at/under the target count —
    compaction must be safe to run on a schedule without rewriting
    healthy tables. The rewrite keeps the layout the catalog records:
    a bucketed table keeps its bucket spec (the file count is then
    buckets-driven); a partitioned table compacts per partition via a
    partition-keyed repartition.
    """
    loc = table_location(spark, target)
    if loc is None or not os.path.exists(loc):
        raise ValueError(f"table {target} has no scannable location")
    files_before, total_bytes = _scan_files(loc)
    target_files = max(1, int(total_bytes // (target_file_mb * 1024 * 1024)) + 1)
    if files_before < min_files or files_before <= target_files:
        return {
            "action": "skipped",
            "files_before": files_before,
            "files_after": files_before,
            "bytes": total_bytes,
        }
    df = spark.table(target)
    parts, _, buckets, _ = table_layout(spark, target)
    if buckets:
        # bucket spec dictates layout; the staged write re-applies it
        compacted = df
    else:
        compacted = df.repartition(target_files, *parts)
    _staged_overwrite(
        spark, compacted, target,
        # compaction sized its own output above (target_file_mb) — the
        # writer's estimate-based coalesce must not second-guess it
        size_coalesce=False,
    )
    new_loc = table_location(spark, target) or loc
    files_after, _ = _scan_files(new_loc)
    return {
        "action": "compacted",
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total_bytes,
    }
