"""CREATE OR REPLACE TABLE statement execution on plain parquet.

Snowflake's most common DDL spelling — ``CREATE OR REPLACE TABLE t AS
SELECT …`` (ref table.sql:72-76 renders exactly this) — has no direct
Spark equivalent on the v1 parquet catalog: Spark's ``REPLACE TABLE``
needs a DSv2 catalog and errors with UNSUPPORTED_FEATURE. Like COPY
INTO / MERGE / DELETE (`merge_stmt.py`), the engine parses the
statement and lowers it onto the staged overwrite the incremental
rewrites use (``incremental._staged_overwrite``: write a staging
table, then rename-swap), so a crash mid-write never leaves a
half-replaced table and the SELECT may read the table it replaces.
The table materialization (M1) does not stage: it writes its target
directly through ``ddl.write_table``.

``CLUSTER BY (cols)`` maps to range-repartition + in-partition sort on
the key order — Snowflake's clustering is LINEAR on the cluster-key
expression list (micro-partitions cover narrow key ranges), which is
exactly what a range layout gives parquet min/max pruning. Z-order
stays a maintenance op (`maintenance.cluster_by_zorder`) for the
multi-dimensional case.

The no-AS form (``CREATE OR REPLACE TABLE t (col type, …)``) lowers to
DROP IF EXISTS + CREATE (empty redefinition has no data to stage).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from ..transpiler.tokenizer import (
    COMMENT,
    QIDENT,
    STRING,
    WORD,
    WS,
    find_matching_paren,
    next_code,
    render,
    split_args,
    tokenize,
)


def _parse_column_defs(defs_sql: str) -> list[tuple[str, str, str]]:
    """``(col type, …)`` list → [(name, spark_type, tail), …] with
    Snowflake types (NUMBER, VARIANT, TEXT, …) mapped to Spark
    spellings via the transpiler's signature-type table."""
    from ..transpiler.transforms import _cf_map_type

    toks = tokenize(defs_sql)
    out = []
    # split on top-level commas
    depth = 0
    lo = 0
    segs = []
    for k, t in enumerate(toks):
        if t.is_op("("):
            depth += 1
        elif t.is_op(")"):
            depth -= 1
        elif depth == 0 and t.is_op(","):
            segs.append(toks[lo:k])
            lo = k + 1
    segs.append(toks[lo:])
    for seg in segs:
        code = [k for k in range(len(seg)) if seg[k].kind not in (WS, COMMENT)]
        if not code:
            continue
        cname = seg[code[0]].text
        ctype, after = _cf_map_type(seg, next_code(seg, code[0] + 1))
        tail = render(seg[after:]).strip()  # NOT NULL / DEFAULT / COMMENT
        out.append((cname, ctype, tail))
    return out


def _map_column_defs(defs_sql: str) -> str:
    return ", ".join(
        f"{name} {typ}" + (f" {tail}" if tail else "")
        for name, typ, tail in _parse_column_defs(defs_sql)
    )


@dataclass
class CreateTableSpec:
    target: str
    select_sql: Optional[str] = None      # AS <select> form
    column_defs: Optional[str] = None     # (col type, …) form
    cluster_by: list[str] = field(default_factory=list)
    like_source: Optional[str] = None     # LIKE <table> form
    comment: Optional[str] = None         # COMMENT = '…' (raw literal)


def parse_create_or_replace_table(sql: str):
    """Return a CreateTableSpec for ``CREATE OR REPLACE [TRANSIENT]
    TABLE name [(col defs)] [CLUSTER BY (cols)] [AS select]``, or None
    when the statement is anything else (plain CREATE TABLE runs
    natively and takes the normal path)."""
    toks = tokenize(sql)
    i = next_code(toks, 0)
    if i >= len(toks) or not toks[i].is_word("CREATE"):
        return None
    i = next_code(toks, i + 1)
    if i >= len(toks) or not toks[i].is_word("OR"):
        return None
    i = next_code(toks, i + 1)
    if i >= len(toks) or not toks[i].is_word("REPLACE"):
        return None
    i = next_code(toks, i + 1)
    while i < len(toks) and toks[i].is_word("TRANSIENT", "TEMPORARY", "TEMP"):
        if toks[i].is_word("TEMPORARY", "TEMP"):
            return None  # temp tables take the temp-view rewrite (T-series)
        i = next_code(toks, i + 1)
    if i >= len(toks) or not toks[i].is_word("TABLE"):
        return None
    i = next_code(toks, i + 1)
    parts = []
    while i < len(toks) and toks[i].kind in (WORD, QIDENT):
        parts.append(toks[i].text.strip('"'))
        j = next_code(toks, i + 1)
        if j < len(toks) and toks[j].is_op("."):
            i = next_code(toks, j + 1)
        else:
            i = j
            break
    if not parts:
        return None
    spec = CreateTableSpec(target=".".join(parts))

    def _consume_props(i: int) -> int:
        # Snowflake property tail: COMMENT = '…' (kept, applied as a
        # table property post-create) and retention/tracking metadata
        # props (dropped — no local meaning). r12 probe: COMMENT =
        # previously fell through to Spark\'s unsupported REPLACE TABLE.
        _DROP = {
            "DATA_RETENTION_TIME_IN_DAYS",
            "MAX_DATA_EXTENSION_TIME_IN_DAYS", "CHANGE_TRACKING",
            "DEFAULT_DDL_COLLATION", "ENABLE_SCHEMA_EVOLUTION",
        }
        while i < len(toks) and toks[i].kind == WORD:
            u = toks[i].upper
            eq = next_code(toks, i + 1)
            if eq >= len(toks) or not toks[eq].is_op("="):
                break
            val = next_code(toks, eq + 1)
            if val >= len(toks):
                break
            if u == "COMMENT" and toks[val].kind == STRING:
                spec.comment = toks[val].text
                i = next_code(toks, val + 1)
                continue
            if u in _DROP:
                i = next_code(toks, val + 1)
                continue
            break
        return i

    i = _consume_props(i)
    if i < len(toks) and toks[i].is_op("("):
        close = find_matching_paren(toks, i)
        spec.column_defs = render(toks[i + 1:close]).strip()
        i = next_code(toks, close + 1)
    i = _consume_props(i)
    if i < len(toks) and toks[i].is_word("CLUSTER"):
        i = next_code(toks, i + 1)
        if i >= len(toks) or not toks[i].is_word("BY"):
            return None
        i = next_code(toks, i + 1)
        if i >= len(toks) or not toks[i].is_op("("):
            return None
        close = find_matching_paren(toks, i)
        for lo, hi in split_args(toks, i + 1, close):
            col = render(toks[lo:hi]).strip()
            if col:
                spec.cluster_by.append(col)
        i = next_code(toks, close + 1)
    i = _consume_props(i)
    if i < len(toks) and toks[i].is_word("AS"):
        i = next_code(toks, i + 1)
        spec.select_sql = render(toks[i:]).strip().rstrip(";")
        if not spec.select_sql:
            return None
        return spec
    if i < len(toks) and toks[i].is_word("LIKE"):
        # CREATE OR REPLACE TABLE t LIKE s — Spark's CREATE TABLE LIKE
        # has no OR REPLACE form; drop-then-create below
        i = next_code(toks, i + 1)
        parts2 = []
        while i < len(toks) and toks[i].kind in (WORD, QIDENT):
            parts2.append(toks[i].text.strip('"'))
            j = next_code(toks, i + 1)
            if j < len(toks) and toks[j].is_op("."):
                i = next_code(toks, j + 1)
            else:
                i = j
                break
        nxt = next_code(toks, i)
        if not parts2 or (nxt < len(toks) and not toks[nxt].is_op(";")):
            return None
        spec.like_source = ".".join(parts2)
        return spec
    if spec.column_defs is not None and i >= len(toks):
        return spec  # pure redefinition
    return None  # unrecognized tail — let Spark produce its own error


def parse_swap_with(sql: str):
    """``ALTER TABLE a SWAP WITH b`` → (a, b) or None."""
    toks = tokenize(sql)
    i = next_code(toks, 0)
    words = []
    idx = i
    while idx < len(toks) and len(words) < 2:
        if toks[idx].kind == WORD:
            words.append(toks[idx].upper)
        idx = next_code(toks, idx + 1)
    if words != ["ALTER", "TABLE"]:
        return None

    def read_name(j):
        parts = []
        while j < len(toks) and toks[j].kind in (WORD, QIDENT):
            parts.append(toks[j].text.strip('"'))
            k = next_code(toks, j + 1)
            if k < len(toks) and toks[k].is_op("."):
                j = next_code(toks, k + 1)
            else:
                return ".".join(parts), k
        return None, j

    a, i2 = read_name(idx)
    if not a or i2 >= len(toks) or not toks[i2].is_word("SWAP"):
        return None
    i2 = next_code(toks, i2 + 1)
    if i2 >= len(toks) or not toks[i2].is_word("WITH"):
        return None
    b, i3 = read_name(next_code(toks, i2 + 1))
    if not b or next_code(toks, i3) < len(toks):
        return None
    return a, b


def run_swap_with(spark, a: str, b: str) -> dict:
    """Snowflake ALTER TABLE … SWAP WITH: exchange the two tables'
    names+contents via a three-rename cycle (Spark has no atomic
    exchange; the window between renames is the documented deviation —
    Snowflake's swap is transactional). Cross-database swaps refuse:
    Spark's RENAME cannot move a managed table between databases."""
    import uuid as _uuid

    def db_of(n):
        return n.rsplit(".", 1)[0] if "." in n else None

    if db_of(a) != db_of(b):
        raise ValueError(
            "ALTER TABLE ... SWAP WITH: both tables must live in the "
            "same schema on Spark (RENAME cannot move a managed table "
            "across databases) — copy with CREATE OR REPLACE TABLE ... "
            "AS SELECT instead"
        )
    tmp = f"{a}__icebreaker_swap_{_uuid.uuid4().hex[:8]}"
    spark.sql(f"ALTER TABLE {a} RENAME TO {tmp}")
    try:
        spark.sql(f"ALTER TABLE {b} RENAME TO {a}")
    except Exception:
        spark.sql(f"ALTER TABLE {tmp} RENAME TO {a}")  # roll back
        raise
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {b}")
    return {"table": f"{a} <-> {b}", "rows_affected": 0}


def _apply_table_comment(spark, spec) -> None:
    """COMMENT = '…' property → the created table's comment (Spark
    stores it as the 'comment' table property)."""
    if spec.comment:
        spark.sql(
            f"ALTER TABLE {spec.target} SET TBLPROPERTIES "
            f"('comment' = {spec.comment})"
        )


def run_create_or_replace_table(spark, spec, transpiler, execute_fn) -> dict:
    """Execute the spec. ``execute_fn`` is the engine's execute (the
    select re-enters it so FLATTEN retries / dialect handling apply)."""
    from .ddl import clear_orphaned_location

    if spec.select_sql is not None:
        from pyspark.sql import functions as F

        from .incremental import _staged_overwrite

        df = execute_fn(spec.select_sql)
        if spec.column_defs:
            # (col defs) AS SELECT — the dbt contract-enforcement
            # spelling: the declared list renames AND casts the
            # select's columns positionally (Snowflake binds by
            # position and errors on arity mismatch)
            defs = _parse_column_defs(spec.column_defs)
            if len(defs) != len(df.columns):
                raise ValueError(
                    f"CREATE OR REPLACE TABLE {spec.target}: {len(defs)} "
                    f"declared column(s) but the query produces "
                    f"{len(df.columns)}"
                )
            df = df.select(*(
                F.col(src).cast(typ).alias(name)
                for src, (name, typ, _tail) in zip(df.columns, defs)
            ))
        if spec.cluster_by:
            # linear clustering on the key order (Snowflake CLUSTER BY
            # contract): narrow per-file ranges on the leading keys →
            # parquet min/max pruning. Partition count follows the
            # session shuffle setting — at 100 TB that is the knob the
            # operator already sizes for the cluster.
            n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
            df = df.repartitionByRange(n, *spec.cluster_by) \
                   .sortWithinPartitions(*spec.cluster_by)
        # staged write + rename swap: survives a crash mid-write and
        # allows the Snowflake rebuild-in-place pattern (SELECT ... FROM
        # the table being replaced). It declares a new table, so the
        # old one's partitioning and bucketing do not carry over.
        # CLUSTER BY just established a range layout — the writer's
        # size-targeted coalesce must not merge those files back
        n = _staged_overwrite(spark, df, spec.target, replace=True,
                              size_coalesce=not spec.cluster_by)
        _apply_table_comment(spark, spec)
        return {"table": spec.target, "rows_affected": n}
    if spec.like_source is not None:
        # LIKE: empty copy of the source's schema (Snowflake copies
        # structure, not data). Capture the source schema BEFORE the
        # drop — a missing source fails cleanly with the target
        # intact, and self-LIKE (CREATE OR REPLACE TABLE t LIKE t —
        # Snowflake's empty-keeping-schema idiom) works
        ddl = spark.table(spec.like_source)._jdf.schema().toDDL()
        spark.sql(f"DROP TABLE IF EXISTS {spec.target}")
        clear_orphaned_location(spark, spec.target)
        spark.sql(f"CREATE TABLE {spec.target} ({ddl})")
        _apply_table_comment(spark, spec)
        return {"table": spec.target, "rows_affected": 0}
    # (col defs) redefinition: map the types, drop, recreate
    spark.sql(f"DROP TABLE IF EXISTS {spec.target}")
    clear_orphaned_location(spark, spec.target)
    spark.sql(
        f"CREATE TABLE {spec.target} ({_map_column_defs(spec.column_defs)})"
    )
    _apply_table_comment(spark, spec)
    return {"table": spec.target, "rows_affected": 0}
