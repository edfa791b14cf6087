"""MERGE INTO statement execution on plain parquet tables.

Snowflake users write literal ``MERGE INTO`` DML; Spark's built-in
parquet tables have no row-level MERGE (only Delta/Iceberg catalogs
do), so — exactly like path-based COPY INTO (`copy_into.py`) — the
engine parses the statement and lowers it onto the incremental
machinery's crash-safe staged-swap rewrite
(ref incremental.sql:161-190 DELETE-matching + INSERT-all).

Supported shape:

    MERGE INTO <target> [AS] t
    USING (<subquery>) | <table> [AS] s
    ON t.k1 = s.k1 [AND t.k2 = s.k2 ...] [AND <non-equi conjunct> ...]
    WHEN MATCHED [AND <cond>] THEN UPDATE SET * | SET c = <expr>, ...
                                  | DELETE            (any number, in order)
    WHEN NOT MATCHED [AND <cond>] THEN INSERT * | (cols) VALUES (exprs)

Every shape (and UPDATE … FROM, which parses into a MergeSpec) runs
one lowering: the first-true-wins CASE-cascade rewrite of
_run_general_merge. Positional INSERT VALUES raises an actionable
TranspileError at parse time, and a target row matched by more than
one source row raises before the swap — matching the reference's
refusal style rather than producing wrong rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import SparkSession

from ..transpiler.core import TranspileError
from ..transpiler.tokenizer import (
    COMMENT,
    QIDENT,
    WORD,
    Token,
    find_matching_paren,
    next_code,
    render,
    tokenize,
)


@dataclass
class WhenClause:
    """One WHEN [NOT] MATCHED [AND <cond>] THEN <action> clause, in
    statement order. Clauses are evaluated first-true-wins per row
    (SQL:2003 / Snowflake semantics)."""

    matched: bool
    condition: Optional[str]  # Snowflake-dialect text; None = always
    action: str  # "update" | "delete" | "insert"
    sets: Optional[list[tuple[str, str]]] = None  # (col, expr); None = SET *
    insert_cols: Optional[list[str]] = None  # None = INSERT *
    insert_vals: Optional[list[str]] = None  # expr texts


@dataclass
class MergeSpec:
    target: str
    target_alias: str
    source_sql: Optional[str]  # subquery text (Snowflake dialect) …
    source_table: Optional[str]  # … or a plain table name
    source_alias: str
    # equality keys as (target_col, source_col) — differently-named
    # columns (ON t.id = s.source_id) are as much a key as same-named
    key_pairs: list[tuple[str, str]] = field(default_factory=list)
    extra_conditions: list[str] = field(default_factory=list)
    clauses: list[WhenClause] = field(default_factory=list)


def _word_positions(toks: list[Token]) -> list[tuple[int, str]]:
    return [(i, t.upper) for i, t in enumerate(toks) if t.kind == WORD]


def _read_qualified_name(toks: list[Token], i: int) -> tuple[str, int]:
    """Read a dotted identifier starting at code index i; returns
    (name, next_index_after)."""
    parts = [toks[i].text]
    j = next_code(toks, i + 1)
    while j < len(toks) and toks[j].is_op("."):
        k = next_code(toks, j + 1)
        if k >= len(toks) or toks[k].kind != WORD:
            break
        parts.append(toks[k].text)
        j = next_code(toks, k + 1)
    return ".".join(parts), j


def _rewrite_on_qualifiers(
    seg: list[Token],
    t_names: set,
    s_names: set,
    target_alias: str,
    source_alias: str,
) -> str:
    """Render an ON conjunct with table-name qualifiers (``db.tgt.col``
    or the bare table name when no alias was given) rewritten to the
    join aliases. The generated join FROM clause binds the temp views
    to the ALIASES only, so a verbatim multi-part reference would not
    resolve at execution even though it is valid Snowflake."""
    out: list[Token] = []
    k = 0
    while k < len(seg):
        t = seg[k]
        if t.kind in (WORD, QIDENT):
            parts = [t.text]
            ends = [k]
            q = next_code(seg, k + 1)
            while (
                q < len(seg)
                and seg[q].is_op(".")
                and next_code(seg, q + 1) < len(seg)
                and seg[next_code(seg, q + 1)].kind in (WORD, QIDENT)
            ):
                q2 = next_code(seg, q + 1)
                parts.append(seg[q2].text)
                ends.append(q2)
                q = next_code(seg, q2 + 1)
            if len(parts) >= 2:
                prefix = ".".join(p.strip('"') for p in parts[:-1]).lower()
                alias = (
                    target_alias if prefix in t_names
                    else source_alias if prefix in s_names
                    else None
                )
                if alias is not None:
                    out += tokenize(f"{alias}.{parts[-1]}")
                    k = ends[-1] + 1
                    continue
            # unrewritable chain: emit whole so its dots aren't
            # re-scanned as fresh chain starts mid-way
            out += seg[k:ends[-1] + 1]
            k = ends[-1] + 1
            continue
        out.append(t)
        k += 1
    return render(out).strip()


def parse_merge(sql: str) -> Optional[MergeSpec]:
    """MergeSpec for a MERGE INTO statement; None when the statement
    is not MERGE; TranspileError for unsupported MERGE shapes."""
    toks = tokenize(sql)
    words = _word_positions(toks)
    if len(words) < 2 or words[0][1] != "MERGE" or words[1][1] != "INTO":
        return None

    def fail(what: str) -> TranspileError:
        return TranspileError(
            f"MERGE INTO: {what}. Supported shape: MERGE INTO t USING "
            "src ON t.k = s.k [AND ...] WHEN MATCHED THEN UPDATE SET * "
            "| SET t.c = s.c,... | DELETE [WHEN NOT MATCHED THEN "
            "INSERT *]. For full MERGE semantics use an Iceberg/Delta "
            "catalog table (iceberg.attach_catalog)."
        )

    i = next_code(toks, toks.index(toks[words[1][0]]) + 1)
    if i >= len(toks) or toks[i].kind != WORD:
        raise fail("missing target table name")
    target, i = _read_qualified_name(toks, i)

    # optional [AS] alias
    target_alias = target.split(".")[-1]
    if i < len(toks) and toks[i].kind == WORD and toks[i].upper == "AS":
        i = next_code(toks, i + 1)
    if i < len(toks) and toks[i].kind == WORD and toks[i].upper != "USING":
        target_alias = toks[i].text
        i = next_code(toks, i + 1)

    if i >= len(toks) or toks[i].upper != "USING":
        raise fail("missing USING clause")
    i = next_code(toks, i + 1)

    source_sql = source_table = None
    if i < len(toks) and toks[i].is_op("("):
        close = find_matching_paren(toks, i)
        source_sql = render(toks[i + 1 : close]).strip()
        i = next_code(toks, close + 1)
    elif i < len(toks) and toks[i].kind == WORD:
        source_table, i = _read_qualified_name(toks, i)
    else:
        raise fail("USING must name a table or (subquery)")

    source_alias = (source_table or "src").split(".")[-1]
    if i < len(toks) and toks[i].kind == WORD and toks[i].upper == "AS":
        i = next_code(toks, i + 1)
    if i < len(toks) and toks[i].kind == WORD and toks[i].upper != "ON":
        source_alias = toks[i].text
        i = next_code(toks, i + 1)

    if i >= len(toks) or toks[i].upper != "ON":
        raise fail("missing ON clause")
    i = next_code(toks, i + 1)

    # ON: top-level AND conjuncts until WHEN. Column equalities
    # `t.k = s.sk` (one side per table) become the join KEYS; any
    # other conjunct (non-equi comparison, expression equality,
    # functions) is carried verbatim as an extra condition — the
    # rewrite folds it into the join.
    on_lo = i
    depth0 = 0
    case0 = 0
    on_hi = i
    while on_hi < len(toks):
        tk = toks[on_hi]
        if tk.is_op("("):
            depth0 += 1
        elif tk.is_op(")"):
            depth0 -= 1
        elif depth0 == 0 and tk.kind == WORD:
            # a CASE expression inside an ON conjunct carries its own
            # WHEN at paren depth 0 — only a WHEN outside CASE…END
            # terminates the ON clause
            if tk.upper == "CASE":
                case0 += 1
            elif tk.upper == "END" and case0 > 0:
                case0 -= 1
            elif tk.upper == "WHEN" and case0 == 0:
                break
        on_hi += 1
    conjuncts: list[list[Token]] = []
    seg_lo = on_lo
    depth0 = 0
    case0 = 0
    between0 = 0
    for k2 in range(on_lo, on_hi):
        tk = toks[k2]
        if tk.is_op("("):
            depth0 += 1
        elif tk.is_op(")"):
            depth0 -= 1
        elif depth0 == 0 and tk.kind == WORD:
            # the AND of `x BETWEEN lo AND hi` and any AND inside a
            # CASE…END condition are part of ONE conjunct, not splits
            if tk.upper == "CASE":
                case0 += 1
            elif tk.upper == "END" and case0 > 0:
                case0 -= 1
            elif tk.upper == "BETWEEN" and case0 == 0:
                between0 += 1
            elif tk.upper == "AND" and case0 == 0:
                if between0 > 0:
                    between0 -= 1
                else:
                    conjuncts.append(toks[seg_lo:k2])
                    seg_lo = k2 + 1
    conjuncts.append(toks[seg_lo:on_hi])
    i = on_hi

    key_pairs: list[tuple[str, str]] = []
    extra_conditions: list[str] = []
    t_names = {target_alias.lower(), target.lower()}
    s_names = {source_alias.lower()}
    if source_table:
        s_names.add(source_table.lower())
    for seg in conjuncts:
        code = [c for c in seg if c.kind not in ("ws", "comment")]
        # strictly  qual.col = qual.col  with one side per table → a
        # join key
        def colref(codes, p):
            parts = [codes[p].text]
            q = p + 1
            while q + 1 < len(codes) and codes[q].is_op("."):
                parts.append(codes[q + 1].text)
                q += 2
            return ".".join(parts[:-1]), parts[-1], q

        is_key = False
        if code and code[0].kind == WORD:
            la, lc, q = colref(code, 0)
            if la and q < len(code) and code[q].is_op("=") and q + 1 < len(code) and code[q + 1].kind == WORD:
                ra, rc, q2 = colref(code, q + 1)
                if ra and q2 == len(code):
                    tcol = lc if la.lower() in t_names else rc if ra.lower() in t_names else None
                    scol = lc if la.lower() in s_names else rc if ra.lower() in s_names else None
                    if tcol is not None and scol is not None:
                        # any target-col = source-col equality is a
                        # join key (ON t.id = s.source_id included)
                        key_pairs.append((tcol, scol))
                        is_key = True
        if not is_key:
            txt = _rewrite_on_qualifiers(
                seg, t_names, s_names, target_alias, source_alias
            )
            if not txt:
                raise fail("empty conjunct in ON clause")
            extra_conditions.append(txt)
    if not key_pairs and not extra_conditions:
        raise fail("ON clause produced no join condition")
    # pure non-equi ON (no equality key — e.g. BETWEEN band updates)
    # is allowed through to the general rewrite, which broadcasts a
    # BOUNDED source and refuses actionably on an unbounded one (r9
    # verdict #5; there is no shuffle key to distribute on otherwise)

    def scan_until_words(j: int, stops: tuple) -> int:
        """Advance j to the first top-level stop word — top-level
        meaning paren depth 0 AND outside any CASE ... END block
        (CASE carries its own WHEN/THEN/ELSE at paren depth 0, which
        must not terminate a SET expression or a WHEN condition)."""
        depth = 0
        case_depth = 0
        while j < len(toks):
            tk = toks[j]
            if tk.is_op("("):
                depth += 1
            elif tk.is_op(")"):
                depth -= 1
            elif depth == 0 and tk.kind == WORD:
                if tk.upper == "CASE":
                    case_depth += 1
                elif tk.upper == "END" and case_depth > 0:
                    case_depth -= 1
                elif case_depth == 0 and tk.upper in stops:
                    break
            j += 1
        return j

    def parse_set_items(j: int) -> tuple[list[tuple[str, str]], int]:
        """SET col = expr[, ...] until top-level WHEN/end; returns
        (items, next index). Expressions are arbitrary Snowflake text
        (commas inside parens tracked)."""
        items: list[tuple[str, str]] = []
        end = scan_until_words(j, ("WHEN",))
        start = j
        depth = 0
        segs: list[tuple[int, int]] = []
        while j < end:
            tk = toks[j]
            if tk.is_op("("):
                depth += 1
            elif tk.is_op(")"):
                depth -= 1
            elif depth == 0 and tk.is_op(","):
                segs.append((start, j))
                start = j + 1
            j += 1
        segs.append((start, end))
        for lo, hi in segs:
            k = next_code(toks, lo)
            if k >= hi or toks[k].kind not in (WORD, QIDENT):
                raise fail("SET items must be [t.]col = <expr>")
            parts = [toks[k].text.strip('"')]
            k = next_code(toks, k + 1)
            while k < hi and toks[k].is_op("."):
                m = next_code(toks, k + 1)
                if m >= hi:
                    raise fail("dangling '.' in SET item")
                parts.append(toks[m].text.strip('"'))
                k = next_code(toks, m + 1)
            if k >= hi or not toks[k].is_op("="):
                raise fail("SET items must be [t.]col = <expr>")
            expr = render(toks[next_code(toks, k + 1):hi]).strip()
            if not expr:
                raise fail("SET item has an empty right-hand side")
            items.append((parts[-1], expr))
        return items, end

    clauses: list[WhenClause] = []
    # WHEN clauses, in order (first-true-wins at execution)
    while i < len(toks):
        if toks[i].kind != WORD or toks[i].upper != "WHEN":
            raise fail(f"unexpected token {toks[i].text!r} after ON/WHEN")
        j = next_code(toks, i + 1)
        negated = False
        if j < len(toks) and toks[j].upper == "NOT":
            negated = True
            j = next_code(toks, j + 1)
        if j >= len(toks) or toks[j].upper != "MATCHED":
            raise fail("expected MATCHED after WHEN [NOT]")
        j = next_code(toks, j + 1)
        condition: Optional[str] = None
        if j < len(toks) and toks[j].kind == WORD and toks[j].upper == "AND":
            cond_lo = next_code(toks, j + 1)
            j = scan_until_words(cond_lo, ("THEN",))
            condition = render(toks[cond_lo:j]).strip()
            if not condition:
                raise fail("empty condition after WHEN ... AND")
        if j >= len(toks) or toks[j].upper != "THEN":
            raise fail("expected THEN")
        j = next_code(toks, j + 1)
        if j >= len(toks) or toks[j].kind != WORD:
            raise fail("missing action after THEN")
        action = toks[j].upper
        if not negated:
            if action == "DELETE":
                clauses.append(
                    WhenClause(matched=True, condition=condition, action="delete")
                )
                i = next_code(toks, j + 1)
            elif action == "UPDATE":
                j = next_code(toks, j + 1)
                if j >= len(toks) or toks[j].upper != "SET":
                    raise fail("expected SET after UPDATE")
                j = next_code(toks, j + 1)
                if j < len(toks) and toks[j].is_op("*"):
                    clauses.append(
                        WhenClause(
                            matched=True, condition=condition,
                            action="update", sets=None,
                        )
                    )
                    i = next_code(toks, j + 1)
                else:
                    items, j = parse_set_items(j)
                    clauses.append(
                        WhenClause(
                            matched=True, condition=condition,
                            action="update", sets=items,
                        )
                    )
                    i = j
            else:
                raise fail(f"unsupported WHEN MATCHED action {action}")
        else:
            if action != "INSERT":
                raise fail(f"unsupported WHEN NOT MATCHED action {action}")
            j = next_code(toks, j + 1)
            if j < len(toks) and toks[j].is_op("*"):
                clauses.append(
                    WhenClause(matched=False, condition=condition, action="insert")
                )
                i = next_code(toks, j + 1)
            elif j < len(toks) and toks[j].is_op("("):
                close = find_matching_paren(toks, j)
                cols = [
                    t.text.strip('"')
                    for t in toks[j + 1:close]
                    if t.kind in (WORD, QIDENT)
                ]
                j = next_code(toks, close + 1)
                if j >= len(toks) or toks[j].upper != "VALUES":
                    raise fail("expected VALUES after INSERT (col list)")
                j = next_code(toks, j + 1)
                if j >= len(toks) or not toks[j].is_op("("):
                    raise fail("expected ( after VALUES")
                vclose = find_matching_paren(toks, j)
                vals: list[str] = []
                depth = 0
                lo = j + 1
                for k in range(j + 1, vclose):
                    tk = toks[k]
                    if tk.is_op("("):
                        depth += 1
                    elif tk.is_op(")"):
                        depth -= 1
                    elif depth == 0 and tk.is_op(","):
                        vals.append(render(toks[lo:k]).strip())
                        lo = k + 1
                vals.append(render(toks[lo:vclose]).strip())
                if len(cols) != len(vals):
                    raise fail(
                        f"INSERT column list has {len(cols)} columns but "
                        f"VALUES has {len(vals)} expressions"
                    )
                clauses.append(
                    WhenClause(
                        matched=False, condition=condition, action="insert",
                        insert_cols=cols, insert_vals=vals,
                    )
                )
                i = next_code(toks, vclose + 1)
            else:
                raise fail(
                    "INSERT must be INSERT * or INSERT (cols) VALUES "
                    "(exprs) — positional VALUES without a column list "
                    "cannot be mapped safely"
                )
    if not clauses:
        raise fail("no WHEN clause")
    # Full-table-name qualifiers (db.tgt.col) in conditions / SET
    # expressions / INSERT values would not resolve after the plan
    # re-aliases the temp views — normalize them to the join aliases
    # here, the same rewrite the ON extras got above.
    def _rw_text(txt):
        if not txt:
            return txt
        return _rewrite_on_qualifiers(
            tokenize(txt), t_names, s_names, target_alias, source_alias
        )

    for cl in clauses:
        cl.condition = _rw_text(cl.condition)
        if cl.sets is not None:
            cl.sets = [(c2, _rw_text(e)) for c2, e in cl.sets]
        if cl.insert_vals is not None:
            cl.insert_vals = [_rw_text(e) for e in cl.insert_vals]
    return MergeSpec(
        target=target,
        target_alias=target_alias,
        source_sql=source_sql,
        source_table=source_table,
        source_alias=source_alias,
        key_pairs=key_pairs,
        extra_conditions=extra_conditions,
        clauses=clauses,
    )


def run_merge_statement(
    spark: SparkSession, spec: MergeSpec, transpiler
) -> dict:
    """Execute a parsed MERGE (or UPDATE … FROM) on a parquet table.

    Every shape runs the one lowering, _run_general_merge: the
    first-true-wins CASE-cascade rewrite behind the crash-safe staged
    swap, or an append of the inserts when no WHEN MATCHED clause can
    change the target.

    Returns {"table", "rows_affected"} mirroring copy_into's stats.
    """
    if spec.source_sql is not None:
        src = spark.sql(transpiler.to_spark(spec.source_sql))
    else:
        src = spark.table(spec.source_table)

    # validate SOURCE-side names from the pairs (covers renamed keys —
    # ON t.id = s.src_id)
    src_lower = {c.lower() for c in src.columns}
    missing = [sk for _, sk in spec.key_pairs if sk.lower() not in src_lower]
    if missing:
        raise TranspileError(
            f"MERGE INTO: key column(s) {missing} absent from the "
            f"USING source (columns: {src.columns})"
        )
    return _run_general_merge(spark, spec, transpiler, src)


def _run_general_merge(spark: SparkSession, spec: MergeSpec, transpiler, src) -> dict:
    """Generalized MERGE: WHEN clauses with conditions, arbitrary SET
    expressions, column-list INSERT, multiple branches.

    Lowered as ONE declarative plan (ref incremental.sql:161-190
    generalized): target LEFT JOIN source on the keys; per target
    column a first-true-wins CASE cascade over the WHEN MATCHED
    clauses picks the update expression (or keeps the old value); a
    parallel cascade over delete clauses filters deleted rows; source
    rows anti-joined on the keys flow through the WHEN NOT MATCHED
    cascade into inserts. Everything is JVM-side CASE/joins — one
    shuffle for the join, one for the anti-join, broadcast-eligible
    under AQE — then the crash-safe staged swap. Without a WHEN
    MATCHED clause the target keeps every row, so the inserts append.

    Snowflake semantics preserved: clauses evaluate in statement
    order; NULL conditions are not-true; a target row matched by more
    than one source row raises (Snowflake's nondeterministic-merge
    error) — required here anyway, since the join would duplicate the
    row. Every output column is CAST back to the target's type,
    matching INSERT/UPDATE implicit coercion.

    Cost shape: the target-side join runs ONCE, and everything the
    statement reports rides the write via DataFrame.observe: the
    updated/deleted count, the inserted count, and the duplicate-match
    guard. A LEFT JOIN emits max(1, matches) rows per target row, so
    the joined frame has more rows than the target scan exactly when
    some target row matched twice under the full ON; that comparison
    runs after the staging write and before the swap, and a refusal
    drops the staging table with the target untouched."""
    import uuid

    tgt = spark.table(spec.target)
    ta = f"`{spec.target_alias.replace('`', '``')}`"
    sa = f"`{spec.source_alias.replace('`', '``')}`"
    m_clauses = [c for c in spec.clauses if c.matched]
    u_clauses = [c for c in spec.clauses if not c.matched]
    tcols = tgt.columns
    tcols_lower = {c.lower() for c in tcols}
    scols_lower = {c.lower() for c in src.columns}
    ttypes = {f.name: f.dataType.simpleString() for f in tgt.schema.fields}

    for cl in m_clauses:
        if cl.action == "update" and cl.sets is not None:
            bad = [c for c, _ in cl.sets if c.lower() not in tcols_lower]
            if bad:
                raise TranspileError(
                    f"MERGE INTO: SET column(s) {bad} not on {spec.target} "
                    f"(columns: {tcols})"
                )
        if cl.action == "update" and cl.sets is None:
            bad = [c for c in tcols if c.lower() not in scols_lower]
            if bad:
                raise TranspileError(
                    f"MERGE INTO: UPDATE SET * needs every target column "
                    f"in the source; missing {bad}"
                )
    for cl in u_clauses:
        if cl.insert_cols is not None:
            bad = [c for c in cl.insert_cols if c.lower() not in tcols_lower]
            if bad:
                raise TranspileError(
                    f"MERGE INTO: INSERT column(s) {bad} not on "
                    f"{spec.target} (columns: {tcols})"
                )
        else:
            bad = [c for c in tcols if c.lower() not in scols_lower]
            if bad:
                raise TranspileError(
                    f"MERGE INTO: INSERT * needs every target column in "
                    f"the source; missing {bad}"
                )

    if not spec.key_pairs:
        # pure non-equi MERGE (BETWEEN band updates): no shuffle key
        # exists, so the join must be a broadcast nested-loop — only
        # sane when the source is bounded. Refuse actionably on a big
        # source instead of melting the cluster with |T|x|S| work.
        import os

        from pyspark.sql import functions as F

        cap = int(os.environ.get(
            "SPARK_GRAFT_MERGE_NONEQUI_MAX_SOURCE_ROWS", "100000"))
        n_src = src.count()
        if n_src > cap:
            raise TranspileError(
                f"MERGE INTO: the ON clause has no equality conjunct "
                f"and the USING source has {n_src} rows (bound: "
                f"{cap}). A non-equi merge broadcasts the source "
                f"against every target row — add an equality key to "
                f"the ON clause (the distribution key), shrink the "
                f"source (e.g. pre-aggregate the bands), or raise "
                f"SPARK_GRAFT_MERGE_NONEQUI_MAX_SOURCE_ROWS if the "
                f"source genuinely fits in executor memory."
            )
        # the marker column is the matched-indicator (no key column's
        # IS NOT NULL can serve — every source column may be nullable)
        src = F.broadcast(src.withColumn("__icebreaker_mrk", F.lit(1)))

    uid = uuid.uuid4().hex[:8]
    tview, sview = f"__icebreaker_mrg_t_{uid}", f"__icebreaker_mrg_s_{uid}"
    jview = f"__icebreaker_mrg_j_{uid}"  # the observed target scan
    tgt.createOrReplaceTempView(tview)
    src.createOrReplaceTempView(sview)
    try:
        return _general_merge_plan(
            spark, spec, transpiler, tgt, tview, sview, jview, ta, sa,
            m_clauses, u_clauses, tcols, ttypes,
        )
    finally:
        for v in (tview, sview, jview):
            spark.catalog.dropTempView(v)


def _general_merge_plan(
    spark, spec, transpiler, tgt, tview, sview, jview, ta, sa,
    m_clauses, u_clauses, tcols, ttypes,
):
    from pyspark.sql import Observation, functions as F

    from .ddl import write_table
    from .incremental import _fans_out, _staged_overwrite

    if spec.key_pairs:
        on = " AND ".join(f"{ta}.{tk} = {sa}.{sk}" for tk, sk in spec.key_pairs)
        if spec.extra_conditions:
            # non-equi / expression conjuncts ride the join condition
            # — the equality keys remain the shuffle keys, the extras
            # are join filters (same shape as the ASOF interval join)
            on += "".join(f" AND ({c})" for c in spec.extra_conditions)
        # an equality's source column is non-NULL exactly on matches
        matched = f"{sa}.{spec.key_pairs[0][1]} IS NOT NULL"
    else:
        # pure non-equi: the ON is the range condition alone; the
        # broadcast marker column flags matched rows
        on = " AND ".join(f"({c})" for c in spec.extra_conditions)
        matched = f"{sa}.__icebreaker_mrk IS NOT NULL"

    if u_clauses:
        def ins_value(cl: WhenClause, col: str) -> str:
            if cl.insert_cols is None:  # INSERT *
                return f"{sa}.{col}"
            for c2, e in zip(cl.insert_cols, cl.insert_vals):
                if c2.lower() == col.lower():
                    return f"({e})"
            return "NULL"

        isel = []
        for col in tcols:
            branches = "".join(
                f" WHEN ({cl.condition or 'TRUE'}) THEN {ins_value(cl, col)}"
                for cl in u_clauses
            )
            isel.append(
                f"CAST(CASE{branches} ELSE NULL END AS {ttypes[col]}) AS {col}"
            )
        fire_u = "CASE" + "".join(
            f" WHEN ({cl.condition or 'TRUE'}) THEN TRUE" for cl in u_clauses
        ) + " ELSE FALSE END"
        ins_sql = (
            f"SELECT {', '.join(isel)} FROM {sview} {sa} "
            f"LEFT ANTI JOIN {tview} {ta} ON {on} WHERE {fire_u}"
        )
        inserts = spark.sql(transpiler.to_spark(ins_sql))
    if not m_clauses:
        # no WHEN MATCHED clause: every target row stays as it is, so
        # the inserts append and write_table's count is the answer
        return {
            "table": spec.target,
            "rows_affected": write_table(spark, inserts, spec.target, "append"),
        }

    def upd_value(cl: WhenClause, col: str) -> str:
        if cl.action == "delete":
            return f"{ta}.{col}"  # row is filtered; keep type stable
        if cl.sets is None:  # SET *
            return f"{sa}.{col}"
        for c2, e in cl.sets:
            if c2.lower() == col.lower():
                return f"({e})"
        return f"{ta}.{col}"

    sel = []
    for col in tcols:
        branches = "".join(
            f" WHEN ({cl.condition or 'TRUE'}) THEN {upd_value(cl, col)}"
            for cl in m_clauses
        )
        sel.append(
            f"CAST(CASE WHEN NOT ({matched}) THEN {ta}.{col}"
            f"{branches} ELSE {ta}.{col} END AS {ttypes[col]}) AS {col}"
        )
    del_cascade = "".join(
        f" WHEN ({cl.condition or 'TRUE'}) "
        f"THEN {'TRUE' if cl.action == 'delete' else 'FALSE'}"
        for cl in m_clauses
    )
    fire_m = "CASE" + "".join(
        f" WHEN ({cl.condition or 'TRUE'}) THEN TRUE" for cl in m_clauses
    ) + " ELSE FALSE END"
    # the target scan feeding the join counts its rows (n_t); the
    # joined frame counts its rows (n_j) and sums the fired flag, all
    # during the write action — no second join pass, no guard query.
    # The delete flag drives the survivor filter.
    tobs, obs = Observation(), Observation()
    tgt.observe(tobs, F.count(F.lit(1)).alias("n_t")).createOrReplaceTempView(jview)
    surv_sql = (
        f"SELECT {', '.join(sel)}, "
        f"(({matched}) AND CASE{del_cascade} ELSE FALSE END) "
        f"AS __icebreaker_del, "
        f"(({matched}) AND {fire_m}) AS __icebreaker_fired "
        f"FROM {jview} {ta} LEFT JOIN {sview} {sa} ON {on}"
    )
    new = (
        spark.sql(transpiler.to_spark(surv_sql))
        .observe(
            obs,
            F.sum(F.col("__icebreaker_fired").cast("long")).alias("n_fired"),
            F.count(F.lit(1)).alias("n_j"),
        )
        .filter(~F.col("__icebreaker_del"))
        .drop("__icebreaker_del", "__icebreaker_fired")
    )
    if u_clauses:
        iobs = Observation()
        new = new.unionByName(
            inserts.observe(iobs, F.count(F.lit(1)).alias("n_ins"))
        )

    def refuse_duplicates() -> None:
        # matches are counted per TARGET ROW under the FULL ON (extras
        # included): several source rows per key of which at most one
        # survives a non-equi conjunct — only-update-if-newer over
        # late duplicates — merge fine
        if _fans_out(tobs, obs):
            raise TranspileError(
                "MERGE INTO: nondeterministic merge — a target row's "
                "join key matches more than one source row. "
                "Deduplicate the USING source on the join keys (e.g. "
                "QUALIFY ROW_NUMBER() OVER (PARTITION BY keys "
                "ORDER BY ...) = 1)."
            )

    _staged_overwrite(spark, new, spec.target, check=refuse_duplicates)
    n_inserted = iobs.get["n_ins"] if u_clauses else 0
    return {
        "table": spec.target,
        "rows_affected": int(obs.get["n_fired"] or 0) + int(n_inserted or 0),
    }


# ---------------------------------------------------------------- DML
@dataclass
class DeleteSpec:
    target: str
    where_sql: Optional[str]  # Snowflake-dialect predicate text
    alias: str = "t"  # user alias, else the table's last name part


@dataclass
class UpdateSpec:
    target: str
    alias: str
    sets: list[tuple[str, str]]  # (column, Snowflake-dialect expr text)
    where_sql: Optional[str]


def parse_delete(sql: str) -> Optional[DeleteSpec]:
    """DELETE FROM <t> [alias] [WHERE cond]; the USING multi-table
    form refuses actionably (it is a MERGE-shaped delete)."""
    toks = tokenize(sql)
    words = _word_positions(toks)
    if len(words) < 2 or words[0][1] != "DELETE" or words[1][1] != "FROM":
        return None
    i = next_code(toks, words[1][0] + 1)
    if i >= len(toks) or toks[i].kind != WORD:
        raise TranspileError("DELETE FROM: missing table name")
    target, i = _read_qualified_name(toks, i)
    # alias defaults to the table's last name part so predicates
    # qualified by the table name ('WHERE tbl.a = 1') resolve, same as
    # parse_update; explicit [AS] alias (bare or "quoted") overrides
    alias, i = _read_optional_alias(toks, i, target, ("WHERE", "USING"))
    if i < len(toks) and toks[i].kind == WORD and toks[i].upper == "USING":
        raise TranspileError(
            "DELETE ... USING is a join-shaped delete: express it as "
            "MERGE INTO t USING src ON ... WHEN MATCHED THEN DELETE "
            "(supported), or pre-compute the key set and use WHERE ... IN."
        )
    where_sql = None
    if i < len(toks):
        if toks[i].kind == WORD and toks[i].upper == "WHERE":
            where_sql = render(toks[next_code(toks, i + 1):]).strip()
        else:
            # unconsumed tokens before WHERE must be a hard error —
            # silently ignoring them once turned `DELETE FROM t AS x
            # WHERE ...` into an unconditional full-table delete
            raise TranspileError(
                f"DELETE FROM: unexpected token {toks[i].text!r} "
                "(expected WHERE or end of statement)"
            )
    return DeleteSpec(target=target, where_sql=where_sql, alias=alias)


def _read_optional_alias(
    toks, i: int, target: str, stop_words: tuple
) -> tuple[str, int]:
    """[AS] alias after a DML target table: bare word or "quoted"
    identifier; returns (alias, next index). Defaults to the table's
    last name part. A dangling AS with no alias is a hard error."""
    alias = target.split(".")[-1]
    if i < len(toks) and toks[i].kind == WORD and toks[i].upper == "AS":
        j = next_code(toks, i + 1)
        if j >= len(toks) or toks[j].kind not in (WORD, QIDENT):
            raise TranspileError("expected alias after AS")
        # strip "quotes" — Spark parses double quotes as a string
        # literal, so splicing them into SELECT ... FROM v "x" breaks
        return toks[j].text.strip('"'), next_code(toks, j + 1)
    if i < len(toks) and (
        (toks[i].kind == WORD and toks[i].upper not in stop_words)
        or toks[i].kind == QIDENT
    ):
        return toks[i].text.strip('"'), next_code(toks, i + 1)
    return alias, i


def parse_update(sql: str) -> Optional["UpdateSpec | MergeSpec"]:
    """UPDATE <t> [alias] SET c = expr[, ...] [WHERE cond] →
    UpdateSpec; the multi-table ``UPDATE … FROM src WHERE join-cond``
    form returns a MergeSpec (it is lowered onto the general MERGE
    rewrite — callers must branch on the type)."""
    toks = tokenize(sql)
    words = _word_positions(toks)
    if not words or words[0][1] != "UPDATE":
        return None
    i = next_code(toks, words[0][0] + 1)
    if i >= len(toks) or toks[i].kind != WORD:
        raise TranspileError("UPDATE: missing table name")
    target, i = _read_qualified_name(toks, i)
    alias, i = _read_optional_alias(toks, i, target, ("SET",))
    if i >= len(toks) or toks[i].kind != WORD or toks[i].upper != "SET":
        raise TranspileError("UPDATE: missing SET clause")
    i = next_code(toks, i + 1)
    # SET items until top-level FROM/WHERE/end
    sets: list[tuple[str, str]] = []
    start = i
    depth = 0
    where_sql = None

    def flush(lo: int, hi: int) -> None:
        seg = toks[lo:hi]
        # col [.col] = expr
        j = 0
        code = [k for k, tk in enumerate(seg) if tk.kind not in ("ws", "comment")]
        if not code:
            return
        j = code[0]
        parts = [seg[j].text]
        k = next_code(seg, j + 1)
        while k < len(seg) and seg[k].is_op("."):
            m = next_code(seg, k + 1)
            parts.append(seg[m].text)
            k = next_code(seg, m + 1)
        if k >= len(seg) or not seg[k].is_op("="):
            raise TranspileError("UPDATE SET items must be col = expr")
        sets.append((parts[-1], render(seg[k + 1:]).strip()))

    j = i
    while j < len(toks):
        tk = toks[j]
        if tk.is_op("("):
            depth += 1
        elif tk.is_op(")"):
            depth -= 1
        elif depth == 0 and tk.is_op(","):
            flush(start, j)
            start = j + 1
        elif depth == 0 and tk.kind == WORD and tk.upper in ("WHERE", "FROM"):
            break
        j += 1
    flush(start, j)
    if j < len(toks) and toks[j].kind == WORD and toks[j].upper == "FROM":
        # UPDATE t SET ... FROM src WHERE cond ≡ MERGE INTO t USING
        # src ON cond WHEN MATCHED THEN UPDATE SET ... — synthesize
        # the MERGE and reuse its key extraction, duplicate-match
        # guard (stricter than Snowflake's default arbitrary pick;
        # same as ERROR_ON_NONDETERMINISTIC_MERGE) and staged rewrite.
        if not sets:
            raise TranspileError("UPDATE: empty SET clause")
        k2 = next_code(toks, j + 1)
        depth2 = 0
        m = k2
        multi_src = False
        while m < len(toks):
            tk2 = toks[m]
            if tk2.is_op("("):
                depth2 += 1
            elif tk2.is_op(")"):
                depth2 -= 1
            elif depth2 == 0 and tk2.is_op(","):
                multi_src = True
            elif depth2 == 0 and tk2.kind == WORD and tk2.upper == "WHERE":
                break
            m += 1
        if multi_src:
            raise TranspileError(
                "UPDATE ... FROM with multiple sources is not "
                "supported — pre-join them into one USING subquery "
                "(UPDATE t SET ... FROM (SELECT ... FROM a JOIN b ON "
                "...) s WHERE ...)"
            )
        src_text = render(toks[k2:m]).strip()
        if m >= len(toks):
            raise TranspileError(
                "UPDATE ... FROM needs a WHERE join condition (a "
                "cross-table update without one has no join keys)"
            )
        # strip comments from the tail — a trailing line comment would
        # otherwise swallow the synthesized WHEN clause
        cond = render([
            t for t in toks[next_code(toks, m + 1):]
            if t.kind != COMMENT
        ]).strip().rstrip(";")
        set_text = ", ".join(f"{c} = {e}" for c, e in sets)
        merge_sql = (
            f"MERGE INTO {target} {alias} USING {src_text} "
            f"\nON {cond} \nWHEN MATCHED THEN UPDATE SET {set_text}"
        )
        spec = parse_merge(merge_sql)
        if spec is None:  # pragma: no cover — head is always MERGE
            raise TranspileError("UPDATE ... FROM: internal merge parse")
        return spec
    if j < len(toks) and toks[j].kind == WORD and toks[j].upper == "WHERE":
        where_sql = render(toks[next_code(toks, j + 1):]).strip()
    if not sets:
        raise TranspileError("UPDATE: empty SET clause")
    return UpdateSpec(target=target, alias=alias, sets=sets, where_sql=where_sql)


def _flagged_rewrite(
    spark: SparkSession, transpiler, target: str, alias: str,
    sel: list[str], cond: Optional[str], delete: bool,
) -> dict:
    """Staged rewrite of ``target`` as ``SELECT sel FROM target alias``
    whose rows_affected is the number of rows where ``cond`` (None =
    every row) is TRUE; ``delete`` drops those rows instead of keeping
    them. The count is a flag column summed by an observation on the
    staged write — no counting job of its own. The observation sits
    between the flag's projection and the DELETE filter, so a constant
    predicate (DELETE with no WHERE) cannot fold that filter to false,
    which would prune the observation along with the scan."""
    import uuid

    from pyspark.sql import Observation, functions as F

    from .incremental import _staged_overwrite

    view = f"__icebreaker_dml_{uuid.uuid4().hex[:8]}"
    spark.table(target).createOrReplaceTempView(view)
    try:
        flagged = spark.sql(transpiler.to_spark(
            f"SELECT {', '.join(sel)}, COALESCE(({cond or 'TRUE'}), FALSE) "
            f"AS __icebreaker_hit FROM {view} `{alias.replace('`', '``')}`"
        ))
        obs = Observation()
        hit = F.col("__icebreaker_hit")
        new = flagged.observe(obs, F.sum(hit.cast("long")).alias("n"))
        if delete:
            new = new.filter(~hit)
        _staged_overwrite(spark, new.drop("__icebreaker_hit"), target)
    finally:
        spark.catalog.dropTempView(view)
    return {"table": target, "rows_affected": int(obs.get["n"] or 0)}


def run_delete_statement(spark: SparkSession, spec: DeleteSpec, transpiler) -> dict:
    """DELETE on a parquet table = staged overwrite keeping the rows
    where the predicate is NOT TRUE (false or NULL — SQL DELETE only
    removes TRUE matches)."""
    return _flagged_rewrite(
        spark, transpiler, spec.target, spec.alias, ["*"], spec.where_sql,
        delete=True,
    )


def run_update_statement(spark: SparkSession, spec: UpdateSpec, transpiler) -> dict:
    """UPDATE on a parquet table = staged overwrite with per-column
    CASE WHEN <cond> THEN <expr> ELSE <col> END — every RHS evaluates
    against PRE-update values, matching SQL UPDATE semantics."""
    cols = spark.table(spec.target).columns
    cols_lower = {c.lower() for c in cols}
    missing = [c for c, _ in spec.sets if c.lower() not in cols_lower]
    if missing:
        raise TranspileError(f"UPDATE: unknown column(s) {missing} on {spec.target}")
    cond = spec.where_sql if spec.where_sql is not None else "TRUE"
    set_map = {c.lower(): e for c, e in spec.sets}
    sel = [
        f"CASE WHEN COALESCE(({cond}), FALSE) THEN ({set_map[col.lower()]}) "
        f"ELSE {col} END AS {col}"
        if col.lower() in set_map else col
        for col in cols
    ]
    return _flagged_rewrite(
        spark, transpiler, spec.target, spec.alias, sel, spec.where_sql,
        delete=False,
    )


@dataclass
class AlterColumnsSpec:
    target: str
    renames: list[tuple[str, str]]  # (old, new)
    drops: list[str]
    if_exists: bool = False  # DROP COLUMN IF EXISTS: missing cols are no-ops


def parse_alter_columns(sql: str) -> Optional[AlterColumnsSpec]:
    """ALTER TABLE t RENAME COLUMN a TO b / DROP COLUMN [IF EXISTS] c
    — the two column DDLs Spark's V1 parquet tables refuse natively
    (ADD COLUMN works and falls through). Returns None for any other
    ALTER form so it executes natively."""
    toks = tokenize(sql)
    words = _word_positions(toks)
    heads = [w for _, w in words[:8]]
    if len(heads) < 4 or heads[0] != "ALTER" or heads[1] != "TABLE":
        return None
    i = next_code(toks, words[1][0] + 1)
    target, i = _read_qualified_name(toks, i)
    if i >= len(toks) or toks[i].kind != WORD:
        return None
    verb = toks[i].upper
    if verb == "RENAME":
        j = next_code(toks, i + 1)
        if j >= len(toks) or toks[j].upper != "COLUMN":
            return None  # RENAME TO <table> → native
        j = next_code(toks, j + 1)
        old = toks[j].text
        j = next_code(toks, j + 1)
        if j >= len(toks) or toks[j].upper != "TO":
            raise TranspileError("ALTER ... RENAME COLUMN: expected TO")
        j = next_code(toks, j + 1)
        return AlterColumnsSpec(target=target, renames=[(old, toks[j].text)], drops=[])
    if verb == "DROP":
        j = next_code(toks, i + 1)
        if j >= len(toks) or toks[j].upper not in ("COLUMN", "COLUMNS"):
            return None  # DROP PARTITION etc → native
        j = next_code(toks, j + 1)
        if_exists = False
        if j < len(toks) and toks[j].upper == "IF":
            k = next_code(toks, j + 1)
            if k < len(toks) and toks[k].kind == WORD and toks[k].upper == "EXISTS":
                if_exists = True
                j = next_code(toks, k + 1)
            elif k < len(toks) and not toks[k].is_op(",") and toks[k].kind == WORD:
                # IF followed by a non-EXISTS word is a malformed
                # IF EXISTS clause, not a column list
                raise TranspileError("ALTER ... DROP COLUMN IF: expected EXISTS")
            # else: a column literally named `if` (lone, or `if, x`) —
            # falls through to the drops loop
        drops = []
        while j < len(toks) and toks[j].kind == WORD:
            drops.append(toks[j].text)
            j = next_code(toks, j + 1)
            if j < len(toks) and toks[j].is_op(","):
                j = next_code(toks, j + 1)
            else:
                break
        if not drops:
            raise TranspileError("ALTER ... DROP COLUMN: no columns named")
        return AlterColumnsSpec(
            target=target, renames=[], drops=drops, if_exists=if_exists
        )
    return None


def run_alter_columns(spark: SparkSession, spec: AlterColumnsSpec) -> dict:
    """Column rename/drop on a parquet table = staged overwrite with
    the reshaped projection (Spark V1 parquet has no in-place column
    DDL; the swap preserves crash safety like every other rewrite, and
    keeps the table's layout). A partition or bucket column refuses
    before any write."""
    from .ddl import table_layout
    from .incremental import _staged_overwrite

    tgt = spark.table(spec.target)
    cols_lower = {c.lower() for c in tgt.columns}
    for old, _new in spec.renames:
        if old.lower() not in cols_lower:
            raise TranspileError(
                f"ALTER {spec.target}: column {old!r} does not exist "
                f"(columns: {tgt.columns})"
            )
    drops = list(spec.drops)
    if spec.if_exists:
        drops = [c for c in drops if c.lower() in cols_lower]
    else:
        for c in drops:
            if c.lower() not in cols_lower:
                raise TranspileError(
                    f"ALTER {spec.target}: column {c!r} does not exist "
                    f"(columns: {tgt.columns})"
                )
    if not spec.renames and not drops:
        return {"table": spec.target, "rows_affected": 0}  # IF EXISTS no-op
    parts, bucket_cols, _, sort_cols = table_layout(spark, spec.target)
    layout_cols = {c.lower() for c in parts + bucket_cols + sort_cols}
    hit = [c for c in [o for o, _ in spec.renames] + drops
           if c.lower() in layout_cols]
    if hit:
        raise TranspileError(
            f"ALTER {spec.target}: column {hit[0]!r} is a partition or "
            "bucket column; renaming or dropping it would change the "
            "table's layout. Rebuild the table instead (CREATE OR "
            "REPLACE TABLE ... AS SELECT, or a full_refresh run of its "
            "model)."
        )
    new = tgt
    for old, newname in spec.renames:
        new = new.withColumnRenamed(old, newname)
    if drops:
        new = new.drop(*drops)
    _staged_overwrite(spark, new, spec.target)
    return {"table": spec.target, "rows_affected": 0}
