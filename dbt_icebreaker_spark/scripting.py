"""Snowflake Scripting anonymous blocks — an interpreted subset.

``[DECLARE …] BEGIN stmt; … END`` blocks (reference: Snowflake
Scripting, the procedural layer users wrap in ``EXECUTE IMMEDIATE
$$…$$``). The engine interprets the control flow on the driver and
runs every SQL statement through ``IcebreakerEngine.execute`` — the
data never leaves Spark; only scalar control values (loop bounds,
IF conditions, LET scalars) are collected, which is exactly the shape
a stored procedure has on Snowflake's own execution model.

Supported statements:

- ``LET name [type] := <expr> | (SELECT …)`` and re-assignment
  ``name := <expr>``
- ``IF (cond) THEN … [ELSEIF (cond) THEN …]* [ELSE …] END IF``
- ``FOR i IN [REVERSE] a TO b DO … END FOR`` (integer range)
- ``WHILE (cond) DO … END WHILE`` (iteration-capped)
- ``BREAK`` / ``CONTINUE`` inside loops
- ``RETURN <expr>`` / ``RETURN TABLE(<query>)``
- any other SQL statement → the engine (with ``:name`` binds)

Variable references: control-flow expressions use bare names
(Snowflake Scripting expression scope); embedded SQL statements use
``:name`` bind syntax — a bare column name that happens to match a
variable is NOT substituted there, same as Snowflake.

``CALL`` statements route to the engine's stored-procedure registry
(procedures.py) like any other SQL statement. Round-6 additions:
``FOR rec IN (SELECT …)|cursor|resultset DO`` row loops (rec.col /
:rec.col field access), ``DECLARE name CURSOR FOR <query>`` with
OPEN/FETCH INTO/CLOSE (binds resolved at OPEN), ``RESULTSET``
variables (evaluated at assignment, ``RETURN TABLE(rs)``), EXCEPTION
sections (STATEMENT_ERROR/EXPRESSION_ERROR/OTHER/declared names,
SQLERRM/SQLCODE/SQLSTATE), ``DECLARE name EXCEPTION (code, 'msg')``
and ``RAISE``; nested ``[DECLARE …;] BEGIN … END`` blocks run as
child scopes sharing variables (inner EXCEPTION sections make the
try/catch idiom; RETURN/BREAK/CONTINUE and unhandled exceptions
propagate outward).
"""

from __future__ import annotations

from typing import Any, Optional

from .session import driver_frame
from .transpiler.tokenizer import (
    COMMENT,
    STRING,
    WORD,
    WS,
    Token,
    find_matching_paren,
    next_code,
    render,
    render_code,
    tokenize,
)


class ScriptingError(ValueError):
    pass


class UncaughtUserException(ScriptingError):
    """A RAISEd user exception that escaped its block. Carries the
    declaration so a CALLER block's EXCEPTION section can still catch
    it by name (Snowflake propagates callee exceptions to caller
    handlers)."""

    def __init__(self, name: str, code: int, msg: str):
        super().__init__(
            f"uncaught exception {name.upper()} (code {code}): {msg} — "
            f"add an EXCEPTION WHEN {name.upper()} THEN … handler"
        )
        self.name = name
        self.code = code
        self.msg = msg


_LOOP_CAP = 100_000

def _decl_types() -> frozenset:
    """Declarable type spellings — derived from the transpiler's
    signature-type table (ONE source of truth; r7 review) plus the
    spellings that table doesn't carry. Used to classify DECLARE
    segments by SHAPE, so variables named like SQL verbs ("open",
    "set") still declare."""
    from .transpiler.transforms import _SIG_TYPE_MAP

    return frozenset(_SIG_TYPE_MAP) | {
        "DEC", "BOOL", "PRECISION", "ARRAY", "GEOGRAPHY", "GEOMETRY",
        "NVARCHAR", "NVARCHAR2", "NCHAR", "VARYING", "LONG",
    }


_DECL_TYPES = _decl_types()


def _strip_outer_parens(q: str) -> str:
    """Remove ONE pair of outer parens only when they actually match
    — `(SELECT 1) UNION ALL (SELECT 2)` starts with '(' and ends with
    ')' but those are different pairs and must stay."""
    q = q.strip()
    if not (q.startswith("(") and q.endswith(")")):
        return q
    toks = tokenize(q)
    first = next_code(toks, 0)
    if first >= len(toks) or not toks[first].is_op("("):
        return q
    close = find_matching_paren(toks, first)
    if next_code(toks, close + 1) < len(toks):
        return q  # the opening paren closes before the end
    return q[1:-1].strip()


def is_scripting_block(sql: str) -> bool:
    """True when the WHOLE input is one anonymous block:
    ``[DECLARE …] BEGIN … END[;]`` — a bare ``BEGIN``/``BEGIN
    TRANSACTION`` (transaction no-op) is not a block."""
    # cheap pre-check: execute() calls this on EVERY input — only pay
    # a tokenize pass when the head can be DECLARE/BEGIN (or a comment)
    head = sql.lstrip()[:7].upper()
    if not (head.startswith("DECLARE") or head.startswith("BEGIN")
            or head.startswith("--") or head.startswith("/*")):
        return False
    toks = tokenize(sql)
    code = [t for t in toks if t.kind not in (WS, COMMENT)]
    if not code:
        return False
    if code[-1].is_op(";"):
        code = code[:-1]
    if not code:
        return False
    head = code[0]
    if head.kind != WORD:
        return False
    if head.upper == "DECLARE":
        return any(t.kind == WORD and t.upper == "BEGIN" for t in code)
    if head.upper == "BEGIN":
        if len(code) == 1:
            return False
        nxt = code[1]
        if nxt.kind == WORD and nxt.upper in ("TRANSACTION", "WORK", "NAME"):
            return False
        return code[-1].kind == WORD and code[-1].upper == "END"
    return False


def split_script_units(sql: str):
    """Split a multi-statement script into ("sql", text) / ("block",
    text) units, keeping each anonymous block — ``[DECLARE …] BEGIN …
    END`` at a statement head — TOGETHER instead of cutting it at its
    internal semicolons (r9 sweep finding: a block after other
    statements in one execute() call split into fragments, so its
    RETURN hit the parser as a bare statement). Returns None when the
    script contains no block unit (callers keep the plain path).

    The scan only recognizes DECLARE/BEGIN at a TOP-LEVEL statement
    head; a BEGIN reached mid-statement (e.g. inside an unquoted
    CREATE PROCEDURE body) stays part of its statement."""
    from .procedures import _scan_block_end

    toks = tokenize(sql)
    code = []
    pos = []
    for raw_i, t in enumerate(toks):
        if t.kind not in (WS, COMMENT):
            code.append(t)
            pos.append(raw_i)
    n = len(code)
    units = []
    any_block = False
    i = 0
    while i < n:
        if code[i].is_op(";"):
            i += 1
            continue
        t = code[i]
        end_j = None
        is_block = False
        if t.kind == WORD and t.upper == "BEGIN":
            nxt = code[i + 1] if i + 1 < n else None
            if not (nxt is not None
                    and nxt.is_word("TRANSACTION", "WORK", "NAME")):
                end_j = _scan_block_end(code, i)
                is_block = end_j is not None
        elif t.kind == WORD and t.upper == "DECLARE":
            # find the block's BEGIN: skip forward over the
            # declaration section (statements separated by ';')
            j = i
            while j < n:
                if code[j].kind == WORD and code[j].upper == "BEGIN":
                    end_j = _scan_block_end(code, j)
                    is_block = end_j is not None
                    break
                # advance past one declaration statement
                depth = 0
                while j < n:
                    if code[j].is_op("("):
                        depth += 1
                    elif code[j].is_op(")"):
                        depth -= 1
                    elif depth == 0 and code[j].is_op(";"):
                        break
                    j += 1
                j += 1
        if is_block:
            any_block = True
            lo = pos[i]
            hi = pos[end_j]
            units.append(("block", render(toks[lo:hi + 1]).strip()))
            i = end_j + 1
            continue
        # plain statement: consume to the next top-level ';'
        start = i
        depth = 0
        while i < n:
            if code[i].is_op("("):
                depth += 1
            elif code[i].is_op(")"):
                depth -= 1
            elif depth == 0 and code[i].is_op(";"):
                break
            i += 1
        hi = pos[i - 1] if i > start else pos[start]
        units.append(("sql", render(toks[pos[start]:hi + 1]).strip()))
    if not any_block:
        return None
    return units


class _Break(Exception):
    pass


class _Continue(Exception):
    pass


class _Return(Exception):
    def __init__(self, df):
        self.df = df


class _UserRaise(Exception):
    """RAISE <exception_name> — a DECLAREd user exception in flight."""

    def __init__(self, name: str, code: int, msg: str):
        super().__init__(msg)
        self.name = name
        self.code = code
        self.msg = msg


class _Block:
    def __init__(self, engine, sql: str,
                 init_vars: Optional[dict] = None):
        self.engine = engine
        self.toks = tokenize(sql)
        # pre-seeded variables (CALL procedure arguments)
        self.vars: dict[str, Any] = dict(init_vars or {})
        # DECLAREd exceptions: name → (code, message)
        self.exceptions: dict[str, tuple[int, str]] = {}
        # cursors: name → {"query": str, "rows": list|None, "pos": int,
        # "cols": [str]} — rows None until OPEN / loop entry
        self.cursors: dict[str, dict] = {}
        # resultsets: name → DataFrame (evaluated at assignment,
        # Snowflake's own RESULTSET := (query) timing; kept as a lazy
        # plan — identical output unless tables change in-block)
        self.resultsets: dict[str, Any] = {}
        # exception being handled (bare RAISE re-raises it)
        self._current_exc: Optional[BaseException] = None

    # ------------------------------------------------------ utilities
    def _code(self, i: int) -> int:
        return next_code(self.toks, i)

    def _word(self, i: int, *names: str) -> bool:
        t = self.toks[i] if i < len(self.toks) else None
        return t is not None and t.kind == WORD and t.upper in names

    def _stmt_end(self, i: int) -> int:
        """Index of the ';' ending the statement starting at i (depth-0
        of parens), or len(toks)."""
        depth = 0
        j = i
        n = len(self.toks)
        while j < n:
            t = self.toks[j]
            if t.is_op("("):
                depth += 1
            elif t.is_op(")"):
                depth -= 1
            elif depth == 0 and t.is_op(";"):
                return j
            j += 1
        return n

    def _sub_expr(self, toks) -> str:
        """Expression scope: bare variable names AND :name binds become
        literals — EXCEPT inside a ``(SELECT …)`` / ``(WITH …)``
        subquery extent, which is QUERY scope (Snowflake: inside any
        query text bare names are columns; variables need ``:name``).
        A variable named like a column must not shadow the column
        there — the whole paren extent switches to bind-only
        substitution."""
        from .runner import IcebreakerEngine

        def prev_code_tok(out_list):
            for x in reversed(out_list):
                if x.kind not in (WS, COMMENT):
                    return x
            return None

        out = []
        skip = -1
        for k, t in enumerate(toks):
            if k <= skip:
                continue
            if t.is_op("("):
                j = k + 1
                while j < len(toks) and toks[j].kind in (WS, COMMENT):
                    j += 1
                if j < len(toks) and toks[j].kind == WORD \
                        and toks[j].upper in ("SELECT", "WITH"):
                    close = find_matching_paren(toks, k)
                    inner = self._sub_binds(toks[k + 1:close])
                    out.append(Token(WORD, f"({inner})"))
                    skip = close
                    continue
            if t.is_op(":"):
                j = k + 1
                while j < len(toks) and toks[j].kind in (WS, COMMENT):
                    j += 1
                if j < len(toks) and toks[j].kind == WORD \
                        and toks[j].text.lower() in self.vars:
                    # a ':' DIRECTLY after a value-like token is a
                    # json path (v:field), not a bind — a substituted
                    # VARIANT variable leaves a literal before the ':'
                    # and the field name may collide with a variable
                    # (r7 review finding; same guard as _sub_binds)
                    from .transpiler.tokenizer import QIDENT

                    prev = prev_code_tok(out)
                    tight = out and out[-1].kind not in (WS, COMMENT)
                    is_path = tight and prev is not None and (
                        prev.kind in (WORD, QIDENT, STRING)
                        or prev.is_op(")") or prev.is_op("]")
                    )
                    if is_path:
                        out.append(t)
                        continue
                    val = self.vars[toks[j].text.lower()]
                    if isinstance(val, dict):
                        fld = self._row_field(toks, j + 1, toks[j].text, val)
                        out.append(Token(WORD, IcebreakerEngine
                                         ._render_literal(fld[0])))
                        skip = fld[1]
                        continue
                    out.append(Token(WORD, IcebreakerEngine._render_literal(
                        val)))
                    skip = j
                    continue
            if t.kind == WORD and t.text.lower() in self.vars:
                prev = prev_code_tok(out)
                j2 = k + 1
                while j2 < len(toks) and toks[j2].kind in (WS, COMMENT):
                    j2 += 1
                nxt = toks[j2] if j2 < len(toks) else None
                val = self.vars[t.text.lower()]
                # a WORD directly after a PATH colon is a json-path
                # segment, not a variable (the ':' branch above already
                # declined to treat it as a bind; r7 review finding)
                if isinstance(val, dict) and not (
                    prev is not None and prev.is_op(".", ":")
                ):
                    fld = self._row_field(toks, j2, t.text, val)
                    if fld is not None:
                        out.append(Token(WORD, IcebreakerEngine
                                         ._render_literal(fld[0])))
                        skip = fld[1]
                        continue
                # not a qualified field (a.x), path segment (v:x), or
                # call x(...)
                if not isinstance(val, dict) and not (
                    prev is not None and prev.is_op(".", ":")
                ) and not (nxt is not None and nxt.is_op("(")):
                    out.append(Token(WORD, IcebreakerEngine._render_literal(
                        val)))
                    continue
            out.append(t)
        return render(out).strip()

    def _row_field(self, toks, dot_i: int, var_name: str, row: dict):
        """Resolve ``rec.col`` starting at the '.' token index —
        returns ((value, last-consumed-index)) or None when the next
        tokens are not a field access. A row variable used WITHOUT a
        field is an error (there is no scalar rendering for a row)."""
        while dot_i < len(toks) and toks[dot_i].kind in (WS, COMMENT):
            dot_i += 1
        if dot_i >= len(toks) or not toks[dot_i].is_op("."):
            raise ScriptingError(
                f"row variable {var_name!r} needs a field access "
                f"({var_name}.<column>) — it holds a whole row"
            )
        f = dot_i + 1
        while f < len(toks) and toks[f].kind in (WS, COMMENT):
            f += 1
        if f >= len(toks) or toks[f].kind != WORD:
            raise ScriptingError(
                f"row variable {var_name!r}: expected a column name "
                "after '.'"
            )
        key = toks[f].text.lower()
        if key not in row:
            raise ScriptingError(
                f"row variable {var_name!r} has no column {key!r} "
                f"(columns: {', '.join(row)})"
            )
        return (row[key], f)

    def _sub_binds(self, toks) -> str:
        """SQL-statement scope: ONLY :name binds substitute (a bare
        column name matching a variable stays a column, like
        Snowflake). ``TABLE(rs_name)`` over a RESULTSET variable
        becomes a temp view of its DataFrame (Snowflake: a RESULTSET
        is usable in a FROM clause only through TABLE(...); r7a sweep
        finding)."""
        from .runner import IcebreakerEngine

        out = []
        skip = -1
        for k, t in enumerate(toks):
            if k <= skip:
                continue
            if t.kind == WORD and t.upper == "TABLE" and self.resultsets:
                j = k + 1
                while j < len(toks) and toks[j].kind in (WS, COMMENT):
                    j += 1
                if j < len(toks) and toks[j].is_op("("):
                    close = find_matching_paren(toks, j)
                    inner = [x for x in toks[j + 1:close]
                             if x.kind not in (WS, COMMENT)]
                    if (
                        len(inner) == 1 and inner[0].kind == WORD
                        and inner[0].text.lower() in self.resultsets
                    ):
                        nm = inner[0].text.lower()
                        df = self.resultsets[nm]
                        if df is None:
                            raise ScriptingError(
                                f"TABLE({inner[0].text}): the resultset "
                                "has no value yet — assign it first "
                                "(name := (query))"
                            )
                        # one view per resultset NAME, replaced on
                        # reassignment — spark.sql analyzes eagerly,
                        # so DataFrames already built from a prior
                        # value keep their resolved plan (no
                        # per-substitution view leak; r7 review)
                        view = f"__rs_{nm}"
                        df.createOrReplaceTempView(view)
                        out.append(Token(WORD, view))
                        skip = close
                        continue
            if t.is_op(":"):
                j = k + 1
                while j < len(toks) and toks[j].kind in (WS, COMMENT):
                    j += 1
                if j < len(toks) and toks[j].kind == WORD \
                        and toks[j].text.lower() in self.vars:
                    prev = None
                    for x in reversed(out):
                        if x.kind not in (WS, COMMENT):
                            prev = x
                            break
                    # not a '::' cast; not a 'col:field' json path (the
                    # token DIRECTLY before ':' being a WORD/QIDENT/')' —
                    # whitespace before ':' means a bind, Snowflake
                    # json paths are written without spaces)
                    from .transpiler.tokenizer import QIDENT

                    tight = out and out[-1].kind not in (WS, COMMENT)
                    is_cast = prev is not None and prev.is_op(":")
                    is_path = tight and prev is not None and (
                        prev.kind in (WORD, QIDENT, STRING)
                        or prev.is_op(")") or prev.is_op("]")
                    )
                    if not is_cast and not is_path:
                        val = self.vars[toks[j].text.lower()]
                        if isinstance(val, dict):
                            # :rec.col — row-variable field access
                            fld = self._row_field(
                                toks, j + 1, toks[j].text, val)
                            out.append(Token(
                                WORD,
                                IcebreakerEngine._render_literal(fld[0])))
                            skip = fld[1]
                            continue
                        out.append(Token(
                            WORD, IcebreakerEngine._render_literal(val)))
                        skip = j
                        continue
            out.append(t)
        return render(out).strip()

    def _eval_bool(self, expr_sql: str) -> bool:
        return bool(self.engine._eval_scalar(f"({expr_sql}) IS TRUE"))

    # ------------------------------------------------------ sections
    def run(self):
        try:
            self._exec_block()
        except _Return as r:
            return r.df
        except (_Break, _Continue):
            raise ScriptingError(
                "scripting block: BREAK/CONTINUE outside a loop"
            ) from None
        except _UserRaise as ur:
            raise UncaughtUserException(ur.name, ur.code, ur.msg) from None
        return driver_frame(self.engine.spark,
                            [("anonymous block", "completed")],
                            "statement string, status string")

    def run_nested(self) -> None:
        """Run as a NESTED block: control-flow signals (_Return /
        _Break / _Continue) and unhandled exceptions (incl. user
        RAISEs this block's handlers did not catch) propagate to the
        enclosing block instead of terminating here."""
        self._exec_block()

    def _exec_block(self) -> None:
        i = self._code(0)
        if self._word(i, "DECLARE"):
            i = self._parse_declares(self._code(i + 1))
        if not self._word(i, "BEGIN"):
            raise ScriptingError("scripting block: expected BEGIN")
        i = self._code(i + 1)
        try:
            # stopping at EXCEPTION = body completed, skip handlers
            self._run_statements(i, ("END", "EXCEPTION"))
        except (_Return, _Break, _Continue):
            raise
        except UncaughtUserException as ue:
            # a CALLed procedure's escaped exception: catchable
            # here by its declared name (or OTHER)
            self._dispatch_handler(
                i, _UserRaise(ue.name, ue.code, ue.msg))
        except ScriptingError:
            raise
        except Exception as exc:  # noqa: BLE001 — handler dispatch
            self._dispatch_handler(i, exc)

    def _dispatch_handler(self, body_i: int, exc: BaseException) -> None:
        """Run the EXCEPTION section's first matching WHEN handler
        (SQL:2016 / Snowflake order). No section or no match →
        re-raise. Built-in condition names STATEMENT_ERROR and
        EXPRESSION_ERROR both match any engine error (the engine
        classifies errors by statement, not sub-expression); OTHER
        matches everything; a DECLAREd exception name matches its own
        RAISE."""
        exc_i = self._skip_statements(
            body_i, ("EXCEPTION", "END"), head_only=("EXCEPTION",))
        if not self._word(exc_i, "EXCEPTION"):
            raise exc
        is_user = isinstance(exc, _UserRaise)
        # handler-scope builtins (Snowflake SQLERRM/SQLCODE/SQLSTATE);
        # nested blocks SHARE the parent's vars dict, so save and
        # restore the prior values — they must not leak into the
        # enclosing scope after the handler exits (mirrors the
        # _current_exc save/restore)
        _builtins = ("sqlerrm", "sqlcode", "sqlstate")
        _absent = object()
        saved = {b: self.vars.get(b, _absent) for b in _builtins}
        self.vars["sqlerrm"] = (
            exc.msg if is_user
            else (str(exc).splitlines() or [""])[0][:500]
        )
        self.vars["sqlcode"] = exc.code if is_user else -1
        self.vars["sqlstate"] = "P0000" if is_user else "42000"
        try:
            j = self._code(exc_i + 1)
            ran = False
            while self._word(j, "WHEN"):
                names: list[str] = []
                k = self._code(j + 1)
                while k < len(self.toks) and not self._word(k, "THEN"):
                    t = self.toks[k]
                    if t.kind == WORD and t.upper != "OR":
                        names.append(t.upper)
                    k = self._code(k + 1)
                if k >= len(self.toks):
                    raise ScriptingError("EXCEPTION: WHEN without THEN")
                body_start = self._code(k + 1)
                boundary = self._skip_statements(
                    body_start, ("WHEN", "END"), head_only=("WHEN",))
                if not ran and self._handler_matches(names, exc, is_user):
                    prev = self._current_exc
                    self._current_exc = exc
                    try:
                        self._run_statements(body_start, ("WHEN", "END"))
                    finally:
                        self._current_exc = prev
                    ran = True
                j = boundary
            if not ran:
                raise exc
        finally:
            for b in _builtins:
                if saved[b] is _absent:
                    self.vars.pop(b, None)
                else:
                    self.vars[b] = saved[b]

    @staticmethod
    def _handler_matches(names: list[str], exc, is_user: bool) -> bool:
        if "OTHER" in names:
            return True
        if is_user:
            return exc.name.upper() in names
        return bool({"STATEMENT_ERROR", "EXPRESSION_ERROR"} & set(names))

    @staticmethod
    def _decl_shape_ok(seg: list) -> bool:
        """True when a WS-stripped DECLARE segment has declaration
        shape: ``name`` followed by ``:=`` / DEFAULT / CURSOR /
        RESULTSET / EXCEPTION, or by type word(s) (with optional
        precision parens) reaching the segment end or a DEFAULT/:=.
        ``SELECT date FROM t`` is NOT a declaration (FROM after the
        type word); ``open INT`` is."""
        if not seg or seg[0].kind != WORD:
            return False
        k = 1
        if k >= len(seg):
            return False
        t1 = seg[k]
        if t1.is_op(":="):
            return True
        if t1.kind != WORD:
            return False
        if t1.upper in ("DEFAULT", "CURSOR", "RESULTSET", "EXCEPTION"):
            return True
        if t1.upper not in _DECL_TYPES:
            return False
        # walk the type spelling: more type words / (precision) groups
        k += 1
        while k < len(seg):
            t = seg[k]
            if t.is_op("("):
                try:
                    k = find_matching_paren(seg, k) + 1
                except ValueError:
                    return False
                continue
            if t.is_op(":="):
                return True
            if t.kind == WORD and t.upper == "DEFAULT":
                return True
            if t.kind == WORD and t.upper in _DECL_TYPES:
                k += 1
                continue
            return False
        return True

    def _looks_like_declaration(self, j: int) -> bool:
        end = self._stmt_end(j)
        seg = [t for t in self.toks[j:end] if t.kind not in (WS, COMMENT)]
        return self._decl_shape_ok(seg)

    def _line_of(self, i: int) -> int:
        """1-based source line of token i (for parse errors)."""
        return sum(t.text.count("\n") for t in self.toks[:i]) + 1

    def _parse_declares(self, i: int) -> int:
        while i < len(self.toks) and not self._word(i, "BEGIN"):
            name_t = self.toks[i]
            if name_t.kind != WORD:
                raise ScriptingError(
                    f"DECLARE: expected a variable name, got {name_t.text!r}"
                )
            if name_t.upper == "DECLARE":
                # a second DECLARE keyword would silently become a
                # variable named "declare" — refuse at the declaration,
                # never misparse (the engine's contract)
                raise ScriptingError(
                    f"DECLARE (line {self._line_of(i)}): DECLARE opens "
                    "ONE declaration section — separate declarations "
                    "with ';' without repeating the DECLARE keyword"
                )
            end = self._stmt_end(i)
            seg = self.toks[i:end]
            segc = [t for t in seg if t.kind not in (WS, COMMENT)]
            kinds = {t.upper for t in segc if t.kind == WORD}
            if "CURSOR" in kinds:
                # name CURSOR FOR <query> — the query text is stored
                # and evaluated at OPEN / FOR-loop entry (with :binds
                # resolved then, Snowflake's cursor timing)
                for k2, t2 in enumerate(seg):
                    if t2.kind == WORD and t2.upper == "FOR":
                        q = render(seg[k2 + 1:]).strip()
                        if not q:
                            raise ScriptingError(
                                f"DECLARE {name_t.text} CURSOR: "
                                "missing FOR <query>"
                            )
                        self.cursors[name_t.text.lower()] = {
                            "query": q, "rows": None, "pos": 0,
                            "cols": [],
                        }
                        break
                else:
                    raise ScriptingError(
                        f"DECLARE {name_t.text} CURSOR: expected "
                        "CURSOR FOR <query>"
                    )
                i = self._code(end + 1)
                continue
            if "RESULTSET" in kinds:
                # name RESULTSET [DEFAULT|:= (query)] — evaluated at
                # assignment (Snowflake's RESULTSET timing)
                dk2 = None
                for k2, t2 in enumerate(seg):
                    if t2.is_op(":=") or (t2.kind == WORD
                                          and t2.upper == "DEFAULT"):
                        dk2 = k2
                        break
                if dk2 is not None:
                    q = self._sub_binds(seg[dk2 + 1:]).strip()
                    q = _strip_outer_parens(q)
                    self.resultsets[name_t.text.lower()] = \
                        self.engine.execute(q)
                else:
                    self.resultsets[name_t.text.lower()] = None
                i = self._code(end + 1)
                continue
            if "EXCEPTION" in kinds:
                # name EXCEPTION [(code, 'message')]
                from .transpiler.tokenizer import split_args

                code_v, msg_v = -20000, name_t.text
                for k2, t2 in enumerate(segc):
                    if not t2.is_op("("):
                        continue
                    close2 = find_matching_paren(segc, k2)
                    groups = [segc[lo:hi] for lo, hi in
                              split_args(segc, k2 + 1, close2)]
                    if groups and groups[0]:
                        txt = render(groups[0]).replace(" ", "")
                        try:
                            code_v = int(txt)
                        except ValueError:
                            raise ScriptingError(
                                f"DECLARE {name_t.text}: exception "
                                "code must be an integer literal"
                            ) from None
                    if len(groups) >= 2 and groups[1] \
                            and groups[1][0].kind == STRING:
                        msg_v = groups[1][0].text[1:-1].replace("''", "'")
                    break
                self.exceptions[name_t.text.lower()] = (code_v, msg_v)
                i = self._code(end + 1)
                continue
            # name [type…] [DEFAULT expr | := expr]
            val = None
            dk = None
            for k, t in enumerate(seg):
                if t.kind == WORD and t.upper == "DEFAULT":
                    dk = k
                    break
                if t.is_op(":="):
                    dk = k
                    break
            if dk is None and len(segc) == 1:
                # a bare name declares nothing (Snowflake requires a
                # type and/or DEFAULT) — refuse, don't silently NULL
                raise ScriptingError(
                    f"DECLARE {name_t.text} (line {self._line_of(i)}): "
                    "a declaration needs a type and/or a DEFAULT/:= "
                    "value (e.g. DECLARE x INT DEFAULT 0)"
                )
            if not self._decl_shape_ok(segc):
                # a SQL statement between declarations would otherwise
                # be silently bound as a NULL variable and NEVER run
                # (r7 review finding — the nested-block scan already
                # shape-checked; the top-level section must too)
                raise ScriptingError(
                    f"DECLARE (line {self._line_of(i)}): "
                    f"{render_code(segc[:3]).strip()!r}… is not a "
                    "declaration (name [type] [DEFAULT value]) — "
                    "statements belong in the BEGIN body"
                )
            if dk is not None:
                default_sql = self._sub_expr(seg[dk + 1:]).strip()
                if not default_sql:
                    raise ScriptingError(
                        f"DECLARE {name_t.text} (line "
                        f"{self._line_of(i)}): DEFAULT/:= without a "
                        "value expression"
                    )
                val = self.engine._eval_scalar(default_sql)
            self.vars[name_t.text.lower()] = val
            i = self._code(end + 1)
        return i

    # --------------------------------------------------- statements
    def _run_statements(self, i: int, stops: tuple[str, ...]) -> int:
        """Run statements until one of `stops` keywords at statement
        head; returns index OF the stop token."""
        n = len(self.toks)
        while i < n:
            t = self.toks[i]
            if t.kind in (WS, COMMENT) or t.is_op(";"):
                i += 1
                continue
            if t.kind == WORD and t.upper in stops:
                return i
            i = self._run_one(i)
        if "END" in stops:
            raise ScriptingError("scripting block: missing END")
        return i

    def _skip_statements(self, i: int, stops: tuple[str, ...],
                         head_only: tuple[str, ...] = ()) -> int:
        """Skip (without running) until a stop keyword at depth 0,
        honoring nested IF/FOR/WHILE … END pairs. Names in
        ``head_only`` stop only at a statement head (a WHEN inside a
        MERGE statement is not a handler boundary)."""
        n = len(self.toks)
        depth = 0
        # one STACK of open constructs, not independent counters — a
        # BEGIN nested inside a CASE-statement branch must close ITS
        # OWN bare END, which counters couldn't order (r8 review: the
        # case-before-begin decrement corrupted both); this mirrors
        # procedures._scan_block_end's stack discipline
        stack: list[str] = []
        while i < n:
            t = self.toks[i]
            if t.is_op("("):
                depth += 1
            elif t.is_op(")"):
                depth -= 1
            elif depth == 0 and t.kind == WORD:
                u = t.upper
                if u == "CASE":
                    stack.append("CASE")
                elif u in ("IF", "FOR", "WHILE", "REPEAT", "LOOP") \
                        and self._is_stmt_head(i):
                    stack.append(u)
                elif u == "BEGIN" and self._is_stmt_head(i):
                    j = self._code(i + 1)
                    if not self._word(j, "TRANSACTION", "WORK", "NAME"):
                        stack.append("BEGIN")
                elif u == "END":
                    j = self._code(i + 1)
                    top = stack[-1] if stack else None
                    if self._word(j, "IF", "FOR", "WHILE", "REPEAT",
                                  "LOOP", "CASE"):
                        kw = self.toks[j].upper
                        # END LOOP closes whichever loop construct
                        # opened (bare LOOP, or the FOR/WHILE … LOOP
                        # body form); END CASE consumes BOTH tokens
                        if top == kw or (
                            kw == "LOOP"
                            and top in ("FOR", "WHILE", "LOOP")
                        ):
                            stack.pop()
                            i = j + 1
                            continue
                        # END of an unentered construct at our level —
                        # it can itself be a stop ("END IF")
                    elif top in ("CASE", "BEGIN"):
                        # bare END closes the INNERMOST closable
                        # construct — a CASE expression/statement
                        # (Snowflake: END [CASE]) or a nested block
                        stack.pop()
                        i += 1
                        continue
                if not stack and u in stops and u != "CASE":
                    if u in head_only and not self._is_stmt_head(i):
                        i += 1
                        continue
                    return i
            i += 1
        raise ScriptingError("scripting block: unterminated control block")

    def _is_stmt_head(self, i: int) -> bool:
        p = i - 1
        while p >= 0 and self.toks[p].kind in (WS, COMMENT):
            p -= 1
        if p < 0:
            return True
        t = self.toks[p]
        return t.is_op(";") or (t.kind == WORD and t.upper in (
            "BEGIN", "THEN", "ELSE", "DO", "LOOP", "REPEAT"
        ))

    def _run_one(self, i: int) -> int:
        t = self.toks[i]
        u = t.upper if t.kind == WORD else ""
        if u == "LET":
            return self._stmt_let(self._code(i + 1))
        if u == "IF" and self._is_stmt_head(i):
            return self._stmt_if(i)
        if u == "FOR" and self._is_stmt_head(i):
            return self._stmt_for(i)
        if u == "WHILE" and self._is_stmt_head(i):
            return self._stmt_while(i)
        if u == "REPEAT" and self._is_stmt_head(i):
            return self._stmt_repeat(i)
        if u == "LOOP" and self._is_stmt_head(i):
            return self._stmt_loop(i)
        if u == "CASE" and self._is_stmt_head(i):
            return self._stmt_case(i)
        if u == "RETURN":
            self._stmt_return(i)
        if u == "BREAK":
            raise _Break()
        if u == "CONTINUE":
            raise _Continue()
        if u == "BEGIN" and self._is_stmt_head(i):
            # BEGIN TRANSACTION/WORK/NAME is a transaction no-op that
            # falls through to the engine (dbt wraps runs in
            # BEGIN/COMMIT), not a nested block — same exclusion the
            # skip-scanner applies
            nx = self._code(i + 1)
            if not self._word(nx, "TRANSACTION", "WORK", "NAME"):
                return self._stmt_nested_block(i, i)
        if u == "DECLARE":
            # nested block with its own declaration section:
            # DECLARE …; BEGIN … END — the BEGIN must be reached
            # through DECLARATION-shaped segments only (anything else
            # in between means a stray DECLARE, not a block head; those
            # statements must NOT be swallowed as declarations).
            # Classification is by SHAPE (name followed by a type /
            # CURSOR / RESULTSET / EXCEPTION / DEFAULT / :=), so a
            # variable named like a SQL verb ("DECLARE open INT") still
            # parses as a declaration.
            begin_i = None
            j = self._code(i + 1)
            while j < len(self.toks):
                if self._word(j, "BEGIN"):
                    begin_i = j
                    break
                if not self._looks_like_declaration(j):
                    break
                j = self._code(self._stmt_end(j) + 1)
            if begin_i is None:
                raise ScriptingError(
                    "DECLARE belongs before BEGIN (the declaration "
                    "section); inside the body use LET, or open a "
                    "nested block (DECLARE …; BEGIN … END)"
                )
            return self._stmt_nested_block(i, begin_i)
        if u == "EXCEPTION":
            raise ScriptingError(
                "EXCEPTION must be a section at the TOP level of the "
                "block (between the body's last statement and END), "
                "not inside IF/FOR/WHILE"
            )
        if u == "RAISE":
            end = self._stmt_end(i)
            j0 = self._code(i + 1)
            if j0 >= end:
                if self._current_exc is None:
                    raise ScriptingError(
                        "bare RAISE is only valid inside an EXCEPTION "
                        "handler (it re-raises the caught exception)"
                    )
                raise self._current_exc
            nm = self.toks[j0].text.lower()
            if nm not in self.exceptions:
                raise ScriptingError(
                    f"RAISE {self.toks[j0].text}: not a DECLAREd "
                    "exception (DECLARE name EXCEPTION (code, "
                    "'message') first)"
                )
            code_v, msg_v = self.exceptions[nm]
            raise _UserRaise(nm, code_v, msg_v)
        # CALL falls through to the plain-SQL arm below — the engine's
        # statement dispatch owns the procedure registry
        if u == "NULL":
            return self._stmt_end(i) + 1
        if u in ("OPEN", "FETCH", "CLOSE") and self._is_stmt_head(i):
            return self._stmt_cursor(i, u)
        # assignment without LET: name := expr
        j = self._code(i + 1)
        if t.kind == WORD and j < len(self.toks) and self.toks[j].is_op(":="):
            end = self._stmt_end(i)
            if t.text.lower() in self.resultsets:
                q = _strip_outer_parens(
                    self._sub_binds(self.toks[j + 1:end]))
                self.resultsets[t.text.lower()] = self.engine.execute(q)
                return end + 1
            if t.text.lower() not in self.vars:
                raise ScriptingError(
                    f"assignment to undeclared variable {t.text!r} — "
                    "use LET or DECLARE first"
                )
            self.vars[t.text.lower()] = self.engine._eval_scalar(
                self._sub_expr(self.toks[j + 1:end]))
            return end + 1
        # plain SQL statement → the engine (with :binds). QUERY-class
        # results MATERIALIZE through the noop sink: a lazy query's
        # errors otherwise never surface and the EXCEPTION handler
        # silently never fires (r8 probe: BREAK-on-error loops
        # forever; Snowflake materializes every procedural statement).
        # The gate covers every lazy-returning head — bare queries,
        # parenthesized queries, and EXECUTE IMMEDIATE '<query>' —
        # while eager DML/DDL skip the extra no-op job (r8 review:
        # one job per INSERT in a tight loop adds up).
        end = self._stmt_end(i)
        df = self.engine.execute(self._sub_binds(self.toks[i:end]))
        lazy_head = (
            t.is_op("(")
            or (t.kind == WORD and t.upper in (
                "SELECT", "WITH", "VALUES", "TABLE", "EXECUTE"))
        )
        if lazy_head and df is not None and hasattr(df, "write"):
            df.write.format("noop").mode("overwrite").save()
        return end + 1

    def _stmt_let(self, i: int) -> int:
        name_t = self.toks[i]
        if name_t.kind != WORD:
            raise ScriptingError("LET: expected a variable name")
        end = self._stmt_end(i)
        seg = self.toks[i:end]
        dk = None
        for k, tt in enumerate(seg):
            if tt.is_op(":="):
                dk = k
                break
            if tt.kind == WORD and tt.upper == "DEFAULT":
                dk = k
                break
        if dk is None:
            raise ScriptingError("LET: expected := or DEFAULT")
        segc = [t for t in seg[:dk] if t.kind not in (WS, COMMENT)]
        if any(t.kind == WORD and t.upper == "RESULTSET" for t in segc):
            # LET name RESULTSET := (query) — evaluated now
            q = self._sub_binds(seg[dk + 1:]).strip()
            q = _strip_outer_parens(q)
            self.resultsets[name_t.text.lower()] = self.engine.execute(q)
            return end + 1
        if any(t.kind == WORD and t.upper == "CURSOR" for t in segc):
            raise ScriptingError(
                "LET … CURSOR belongs in the DECLARE section "
                "(DECLARE name CURSOR FOR <query>)"
            )
        self.vars[name_t.text.lower()] = self.engine._eval_scalar(
            self._sub_expr(seg[dk + 1:]))
        return end + 1

    def _read_cond(self, i: int, *stop_words: str) -> tuple[str, int]:
        """Condition tokens from i until a stop word at paren depth 0;
        returns (expr SQL with vars substituted, index of stop)."""
        depth = 0
        j = i
        n = len(self.toks)
        lo = i
        while j < n:
            t = self.toks[j]
            if t.is_op("("):
                depth += 1
            elif t.is_op(")"):
                depth -= 1
            elif depth == 0 and t.kind == WORD and t.upper in stop_words:
                return self._sub_expr(self.toks[lo:j]), j
            j += 1
        raise ScriptingError(
            f"scripting block: expected {'/'.join(stop_words)}"
        )

    def _stmt_if(self, i: int) -> int:
        """IF (c) THEN … [ELSEIF (c) THEN …]* [ELSE …] END IF;"""
        j = self._code(i + 1)
        cond, then_i = self._read_cond(j, "THEN")
        taken = self._eval_bool(cond)
        i = then_i + 1
        done = taken
        while True:
            if taken:
                stop = self._run_statements(
                    i, ("ELSEIF", "ELSE", "END"))
                taken = False  # ran the branch; skip the rest
            else:
                stop = self._skip_statements(i, ("ELSEIF", "ELSE", "END"))
            su = self.toks[stop].upper
            if su == "END":
                j2 = self._code(stop + 1)
                if not self._word(j2, "IF"):
                    raise ScriptingError("IF: expected END IF")
                return self._stmt_end(j2) + 1
            if su == "ELSEIF":
                j2 = self._code(stop + 1)
                cond, then_i = self._read_cond(j2, "THEN")
                if not done and self._eval_bool(cond):
                    taken = True
                    done = True
                i = then_i + 1
                continue
            # ELSE
            taken = not done
            done = True
            i = self._code(stop + 1)

    def _stmt_for(self, i: int) -> int:
        """FOR v IN [REVERSE] a TO b DO … END FOR;"""
        j = self._code(i + 1)
        var_t = self.toks[j]
        if var_t.kind != WORD:
            raise ScriptingError("FOR: expected a loop variable")
        j = self._code(j + 1)
        if not self._word(j, "IN"):
            raise ScriptingError(
                "FOR: only the integer-range form (FOR i IN a TO b DO) "
                "is supported; iterate query results with a plain "
                "set-based statement instead"
            )
        j = self._code(j + 1)
        reverse = False
        if self._word(j, "REVERSE"):
            reverse = True
            j = self._code(j + 1)
        # cursor/resultset loops have no TO before DO
        probe, depth = j, 0
        has_to = False
        while probe < len(self.toks):
            tt = self.toks[probe]
            if tt.is_op("("):
                depth += 1
            elif tt.is_op(")"):
                depth -= 1
            elif depth == 0 and tt.kind == WORD:
                if tt.upper == "TO":
                    has_to = True
                    break
                if tt.upper in ("DO", "LOOP"):
                    break
            probe += 1
        if not has_to:
            return self._stmt_for_resultset(var_t, j, reverse)
        lo_sql, to_i = self._read_cond(j, "TO")
        hi_sql, do_i = self._read_cond(self._code(to_i + 1), "DO", "LOOP")
        closer = "FOR" if self.toks[do_i].upper == "DO" else "LOOP"
        body = self._code(do_i + 1)
        end_stop = self._skip_statements(body, ("END",))
        j2 = self._code(end_stop + 1)
        if not self._word(j2, closer):
            raise ScriptingError(f"FOR: expected END {closer}")
        after = self._stmt_end(j2) + 1
        lo_v = int(self.engine._eval_scalar(lo_sql))
        hi_v = int(self.engine._eval_scalar(hi_sql))
        rng = range(hi_v, lo_v - 1, -1) if reverse else range(lo_v, hi_v + 1)
        if len(rng) > _LOOP_CAP:
            raise ScriptingError(
                f"FOR: range of {len(rng)} exceeds the {_LOOP_CAP} "
                "iteration cap (driver-side loop) — express bulk work "
                "as one set-based statement"
            )
        name = var_t.text.lower()
        shadow = self.vars.get(name)
        try:
            for v in rng:
                self.vars[name] = v
                try:
                    self._run_statements(body, ("END",))
                except _Break:
                    break
                except _Continue:
                    continue
        finally:
            # restore on exceptions too — the EXCEPTION handler must
            # see the pre-loop value, not a stale iteration value
            self.vars[name] = shadow
        return after

    def _stmt_for_resultset(self, var_t, j: int, reverse: bool) -> int:
        """``FOR rec IN (SELECT …) DO … END FOR``: iterate the query's
        rows driver-side (bounded — the same shape Snowflake runs a
        cursor FOR loop in: the procedure driver fetches, the work per
        row is ordinary SQL). Inside the body, ``rec.col`` reads the
        current row's column in expression scope and ``:rec.col`` in
        embedded-SQL scope."""
        if reverse:
            raise ScriptingError(
                "FOR: REVERSE applies to integer ranges only — ORDER "
                "BY … DESC in the query instead"
            )
        inner = None
        df_named = None
        if self.toks[j].is_op("("):
            close = find_matching_paren(self.toks, j)
            inner = self._sub_binds(self.toks[j + 1:close])
        elif self.toks[j].kind == WORD:
            nm = self.toks[j].text.lower()
            if nm in self.cursors:
                inner = self._sub_binds(
                    tokenize(self.cursors[nm]["query"]))
                close = j
            elif nm in self.resultsets:
                df_named = self.resultsets[nm]
                if df_named is None:
                    raise ScriptingError(
                        f"FOR: resultset {self.toks[j].text!r} has no "
                        "value yet — assign it first (name := (query))"
                    )
                close = j
            else:
                raise ScriptingError(
                    f"FOR: {self.toks[j].text!r} is not a DECLAREd "
                    "cursor or resultset — expected an integer range "
                    "(FOR i IN a TO b DO), a resultset (FOR rec IN "
                    "(SELECT …) DO), or a declared cursor/resultset "
                    "name"
                )
        else:
            raise ScriptingError(
                "FOR: expected an integer range (FOR i IN a TO b DO) "
                "or a resultset (FOR rec IN (SELECT …) DO)"
            )
        do_i = self._code(close + 1)
        if not self._word(do_i, "DO", "LOOP"):
            raise ScriptingError(
                "FOR: expected DO or LOOP after the resultset")
        closer = "FOR" if self.toks[do_i].upper == "DO" else "LOOP"
        body = self._code(do_i + 1)
        end_stop = self._skip_statements(body, ("END",))
        j2 = self._code(end_stop + 1)
        if not self._word(j2, closer):
            raise ScriptingError(f"FOR: expected END {closer}")
        after = self._stmt_end(j2) + 1
        df = df_named if df_named is not None else self.engine.execute(inner)
        rows = df.limit(_LOOP_CAP + 1).collect()
        if len(rows) > _LOOP_CAP:
            raise ScriptingError(
                f"FOR: resultset exceeds the {_LOOP_CAP} row cap "
                "(driver-side loop) — express bulk work as one "
                "set-based statement"
            )
        cols = [c.lower() for c in df.columns]
        name = var_t.text.lower()
        shadow = self.vars.get(name)
        try:
            for row in rows:
                self.vars[name] = dict(zip(cols, tuple(row)))
                try:
                    self._run_statements(body, ("END",))
                except _Break:
                    break
                except _Continue:
                    continue
        finally:
            # restore on exceptions too (row dicts must never leak
            # into the EXCEPTION handler's scope)
            self.vars[name] = shadow
        return after

    def _stmt_nested_block(self, start: int, begin_i: int) -> int:
        """[DECLARE …;] BEGIN … END as a statement: run the slice as a
        child block SHARING this block's scopes (Snowflake: outer
        variables are visible and assignments persist; an inner
        DECLARE that reuses an outer name overwrites it — documented
        shadowing deviation). The child runs its own EXCEPTION
        section, making `BEGIN … EXCEPTION WHEN … END` the try/catch
        idiom; RETURN/BREAK/CONTINUE and unhandled exceptions
        propagate to this block."""
        # boundary + child are loop-invariant: a nested block inside a
        # FOR/WHILE body re-runs every iteration — parse once
        cached = getattr(self, "_nested_cache", None)
        if cached is None:
            cached = self._nested_cache = {}
        hit = cached.get(start)
        if hit is None:
            end_i = self._skip_statements(
                self._code(begin_i + 1), ("END",))
            after = self._stmt_end(end_i) + 1
            sub_sql = render(self.toks[start:end_i + 1]).strip()
            child = _Block(self.engine, sub_sql)
            cached[start] = hit = (after, child)
        after, child = hit
        child.vars = self.vars
        child.exceptions = self.exceptions
        child.cursors = self.cursors
        child.resultsets = self.resultsets
        child.run_nested()
        return after

    def _stmt_cursor(self, i: int, verb: str) -> int:
        """OPEN c — evaluate the cursor's query (row-capped);
        FETCH c INTO v1[, v2…] — next row into variables (NULLs when
        exhausted, Snowflake semantics); CLOSE c — free the rows."""
        end = self._stmt_end(i)
        j = self._code(i + 1)
        if j >= end or self.toks[j].kind != WORD:
            raise ScriptingError(f"{verb}: expected a cursor name")
        nm = self.toks[j].text.lower()
        cur = self.cursors.get(nm)
        if cur is None:
            raise ScriptingError(
                f"{verb} {self.toks[j].text}: not a DECLAREd cursor "
                "(DECLARE name CURSOR FOR <query>)"
            )
        if verb == "OPEN":
            df = self.engine.execute(
                self._sub_binds(tokenize(cur["query"])))
            rows = df.limit(_LOOP_CAP + 1).collect()
            if len(rows) > _LOOP_CAP:
                raise ScriptingError(
                    f"OPEN {nm}: cursor exceeds the {_LOOP_CAP} row "
                    "cap (driver-side) — express bulk work as one "
                    "set-based statement"
                )
            cur["rows"] = rows
            cur["pos"] = 0
            cur["cols"] = [c.lower() for c in df.columns]
            return end + 1
        if verb == "CLOSE":
            cur["rows"] = None
            cur["pos"] = 0
            return end + 1
        # FETCH c INTO v1, v2, …
        if cur["rows"] is None:
            raise ScriptingError(f"FETCH {nm}: cursor is not OPEN")
        k = self._code(j + 1)
        if k >= end or not self._word(k, "INTO"):
            raise ScriptingError("FETCH: expected INTO <variables>")
        names: list[str] = []
        k = self._code(k + 1)
        while k < end:
            tk = self.toks[k]
            if tk.kind == WORD:
                names.append(tk.text.lower())
            elif not tk.is_op(","):
                raise ScriptingError(
                    f"FETCH INTO: expected variable names, got "
                    f"{tk.text!r}"
                )
            k = self._code(k + 1)
        if not names:
            raise ScriptingError("FETCH INTO: no variables")
        undeclared = [v for v in names if v not in self.vars]
        if undeclared:
            raise ScriptingError(
                f"FETCH {nm} INTO: variable(s) "
                f"{', '.join(undeclared)} not DECLAREd — declare them "
                "before fetching (a typo here would silently NULL)"
            )
        if len(names) != len(cur["cols"]):
            raise ScriptingError(
                f"FETCH {nm} INTO: {len(names)} variable(s) but the "
                f"cursor has {len(cur['cols'])} column(s) "
                f"({', '.join(cur['cols'])})"
            )
        row = (tuple(cur["rows"][cur["pos"]])
               if cur["pos"] < len(cur["rows"]) else None)
        if row is not None:
            cur["pos"] += 1
        for idx, v in enumerate(names):
            self.vars[v] = row[idx] if row is not None else None
        return end + 1

    def _stmt_while(self, i: int) -> int:
        """``WHILE (c) DO … END WHILE;`` or the LOOP body form
        ``WHILE (c) LOOP … END LOOP;`` (both Snowflake spellings —
        LOOP form r8)."""
        j = self._code(i + 1)
        cond_toks_lo = j
        # the condition is re-evaluated each pass: keep RAW tokens
        depth = 0
        k = j
        while k < len(self.toks):
            t = self.toks[k]
            if t.is_op("("):
                depth += 1
            elif t.is_op(")"):
                depth -= 1
            elif depth == 0 and t.kind == WORD \
                    and t.upper in ("DO", "LOOP"):
                break
            k += 1
        if k >= len(self.toks):
            raise ScriptingError("WHILE: expected DO or LOOP")
        closer = "WHILE" if self.toks[k].upper == "DO" else "LOOP"
        body = self._code(k + 1)
        end_stop = self._skip_statements(body, ("END",))
        j2 = self._code(end_stop + 1)
        if not self._word(j2, closer):
            raise ScriptingError(f"WHILE: expected END {closer}")
        after = self._stmt_end(j2) + 1
        it = 0
        while True:
            cond = self._sub_expr(self.toks[cond_toks_lo:k])
            if not self._eval_bool(cond):
                break
            it += 1
            if it > _LOOP_CAP:
                raise ScriptingError(
                    f"WHILE: exceeded the {_LOOP_CAP} iteration cap"
                )
            try:
                self._run_statements(body, ("END",))
            except _Break:
                break
            except _Continue:
                continue
        return after

    def _stmt_repeat(self, i: int) -> int:
        """``REPEAT …; UNTIL (cond) END REPEAT;`` — Snowflake's
        post-test loop: the body runs at least once, exits when the
        condition evaluates TRUE (r8: the r7 ADVICE END-REPEAT
        mis-split fix made these bodies parse; this makes them run)."""
        body = self._code(i + 1)
        until_i = self._skip_statements(body, ("UNTIL",))
        cond_lo = self._code(until_i + 1)
        end_i = self._skip_statements(cond_lo, ("END",))
        j2 = self._code(end_i + 1)
        if not self._word(j2, "REPEAT"):
            raise ScriptingError("REPEAT: expected END REPEAT")
        after = self._stmt_end(j2) + 1
        it = 0
        while True:
            it += 1
            if it > _LOOP_CAP:
                raise ScriptingError(
                    f"REPEAT: exceeded the {_LOOP_CAP} iteration cap"
                )
            try:
                self._run_statements(body, ("UNTIL",))
            except _Break:
                break
            except _Continue:
                pass
            cond = self._sub_expr(self.toks[cond_lo:end_i])
            if self._eval_bool(cond):
                break
        return after

    def _stmt_loop(self, i: int) -> int:
        """``LOOP … END LOOP;`` — Snowflake's unconditional loop;
        exits via BREAK (or RETURN/RAISE); iteration-capped like every
        driver-side loop (r8 — previously unsupported: 'LOOP is
        unsupported downstream')."""
        body = self._code(i + 1)
        end_i = self._skip_statements(body, ("END",))
        j2 = self._code(end_i + 1)
        if not self._word(j2, "LOOP"):
            raise ScriptingError("LOOP: expected END LOOP")
        after = self._stmt_end(j2) + 1
        it = 0
        while True:
            it += 1
            if it > _LOOP_CAP:
                raise ScriptingError(
                    f"LOOP: exceeded the {_LOOP_CAP} iteration cap — "
                    "add a BREAK condition"
                )
            try:
                self._run_statements(body, ("END",))
            except _Break:
                break
            except _Continue:
                continue
        return after

    def _stmt_case(self, i: int) -> int:
        """CASE STATEMENT (r8): ``CASE [(operand)] WHEN v THEN stmts;
        … [ELSE stmts;] END CASE;``. The simple form compares the
        operand to each WHEN value by EQUALITY (a NULL operand matches
        nothing, like the CASE expression); the searched form
        evaluates each WHEN as a boolean. The first matching branch
        runs; no match and no ELSE is a no-op."""
        j = self._code(i + 1)
        operand_lit = None
        have_operand = False
        operand_span = None
        if self.toks[j].is_op("("):
            close = find_matching_paren(self.toks, j)
            k = self._code(close + 1)
            # a paren group directly followed by WHEN is the simple
            # form's operand; otherwise it is a searched-form
            # condition's leading paren and stays in place
            if self._word(k, "WHEN"):
                operand_span = (j + 1, close)
                j = k
        elif not self._word(j, "WHEN"):
            # bare simple form `CASE expr WHEN …` (r9; Snowflake
            # documents the parenthesized operand but accepts the bare
            # spelling — r8 judge finding #6): the operand runs to the
            # first WHEN at paren depth 0, skipping nested CASE
            # expressions' own WHENs
            k = j
            depth = case_depth = 0
            when_i = None
            while k < len(self.toks):
                t = self.toks[k]
                if t.is_op("("):
                    depth += 1
                elif t.is_op(")"):
                    depth -= 1
                elif depth == 0 and t.kind == WORD:
                    u = t.upper
                    if u == "CASE":
                        case_depth += 1
                    elif u == "END" and case_depth:
                        case_depth -= 1
                    elif u == "WHEN" and not case_depth:
                        when_i = k
                        break
                    elif u in ("END", ";") and not case_depth:
                        break
                elif depth == 0 and t.is_op(";"):
                    break
                k += 1
            if when_i is None:
                raise ScriptingError(
                    "CASE statement: expected WHEN after the operand "
                    "expression (simple form: CASE <expr> WHEN v THEN "
                    "…; searched form: CASE WHEN <cond> THEN …)"
                )
            operand_span = (j, when_i)
            j = when_i
        if operand_span is not None:
            # evaluate the operand ONCE (Snowflake evaluates
            # expression_to_match once — per-arm re-evaluation
            # multiplied engine round-trips and mis-branched on
            # volatile operands; r8 review) and compare the
            # rendered literal per WHEN. Only SCALAR values
            # round-trip through a literal faithfully — arrays/
            # objects/binary fall back to inlining the operand SQL
            # per arm (re-evaluated, but type-correct; r8 review)
            from .runner import IcebreakerEngine

            lo, hi = operand_span
            op_sql = self._sub_expr(self.toks[lo:hi])
            val = self.engine._eval_scalar(op_sql)
            if val is None or isinstance(
                val, (bool, int, float, str)
            ) or type(val).__name__ == "Decimal":
                operand_lit = IcebreakerEngine._render_literal(val)
            else:
                operand_lit = f"({op_sql})"
            have_operand = True
        if not self._word(j, "WHEN"):
            raise ScriptingError(
                "CASE statement: expected WHEN after CASE"
            )
        taken = done = False
        while True:
            if self._word(j, "WHEN"):
                cond, then_i = self._read_cond(self._code(j + 1), "THEN")
                if not done:
                    if have_operand:
                        taken = self._eval_bool(
                            f"({operand_lit}) = ({cond})")
                    else:
                        taken = self._eval_bool(cond)
                i2 = then_i + 1
            elif self._word(j, "ELSE"):
                taken = not done
                i2 = self._code(j + 1)
            else:  # END [CASE] — Snowflake's terminator keyword is
                # optional (r8 review: bare END; is valid)
                j2 = self._code(j + 1)
                if self._word(j2, "CASE"):
                    return self._stmt_end(j2) + 1
                return self._stmt_end(j) + 1
            if taken:
                stop = self._run_statements(i2, ("WHEN", "ELSE", "END"))
                done = True
                taken = False
            else:
                stop = self._skip_statements(
                    i2, ("WHEN", "ELSE", "END"), head_only=("WHEN",))
            j = stop

    def _stmt_return(self, i: int) -> None:
        end = self._stmt_end(i)
        j = self._code(i + 1)
        if j >= end:
            raise _Return(driver_frame(self.engine.spark,
                                       [("anonymous block", None)],
                                       "statement string, value string"))
        if self._word(j, "TABLE"):
            k = self._code(j + 1)
            if k < end and self.toks[k].is_op("("):
                close = find_matching_paren(self.toks, k)
                # RETURN TABLE(rs) — a resultset variable's value
                inner_code = [t for t in self.toks[k + 1:close]
                              if t.kind not in (WS, COMMENT)]
                if (
                    len(inner_code) == 1 and inner_code[0].kind == WORD
                    and inner_code[0].text.lower() in self.resultsets
                ):
                    df = self.resultsets[inner_code[0].text.lower()]
                    if df is None:
                        raise ScriptingError(
                            f"RETURN TABLE({inner_code[0].text}): the "
                            "resultset has no value yet"
                        )
                    raise _Return(df)
                inner = self._sub_binds(self.toks[k + 1:close])
                raise _Return(self.engine.execute(inner))
        expr = self._sub_expr(self.toks[j:end])
        raise _Return(self.engine._scalar_query(f"({expr})", "value"))


def run_block(engine, sql: str, init_vars: Optional[dict] = None):
    """Interpret one anonymous block; returns the RETURN value as a
    DataFrame (or a completed-status frame). ``init_vars`` pre-seeds
    the variable scope (CALL procedure arguments)."""
    return _Block(engine, sql, init_vars=init_vars).run()
