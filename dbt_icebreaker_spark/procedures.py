"""Stored procedures (``CREATE PROCEDURE … LANGUAGE SQL``) + ``CALL``.

Snowflake SQL-language procedures wrap a Snowflake Scripting body; the
engine stores them in a session-scoped registry (Spark's catalog has no
procedure object — same locality as temp views, which is also where the
reference's dbt-session state lives: ref connections.py session model)
and ``CALL`` seeds the body's scripting block with the evaluated,
type-cast arguments. Overloads resolve by arity (Snowflake resolves by
signature; arity is the deterministic subset expressible without a
type-inference pass over call arguments). JAVASCRIPT / PYTHON / JAVA /
SCALA bodies refuse actionably, same as CREATE FUNCTION.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from .session import driver_frame
from .transpiler.tokenizer import (
    COMMENT,
    STRING,
    WORD,
    WS,
    find_matching_paren,
    next_code,
    render,
    render_code,
    split_args,
    tokenize,
)


class ProcedureError(ValueError):
    pass


_CALL_DEPTH_CAP = 32


@dataclass
class ProcArg:
    name: str
    sf_type: str                      # Snowflake spelling (for messages)
    spark_type: str                   # mapped cast target
    default_sql: Optional[str] = None


@dataclass
class Procedure:
    name: str                         # upper-cased
    args: list[ProcArg] = field(default_factory=list)
    returns_table: bool = False
    returns_type: Optional[str] = None  # Spark type for scalar returns
    body: str = ""
    replace: bool = False  # CREATE OR REPLACE (token-parsed)

    @property
    def min_args(self) -> int:
        return sum(1 for a in self.args if a.default_sql is None)


def _unquote_body(tok) -> str:
    txt = tok.text
    if txt.startswith("$$"):
        return txt[2:-2]
    return txt[1:-1].replace("''", "'")


def _is_create_procedure_head(code) -> tuple[int, bool] | None:
    """(index of the PROCEDURE keyword, replace?) when the statement
    head is CREATE [OR REPLACE] PROCEDURE, else None."""
    if not code or not code[0].is_word("CREATE"):
        return None
    k = 1
    replace = False
    if k + 1 < len(code) and code[k].is_word("OR") and code[k + 1].is_word(
        "REPLACE"
    ):
        replace = True
        k += 2
    if k < len(code) and code[k].is_word("PROCEDURE"):
        return (k, replace)
    return None


def whole_input_is_unquoted_procedure(sql: str) -> bool:
    """True when the input starts with CREATE [OR REPLACE] PROCEDURE
    whose AS body is NOT a string/$$ literal — then the WHOLE input is
    one statement (its body ';'s must not be split). Quoted / $$
    bodies are single tokens and ride the normal per-statement path."""
    # cheap pre-check: execute() calls this on EVERY input — don't pay
    # a tokenize pass unless the head can be CREATE (or a comment)
    head = sql.lstrip()[:7].upper()
    if not (head.startswith("CREATE") or head.startswith("--")
            or head.startswith("/*")):
        return False
    toks = tokenize(sql)
    code = [t for t in toks if t.kind not in (WS, COMMENT)]
    if _is_create_procedure_head(code) is None:
        return False
    depth = 0
    for k, t in enumerate(code):
        if t.is_op("("):
            depth += 1
        elif t.is_op(")"):
            depth -= 1
        elif depth == 0 and t.is_word("AS"):
            # EXECUTE AS CALLER|OWNER is a property, not the body
            if k > 0 and code[k - 1].is_word("EXECUTE"):
                continue
            j = k + 1
            if j < len(code):
                return code[j].kind != STRING
    return False


def _scan_block_end(code, begin_i: int) -> Optional[int]:
    """Index (into ``code``, a WS/COMMENT-free token list) of the END
    closing the BEGIN at ``begin_i`` — tracks nested BEGIN/IF/FOR/
    WHILE/CASE … END pairs. None when unterminated (caller falls back
    to whole-input behavior and downstream raises actionably)."""

    def stmt_head(j: int) -> bool:
        if j == 0:
            return True
        t = code[j - 1]
        return t.is_op(";") or t.is_word(
            "BEGIN", "THEN", "ELSE", "DO", "LOOP", "REPEAT")

    stack = ["BEGIN"]
    j = begin_i + 1
    n = len(code)
    while j < n:
        t = code[j]
        if t.kind == WORD:
            u = t.upper
            if u == "CASE":
                stack.append("CASE")
            elif u in ("IF", "FOR", "WHILE", "REPEAT", "LOOP") \
                    and stmt_head(j):
                # REPEAT … UNTIL … END REPEAT is valid Snowflake
                # scripting: without the push its END REPEAT would pop
                # the enclosing BEGIN and mis-split the body (r7
                # ADVICE); bare LOOP … END LOOP likewise (r8)
                stack.append(u)
            elif u == "BEGIN" and stmt_head(j):
                nxt = code[j + 1] if j + 1 < n else None
                if not (nxt is not None
                        and nxt.is_word("TRANSACTION", "WORK", "NAME")):
                    stack.append("BEGIN")
            elif u == "END":
                nxt = code[j + 1] if j + 1 < n else None
                if nxt is not None and nxt.kind == WORD \
                        and nxt.upper in ("IF", "FOR", "WHILE",
                                          "CASE", "LOOP", "REPEAT"):
                    # END CASE pops its CASE; END LOOP closes
                    # whichever loop construct opened (bare LOOP, or
                    # the FOR/WHILE … LOOP body form — r8); an
                    # END-<kw> never pops the BEGIN (r7 review)
                    top = stack[-1] if stack else None
                    if top == nxt.upper or (
                        nxt.upper == "LOOP"
                        and top in ("FOR", "WHILE", "LOOP")
                    ):
                        stack.pop()
                    j += 2
                    continue
                if stack:
                    stack.pop()
                if not stack:
                    return j
        j += 1
    return None


def split_unquoted_procedure(sql: str) -> tuple[str, Optional[str]]:
    """Split a whole-input unquoted-body CREATE PROCEDURE into
    (create_statement, trailing_sql_or_None). Without this, any
    statements after the body block's END would be silently absorbed
    into the stored body and never execute. A block body ends at its
    matching END; a single-statement body ends at the first depth-0
    ';'. When the end can't be located the whole input stays one
    statement (previous behavior)."""
    toks = tokenize(sql)
    code, code_idx = [], []
    for ti, t in enumerate(toks):
        if t.kind not in (WS, COMMENT):
            code.append(t)
            code_idx.append(ti)
    # locate the body start: the depth-0 AS that isn't EXECUTE AS
    depth = 0
    body_k = None
    for k, t in enumerate(code):
        if t.is_op("("):
            depth += 1
        elif t.is_op(")"):
            depth -= 1
        elif depth == 0 and t.is_word("AS"):
            if k > 0 and code[k - 1].is_word("EXECUTE"):
                continue
            body_k = k + 1
            break
    if body_k is None or body_k >= len(code):
        return sql, None
    t0 = code[body_k]
    end_k: Optional[int] = None
    if t0.is_word("BEGIN"):
        end_k = _scan_block_end(code, body_k)
    elif t0.is_word("DECLARE"):
        d2 = 0
        for k2 in range(body_k + 1, len(code)):
            tt = code[k2]
            if tt.is_op("("):
                d2 += 1
            elif tt.is_op(")"):
                d2 -= 1
            elif d2 == 0 and tt.is_word("BEGIN"):
                end_k = _scan_block_end(code, k2)
                break
    else:
        # unquoted non-block body: one statement (Snowflake requires
        # BEGIN…END or $$ quoting for more)
        d2 = 0
        for k2 in range(body_k, len(code)):
            tt = code[k2]
            if tt.is_op("("):
                d2 += 1
            elif tt.is_op(")"):
                d2 -= 1
            elif d2 == 0 and tt.is_op(";"):
                end_k = k2 - 1
                break
        if end_k is None:
            end_k = len(code) - 1
    if end_k is None:
        return sql, None
    after = end_k + 1
    if after < len(code) and code[after].is_op(";"):
        after += 1
    if after >= len(code):
        return sql, None
    return (render(toks[:code_idx[after]]).strip(),
            render(toks[code_idx[after]:]).strip() or None)


def parse_create_procedure(raw: str) -> Optional[Procedure]:
    """Parse ``CREATE [OR REPLACE] PROCEDURE name(arg TYPE [DEFAULT e],
    …) RETURNS <type>|TABLE(…) [LANGUAGE SQL] [properties…] AS <body>``.
    Returns None when the statement is anything else."""
    from .transpiler.transforms import _cf_map_type

    toks = tokenize(raw)
    code = []
    code_idx = []  # code position → index into toks (for body slicing)
    for ti, t in enumerate(toks):
        if t.kind not in (WS, COMMENT):
            code.append(t)
            code_idx.append(ti)
    head = _is_create_procedure_head(code)
    if head is None:
        return None
    k, replace = head
    k += 1
    if k >= len(code) or code[k].kind == STRING:
        raise ProcedureError("CREATE PROCEDURE: expected a procedure name")
    name = code[k].text.strip('"').upper()
    k += 1
    # dotted name: keep the last segment (session registry is flat)
    while k + 1 < len(code) and code[k].is_op("."):
        name = code[k + 1].text.strip('"').upper()
        k += 2
    if k >= len(code) or not code[k].is_op("("):
        raise ProcedureError(
            f"CREATE PROCEDURE {name}: expected an argument list (use "
            "() for none)"
        )
    close = find_matching_paren(code, k)
    args: list[ProcArg] = []
    for lo, hi in split_args(code, k + 1, close):
        seg = code[lo:hi]
        if not seg:
            continue
        if seg[0].kind != WORD:
            raise ProcedureError(
                f"CREATE PROCEDURE {name}: expected an argument name, "
                f"got {seg[0].text!r}"
            )
        a_name = seg[0].text.lower()
        j = 1
        if j >= len(seg):
            raise ProcedureError(
                f"CREATE PROCEDURE {name}: argument {a_name!r} needs a "
                "type"
            )
        spark_type, after = _cf_map_type(seg, j)
        sf_type = render_code(seg[j:after]).strip() if after <= len(seg) else ""
        default_sql = None
        if after < len(seg):
            if seg[after].is_word("DEFAULT"):
                default_sql = render_code(seg[after + 1:]).strip()
            else:
                raise ProcedureError(
                    f"CREATE PROCEDURE {name}: unexpected "
                    f"{render_code(seg[after:]).strip()!r} after argument "
                    f"{a_name!r}"
                )
        args.append(ProcArg(a_name, sf_type, spark_type, default_sql))
    k = close + 1
    proc = Procedure(name=name, args=args, replace=replace)
    # properties between the signature and AS
    seen_returns = False
    while k < len(code) and not code[k].is_word("AS"):
        t = code[k]
        if t.is_word("RETURNS"):
            k += 1
            # RETURNS NULL ON NULL INPUT is a null-handling property,
            # not a second type clause
            if (
                seen_returns and k + 1 < len(code)
                and code[k].is_word("NULL") and code[k + 1].is_word("ON")
            ):
                k += 4  # NULL ON NULL INPUT
                continue
            seen_returns = True
            if k < len(code) and code[k].is_word("TABLE"):
                proc.returns_table = True
                k += 1
                if k < len(code) and code[k].is_op("("):
                    k = find_matching_paren(code, k) + 1
            else:
                spark_type, k = _cf_map_type(code, k)
                proc.returns_type = spark_type
            # NOT NULL suffix
            if k + 1 < len(code) and code[k].is_word("NOT") \
                    and code[k + 1].is_word("NULL"):
                k += 2
            continue
        if t.is_word("LANGUAGE"):
            k += 1
            lang = code[k].upper if k < len(code) else ""
            if lang != "SQL":
                raise ProcedureError(
                    f"CREATE PROCEDURE {name}: LANGUAGE {lang} is not "
                    "supported — the engine interprets SQL (Snowflake "
                    "Scripting) bodies; port handler code to a "
                    "scripting block or a Spark-side pandas UDF "
                    "(xops.llm shows the pattern for external calls)"
                )
            k += 1
            continue
        if t.is_word("COMMENT"):
            k += 1
            if k < len(code) and code[k].is_op("="):
                k += 1
            k += 1
            continue
        if t.is_word("EXECUTE"):  # EXECUTE AS CALLER|OWNER — no-op here
            k += 3 if k + 2 < len(code) else len(code)
            continue
        if t.is_word("CALLED"):  # CALLED ON NULL INPUT
            k += 1
            continue
        if t.is_word("ON", "NULL", "INPUT", "STRICT", "IMMUTABLE",
                     "VOLATILE", "COPY", "GRANTS"):
            k += 1
            continue
        raise ProcedureError(
            f"CREATE PROCEDURE {name}: unsupported property "
            f"{t.text!r} before AS"
        )
    if not seen_returns:
        raise ProcedureError(
            f"CREATE PROCEDURE {name}: a RETURNS clause is required "
            "(Snowflake requires one; use RETURNS VARCHAR for a "
            "status-string procedure)"
        )
    if k >= len(code):
        raise ProcedureError(f"CREATE PROCEDURE {name}: missing AS <body>")
    k += 1  # past AS
    if k >= len(code):
        raise ProcedureError(f"CREATE PROCEDURE {name}: empty body")
    if code[k].kind == STRING:
        proc.body = _unquote_body(code[k])
    else:
        # unquoted body: everything from this token to the end of the
        # input (whole-input form — execute() routed us here)
        body = render(toks[code_idx[k]:])
        proc.body = body.strip().rstrip(";").strip()
    return proc


def parse_drop_procedure(raw: str):
    """``DROP PROCEDURE [IF EXISTS] name[(types…)]`` →
    (name, signature|None, if_exists), else None. The signature is
    the list of type spellings; round 7 — matching is by TYPE FAMILY
    per position, so same-arity overloads drop individually."""
    toks = tokenize(raw)
    code = [t for t in toks if t.kind not in (WS, COMMENT)]
    if len(code) < 2 or not code[0].is_word("DROP") \
            or not code[1].is_word("PROCEDURE"):
        return None
    k = 2
    if_exists = False
    if k + 1 < len(code) and code[k].is_word("IF") \
            and code[k + 1].is_word("EXISTS"):
        if_exists = True
        k += 2
    if k >= len(code):
        raise ProcedureError("DROP PROCEDURE: expected a name")
    name = code[k].text.strip('"').upper()
    k += 1
    while k + 1 < len(code) and code[k].is_op("."):
        name = code[k + 1].text.strip('"').upper()
        k += 2
    signature = None
    if k < len(code) and code[k].is_op("("):
        close = find_matching_paren(code, k)
        signature = [
            render_code(code[lo:hi]).strip()
            for lo, hi in split_args(code, k + 1, close)
        ]
    return (name, signature, if_exists)


def parse_call(raw: str):
    """``CALL name(arg, …)`` with positional and/or ``name => expr``
    named arguments → (name, [pos_sql], {name: sql}), else None."""
    toks = tokenize(raw)
    code = [t for t in toks if t.kind not in (WS, COMMENT)]
    if not code or not code[0].is_word("CALL"):
        return None
    k = 1
    if k >= len(code) or code[k].kind != WORD:
        raise ProcedureError("CALL: expected a procedure name")
    name = code[k].text.strip('"').upper()
    k += 1
    while k + 1 < len(code) and code[k].is_op("."):
        name = code[k + 1].text.strip('"').upper()
        k += 2
    pos_args: list[str] = []
    named: dict[str, str] = {}
    if k < len(code) and code[k].is_op("("):
        close = find_matching_paren(code, k)
        for lo, hi in split_args(code, k + 1, close):
            seg = code[lo:hi]
            if not seg:
                continue
            if (
                len(seg) >= 2 and seg[0].kind == WORD
                and seg[1].is_op("=>")
            ):
                named[seg[0].text.lower()] = render_code(seg[2:]).strip()
            else:
                if named:
                    raise ProcedureError(
                        f"CALL {name}: positional argument after a "
                        "named one"
                    )
                pos_args.append(render_code(seg).strip())
    return (name, pos_args, named)


# ------------------------------------------------------------- runtime
def register_procedure(engine, proc: Procedure, replace: bool) -> None:
    """Overload identity is the per-position TYPE-FAMILY signature
    (round 7; matches _resolve_overload's granularity) — same-arity
    overloads with different argument types coexist, Snowflake-style;
    only an identical signature conflicts/replaces."""
    bucket = engine._procedures.setdefault(proc.name, [])
    fams = [_family_or_head(a.sf_type) for a in proc.args]
    for i, existing in enumerate(bucket):
        if len(existing.args) == len(proc.args) and [
            _family_or_head(a.sf_type) for a in existing.args
        ] == fams:
            if not replace:
                sig = ", ".join(a.sf_type for a in proc.args)
                raise ProcedureError(
                    f"procedure {proc.name}({sig}) already exists — "
                    "use CREATE OR REPLACE PROCEDURE"
                )
            bucket[i] = proc
            return
    bucket.append(proc)


def drop_procedure(engine, name: str, signature, if_exists: bool) -> bool:
    bucket = engine._procedures.get(name, [])
    if signature is None:
        if len(bucket) > 1:
            raise ProcedureError(
                f"DROP PROCEDURE {name}: multiple overloads exist — "
                "name the signature, e.g. DROP PROCEDURE "
                f"{name}(VARCHAR)"
            )
        if bucket:
            del engine._procedures[name]
            return True
    else:
        arity = len(signature)
        # the signature must MATCH the dropped overload's types even
        # when only one same-arity candidate exists — DROP P(NUMBER)
        # must not silently delete P(VARCHAR) (r7 review finding)
        fits = [
            (i, p) for i, p in enumerate(bucket)
            if len(p.args) == arity and all(
                _sig_position_matches(st, a.sf_type)
                for st, a in zip(signature, p.args)
            )
        ]
        # register identity (_family_or_head per position) guarantees
        # at most one coexisting overload can match per position — no
        # tie-break needed
        if fits:
            i = fits[0][0]
            del bucket[i]
            if not bucket:
                del engine._procedures[name]
            return True
        if not if_exists and bucket:
            sigs = "; ".join(
                "(" + ", ".join(a.sf_type for a in p.args) + ")"
                for p in bucket)
            raise ProcedureError(
                f"DROP PROCEDURE {name}: no overload with signature "
                f"({', '.join(signature)}) — registered: [{sigs}]"
            )
    if if_exists:
        return False
    raise ProcedureError(
        f"DROP PROCEDURE: {name} is not a registered procedure in "
        "this engine session"
    )


# type families for overload resolution (both Snowflake and mapped
# Spark spellings appear in ProcArg fields)
_TYPE_FAMILY = {
    # Snowflake: every integer spelling is an ALIAS of NUMBER(38,0) —
    # one family; FLOAT/DOUBLE are a distinct (approximate) family
    **dict.fromkeys(
        ("INT", "INTEGER", "BIGINT", "SMALLINT", "TINYINT", "BYTEINT",
         "LONG", "NUMBER", "NUMERIC", "DECIMAL", "DEC"), "num"),
    **dict.fromkeys(
        ("FLOAT", "FLOAT4", "FLOAT8", "DOUBLE", "REAL"), "float"),
    **dict.fromkeys(
        ("VARCHAR", "CHAR", "CHARACTER", "STRING", "TEXT", "NVARCHAR",
         "NVARCHAR2", "NCHAR"), "str"),
    **dict.fromkeys(("BOOLEAN", "BOOL"), "bool"),
    "DATE": "date",
    **dict.fromkeys(
        ("TIMESTAMP", "TIMESTAMP_NTZ", "TIMESTAMP_LTZ", "TIMESTAMP_TZ",
         "DATETIME"), "timestamp"),
    "TIME": "time",
}


def _type_family(type_sql: str) -> Optional[str]:
    head = type_sql.strip().split("(")[0].strip().upper()
    return _TYPE_FAMILY.get(head)


def _family_or_head(type_sql: str) -> str:
    """Type family, falling back to the bare type-name head for
    spellings outside the family table (VARIANT/OBJECT/ARRAY/…) so
    distinct unknown types never compare as identical (r7 review)."""
    head = type_sql.strip().split("(")[0].strip().upper()
    return _TYPE_FAMILY.get(head) or head


def _sig_position_matches(sig_t: str, declared_t: str) -> bool:
    """One DROP-signature position vs a declared argument type:
    family equality when both are known, else exact head equality."""
    sf, df_ = _type_family(sig_t), _type_family(declared_t)
    if sf is not None and df_ is not None:
        return sf == df_
    return (sig_t.strip().split("(")[0].strip().upper()
            == declared_t.strip().split("(")[0].strip().upper())


def _strip_precision_group(seq: list) -> list:
    """Drop a trailing ``(n[, n])`` precision group (NUMBER/commas
    only) so cast checks see the type WORD last — makes
    ``x::DECIMAL(10,2)`` and ``CAST(x AS VARCHAR(20))`` classifiable
    (r7 review finding)."""
    from .transpiler.tokenizer import NUMBER

    if not seq or not seq[-1].is_op(")"):
        return seq
    depth = 0
    for q in range(len(seq) - 1, -1, -1):
        t = seq[q]
        if t.is_op(")"):
            depth += 1
        elif t.is_op("("):
            depth -= 1
            if depth == 0:
                inner = seq[q + 1:len(seq) - 1]
                if inner and all(
                    x.kind == NUMBER or x.is_op(",") for x in inner
                ) and q >= 1 and seq[q - 1].kind == WORD:
                    return seq[:q]
                return seq
    return seq


def _arg_family(sql: str) -> Optional[str]:
    """Best-effort type family of a CALL argument's SQL text — literal
    shapes and explicit casts only; anything else is unknown (None),
    which matches every overload neutrally."""
    from .transpiler.tokenizer import NUMBER, OP

    code = [t for t in tokenize(sql) if t.kind not in (WS, COMMENT)]
    if not code:
        return None
    # strip one unary sign
    if len(code) >= 2 and code[0].is_op("-", "+"):
        code = code[1:]
    # trailing ::TYPE[(p,s)] cast at depth 0 wins — family-or-head so
    # casts to OBJECT/ARRAY/… resolve unknown-family overloads
    cand = _strip_precision_group(code)
    if len(cand) >= 2 and cand[-1].kind == WORD \
            and cand[-2].kind == OP and cand[-2].text == "::":
        return _family_or_head(cand[-1].text)
    # CAST(x AS TYPE[(p,s)])
    if (
        len(code) >= 5 and code[0].is_word("CAST", "TRY_CAST")
        and code[1].is_op("(") and code[-1].is_op(")")
    ):
        inner = _strip_precision_group(code[2:-1])
        if len(inner) >= 2 and inner[-1].kind == WORD \
                and inner[-2].is_word("AS"):
            return _family_or_head(inner[-1].text)
    if len(code) == 1:
        t = code[0]
        if t.kind == NUMBER:
            # Snowflake numeric literals are NUMBER (decimal) — only
            # an exponent spelling is a FLOAT literal
            return "float" if "e" in t.text.lower() else "num"
        if t.kind == STRING:
            return "str"
        if t.is_word("TRUE", "FALSE"):
            return "bool"
        if t.is_word("NULL"):
            return "null"
        return None
    # DATE '…' / TIMESTAMP '…' / TIME '…' literals
    if len(code) == 2 and code[0].kind == WORD \
            and code[1].kind == STRING:
        return _type_family(code[0].text)
    return None


_KNOWN_FAMS = frozenset(
    {"num", "float", "str", "bool", "date", "timestamp", "time"})


def _arg_score(call_fam: Optional[str], param_fam: Optional[str]) -> int:
    """3 = exact family (or equal opaque type head), 2 = numeric
    widening, 1 = implicit varchar/unknown/NULL coercion, 0 = needs a
    lossy double cast."""
    if call_fam in (None, "null") or param_fam is None:
        return 1
    if call_fam == param_fam:
        return 3
    if call_fam not in _KNOWN_FAMS or param_fam not in _KNOWN_FAMS:
        return 1  # an opaque head (OBJECT/ARRAY/…) — can't judge
    if {call_fam, param_fam} == {"num", "float"}:
        return 2
    if {call_fam, param_fam} <= {"date", "timestamp"}:
        return 2
    if call_fam == "str" or param_fam == "str":
        return 1  # Snowflake casts to/from VARCHAR implicitly
    return 0


def _resolve_overload(engine, name: str, pos_args: list,
                      named: dict) -> Procedure:
    """Pick the overload by arity AND argument-type compatibility
    (Snowflake resolves by signature: exact type match beats implicit
    cast). Genuine ties still refuse."""
    n_supplied = len(pos_args) + len(named)
    bucket = engine._procedures.get(name)
    if not bucket:
        known = sorted(engine._procedures)
        hint = f" (registered: {', '.join(known)})" if known else ""
        raise ProcedureError(
            f"CALL {name}: no such procedure in this engine session"
            f"{hint} — CREATE PROCEDURE first (the registry is "
            "session-scoped, like temp views)"
        )
    fits = [
        p for p in bucket
        if p.min_args <= n_supplied <= len(p.args)
        and all(any(a.name == nm for a in p.args) for nm in named)
    ]
    if not fits:
        sigs = ", ".join(f"{len(p.args)} args" for p in bucket)
        raise ProcedureError(
            f"CALL {name}: no overload takes {n_supplied} argument(s) "
            f"(have: {sigs})"
        )
    if len(fits) == 1:
        return fits[0]
    # rank by type compatibility of each SUPPLIED argument against the
    # overload's parameter (positional by index, named by name)
    def score(p: Procedure) -> tuple:
        per = []
        for i, sql in enumerate(pos_args):
            per.append(_arg_score(_arg_family(sql),
                                  _family_or_head(p.args[i].sf_type)))
        for nm, sql in named.items():
            a = next(x for x in p.args if x.name == nm)
            per.append(_arg_score(_arg_family(sql),
                                  _family_or_head(a.sf_type)))
        # min first (reject any-incompatible), then sum (overall fit)
        return (min(per) if per else 1, sum(per))

    scored = sorted(((score(p), p) for p in fits),
                    key=lambda sp: sp[0], reverse=True)
    best = scored[0][0]
    top = [p for s, p in scored if s == best]
    if len(top) > 1:
        sigs = "; ".join(
            "(" + ", ".join(a.sf_type for a in p.args) + ")" for p in top
        )
        raise ProcedureError(
            f"CALL {name}: ambiguous between {len(top)} overloads for "
            f"{n_supplied} argument(s) [{sigs}] — cast arguments to "
            "the intended types or call with the exact arity"
        )
    return top[0]


def run_call(engine, name: str, pos_args: list[str],
             named: dict[str, str]):
    """Evaluate arguments, seed the body block's variables, run it,
    and shape the result (scalar returns surface as one column named
    after the procedure, Snowflake-style)."""
    from .scripting import is_scripting_block, run_block

    depth = getattr(engine, "_call_depth", 0)
    if depth >= _CALL_DEPTH_CAP:
        raise ProcedureError(
            f"CALL {name}: procedure call depth exceeded "
            f"{_CALL_DEPTH_CAP} — recursive procedures must bound "
            "their recursion"
        )
    proc = _resolve_overload(engine, name, pos_args, named)
    # map supplied args onto the signature
    supplied: dict[str, str] = {}
    for i, sql in enumerate(pos_args):
        supplied[proc.args[i].name] = sql
    for nm, sql in named.items():
        if nm in supplied:
            raise ProcedureError(
                f"CALL {name}: argument {nm!r} given positionally and "
                "by name"
            )
        supplied[nm] = sql
    init_vars = {}
    for a in proc.args:
        sql = supplied.get(a.name, a.default_sql)
        if sql is None:
            raise ProcedureError(
                f"CALL {name}: missing argument {a.name!r} "
                f"({a.sf_type})"
            )
        init_vars[a.name] = engine._eval_scalar(
            f"CAST(({sql}) AS {a.spark_type})")
    body = proc.body
    if not is_scripting_block(body):
        body = f"BEGIN\n{body.strip()}\n;\nEND"
    engine._call_depth = depth + 1
    try:
        df = run_block(engine, body, init_vars=init_vars)
    finally:
        engine._call_depth = depth
    if proc.returns_table:
        return df
    cols = df.columns
    if len(cols) == 1:
        out = df.toDF(proc.name)
    elif cols == ["statement", "value"] or cols == ["statement", "status"]:
        # RETURN with no value / completed block
        out = df.selectExpr(f"{cols[1]} AS {proc.name}")
    else:
        out = df
    if proc.returns_type and len(out.columns) == 1:
        out = out.selectExpr(
            f"CAST({out.columns[0]} AS {proc.returns_type}) "
            f"AS {proc.name}"
        )
    return out


def show_procedures(engine):
    rows = [
        (p.name, len(p.args),
         ", ".join(f"{a.name} {a.sf_type}" for a in p.args),
         "TABLE" if p.returns_table else (p.returns_type or ""))
        for bucket in engine._procedures.values() for p in bucket
    ]
    return driver_frame(
        engine.spark, rows,
        "name string, arity int, arguments string, returns string",
    )
