"""CREATE SEQUENCE / NEXTVAL — engine-session sequence objects.

Snowflake sequences are explicitly GAP-TOLERANT (values are unique and
increasing, but not gap-free — Snowflake's own documented contract),
which admits a faithful distributed rendering without a global
counter service:

- the engine keeps a session registry ``name → (start, increment,
  next)``;
- each statement referencing ``seq.NEXTVAL`` substitutes, at
  statement-prepare time (the same stage as session variables):

  * a single-row ``SELECT`` with no FROM: occurrence *k* becomes the
    literal ``next + k·inc`` and the cursor advances by
    ``n_occurrences·inc`` — the probe shape ``SELECT s.NEXTVAL``
    yields 1, 2, 3, …;
  * any row-producing statement: occurrence *k* becomes
    ``next + k·inc + (partition·2^24 + row)·K·inc`` with
    ``K = n_occurrences`` — unique per (row, occurrence), increasing
    in row order within a partition, fully distributed (no shuffle,
    no driver loop). The compact offset (not the raw
    ``monotonically_increasing_id``, whose partition·2^33 stride
    overflowed INT target columns on the second partition) covers
    2^20 partitions × 16M rows/partition and raise_errors past
    either bound instead of silently colliding (override via
    SPARK_GRAFT_SEQ_ROWS_PER_PARTITION_BITS); the cursor then
    advances by a block reservation of ``K·inc·2^44`` — gaps are the
    documented contract, collisions never are.

Reference parity: the reference transpiles sequences away entirely
(dbt projects use them for surrogate keys); this keeps the DDL + the
per-row NEXTVAL surface live. ref transpiler.py has no equivalent —
cited for the absence.
"""

from __future__ import annotations

from dataclasses import dataclass

import os as _os

from .session import driver_frame

# rows-per-partition capacity of the compact distributed offset
# (partition << bits | row); override via env when a single statement
# legitimately carries more rows per partition
_ROWS_PER_PARTITION_BITS = int(_os.environ.get(
    "SPARK_GRAFT_SEQ_ROWS_PER_PARTITION_BITS", "24"))

# the cursor's per-statement block reservation must cover the largest
# offset a statement can emit: pid < 2^20 partitions × 2^cap rows →
# offsets < 2^(cap+20). A FIXED 44-bit reservation silently collided
# across statements the moment the env var exceeded 24 — exactly the
# knob the guard message tells users to raise (r11 advisor finding) —
# so the reservation scales with it.
_BLOCK_BITS = max(44, _ROWS_PER_PARTITION_BITS + 20)


@dataclass
class Sequence:
    name: str
    start: int
    increment: int
    next: int


def _code_words(raw: str) -> list:
    from .transpiler.transforms import COMMENT, WS, tokenize

    return [t for t in tokenize(raw) if t.kind not in (WS, COMMENT)]


def parse_create_sequence(raw: str):
    """CREATE [OR REPLACE] SEQUENCE [IF NOT EXISTS] name
    [WITH] [START [WITH|=] n] [INCREMENT [BY|=] n] [COMMENT = '…']
    → (name, start, increment, replace, if_not_exists) or None."""
    code = _code_words(raw)
    words = [t.upper for t in code if t.kind == "word"]
    if not words or words[0] != "CREATE" or "SEQUENCE" not in words[:4]:
        return None
    i = 1
    replace = False
    if [w for w in words[1:3]] == ["OR", "REPLACE"]:
        replace = True
        i = 3
    if i >= len(words) or words[i] != "SEQUENCE":
        return None
    # walk tokens from the SEQUENCE keyword
    ti = next(k for k, t in enumerate(code)
              if t.kind == "word" and t.upper == "SEQUENCE")
    ti += 1
    if_not_exists = False
    ups = [t.upper if t.kind == "word" else t.text for t in code]
    if ups[ti:ti + 3] == ["IF", "NOT", "EXISTS"]:
        if_not_exists = True
        ti += 3
    if ti >= len(code) or code[ti].kind not in ("word", "qident"):
        raise ValueError("CREATE SEQUENCE: missing sequence name")
    name = code[ti].text.strip('"').lower()
    ti += 1
    start, inc = 1, 1

    def read_int(j):
        neg = False
        if j < len(code) and code[j].text in ("=", "WITH", "BY", "with",
                                              "by"):
            j += 1
        if j < len(code) and code[j].text == "-":
            neg, j = True, j + 1
        if j < len(code) and code[j].kind == "number":
            v = int(float(code[j].text))
            return (-v if neg else v), j + 1
        raise ValueError(
            "CREATE SEQUENCE: START/INCREMENT need an integer literal")

    while ti < len(code):
        u = code[ti].upper if code[ti].kind == "word" else ""
        if u == "WITH":
            ti += 1
        elif u == "START":
            start, ti = read_int(ti + 1)
        elif u == "INCREMENT":
            inc, ti = read_int(ti + 1)
        elif u == "COMMENT":
            ti += 1
            if ti < len(code) and code[ti].text == "=":
                ti += 1
            ti += 1  # the comment string
        elif u == "ORDER" or u == "NOORDER":
            # Snowflake ORDER/NOORDER: NOORDER is the default and the
            # block-reservation rendering is NOORDER-shaped; ORDER
            # (strictly increasing across statements) also holds here
            ti += 1
        else:
            raise ValueError(
                f"CREATE SEQUENCE: cannot parse {code[ti].text!r} — "
                "supported: START [WITH] n, INCREMENT [BY] n, "
                "COMMENT, ORDER/NOORDER")
    if inc == 0:
        raise ValueError("CREATE SEQUENCE: INCREMENT must be non-zero")
    return name, start, inc, replace, if_not_exists


def parse_drop_sequence(raw: str):
    code = _code_words(raw)
    words = [t.upper if t.kind == "word" else t.text for t in code]
    if words[:2] != ["DROP", "SEQUENCE"]:
        return None
    i = 2
    if_exists = False
    if words[i:i + 2] == ["IF", "EXISTS"]:
        if_exists = True
        i += 2
    if i >= len(code):
        raise ValueError("DROP SEQUENCE: missing sequence name")
    return code[i].text.strip('"').lower(), if_exists


def create_sequence(engine, name, start, inc, replace, if_not_exists):
    seqs = engine._sequences
    if name in seqs and not replace and not if_not_exists:
        raise ValueError(
            f"sequence {name} already exists — use CREATE OR REPLACE "
            "SEQUENCE or IF NOT EXISTS")
    if name in seqs and if_not_exists and not replace:
        return False
    seqs[name] = Sequence(name, start, inc, start)
    return True


def substitute_nextval(engine, raw: str) -> str:
    """Replace every ``<seq>.NEXTVAL`` in the statement per the module
    contract. Unknown sequence names raise actionably."""
    from .transpiler.transforms import (
        COMMENT,
        WS,
        render,
        tokenize,
    )

    toks = tokenize(raw)
    # find occurrences: WORD/QIDENT '.' NEXTVAL
    occ = []  # (start_tok_idx, end_tok_idx_exclusive, seq_name)
    code_idx = [i for i, t in enumerate(toks)
                if t.kind not in (WS, COMMENT)]
    for p, i in enumerate(code_idx):
        t = toks[i]
        if t.kind == "word" and t.upper == "NEXTVAL" and p >= 2:
            dot = toks[code_idx[p - 1]]
            nm = toks[code_idx[p - 2]]
            if dot.text == "." and nm.kind in ("word", "qident"):
                occ.append((code_idx[p - 2], i + 1,
                            nm.text.strip('"').lower()))
    if not occ:
        return raw
    seqs = engine._sequences
    for _, _, nm in occ:
        if nm not in seqs:
            known = ", ".join(sorted(seqs)) or "none"
            raise ValueError(
                f"NEXTVAL: unknown sequence {nm!r} (session sequences:"
                f" {known}) — CREATE SEQUENCE {nm} first")
    words = [t.upper for t in toks if t.kind == "word"]
    if words[:1] == ["CREATE"] and "VIEW" in words[:5]:
        # Snowflake re-draws NEXTVAL on every query of the view;
        # prepare-time substitution would freeze ONE value into the
        # view text — silent wrong answer on the second SELECT
        raise ValueError(
            "NEXTVAL in a VIEW definition: the substitution happens "
            "at statement-prepare time, so the view would freeze one "
            "value instead of drawing per query like Snowflake — "
            "materialize with CREATE TABLE … AS SELECT <seq>.NEXTVAL "
            "…, or draw the value in the consuming INSERT/SELECT")
    if words[:1] in (["CREATE"], ["ALTER"]) and "DEFAULT" in words \
            and "TABLE" in words[:4]:
        # a sequence column DEFAULT needs per-INSERT evaluation Spark
        # lacks (DEFAULTs must be constant) — substituting here would
        # freeze ONE value into the table definition: silent wrong
        # answer on every later INSERT. Refuse with the working shape.
        raise ValueError(
            "NEXTVAL in a column DEFAULT: Spark column DEFAULTs must "
            "be constant, so the sequence cannot be drawn per INSERT "
            "— draw it in the insert instead: INSERT INTO t "
            "SELECT <seq>.NEXTVAL, … (or add the column in a CTAS)")
    # single-row shape: a SELECT, or SET's one value, with no
    # FROM/VALUES anywhere
    ups = {t.upper for t in toks if t.kind == "word"}
    first_word = next(
        (t.upper for t in toks if t.kind == "word"), "")
    single_row = (first_word in ("SELECT", "SET") and "FROM" not in ups
                  and "VALUES" not in ups)
    # per-sequence occurrence numbering
    counts: dict[str, int] = {}
    for _, _, nm in occ:
        counts[nm] = counts.get(nm, 0) + 1
    k_of: dict[int, int] = {}
    seen: dict[str, int] = {}
    for start_i, _, nm in occ:
        k_of[start_i] = seen.get(nm, 0)
        seen[nm] = k_of[start_i] + 1
    out = []
    i = 0
    repl = {s: (e, nm) for s, e, nm in occ}
    while i < len(toks):
        if i in repl:
            e, nm = repl[i]
            sq = seqs[nm]
            k = k_of[i]
            if single_row:
                expr = str(sq.next + k * sq.increment)
            else:
                kk = counts[nm]
                # COMPACT distributed offset (r11 interaction probe:
                # raw monotonically_increasing_id = partition·2^33 +
                # row jumps to ~8.6B on the second partition and
                # overflowed INT target columns in a MERGE insert):
                # offset = partition·2^cap + row with cap = 24
                # (16M rows/partition), raise_error past either bound
                # instead of silently colliding — gap-tolerant, never
                # collision-tolerant. Offsets stay < 2^44, matching
                # the block reservation.
                cap = _ROWS_PER_PARTITION_BITS
                guard_msg = (
                    "sequence NEXTVAL: a single statement exceeded "
                    f"{1 << cap} rows in one partition or {1 << 20} "
                    "partitions - raise "
                    "SPARK_GRAFT_SEQ_ROWS_PER_PARTITION_BITS (values "
                    "grow proportionally) or split the statement")
                # the id binds ONCE per row through a single-element
                # transform lambda (same bind-once trick the JW/zip
                # kernels use) — two bare monotonically_increasing_id
                # call sites are two independent nondeterministic
                # instances, and pid/row derived from different
                # instances can collide if the optimizer ever splits
                # or re-evaluates the projection (r11 advisor finding)
                pid = "shiftright(__sq, 33)"
                row = f"(__sq % {1 << 33})"
                offset = (
                    f"element_at(transform(array("
                    f"monotonically_increasing_id()), __sq -> "
                    f"CASE WHEN {row} < {1 << cap} AND "
                    f"{pid} < {1 << 20} THEN "
                    f"shiftleft({pid}, {cap}) + {row} "
                    f"ELSE CAST(raise_error('{guard_msg}') "
                    f"AS BIGINT) END), 1)"
                )
                expr = (
                    f"(CAST({sq.next + k * sq.increment} AS BIGINT) + "
                    f"{offset} * CAST({kk * sq.increment} AS BIGINT))"
                )
            out.extend(tokenize(expr))
            i = e
        else:
            out.append(toks[i])
            i += 1
    # advance cursors (gap-tolerant block reservation; a negative
    # increment reserves downward — generated values are
    # next + (k + mid·K)·inc, all on inc's side of the cursor)
    for nm, kk in counts.items():
        sq = seqs[nm]
        if single_row:
            sq.next += kk * sq.increment
        else:
            sq.next += kk * sq.increment * (1 << _BLOCK_BITS)
    return render(out)


def show_sequences(engine):
    rows = [(s.name, s.start, s.increment, s.next)
            for s in sorted(engine._sequences.values(),
                            key=lambda s: s.name)]
    return driver_frame(
        engine.spark, rows,
        "name string, start bigint, increment bigint, next_value bigint",
    )
