"""A small SQL tokenizer for the Snowflake→Spark transpiler.

The reference (`/root/reference/dbt/adapters/icebreaker/transpiler.py:54-74`)
leans on sqlglot for parsing; sqlglot is not available in this
environment, so we tokenize ourselves and run token-stream transforms.
The tokenizer is lossless: ``render(tokens)`` reproduces the input
exactly (whitespace and comments are tokens too), which keeps the
transpiler safe — transforms only touch the tokens they understand.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

# token kinds
WS = "ws"              # whitespace
COMMENT = "comment"    # -- line or /* block */
STRING = "string"      # 'single quoted' (with '' escapes)
QIDENT = "qident"      # "double quoted identifier"
NUMBER = "number"
WORD = "word"          # identifier or keyword (incl. $ and # chars Snowflake allows)
OP = "op"              # operator / punctuation


@dataclass
class Token:
    kind: str
    text: str

    @property
    def upper(self) -> str:
        return self.text.upper()

    def is_word(self, *names: str) -> bool:
        return self.kind == WORD and self.text.upper() in names

    def is_op(self, *ops: str) -> bool:
        return self.kind == OP and self.text in ops

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"{self.kind}:{self.text!r}"


_MULTI_OPS = (
    "::", "||", "<=", ">=", "!=", "<>", "=>", "->>", "->", ":=", "**",
)

_WORD_START = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ_$")
_WORD_CHARS = _WORD_START | set("0123456789#")
_DIGITS = set("0123456789")


def tokenize(sql: str) -> list[Token]:
    toks: list[Token] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        # whitespace
        if c.isspace():
            j = i
            while j < n and sql[j].isspace():
                j += 1
            toks.append(Token(WS, sql[i:j]))
            i = j
            continue
        # line comment
        if c == "-" and i + 1 < n and sql[i + 1] == "-":
            j = sql.find("\n", i)
            j = n if j == -1 else j
            toks.append(Token(COMMENT, sql[i:j]))
            i = j
            continue
        # block comment
        if c == "/" and i + 1 < n and sql[i + 1] == "*":
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2
            toks.append(Token(COMMENT, sql[i:j]))
            i = j
            continue
        # string literal with '' escape
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            else:
                j = n
            toks.append(Token(STRING, sql[i:j]))
            i = j
            continue
        # quoted identifier
        if c == '"':
            j = i + 1
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        j += 2
                        continue
                    j += 1
                    break
                j += 1
            else:
                j = n
            toks.append(Token(QIDENT, sql[i:j]))
            i = j
            continue
        # number (digits, optional fraction/exponent; leading . handled too)
        if c in _DIGITS or (c == "." and i + 1 < n and sql[i + 1] in _DIGITS):
            j = i
            while j < n and sql[j] in _DIGITS:
                j += 1
            if j < n and sql[j] == ".":
                j += 1
                while j < n and sql[j] in _DIGITS:
                    j += 1
            if j < n and sql[j] in "eE":
                k = j + 1
                if k < n and sql[k] in "+-":
                    k += 1
                if k < n and sql[k] in _DIGITS:
                    j = k
                    while j < n and sql[j] in _DIGITS:
                        j += 1
            toks.append(Token(NUMBER, sql[i:j]))
            i = j
            continue
        # dollar-quoted string ($$ ... $$): one token, so statement
        # splitting and transforms never look inside the body
        if c == "$" and i + 1 < n and sql[i + 1] == "$":
            j = sql.find("$$", i + 2)
            if j != -1:
                toks.append(Token(STRING, sql[i:j + 2]))
                i = j + 2
                continue
        # word / identifier
        if c in _WORD_START:
            j = i
            while j < n and sql[j] in _WORD_CHARS:
                j += 1
            toks.append(Token(WORD, sql[i:j]))
            i = j
            continue
        # multi-char operators
        for op in _MULTI_OPS:
            if sql.startswith(op, i):
                toks.append(Token(OP, op))
                i += len(op)
                break
        else:
            toks.append(Token(OP, c))
            i += 1
    return toks


def render(tokens: Iterable[Token]) -> str:
    return "".join(t.text for t in tokens)


# OP-pair concatenations that would re-tokenize as one token (a
# comment marker or a multi-char operator) — e.g. `3 - -1` stripped
# renders as `3--1`, a line comment
_OP_MERGE_HAZARDS = frozenset(
    {"--", "/*", "*/"} | set(_MULTI_OPS)
)


def render_code(tokens: Iterable[Token]) -> str:
    """Render a WS/comment-stripped token list, re-inserting a single
    space between adjacent word-like tokens (``CAST(7 AS INT)`` would
    otherwise concatenate to ``CAST(7ASINT)``) and between OP pairs
    whose concatenation would re-tokenize as one token (``- -`` →
    ``--`` comment). Tokens can only be adjacent in a stripped list
    where the source had whitespace or a naturally-adjacent pair, so
    the inserted space never changes meaning."""
    wordish = (WORD, NUMBER, STRING, QIDENT)
    parts: list[str] = []
    prev: Token | None = None
    for t in tokens:
        if prev is not None:
            if prev.kind in wordish and t.kind in wordish:
                parts.append(" ")
            elif prev.kind == OP and t.kind == OP \
                    and (prev.text[-1] + t.text[0]) in _OP_MERGE_HAZARDS:
                parts.append(" ")
        parts.append(t.text)
        prev = t
    return "".join(parts)


def next_code(tokens: list[Token], i: int) -> int:
    """Index of next non-ws/comment token at or after i, or len(tokens)."""
    n = len(tokens)
    while i < n and tokens[i].kind in (WS, COMMENT):
        i += 1
    return i


def prev_code(tokens: list[Token], i: int) -> int:
    """Index of previous non-ws/comment token at or before i, or -1."""
    while i >= 0 and tokens[i].kind in (WS, COMMENT):
        i -= 1
    return i


def split_statements(tokens: list[Token]) -> list[list[Token]]:
    """Split a token stream into statements on top-level ';'."""
    out: list[list[Token]] = []
    cur: list[Token] = []
    depth = 0
    for t in tokens:
        if t.kind == OP and t.text == "(":
            depth += 1
        elif t.kind == OP and t.text == ")":
            depth -= 1
        if t.kind == OP and t.text == ";" and depth == 0:
            out.append(cur)
            cur = []
        else:
            cur.append(t)
    if any(t.kind not in (WS, COMMENT) for t in cur):
        out.append(cur)
    return out


def find_matching_paren(tokens: list[Token], open_idx: int) -> int:
    """Given index of '(', return index of the matching ')'."""
    depth = 0
    for j in range(open_idx, len(tokens)):
        t = tokens[j]
        if t.kind == OP and t.text == "(":
            depth += 1
        elif t.kind == OP and t.text == ")":
            depth -= 1
            if depth == 0:
                return j
    raise ValueError("unbalanced parentheses")


def split_args(tokens: list[Token], lo: int, hi: int) -> list[tuple[int, int]]:
    """Split tokens[lo:hi] (inside a call's parens) into top-level
    comma-separated argument (start, end) index ranges. Empty arg list
    returns []."""
    args: list[tuple[int, int]] = []
    depth = 0
    start = lo
    has_code = False
    for j in range(lo, hi):
        t = tokens[j]
        if t.kind == OP and t.text in "([":
            depth += 1
        elif t.kind == OP and t.text in ")]":
            depth -= 1
        elif t.kind == OP and t.text == "," and depth == 0:
            args.append((start, j))
            start = j + 1
            continue
        if t.kind not in (WS, COMMENT):
            has_code = True
    if has_code or args:
        args.append((start, hi))
    return args
