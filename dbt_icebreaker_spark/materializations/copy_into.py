"""COPY INTO execution (path-based form).

Snowflake's COPY INTO loads files into an existing table. The
reference routes every COPY INTO to the cloud (it cannot run one
locally at all — `connections.py` routes on the statement pattern);
here the common path-based form executes natively: the FROM location
is a filesystem/object-store path and the load is a schema-aligned
``spark.read`` → append. ``FROM @stage`` resolves against the
engine's local stage registry (stages.py) BEFORE this parser runs;
an unregistered stage refuses actionably.

Supported surface (the core dbt-seeds/backfill usage):
    COPY INTO <table> FROM '<path>' | @stage[/prefix]
        [FILE_FORMAT = (TYPE = CSV|PARQUET|JSON|ORC
                        [SKIP_HEADER = 1] [FIELD_DELIMITER = '<c>']
                        [FIELD_OPTIONALLY_ENCLOSED_BY = '<c>'])]
        [PATTERN = '<regex>']
    COPY INTO <table> [(cols)] FROM (SELECT $1, expr($2), …
        FROM @stage|'<path>') [FILE_FORMAT = …]   -- transformation
        form (r13): positional file read, transpiled SELECT,
        positional target mapping; CSV sources only
Anything else (credentials, ON_ERROR policies, $1-as-record over
parquet/json) raises with the exact unsupported clause named.

Load semantics per Snowflake: CSV maps by POSITION against the
target's declared schema (the read is schema-applied, so types cast
during parse); parquet/json map by NAME. The target table must
already exist — same contract as Snowflake.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import SparkSession

from .ddl import write_table

_COPY_RE = re.compile(
    r"^\s*COPY\s+INTO\s+(?P<table>[\w.]+)\s+FROM\s+(?P<src>@?'[^']*'|@[\w.$/]+)"
    r"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_TYPE_RE = re.compile(r"TYPE\s*=\s*'?(\w+)'?", re.IGNORECASE)
_SKIP_RE = re.compile(r"SKIP_HEADER\s*=\s*(\d+)", re.IGNORECASE)
_DELIM_RE = re.compile(r"FIELD_DELIMITER\s*=\s*'([^']*)'", re.IGNORECASE)
_QUOTE_RE = re.compile(
    r"FIELD_OPTIONALLY_ENCLOSED_BY\s*=\s*'([^']*)'", re.IGNORECASE
)
_PATTERN_RE = re.compile(r"PATTERN\s*=\s*'([^']*)'", re.IGNORECASE)
_UNSUPPORTED = (
    "ON_ERROR", "CREDENTIALS", "STORAGE_INTEGRATION", "VALIDATION_MODE",
    "MATCH_BY_COLUMN_NAME", "FORCE", "PURGE",
)


@dataclass
class CopySpec:
    table: str
    path: str
    fmt: str = "csv"
    options: dict = field(default_factory=dict)
    pattern: Optional[str] = None


_SUPPORTED_KEYS = frozenset(
    ("TYPE", "SKIP_HEADER", "FIELD_DELIMITER",
     "FIELD_OPTIONALLY_ENCLOSED_BY", "PATTERN", "FILE_FORMAT")
)
_COMMENT_PREFIX_RE = re.compile(r"^\s*(--[^\n]*\n|/\*.*?\*/)", re.DOTALL)


def _strip_leading_comments(sql: str) -> str:
    while True:
        m = _COMMENT_PREFIX_RE.match(sql)
        if not m:
            return sql.lstrip()
        sql = sql[m.end():]


def _parse_format_tail(rest: str) -> tuple[str, dict, Optional[str]]:
    """(fmt, read_options, pattern) from a COPY INTO option tail;
    raises on stage-unsupported/unknown options (shared by the plain
    and transformation forms — silent option drops load wrong data)."""
    from ..transpiler.core import TranspileError

    for kw in _UNSUPPORTED:
        if re.search(rf"\b{kw}\b", rest, re.IGNORECASE):
            raise TranspileError(
                f"COPY INTO option {kw} is not supported in the local "
                "engine — load with explicit spark.read options instead"
            )
    for key in re.findall(r"\b(\w+)\s*=", rest):
        if key.upper() not in _SUPPORTED_KEYS:
            raise TranspileError(
                f"COPY INTO option {key.upper()} is not implemented by "
                "the local loader (supported: TYPE, SKIP_HEADER=1, "
                "FIELD_DELIMITER, FIELD_OPTIONALLY_ENCLOSED_BY, "
                "PATTERN) — load with explicit spark.read options "
                "instead"
            )
    fmt = "csv"
    tm = _TYPE_RE.search(rest)
    if tm:
        fmt = tm.group(1).lower()
    if fmt not in ("csv", "parquet", "json", "orc"):
        raise TranspileError(
            f"COPY INTO file format {fmt!r}: supported here are "
            "CSV / PARQUET / JSON / ORC"
        )
    options: dict = {}
    if fmt == "csv":
        sk = _SKIP_RE.search(rest)
        if sk and int(sk.group(1)) > 1:
            raise TranspileError(
                f"COPY INTO SKIP_HEADER = {sk.group(1)}: Spark skips at "
                "most one header line per file — strip the extra "
                "preamble lines upstream"
            )
        options["header"] = "true" if (sk and int(sk.group(1)) == 1) else "false"
        dm = _DELIM_RE.search(rest)
        if dm:
            options["sep"] = dm.group(1)
        qm = _QUOTE_RE.search(rest)
        if qm:
            options["quote"] = qm.group(1)
    pm = _PATTERN_RE.search(rest)
    return fmt, options, (pm.group(1) if pm else None)


def parse_copy_into(sql: str) -> Optional[CopySpec]:
    """CopySpec for a path-based COPY INTO; None when the statement is
    not COPY INTO; TranspileError for stage-based forms and for ANY
    option this loader doesn't implement — silent option drops load
    wrong data (e.g. an ignored TYPE would parse parquet as CSV)."""
    m = _COPY_RE.match(_strip_leading_comments(sql).rstrip(";"))
    if not m:
        return None
    from ..transpiler.core import TranspileError

    src = m.group("src")
    if src.startswith("@"):
        raise TranspileError(
            "COPY INTO FROM @stage: no such stage in the engine's "
            "session registry — CREATE STAGE first (stages.py "
            "resolves @stage references to managed local "
            "directories), or use a direct path: COPY INTO t FROM "
            "'/data/files/' FILE_FORMAT = (TYPE = PARQUET)"
        )
    rest = m.group("rest") or ""
    fmt, options, pattern = _parse_format_tail(rest)
    return CopySpec(
        table=m.group("table"),
        path=src[1:-1],
        fmt=fmt,
        options=options,
        pattern=pattern,
    )


@dataclass
class TransformCopySpec:
    table: str
    target_cols: Optional[list[str]]  # explicit (col, …) list or None
    select_sql: str  # inner SELECT with the staged FROM → placeholder
    src: str         # raw source ref: '@stage[/p]' or quoted path
    fmt: str = "csv"
    options: dict = field(default_factory=dict)
    pattern: Optional[str] = None


_TCOPY_HEAD_RE = re.compile(
    r"^\s*COPY\s+INTO\s+(?P<table>[\w.]+)\s*"
    r"(?P<cols>\(\s*[\w\s,\"]+?\s*\))?\s*FROM\s*\(",
    re.IGNORECASE | re.DOTALL,
)
_TCOPY_SRC_RE = re.compile(
    r"\bFROM\s+(?P<src>'@[^']+'|@[\w.$/~%]+|'[^']*')",
    re.IGNORECASE,
)
FILES_VIEW = "__icebreaker_copy_files"


def parse_transform_copy(sql: str) -> Optional[TransformCopySpec]:
    """Transformation COPY INTO — ``COPY INTO t [(cols)] FROM (SELECT
    $1, $2::INT … FROM @stage|'<path>') [FILE_FORMAT = …]`` — the
    staged files are read positionally and the SELECT runs over them
    ($N = the N-th file column). None when the statement is not this
    shape; refusals name the unsupported piece."""
    from ..transpiler.core import TranspileError

    text = _strip_leading_comments(sql).rstrip().rstrip(";")
    m = _TCOPY_HEAD_RE.match(text)
    if m is None:
        return None
    # find the matching close paren of the FROM ( — quote-aware scan
    start = m.end() - 1
    depth = 0
    in_str = False
    close = -1
    for i in range(start, len(text)):
        c = text[i]
        if in_str:
            if c == "'":
                in_str = False
            continue
        if c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                close = i
                break
    if close < 0:
        raise TranspileError(
            "COPY INTO … FROM ( … : unbalanced parentheses in the "
            "transformation subquery"
        )
    inner = text[start + 1:close].strip()
    rest = text[close + 1:]
    if not re.match(r"^\s*SELECT\b", inner, re.IGNORECASE):
        return None  # e.g. FROM ('/path') — not a transformation
    sm = _TCOPY_SRC_RE.search(inner)
    if sm is None:
        raise TranspileError(
            "transformation COPY INTO: the inner SELECT must read "
            "FROM @stage or FROM '<path>'"
        )
    after = inner[sm.end():].lstrip()
    if after.startswith("("):
        raise TranspileError(
            "transformation COPY INTO: inline (FILE_FORMAT => …) "
            "options on the staged source are not supported — put "
            "the FILE_FORMAT on the COPY statement"
        )
    select_sql = inner[:sm.start(1)] + FILES_VIEW + inner[sm.end(1):]
    fmt, options, pattern = _parse_format_tail(rest)
    cols = None
    if m.group("cols"):
        cols = [c.strip().strip('"')
                for c in m.group("cols").strip("() \n\t").split(",")]
    return TransformCopySpec(
        table=m.group("table"),
        target_cols=cols,
        select_sql=select_sql,
        src=sm.group(1),
        fmt=fmt,
        options=options,
        pattern=pattern,
    )


def run_transform_copy(
    spark: SparkSession, spec: TransformCopySpec, transpiler,
    path: str,
) -> dict:
    """Execute a transformation COPY: read the files POSITIONALLY
    (columns normalized to _c0.._cN so ``$N`` maps to ``_c{N-1}``
    regardless of header mode), run the transpiled SELECT over them,
    align positionally to the target columns, append.

    CSV only: for parquet/json Snowflake's ``$1`` is the whole record
    variant — use the plain by-name COPY INTO or spark.read there
    (refused actionably below)."""
    from ..transpiler.core import TranspileError

    if spec.fmt != "csv":
        raise TranspileError(
            "transformation COPY INTO supports CSV sources ($N = "
            "positional file column); for parquet/json use the plain "
            "by-name COPY INTO (or spark.read) — $1-as-record has no "
            "local rendering"
        )
    if not spark.catalog.tableExists(spec.table):
        raise ValueError(
            f"COPY INTO target {spec.table} does not exist — create "
            "the table first (same contract as the warehouse)"
        )
    target_schema = spark.table(spec.table).schema
    src: str | list[str] = path
    if spec.pattern:
        src = _pattern_paths(path, spec.pattern)
        if not src:
            return {"table": spec.table, "rows_loaded": 0,
                    "format": spec.fmt}
    df = spark.read.options(**spec.options).csv(src)
    df = df.toDF(*[f"_c{i}" for i in range(len(df.columns))])
    df.createOrReplaceTempView(FILES_VIEW)
    try:
        from ..stages import _sub_outside_strings

        sel = _sub_outside_strings(
            re.compile(r"\$(\d+)"),
            lambda mm: f"_c{int(mm.group(1)) - 1}",
            spec.select_sql)
        out = spark.sql(transpiler.to_spark(sel))
        tcols = spec.target_cols or [f.name for f in target_schema.fields]
        by_lower = {f.name.lower(): f for f in target_schema.fields}
        missing = [c for c in tcols if c.lower() not in by_lower]
        if missing:
            raise ValueError(
                f"COPY INTO: column list {missing} not in target "
                f"{spec.table} (columns: "
                f"{[f.name for f in target_schema.fields]})"
            )
        if len(out.columns) != len(tcols):
            raise ValueError(
                f"COPY INTO: transformation SELECT yields "
                f"{len(out.columns)} column(s) but the target list "
                f"has {len(tcols)} — positional mapping needs equal "
                "arity (Snowflake contract)"
            )
        mapped = {c.lower(): out[out.columns[i]]
                  for i, c in enumerate(tcols)}
        from pyspark.sql import functions as F

        cols = []
        for f_ in target_schema.fields:
            e = mapped.get(f_.name.lower())
            cols.append(
                (e.cast(f_.dataType) if e is not None
                 else F.lit(None).cast(f_.dataType)).alias(f_.name))
        n = write_table(spark, out.select(*cols), spec.table, "append")
    finally:
        spark.catalog.dropTempView(FILES_VIEW)
    return {"table": spec.table, "rows_loaded": n, "format": spec.fmt}


def _pattern_paths(root: str, pattern: str) -> list[str]:
    """Snowflake PATTERN is a REGEX over the path relative to the
    location (not a filename glob — pathGlobFilter would silently
    select the wrong files). Resolve matching files driver-side; a
    local/posix listing here, the FileSystem API on object stores."""
    import os

    rx = re.compile(pattern)
    out = []
    if os.path.isfile(root):
        return [root] if rx.search(os.path.basename(root)) else []
    for r, _d, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            full = os.path.join(r, f)
            rel = os.path.relpath(full, root)
            if rx.search(rel):
                out.append(full)
    return sorted(out)


def run_copy_into(spark: SparkSession, spec: CopySpec) -> dict:
    """Execute a parsed COPY INTO: schema-aligned read + append."""
    if not spark.catalog.tableExists(spec.table):
        raise ValueError(
            f"COPY INTO target {spec.table} does not exist — create the "
            "table first (same contract as the warehouse)"
        )
    target_schema = spark.table(spec.table).schema
    reader = spark.read.options(**spec.options)
    src: str | list[str] = spec.path
    if spec.pattern:
        src = _pattern_paths(spec.path, spec.pattern)
        if not src:
            # Snowflake loads nothing when no file matches — not an error
            return {"table": spec.table, "rows_loaded": 0, "format": spec.fmt}
    if spec.fmt == "csv":
        # positional mapping: parse WITH the target schema so types
        # cast during the read (Snowflake CSV semantics)
        df = reader.schema(target_schema).csv(src)
    elif spec.fmt == "json":
        df = reader.json(src)
    elif spec.fmt == "orc":
        df = reader.orc(*src) if isinstance(src, list) else reader.orc(src)
    else:
        df = reader.parquet(*src) if isinstance(src, list) else reader.parquet(src)
    if spec.fmt in ("parquet", "json", "orc"):
        # by-name mapping with casts to the target's declared types —
        # case-insensitive, matching Snowflake (and Spark's default
        # resolver)
        by_lower = {c.lower(): c for c in df.columns}
        cols = []
        for f_ in target_schema.fields:
            src_name = by_lower.get(f_.name.lower())
            if src_name is None:
                raise ValueError(
                    f"COPY INTO: source is missing target column "
                    f"{f_.name!r} (by-name mapping for {spec.fmt})"
                )
            cols.append(df[src_name].cast(f_.dataType).alias(f_.name))
        df = df.select(*cols)
    n = write_table(spark, df, spec.table, "append")
    return {"table": spec.table, "rows_loaded": n, "format": spec.fmt}
