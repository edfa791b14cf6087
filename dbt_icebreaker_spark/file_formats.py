"""Session file-format registry (r13; companion to stages.py S15s).

Snowflake CREATE FILE FORMAT names a reusable bundle of load options;
COPY INTO references it as ``FILE_FORMAT = (FORMAT_NAME = 'name')``
(or a bare ``FILE_FORMAT = name``) and stages attach one as their
default. The reference routes all of it to the warehouse; previously
the engine refused by name. Here the format object is a validated
option string stored per engine session — references inline the
stored options onto the existing path-form COPY INTO loader
(materializations/copy_into.py), so the loader's strict
unknown-option refusals keep holding.

Supported surface (engine-routed):
    CREATE [OR REPLACE] FILE FORMAT [IF NOT EXISTS] name
        [TYPE = CSV|PARQUET|JSON|ORC] [SKIP_HEADER = n]
        [FIELD_DELIMITER = '<c>'] [FIELD_OPTIONALLY_ENCLOSED_BY='<c>']
        [COMPRESSION = AUTO|GZIP|NONE] [COMMENT = '<text>']
    DROP FILE FORMAT [IF EXISTS] name
    SHOW FILE FORMATS
    DESC[RIBE] FILE FORMAT name

Unknown options refuse AT CREATE TIME — a silently dropped NULL_IF or
RECORD_DELIMITER would change what a later COPY INTO loads.
COMPRESSION is validated but not inlined: decompression is
extension-based in spark.read (PUT's gzip output reads transparently);
codecs Spark cannot read by extension refuse.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame

from .session import driver_frame

_NAME = r"\"[^\"]+\"|[\w.$]+"
_CREATE_RE = re.compile(
    rf"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?"
    rf"FILE\s+FORMAT\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>{_NAME})"
    rf"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    rf"^\s*DROP\s+FILE\s+FORMAT\s+(?P<ie>IF\s+EXISTS\s+)?"
    rf"(?P<name>{_NAME})\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_RE = re.compile(r"^\s*SHOW\s+FILE\s+FORMATS\s*;?\s*$",
                      re.IGNORECASE)
_DESC_RE = re.compile(
    rf"^\s*DESC(?:RIBE)?\s+FILE\s+FORMAT\s+(?P<name>{_NAME})\s*;?\s*$",
    re.IGNORECASE,
)
# COPY INTO / stage references: FILE_FORMAT = (FORMAT_NAME = 'x' …)
# or a bare FILE_FORMAT = x (x not an open paren)
_REF_PAREN_RE = re.compile(
    r"FILE_FORMAT\s*=\s*\(\s*FORMAT_NAME\s*=\s*'?([\w.$]+)'?\s*\)",
    re.IGNORECASE,
)
_REF_BARE_RE = re.compile(
    r"FILE_FORMAT\s*=\s*(?!\()'?([\w.$]+)'?", re.IGNORECASE)

# options the path-form loader implements, passed through inline;
# COMPRESSION/COMMENT are validated here and NOT inlined
_INLINE_KEYS = ("TYPE", "SKIP_HEADER", "FIELD_DELIMITER",
                "FIELD_OPTIONALLY_ENCLOSED_BY")
_LOCAL_KEYS = ("COMPRESSION", "COMMENT")


@dataclass
class FileFormat:
    name: str
    options: str  # inline-able option text, e.g. "TYPE = CSV …"
    fmt_type: str
    created_on: float


def _norm(name: str) -> str:
    return name.strip().strip('"').rstrip(";").lower()


def _registry(engine) -> dict:
    if not hasattr(engine, "_file_formats_registry"):
        engine._file_formats_registry = {}
    return engine._file_formats_registry


def _parse_options(rest: str) -> tuple[str, str]:
    """Validate the option tail → (inline_text, type). Unknown keys
    refuse; quoted values keep their quotes."""
    opts = re.findall(r"(\w+)\s*=\s*('[^']*'|\S+)", rest)
    inline = []
    fmt_type = "csv"
    for k, v in opts:
        ku = k.upper()
        if ku == "TYPE":
            fmt_type = v.strip("'").lower()
            if fmt_type not in ("csv", "parquet", "json", "orc"):
                raise ValueError(
                    f"CREATE FILE FORMAT TYPE {fmt_type!r}: supported "
                    "here are CSV / PARQUET / JSON / ORC"
                )
            inline.append(f"TYPE = {fmt_type.upper()}")
        elif ku in _INLINE_KEYS:
            inline.append(f"{ku} = {v}")
        elif ku == "COMPRESSION":
            cv = v.strip("'").upper()
            if cv not in ("AUTO", "GZIP", "NONE"):
                raise ValueError(
                    f"CREATE FILE FORMAT COMPRESSION {cv}: spark.read "
                    "decompresses by file extension — AUTO/GZIP/NONE "
                    "are supported; other codecs refuse"
                )
        elif ku == "COMMENT":
            pass
        else:
            raise ValueError(
                f"CREATE FILE FORMAT option {ku} is not implemented "
                "by the local loader (supported: TYPE, SKIP_HEADER, "
                "FIELD_DELIMITER, FIELD_OPTIONALLY_ENCLOSED_BY, "
                "COMPRESSION, COMMENT) — a silently ignored option "
                "could change what COPY INTO loads"
            )
    if not any(o.startswith("TYPE") for o in inline):
        inline.insert(0, "TYPE = CSV")  # Snowflake default
    return " ".join(inline), fmt_type


def create_format(engine, raw: str) -> DataFrame:
    m = _CREATE_RE.match(raw)
    assert m is not None
    name = _norm(m.group("name"))
    reg = _registry(engine)
    if name in reg:
        if m.group("ine"):
            return driver_frame(engine.spark,
                                [(f"File format {name.upper()} already "
                                  "exists, statement skipped.",)],
                                "status string")
        if not m.group("replace"):
            raise ValueError(
                f"CREATE FILE FORMAT: {name!r} already exists — use "
                "OR REPLACE / IF NOT EXISTS"
            )
    inline, fmt_type = _parse_options(m.group("rest") or "")
    reg[name] = FileFormat(name=name, options=inline,
                           fmt_type=fmt_type, created_on=time.time())
    return driver_frame(engine.spark,
                        [(f"File format {name.upper()} successfully "
                          "created.",)],
                        "status string")


def drop_format(engine, raw: str) -> DataFrame:
    m = _DROP_RE.match(raw)
    assert m is not None
    name = _norm(m.group("name"))
    reg = _registry(engine)
    if name in reg:
        del reg[name]
        msg = f"{name.upper()} successfully dropped."
    elif m.group("ie"):
        msg = (f"Drop statement executed successfully "
               f"({name.upper()} already dropped).")
    else:
        known = ", ".join(sorted(reg)) or "none"
        raise ValueError(
            f"DROP FILE FORMAT: unknown format {name!r} (session "
            f"formats: {known}) — use IF EXISTS"
        )
    return driver_frame(engine.spark, [(msg,)], "status string")


def show_formats(engine) -> DataFrame:
    reg = _registry(engine)
    rows = [
        (f.name, f.fmt_type.upper(), f.options,
         time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(f.created_on)))
        for f in sorted(reg.values(), key=lambda f: f.name)
    ]
    return driver_frame(engine.spark, rows,
                        "name string, type string, options string, "
                        "created_on string")


def describe_format(engine, raw: str) -> DataFrame:
    m = _DESC_RE.match(raw)
    assert m is not None
    name = _norm(m.group("name"))
    reg = _registry(engine)
    if name not in reg:
        known = ", ".join(sorted(reg)) or "none"
        raise ValueError(
            f"DESCRIBE FILE FORMAT: unknown format {name!r} (session "
            f"formats: {known})"
        )
    f = reg[name]
    rows = [("TYPE", f.fmt_type.upper()), ("OPTIONS", f.options)]
    return driver_frame(engine.spark, rows, "property string, value string")


def resolve_format_name(engine, sql: str) -> str:
    """Inline FORMAT_NAME / bare-name FILE_FORMAT references in a COPY
    INTO (or CREATE STAGE) statement against the session registry.
    Returns the statement unchanged when no named reference appears;
    raises actionably on an unknown name."""
    def _sub(m):
        name = _norm(m.group(1))
        reg = _registry(engine)
        if name not in reg:
            known = ", ".join(sorted(reg)) or "none"
            raise ValueError(
                f"unknown file format {name!r} (session formats: "
                f"{known}) — CREATE FILE FORMAT first; formats are "
                "engine-session scoped"
            )
        return f"FILE_FORMAT = ({reg[name].options})"

    out = _REF_PAREN_RE.sub(_sub, sql)
    if out == sql:
        # bare-name form only when the value is NOT an option paren
        out = _REF_BARE_RE.sub(_sub, sql)
    return out


def dispatch(engine, raw: str) -> DataFrame | None:
    s = raw.lstrip()
    if _SHOW_RE.match(s):
        return show_formats(engine)
    if _CREATE_RE.match(s):
        return create_format(engine, s)
    if _DROP_RE.match(s):
        return drop_format(engine, s)
    if _DESC_RE.match(s):
        return describe_format(engine, s)
    return None
