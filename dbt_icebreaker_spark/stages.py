"""Local internal-stage registry (S15; r12 verdict Missing #2).

Snowflake internal stages are named file areas, and CREATE STAGE →
PUT → COPY INTO @stage is the single most common Snowflake loading
idiom. The reference cannot run any of it locally — its router
pattern-matches stage statements and sends them to the warehouse
(ref `auto_router.py:109-134` routes on external-source patterns,
`connections.py:352-371` surfaces the cloud errors). Here an
INTERNAL stage maps to a managed local directory, which converts the
whole family onto the existing path-form COPY INTO loader
(materializations/copy_into.py): PUT copies files in, LIST/REMOVE
manage them, COPY INTO resolves ``@stage/prefix`` to the directory,
and COPY INTO @stage FROM … unloads query results as files.

Supported surface (engine-routed; the bare transpiler still refuses
with a pointer here — file ops are not expressible as a SELECT):

    CREATE [OR REPLACE] [TEMP[ORARY]] STAGE [IF NOT EXISTS] name
    DROP STAGE [IF EXISTS] name
    SHOW STAGES
    PUT file://<path-or-glob> @name[/prefix]
        [AUTO_COMPRESS = TRUE|FALSE] [OVERWRITE = TRUE|FALSE]
        [PARALLEL = n]
    GET @name[/path] file://<dir> [PARALLEL = n] [PATTERN = '<rx>']
    LIST @name[/prefix] [PATTERN = '<rx>']
    REMOVE @name[/prefix-or-file] [PATTERN = '<rx>']
    COPY INTO t FROM @name[/prefix] [FILE_FORMAT = …] [PATTERN = …]
    COPY INTO @name[/prefix] FROM <table | (query)>
        [FILE_FORMAT = (TYPE = CSV|PARQUET|JSON [HEADER=…])]
        [OVERWRITE = TRUE|FALSE] [HEADER = TRUE|FALSE]

EXTERNAL stages (URL=, STORAGE_INTEGRATION=, CREDENTIALS=,
ENCRYPTION=) refuse actionably — cloud auth objects have no local
meaning; read object stores directly with spark.read over the URI.

Faithfulness notes:
- PUT gzips text files by default (AUTO_COMPRESS=TRUE is Snowflake's
  default; file.csv lands as file.csv.gz, and LIST/GET/COPY see the
  .gz name exactly like Snowflake). Already-compressed extensions and
  binary columnar formats (.gz/.bz2/.zst/.parquet/.orc) are never
  re-compressed. Spark reads .gz CSV/JSON transparently, so COPY INTO
  round-trips.
- Unload writes Spark part-files under the target prefix (a
  directory), not Snowflake's ``data_0_0_0`` names — documented
  deviation; LIST shows the real file names.
- Stage directories are engine-session-scoped temp dirs (same scope
  as the sequence registry, sequences.py) — Snowflake stages persist
  per schema; a restart here starts empty.
"""

from __future__ import annotations

import glob as _glob
import gzip
import hashlib
import os
import re
import shutil
import tempfile
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame

from .file_formats import resolve_format_name
from .session import driver_frame

_NAME = r"\"[^\"]+\"|[\w.$]+"
_CREATE_RE = re.compile(
    rf"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?(?:TEMP(?:ORARY)?\s+)?"
    rf"STAGE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>{_NAME})"
    rf"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_RE = re.compile(
    rf"^\s*DROP\s+STAGE\s+(?P<ie>IF\s+EXISTS\s+)?(?P<name>{_NAME})"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
# TERSE is a column-subset hint and the registry is one scope, so the
# one listing answers TERSE and any IN scope
_SHOW_RE = re.compile(
    r"^\s*SHOW\s+(?:TERSE\s+)?STAGES"
    r"(?:\s+LIKE\s+'(?P<like>(?:[^']|'')*)')?(?:\s+IN\s+[^;]*?)?\s*;?\s*$",
    re.IGNORECASE,
)
_DESC_RE = re.compile(
    rf"^\s*DESC(?:RIBE)?\s+STAGE\s+(?P<name>{_NAME})\s*;?\s*$",
    re.IGNORECASE,
)
_PUT_RE = re.compile(
    r"^\s*PUT\s+(?P<src>'[^']+'|\S+)\s+(?P<dst>'@[^']+'|@\S+)"
    r"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_GET_RE = re.compile(
    r"^\s*GET\s+(?P<src>'@[^']+'|@\S+)\s+(?P<dst>'[^']+'|\S+)"
    r"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_LIST_RE = re.compile(
    r"^\s*(?:LIST|LS)\s+(?P<ref>'@[^']+'|@\S+)(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_REMOVE_RE = re.compile(
    r"^\s*(?:REMOVE|RM)\s+(?P<ref>'@[^']+'|@\S+)(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_UNLOAD_RE = re.compile(
    r"^\s*COPY\s+INTO\s+(?P<dst>'@[^']+'|@\S+)\s+FROM\s+(?P<src>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_LOAD_FROM_STAGE_RE = re.compile(
    r"^(?P<head>\s*COPY\s+INTO\s+[\w.]+\s+FROM\s+)"
    r"(?P<ref>'@[^']+'|@[\w.$/~%]+)(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_PATTERN_RE = re.compile(r"PATTERN\s*=\s*'([^']*)'", re.IGNORECASE)

_EXTERNAL_OPTS = (
    "URL", "STORAGE_INTEGRATION", "CREDENTIALS", "ENCRYPTION",
    "ENDPOINT", "AWS_KEY_ID", "AZURE_SAS_TOKEN",
)
# text formats gzip under AUTO_COMPRESS; already-compressed and
# binary columnar formats never re-compress (gzip-over-parquet would
# make the files unreadable to a schema-aligned spark.read)
_NO_COMPRESS_EXT = (".gz", ".bz2", ".zst", ".br", ".parquet", ".orc",
                    ".avro", ".zip")


@dataclass
class Stage:
    name: str
    path: str
    created_on: float
    file_format: str | None = None  # raw FILE_FORMAT = (…) tail


def _norm_name(name: str) -> str:
    return name.strip().strip('"').rstrip(";").lower()


def _registry(engine) -> dict:
    if not hasattr(engine, "_stages_registry"):
        engine._stages_registry = {}
    return engine._stages_registry


def _resolve_ref(engine, ref: str) -> tuple[Stage, str]:
    """'@name[/sub/path]' → (Stage, relative subpath). Snowflake's
    IMPLICIT stages — ``@~`` (user stage) and ``@%table`` (table
    stage) — need no CREATE STAGE and auto-register lazily, exactly
    like the warehouse provides them."""
    r = ref.strip().strip("'").rstrip(";")
    if not r.startswith("@"):
        raise ValueError(f"stage reference must start with '@': {r!r}")
    body = r[1:]
    name, _, sub = body.partition("/")
    reg = _registry(engine)
    key = _norm_name(name)
    if key not in reg and (key == "~" or key.startswith("%")):
        path = tempfile.mkdtemp(
            prefix="sf_stage_user_" if key == "~"
            else f"sf_stage_table_{key[1:].replace('.', '_')}_")
        reg[key] = Stage(name=key, path=path, created_on=time.time())
    if key not in reg:
        known = ", ".join(sorted(reg)) or "none"
        raise ValueError(
            f"unknown stage {name!r} (session stages: {known}) — "
            "CREATE STAGE first; stages are engine-session scoped"
        )
    sub = sub.strip("/")
    if ".." in sub.split("/"):
        raise ValueError(f"stage path may not contain '..': {r!r}")
    return reg[key], sub


_FILE_FORMAT_RE = re.compile(
    r"FILE_FORMAT\s*=\s*(\([^)]*\)|\w+)", re.IGNORECASE)


def _check_create_options(rest: str) -> str | None:
    """Validate the CREATE STAGE option tail; returns the stage-level
    FILE_FORMAT text (normalized to ``FILE_FORMAT = (…)``) when
    present. Unknown options REFUSE — a silently dropped FILE_FORMAT
    would make a later COPY INTO parse parquet as CSV."""
    for kw in _EXTERNAL_OPTS:
        if re.search(rf"\b{kw}\b", rest, re.IGNORECASE):
            raise ValueError(
                f"CREATE STAGE with {kw}: external stages are cloud "
                "auth objects with no local meaning — read the object "
                "store directly (spark.read over the URI with hadoop "
                "credentials confs). Local internal stages (no URL) "
                "are supported."
            )
    ff = None
    fm = _FILE_FORMAT_RE.search(rest)
    if fm is not None:
        body = fm.group(1)
        if not body.startswith("("):
            raise ValueError(
                "CREATE STAGE FILE_FORMAT = <name>: named file-format "
                "objects are not supported — inline the options: "
                "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)"
            )
        ff = f"FILE_FORMAT = {body}"
        rest = rest[:fm.start()] + rest[fm.end():]
    # inside-parens keys were consumed with FILE_FORMAT; whatever
    # KEY = remains must be a known harmless property
    for key in re.findall(r"(\w+)\s*=", rest):
        if key.upper() not in ("COMMENT",):
            raise ValueError(
                f"CREATE STAGE option {key.upper()} is not "
                "implemented by the local stage registry (supported: "
                "FILE_FORMAT = (…), COMMENT) — a silently ignored "
                "option could change what a later COPY INTO loads"
            )
    return ff


def create_stage(engine, raw: str) -> DataFrame:
    m = _CREATE_RE.match(raw)
    assert m is not None
    ff = _check_create_options(m.group("rest") or "")
    name = _norm_name(m.group("name"))
    reg = _registry(engine)
    if name in reg:
        if m.group("ine"):
            return driver_frame(
                engine.spark,
                [(f"Stage {name.upper()} already exists, statement "
                  "skipped.",)],
                "status string",
            )
        if not m.group("replace"):
            raise ValueError(
                f"CREATE STAGE: stage {name!r} already exists — use "
                "OR REPLACE / IF NOT EXISTS"
            )
        shutil.rmtree(reg[name].path, ignore_errors=True)
        del reg[name]
    path = tempfile.mkdtemp(prefix=f"sf_stage_{name.replace('.', '_')}_")
    reg[name] = Stage(name=name, path=path, created_on=time.time(),
                      file_format=ff)
    return driver_frame(
        engine.spark,
        [(f"Stage area {name.upper()} successfully created.",)],
        "status string",
    )


def drop_stage(engine, raw: str) -> DataFrame:
    m = _DROP_RE.match(raw)
    assert m is not None
    name = _norm_name(m.group("name"))
    reg = _registry(engine)
    if name in reg:
        shutil.rmtree(reg[name].path, ignore_errors=True)
        del reg[name]
        msg = f"{name.upper()} successfully dropped."
    elif m.group("ie"):
        msg = (f"Drop statement executed successfully "
               f"({name.upper()} already dropped).")
    else:
        known = ", ".join(sorted(reg)) or "none"
        raise ValueError(
            f"DROP STAGE: unknown stage {name!r} (session stages: "
            f"{known}) — use IF EXISTS"
        )
    return driver_frame(engine.spark, [(msg,)], "status string")


def show_stages(engine, like: str | None = None) -> DataFrame:
    """The session's stages, by name; ``like`` is a SQL LIKE pattern
    on the name, matched case-insensitively as Snowflake does."""
    reg = _registry(engine)
    keep = None
    if like is not None:
        keep = re.compile("".join(
            ".*" if c == "%" else "." if c == "_" else re.escape(c)
            for c in like.replace("''", "'")
        ), re.IGNORECASE | re.DOTALL).fullmatch
    rows = [
        (s.name, "INTERNAL", s.path,
         time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(s.created_on)))
        for s in sorted(reg.values(), key=lambda s: s.name)
        if keep is None or keep(s.name)
    ]
    return driver_frame(
        engine.spark, rows,
        "name string, type string, location string, created_on string",
    )


def describe_stage(engine, raw: str) -> DataFrame:
    m = _DESC_RE.match(raw)
    assert m is not None
    name = _norm_name(m.group("name"))
    reg = _registry(engine)
    if name not in reg:
        known = ", ".join(sorted(reg)) or "none"
        raise ValueError(
            f"DESCRIBE STAGE: unknown stage {name!r} (session "
            f"stages: {known})"
        )
    s = reg[name]
    rows = [
        ("STAGE_LOCATION", "URL", s.path),
        ("STAGE_TYPE", "TYPE", "INTERNAL"),
        ("STAGE_CREATED", "CREATED_ON",
         time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(s.created_on))),
    ]
    return driver_frame(
        engine.spark, rows,
        "parent_property string, property string, value string",
    )


def _stage_files(stage: Stage, sub: str, pattern: str | None):
    """(abspath, relpath-under-stage) files under @stage/sub, PATTERN
    regex applied to the stage-relative path like Snowflake."""
    root = os.path.join(stage.path, sub) if sub else stage.path
    out = []
    if os.path.isfile(root):
        cands = [root]
    else:
        cands = []
        for r, _d, files in os.walk(stage.path):
            for f in files:
                cands.append(os.path.join(r, f))
    prefix = os.path.join(stage.path, sub) if sub else stage.path
    rx = re.compile(pattern) if pattern else None
    for full in sorted(cands):
        # DIRECTORY-boundary prefix match: @s/in must not catch
        # @s/in2's files (a bare startswith would)
        if not (full == prefix
                or full.startswith(prefix.rstrip(os.sep) + os.sep)):
            continue
        rel = os.path.relpath(full, stage.path)
        if rx and not rx.search(rel):
            continue
        out.append((full, rel))
    return out


def put_files(engine, raw: str) -> DataFrame:
    m = _PUT_RE.match(raw)
    assert m is not None
    rest = m.group("rest") or ""
    opts = {k.upper(): v.upper()
            for k, v in re.findall(r"(\w+)\s*=\s*'?(\w+)'?", rest)}
    for k in opts:
        if k not in ("AUTO_COMPRESS", "OVERWRITE", "PARALLEL",
                     "SOURCE_COMPRESSION"):
            raise ValueError(
                f"PUT option {k} is not implemented by the local "
                "stage (supported: AUTO_COMPRESS, OVERWRITE, "
                "PARALLEL)"
            )
    auto_compress = opts.get("AUTO_COMPRESS", "TRUE") == "TRUE"
    overwrite = opts.get("OVERWRITE", "FALSE") == "TRUE"
    src = m.group("src").strip().strip("'").rstrip(";")
    if src.startswith("file://"):
        src = src[len("file://"):]
    src = os.path.expanduser(src)
    stage, sub = _resolve_ref(engine, m.group("dst"))
    dst_dir = os.path.join(stage.path, sub) if sub else stage.path
    os.makedirs(dst_dir, exist_ok=True)
    matches = sorted(_glob.glob(src))
    if not matches:
        raise ValueError(f"PUT: no files match {src!r}")
    rows = []
    for f in matches:
        if not os.path.isfile(f):
            continue
        base = os.path.basename(f)
        compress = auto_compress and not base.lower().endswith(
            _NO_COMPRESS_EXT)
        target = base + ".gz" if compress else base
        dst = os.path.join(dst_dir, target)
        if os.path.exists(dst) and not overwrite:
            rows.append((base, target, os.path.getsize(f), 0,
                         "SKIPPED"))
            continue
        if compress:
            with open(f, "rb") as fin, gzip.open(dst, "wb") as fout:
                shutil.copyfileobj(fin, fout)
        else:
            shutil.copyfile(f, dst)
        rows.append((base, target, os.path.getsize(f),
                     os.path.getsize(dst), "UPLOADED"))
    return driver_frame(
        engine.spark, rows,
        "source string, target string, source_size long, "
        "target_size long, status string",
    )


def get_files(engine, raw: str) -> DataFrame:
    m = _GET_RE.match(raw)
    assert m is not None
    rest = m.group("rest") or ""
    for k, _v in re.findall(r"(\w+)\s*=\s*'?([^'\s]+)'?", rest):
        if k.upper() not in ("PARALLEL", "PATTERN"):
            raise ValueError(
                f"GET option {k.upper()} is not implemented by the "
                "local stage (supported: PARALLEL, PATTERN)"
            )
    pm = _PATTERN_RE.search(rest)
    stage, sub = _resolve_ref(engine, m.group("src"))
    dst = m.group("dst").strip().strip("'").rstrip(";")
    if dst.startswith("file://"):
        dst = dst[len("file://"):]
    dst = os.path.expanduser(dst)
    os.makedirs(dst, exist_ok=True)
    rows = []
    for full, rel in _stage_files(stage, sub, pm.group(1) if pm else None):
        out = os.path.join(dst, os.path.basename(rel))
        shutil.copyfile(full, out)
        rows.append((os.path.basename(rel), os.path.getsize(out),
                     "DOWNLOADED"))
    return driver_frame(engine.spark, rows,
                        "file string, size long, status string")


def list_files(engine, raw: str) -> DataFrame:
    m = _LIST_RE.match(raw)
    assert m is not None
    pm = _PATTERN_RE.search(m.group("rest") or "")
    stage, sub = _resolve_ref(engine, m.group("ref"))
    rows = []
    for full, rel in _stage_files(stage, sub, pm.group(1) if pm else None):
        with open(full, "rb") as f:
            md5 = hashlib.md5(f.read()).hexdigest()
        rows.append((
            f"{stage.name}/{rel}",
            os.path.getsize(full),
            md5,
            time.strftime("%Y-%m-%d %H:%M:%S",
                          time.gmtime(os.path.getmtime(full))),
        ))
    return driver_frame(
        engine.spark, rows,
        "name string, size long, md5 string, last_modified string",
    )


def remove_files(engine, raw: str) -> DataFrame:
    m = _REMOVE_RE.match(raw)
    assert m is not None
    pm = _PATTERN_RE.search(m.group("rest") or "")
    stage, sub = _resolve_ref(engine, m.group("ref"))
    rows = []
    for full, rel in _stage_files(stage, sub, pm.group(1) if pm else None):
        os.remove(full)
        rows.append((f"{stage.name}/{rel}", "removed"))
    return driver_frame(engine.spark, rows, "name string, result string")


def resolve_copy_into_stage(engine, raw: str) -> str | None:
    """COPY INTO t FROM @stage[/p] … → the same statement with the
    stage resolved to its local directory path, feeding the existing
    path-form loader. None when the statement has no stage FROM."""
    m = _LOAD_FROM_STAGE_RE.match(raw)
    if m is None:
        return None
    stage, sub = _resolve_ref(engine, m.group("ref"))
    path = os.path.join(stage.path, sub) if sub else stage.path
    rest = m.group("rest")
    if stage.file_format and not re.search(
            r"\bFILE_FORMAT\b", rest, re.IGNORECASE):
        # stage-level default file format (Snowflake: COPY INTO uses
        # the stage's FILE_FORMAT when the statement carries none)
        rest = f" {stage.file_format}{rest}"
    return f"{m.group('head')}'{path}'{rest}"


def run_unload(engine, raw: str) -> DataFrame:
    """COPY INTO @stage[/prefix] FROM <table | (query)> — unload
    query results as files into the stage directory."""
    m = _UNLOAD_RE.match(raw)
    assert m is not None
    stage, sub = _resolve_ref(engine, m.group("dst"))
    src = m.group("src").strip().rstrip(";").strip()
    # split source from the option tail: options start at the first
    # top-level FILE_FORMAT/OVERWRITE/HEADER/SINGLE/MAX_FILE_SIZE
    tail_m = re.search(
        r"\b(FILE_FORMAT|OVERWRITE|HEADER|SINGLE|MAX_FILE_SIZE"
        r"|DETAILED_OUTPUT)\b",
        src, re.IGNORECASE,
    )
    rest = ""
    if tail_m is not None:
        rest = src[tail_m.start():]
        src = src[:tail_m.start()].strip()
    for key in re.findall(r"\b(\w+)\s*=", rest):
        if key.upper() not in ("FILE_FORMAT", "TYPE", "HEADER",
                               "OVERWRITE", "FIELD_DELIMITER",
                               "COMPRESSION"):
            raise ValueError(
                f"COPY INTO @stage option {key.upper()} is not "
                "implemented by the local unloader (supported: "
                "FILE_FORMAT TYPE/FIELD_DELIMITER, HEADER, OVERWRITE, "
                "COMPRESSION=NONE|GZIP)"
            )
    fmt_m = re.search(r"TYPE\s*=\s*'?(\w+)'?", rest, re.IGNORECASE)
    fmt = fmt_m.group(1).lower() if fmt_m else "csv"
    if fmt not in ("csv", "parquet", "json"):
        raise ValueError(
            f"COPY INTO @stage file format {fmt!r}: supported here "
            "are CSV / PARQUET / JSON"
        )
    comp_m = re.search(r"COMPRESSION\s*=\s*'?(\w+)'?", rest,
                       re.IGNORECASE)
    compression = (comp_m.group(1).lower() if comp_m
                   else ("gzip" if fmt != "parquet" else "snappy"))
    if compression == "none":
        compression = None
    header = bool(re.search(r"HEADER\s*=\s*TRUE", rest, re.IGNORECASE))
    overwrite = bool(
        re.search(r"OVERWRITE\s*=\s*TRUE", rest, re.IGNORECASE))
    delim_m = re.search(r"FIELD_DELIMITER\s*=\s*'([^']*)'", rest,
                        re.IGNORECASE)
    # source: a bare table name or a parenthesized query (Snowflake
    # SQL — goes back through the engine's transpiler)
    if src.startswith("("):
        inner = src[1:-1] if src.endswith(")") else src[1:]
        df = engine.spark.sql(engine.sql_to_spark(inner))
    else:
        df = engine.spark.table(src)
    out_dir = os.path.join(stage.path, sub) if sub else stage.path
    writer = df.write.mode("overwrite" if overwrite else "errorifexists")
    if fmt == "csv":
        writer = writer.option("header", str(header).lower())
        if delim_m:
            writer = writer.option("sep", delim_m.group(1))
    if compression:
        writer = writer.option("compression", compression)
    writer.format(fmt).save(out_dir)
    n = df.count()
    size = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, files in os.walk(out_dir) for f in files
        if not f.startswith(("_", "."))
    )
    return driver_frame(
        engine.spark, [(n, size)],
        "rows_unloaded long, output_bytes long",
    )


_SEL_STAGE_RE = re.compile(
    r"\bFROM\s+(?P<ref>'@[^']+'|@[\w.$/~%]+)\s*"
    r"(?P<opts>\(\s*[\w\s,=>'\.]*=>[\w\s,=>'\.]*\))?",
    re.IGNORECASE,
)
_DIR_RE = re.compile(
    r"\bFROM\s+DIRECTORY\s*\(\s*(?P<ref>'@[^']+'|@[\w.$/~%]+)\s*\)",
    re.IGNORECASE,
)
_ARROW_OPT_RE = re.compile(r"(\w+)\s*=>\s*('[^']*'|\S+)", re.IGNORECASE)


def _string_spans(text: str) -> list[tuple[int, int]]:
    """[start, end) spans of single-quoted literals ('' escapes)."""
    spans = []
    i = 0
    n = len(text)
    while i < n:
        if text[i] == "'":
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            spans.append((i, j + 1))
            i = j + 1
        else:
            i += 1
    return spans


def _sub_outside_strings(pattern, repl, text: str) -> str:
    """re.sub that skips matches STARTING inside a string literal —
    a '$1' or 'FROM @x' inside quoted text must never rewrite (the
    quoted-@stage ref form is fine: its match starts at the FROM,
    outside the quotes)."""
    spans = _string_spans(text)

    def inside(pos: int) -> bool:
        return any(a <= pos < b for a, b in spans)

    out = []
    last = 0
    for m in pattern.finditer(text):
        if inside(m.start()):
            continue
        out.append(text[last:m.start()])
        out.append(repl(m) if callable(repl) else repl)
        last = m.end()
    out.append(text[last:])
    return "".join(out)





def rewrite_select_from_stage(engine, raw: str) -> str | None:
    """Direct staged-file queries (r13): ``SELECT $1, t.$2 FROM
    @stage[/p] [(FILE_FORMAT => '<name>', PATTERN => '<rx>')] t`` —
    Snowflake's peek-at-staged-data idiom. Each ``@ref`` in a FROM
    position becomes a temp view over the files (CSV positionally:
    ``$N`` → the N-th file column; parquet/json by name), using the
    arrow-option FILE_FORMAT, else the stage-attached format, else
    CSV. ``METADATA$FILENAME`` maps to input_file_name();
    METADATA$FILE_ROW_NUMBER refuses (no Spark builtin carries a
    per-file ordinal through a parallel read). Returns the rewritten
    statement, or None when it is not a SELECT-from-stage."""
    s = raw.lstrip()
    # any statement whose stage ref sits in QUERY position: plain
    # SELECT/WITH, INSERT … SELECT, CTAS, MERGE USING (…) — the
    # file-op statements (PUT/GET/LIST/REMOVE/COPY) were dispatched
    # before this rewrite runs
    if not re.match(r"^(WITH|SELECT|INSERT|CREATE|MERGE)\b", s,
                    re.IGNORECASE):
        return None
    # DIRECTORY(@stage) — Snowflake's stage directory table — becomes
    # a view of the listing with the documented columns
    counter0 = [0]

    def _dir_sub(m):
        stage, sub = _resolve_ref(engine, m.group("ref"))
        rows = []
        for full, rel in _stage_files(stage, sub, None):
            with open(full, "rb") as f:
                md5 = hashlib.md5(f.read()).hexdigest()
            rows.append((
                rel, os.path.getsize(full),
                time.strftime("%Y-%m-%d %H:%M:%S",
                              time.gmtime(os.path.getmtime(full))),
                md5, None, f"file://{full}",
            ))
        counter0[0] += 1
        view = f"__icebreaker_stage_dir_{counter0[0]}"
        driver_frame(
            engine.spark, rows,
            "relative_path string, size long, last_modified string, "
            "md5 string, etag string, file_url string",
        ).createOrReplaceTempView(view)
        return f"FROM {view} "

    raw = _sub_outside_strings(_DIR_RE, _dir_sub, raw)
    if not _SEL_STAGE_RE.search(raw):
        return raw if counter0[0] else None
    if re.search(r"METADATA\$FILE_ROW_NUMBER", raw, re.IGNORECASE):
        raise ValueError(
            "METADATA$FILE_ROW_NUMBER has no Spark rendering (a "
            "parallel read carries no per-file ordinal) — derive row "
            "numbers after load with ROW_NUMBER() OVER "
            "(PARTITION BY METADATA$FILENAME ORDER BY <a column>)"
        )
    from .materializations.copy_into import _parse_format_tail

    counter = [0]

    def _sub(m):
        stage, sub = _resolve_ref(engine, m.group("ref"))
        fmt_text = stage.file_format or ""
        pattern = None
        for k, v in _ARROW_OPT_RE.findall(m.group("opts") or ""):
            ku = k.upper()
            if ku == "FILE_FORMAT":
                from . import file_formats as _ff

                name = v.strip("'")
                reg = _ff._registry(engine)
                key = _ff._norm(name)
                if key not in reg:
                    known = ", ".join(sorted(reg)) or "none"
                    raise ValueError(
                        f"unknown file format {name!r} (session "
                        f"formats: {known}) — CREATE FILE FORMAT "
                        "first"
                    )
                fmt_text = f"FILE_FORMAT = ({reg[key].options})"
            elif ku == "PATTERN":
                pattern = v.strip("'")
            else:
                raise ValueError(
                    f"staged-file query option {ku} is not "
                    "implemented (supported: FILE_FORMAT => "
                    "'<name>', PATTERN => '<regex>')"
                )
        fmt, options, _p = _parse_format_tail(fmt_text)
        path = os.path.join(stage.path, sub) if sub else stage.path
        src: str | list[str] = path
        if pattern:
            from .materializations.copy_into import _pattern_paths

            src = _pattern_paths(path, pattern)
            if not src:
                raise ValueError(
                    f"staged-file query: no file under @{stage.name}/"
                    f"{sub} matches PATTERN {pattern!r}"
                )
        reader = engine.spark.read.options(**options)
        if fmt == "csv":
            df = reader.csv(src)
            df = df.toDF(*[f"_c{i}" for i in range(len(df.columns))])
        elif fmt == "json":
            df = reader.json(src)
        elif fmt == "orc":
            df = (reader.orc(*src) if isinstance(src, list)
                  else reader.orc(src))
        else:
            df = (reader.parquet(*src) if isinstance(src, list)
                  else reader.parquet(src))
        counter[0] += 1
        view = f"__icebreaker_stage_query_{counter[0]}"
        df.createOrReplaceTempView(view)
        return f"FROM {view} "

    out = _sub_outside_strings(_SEL_STAGE_RE, _sub, raw)
    out = _sub_outside_strings(
        re.compile(r"\$(\d+)"),
        lambda m: f"_c{int(m.group(1)) - 1}", out)
    out = _sub_outside_strings(
        re.compile(r"(?:\w+\.)?METADATA\$FILENAME", re.IGNORECASE),
        "input_file_name()", out)
    return out


def dispatch(engine, raw: str) -> DataFrame | None:
    """Route one statement to the stage registry; None when it is not
    a stage statement (caller continues normal dispatch)."""
    s = raw.lstrip()
    up = s.upper()
    m = _SHOW_RE.match(s)
    if m:
        return show_stages(engine, m.group("like"))
    # a named FILE_FORMAT (file_formats.py) inlines its options first
    if up.startswith(("CREATE",)) and _CREATE_RE.match(s):
        return create_stage(engine, resolve_format_name(engine, s))
    if up.startswith("DROP") and _DROP_RE.match(s):
        return drop_stage(engine, s)
    if up.startswith(("DESC", "DESCRIBE")) and _DESC_RE.match(s):
        return describe_stage(engine, s)
    if up.startswith("PUT") and _PUT_RE.match(s):
        return put_files(engine, s)
    if up.startswith("GET") and _GET_RE.match(s):
        return get_files(engine, s)
    if up.startswith(("LIST", "LS ")) and _LIST_RE.match(s):
        return list_files(engine, s)
    if up.startswith(("REMOVE", "RM ")) and _REMOVE_RE.match(s):
        return remove_files(engine, s)
    if _UNLOAD_RE.match(s):
        return run_unload(engine, resolve_format_name(engine, s))
    return None
