"""Multi-model project runner — the dbt-shaped orchestration layer.

The reference rides dbt's DAG (materializations invoked per model on
`threads` workers, default 4 — ref connections.py:75) and reorders
sync with Kahn (sync_manager.py:417-501). Here the engine owns the
DAG: models declare `depends_on`, run in Kahn order, parallel within
a level via a thread pool sharing the one SparkSession (thread-safe,
mirroring the reference's single shared handle,
connections.py:1057-1169).

Observability is wired the way the reference's comment-protocol did
it (R13 — replaced by direct calls, SURVEY §2.5): WAL around each
model, savings logged per run, session summary at the end.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Optional, Sequence

from .observability.run_summary import RunSummary
from .observability.savings import SavingsTracker
from .observability.state import CrashWal
from .runner import IcebreakerEngine, RunResult
from .sync import kahn_order

DEFAULT_THREADS = 4  # ref connections.py:75


@dataclass
class ModelDef:
    name: str
    sql: str
    materialization: str = "table"
    unique_key: str | Sequence[str] | None = None
    incremental_strategy: str = "merge"
    on_schema_change: str = "ignore"
    partition_by: Optional[str] = None
    depends_on: list[str] = field(default_factory=list)
    # snapshot-only
    strategy: str = "timestamp"
    updated_at: Optional[str] = "updated_at"
    check_cols: Optional[Sequence[str]] = None


def load_project(
    models_dir: str, schema: str = "analytics"
) -> list[ModelDef]:
    """Load a dbt-style models directory: every ``*.sql`` file is a
    model named by its filename, configured by a leading
    ``{{ config(...) }}`` block and wired by ``{{ ref('name') }}``
    calls — the exact file shape a dbt-icebreaker project already
    has, so switching engines means pointing at the same directory.

    Jinja surface implemented (the part dbt projects actually put in
    model FILES): ``config(materialized=..., unique_key=...,
    incremental_strategy=..., partition_by=..., on_schema_change=...,
    strategy=..., updated_at=..., check_cols=[...])`` and ``ref``.
    ``ref('x')`` resolves to ``<schema>.x`` (where run_model
    materializes) and records the dependency edge for Kahn ordering.
    Anything else jinja-shaped left in the SQL raises — silent
    partial templating would run a broken query.
    """
    import ast as _ast
    import glob as _glob
    import re as _re

    ref_re = _re.compile(r"\{\{\s*ref\(\s*['\"](\w+)['\"]\s*\)\s*\}\}")
    config_re = _re.compile(r"\{\{\s*config\((.*?)\)\s*\}\}", _re.DOTALL)
    # expressions AND block tags/comments: '{% if is_incremental() %}'
    # must refuse at load time, not die later as PARSE_SYNTAX_ERROR
    jinja_re = _re.compile(r"\{\{.*?\}\}|\{%.*?%\}|\{#.*?#\}", _re.DOTALL)
    _CONFIG_KEYS = {
        "materialized": "materialization",
        "unique_key": "unique_key",
        "incremental_strategy": "incremental_strategy",
        "on_schema_change": "on_schema_change",
        "partition_by": "partition_by",
        "strategy": "strategy",
        "updated_at": "updated_at",
        "check_cols": "check_cols",
    }

    # recursive: dbt's standard layout nests models (staging/, marts/)
    paths = sorted(
        _glob.glob(os.path.join(models_dir, "**", "*.sql"), recursive=True)
    )
    models: list[ModelDef] = []
    names = set()
    for path in paths:
        name = os.path.splitext(os.path.basename(path))[0]
        names.add(name)
    for path in paths:
        name = os.path.splitext(os.path.basename(path))[0]
        sql = open(path).read()
        kwargs: dict = {}
        cm = config_re.search(sql)
        if cm:
            # parse config(...) as python keyword args — dbt's config
            # values are literals (strings/numbers/lists)
            try:
                call = _ast.parse(f"f({cm.group(1)})", mode="eval").body
                if call.args:
                    raise ValueError(
                        f"model {name}: config() takes keyword "
                        "arguments only (e.g. materialized='table')"
                    )
                for kw in call.keywords:
                    if kw.arg not in _CONFIG_KEYS:
                        raise ValueError(
                            f"model {name}: unsupported config key "
                            f"{kw.arg!r} (supported: "
                            f"{sorted(_CONFIG_KEYS)})"
                        )
                    try:
                        kwargs[_CONFIG_KEYS[kw.arg]] = _ast.literal_eval(kw.value)
                    except ValueError as e:
                        raise ValueError(
                            f"model {name}: config {kw.arg} must be a "
                            f"literal value (string/number/list) — {e}"
                        ) from e
            except SyntaxError as e:
                raise ValueError(
                    f"model {name}: unparseable config(...): {e}"
                ) from e
            sql = config_re.sub("", sql, count=1)
        deps = sorted({m for m in ref_re.findall(sql) if m in names})
        unknown_refs = sorted({m for m in ref_re.findall(sql)} - names)
        if unknown_refs:
            raise ValueError(
                f"model {name}: ref() to unknown model(s) {unknown_refs} "
                f"(files present: {sorted(names)})"
            )
        sql = ref_re.sub(lambda m: f"{schema}.{m.group(1)}", sql)
        leftover = jinja_re.search(sql)
        if leftover:
            raise ValueError(
                f"model {name}: unsupported jinja {leftover.group(0)[:60]!r} "
                "— only config(...) and ref('name') are templated here"
            )
        models.append(ModelDef(name=name, sql=sql.strip(),
                               depends_on=deps, **kwargs))
    return models


class ProjectRunner:
    def __init__(
        self,
        engine: IcebreakerEngine,
        threads: int = DEFAULT_THREADS,
        state_dir: Optional[str] = None,
    ):
        self.engine = engine
        self.threads = threads
        state_dir = state_dir or os.path.expanduser("~/.spark_icebreaker")
        self.wal = CrashWal(os.path.join(state_dir, "wal.json"))
        self.savings = SavingsTracker(os.path.join(state_dir, "savings.db"))
        self.summary = RunSummary(os.path.join(state_dir, "runs"))

    def _run_one(self, m: ModelDef, full_refresh: bool) -> RunResult:
        self.wal.pre_execute(m.name)
        try:
            if m.materialization == "snapshot":
                result = self.engine.run_snapshot(
                    m.name,
                    m.sql,
                    unique_key=m.unique_key,
                    strategy=m.strategy,
                    updated_at=m.updated_at,
                    check_cols=m.check_cols,
                )
            else:
                result = self.engine.run_model(
                    m.name,
                    m.sql,
                    materialization=m.materialization,
                    unique_key=m.unique_key,
                    incremental_strategy=m.incremental_strategy,
                    on_schema_change=m.on_schema_change,
                    partition_by=m.partition_by,
                    full_refresh=full_refresh,
                )
            self.wal.post_execute(m.name, success=True)
            saved = self.savings.log_run(m.name, result.duration_s)
            self.summary.record(
                m.name, result.materialization, result.duration_s, result.rows, saved
            )
            return result
        except Exception as exc:
            self.wal.post_execute(m.name, success=False)
            self.summary.record(m.name, m.materialization, 0.0, -1,
                                status="error", reason=str(exc)[:500])
            raise

    def run(self, models: list[ModelDef], full_refresh: bool = False) -> dict:
        """Kahn-ordered level-parallel execution; a failed model skips
        its downstream subtree (dbt semantics), independent subtrees
        continue."""
        by_name = {m.name: m for m in models}
        deps = {m.name: [d for d in m.depends_on if d in by_name] for m in models}
        order = kahn_order(deps)

        # level-ize: a model's level = 1 + max(level of deps)
        level: dict[str, int] = {}
        for name in order:
            level[name] = 1 + max((level[d] for d in deps[name]), default=-1)
        levels: dict[int, list[str]] = {}
        for name, lv in level.items():
            levels.setdefault(lv, []).append(name)

        results: dict[str, RunResult] = {}
        failed: set[str] = set()
        for lv in sorted(levels):
            # a level's models never depend on each other, so marking a
            # skipped one failed cannot change its neighbours' test
            runnable = []
            for n in levels[lv]:
                if failed.isdisjoint(deps[n]):
                    runnable.append(by_name[n])
                    continue
                failed.add(n)
                self.summary.record(n, by_name[n].materialization, 0.0, -1,
                                    status="skipped", reason="upstream failed")
            with ThreadPoolExecutor(max_workers=self.threads) as pool:
                futures = {m.name: pool.submit(self._run_one, m, full_refresh) for m in runnable}
                for name, fut in futures.items():
                    try:
                        results[name] = fut.result()
                    except Exception:
                        failed.add(name)
        session = self.summary.finish()
        session["failed"] = sorted(failed)
        return session
