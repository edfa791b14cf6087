"""Crash WAL (SURVEY R3; ref state.py:85-194).

Write-ahead record around model execution: `running` before,
`success`/`crash` after. A `running` entry found at startup means the
previous run died (OOM-killed JVM, SIGKILL) — after
``max_crash_count`` crashes within ``crash_memory_days`` the model is
blacklisted (ref state.py:24: 3 crashes; state.py:27: 7 days) and the
advisor flags it instead of silently re-running a driver-killer.

Thread-safe (ProjectRunner calls it from a model thread pool): every
mutate+save runs under one lock, and the file is replaced atomically
(temp file + os.replace), so a crash mid-write never leaves half a
JSON document that would reload as an empty history.
"""

from __future__ import annotations

import json
import os
import threading
import time
from pathlib import Path

DEFAULT_MAX_CRASHES = 3       # ref state.py:24
DEFAULT_MEMORY_DAYS = 7.0     # ref state.py:27


class CrashWal:
    def __init__(
        self,
        path: str,
        max_crash_count: int = DEFAULT_MAX_CRASHES,
        crash_memory_days: float = DEFAULT_MEMORY_DAYS,
    ):
        self.path = Path(path)
        self.max_crash_count = max_crash_count
        self.crash_memory_days = crash_memory_days
        self._lock = threading.Lock()
        self._state = self._load()
        self._detect_crashes()

    def _load(self) -> dict:
        if self.path.exists():
            try:
                return json.loads(self.path.read_text())
            except json.JSONDecodeError:
                return {}
        return {}

    def _save(self) -> None:
        """Caller holds ``self._lock`` (or is the constructor)."""
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.with_name(f"{self.path.name}.{os.getpid()}.tmp")
        tmp.write_text(json.dumps(self._state, indent=2))
        os.replace(tmp, self.path)

    def _detect_crashes(self) -> None:
        """Entries still `running` at startup = crash (ref
        state.py:85-130: previous process never reached post-exec)."""
        now = time.time()
        for model, entry in self._state.items():
            if entry.get("status") == "running":
                entry["status"] = "crash"
                entry.setdefault("crashes", []).append(entry.get("started_at", now))
        self._save()

    def _recent_crashes(self, model: str) -> list[float]:
        horizon = time.time() - self.crash_memory_days * 86400
        with self._lock:
            crashes = list(self._state.get(model, {}).get("crashes", []))
        return [t for t in crashes if t >= horizon]

    def pre_execute(self, model: str) -> None:
        with self._lock:
            entry = self._state.setdefault(model, {})
            entry["status"] = "running"
            entry["started_at"] = time.time()
            self._save()

    def post_execute(self, model: str, success: bool = True) -> None:
        with self._lock:
            entry = self._state.setdefault(model, {})
            if success:
                entry["status"] = "success"
            else:
                entry["status"] = "crash"
                entry.setdefault("crashes", []).append(time.time())
            self._save()

    def is_blacklisted(self, model: str) -> bool:
        """≥ max_crash_count crashes in the memory window (ref
        state.py:131-194, tests/test_state_metadata.py:67-78)."""
        return len(self._recent_crashes(model)) >= self.max_crash_count

    def crash_count(self, model: str) -> int:
        return len(self._recent_crashes(model))

    def clear(self, model: str | None = None) -> None:
        with self._lock:
            if model is None:
                self._state = {}
            else:
                self._state.pop(model, None)
            self._save()
