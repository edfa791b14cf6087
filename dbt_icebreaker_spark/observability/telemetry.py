"""Executed-run telemetry (SURVEY R5; ref `metadata.py:45-267`
MetadataHarvester + `traffic.py:30-43` thresholds).

The reference harvests per-model runtime/rows/bytes from warehouse
query history into a TTL'd JSON cache and feeds the traffic gates
(max_local_seconds=600, max_spill_bytes=1 GiB). Here the measurement
source is Spark itself: after each materialization the metric
accumulators of every SQL execution the run triggered
(SQLAppStatusStore — the store behind the Spark UI's SQL tab) are
aggregated into per-run shuffle-write / spill / peak-memory numbers
and persisted to a JSON history the Advisor reads, so second runs get
advice derived from what the first run actually did rather than from
static regexes alone.
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Optional

from pyspark.sql import SparkSession

_SIZE_UNITS = {
    "B": 1,
    "KiB": 1024,
    "MiB": 1024**2,
    "GiB": 1024**3,
    "TiB": 1024**4,
}
_VALUE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s)?")


def _parse_metric(text: str) -> float:
    """Parse a formatted SQLMetric value ('112.1 KiB', '6,000',
    'total (min, med, max (stageId: taskId))\\n29 ms (...)') into a
    number (bytes for sizes, ms for timings, count otherwise)."""
    if not text:
        return 0.0
    lines = [ln for ln in str(text).splitlines() if ln.strip()]
    # distribution metrics put a header on line 1, the total on line 2
    target = lines[1] if len(lines) > 1 else lines[0]
    m = _VALUE_RE.search(target)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    if unit == "s":
        return num * 1000.0
    return num


# metric name → (output field, aggregation)
_HARVEST = {
    "shuffle bytes written": ("shuffle_write_bytes", "sum"),
    "spill size": ("spill_bytes", "sum"),
    "peak memory": ("peak_memory_bytes", "max"),
}


def newest_execution_id(spark: SparkSession) -> int:
    """Newest SQL execution id in the status store (-1: none, or no JVM)."""
    try:
        execs = spark._jsparkSession.sharedState().statusStore().executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1
    except Exception:
        return -1


def harvest_run(spark: SparkSession, description: str, after_id: int) -> dict[str, float]:
    """Aggregate the metrics of every SQL execution one run triggered:
    those newer than ``after_id`` (the newest id at run start) that
    carry the run's ``spark.job.description`` — a staged rewrite's
    write is not its last execution. Nested executions carry the
    description too and each reports only its own operators, so the
    sums do not double-count. {} if the status store is unavailable."""
    try:
        sc = spark.sparkContext._jsc.sc()
        try:  # the store is fed by the async listener bus
            sc.listenerBus().waitUntilEmpty(2000)
        except Exception:
            pass  # a busy bus: harvest what has arrived
        store = spark._jsparkSession.sharedState().statusStore()
        execs = store.executionsList()
        out: dict[str, float] = {}
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= after_id:
                break
            if e.description() != description:
                continue
            vals = store.executionMetrics(e.executionId())
            it = e.metrics().iterator()
            while it.hasNext():
                d = it.next()
                if d.name() not in _HARVEST:
                    continue
                opt = vals.get(d.accumulatorId())
                if opt.isEmpty():
                    continue
                field_name, agg = _HARVEST[d.name()]
                v = _parse_metric(str(opt.get()))
                if agg == "sum":
                    out[field_name] = out.get(field_name, 0.0) + v
                else:
                    out[field_name] = max(out.get(field_name, 0.0), v)
        return out
    except Exception:
        return {}


@dataclass
class RunRecord:
    model: str
    duration_s: float
    rows: int
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    peak_memory_bytes: float = 0.0
    recorded_at: float = field(default_factory=time.time)

    def to_dict(self) -> dict:
        return {
            "model": self.model,
            "duration_s": self.duration_s,
            "rows": self.rows,
            "shuffle_write_bytes": self.shuffle_write_bytes,
            "spill_bytes": self.spill_bytes,
            "peak_memory_bytes": self.peak_memory_bytes,
            "recorded_at": self.recorded_at,
        }


class TelemetryStore:
    """Per-model run-history persistence (ref metadata.py:214-267
    update_cache/get_model_stats: JSON cache keyed by model). Keeps
    the last `keep` runs per model."""

    def __init__(self, path: str = ".spark_icebreaker/telemetry.json", keep: int = 20):
        self.path = Path(path)
        self.keep = keep

    def _load(self) -> dict:
        if self.path.exists():
            try:
                return json.loads(self.path.read_text())
            except json.JSONDecodeError:
                return {}
        return {}

    def record(
        self,
        model: str,
        duration_s: float,
        rows: int,
        metrics: Optional[dict[str, float]] = None,
    ) -> RunRecord:
        metrics = metrics or {}
        rec = RunRecord(
            model=model,
            duration_s=round(duration_s, 3),
            rows=rows,
            shuffle_write_bytes=metrics.get("shuffle_write_bytes", 0.0),
            spill_bytes=metrics.get("spill_bytes", 0.0),
            peak_memory_bytes=metrics.get("peak_memory_bytes", 0.0),
        )
        data = self._load()
        history = data.get(model, [])
        history.append(rec.to_dict())
        data[model] = history[-self.keep :]
        self.path.parent.mkdir(parents=True, exist_ok=True)
        self.path.write_text(json.dumps(data, indent=2))
        return rec

    def history(self, model: str) -> list[dict]:
        return self._load().get(model, [])

    def last(self, model: str) -> Optional[dict]:
        h = self.history(model)
        return h[-1] if h else None
