"""Tracing for the per-layer run (``--trace 1``).

Everything here lives in the benchmark: spans are recorded around the
calls the benchmark makes into each layer, and around the engine's
public ``Transpiler.to_spark``/``to_spark_statements`` and
``IcebreakerEngine.execute`` methods (wrapped for the traced run only,
restored by ``close``). Spark-side numbers come from Spark's own status
surfaces:

- every op runs under a job tag (``SparkContext.addJobTag``), so its
  jobs, stages and task metrics are found in the app status store;
- SQL executions are attributed to an op through their job ids, and
  their plan-node metrics give Python-worker and file-write figures;
- a ``QueryExecutionListener`` (a py4j callback) reads each execution's
  ``QueryPlanningTracker`` phases.

Spans are kept in memory and written out as JSON when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import threading
import time

SEP = "\u0001"
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-6, "us": 1e-3, "µs": 1e-3, "ms": 1.0, "s": 1000.0,
         "min": 60_000.0, "h": 3_600_000.0}


def parse_metric(text: str | None) -> float:
    """Numeric value of a formatted SQL metric ('86.4 KiB', '2.1 s',
    '10,000', or 'total (min, med, max ...)\\n<total> (...)')."""
    if not text:
        return 0.0
    lines = text.strip().split("\n")
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-zµ]*)", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _UNITS:
        return num * _UNITS[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[dict] = []
        self.phases: list[dict] = []
        self.recording = False
        self._restore: list = []
        self._listener = None

    # ---- tags and spans
    def new_tag(self, op: str) -> str:
        return f"pb{next(self._ids)}.{op}"

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def tagged(self, tag: str, layer: str | None = None):
        st = self._stack()
        self.sc.addJobTag(tag)
        st.append(tag)
        t0 = time.time()
        try:
            yield
        finally:
            st.pop()
            self.sc.removeJobTag(tag)
            self._span(tag, t0, parent=st[-1] if st else None,
                       op=st[0] if st else tag, layer=layer)

    def _span(self, name, t0, parent, op, layer=None) -> None:
        with self._lock:
            self.spans.append({"name": name, "layer": layer, "start": t0,
                               "end": time.time(), "parent": parent, "op": op,
                               "thread": threading.get_ident()})

    # ---- wrappers around public engine methods
    def _wrap(self, cls, attr: str, layer: str, tag_jobs: bool) -> None:
        orig = getattr(cls, attr)
        tracer = self

        def wrapper(obj, *a, **kw):
            st = tracer._stack()
            depth = getattr(tracer._local, layer, 0)
            if not tracer.recording or depth:
                return orig(obj, *a, **kw)
            setattr(tracer._local, layer, 1)
            t0 = time.time()
            tag = f"{st[-1] if st else 'none'}.{layer}{next(tracer._ids)}"
            try:
                cm = (tracer.tagged(tag, layer) if tag_jobs
                      else contextlib.nullcontext())
                with cm:
                    return orig(obj, *a, **kw)
            finally:
                setattr(tracer._local, layer, 0)
                if not tag_jobs:
                    tracer._span(tag, t0, parent=st[-1] if st else None,
                                 op=st[0] if st else None, layer=layer)

        setattr(cls, attr, wrapper)
        self._restore.append((cls, attr, orig))

    def install(self) -> None:
        from dbt_icebreaker_spark import IcebreakerEngine, Transpiler
        from pyspark.java_gateway import ensure_callback_server_started

        self._wrap(Transpiler, "to_spark", "transpile", tag_jobs=False)
        self._wrap(Transpiler, "to_spark_statements", "transpile", tag_jobs=False)
        self._wrap(IcebreakerEngine, "execute", "execute", tag_jobs=True)
        ensure_callback_server_started(self.sc._gateway)
        self._listener = _PhaseListener(self)
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def drain(self, quiet_s: float = 0.3, max_s: float = 5.0) -> None:
        """Wait until the async listener bus has delivered our events."""
        end = time.time() + max_s
        n = -1
        while time.time() < end and n != len(self.phases):
            n = len(self.phases)
            time.sleep(quiet_s)

    def close(self) -> None:
        for cls, attr, orig in reversed(self._restore):
            setattr(cls, attr, orig)
        self._restore.clear()
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    # ---- reading Spark's status stores
    def spark_view(self, tags: set[str]) -> dict:
        """Jobs, stages and SQL executions that carry any of ``tags``."""
        store = self.sc._jsc.sc().statusStore()
        jobs = {}
        for j in _seq(store.jobsList(None)):
            jtags = set(j.jobTags().mkString(SEP).split(SEP))
            if not jtags & tags:
                continue
            jobs[j.jobId()] = {
                "tags": jtags,
                "stages": [int(x) for x in j.stageIds().mkString(",").split(",") if x],
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
                "failed_tasks": j.numFailedTasks(),
            }
        stages = {}
        for sid in sorted({s for j in jobs.values() for s in j["stages"]}):
            s = store.lastStageAttempt(sid)
            stages[sid] = {
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "cpu_ms": s.executorCpuTime() / 1e6,
                "gc_ms": s.jvmGcTime(),
                "failed_tasks": s.numFailedTasks(),
                "shuffle_write": s.shuffleWriteBytes(),
                "shuffle_read": s.shuffleReadBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "output_bytes": s.outputBytes(),
            }
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = {}
        for e in _seq(sql.executionsList()):
            jids = [int(x) for x in e.jobs().keySet().mkString(",").split(",") if x]
            jids = [j for j in jids if j in jobs]
            if not jids:
                continue
            vals = sql.executionMetrics(e.executionId())
            m = {"py_sent": 0.0, "py_recv": 0.0, "py_rows": 0.0, "py_ms": 0.0,
                 "files": 0.0}

            def val(metric):
                v = vals.get(metric.accumulatorId())
                return parse_metric(v.get() if v.isDefined() else None)

            for node in _seq(sql.planGraph(e.executionId()).allNodes()):
                metrics = {x.name(): x for x in _seq(node.metrics())}
                if "data sent to Python workers" in metrics:
                    m["py_sent"] += val(metrics["data sent to Python workers"])
                    m["py_recv"] += val(metrics.get("data returned from Python workers"))
                    if "number of output rows" in metrics:
                        m["py_rows"] += val(metrics["number of output rows"])
                    if "time to run Python workers" in metrics:
                        m["py_ms"] += val(metrics["time to run Python workers"])
                if "number of written files" in metrics:
                    m["files"] += val(metrics["number of written files"])
            execs[e.executionId()] = {"jobs": jids, **m}
        return {"jobs": jobs, "stages": stages, "execs": execs}


class _PhaseListener:
    """py4j proxy for org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM API)
        if not self.tracer.recording:
            return
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
        with self.tracer._lock:
            self.tracer.phases.append(phases)

    def onFailure(self, func_name, qe, exc):  # noqa: N802 (JVM API)
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
