"""Per-layer metrics of a traced run.

Every value is an average per timed op (``*_ms``, counts, bytes) or per
pass (``project.*``, ``materializations.bytes_written/files_written``),
taken over the traced passes only. A layer a workload never enters
reads 0. ``TARGETS`` names the end-to-end metric and workload each
layer metric is expected to move.
"""

from __future__ import annotations

from collections import defaultdict

MAT_KINDS = ("table", "view", "incremental_merge", "incremental_append",
             "incremental_delete_insert", "snapshot", "seed", "merge_stmt")
MODEL_KINDS = {"table", "view", "incremental_merge", "incremental_append",
               "incremental_delete_insert", "snapshot"}

# metric -> (unit, better, end-to-end metric it moves, workload)
TARGETS = {
    "session.start_ms": ("ms", "lower", "setup_s", "all"),
    "sources.register_ms": ("ms", "lower", "setup_s", "all"),
    "transpiler.calls": ("count", "lower", "op_p50_ms", "dbt_build"),
    "transpiler.ms": ("ms", "lower", "op_p50_ms", "dbt_build"),
    "runner.execute_ms": ("ms", "lower", "op_p50_ms", "dbt_build"),
    "runner.prep_jobs": ("count", "lower", "op_p50_ms", "dbt_build"),
    "spark.catalyst.analysis_ms": ("ms", "lower", "op_p50_ms", "dbt_build"),
    "spark.catalyst.optimization_ms": ("ms", "lower", "op_p50_ms", "dbt_build"),
    "spark.catalyst.planning_ms": ("ms", "lower", "op_p50_ms", "dbt_build"),
    "spark.catalyst.executions": ("count", "lower", "pass_s", "dbt_build"),
    "spark.scheduler.jobs": ("count", "lower", "op_p50_ms", "dbt_build"),
    "spark.scheduler.stages": ("count", "lower", "op_p50_ms", "dbt_build"),
    "spark.scheduler.tasks": ("count", "lower", "op_p50_ms", "dbt_build"),
    "spark.scheduler.job_ms": ("ms", "lower", "op_p50_ms", "dbt_build"),
    "spark.scheduler.driver_gap_ms": ("ms", "lower", "op_p50_ms", "dbt_build"),
    "spark.scheduler.task_run_ms": ("ms", "lower", "pass_s", "xops_batch"),
    "spark.scheduler.task_cpu_ms": ("ms", "lower", "pass_s", "xops_batch"),
    "spark.scheduler.gc_ms": ("ms", "lower", "peak_rss_mb", "xops_batch"),
    "spark.scheduler.failed_tasks": ("count", "lower", "pass_s", "xops_batch"),
    "spark.shuffle.write_bytes": ("bytes", "lower", "pass_s", "xops_batch"),
    "spark.shuffle.read_bytes": ("bytes", "lower", "op_tail_ms", "xops_batch"),
    "spark.shuffle.spill_bytes": ("bytes", "lower", "op_tail_ms", "xops_batch"),
    "spark.python_worker.bytes_sent": ("bytes", "lower", "pass_s", "xops_batch"),
    "spark.python_worker.bytes_received": ("bytes", "lower", "pass_s", "xops_batch"),
    "spark.python_worker.rows_received": ("count", "lower", "pass_s", "xops_batch"),
    "spark.python_worker.stage_ms": ("ms", "lower", "pass_s", "xops_batch"),
    "xops.build_ms": ("ms", "lower", "op_tail_ms", "xops_batch"),
    "xops.build_jobs": ("count", "lower", "op_tail_ms", "xops_batch"),
    "xops.action_ms": ("ms", "lower", "pass_s", "xops_batch"),
    "xops.rows_out": ("count", "lower", "pass_s", "xops_batch"),
    **{f"materializations.{k}_ms": ("ms", "lower", "pass_s", "dbt_build")
       for k in MAT_KINDS},
    "materializations.jobs_per_model": ("count", "lower", "op_p50_ms", "dbt_build"),
    "materializations.bytes_written": ("bytes", "lower", "pass_s", "dbt_build"),
    "materializations.files_written": ("count", "lower", "pass_s", "dbt_build"),
    "materializations.write_amp": ("ratio", "lower", "pass_s", "dbt_build"),
    "project.build_ms": ("ms", "lower", "pass_s", "dbt_build"),
    "project.level_wait_ms": ("ms", "lower", "pass_s", "dbt_build"),
    "project.thread_util": ("ratio", "higher", "pass_s", "dbt_build"),
    "project.bookkeeping_ms": ("ms", "lower", "pass_s", "dbt_build"),
    "trace.pass_ratio": ("ratio", "lower", "pass_s", "all"),
}


def _union_s(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _levels(deps: dict[str, list[str]]) -> dict[str, int]:
    level: dict[str, int] = {}

    def lv(n):
        if n not in level:
            level[n] = 1 + max((lv(d) for d in deps[n] if d in deps), default=-1)
        return level[n]

    for n in deps:
        lv(n)
    return level


def compute(records, spans, phases, view, runs, passes, setup, table_stats,
            threads) -> dict[str, float]:
    """``records``: traced OpRecords; ``view``: Tracer.spark_view();
    ``runs``: ProjectRunner.run spans of the traced passes."""
    n_ops = max(1, len(records))
    P = max(1, passes)
    jobs, stages, execs = view["jobs"], view["stages"], view["execs"]
    m: dict[str, float] = {k: 0.0 for k in TARGETS}
    m["session.start_ms"] = setup["session_s"] * 1000
    m["sources.register_ms"] = setup["register_s"] * 1000

    tr = [s for s in spans if s["layer"] == "transpile"]
    ex = [s for s in spans if s["layer"] == "execute"]
    m["transpiler.calls"] = len(tr) / n_ops
    m["transpiler.ms"] = sum(s["end"] - s["start"] for s in tr) * 1000 / n_ops
    m["runner.execute_ms"] = sum(s["end"] - s["start"] for s in ex) * 1000 / n_ops
    exec_tags = {s["name"] for s in ex}
    m["runner.prep_jobs"] = sum(1 for j in jobs.values() if j["tags"] & exec_tags) / n_ops

    for ph, key in (("analysis", "analysis_ms"), ("optimization", "optimization_ms"),
                    ("planning", "planning_ms")):
        m[f"spark.catalyst.{key}"] = sum(p.get(ph, 0) for p in phases) / n_ops
    m["spark.catalyst.executions"] = len(phases) / n_ops

    by_tag = defaultdict(list)
    for jid, j in jobs.items():
        for t in j["tags"]:
            by_tag[t].append(jid)
    seen_stages: set[int] = set()
    gap = job_ms = 0.0
    for rec in records:
        jids = by_tag.get(rec.tag, [])
        ivs = [(jobs[j]["start"], jobs[j]["end"]) for j in jids
               if jobs[j]["start"] is not None and jobs[j]["end"] is not None]
        job_ms += sum(b - a for a, b in ivs) * 1000
        a0, b0 = rec.start, rec.start + rec.latency_s
        clipped = [(max(a, a0), min(b, b0)) for a, b in ivs if b > a0 and a < b0]
        gap += max(0.0, (b0 - a0) - _union_s(clipped)) * 1000
        rec.extra["jobs"] = len(jids)
        rec.extra["build_jobs"] = len(by_tag.get(rec.tag + ".build", []))
        rec.extra["stages"] = {s for j in jids for s in jobs[j]["stages"]} - seen_stages
        seen_stages |= rec.extra["stages"]
    m["spark.scheduler.jobs"] = len(jobs) / n_ops
    m["spark.scheduler.stages"] = len([s for s in stages.values() if s["tasks"]]) / n_ops
    m["spark.scheduler.job_ms"] = job_ms / n_ops
    m["spark.scheduler.driver_gap_ms"] = gap / n_ops
    for key, field in (("tasks", "tasks"), ("task_run_ms", "run_ms"),
                       ("task_cpu_ms", "cpu_ms"), ("gc_ms", "gc_ms"),
                       ("failed_tasks", "failed_tasks")):
        m[f"spark.scheduler.{key}"] = sum(s[field] for s in stages.values()) / n_ops
    for key, field in (("write_bytes", "shuffle_write"), ("read_bytes", "shuffle_read"),
                       ("spill_bytes", "spill")):
        m[f"spark.shuffle.{key}"] = sum(s[field] for s in stages.values()) / n_ops
    for key, field in (("bytes_sent", "py_sent"), ("bytes_received", "py_recv"),
                       ("rows_received", "py_rows"), ("stage_ms", "py_ms")):
        m[f"spark.python_worker.{key}"] = sum(e[field] for e in execs.values()) / n_ops

    xo = [r for r in records if r.kind == "xop"]
    if xo:
        m["xops.build_ms"] = sum(r.build_s for r in xo) * 1000 / len(xo)
        m["xops.action_ms"] = sum(r.action_s for r in xo) * 1000 / len(xo)
        m["xops.build_jobs"] = sum(r.extra["build_jobs"] for r in xo) / len(xo)
        m["xops.rows_out"] = sum(max(r.rows, 0) for r in xo) / len(xo)

    # materializations
    kinds = defaultdict(list)
    for r in records:
        kinds[r.kind].append(r)
    for k in MAT_KINDS:
        if kinds[k]:
            m[f"materializations.{k}_ms"] = (
                sum(r.latency_s for r in kinds[k]) * 1000 / len(kinds[k]))
    models = [r for r in records if r.kind in MODEL_KINDS]
    if models:
        m["materializations.jobs_per_model"] = (
            sum(r.extra["jobs"] for r in models) / len(models))
    if any(r.kind in MAT_KINDS for r in records):
        m["materializations.bytes_written"] = (
            sum(s["output_bytes"] for s in stages.values()) / P)
        m["materializations.files_written"] = sum(e["files"] for e in execs.values()) / P
        written = changed = 0.0
        for r in records:
            ch = r.extra.get("changed_rows")
            stat = table_stats.get((r.pass_no, r.extra.get("target")))
            if ch and stat and stat[1]:
                written += sum(stages[s]["output_bytes"] for s in r.extra["stages"])
                changed += ch * stat[0] / stat[1]
        if changed:
            m["materializations.write_amp"] = written / changed

    # project: level barriers, thread use, bookkeeping
    if runs:
        build = wait = busy = book = 0.0
        for run in runs:
            wall = run["end"] - run["start"]
            build += wall
            mine = [r for r in records if r.pass_no == run["pass"]
                    and r.op in run["deps"] and r.kind in MODEL_KINDS
                    and run["start"] <= r.start <= run["end"]]
            busy += sum(r.latency_s for r in mine)
            book += wall - _union_s([(r.start, r.start + r.latency_s) for r in mine])
            lv = _levels(run["deps"])
            for level in set(lv.values()):
                rs = [r for r in mine if lv.get(r.op) == level]
                if not rs:
                    continue
                lw = max(r.start + r.latency_s for r in rs) - min(r.start for r in rs)
                wait += min(threads, len(rs)) * lw - sum(r.latency_s for r in rs)
        m["project.build_ms"] = build * 1000 / P
        m["project.level_wait_ms"] = wait * 1000 / P
        m["project.thread_util"] = busy / (threads * build) if build else 0.0
        m["project.bookkeeping_ms"] = book * 1000 / P
    return m
