"""One benchmark run in a fresh process: set up, cold pass, warm loop,
checks, and (``--trace 1``) a traced section. Started by ``run.py``;
writes its result as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def percentile(xs: list[float], pct: int) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[min(len(xs), max(1, -(-pct * len(xs) // 100))) - 1]


def tail_pct(n: int) -> int:
    """The highest percentile with at least ten of ``n`` samples beyond
    it, never below the median."""
    return max(50, int(100 * (1 - 10 / n)))


def run_passes(w, first_pass: int, n: int, oracle, defer_checks):
    """``n`` passes; returns (wall times, records, next pass number)."""
    walls, records = [], []
    for p in range(first_pass, first_pass + n):
        t0 = time.perf_counter()
        recs = w.run_pass(p)
        walls.append(time.perf_counter() - t0)
        if not defer_checks:
            w.check(recs, oracle)
        w.end_pass(p)
        records += recs
    return walls, records, first_pass + n


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()
    load_before = _load1()

    # ---- set-up: imports, session, sources, engine (+ dbt sources)
    from dbt_icebreaker_spark import IcebreakerEngine, get_spark
    from dbt_icebreaker_spark.sources import register_dir

    import pyspark
    from checks import Oracle
    from workloads import THREADS, WORKLOADS, Ctx

    t_sess = time.time()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        warehouse_dir=os.path.join(args.work, "warehouse"),
        extra_conf={
            "spark.local.dir": os.path.join(args.work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={args.work}/derby "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    t_eng = time.time()
    engine = IcebreakerEngine(spark, schema="pb_main")
    ctx = Ctx(spark, engine, args.data, args.work, args.seed)
    w = WORKLOADS[args.workload](ctx)
    t_reg = time.time()
    if w.tables:
        register_dir(spark, args.data, tables=w.tables)
    w.setup()
    t_ready = time.time()
    setup = {"session_s": t_eng - t_sess, "engine_s": t_reg - t_eng,
             "register_s": t_ready - t_reg, "setup_s": t_ready - args.t0}

    oracle = Oracle(args.data, w.tables)
    w.plan(oracle)
    defer = not w.check_each_pass

    # ---- cold pass, then the warm loop
    t0 = time.perf_counter()
    cold = w.run_pass(0)
    cold_s = time.perf_counter() - t0
    if not defer:
        w.check(cold, oracle)
    w.end_pass(0)
    # the warm window is --seconds of nominal pass time: a pass count
    # that follows the host's speed would change what the medians mean
    n_warm = max(1, round(args.seconds / w.nominal_pass_s))
    walls, warm, next_pass = run_passes(w, 1, n_warm, oracle, defer)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    peak_rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)

    result: dict = {"detail": {}}
    traced: list = []
    if args.trace:
        from layers import compute
        from tracing import Tracer

        # traced passes follow the untraced warm passes above; the
        # overhead compares the two medians (the traced passes run a
        # little warmer, so it errs low)
        tracer = Tracer(spark)
        tracer.install()
        t_walls, traced, traced_passes = [], [], []
        for _ in range(max(1, n_warm // 2)):
            ctx.tracer, tracer.recording = tracer, True
            t0 = time.perf_counter()
            recs = w.run_pass(next_pass)
            t_walls.append(time.perf_counter() - t0)
            tracer.drain()
            tracer.recording = False  # the checks' queries are not ops
            if not defer:
                w.check(recs, oracle)
            ctx.tracer = None
            w.end_pass(next_pass)
            traced_passes.append(next_pass)
            traced += recs
            next_pass += 1
        tags = {r.tag for r in traced} | {s["name"] for s in tracer.spans}
        view = tracer.spark_view(tags)
        tracer.close()
        runs = [r for r in getattr(w, "runs", []) if r["pass"] in traced_passes]
        layer = compute(traced, tracer.spans, tracer.phases, view, runs,
                        len(t_walls), setup, getattr(w, "table_stats", {}),
                        THREADS)
        layer["trace.pass_ratio"] = statistics.median(t_walls) / statistics.median(walls)
        result["detail"].update(traced_pass_s=t_walls)
        with open(args.spans, "w") as f:
            json.dump({"spans": tracer.spans, "phases": tracer.phases}, f)
    if defer:
        w.check(cold + warm + traced, oracle)
    oracle.close()

    ops = cold + warm + traced
    failed = [r for r in ops if not r.ok]
    lat = [r.latency_s for r in warm]
    pct = tail_pct(len(lat))
    nproc = len(os.sched_getaffinity(0))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])  # set by run.py
    if args.trace:
        from layers import TARGETS

        result["metrics"] = {k: {"value": layer[k], "unit": TARGETS[k][0]}
                             for k in TARGETS}
    else:
        result["metrics"] = {
            "setup_s": {"value": setup["setup_s"], "unit": "s"},
            "cold_pass_s": {"value": cold_s, "unit": "s"},
            "pass_s": {"value": statistics.median(walls), "unit": "s"},
            "op_p50_ms": {"value": percentile(lat, 50) * 1000, "unit": "ms"},
            "op_tail_ms": {"value": percentile(lat, pct) * 1000, "unit": "ms"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MB"},
        }
    result.update(attempted=len(ops), failed=len(failed))
    result["detail"].update({
        "workload": args.workload, "seed": args.seed,
        "failed_frac": len(failed) / len(ops),
        "errors": [f"{r.op}: {r.error}" for r in failed][:10],
        "op_tail_pct": pct, "op_samples": len(lat),
        "warm_passes": len(walls), "warm_pass_s": walls,
        "setup": setup,
        "host": {
            "nproc": nproc,
            "SPARK_GRAFT_CPUS": cores,
            "core_mismatch": nproc != cores,
            "load1_before": load_before, "load1_after": _load1(),
            "pyspark": pyspark.__version__,
        },
    })
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
