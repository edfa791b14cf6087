"""CLI (SURVEY R12; ref cli.py:14-199 dispatch, commands 202-715).

Commands: savings / status / summary / sync / sync-status / stats /
update-stats / health / explain / cache / run / verify / version —
the reference's full 12-command surface (ref cli.py:24-199). `explain`
is strictly richer than the reference's (static advice + Spark's
formatted physical plan, SURVEY §3.3).

Usage: python -m dbt_icebreaker_spark.cli <command> [...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

STATE_DIR = os.environ.get(
    "SPARK_ICEBREAKER_HOME", os.path.expanduser("~/.spark_icebreaker")
)


def _savings_tracker():
    from .observability.savings import SavingsTracker

    return SavingsTracker(os.path.join(STATE_DIR, "savings.db"))


def cmd_savings(args) -> int:
    t = _savings_tracker()
    out = t.summary(days=args.days)
    out["projection"] = t.projection(days=args.days)
    print(json.dumps(out, indent=2))
    return 0


def cmd_health(args) -> int:
    from .observability.health import health_check
    from .session import get_spark
    from .sources import CacheConfig, SourceCache

    spark = get_spark(app_name="health")
    cache = SourceCache(spark, CacheConfig(cache_dir=os.path.join(STATE_DIR, "cache")))
    result = health_check(
        spark=spark,
        cache=cache,
        savings_db=os.path.join(STATE_DIR, "savings.db"),
        sync_ledger=os.path.join(STATE_DIR, "sync.db"),
    )
    print(json.dumps(result, indent=2))
    return 0 if result["status"] != "error" else 1


def cmd_status(args) -> int:
    """One-screen engine status (ref cli.py:221-246): savings totals,
    cache state, sync success rate, recent telemetry — without
    starting a SparkSession."""
    from .observability.telemetry import TelemetryStore
    from .sync import SyncLedger

    out: dict = {}
    try:
        out["savings"] = _savings_tracker().summary(days=30.0)
    except Exception as exc:
        out["savings"] = {"error": str(exc)}
    manifest = os.path.join(STATE_DIR, "cache", "manifest.json")
    if os.path.exists(manifest):
        m = json.load(open(manifest))
        out["cache"] = {
            "entries": len(m),
            "total_bytes": sum(e.get("bytes", 0) for e in m.values()),
        }
    else:
        out["cache"] = {"entries": 0, "total_bytes": 0}
    ledger_path = os.path.join(STATE_DIR, "sync.db")
    if os.path.exists(ledger_path):
        out["sync_success_rate"] = SyncLedger(ledger_path).success_rate()
    tele = TelemetryStore(path=os.path.join(STATE_DIR, "telemetry.json"))
    models = tele._load()
    out["telemetry_models"] = len(models)
    print(json.dumps(out, indent=2))
    return 0


def cmd_update_stats(args) -> int:
    """Refresh per-model stats from measured telemetry (ref
    cli.py:557-620 update-stats re-harvests warehouse query history;
    here the history is Spark's own measured runs). Prints per-model
    aggregates over the last N runs."""
    from .observability.telemetry import TelemetryStore

    tele = TelemetryStore(path=os.path.join(STATE_DIR, "telemetry.json"))
    data = tele._load()
    stats = {}
    for model, runs in data.items():
        recent = runs[-args.runs :]
        if not recent:
            continue
        stats[model] = {
            "runs": len(recent),
            "avg_duration_s": round(sum(r["duration_s"] for r in recent) / len(recent), 3),
            "max_duration_s": max(r["duration_s"] for r in recent),
            "avg_rows": int(sum(r["rows"] for r in recent) / len(recent)),
            "max_spill_bytes": max(r.get("spill_bytes", 0) for r in recent),
            "max_shuffle_write_bytes": max(
                r.get("shuffle_write_bytes", 0) for r in recent
            ),
        }
    print(json.dumps({"models": stats}, indent=2))
    return 0


def cmd_explain(args) -> int:
    from .observability.advisor import Advisor
    from .observability.state import CrashWal
    from .session import get_spark
    from .sources import register_dir

    sql = args.sql
    if os.path.exists(sql):
        sql = open(sql).read()
    spark = get_spark(app_name="explain")
    if args.data_dir:
        register_dir(spark, args.data_dir)
    wal = CrashWal(os.path.join(STATE_DIR, "wal.json"))
    advisor = Advisor(spark, wal)
    dirs = (args.data_dir,) if args.data_dir else ()
    print(advisor.explain(args.model or "adhoc", sql, search_dirs=dirs))
    return 0


def cmd_cache(args) -> int:
    from .session import get_spark
    from .sources import CacheConfig, SourceCache

    spark = get_spark(app_name="cache")
    cache = SourceCache(spark, CacheConfig(cache_dir=os.path.join(STATE_DIR, "cache")))
    if args.action == "status":
        print(json.dumps(cache.status(), indent=2))
    elif args.action == "clear":
        cache.clear()
        print("cache cleared")
    elif args.action == "prune":
        removed = cache.prune()
        print(json.dumps({"removed": removed}, indent=2))
    elif args.action == "refresh":
        # ref cli.py:144-152 re-downloads; with no warehouse connection
        # in the CLI context, report which entries are stale so the
        # caller can re-cache them through an engine with a fetch hook
        status = cache.status()
        stale = [k for k, v in status["tables"].items() if not v["fresh"]]
        print(json.dumps({"stale": stale, "fresh": len(status["tables"]) - len(stale)}, indent=2))
    return 0


def cmd_run(args) -> int:
    from .runner import IcebreakerEngine
    from .session import get_spark
    from .sources import register_dir

    sql = args.sql
    if os.path.exists(sql):
        sql = open(sql).read()
    spark = get_spark(app_name="run")
    if args.data_dir:
        register_dir(spark, args.data_dir)
    engine = IcebreakerEngine(spark, schema=args.schema, dev_mode=args.dev)
    if args.strategy == "insert_overwrite" and not args.partition_by:
        print("error: --strategy insert_overwrite requires --partition-by")
        return 2
    result = engine.run_model(
        args.model,
        sql,
        materialization=args.materialization,
        unique_key=args.unique_key.split(",") if args.unique_key else None,
        incremental_strategy=args.strategy,
        partition_by=args.partition_by,
        full_refresh=args.full_refresh,
    )
    tracker = _savings_tracker()
    saved = tracker.log_run(args.model, result.duration_s)
    from .observability.run_summary import RunSummary

    summary = RunSummary(os.path.join(STATE_DIR, "runs"))
    summary.record(
        result.model, result.materialization, result.duration_s, result.rows, saved
    )
    summary.finish()
    print(
        json.dumps(
            {
                "model": result.model,
                "relation": result.relation,
                "rows": result.rows,
                "duration_s": round(result.duration_s, 3),
                "savings_usd": round(saved, 4),
                "details": result.details,
            },
            indent=2,
        )
    )
    return 0


def cmd_verify(args) -> int:
    """Row-count verify between two tables (ref cli.py:379-488)."""
    from .session import get_spark

    spark = get_spark(app_name="verify")
    a = spark.table(args.table_a).count()
    b = spark.table(args.table_b).count()
    print(json.dumps({"table_a": a, "table_b": b, "match": a == b}))
    return 0 if a == b else 1


def cmd_compact(args) -> int:
    """Small-file compaction (maintenance.compact_table) — scale
    extension; every incremental/streaming table fragments over
    time. The table keeps its partitioning and bucketing."""
    from .materializations.maintenance import compact_table
    from .session import get_spark

    spark = get_spark(app_name="compact")
    stats = compact_table(spark, args.table, target_file_mb=args.target_mb)
    print(json.dumps(stats))
    return 0


def cmd_sql(args) -> int:
    """Execute Snowflake-dialect statements directly (engine.execute):
    queries return rows as JSON lines; DML (MERGE INTO, DELETE,
    UPDATE, COPY INTO, CREATE TABLE ... CLONE) routes through the
    staged-rewrite paths and reports rows_affected."""
    from .runner import IcebreakerEngine
    from .session import get_spark
    from .sources import register_dir

    sql = args.sql
    if os.path.exists(sql):
        sql = open(sql).read()
    spark = get_spark(app_name="sql")
    if args.data_dir:
        register_dir(spark, args.data_dir)
    engine = IcebreakerEngine(spark, schema=args.schema)
    df = engine.execute(sql)
    rows = df.limit(args.limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_catalog(args) -> int:
    """Schema catalog as JSON: per table name, columns/types, row
    count, data bytes and file count (ref catalog_scanner's stats
    cache, computed live from the metastore + file listing)."""
    from .materializations.ddl import table_location
    from .materializations.maintenance import _scan_files
    from .session import get_spark

    spark = get_spark(app_name="catalog")
    out = []
    for t in spark.catalog.listTables(args.schema):
        if t.isTemporary:  # listTables mixes session temp views in
            continue
        full = f"{args.schema}.{t.name}"
        cols = [
            {"name": c.name, "type": c.dataType}
            for c in spark.catalog.listColumns(full)
        ]
        loc = table_location(spark, full)
        n_files, n_bytes = _scan_files(loc) if loc and os.path.exists(loc) else (0, 0)
        entry = {
            "table": full,
            "type": t.tableType,
            "columns": cols,
            "files": n_files,
            "bytes": n_bytes,
        }
        if args.rows:
            entry["rows"] = spark.table(full).count()
        out.append(entry)
    print(json.dumps(out, default=str))
    return 0


def cmd_run_project(args) -> int:
    """Run a dbt-style models directory (load_project + ProjectRunner)."""
    from .project import ProjectRunner, load_project
    from .runner import IcebreakerEngine
    from .session import get_spark
    from .sources import register_dir

    spark = get_spark(app_name="run-project")
    if args.data_dir:
        register_dir(spark, args.data_dir)
    models = load_project(args.models_dir, schema=args.schema)
    engine = IcebreakerEngine(spark, schema=args.schema, dev_mode=args.dev)
    session = ProjectRunner(
        engine, threads=args.threads, state_dir=STATE_DIR
    ).run(models, full_refresh=args.full_refresh)
    print(json.dumps(session, default=str))
    return 0 if not session.get("failed") else 1


def cmd_test(args) -> int:
    """dbt-style generic data tests from a JSON spec file."""
    from .materializations.data_tests import run_data_tests
    from .session import get_spark
    from .sources import register_dir

    specs = json.loads(open(args.specs).read())
    spark = get_spark(app_name="data-tests")
    if args.data_dir:
        register_dir(spark, args.data_dir)
    results = run_data_tests(
        spark, specs, store_failures_schema=args.store_failures_schema
    )
    for r in results:
        # sample rows may carry dates/Decimals — stringify, don't die
        print(json.dumps(r, default=str))
    return 0 if all(r["status"] == "pass" for r in results) else 1


def cmd_summary(args) -> int:
    """Latest run-session summaries (ref run_summary.py:22-257,
    cli.py:623-672)."""
    import glob

    runs = sorted(glob.glob(os.path.join(STATE_DIR, "runs", "*.json")))
    if not runs:
        print(json.dumps({"sessions": 0}))
        return 0
    latest = json.load(open(runs[-1]))
    print(json.dumps({"sessions": len(runs), "latest": latest}, indent=2))
    return 0


def cmd_sync(args) -> int:
    """Drive a verified, Kahn-ordered sync (ref cli.py:283-488 sync +
    verify): copy tables to a target schema prefix or a parquet dir,
    verify row counts, record the ledger. Table specs may declare
    upstream deps as 'table:dep1,dep2'."""
    from .session import get_spark
    from .sync import (
        SyncConfig,
        SyncManager,
        parquet_roundtrip_writer,
        spark_table_writer,
    )

    spark = get_spark(app_name="sync")
    if args.parquet_dir:
        writer, counter = parquet_roundtrip_writer(spark, args.parquet_dir)
    else:
        writer, counter = spark_table_writer(spark, args.target_prefix)
    mgr = SyncManager(
        spark,
        writer,
        counter,
        SyncConfig(ledger_path=os.path.join(STATE_DIR, "sync.db")),
    )
    deps: dict[str, list[str]] = {}
    for spec in args.tables:
        if ":" in spec:
            t, d = spec.split(":", 1)
            deps[t] = [x for x in d.split(",") if x]
        else:
            deps[spec] = []
    results = mgr.sync_all(deps)
    ok = bool(results) and all(r["status"] == "success" for r in results)
    print(json.dumps({"ok": ok, "results": results}, indent=2))
    return 0 if ok else 1


def cmd_sync_status(args) -> int:
    """Sync ledger success rate + recent entries (ref
    sync_manager.py:258-414, cli.py:283-378)."""
    from .sync import SyncLedger

    ledger = SyncLedger(os.path.join(STATE_DIR, "sync.db"))
    with ledger._conn() as conn:
        rows = conn.execute(
            "SELECT table_name, status, rows, attempts, error, ts "
            "FROM sync_log ORDER BY ts DESC LIMIT ?",
            (args.limit,),
        ).fetchall()
    print(
        json.dumps(
            {
                "success_rate": ledger.success_rate(),
                "recent": [
                    dict(zip(("table", "status", "rows", "attempts", "error", "ts"), r))
                    for r in rows
                ],
            },
            indent=2,
        )
    )
    return 0


def cmd_stats(args) -> int:
    """Input-volume estimation for a SQL's source tables (ref
    catalog_scanner.py:51-234, cli.py:547-620) — file-listing based,
    feeds broadcast-join advice."""
    from .observability.advisor import Advisor, classify_complexity
    from .session import get_spark

    sql = args.sql
    if os.path.exists(sql):
        sql = open(sql).read()
    spark = get_spark(app_name="stats")
    advisor = Advisor(spark)
    dirs = (args.data_dir,) if args.data_dir else ()
    sizes = advisor.table_bytes(sql, search_dirs=dirs)
    print(
        json.dumps(
            {
                "tables": {t: b for t, b in sizes.items()},
                "total_bytes": sum(sizes.values()),
                "complexity": classify_complexity(sql),
            },
            indent=2,
        )
    )
    return 0


def cmd_version(args) -> int:
    from . import __version__

    print(__version__)
    return 0


_HELP_EXAMPLES = """\
spark-icebreaker — command examples (ref cli.py:96-100 'help')

  savings --days 30          estimated cloud spend avoided by local runs
  status                     one-screen engine status
  health                     engine/cache/ledger health checks
  explain "SELECT …" --data-dir /data/sf0.1
                             routing advice + formatted Spark plan
  stats "SELECT …"           input volume + complexity estimate
  run daily_rev q.sql --materialization incremental \\
      --unique-key order_id --strategy merge
  run m q.sql --dev          LIMIT-sampled dev run
  run-project ./models --schema analytics --data-dir /data/sf0.1
                             run a dbt-style models directory
                             ({{ config }} + {{ ref }}, Kahn-ordered)
  sync orders lineitem:orders --target-prefix synced_
                             verified Kahn-ordered table sync
  sync-status --limit 10     sync ledger tail
  verify t_a t_b             row-count compare two tables
  test tests.json --store-failures-schema audit
                             dbt generic data tests (unique/not_null/
                             accepted_values/relationships)
  compact analytics.orders --target-mb 128
                             rewrite small files to ~128 MB
  cache status|refresh|clear|prune
  update-stats --runs 10     per-model telemetry aggregates
  summary                    latest run-session summaries
  version
"""


def cmd_help(args) -> int:
    print(_HELP_EXAMPLES)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="spark-icebreaker")
    sub = p.add_subparsers(dest="command", required=True)

    sp = sub.add_parser("savings", help="savings summary + projection")
    sp.add_argument("--days", type=float, default=30.0)
    sp.set_defaults(fn=cmd_savings)

    hp = sub.add_parser("health", help="engine/cache/ledger health")
    hp.set_defaults(fn=cmd_health)

    ep = sub.add_parser("explain", help="advice + formatted Spark plan")
    ep.add_argument("sql", help="SQL text or file path")
    ep.add_argument("--model", default=None)
    ep.add_argument("--data-dir", default=None, help="parquet dir to register")
    ep.set_defaults(fn=cmd_explain)

    cp = sub.add_parser("cache", help="source cache admin")
    cp.add_argument("action", choices=["status", "clear", "prune", "refresh"])
    cp.set_defaults(fn=cmd_cache)

    st = sub.add_parser("status", help="one-screen engine status")
    st.set_defaults(fn=cmd_status)

    us = sub.add_parser("update-stats", help="per-model telemetry aggregates")
    us.add_argument("--runs", type=int, default=10)
    us.set_defaults(fn=cmd_update_stats)

    rp = sub.add_parser("run", help="run a model")
    rp.add_argument("model")
    rp.add_argument("sql", help="SQL text or file path")
    rp.add_argument("--materialization", default="table",
                    choices=["table", "view", "incremental", "ephemeral"])
    rp.add_argument("--schema", default="analytics")
    rp.add_argument("--unique-key", default=None)
    rp.add_argument("--strategy", default="merge",
                    choices=["merge", "append", "delete+insert",
                             "insert_overwrite"])
    rp.add_argument("--partition-by", default=None,
                    help="partition column (required for insert_overwrite)")
    rp.add_argument("--full-refresh", action="store_true")
    rp.add_argument("--dev", action="store_true", help="LIMIT-sampled dev run")
    rp.add_argument("--data-dir", default=None)
    rp.set_defaults(fn=cmd_run)

    qq = sub.add_parser("sql", help="execute Snowflake-dialect SQL/DML")
    qq.add_argument("sql", help="SQL text or file path")
    qq.add_argument("--schema", default="analytics")
    qq.add_argument("--data-dir", default=None)
    qq.add_argument("--limit", type=int, default=100)
    qq.set_defaults(fn=cmd_sql)

    cg = sub.add_parser("catalog", help="schema catalog as JSON")
    cg.add_argument("schema")
    cg.add_argument("--rows", action="store_true",
                    help="include row counts (scans each table)")
    cg.set_defaults(fn=cmd_catalog)

    pj = sub.add_parser("run-project", help="run a dbt-style models directory")
    pj.add_argument("models_dir")
    pj.add_argument("--schema", default="analytics")
    pj.add_argument("--data-dir", default=None)
    pj.add_argument("--threads", type=int, default=4)
    pj.add_argument("--full-refresh", action="store_true")
    pj.add_argument("--dev", action="store_true")
    pj.set_defaults(fn=cmd_run_project)

    dt = sub.add_parser("test", help="dbt-style generic data tests")
    dt.add_argument("specs", help="JSON file: list of test specs")
    dt.add_argument("--data-dir", default=None)
    dt.add_argument("--store-failures-schema", default=None)
    dt.set_defaults(fn=cmd_test)

    cm = sub.add_parser(
        "compact", help="small-file compaction for a table (keeps its "
        "partitioning and bucketing)")
    cm.add_argument("table")
    cm.add_argument("--target-mb", type=int, default=128)
    cm.set_defaults(fn=cmd_compact)

    vp = sub.add_parser("verify", help="row-count compare two tables")
    vp.add_argument("table_a")
    vp.add_argument("table_b")
    vp.set_defaults(fn=cmd_verify)

    mp = sub.add_parser("summary", help="latest run-session summaries")
    mp.set_defaults(fn=cmd_summary)

    sy = sub.add_parser("sync", help="verified table sync (Kahn-ordered)")
    sy.add_argument("tables", nargs="+",
                    help="source tables, optionally 'table:dep1,dep2'")
    sy.add_argument("--target-prefix", default="synced_",
                    help="prefix/schema for saveAsTable targets")
    sy.add_argument("--parquet-dir", default=None,
                    help="sync via parquet round-trip to this dir instead")
    sy.set_defaults(fn=cmd_sync)

    yp = sub.add_parser("sync-status", help="sync ledger status")
    yp.add_argument("--limit", type=int, default=10)
    yp.set_defaults(fn=cmd_sync_status)

    tp = sub.add_parser("stats", help="input volume + complexity for a SQL")
    tp.add_argument("sql", help="SQL text or file path")
    tp.add_argument("--data-dir", default=None)
    tp.set_defaults(fn=cmd_stats)

    zp = sub.add_parser("version")
    zp.set_defaults(fn=cmd_version)

    hl = sub.add_parser("help", help="usage examples per command")
    hl.set_defaults(fn=cmd_help)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
