"""Tests for the observability layer (SURVEY R1-R12) — ports the
reference's test intent from tests/test_state_metadata.py (WAL),
test_traffic.py / test_auto_router.py (gates→advice), plus savings
arithmetic and sync orchestration."""

from __future__ import annotations

import json
import os

import pytest

from dbt_icebreaker_spark.observability.advisor import (
    Advisor,
    PreflightChecker,
    classify_complexity,
)
from dbt_icebreaker_spark.observability.savings import (
    SavingsTracker,
    estimate_cloud_cost,
)
from dbt_icebreaker_spark.observability.state import CrashWal
from dbt_icebreaker_spark.observability.run_summary import RunSummary
from dbt_icebreaker_spark.observability.health import health_check
from dbt_icebreaker_spark.sync import (
    SyncConfig,
    SyncManager,
    kahn_order,
    parquet_roundtrip_writer,
)

SF = "/root/testdata/sf0.001"


class TestCrashWal:
    # mirrors reference tests/test_state_metadata.py:13-94
    def test_crash_detected_across_restart(self, tmp_path):
        p = str(tmp_path / "wal.json")
        w1 = CrashWal(p)
        w1.pre_execute("model_a")
        # no post_execute — process "died"
        w2 = CrashWal(p)  # restart
        assert w2.crash_count("model_a") == 1

    def test_blacklist_after_three(self, tmp_path):
        p = str(tmp_path / "wal.json")
        w = CrashWal(p)
        for _ in range(3):
            w.pre_execute("m")
            w.post_execute("m", success=False)
        assert w.is_blacklisted("m")

    def test_success_not_blacklisted(self, tmp_path):
        w = CrashWal(str(tmp_path / "wal.json"))
        for _ in range(5):
            w.pre_execute("m")
            w.post_execute("m", success=True)
        assert not w.is_blacklisted("m")

    def test_clear(self, tmp_path):
        w = CrashWal(str(tmp_path / "wal.json"))
        w.pre_execute("m")
        w.post_execute("m", success=False)
        w.clear("m")
        assert w.crash_count("m") == 0

    def test_concurrent_threads(self, tmp_path):
        # ProjectRunner(threads>1) drives one WAL from a thread pool:
        # saving must never iterate a dict another thread is growing,
        # and the file must reload with every model
        import threading

        p = str(tmp_path / "wal.json")
        w = CrashWal(p)
        errors = []

        def work(t):
            try:
                for i in range(100):  # 200 calls per thread
                    w.pre_execute(f"t{t}_m{i % 25}")
                    w.post_execute(f"t{t}_m{i % 25}", success=i % 2 == 0)
            except Exception as e:  # noqa: BLE001 — surfaced below
                errors.append(e)

        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert errors == []
        state = json.loads(open(p).read())
        assert set(state) == {f"t{t}_m{i}" for t in range(8) for i in range(25)}
        assert all(e["status"] != "running" for e in state.values())
        assert CrashWal(p).crash_count("t3_m1") == 2  # i = 1, 51
        assert sorted(os.listdir(tmp_path)) == ["wal.json"]


class TestComplexity:
    # mirrors memory_guard.py:112-152 classes
    def test_simple(self):
        assert classify_complexity("SELECT a FROM t") == "simple"

    def test_medium(self):
        assert classify_complexity("SELECT a, COUNT(*) FROM t JOIN s ON a=b GROUP BY a") in ("medium", "complex")

    def test_heavy_cube(self):
        assert classify_complexity("SELECT a FROM t GROUP BY CUBE (a, b)") == "heavy"

    def test_heavy_cross_join(self):
        assert classify_complexity("SELECT * FROM a CROSS JOIN b") == "heavy"


class TestAdvisor:
    def test_clean_sql_ok(self, spark):
        adv = Advisor(spark).advise("m", "SELECT o_orderkey FROM orders", (SF,))
        assert adv.ok and not adv.errors

    def test_external_source_error(self, spark):
        adv = Advisor(spark).advise("m", "SELECT * FROM 's3://bucket/path'")
        assert not adv.ok
        assert any("s3" in e for e in adv.errors)

    def test_copy_into_error(self, spark):
        adv = Advisor(spark).advise("m", "COPY INTO t FROM @stage")
        assert not adv.ok

    def test_blacklisted_function_error(self, spark):
        adv = Advisor(spark).advise("m", "SELECT SNOWFLAKE.CORTEX.COMPLETE('m', x) FROM t")
        assert not adv.ok
        assert any("transpile" in e for e in adv.errors)

    def test_toxic_type_gate_named(self, spark):
        # ref traffic.py:251-259: reason TOXIC_TYPES with "Types: ..."
        adv = Advisor(spark).advise(
            "m", "SELECT ST_ASGEOJSON(geog) AS j, CAST(x AS GEOGRAPHY) FROM t"
        )
        assert not adv.ok
        toxic_errs = [e for e in adv.errors if "TOXIC_TYPES" in e]
        assert len(toxic_errs) == 1
        assert "geospatial" in toxic_errs[0]
        assert "GEOGRAPHY" in toxic_errs[0] and "ST_ASGEOJSON" in toxic_errs[0]
        # named gate replaces, not duplicates, the generic transpile error
        assert not any(e.startswith("transpile:") for e in adv.errors)

    def test_broadcast_hint(self, spark):
        sql = "SELECT * FROM lineitem l JOIN region r ON l.l_orderkey = r.r_regionkey"
        adv = Advisor(spark).advise("m", sql, (("/root/testdata/sf0.1"),))
        # region is tiny, lineitem is the big side at sf0.1 — but both
        # under 80MB here; hint only fires with a big side, so just
        # check estimation picked up sizes
        assert adv.estimated_input_bytes > 0

    def test_wal_warning(self, spark, tmp_path):
        wal = CrashWal(str(tmp_path / "w.json"))
        for _ in range(3):
            wal.pre_execute("m")
            wal.post_execute("m", success=False)
        adv = Advisor(spark, wal).advise("m", "SELECT 1")
        assert any("crashed" in w for w in adv.warnings)

    def test_explain_includes_plan(self, spark):
        from dbt_icebreaker_spark.sources import register_dir

        register_dir(spark, SF)
        out = Advisor(spark).explain("m", "SELECT o_orderkey FROM orders WHERE o_totalprice > 100", (SF,))
        assert "complexity:" in out
        assert "PushedFilters" in out or "Scan parquet" in out


class TestPreflight:
    def test_small_input_no_warning(self, spark):
        pf = PreflightChecker(Advisor(spark), total_memory_bytes=16 * 1024**3)
        adv = pf.check("m", "SELECT o_orderkey FROM orders", (SF,))
        assert not adv.warnings

    def test_huge_input_warns(self, spark, tmp_path, monkeypatch):
        pf = PreflightChecker(Advisor(spark), total_memory_bytes=2 * 1024**3)
        adv = pf.check(
            "m",
            "SELECT * FROM a CROSS JOIN b GROUP BY CUBE (x, y)",
            (SF,),
        )
        # tiny test files won't trip memory; force via direct call
        adv2 = Advisor(spark).advise(
            "m", "SELECT * FROM t CROSS JOIN s", available_memory_bytes=100
        )
        assert isinstance(adv.warnings, list)
        # heavy complexity always classified
        assert adv.complexity == "heavy"


class TestSavings:
    # arithmetic mirrors ref savings.py:174-219 and BASELINE.md
    def test_minimum_billing_window(self):
        # 5s run bills 60s: 60/3600 × 1 credit/h × $2 = $0.0333…
        assert abs(estimate_cloud_cost(5.0) - 60 / 3600 * 1 * 2.0) < 1e-9

    def test_warehouse_scaling(self):
        assert estimate_cloud_cost(3600, "xl", "enterprise") == 16 * 3.0

    def test_ledger_roundtrip(self, tmp_path):
        tr = SavingsTracker(str(tmp_path / "s.db"))
        saved = tr.log_run("m1", 5.0)
        assert saved > 0
        tr.log_run("m1", 10.0)
        tr.log_run("m2", 5.0)
        s = tr.summary()
        assert s["runs"] == 3
        assert len(s["by_model"]) == 2
        p = tr.projection()
        assert p["monthly_projection_usd"] > 0


class TestRunSummary:
    def test_session_json(self, tmp_path):
        rs = RunSummary(str(tmp_path))
        rs.record("a", "table", 1.5, 100, savings_usd=0.03)
        rs.record("b", "view", 0.1, -1, status="error", reason="boom")
        out = rs.finish()
        assert out["n_models"] == 2
        assert out["by_status"] == {"success": 1, "error": 1}
        assert len(list(tmp_path.glob("run_*.json"))) == 1


class TestKahn:
    # mirrors ref sync_manager.py:463-501
    def test_linear(self):
        assert kahn_order({"c": ["b"], "b": ["a"], "a": []}) == ["a", "b", "c"]

    def test_diamond(self):
        order = kahn_order({"d": ["b", "c"], "b": ["a"], "c": ["a"], "a": []})
        assert order.index("a") < order.index("b") < order.index("d")
        assert order.index("c") < order.index("d")

    def test_cycle_raises(self):
        with pytest.raises(ValueError):
            kahn_order({"a": ["b"], "b": ["a"]})


class TestSync:
    def test_verified_sync_roundtrip(self, spark, tmp_path):
        from dbt_icebreaker_spark.sources import register_dir

        register_dir(spark, SF)
        spark.sql("SELECT * FROM nation").createOrReplaceTempView("sync_src")
        w, c = parquet_roundtrip_writer(spark, str(tmp_path / "out"))
        mgr = SyncManager(spark, w, c, SyncConfig(ledger_path=str(tmp_path / "l.db"), backoff_s=0.01))
        r = mgr.sync_table("sync_src")
        assert r["status"] == "success"
        assert r["rows"] == 25
        assert mgr.ledger.success_rate() == 1.0

    def test_failed_sync_retries_and_records(self, spark, tmp_path):
        from dbt_icebreaker_spark.sources import register_dir

        register_dir(spark, SF)
        spark.sql("SELECT * FROM region").createOrReplaceTempView("sync_src2")
        calls = {"n": 0}

        def bad_writer(df, table):
            calls["n"] += 1
            raise RuntimeError("connection reset")

        mgr = SyncManager(
            spark, bad_writer, lambda t: 0,
            SyncConfig(ledger_path=str(tmp_path / "l2.db"), backoff_s=0.01),
        )
        r = mgr.sync_table("sync_src2")
        assert r["status"] == "failed"
        assert calls["n"] == 3  # ref sync_manager.py:42 — 3 attempts
        assert "connection reset" in r["error"]
        assert mgr.ledger.success_rate() == 0.0


class TestHealth:
    def test_healthy_session(self, spark, tmp_path):
        out = health_check(spark=spark)
        assert out["status"] == "ok"

    def test_sync_ledger_thresholds(self, spark, tmp_path):
        import sqlite3

        p = str(tmp_path / "sync.db")
        with sqlite3.connect(p) as c:
            c.execute(
                "CREATE TABLE sync_log (id INTEGER PRIMARY KEY, ts REAL, "
                "table_name TEXT, status TEXT, rows INTEGER, attempts INTEGER, error TEXT)"
            )
            for i in range(10):
                status = "success" if i < 9 else "failed"
                c.execute(
                    "INSERT INTO sync_log (ts, table_name, status, rows, attempts, error) "
                    "VALUES (0, 't', ?, 0, 1, '')",
                    (status,),
                )
        out = health_check(sync_ledger=p)
        # 90% success → WARN band (≥80 <95, ref health_check.py:262-263)
        assert out["checks"][0]["status"] == "warning"


class TestTelemetry:
    """R5 (ref metadata.py:45-267 + traffic.py:30-43): per-run metrics
    are MEASURED from Spark's SQL execution store, persisted, and the
    advisor's second-run advice derives from them."""

    def test_second_run_advice_uses_measured_metrics(self, spark, tmp_path):
        from dbt_icebreaker_spark import IcebreakerEngine
        from dbt_icebreaker_spark.observability.advisor import Advisor
        from dbt_icebreaker_spark.observability.telemetry import TelemetryStore
        from dbt_icebreaker_spark.sources import register_dir

        store = TelemetryStore(path=str(tmp_path / "telemetry.json"))
        eng = IcebreakerEngine(spark, schema="tele_test", telemetry=store)
        register_dir(spark, "/root/testdata/sf0.001")
        sql = (
            "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total "
            "FROM orders GROUP BY o_orderpriority"
        )
        advisor = Advisor(spark, telemetry=store)

        # before any run: advice has no measured hint
        a0 = advisor.advise("tele_model", sql)
        assert not any("measured last run" in h for h in a0.hints)

        res = eng.run_model("tele_model", sql, "table")
        assert res.rows == 5

        rec = store.last("tele_model")
        assert rec is not None
        assert rec["duration_s"] > 0
        assert rec["rows"] == 5
        # groupBy shuffles: the write execution must show real
        # shuffle-write bytes, proving metrics come from measurement
        assert rec["shuffle_write_bytes"] > 0

        a1 = advisor.advise("tele_model", sql)
        measured = [h for h in a1.hints if "measured last run" in h]
        assert measured and "shuffle" in measured[0]
        spark.sql("DROP DATABASE IF EXISTS tele_test CASCADE")

    def test_staged_rewrite_records_its_write(self, spark, tmp_path):
        """A merge batch writes a staging table, swaps it in and drops
        the backup: the run's last execution is that DROP TABLE. The
        record sums every execution the run triggered, so the write's
        shuffle shows up, and the caller's job description survives."""
        from dbt_icebreaker_spark import IcebreakerEngine
        from dbt_icebreaker_spark.observability.telemetry import TelemetryStore
        from dbt_icebreaker_spark.sources import register_dir

        store = TelemetryStore(path=str(tmp_path / "telemetry.json"))
        eng = IcebreakerEngine(spark, schema="tele_inc_test", telemetry=store)
        register_dir(spark, SF)
        sql = (
            "SELECT o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total "
            "FROM orders GROUP BY o_orderpriority"
        )
        sc = spark.sparkContext
        sc.setJobDescription("caller")
        try:
            runs = [
                eng.run_model("tele_inc", sql, "incremental",
                              unique_key="o_orderpriority")
                for _ in range(2)
            ]
            assert sc.getLocalProperty("spark.job.description") == "caller"
        finally:
            sc.setJobDescription(None)
        assert [r.details["strategy"] for r in runs] == ["create", "merge"]
        recs = store.history("tele_inc")
        assert [r["rows"] for r in recs] == [5, 5]
        assert all(r["shuffle_write_bytes"] > 0 for r in recs)
        spark.sql("DROP DATABASE IF EXISTS tele_inc_test CASCADE")

    def test_snapshot_and_seed_record_their_runs(self, spark, tmp_path):
        """run_snapshot and seed_csv take run_model's run wrapper: each
        run carries its own job description, is recorded with its
        harvested metrics, and the caller's description survives."""
        import datetime

        from dbt_icebreaker_spark import IcebreakerEngine
        from dbt_icebreaker_spark.observability.telemetry import TelemetryStore
        from dbt_icebreaker_spark.sources import register_dir

        store = TelemetryStore(path=str(tmp_path / "telemetry.json"))
        eng = IcebreakerEngine(spark, schema="tele_snap_test", telemetry=store)
        register_dir(spark, SF)
        seed = tmp_path / "seed.csv"
        seed.write_text("k,v\n1,a\n2,b\n")
        snap = (
            "SELECT c_custkey, IFF(c_custkey % 7 = 0, c_acctbal + {d}, "
            "c_acctbal) AS c_acctbal FROM customer"
        )
        sc = spark.sparkContext
        sc.setJobDescription("caller")
        try:
            eng.seed_csv("tele_seed", str(seed))
            for day in (1, 2):
                eng.run_snapshot(
                    "tele_snap", snap.format(d=day), unique_key="c_custkey",
                    strategy="check", check_cols=["c_acctbal"],
                    now=datetime.datetime(2026, 4, day))
            assert sc.getLocalProperty("spark.job.description") == "caller"
        finally:
            sc.setJobDescription(None)
        snaps = store.history("tele_snap")
        assert len(snaps) == 2
        assert snaps[-1]["shuffle_write_bytes"] > 0
        assert [r["rows"] for r in store.history("tele_seed")] == [2]
        spark.sql("DROP DATABASE IF EXISTS tele_snap_test CASCADE")

    def test_spill_gate_warning(self, tmp_path):
        from dbt_icebreaker_spark.observability.telemetry import TelemetryStore

        store = TelemetryStore(path=str(tmp_path / "t.json"))
        store.record("spilly", 12.0, 100, {"spill_bytes": 2.5 * 1024**3})
        # advisor gate fires without a SparkSession dependency on the
        # telemetry path — construct with a None spark only for advise
        from dbt_icebreaker_spark.observability.advisor import Advisor

        adv = Advisor(spark=None, telemetry=store)
        a = adv.advise("spilly", "SELECT 1")
        assert any("exceeds the 1 GiB" in w for w in a.warnings)

    def test_metric_parsing(self):
        from dbt_icebreaker_spark.observability.telemetry import _parse_metric

        assert _parse_metric("112.1 KiB") == 112.1 * 1024
        assert _parse_metric("6,000") == 6000
        assert _parse_metric("0.0 B") == 0
        assert (
            _parse_metric("total (min, med, max (stageId: taskId))\n16.5 MiB (1 MiB, 2 MiB, 3 MiB)")
            == 16.5 * 1024**2
        )


class TestSevenGateParity:
    """Round-2: the two remaining reference routing gates — user
    override (priority 1) and dependency propagation (priority 5) —
    as advisory signals (ref README 'How Routing Works')."""

    def test_route_override_cloud_warns(self, spark):
        from dbt_icebreaker_spark.observability.advisor import Advisor

        adv = Advisor(spark).advise(
            "m", "SELECT 1 AS one FROM t", route_override="cloud"
        )
        assert any("no cloud target" in w for w in adv.warnings)

    def test_route_override_local_hint(self, spark):
        from dbt_icebreaker_spark.observability.advisor import Advisor

        adv = Advisor(spark).advise(
            "m", "SELECT 1 AS one FROM t", route_override="local"
        )
        assert any("honored" in h for h in adv.hints)
        assert not any("no cloud target" in w for w in adv.warnings)

    def test_dependency_propagation(self, spark):
        from dbt_icebreaker_spark.observability.advisor import Advisor

        models = {
            # upstream uses an external stage → blocking advisory error
            "up": "SELECT * FROM @my_stage t",
            "down": "SELECT a FROM up_table",
            "island": "SELECT b FROM other_table",
        }
        out = Advisor(spark).advise_project(
            models, deps={"down": ["up"], "island": []}
        )
        assert not out["up"].ok
        assert any("upstream" in w for w in out["down"].warnings)
        assert not any("upstream" in w for w in out["island"].warnings)
