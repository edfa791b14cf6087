"""Materialization golden tests (SURVEY §5.2 item 3): incremental
(3 strategies) and snapshot over consecutive batches, compared to a
straight-SQL recomputation in DuckDB."""

from __future__ import annotations

import datetime

import duckdb
import pytest
from pyspark.sql import functions as F

from dbt_icebreaker_spark import IcebreakerEngine
from dbt_icebreaker_spark.materializations.ddl import generate_schema_name
from dbt_icebreaker_spark.sources import register_dir

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark):
    register_dir(spark, SF)
    return IcebreakerEngine(spark, schema="mat_test")


def _duck():
    con = duckdb.connect()
    for t in ("orders", "events", "customer"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


class TestTableView:
    def test_table(self, spark, engine):
        r = engine.run_model(
            "t_table", "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000"
        )
        con = _duck()
        expected = con.execute(
            "SELECT COUNT(*) FROM orders WHERE o_totalprice > 100000"
        ).fetchone()[0]
        assert r.rows == expected

    def test_table_overwrites(self, spark, engine):
        engine.run_model("t_ovr", "SELECT 1 AS a")
        engine.run_model("t_ovr", "SELECT 2 AS a UNION ALL SELECT 3")
        assert spark.table("mat_test.t_ovr").count() == 2

    def test_view_reflects_underlying(self, spark, engine):
        engine.run_model("t_base", "SELECT 1 AS a")
        engine.run_model("t_view", "SELECT a + 1 AS b FROM mat_test.t_base", "view")
        assert spark.table("mat_test.t_view").collect()[0].b == 2
        engine.run_model("t_base", "SELECT 10 AS a")
        assert spark.table("mat_test.t_view").collect()[0].b == 11

    @pytest.mark.parametrize("materialization", ["table", "view"])
    @pytest.mark.parametrize("sql, expected", [
        ("SELECT k FROM mat_test.t_live_src WHERE k < $lim",
         [(0,), (1,), (2,)]),
        ("SELECT * FROM (SELECT g, v FROM mat_test.t_live_src) "
         "PIVOT (SUM(v) FOR g IN (ANY ORDER BY g))", [(6, 9)]),
    ], ids=["session_var", "dynamic_pivot"])
    def test_model_sql_takes_statement_path(
            self, spark, engine, materialization, sql, expected):
        """A view model's SQL runs through execute like a table
        model's: session variables substitute and dynamic PIVOT
        resolves on the live session."""
        engine.run_model(
            "t_live_src", "SELECT id AS k, IF(id % 2 = 0, 'a', 'b') AS g, "
            "id AS v FROM range(6)")
        engine.execute("SET lim = 3")
        name = f"t_live_{materialization}"
        engine.run_model(name, sql, materialization)
        got = sorted(tuple(r) for r in spark.table(f"mat_test.{name}").collect())
        assert got == expected


class TestIncremental:
    """Strategies vs DuckDB recomputation (ref incremental.sql)."""

    def test_append(self, spark, engine):
        b1 = "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 100"
        b2 = "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 200"
        engine.run_model("inc_app", b1, "incremental", incremental_strategy="append", full_refresh=True)
        engine.run_model("inc_app", b2, "incremental", incremental_strategy="append")
        con = _duck()
        expected = con.execute(
            "SELECT COUNT(*) FROM orders WHERE o_orderkey < 200"
        ).fetchone()[0]
        assert spark.table("mat_test.inc_app").count() == expected

    def test_merge_upserts(self, spark, engine):
        # batch2 overlaps batch1 on keys → union of keys, batch2 wins
        b1 = "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 150"
        b2 = "SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 250"
        engine.run_model("inc_mrg", b1, "incremental", unique_key="o_orderkey", full_refresh=True)
        engine.run_model("inc_mrg", b2, "incremental", unique_key="o_orderkey")
        con = _duck()
        # golden: DELETE matching + INSERT ALL == anti ∪ batch2
        golden = con.execute(
            """
            WITH b1 AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 150),
                 b2 AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM orders
                        WHERE o_orderkey >= 100 AND o_orderkey < 250)
            SELECT * FROM b2
            UNION ALL
            SELECT * FROM b1 WHERE o_orderkey NOT IN (SELECT o_orderkey FROM b2)
            ORDER BY o_orderkey
            """
        ).fetchall()
        actual = sorted(
            (r.o_orderkey, r.o_totalprice)
            for r in spark.table("mat_test.inc_mrg").collect()
        )
        assert actual == [tuple(g) for g in golden]

    def test_merge_multi_key(self, spark, engine):
        # unique_key as list (ref incremental.sql:27-34)
        b1 = "SELECT user_id, event_type, COUNT(*) AS n FROM events WHERE event_id < 500 GROUP BY 1, 2"
        b2 = "SELECT user_id, event_type, COUNT(*) AS n FROM events WHERE event_id < 800 GROUP BY 1, 2"
        engine.run_model("inc_mk", b1, "incremental", unique_key=["user_id", "event_type"], full_refresh=True)
        engine.run_model("inc_mk", b2, "incremental", unique_key=["user_id", "event_type"])
        con = _duck()
        golden = con.execute(
            """
            WITH b1 AS (SELECT user_id, event_type, COUNT(*) AS n FROM events WHERE event_id < 500 GROUP BY 1, 2),
                 b2 AS (SELECT user_id, event_type, COUNT(*) AS n FROM events WHERE event_id < 800 GROUP BY 1, 2)
            SELECT * FROM b2
            UNION ALL
            SELECT b1.* FROM b1 ANTI JOIN b2 USING (user_id, event_type)
            """
        ).fetchall()
        actual = spark.table("mat_test.inc_mk").collect()
        assert sorted(map(tuple, actual)) == sorted(map(tuple, golden))

    def test_delete_insert_by_partition(self, spark, engine):
        b1 = "SELECT event_type, user_id, value FROM events WHERE event_id < 500"
        b2 = "SELECT event_type, user_id, value * 10 AS value FROM events WHERE event_id >= 500 AND event_id < 600 AND event_type = 'click'"
        engine.run_model("inc_di", b1, "incremental", partition_by="event_type",
                         incremental_strategy="delete+insert", full_refresh=True)
        engine.run_model("inc_di", b2, "incremental", partition_by="event_type",
                         incremental_strategy="delete+insert")
        con = _duck()
        golden_n = con.execute(
            """
            WITH b1 AS (SELECT event_type, user_id, value FROM events WHERE event_id < 500),
                 b2 AS (SELECT event_type, user_id, value * 10 AS value FROM events
                        WHERE event_id >= 500 AND event_id < 600 AND event_type = 'click')
            SELECT COUNT(*) FROM (
              SELECT * FROM b2
              UNION ALL
              SELECT * FROM b1 WHERE event_type NOT IN (SELECT DISTINCT event_type FROM b2)
            )
            """
        ).fetchone()[0]
        assert spark.table("mat_test.inc_di").count() == golden_n


class TestSnapshot:
    def test_scd2_lifecycle(self, spark, engine):
        t1 = datetime.datetime(2026, 1, 1)
        t2 = datetime.datetime(2026, 1, 2)
        src1 = "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 30"
        # 10 changed, 5 new, rest unchanged
        src2 = """
            SELECT c_custkey,
                   IFF(c_custkey < 10, c_acctbal + 50, c_acctbal) AS c_acctbal
            FROM customer WHERE c_custkey < 35
        """
        engine.spark.sql("DROP TABLE IF EXISTS mat_test.snap")
        engine.run_snapshot("snap", src1, unique_key="c_custkey",
                            strategy="check", check_cols=["c_acctbal"], now=t1)
        tbl = spark.table("mat_test.snap")
        assert tbl.count() == 30
        assert tbl.filter("dbt_valid_to IS NULL").count() == 30

        engine.run_snapshot("snap", src2, unique_key="c_custkey",
                            strategy="check", check_cols=["c_acctbal"], now=t2)
        tbl = spark.table("mat_test.snap")
        # 30 original + 10 new versions + 5 new keys = 45 rows
        assert tbl.count() == 45
        current = tbl.filter("dbt_valid_to IS NULL")
        assert current.count() == 35
        closed = tbl.filter("dbt_valid_to IS NOT NULL")
        assert closed.count() == 10
        # closed rows carry staging's valid_from as valid_to (snapshot.sql:163-172)
        assert set(r.dbt_valid_to for r in closed.collect()) == {t2}
        # changed rows' current version has the bumped balance
        bumped = current.filter("c_custkey < 10").collect()
        orig = {
            r.c_custkey: r.c_acctbal
            for r in spark.sql(
                "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 10"
            ).collect()
        }
        for r in bumped:
            assert abs(r.c_acctbal - (orig[r.c_custkey] + 50)) < 1e-9

    def test_timestamp_strategy_scd_id_is_md5(self, spark, engine):
        engine.spark.sql("DROP TABLE IF EXISTS mat_test.snap_ts")
        engine.run_snapshot(
            "snap_ts",
            "SELECT user_id, event_type, ts AS updated_at FROM events WHERE event_id < 20",
            unique_key=["user_id", "event_type"],
            strategy="timestamp",
            updated_at="updated_at",
        )
        row = spark.table("mat_test.snap_ts").limit(1).collect()[0]
        # md5 parity (snapshot.sql:99-107) — recompute in DuckDB
        con = duckdb.connect()
        expected = con.execute(
            "SELECT md5(concat_ws('-', ?, ?, ?))",
            [str(row.user_id), row.event_type, str(row.updated_at)],
        ).fetchone()[0]
        assert row.dbt_scd_id == expected

    def test_hard_delete_invalidation(self, spark, engine):
        t1 = datetime.datetime(2026, 2, 1)
        t2 = datetime.datetime(2026, 2, 2)
        engine.spark.sql("DROP TABLE IF EXISTS mat_test.snap_hd")
        engine.run_snapshot("snap_hd", "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 20",
                            unique_key="c_custkey", strategy="check", now=t1)
        engine.run_snapshot("snap_hd", "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 10",
                            unique_key="c_custkey", strategy="check",
                            invalidate_hard_deletes=True, now=t2)
        tbl = spark.table("mat_test.snap_hd")
        # keys 10-19 vanished → closed at t2 (snapshot.sql:193-207)
        gone = tbl.filter("c_custkey >= 10")
        assert gone.count() == 10
        assert all(r.dbt_valid_to == t2 for r in gone.collect())
        assert tbl.filter("dbt_valid_to IS NULL").count() == 10


class TestDdl:
    def test_schema_name_generation(self):
        # ref adapters.sql:9-16
        assert generate_schema_name("analytics") == "analytics"
        assert generate_schema_name("analytics", "staging") == "analytics_staging"

    def test_rename_and_drop(self, spark, engine):
        engine.run_model("ddl_a", "SELECT 1 AS x")
        engine.ddl.rename("mat_test", "ddl_a", "ddl_b")
        assert engine.ddl.table_exists("mat_test", "ddl_b")
        assert not engine.ddl.table_exists("mat_test", "ddl_a")
        engine.ddl.drop_relation("mat_test", "ddl_b")
        assert not engine.ddl.table_exists("mat_test", "ddl_b")

    def test_truncate(self, spark, engine):
        engine.run_model("ddl_t", "SELECT 1 AS x UNION ALL SELECT 2")
        engine.ddl.truncate("mat_test", "ddl_t")
        assert spark.table("mat_test.ddl_t").count() == 0

    def test_list_columns(self, spark, engine):
        engine.run_model("ddl_c", "SELECT 1 AS x, 'a' AS y")
        cols = dict(engine.ddl.list_columns("mat_test", "ddl_c"))
        assert cols == {"x": "int", "y": "string"}


class TestDevSampling:
    def test_limit_injected(self, spark):
        eng = IcebreakerEngine(spark, schema="mat_test", dev_mode=True, dev_sample_size=5)
        r = eng.run_model("dev_sample", "SELECT o_orderkey FROM orders")
        assert r.rows == 5

    def test_existing_limit_respected(self, spark):
        eng = IcebreakerEngine(spark, schema="mat_test", dev_mode=True, dev_sample_size=5)
        r = eng.run_model("dev_lim", "SELECT o_orderkey FROM orders LIMIT 3")
        assert r.rows == 3


_ORD = "SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
_ORD_YEAR = "SELECT o_orderkey, o_totalprice, YEAR(o_orderdate) AS yr FROM orders"
_CUST = "SELECT c_custkey, c_acctbal, c_mktsegment FROM customer"


def _two_batches(strategy, sql=_ORD, **kw):
    """Create an incremental model from one batch, then apply an
    overlapping second batch with ``strategy``; return the second
    RunResult."""
    def run(eng, name, _tmp):
        args = dict(incremental_strategy=strategy, **kw)
        eng.run_model(name, f"{sql} WHERE o_orderkey < 3000", "incremental", **args)
        return eng.run_model(
            name, f"{sql} WHERE o_orderkey >= 2000", "incremental", **args)
    return run


def _snapshot(runs):
    def run(eng, name, _tmp):
        for day in range(1, runs + 1):
            res = eng.run_snapshot(
                name,
                "SELECT c_custkey, "
                f"IFF(c_custkey % 7 = 0, c_acctbal + {day}, c_acctbal) AS c_acctbal, "
                "c_mktsegment FROM customer",
                unique_key="c_custkey", strategy="check",
                check_cols=["c_acctbal"], now=datetime.datetime(2026, 3, day),
            )
        return res
    return run


def _seed(eng, name, tmp):
    p = tmp / "seed.csv"
    p.write_text("k,v\n1,a\n2,b\n3,c\n")
    return eng.seed_csv(name, str(p))


def _dev_limit(eng, name, _tmp):
    dev = IcebreakerEngine(eng.spark, schema=eng.schema, dev_mode=True,
                           dev_sample_size=7)
    return dev.run_model(name, _ORD)


_ROWS_RULE_CASES = {
    "table": lambda eng, name, _tmp: eng.run_model(name, _ORD),
    "seed": _seed,
    "dev_limit": _dev_limit,
    "snapshot_first": _snapshot(1),
    "snapshot_update": _snapshot(2),
    "incremental_create": lambda eng, name, _tmp: eng.run_model(
        name, _ORD, "incremental", unique_key="o_orderkey"),
    "merge": _two_batches("merge", unique_key="o_orderkey"),
    "delete_insert": _two_batches("delete+insert", unique_key="o_orderkey"),
    "append": _two_batches("append"),
    "merge_no_key": _two_batches("merge"),
    "insert_overwrite": _two_batches(
        "insert_overwrite", sql=_ORD_YEAR, partition_by="yr"),
}


class TestRowsRule:
    """RunResult.rows is the row count of the target after the call on
    every materialization path — observed on the write where it
    replaced the whole table, one table count on the in-place paths."""

    @pytest.mark.parametrize("case", sorted(_ROWS_RULE_CASES))
    def test_rows_equal_target_count(self, spark, engine, tmp_path, case):
        eng = IcebreakerEngine(spark, schema="rows_rule")
        res = _ROWS_RULE_CASES[case](eng, f"rr_{case}", tmp_path)
        assert res.rows > 0
        assert res.rows == spark.table(res.relation).count()
        if res.materialization in ("incremental", "snapshot"):
            # run_incremental / run_snapshot report it themselves
            assert res.details["rows"] == res.rows


class TestOnSchemaChange:
    """All four dbt on_schema_change modes (the reference declares the
    config but never implements it — incremental.sql:25)."""

    def _fresh(self, spark, engine, name, cols_sql):
        spark.sql(f"DROP TABLE IF EXISTS {engine.effective_schema}.{name}")
        engine.run_model(name, cols_sql, "incremental", unique_key="k")

    def test_ignore_drops_new_and_nulls_missing(self, spark, engine):
        self._fresh(spark, engine, "osc_ignore", "SELECT 1 AS k, 'a' AS v")
        # batch adds `extra`, drops `v`
        engine.run_model(
            "osc_ignore", "SELECT 2 AS k, 99 AS extra",
            "incremental", unique_key="k", on_schema_change="ignore",
        )
        t = spark.table(f"{engine.effective_schema}.osc_ignore")
        assert set(t.columns) == {"k", "v"}
        rows = {r.k: r.v for r in t.collect()}
        assert rows == {1: "a", 2: None}

    def test_fail_raises_on_drift(self, spark, engine):
        self._fresh(spark, engine, "osc_fail", "SELECT 1 AS k, 'a' AS v")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="schema drift"):
            engine.run_model(
                "osc_fail", "SELECT 2 AS k, 'b' AS v, 1 AS extra",
                "incremental", unique_key="k", on_schema_change="fail",
            )

    def test_append_new_columns_widens(self, spark, engine):
        self._fresh(spark, engine, "osc_widen", "SELECT 1 AS k, 'a' AS v")
        engine.run_model(
            "osc_widen", "SELECT 2 AS k, 'b' AS v, 42 AS extra",
            "incremental", unique_key="k",
            on_schema_change="append_new_columns",
        )
        t = spark.table(f"{engine.effective_schema}.osc_widen")
        assert set(t.columns) == {"k", "v", "extra"}
        rows = {r.k: (r.v, r.extra) for r in t.collect()}
        assert rows == {1: ("a", None), 2: ("b", 42)}

    def test_sync_all_columns_adds_and_drops(self, spark, engine):
        self._fresh(spark, engine, "osc_sync", "SELECT 1 AS k, 'a' AS v, 7 AS gone")
        engine.run_model(
            "osc_sync", "SELECT 2 AS k, 'b' AS v, 42 AS extra",
            "incremental", unique_key="k", on_schema_change="sync_all_columns",
        )
        t = spark.table(f"{engine.effective_schema}.osc_sync")
        assert set(t.columns) == {"k", "v", "extra"}
        rows = {r.k: (r.v, r.extra) for r in t.collect()}
        assert rows == {1: ("a", None), 2: ("b", 42)}

    def test_append_strategy_with_widen_rewrites(self, spark, engine):
        self._fresh(spark, engine, "osc_app", "SELECT 1 AS k, 'a' AS v")
        res = engine.run_model(
            "osc_app", "SELECT 2 AS k, 'b' AS v, 1.5 AS score",
            "incremental", unique_key=None,
            incremental_strategy="append",
            on_schema_change="append_new_columns",
        )
        t = spark.table(f"{engine.effective_schema}.osc_app")
        assert set(t.columns) == {"k", "v", "score"}
        assert t.count() == 2
        assert "schema-change" in res.details["strategy"]

    def test_keyless_merge_with_widen_rewrites(self, spark, engine):
        """merge without unique_key is an append, widening included."""
        self._fresh(spark, engine, "osc_nokey", "SELECT 1 AS k, 'a' AS v")
        res = engine.run_model(
            "osc_nokey", "SELECT 2 AS k, 'b' AS v, 'NEW' AS extra",
            "incremental", unique_key=None, incremental_strategy="merge",
            on_schema_change="append_new_columns",
        )
        t = spark.table(f"{engine.effective_schema}.osc_nokey")
        assert t.columns == ["k", "v", "extra"]
        assert {r.k: (r.v, r.extra) for r in t.collect()} == {
            1: ("a", None), 2: ("b", "NEW")}
        assert res.details["strategy"] == "append(schema-change rewrite)"


class TestStagedOverwriteSafety:
    """Regression tests for the staged-swap rewrite path: partition
    layout must survive the rename dance (Hive keeps ABSOLUTE
    per-partition locations — un-repaired, a renamed partitioned table
    reads empty and dropping the backup deletes the live target's
    files), and duplicate-key snapshot batches must not fan out."""

    def test_partitioned_merge_keeps_partitioning_and_data(self, spark, engine):
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.part_merge")
        b1 = "SELECT event_id AS k, event_type, value FROM events WHERE event_id < 300"
        b2 = "SELECT event_id AS k, event_type, value * 2 AS value FROM events WHERE event_id >= 200 AND event_id < 400"
        engine.run_model("part_merge", b1, "incremental", unique_key="k",
                         partition_by="event_type", incremental_strategy="merge",
                         full_refresh=True)
        engine.run_model("part_merge", b2, "incremental", unique_key="k",
                         partition_by="event_type", incremental_strategy="merge")
        t = spark.table(f"{sch}.part_merge")
        assert t.count() == 400  # distinct event_id < 400
        # partition layout preserved after the staged swap
        ddl = spark.sql(f"SHOW CREATE TABLE {sch}.part_merge").collect()[0][0]
        assert "PARTITIONED BY" in ddl and "event_type" in ddl
        # third batch still works (backup/staging left no debris)
        engine.run_model("part_merge", "SELECT 9999 AS k, 'click' AS event_type, 1.0 AS value",
                         "incremental", unique_key="k",
                         partition_by="event_type", incremental_strategy="merge")
        assert spark.table(f"{sch}.part_merge").count() == 401
        assert not spark.catalog.tableExists(f"{sch}.part_merge__icebreaker_stage")
        assert not spark.catalog.tableExists(f"{sch}.part_merge__icebreaker_old")

    def test_snapshot_duplicate_key_batch_dedupes(self, spark, engine):
        import datetime as dt
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.snap_dup")
        # batch contains every key TWICE (union with itself, one side
        # modified) — staging must collapse to one row per key
        src = """
            SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 10
            UNION ALL
            SELECT c_custkey, c_acctbal + 1 AS c_acctbal FROM customer WHERE c_custkey < 10
        """
        engine.run_snapshot("snap_dup", src, unique_key="c_custkey",
                            strategy="check", check_cols=["c_acctbal"],
                            now=dt.datetime(2026, 1, 1))
        t = spark.table(f"{sch}.snap_dup")
        assert t.count() == 10
        assert t.filter("dbt_valid_to IS NULL").count() == 10
        # second run with the same dup batch: scd ids unchanged for the
        # surviving row per key ⇒ still exactly one open row per key
        engine.run_snapshot("snap_dup", src, unique_key="c_custkey",
                            strategy="check", check_cols=["c_acctbal"],
                            now=dt.datetime(2026, 1, 2))
        t = spark.table(f"{sch}.snap_dup")
        assert t.filter("dbt_valid_to IS NULL").count() == 10
        assert t.groupBy("c_custkey").count().filter("count > 2").count() == 0


class TestStagedWriteFileSizing:
    """r14: _staged_overwrite coalesces small full-rewrite results to
    size-targeted output files (guide §6 small-files) — a tiny table's
    rewrite must not scatter one file per shuffle partition, while
    layout-establishing callers (CLUSTER BY, compaction) opt out."""

    def test_small_rewrite_coalesces_to_one_file(self, spark, engine):
        import glob

        from dbt_icebreaker_spark.materializations.incremental import (
            run_incremental,
        )
        from dbt_icebreaker_spark.materializations.maintenance import (
            table_location,
        )

        spark.sql("DROP TABLE IF EXISTS mat_test.sz1")
        base = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
        run_incremental(spark, "mat_test.sz1", base, strategy="merge",
                        unique_key="k")
        batch = spark.range(500, 1500).selectExpr("id AS k", "id * 3 AS v")
        # the merge rewrite repartitions through the session shuffle
        # setting; the staged writer must still emit one sized file
        stats = run_incremental(spark, "mat_test.sz1", batch,
                                strategy="merge", unique_key="k")
        assert stats["rows"] == 1500
        loc = table_location(spark, "mat_test.sz1")
        files = glob.glob(loc + "/*.parquet")
        assert len(files) == 1, files
        assert spark.table("mat_test.sz1").count() == 1500

    def test_size_coalesced_passthrough_on_big_estimate(self, spark):
        from dbt_icebreaker_spark.materializations.incremental import (
            _size_coalesced,
        )

        df = spark.range(0, 10)
        big = df.selectExpr("id", "repeat('x', 1000) AS pad")
        # crossJoin inflates Catalyst's size estimate past 1 GiB —
        # the helper must return the plan unchanged (no coalesce node)
        inflated = big.crossJoin(
            spark.range(0, 20_000_000).selectExpr("id AS j")
        )
        out = _size_coalesced(inflated)
        assert out is inflated


class TestSwapCrashRecovery:
    """A crash between _staged_overwrite's two renames leaves no
    target table; the next run must heal (finish the swap from the
    complete staging table) instead of CTAS-rebuilding from one batch
    and later dropping the only surviving copy of the history."""

    def _simulate_interrupted_swap(self, spark, engine, name):
        sch = engine.effective_schema
        tgt = f"{sch}.{name}"
        for suffix in ("", "__icebreaker_stage", "__icebreaker_old"):
            spark.sql(f"DROP TABLE IF EXISTS {tgt}{suffix}")
        # established table: keys 1..5
        engine.run_model(
            name,
            "SELECT o_orderkey AS k, o_totalprice AS v FROM orders WHERE o_orderkey <= 5",
            "incremental", unique_key="k", incremental_strategy="merge",
            full_refresh=True,
        )
        # the would-be post-merge state: keys 1..8 (complete staging)
        spark.sql(
            f"CREATE TABLE {tgt}__icebreaker_stage AS "
            f"SELECT o_orderkey AS k, o_totalprice AS v FROM orders WHERE o_orderkey <= 8"
        )
        # crash point: target renamed aside, staging not yet renamed in
        spark.sql(f"ALTER TABLE {tgt} RENAME TO {tgt}__icebreaker_old")
        assert not spark.catalog.tableExists(tgt)
        return tgt

    def test_next_incremental_run_completes_swap(self, spark, engine):
        tgt = self._simulate_interrupted_swap(spark, engine, "crashy")
        res = engine.run_model(
            "crashy",
            "SELECT o_orderkey AS k, o_totalprice * 3 AS v FROM orders WHERE o_orderkey = 9",
            "incremental", unique_key="k", incremental_strategy="merge",
        )
        got = spark.table(tgt)
        # history (1..8, from the healed staging state) + new batch (9)
        assert sorted(r.k for r in got.collect()) == list(range(0, 10))
        assert not spark.catalog.tableExists(f"{tgt}__icebreaker_stage")
        assert not spark.catalog.tableExists(f"{tgt}__icebreaker_old")

    def test_rollback_when_only_backup_survives(self, spark, engine):
        tgt = self._simulate_interrupted_swap(spark, engine, "crashy2")
        spark.sql(f"DROP TABLE {tgt}__icebreaker_stage")
        from dbt_icebreaker_spark.materializations.incremental import (
            recover_staged_swap,
        )
        assert recover_staged_swap(spark, tgt) == "rolled_back"
        assert sorted(r.k for r in spark.table(tgt).collect()) == [0, 1, 2, 3, 4, 5]

    def test_snapshot_run_heals_before_existence_check(self, spark, engine):
        sch = engine.effective_schema
        tgt = f"{sch}.crashy3"
        for suffix in ("", "__icebreaker_stage", "__icebreaker_old"):
            spark.sql(f"DROP TABLE IF EXISTS {tgt}{suffix}")
        engine.run_snapshot(
            "crashy3",
            "SELECT o_orderkey AS k, o_totalprice AS v FROM orders WHERE o_orderkey <= 5",
            unique_key="k", strategy="check", check_cols=["v"],
            now=datetime.datetime(2026, 1, 1),
        )
        # crash mid-swap of a snapshot update: complete staging (same
        # content incl. meta columns), target renamed aside
        spark.sql(
            f"CREATE TABLE {tgt}__icebreaker_stage AS SELECT * FROM {tgt}"
        )
        spark.sql(f"ALTER TABLE {tgt} RENAME TO {tgt}__icebreaker_old")
        # next snapshot run heals first, then closes changed rows —
        # which requires the pre-crash history to have survived
        engine.run_snapshot(
            "crashy3",
            "SELECT o_orderkey AS k, o_totalprice * 2 AS v FROM orders WHERE o_orderkey <= 5",
            unique_key="k", strategy="check", check_cols=["v"],
            now=datetime.datetime(2026, 3, 1),
        )
        snap = spark.table(tgt)
        closed = snap.filter(F.col("dbt_valid_to").isNotNull()).count()
        open_ = snap.filter(F.col("dbt_valid_to").isNull()).count()
        assert (closed, open_) == (6, 6)
        assert not spark.catalog.tableExists(f"{tgt}__icebreaker_old")


class TestSqlMergeClassifier:
    def test_recovered_swap_surfaced_on_merge_path(self, spark, engine):
        sch = engine.effective_schema
        tgt = f"{sch}.recstat"
        for suffix in ("", "__icebreaker_stage", "__icebreaker_old"):
            spark.sql(f"DROP TABLE IF EXISTS {tgt}{suffix}")
        engine.run_model(
            "recstat",
            "SELECT o_orderkey AS k, o_totalprice AS v FROM orders WHERE o_orderkey <= 5",
            "incremental", unique_key="k", incremental_strategy="merge",
            full_refresh=True,
        )
        spark.sql(f"CREATE TABLE {tgt}__icebreaker_stage AS SELECT * FROM {tgt}")
        spark.sql(f"ALTER TABLE {tgt} RENAME TO {tgt}__icebreaker_old")
        res = engine.run_model(
            "recstat",
            "SELECT 99 AS k, 1.0 AS v",
            "incremental", unique_key="k", incremental_strategy="merge",
        )
        # healed on the MERGE path (not CTAS) and the stat says so
        assert res.details.get("recovered_swap") == "completed"
        assert res.details["strategy"] == "merge"


class TestIncrementalPredicates:
    """dbt incremental_predicates: out-of-scope target rows are
    carried untouched (never matched), in-scope rows merge by key."""

    def test_merge_scoped(self, spark, engine):
        import uuid
        t = f"{engine.schema}.pred_merge_{uuid.uuid4().hex[:6]}"
        from dbt_icebreaker_spark.materializations.incremental import run_incremental
        base = spark.createDataFrame(
            [(1, "old", 2020), (2, "old", 2024), (3, "old", 2024)],
            "k long, v string, yr int",
        )
        run_incremental(spark, t, base, strategy="merge", unique_key="k")
        batch = spark.createDataFrame(
            [(1, "new", 2020), (2, "new", 2024), (9, "new", 2024)],
            "k long, v string, yr int",
        )
        run_incremental(
            spark, t, batch, strategy="merge", unique_key="k",
            incremental_predicates=["DBT_INTERNAL_DEST.yr >= 2024"],
        )
        rows = {(r.k, r.v) for r in spark.table(t).collect()}
        # k=1 (yr 2020, out of scope): old row CARRIED and the batch
        # row inserted — the dbt contract when predicates don't cover
        # a matching row; k=2 in scope → replaced; k=9 new → inserted
        assert (1, "old") in rows and (1, "new") in rows
        assert (2, "new") in rows and (2, "old") not in rows
        assert (3, "old") in rows and (9, "new") in rows
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_delete_insert_scoped(self, spark, engine):
        import uuid
        t = f"{engine.schema}.pred_di_{uuid.uuid4().hex[:6]}"
        from dbt_icebreaker_spark.materializations.incremental import run_incremental
        base = spark.createDataFrame(
            [(1, 10, "a"), (2, 10, "a"), (3, 99, "a")], "k long, grp int, v string"
        )
        run_incremental(spark, t, base, strategy="delete+insert", unique_key="k")
        batch = spark.createDataFrame([(3, 99, "b")], "k long, grp int, v string")
        run_incremental(
            spark, t, batch, strategy="delete+insert", unique_key="k",
            incremental_predicates=["grp = 99"],
        )
        rows = sorted((r.k, r.v) for r in spark.table(t).collect())
        assert rows == [(1, "a"), (2, "a"), (3, "b")]
        spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestMergePartialUpdate:
    """dbt merge_update_columns / merge_exclude_columns: matched rows
    take only the named columns from the batch and keep the rest."""

    def test_update_columns(self, spark, engine):
        import uuid
        t = f"{engine.schema}.mupd_{uuid.uuid4().hex[:6]}"
        from dbt_icebreaker_spark.materializations.incremental import run_incremental
        base = spark.createDataFrame(
            [(1, "v1", "keep1"), (2, "v1", "keep2")], "k long, v string, created string"
        )
        run_incremental(spark, t, base, strategy="merge", unique_key="k")
        batch = spark.createDataFrame(
            [(1, "v2", "CLOBBER"), (3, "v2", "new3")], "k long, v string, created string"
        )
        run_incremental(
            spark, t, batch, strategy="merge", unique_key="k",
            merge_update_columns=["v"],
        )
        rows = {r.k: (r.v, r.created) for r in spark.table(t).collect()}
        assert rows[1] == ("v2", "keep1")   # v updated, created kept
        assert rows[2] == ("v1", "keep2")   # untouched
        assert rows[3] == ("v2", "new3")    # inserted whole
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_exclude_columns_and_null_write(self, spark, engine):
        import uuid
        t = f"{engine.schema}.mexc_{uuid.uuid4().hex[:6]}"
        from dbt_icebreaker_spark.materializations.incremental import run_incremental
        base = spark.createDataFrame(
            [(1, "v1", "keep")], "k long, v string, created string"
        )
        run_incremental(spark, t, base, strategy="merge", unique_key="k")
        batch = spark.createDataFrame(
            [(1, None, "CLOBBER")], "k long, v string, created string"
        )
        run_incremental(
            spark, t, batch, strategy="merge", unique_key="k",
            merge_exclude_columns=["created"],
        )
        row = spark.table(t).collect()[0]
        # v takes the batch's explicit NULL (UPDATE semantics, not
        # coalesce); created excluded → kept
        assert row.v is None and row.created == "keep"
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_duplicate_batch_keys_refused(self, spark, engine):
        """A target row matched by two batch rows refuses on the write,
        before the swap: the target is unchanged, no staging left."""
        import uuid, pytest as _p
        t = f"{engine.schema}.mdup_{uuid.uuid4().hex[:6]}"
        from dbt_icebreaker_spark.materializations.incremental import run_incremental
        base = spark.createDataFrame([(1, "a"), (2, "a")], "k long, v string")
        run_incremental(spark, t, base, strategy="merge", unique_key="k")
        batch = spark.createDataFrame(
            [(1, "b"), (1, "c"), (3, "d")], "k long, v string")
        with _p.raises(ValueError, match="one batch row per unique_key"):
            run_incremental(
                spark, t, batch, strategy="merge", unique_key="k",
                merge_update_columns=["v"],
            )
        assert sorted(tuple(r) for r in spark.table(t).collect()) == [
            (1, "a"), (2, "a")]
        assert not spark.catalog.tableExists(f"{t}__icebreaker_stage")
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_unmatched_duplicate_keys_insert_like_merge_into(self, spark, engine):
        """Duplicate batch keys that match no target row are no
        cardinality violation: both rows insert, as MERGE INTO does."""
        import uuid
        from dbt_icebreaker_spark.materializations.incremental import run_incremental
        t, m = (f"{engine.schema}.{p}_{uuid.uuid4().hex[:6]}"
                for p in ("mudk", "mudk_sql"))
        base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        batch = spark.createDataFrame(
            [(1, "b"), (7, "x"), (7, "y")], "k long, v string")
        for name in (t, m):
            run_incremental(spark, name, base, strategy="merge", unique_key="k")
        run_incremental(spark, t, batch, strategy="merge", unique_key="k",
                        merge_update_columns=["v"])
        batch.createOrReplaceTempView("mudk_batch")
        engine.execute(
            f"MERGE INTO {m} t USING mudk_batch s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *").collect()
        got, want = (sorted(tuple(r) for r in spark.table(x).collect())
                     for x in (t, m))
        assert got == want == [(1, "b"), (2, "b"), (7, "x"), (7, "y")]
        spark.catalog.dropTempView("mudk_batch")
        for name in (t, m):
            spark.sql(f"DROP TABLE IF EXISTS {name}")

    def test_mutually_exclusive(self, spark, engine):
        import pytest as _p
        from dbt_icebreaker_spark.materializations.incremental import run_incremental
        df = spark.createDataFrame([(1, "a")], "k long, v string")
        with _p.raises(ValueError, match="mutually exclusive"):
            run_incremental(
                spark, f"{engine.schema}.never_created_tbl", df,
                strategy="merge", unique_key="k",
                merge_update_columns=["v"], merge_exclude_columns=["v"],
            )


class TestPredicatePartialUpdateInteraction:
    """Review follow-ups: out-of-scope matches must INSERT on the
    partial-update path (same as SQL merge); source-side predicates
    refuse on the rewrite path; empty update sets refuse."""

    def test_out_of_scope_match_inserts(self, spark, engine):
        import uuid
        t = f"{engine.schema}.ppi_{uuid.uuid4().hex[:6]}"
        from dbt_icebreaker_spark.materializations.incremental import run_incremental
        base = spark.createDataFrame([(1, "old", 2020)], "k long, v string, yr int")
        run_incremental(spark, t, base, strategy="merge", unique_key="k")
        batch = spark.createDataFrame([(1, "new", 2020)], "k long, v string, yr int")
        run_incremental(
            spark, t, batch, strategy="merge", unique_key="k",
            incremental_predicates=["yr >= 2024"],
            merge_update_columns=["v"],
        )
        rows = {(r.k, r.v) for r in spark.table(t).collect()}
        # the out-of-scope old row is carried AND the unmatched (by
        # scope) batch row inserts — identical to the SQL-merge result
        assert rows == {(1, "old"), (1, "new")}
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_source_predicate_refused_on_rewrite_path(self, spark, engine):
        import uuid, pytest as _p
        t = f"{engine.schema}.srcp_{uuid.uuid4().hex[:6]}"
        from dbt_icebreaker_spark.materializations.incremental import run_incremental
        base = spark.createDataFrame([(1, "a")], "k long, v string")
        run_incremental(spark, t, base, strategy="merge", unique_key="k")
        with _p.raises(ValueError, match="DBT_INTERNAL_SOURCE.*TARGET rows only"):
            run_incremental(
                spark, t, base, strategy="merge", unique_key="k",
                incremental_predicates=["DBT_INTERNAL_SOURCE.v = 'a'"],
            )
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_keys_only_update_set_refused(self, spark, engine):
        import uuid, pytest as _p
        t = f"{engine.schema}.keyu_{uuid.uuid4().hex[:6]}"
        from dbt_icebreaker_spark.materializations.incremental import run_incremental
        base = spark.createDataFrame([(1, "a")], "k long, v string")
        run_incremental(spark, t, base, strategy="merge", unique_key="k")
        with _p.raises(ValueError, match="nothing to update"):
            run_incremental(
                spark, t, base, strategy="merge", unique_key="k",
                merge_update_columns=["k"],
            )
        spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestCompaction:
    """Small-file compaction (materializations/maintenance.py):
    many-file tables rewrite to ~target-sized files through the
    crash-safe staged swap; healthy tables are left untouched; data
    and partition layout survive."""

    def _make_fragmented(self, spark, name, n_parts=40):
        from dbt_icebreaker_spark.sources import read_parquet

        spark.sql("CREATE DATABASE IF NOT EXISTS compact_t")
        spark.sql(f"DROP TABLE IF EXISTS compact_t.{name}")
        df = read_parquet(spark, "/root/testdata/sf0.001/orders.parquet")
        df.repartition(n_parts).write.saveAsTable(f"compact_t.{name}")
        return f"compact_t.{name}", df.count()

    def test_compacts_fragmented_table(self, spark):
        from dbt_icebreaker_spark.materializations.maintenance import (
            compact_table,
        )

        target, n_rows = self._make_fragmented(spark, "frag")
        stats = compact_table(spark, target, target_file_mb=128)
        assert stats["action"] == "compacted"
        assert stats["files_before"] >= 40
        assert stats["files_after"] < stats["files_before"]
        assert stats["files_after"] <= 2
        assert spark.table(target).count() == n_rows

    def test_skips_healthy_table(self, spark):
        from dbt_icebreaker_spark.materializations.maintenance import (
            compact_table,
        )

        target, _ = self._make_fragmented(spark, "healthy", n_parts=1)
        stats = compact_table(spark, target, target_file_mb=128)
        assert stats["action"] == "skipped"
        assert stats["files_after"] == stats["files_before"]

    def test_partitioned_layout_survives(self, spark):
        from dbt_icebreaker_spark.materializations.maintenance import (
            compact_table,
            table_location,
        )
        from dbt_icebreaker_spark.sources import read_parquet
        import os

        spark.sql("CREATE DATABASE IF NOT EXISTS compact_t")
        spark.sql("DROP TABLE IF EXISTS compact_t.part")
        df = read_parquet(spark, "/root/testdata/sf0.001/orders.parquet")
        df.withColumn("status", F.col("o_orderstatus")).repartition(20).write \
            .partitionBy("status").saveAsTable("compact_t.part")
        n = spark.table("compact_t.part").count()
        stats = compact_table(spark, "compact_t.part", target_file_mb=128)
        assert stats["action"] == "compacted"
        assert spark.table("compact_t.part").count() == n
        loc = table_location(spark, "compact_t.part")
        subdirs = [d for d in os.listdir(loc) if d.startswith("status=")]
        assert len(subdirs) >= 2  # partition dirs still there


class TestZOrder:
    """cluster_by_zorder narrows per-file min/max stats on EVERY
    clustered column simultaneously — the property that makes
    multi-column predicates skip files. Key arithmetic is
    driver-gated (corpus x54); this asserts the layout effect on
    real written parquet stats."""

    @staticmethod
    def _file_ranges(path, cols):
        import glob

        import pyarrow.parquet as pq

        spans = {c: [] for c in cols}
        for f in glob.glob(path + "/*.parquet"):
            md = pq.read_metadata(f)
            mins = dict.fromkeys(cols)
            maxs = dict.fromkeys(cols)
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    col = md.row_group(rg).column(i)
                    name = col.path_in_schema
                    if name in cols and col.statistics:
                        st = col.statistics
                        mins[name] = st.min if mins[name] is None else min(mins[name], st.min)
                        maxs[name] = st.max if maxs[name] is None else max(maxs[name], st.max)
            for c in cols:
                if mins[c] is not None:
                    spans[c].append(maxs[c] - mins[c])
        return {c: sum(v) / len(v) for c, v in spans.items()}

    def test_both_columns_narrow(self, spark, tmp_path):
        from dbt_icebreaker_spark.materializations.maintenance import (
            cluster_by_zorder,
        )
        from dbt_icebreaker_spark.sources import read_parquet

        df = read_parquet(spark, "/root/testdata/sf0.01/orders.parquet")
        cols = ["o_custkey", "o_totalprice"]
        df.repartition(16).write.parquet(str(tmp_path / "plain"))
        cluster_by_zorder(df, cols, 16).write.parquet(str(tmp_path / "z"))
        plain = self._file_ranges(str(tmp_path / "plain"), cols)
        z = self._file_ranges(str(tmp_path / "z"), cols)
        for c in cols:
            assert plain[c] / z[c] > 1.5, (c, plain[c], z[c])

    def test_key_is_deterministic(self, spark):
        from dbt_icebreaker_spark.materializations.maintenance import zorder_key
        from dbt_icebreaker_spark.sources import read_parquet

        df = read_parquet(spark, "/root/testdata/sf0.001/orders.parquet")
        k1, key = zorder_key(df, ["o_custkey", "o_totalprice"])
        k2, _ = zorder_key(df, ["o_custkey", "o_totalprice"])
        a = {r.o_orderkey: r[key] for r in k1.select("o_orderkey", key).collect()}
        b = {r.o_orderkey: r[key] for r in k2.select("o_orderkey", key).collect()}
        assert a == b


class TestInsertOverwrite:
    """insert_overwrite: dynamic partition overwrite replaces ONLY the
    partitions present in the batch. The at-scale proof is physical:
    files of untouched partitions are byte-identical and not
    rewritten (mtime + path comparison), which no staged-rewrite
    strategy can claim."""

    def test_only_touched_partitions_rewrite(self, spark):
        import os

        from dbt_icebreaker_spark.materializations.incremental import (
            run_incremental,
        )
        from dbt_icebreaker_spark.materializations.maintenance import (
            table_location,
        )
        from dbt_icebreaker_spark.sources import read_parquet

        spark.sql("CREATE DATABASE IF NOT EXISTS iow_t")
        spark.sql("DROP TABLE IF EXISTS iow_t.orders_p")
        base = read_parquet(spark, "/root/testdata/sf0.001/orders.parquet") \
            .withColumn("status", F.col("o_orderstatus"))

        run_incremental(
            spark, "iow_t.orders_p", base,
            strategy="insert_overwrite", partition_by="status",
        )
        loc = table_location(spark, "iow_t.orders_p")
        parts = sorted(d for d in os.listdir(loc) if d.startswith("status="))
        assert len(parts) >= 2
        touched, untouched = parts[0], parts[1]

        def files_of(p):
            d = os.path.join(loc, p)
            return {
                f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d)
                if not f.startswith((".", "_"))
            }

        before_untouched = files_of(untouched)
        batch = base.filter(
            F.col("status") == touched.split("=", 1)[1]
        ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
        n_batch = batch.count()
        run_incremental(
            spark, "iow_t.orders_p", batch,
            strategy="insert_overwrite", partition_by="status",
        )
        # untouched partition: same files, same mtimes
        assert files_of(untouched) == before_untouched
        # touched partition fully replaced with the batch rows
        got = spark.table("iow_t.orders_p").filter(
            F.col("status") == touched.split("=", 1)[1]
        )
        assert got.count() == n_batch
        assert got.filter(F.col("o_totalprice") < 0).count() == 0
        # total = batch + untouched originals
        n_untouched = base.filter(F.col("status") != touched.split("=", 1)[1]).count()
        assert spark.table("iow_t.orders_p").count() == n_batch + n_untouched

    def test_requires_partition_by(self, spark):
        import pytest as _pytest

        from dbt_icebreaker_spark.materializations.incremental import (
            run_incremental,
        )
        from dbt_icebreaker_spark.sources import read_parquet

        spark.sql("CREATE DATABASE IF NOT EXISTS iow_t")
        spark.sql("DROP TABLE IF EXISTS iow_t.nopart")
        df = read_parquet(spark, "/root/testdata/sf0.001/orders.parquet")
        run_incremental(spark, "iow_t.nopart", df,
                        strategy="insert_overwrite", partition_by="o_orderstatus")
        with _pytest.raises(ValueError, match="partition_by"):
            run_incremental(spark, "iow_t.nopart", df, strategy="insert_overwrite")

    def test_concurrent_runs_restore_overwrite_mode(self, spark):
        """The session-wide partitionOverwriteMode flip is serialized:
        concurrent runs leave the session's prior mode in place and
        never overwrite a partition outside their batch."""
        import threading

        from dbt_icebreaker_spark.materializations.incremental import (
            run_incremental,
        )

        key = "spark.sql.sources.partitionOverwriteMode"
        prior = spark.conf.get(key)
        t = "iow_t.concurrent"
        spark.sql("CREATE DATABASE IF NOT EXISTS iow_t")
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        schema = "r int, p int"
        run_incremental(spark, t, spark.createDataFrame(
            [(0, p) for p in range(4)], schema),
            strategy="insert_overwrite", partition_by="p")
        rounds, errors = 6, []

        def overwrite(p):
            try:
                for r in range(1, rounds + 1):
                    run_incremental(
                        spark, t, spark.createDataFrame([(r, p)], schema),
                        strategy="insert_overwrite", partition_by="p",
                        collect_stats=False)
            except Exception as e:  # surfaced by the assert below
                errors.append(e)

        threads = [threading.Thread(target=overwrite, args=(p,)) for p in (0, 1)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert errors == []
        assert spark.conf.get(key) == prior
        assert sorted((r.p, r.r) for r in spark.table(t).collect()) == [
            (0, rounds), (1, rounds), (2, 0), (3, 0)]


class TestMicrobatch:
    """Microbatch incremental (dbt 1.9 contract): event-time windows
    land via insert_overwrite on a window partition — idempotent per
    window, lookback reprocesses trailing windows for late data."""

    def _events(self, spark):
        from dbt_icebreaker_spark.sources import read_parquet

        return read_parquet(spark, "/root/testdata/sf0.001/events.parquet") \
            .select("event_id", "ts", "user_id", "value")

    def test_backfill_then_idempotent_rerun(self, spark):
        from dbt_icebreaker_spark.materializations.microbatch import (
            run_microbatch,
        )

        spark.sql("CREATE DATABASE IF NOT EXISTS mb_t")
        spark.sql("DROP TABLE IF EXISTS mb_t.ev")
        ev = self._events(spark)
        stats = run_microbatch(spark, "mb_t.ev", ev, event_time="ts",
                               batch_size="day")
        assert len(stats) >= 2  # multiple day windows
        n = spark.table("mb_t.ev").count()
        assert n == ev.count()
        # full re-run over the same range: window replacement, no dupes
        run_microbatch(spark, "mb_t.ev", ev, event_time="ts",
                       batch_size="day")
        assert spark.table("mb_t.ev").count() == n

    def test_lookback_catches_late_rows(self, spark):
        import datetime as dt

        from dbt_icebreaker_spark.materializations.microbatch import (
            WINDOW_COL, run_microbatch,
        )

        spark.sql("CREATE DATABASE IF NOT EXISTS mb_t")
        spark.sql("DROP TABLE IF EXISTS mb_t.late")
        ev = self._events(spark)
        # initial load without the "late" row
        late_key = ev.orderBy("ts").limit(1).collect()[0]
        initial = ev.filter(F.col("event_id") != late_key.event_id)
        run_microbatch(spark, "mb_t.late", initial, event_time="ts",
                       batch_size="day")
        n0 = spark.table("mb_t.late").count()
        # late row arrives in the EARLIEST window; incremental run with
        # enough lookback windows re-lands it
        n_windows = spark.table("mb_t.late").select(WINDOW_COL).distinct().count()
        run_microbatch(spark, "mb_t.late", ev, event_time="ts",
                       batch_size="day", lookback=n_windows)
        assert spark.table("mb_t.late").count() == n0 + 1

    def test_plan_batches_alignment(self):
        import datetime as dt

        from dbt_icebreaker_spark.materializations.microbatch import plan_batches

        w = plan_batches(dt.datetime(2024, 1, 15, 7, 30),
                         dt.datetime(2024, 1, 17, 1), "day")
        assert w[0][0] == dt.datetime(2024, 1, 15)
        assert w[-1][1] == dt.datetime(2024, 1, 18)
        m = plan_batches(dt.datetime(2024, 11, 20), dt.datetime(2025, 2, 1), "month")
        assert [x[0].month for x in m] == [11, 12, 1]


class TestCompactionLayoutFromCatalog:
    def test_partition_layout_preserved_without_args(self, spark):
        # the review finding: compaction must read layout from the
        # catalog, not depend on the caller restating it
        import os

        from dbt_icebreaker_spark.materializations.ddl import table_layout
        from dbt_icebreaker_spark.materializations.maintenance import (
            compact_table,
            table_location,
        )
        from dbt_icebreaker_spark.sources import read_parquet

        spark.sql("CREATE DATABASE IF NOT EXISTS compact_t")
        spark.sql("DROP TABLE IF EXISTS compact_t.autolayout")
        df = read_parquet(spark, "/root/testdata/sf0.001/orders.parquet")
        df.withColumn("status", F.col("o_orderstatus")).repartition(20).write \
            .partitionBy("status").saveAsTable("compact_t.autolayout")
        parts, bcols, nb, _ = table_layout(spark, "compact_t.autolayout")
        assert parts == ["status"]
        stats = compact_table(spark, "compact_t.autolayout", target_file_mb=128)
        assert stats["action"] == "compacted"
        loc = table_location(spark, "compact_t.autolayout")
        subdirs = [d for d in os.listdir(loc) if d.startswith("status=")]
        assert len(subdirs) >= 2, "partition layout lost"


# layout → (its CREATE TABLE clause, what ddl.table_layout reads back)
_LAYOUTS = {
    "partitioned": ("PARTITIONED BY (g)", (["g"], [], None, [])),
    # declared without SORTED BY: a rewrite must not add one
    "bucketed": ("CLUSTERED BY (k) INTO 4 BUCKETS", ([], ["k"], 4, [])),
    "bucketed_sorted": ("CLUSTERED BY (k) SORTED BY (k) INTO 4 BUCKETS",
                        ([], ["k"], 4, ["k"])),
}
_BASE = {k: ("a" if k % 2 else "b", float(k)) for k in range(20)}
_SRC = {k: ("a" if k % 2 else "b", float(k * 10)) for k in range(15, 25)}


def _upd(rows, keys, f):
    return {k: f(k, r) if k in keys else r for k, r in rows.items()}


# statement on target {t} (source mat_test.lay_src s) → expected rows
_LAYOUT_DML = {
    "delete": ("DELETE FROM {t} WHERE k < 5",
               {k: r for k, r in _BASE.items() if k >= 5}),
    "update": ("UPDATE {t} SET v = v + 1 WHERE k < 5",
               _upd(_BASE, range(5), lambda k, r: (r[0], r[1] + 1))),
    "update_from": ("UPDATE {t} t SET v = s.v FROM mat_test.lay_src s "
                    "WHERE t.k = s.k",
                    _upd(_BASE, _SRC, lambda k, r: _SRC[k])),
    "merge_upsert": ("MERGE INTO {t} t USING mat_test.lay_src s ON t.k = s.k "
                     "WHEN MATCHED THEN UPDATE SET * "
                     "WHEN NOT MATCHED THEN INSERT *", {**_BASE, **_SRC}),
    "merge_delete": ("MERGE INTO {t} t USING mat_test.lay_src s ON t.k = s.k "
                     "WHEN MATCHED THEN DELETE",
                     {k: r for k, r in _BASE.items() if k not in _SRC}),
    "merge_insert": ("MERGE INTO {t} t USING mat_test.lay_src s ON t.k = s.k "
                     "WHEN NOT MATCHED THEN INSERT *", {**_SRC, **_BASE}),
    "alter_rename": ("ALTER TABLE {t} RENAME COLUMN v TO w", _BASE),
    "alter_drop": ("ALTER TABLE {t} DROP COLUMN v", _BASE),
}


class TestLayoutKept:
    """A table's partitioning and bucketing are declared when it is
    created and kept by every later write: DML, ALTER and incremental
    batches rewrite or append through the layout the catalog records
    (ddl.table_layout), with no caller restating it."""

    @staticmethod
    def _make(spark, name, layout):
        t = f"mat_test.{name}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"CREATE TABLE {t} (k INT, g STRING, v DOUBLE) USING parquet "
                  + _LAYOUTS[layout][0])
        spark.createDataFrame(
            [(k, g, v) for k, (g, v) in _BASE.items()], "k int, g string, v double"
        ).select(*spark.table(t).columns).write.insertInto(t)
        return t

    @staticmethod
    def _rows(spark, t):
        return sorted(tuple(sorted(r.asDict().items()))
                      for r in spark.table(t).collect())

    @staticmethod
    def _no_swap_debris(spark, t):
        return not any(spark.catalog.tableExists(t + sfx) for sfx in
                       ("__icebreaker_stage", "__icebreaker_old"))

    @pytest.mark.parametrize("layout", sorted(_LAYOUTS))
    @pytest.mark.parametrize("stmt", list(_LAYOUT_DML))
    def test_dml_and_alter_keep_layout(self, spark, engine, stmt, layout):
        from dbt_icebreaker_spark.materializations.ddl import table_layout

        spark.sql("DROP TABLE IF EXISTS mat_test.lay_src")
        spark.createDataFrame(
            [(k, g, v) for k, (g, v) in _SRC.items()], "k int, g string, v double"
        ).write.saveAsTable("mat_test.lay_src")
        t = self._make(spark, f"lay_{stmt}_{layout}", layout)
        assert table_layout(spark, t) == _LAYOUTS[layout][1]
        sql, expected = _LAYOUT_DML[stmt]
        engine.execute(sql.format(t=t))
        assert table_layout(spark, t) == _LAYOUTS[layout][1]
        col = {"alter_rename": "w", "alter_drop": None}.get(stmt, "v")
        want = sorted(
            tuple(sorted({"k": k, "g": g, **({col: v} if col else {})}.items()))
            for k, (g, v) in expected.items()
        )
        assert self._rows(spark, t) == want
        assert self._no_swap_debris(spark, t)

    @pytest.mark.parametrize("kw", [
        dict(incremental_strategy="append"),
        dict(incremental_strategy="merge"),  # no unique_key: an append
    ], ids=["append", "merge_no_key"])
    def test_incremental_append_keeps_partitioning(self, spark, engine, kw):
        from dbt_icebreaker_spark.materializations.ddl import table_layout

        name = f"lay_inc_{kw['incremental_strategy']}"
        sql = "SELECT event_id AS k, event_type AS g, value AS v FROM events"
        t = f"{engine.effective_schema}.{name}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        for _ in range(2):  # the second run appends to the partitioned table
            engine.run_model(name, sql + " WHERE event_id < 50", "incremental",
                             partition_by="g", **kw)
        assert table_layout(spark, t) == (["g"], [], None, [])
        assert spark.table(t).count() == 2 * spark.table("events").filter(
            "event_id < 50").count()

    def test_layout_change_needs_full_refresh(self, spark, engine):
        from dbt_icebreaker_spark.materializations.ddl import table_layout

        t = f"{engine.effective_schema}.lay_refresh"
        sql = ("SELECT event_id AS k, event_type AS g, value AS v FROM events "
               "WHERE event_id < {}")
        kw = dict(unique_key="k", incremental_strategy="merge")
        engine.run_model("lay_refresh", sql.format(50), "incremental",
                         partition_by="g", full_refresh=True, **kw)
        assert table_layout(spark, t) == (["g"], [], None, [])
        # a merge batch whose config no longer partitions keeps the table's
        engine.run_model("lay_refresh", sql.format(80), "incremental", **kw)
        n = spark.table("events").filter("event_id < 80").count()
        assert table_layout(spark, t) == (["g"], [], None, [])
        assert spark.table(t).count() == n
        # full_refresh re-declares the layout from the config
        engine.run_model("lay_refresh", sql.format(80), "incremental",
                         full_refresh=True, **kw)
        assert table_layout(spark, t) == ([], [], None, [])
        assert spark.table(t).count() == n

    @pytest.mark.parametrize("layout,sql", [
        ("partitioned", "ALTER TABLE {t} RENAME COLUMN g TO h"),
        ("bucketed", "ALTER TABLE {t} DROP COLUMN k"),
    ], ids=["partition_column", "bucket_column"])
    def test_alter_of_layout_column_refused(self, spark, engine, layout, sql):
        from dbt_icebreaker_spark.materializations.ddl import table_layout
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        t = self._make(spark, f"lay_refuse_{layout}", layout)
        before = table_layout(spark, t), self._rows(spark, t)
        with pytest.raises(TranspileError, match="partition or bucket column"):
            engine.execute(sql.format(t=t))
        assert (table_layout(spark, t), self._rows(spark, t)) == before
        assert self._no_swap_debris(spark, t)

    def test_table_location_reads_catalog(self, spark, engine):
        import os

        from dbt_icebreaker_spark.materializations.ddl import table_location

        t = self._make(spark, "lay_loc", "partitioned")
        spark.sql("CREATE OR REPLACE VIEW mat_test.lay_loc_v AS SELECT 1 AS a")
        sc = spark.sparkContext
        sc.setJobGroup("table-location", "table_location")
        try:
            locs = [table_location(spark, x) for x in (
                t, "spark_catalog." + t, "mat_test.lay_loc_v",
                "mat_test.lay_missing", "nodb.t")]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup("table-location") == []
        assert locs[0] == locs[1] and locs[0].endswith("lay_loc")
        assert sorted(d for d in os.listdir(locs[0]) if d.startswith("g=")) == [
            "g=a", "g=b"]
        assert locs[2:] == [None] * 3  # a view, a missing table, a missing db

    def test_table_layout_launches_no_job(self, spark):
        from dbt_icebreaker_spark.materializations.ddl import table_layout

        tables = [self._make(spark, f"lay_jobs_{lay}", lay) for lay in _LAYOUTS]
        sc = spark.sparkContext
        sc.setJobGroup("table-layout", "table_layout")
        try:
            got = [table_layout(spark, t) for t in tables + [
                "spark_catalog." + tables[0], "mat_test.lay_missing", "nodb.t"]]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert sc.statusTracker().getJobIdsForGroup("table-layout") == []
        layouts = [want for _, want in _LAYOUTS.values()]
        assert got == layouts + layouts[:1] + [([], [], None, [])] * 2


class TestDataTests:
    """dbt generic data tests (materializations/data_tests.py):
    unique / not_null / accepted_values / relationships with
    store-failures audit tables."""

    @staticmethod
    def _setup(spark):
        from dbt_icebreaker_spark.sources import register_dir

        register_dir(spark, "/root/testdata/sf0.001")

    def test_clean_table_passes(self, spark):
        from dbt_icebreaker_spark.materializations.data_tests import (
            run_data_tests,
        )

        self._setup(spark)
        results = run_data_tests(spark, [
            {"test": "unique", "table": "orders", "column": "o_orderkey"},
            {"test": "not_null", "table": "orders", "column": "o_orderkey"},
            {"test": "accepted_values", "table": "orders",
             "column": "o_orderstatus", "values": ["O", "F", "P"]},
            {"test": "relationships", "table": "orders",
             "column": "o_custkey", "to_table": "customer",
             "to_column": "c_custkey"},
        ])
        assert all(r["status"] == "pass" for r in results), results

    def test_violations_detected_and_stored(self, spark):
        from dbt_icebreaker_spark.materializations.data_tests import (
            run_data_tests,
        )

        self._setup(spark)
        spark.sql("CREATE DATABASE IF NOT EXISTS dt_t")
        spark.createDataFrame(
            [(1, "A"), (1, "B"), (2, None), (3, "Z")],
            "id long, status string",
        ).write.mode("overwrite").saveAsTable("dt_t.dirty")
        results = run_data_tests(spark, [
            {"test": "unique", "table": "dt_t.dirty", "column": "id"},
            {"test": "not_null", "table": "dt_t.dirty", "column": "status"},
            {"test": "accepted_values", "table": "dt_t.dirty",
             "column": "status", "values": ["A", "B"]},
        ], store_failures_schema="dt_t")
        by = {r["test"]: r for r in results}
        assert by["unique"]["status"] == "fail" and by["unique"]["failures"] == 1
        assert by["unique"]["sample"][0]["value"] == 1
        assert by["not_null"]["failures"] == 1
        assert by["accepted_values"]["failures"] == 1  # 'Z'
        assert spark.table(by["unique"]["failures_table"]).count() == 1

    def test_relationships_null_children_pass(self, spark):
        from dbt_icebreaker_spark.materializations.data_tests import (
            relationships_violations,
        )

        self._setup(spark)
        spark.sql("CREATE DATABASE IF NOT EXISTS dt_t")
        spark.createDataFrame(
            [(1, 0), (2, None), (3, 999999)], "id long, cust long"
        ).write.mode("overwrite").saveAsTable("dt_t.children")
        bad = relationships_violations(
            spark, "dt_t.children", "cust", "customer", "c_custkey"
        ).collect()
        assert [r.id for r in bad] == [3]  # NULL passes, orphan fails


class TestDataTestsReviewFixes:
    def test_null_keys_not_unique_violations(self, spark):
        # dbt's default__test_unique filters NULLs out
        from dbt_icebreaker_spark.materializations.data_tests import (
            unique_violations,
        )

        spark.sql("CREATE DATABASE IF NOT EXISTS dt_t")
        spark.createDataFrame(
            [(None,), (None,), (1,)], "id long"
        ).write.mode("overwrite").saveAsTable("dt_t.nulls")
        assert unique_violations(spark, "dt_t.nulls", "id").count() == 0

    def test_where_config_scopes_the_test(self, spark):
        from dbt_icebreaker_spark.materializations.data_tests import (
            run_data_tests,
        )

        spark.sql("CREATE DATABASE IF NOT EXISTS dt_t")
        spark.createDataFrame(
            [(1, "old"), (1, "new"), (2, "new")], "id long, era string"
        ).write.mode("overwrite").saveAsTable("dt_t.eras")
        res = run_data_tests(spark, [
            {"test": "unique", "table": "dt_t.eras", "column": "id",
             "where": "era = 'new'"},
        ])
        assert res[0]["status"] == "pass"

    def test_unknown_spec_key_actionable(self, spark):
        import pytest as _pytest

        from dbt_icebreaker_spark.materializations.data_tests import (
            run_data_tests,
        )

        with _pytest.raises(ValueError, match="severity"):
            run_data_tests(spark, [
                {"test": "unique", "table": "t", "column": "c",
                 "severity": "warn"},
            ])

    def test_relationships_names_include_target(self, spark):
        from dbt_icebreaker_spark.materializations.data_tests import (
            _default_name,
        )

        a = _default_name({"test": "relationships", "table": "orders",
                           "column": "o_custkey", "to_table": "customer"})
        b = _default_name({"test": "relationships", "table": "orders",
                           "column": "o_custkey", "to_table": "cust_archive"})
        assert a != b


class TestCopyInto:
    """Path-based COPY INTO executes natively through
    IcebreakerEngine.execute (the reference can only route COPY INTO
    to the cloud); stage forms and exotic options refuse actionably."""

    def test_csv_positional_load(self, spark, tmp_path):
        from dbt_icebreaker_spark import IcebreakerEngine

        p = tmp_path / "in.csv"
        p.write_text("id|name\n1|alpha\n2|beta\n")
        spark.sql("CREATE DATABASE IF NOT EXISTS ci_t")
        spark.sql("DROP TABLE IF EXISTS ci_t.loaded")
        spark.sql("CREATE TABLE ci_t.loaded (id BIGINT, name STRING)")
        spark.catalog.clearCache()  # start from an empty CacheManager
        eng = IcebreakerEngine(spark, schema="ci_t")
        out = eng.execute(
            f"COPY INTO ci_t.loaded FROM '{p}' "
            "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1 "
            "FIELD_DELIMITER = '|')"
        ).collect()[0]
        assert out.rows_loaded == 2
        rows = {r.id: r.name for r in spark.table("ci_t.loaded").collect()}
        assert rows == {1: "alpha", 2: "beta"}
        # the count rides the insert: no cached copy of the source
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_parquet_by_name_with_cast(self, spark, tmp_path):
        from dbt_icebreaker_spark import IcebreakerEngine
        from dbt_icebreaker_spark.sources import read_parquet

        src = str(tmp_path / "src_pq")
        read_parquet(spark, "/root/testdata/sf0.001/orders.parquet").select(
            "o_orderkey", "o_orderstatus"
        ).write.parquet(src)
        spark.sql("CREATE DATABASE IF NOT EXISTS ci_t")
        spark.sql("DROP TABLE IF EXISTS ci_t.orders_slim")
        spark.sql(
            "CREATE TABLE ci_t.orders_slim (o_orderstatus STRING, o_orderkey BIGINT)"
        )
        eng = IcebreakerEngine(spark, schema="ci_t")
        out = eng.execute(
            f"COPY INTO ci_t.orders_slim FROM '{src}' "
            "FILE_FORMAT = (TYPE = PARQUET)"
        ).collect()[0]
        assert out.rows_loaded > 0
        # by-NAME mapping despite reversed column order in the target
        r = spark.table("ci_t.orders_slim").filter("o_orderkey = 1").collect()[0]
        assert isinstance(r.o_orderstatus, str)

    def test_stage_form_refuses(self, spark):
        import pytest as _pytest

        from dbt_icebreaker_spark import IcebreakerEngine
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        eng = IcebreakerEngine(spark, schema="ci_t")
        # r13: @stage forms resolve against the engine's stage
        # registry — an unregistered stage names the registry instead
        # of a blanket no-stages refusal
        with _pytest.raises(ValueError, match="unknown stage"):
            eng.execute("COPY INTO t FROM @my_stage")
        with _pytest.raises(TranspileError, match="ON_ERROR"):
            eng.execute(
                "COPY INTO t FROM '/x' FILE_FORMAT = (TYPE = CSV) "
                "ON_ERROR = 'CONTINUE'"
            )

    def test_missing_target_actionable(self, spark, tmp_path):
        import pytest as _pytest

        from dbt_icebreaker_spark import IcebreakerEngine

        p = tmp_path / "z.csv"
        p.write_text("1\n")
        eng = IcebreakerEngine(spark, schema="ci_t")
        with _pytest.raises(ValueError, match="does not exist"):
            eng.execute(f"COPY INTO ci_t.nope_missing FROM '{p}'")


class TestCopyIntoReviewFixes:
    def test_leading_comment_still_parses(self, spark, tmp_path):
        from dbt_icebreaker_spark import IcebreakerEngine

        p = tmp_path / "c.csv"
        p.write_text("5|five\n")
        spark.sql("CREATE DATABASE IF NOT EXISTS ci_t")
        spark.sql("DROP TABLE IF EXISTS ci_t.cmt")
        spark.sql("CREATE TABLE ci_t.cmt (id BIGINT, name STRING)")
        eng = IcebreakerEngine(spark, schema="ci_t")
        out = eng.execute(
            f"-- backfill\nCOPY INTO ci_t.cmt FROM '{p}' "
            "FILE_FORMAT = (TYPE = CSV FIELD_DELIMITER = '|')"
        ).collect()[0]
        assert out.rows_loaded == 1

    def test_unknown_option_refuses(self, spark):
        import pytest as _pytest

        from dbt_icebreaker_spark import IcebreakerEngine
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        eng = IcebreakerEngine(spark, schema="ci_t")
        # r13: FORMAT_NAME resolves against the session registry —
        # an unregistered name names the registry instead of a
        # blanket refusal
        with _pytest.raises(ValueError, match="unknown file format"):
            eng.execute(
                "COPY INTO t FROM '/x' FILE_FORMAT = (FORMAT_NAME = f)"
            )
        with _pytest.raises(TranspileError, match="SKIP_HEADER"):
            eng.execute(
                "COPY INTO t FROM '/x' FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 2)"
            )

    def test_pattern_is_a_regex_over_relative_path(self, spark, tmp_path):
        from dbt_icebreaker_spark import IcebreakerEngine

        d = tmp_path / "files"
        d.mkdir()
        (d / "part-0.csv").write_text("1|a\n")
        (d / "part-1.csv").write_text("2|b\n")
        (d / "skip.txt").write_text("9|z\n")
        spark.sql("CREATE DATABASE IF NOT EXISTS ci_t")
        spark.sql("DROP TABLE IF EXISTS ci_t.pat")
        spark.sql("CREATE TABLE ci_t.pat (id BIGINT, name STRING)")
        eng = IcebreakerEngine(spark, schema="ci_t")
        out = eng.execute(
            f"COPY INTO ci_t.pat FROM '{d}' "
            "FILE_FORMAT = (TYPE = CSV FIELD_DELIMITER = '|') "
            "PATTERN = 'part-.*[.]csv'"   # Snowflake regex, not a glob
        ).collect()[0]
        assert out.rows_loaded == 2
        # no matches → load nothing, Snowflake semantics, not an error
        out2 = eng.execute(
            f"COPY INTO ci_t.pat FROM '{d}' "
            "FILE_FORMAT = (TYPE = CSV) PATTERN = 'nomatch-.*'"
        ).collect()[0]
        assert out2.rows_loaded == 0

    def test_by_name_mapping_case_insensitive(self, spark, tmp_path):
        from dbt_icebreaker_spark import IcebreakerEngine

        src = str(tmp_path / "upper_pq")
        spark.createDataFrame(
            [(1, "x")], "O_ORDERKEY long, O_STATUS string"
        ).write.parquet(src)
        spark.sql("CREATE DATABASE IF NOT EXISTS ci_t")
        spark.sql("DROP TABLE IF EXISTS ci_t.lower_t")
        spark.sql("CREATE TABLE ci_t.lower_t (o_orderkey BIGINT, o_status STRING)")
        eng = IcebreakerEngine(spark, schema="ci_t")
        out = eng.execute(
            f"COPY INTO ci_t.lower_t FROM '{src}' FILE_FORMAT = (TYPE = PARQUET)"
        ).collect()[0]
        assert out.rows_loaded == 1


class TestSeedColumnTypes:
    def test_leading_zeros_preserved(self, spark, tmp_path):
        # the canonical dbt seed pitfall: a zip column inferred as INT
        from dbt_icebreaker_spark import IcebreakerEngine

        p = tmp_path / "zips.csv"
        p.write_text("city,zip\nBoston,02134\nNYC,10001\n")
        eng = IcebreakerEngine(spark, schema="seed_t")
        spark.sql("CREATE DATABASE IF NOT EXISTS seed_t")
        eng.seed_csv("zips", str(p), column_types={"zip": "string"})
        rows = {r.city: r.zip for r in spark.table("seed_t.zips").collect()}
        assert rows["Boston"] == "02134"  # not 2134
        # non-overridden columns keep inference
        eng.seed_csv("zips_plain", str(p))
        t = dict(spark.table("seed_t.zips_plain").dtypes)
        assert t["zip"] in ("int", "bigint")  # shows why the override exists


class TestSeedColumnTypesTypo:
    def test_typoed_override_key_raises(self, spark, tmp_path):
        import pytest as _pytest

        from dbt_icebreaker_spark import IcebreakerEngine

        p = tmp_path / "z2.csv"
        p.write_text("city,zip\nBoston,02134\n")
        eng = IcebreakerEngine(spark, schema="seed_t")
        with _pytest.raises(ValueError, match="Zip"):
            eng.seed_csv("z2", str(p), column_types={"Zip": "string"})


class TestMergeStatement:
    """Literal MERGE INTO through IcebreakerEngine.execute, lowered
    onto the CASE-cascade staged rewrite
    (materializations/merge_stmt.py)."""

    def _seed(self, spark, eng, name):
        spark.sql(f"DROP TABLE IF EXISTS mat_test.{name}")
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k int, s string, v double",
        ).write.saveAsTable(f"mat_test.{name}")

    def test_update_insert(self, spark, engine):
        self._seed(spark, engine, "mg1")
        spark.createDataFrame(
            [(2, "B", 22.0), (4, "d", 40.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg1_src")
        res = engine.execute(
            "MERGE INTO mat_test.mg1 t USING mg1_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        ).collect()
        assert res[0].rows_affected == 2
        got = {r.k: (r.s, r.v) for r in spark.table("mat_test.mg1").collect()}
        assert got == {1: ("a", 10.0), 2: ("B", 22.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    def test_update_only_never_inserts(self, spark, engine):
        self._seed(spark, engine, "mg2")
        spark.createDataFrame(
            [(2, "B", 22.0), (4, "d", 40.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg2_src")
        engine.execute(
            "MERGE INTO mat_test.mg2 t USING mg2_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET *"
        )
        got = {r.k for r in spark.table("mat_test.mg2").collect()}
        assert got == {1, 2, 3}  # k=4 NOT inserted

    def test_partial_update_columns(self, spark, engine):
        self._seed(spark, engine, "mg3")
        spark.createDataFrame(
            [(2, "ZZZ", 99.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg3_src")
        engine.execute(
            "MERGE INTO mat_test.mg3 t USING mg3_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET t.v = s.v"
        )
        r2 = [r for r in spark.table("mat_test.mg3").collect() if r.k == 2][0]
        assert r2.v == 99.0 and r2.s == "b"  # s untouched

    def test_matched_delete(self, spark, engine):
        self._seed(spark, engine, "mg4")
        spark.createDataFrame([(1,), (3,)], "k int").createOrReplaceTempView("mg4_src")
        res = engine.execute(
            "MERGE INTO mat_test.mg4 t USING mg4_src s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE"
        ).collect()
        assert res[0].rows_affected == 2
        assert {r.k for r in spark.table("mat_test.mg4").collect()} == {2}

    def test_insert_only(self, spark, engine):
        self._seed(spark, engine, "mg5")
        spark.createDataFrame(
            [(3, "x", 0.0), (5, "e", 50.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg5_src")
        engine.execute(
            "MERGE INTO mat_test.mg5 t USING mg5_src s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        got = {r.k: r.s for r in spark.table("mat_test.mg5").collect()}
        assert got == {1: "a", 2: "b", 3: "c", 5: "e"}  # k=3 NOT replaced

    def test_subquery_source_with_transpiled_dialect(self, spark, engine):
        self._seed(spark, engine, "mg6")
        spark.createDataFrame(
            [(2, "raw", 1.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg6_src")
        # IFF is Snowflake dialect — proves the USING subquery goes
        # through the transpiler
        engine.execute(
            "MERGE INTO mat_test.mg6 t USING "
            "(SELECT k, IFF(v > 0, 'pos', 'neg') AS s, v FROM mg6_src) s "
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET *"
        )
        r2 = [r for r in spark.table("mat_test.mg6").collect() if r.k == 2][0]
        assert r2.s == "pos"

    def test_unsupported_shapes_actionable(self, spark, engine):
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import TranspileError

        self._seed(spark, engine, "mg7")
        # r10: pure non-equi ON now EVALUATES (bounded broadcast);
        # this self-merge matches target k=1 to source k=2 and k=3 —
        # the nondeterministic-merge guard refuses
        with _pytest.raises(TranspileError, match="nondeterministic"):
            engine.execute(
                "MERGE INTO mat_test.mg7 t USING mat_test.mg7 s ON t.k < s.k "
                "WHEN MATCHED THEN DELETE"
            )
        with _pytest.raises(TranspileError, match="positional VALUES"):
            engine.execute(
                "MERGE INTO mat_test.mg7 t USING mg7 s ON t.k = s.k "
                "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.s, s.v)"
            )

    # ---- conditional WHEN clauses (generalized staged rewrite) ----

    def test_conditional_matched_update_vs_delete(self, spark, engine):
        # first-true-wins: high-v rows update, remaining matches delete
        self._seed(spark, engine, "mg8")
        spark.createDataFrame(
            [(1, "A", 100.0), (2, "B", 1.0), (3, "C", 50.0)],
            "k int, s string, v double",
        ).createOrReplaceTempView("mg8_src")
        res = engine.execute(
            "MERGE INTO mat_test.mg8 t USING mg8_src s ON t.k = s.k "
            "WHEN MATCHED AND s.v >= 50 THEN UPDATE SET t.s = s.s, t.v = s.v "
            "WHEN MATCHED THEN DELETE"
        ).collect()
        got = {r.k: (r.s, r.v) for r in spark.table("mat_test.mg8").collect()}
        # k=1 updated (v=100>=50), k=2 deleted (1<50), k=3 updated
        assert got == {1: ("A", 100.0), 3: ("C", 50.0)}
        assert res[0].rows_affected == 3

    def test_conditional_update_delete_insert_one_statement(self, spark, engine):
        self._seed(spark, engine, "mg9")
        spark.createDataFrame(
            [(1, "upd", 99.0), (2, "del", -1.0), (5, "new", 55.0),
             (6, "skip", -9.0)],
            "k int, s string, v double",
        ).createOrReplaceTempView("mg9_src")
        engine.execute(
            "MERGE INTO mat_test.mg9 t USING mg9_src s ON t.k = s.k "
            "WHEN MATCHED AND s.v < 0 THEN DELETE "
            "WHEN MATCHED THEN UPDATE SET t.v = s.v + t.v "
            "WHEN NOT MATCHED AND s.v > 0 THEN INSERT (k, s, v) "
            "VALUES (s.k, UPPER(s.s), s.v)"
        )
        got = {r.k: (r.s, r.v) for r in spark.table("mat_test.mg9").collect()}
        # k=1: update RHS sees pre-update t.v (10+99); k=2 deleted;
        # k=5 inserted (v>0) with UPPER; k=6 skipped (v<0); k=3 kept
        assert got == {1: ("a", 109.0), 3: ("c", 30.0), 5: ("NEW", 55.0)}

    def test_conditional_update_unmatched_condition_keeps_row(self, spark, engine):
        # matched row where NO clause condition holds stays unchanged
        self._seed(spark, engine, "mg10")
        spark.createDataFrame(
            [(1, "x", 5.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg10_src")
        engine.execute(
            "MERGE INTO mat_test.mg10 t USING mg10_src s ON t.k = s.k "
            "WHEN MATCHED AND s.v > 100 THEN UPDATE SET t.s = s.s"
        )
        got = {r.k: r.s for r in spark.table("mat_test.mg10").collect()}
        assert got == {1: "a", 2: "b", 3: "c"}

    def test_column_list_insert_missing_cols_null(self, spark, engine):
        self._seed(spark, engine, "mg11")
        spark.createDataFrame(
            [(7, "g", 70.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg11_src")
        engine.execute(
            "MERGE INTO mat_test.mg11 t USING mg11_src s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)"
        )
        r7 = [r for r in spark.table("mat_test.mg11").collect() if r.k == 7][0]
        assert r7.s is None and r7.v == 70.0

    def test_nondeterministic_merge_refused(self, spark, engine):
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import TranspileError

        self._seed(spark, engine, "mg12")
        spark.createDataFrame(
            [(1, "x", 1.0), (1, "y", 2.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg12_src")
        with _pytest.raises(TranspileError, match="nondeterministic"):
            engine.execute(
                "MERGE INTO mat_test.mg12 t USING mg12_src s ON t.k = s.k "
                "WHEN MATCHED AND s.v > 0 THEN UPDATE SET t.v = s.v"
            )
        # target untouched after the refused merge
        assert spark.table("mat_test.mg12").count() == 3

    @pytest.mark.parametrize(
        "insert", ["", " WHEN NOT MATCHED THEN INSERT *"],
        ids=["update_only", "upsert"],
    )
    def test_duplicate_source_set_star_refused(self, spark, engine, insert):
        # an unconditional UPDATE SET * refuses two source rows for one
        # target row like every other shape; the guard fires after the
        # staging write, so the refusal must drop the staging table and
        # leave the target's rows as they were
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        self._seed(spark, engine, "mg22")
        before = sorted(spark.table("mat_test.mg22").collect())
        spark.createDataFrame(
            [(1, "x", 1.0), (1, "y", 2.0), (4, "d", 40.0)],
            "k int, s string, v double",
        ).createOrReplaceTempView("mg22_src")
        with pytest.raises(TranspileError, match="nondeterministic"):
            engine.execute(
                "MERGE INTO mat_test.mg22 t USING mg22_src s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET *" + insert
            )
        assert sorted(spark.table("mat_test.mg22").collect()) == before
        assert not spark.catalog.tableExists("mat_test.mg22__icebreaker_stage")

    @pytest.mark.parametrize(
        "when,affected,expect",
        [
            ("WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
             2, {2: "B", 4: "d"}),
            ("WHEN MATCHED THEN UPDATE SET *", 0, {}),
            ("WHEN NOT MATCHED THEN INSERT *", 2, {2: "B", 4: "d"}),
        ],
        ids=["upsert", "update_only", "insert_only"],
    )
    def test_empty_target(self, spark, engine, when, affected, expect):
        # an empty target lets AQE prune the join (and the target-scan
        # observation with it): nothing matches, nothing refuses
        spark.sql("DROP TABLE IF EXISTS mat_test.mg23")
        spark.sql(
            "CREATE TABLE mat_test.mg23 (k int, s string, v double) USING parquet"
        )
        spark.createDataFrame(
            [(2, "B", 22.0), (4, "d", 40.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg23_src")
        res = engine.execute(
            f"MERGE INTO mat_test.mg23 t USING mg23_src s ON t.k = s.k {when}"
        ).collect()
        assert res[0].rows_affected == affected
        assert {r.k: r.s for r in spark.table("mat_test.mg23").collect()} == expect

    def test_empty_target_duplicate_source_inserts_both(self, spark, engine):
        # no target row exists to be matched twice, so the duplicate
        # source keys are not a nondeterministic merge: both insert
        spark.sql("DROP TABLE IF EXISTS mat_test.mg24")
        spark.sql(
            "CREATE TABLE mat_test.mg24 (k int, s string, v double) USING parquet"
        )
        spark.createDataFrame(
            [(1, "x", 1.0), (1, "y", 2.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg24_src")
        res = engine.execute(
            "MERGE INTO mat_test.mg24 t USING mg24_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        ).collect()
        assert res[0].rows_affected == 2
        assert sorted(r.s for r in spark.table("mat_test.mg24").collect()) == ["x", "y"]

    @pytest.mark.parametrize(
        "when",
        [
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            "WHEN MATCHED THEN DELETE",
            "WHEN NOT MATCHED THEN INSERT *",
        ],
        ids=["upsert", "delete", "insert_only"],
    )
    def test_empty_source(self, spark, engine, when):
        self._seed(spark, engine, "mg25")
        before = sorted(spark.table("mat_test.mg25").collect())
        spark.createDataFrame(
            [], "k int, s string, v double"
        ).createOrReplaceTempView("mg25_src")
        res = engine.execute(
            f"MERGE INTO mat_test.mg25 t USING mg25_src s ON t.k = s.k {when}"
        ).collect()
        assert res[0].rows_affected == 0
        assert sorted(spark.table("mat_test.mg25").collect()) == before

    def test_case_expression_in_set_and_condition(self, spark, engine):
        # r5 review: unparenthesized CASE carries WHEN/THEN at paren
        # depth 0 — the SET/condition scanners must not stop inside it
        self._seed(spark, engine, "mg14")
        spark.createDataFrame(
            [(1, "x", -5.0), (2, "y", 7.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg14_src")
        engine.execute(
            "MERGE INTO mat_test.mg14 t USING mg14_src s ON t.k = s.k "
            "WHEN MATCHED AND CASE WHEN s.v > 0 THEN TRUE ELSE FALSE END "
            "THEN UPDATE SET t.v = CASE WHEN s.v > 5 THEN s.v ELSE 0 END, "
            "t.s = s.s"
        )
        got = {r.k: (r.s, r.v) for r in spark.table("mat_test.mg14").collect()}
        # k=1: condition false (v=-5) → unchanged; k=2: v=7>5 → 7.0
        assert got[1] == ("a", 10.0) and got[2] == ("y", 7.0)

    def test_general_merge_drops_temp_views(self, spark, engine):
        self._seed(spark, engine, "mg15")
        spark.createDataFrame(
            [(1, "u", 1.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg15_src")
        before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        engine.execute(
            "MERGE INTO mat_test.mg15 t USING mg15_src s ON t.k = s.k "
            "WHEN MATCHED AND s.v > 0 THEN UPDATE SET t.s = s.s"
        )
        after = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        leaked = {n for n in after - before if n.startswith("__icebreaker_mrg")}
        assert not leaked, leaked

    def test_set_star_case_insensitive_columns(self, spark, engine):
        # source columns in different case than target must satisfy
        # SET * / INSERT * validation (Spark resolves case-insensitively)
        self._seed(spark, engine, "mg16")
        spark.createDataFrame(
            [(2, "B", 22.0), (9, "i", 90.0)], "K int, S string, V double"
        ).createOrReplaceTempView("mg16_src")
        engine.execute(
            "MERGE INTO mat_test.mg16 t USING mg16_src s ON t.k = s.K "
            "WHEN MATCHED AND s.V > 0 THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        got = {r.k: r.s for r in spark.table("mat_test.mg16").collect()}
        assert got[2] == "B" and got[9] == "i"

    def test_non_equi_on_conjunct(self, spark, engine):
        # r5: extra non-equi ON conjuncts ride the general join — the
        # classic only-update-if-newer merge
        self._seed(spark, engine, "mg17")
        spark.createDataFrame(
            [(1, "new", 100.0), (2, "old", 1.0)],
            "k int, s string, v double",
        ).createOrReplaceTempView("mg17_src")
        engine.execute(
            "MERGE INTO mat_test.mg17 t USING mg17_src s "
            "ON t.k = s.k AND s.v > t.v "
            "WHEN MATCHED THEN UPDATE SET t.s = s.s, t.v = s.v"
        )
        got = {r.k: (r.s, r.v) for r in spark.table("mat_test.mg17").collect()}
        # k=1: s.v=100 > t.v=10 → updated; k=2: s.v=1 < 20 → untouched
        assert got[1] == ("new", 100.0) and got[2] == ("b", 20.0)

    def test_non_equi_on_gates_insert_too(self, spark, engine):
        self._seed(spark, engine, "mg18")
        spark.createDataFrame(
            [(2, "x", 0.5), (9, "n", 90.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg18_src")
        engine.execute(
            "MERGE INTO mat_test.mg18 t USING mg18_src s "
            "ON t.k = s.k AND s.v > t.v "
            "WHEN MATCHED THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        rows = spark.table("mat_test.mg18").collect()
        got = {(r.k, r.s, r.v) for r in rows}
        # source k=2 fails the full ON (0.5 < 20) → per Snowflake it is
        # NOT MATCHED: the DELETE must NOT fire on the target row AND
        # the INSERT must fire on the source row — both gated by the
        # full ON, not the equality keys alone
        assert (2, "b", 20.0) in got  # target row survived the DELETE
        assert (2, "x", 0.5) in got   # failed-conjunct source row inserted
        assert (9, "n", 90.0) in got  # plain NOT MATCHED insert
        assert {r.k for r in rows} == {1, 2, 3, 9} and len(rows) == 5

    def test_pure_non_equi_on_refused(self, spark, engine):
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import TranspileError

        self._seed(spark, engine, "mg19")
        # r10: evaluated via the broadcast non-equi path; multi-match
        # (v=10 matches both v=20 and v=30) hits Snowflake's
        # nondeterministic-merge refusal
        with _pytest.raises(TranspileError, match="nondeterministic"):
            engine.execute(
                "MERGE INTO mat_test.mg19 t USING mat_test.mg19 s ON t.v < s.v "
                "WHEN MATCHED THEN DELETE"
            )

    def test_between_in_on_conjunct(self, spark, engine):
        # r5 review: the AND inside BETWEEN…AND must not split the
        # conjunct (the splitter is BETWEEN-aware)
        spark.sql("DROP TABLE IF EXISTS mat_test.mg20")
        spark.createDataFrame(
            [(1, 5.0, 0.0, 10.0), (2, 50.0, 0.0, 10.0)],
            "k int, v double, lo double, hi double",
        ).write.saveAsTable("mat_test.mg20")
        spark.createDataFrame(
            [(1, 7.0), (2, 7.0)], "k int, nv double"
        ).createOrReplaceTempView("mg20_src")
        engine.execute(
            "MERGE INTO mat_test.mg20 t USING mg20_src s "
            "ON t.k = s.k AND t.v BETWEEN t.lo AND t.hi "
            "WHEN MATCHED THEN UPDATE SET t.v = s.nv"
        )
        got = {r.k: r.v for r in spark.table("mat_test.mg20").collect()}
        # k=1: 5 in [0,10] → matched → 7; k=2: 50 outside → untouched
        assert got == {1: 7.0, 2: 50.0}

    def test_case_in_on_conjunct(self, spark, engine):
        # r5 review: a CASE…END in an ON conjunct carries WHEN/AND at
        # depth 0 — neither may terminate the ON scan or split it
        self._seed(spark, engine, "mg21")
        spark.createDataFrame(
            [(1, "hit", 100.0), (2, "miss", 1.0)],
            "k int, s string, v double",
        ).createOrReplaceTempView("mg21_src")
        engine.execute(
            "MERGE INTO mat_test.mg21 t USING mg21_src s ON t.k = s.k "
            "AND CASE WHEN s.v > 50.0 AND t.v < 50.0 THEN TRUE "
            "ELSE FALSE END "
            "WHEN MATCHED THEN UPDATE SET t.s = s.s"
        )
        got = {r.k: r.s for r in spark.table("mat_test.mg21").collect()}
        assert got == {1: "hit", 2: "b", 3: "c"}

    def test_differently_named_equality_rides_as_filter(self, spark, engine):
        # r5 review: t.version = s.expected_version (the
        # optimistic-concurrency idiom) is an extra join filter, not a
        # refused "key columns must have the same name"
        spark.sql("DROP TABLE IF EXISTS mat_test.mg22")
        spark.createDataFrame(
            [(1, 10, "old"), (2, 20, "old")], "id int, version int, s string"
        ).write.saveAsTable("mat_test.mg22")
        spark.createDataFrame(
            [(1, 10, "new"), (2, 99, "new")],
            "id int, expected_version int, s string",
        ).createOrReplaceTempView("mg22_src")
        engine.execute(
            "MERGE INTO mat_test.mg22 t USING mg22_src s "
            "ON t.id = s.id AND t.version = s.expected_version "
            "WHEN MATCHED THEN UPDATE SET t.s = s.s, "
            "t.version = t.version + 1"
        )
        got = {r.id: (r.version, r.s) for r in spark.table("mat_test.mg22").collect()}
        # id=1: version matched → updated+bumped; id=2: stale → untouched
        assert got == {1: (11, "new"), 2: (20, "old")}

    def test_full_table_name_qualifiers_resolve(self, spark, engine):
        # r5 review: db.tbl.col qualifiers in ON extras AND in SET
        # expressions are rewritten to the join aliases (the generated
        # join binds the temp views to aliases only)
        spark.sql("DROP TABLE IF EXISTS mat_test.mg23")
        spark.createDataFrame(
            [(1, 1.0), (2, 5.0)], "k int, v double"
        ).write.saveAsTable("mat_test.mg23")
        spark.sql("DROP TABLE IF EXISTS mat_test.mg23s")
        spark.createDataFrame(
            [(1, 3.0), (2, 3.0)], "k int, v double"
        ).write.saveAsTable("mat_test.mg23s")
        engine.execute(
            "MERGE INTO mat_test.mg23 USING mat_test.mg23s "
            "ON mat_test.mg23.k = mat_test.mg23s.k "
            "AND mat_test.mg23s.v > mat_test.mg23.v "
            "WHEN MATCHED THEN UPDATE SET v = mat_test.mg23s.v"
        )
        got = {r.k: r.v for r in spark.table("mat_test.mg23").collect()}
        assert got == {1: 3.0, 2: 5.0}

    def test_dup_guard_honors_non_equi_conjuncts(self, spark, engine):
        # r5 review: several source rows per key of which at most ONE
        # survives the extra ON conjunct (late-arriving duplicates)
        # must MERGE, not refuse — the guard counts matches per target
        # row under the full ON
        spark.sql("DROP TABLE IF EXISTS mat_test.mg24")
        spark.createDataFrame(
            [(1, "a", 3.0)], "k int, s string, ts double"
        ).write.saveAsTable("mat_test.mg24")
        spark.createDataFrame(
            [(1, "x", 1.0), (1, "y", 9.0)], "k int, s string, ts double"
        ).createOrReplaceTempView("mg24_src")
        engine.execute(
            "MERGE INTO mat_test.mg24 t USING mg24_src s "
            "ON t.k = s.k AND s.ts > t.ts "
            "WHEN MATCHED THEN UPDATE SET t.s = s.s, t.ts = s.ts"
        )
        got = [(r.k, r.s, r.ts) for r in spark.table("mat_test.mg24").collect()]
        assert got == [(1, "y", 9.0)]

    def test_dup_guard_still_refuses_true_duplicates(self, spark, engine):
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import TranspileError

        spark.sql("DROP TABLE IF EXISTS mat_test.mg25")
        spark.createDataFrame(
            [(1, "a", 3.0)], "k int, s string, ts double"
        ).write.saveAsTable("mat_test.mg25")
        spark.createDataFrame(
            [(1, "x", 5.0), (1, "y", 6.0)], "k int, s string, ts double"
        ).createOrReplaceTempView("mg25_src")
        with _pytest.raises(TranspileError, match="nondeterministic"):
            engine.execute(
                "MERGE INTO mat_test.mg25 t USING mg25_src s "
                "ON t.k = s.k AND s.ts > t.ts "
                "WHEN MATCHED THEN UPDATE SET t.s = s.s"
            )

    def test_conditional_snowflake_dialect_condition(self, spark, engine):
        # IFF in the condition proves WHEN conditions transpile too
        self._seed(spark, engine, "mg13")
        spark.createDataFrame(
            [(1, "z", 0.0)], "k int, s string, v double"
        ).createOrReplaceTempView("mg13_src")
        engine.execute(
            "MERGE INTO mat_test.mg13 t USING mg13_src s ON t.k = s.k "
            "WHEN MATCHED AND IFF(s.v = 0, TRUE, FALSE) THEN "
            "UPDATE SET t.s = 'zero'"
        )
        got = {r.k: r.s for r in spark.table("mat_test.mg13").collect()}
        assert got[1] == "zero"


class TestTimeTravel:
    """AT/BEFORE(TIMESTAMP => x) over snapshot tables — rewritten at
    the engine layer onto the SCD2 validity predicate
    (transpiler/time_travel.py; ref snapshot.sql:89-111's interval
    contract). Non-snapshot tables keep the actionable refusal."""

    def _build_history(self, spark, engine, name):
        t1 = datetime.datetime(2026, 1, 1)
        t2 = datetime.datetime(2026, 2, 1)
        spark.sql(f"DROP TABLE IF EXISTS mat_test.{name}")
        engine.run_snapshot(
            name, "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 20",
            unique_key="c_custkey", strategy="check",
            check_cols=["c_acctbal"], now=t1,
        )
        engine.run_snapshot(
            name,
            "SELECT c_custkey, IFF(c_custkey < 5, c_acctbal + 100, c_acctbal) "
            "AS c_acctbal FROM customer WHERE c_custkey < 20",
            unique_key="c_custkey", strategy="check",
            check_cols=["c_acctbal"], now=t2,
        )

    def test_at_timestamp_sees_historic_state(self, spark, engine):
        self._build_history(spark, engine, "tt1")
        old = engine.execute(
            "SELECT c_custkey, c_acctbal FROM mat_test.tt1 "
            "AT(TIMESTAMP => '2026-01-15'::TIMESTAMP) ORDER BY c_custkey"
        ).collect()
        orig = {r.c_custkey: r.c_acctbal for r in spark.sql(
            "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 20"
        ).collect()}
        assert len(old) == 20
        for r in old:  # mid-January: every key shows its ORIGINAL value
            assert abs(r.c_acctbal - orig[r.c_custkey]) < 1e-9

    def test_at_timestamp_sees_current_state(self, spark, engine):
        self._build_history(spark, engine, "tt2")
        now = engine.execute(
            "SELECT c_custkey, c_acctbal FROM mat_test.tt2 "
            "AT(TIMESTAMP => '2026-02-15'::TIMESTAMP)"
        ).collect()
        orig = {r.c_custkey: r.c_acctbal for r in spark.sql(
            "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 20"
        ).collect()}
        assert len(now) == 20
        for r in now:  # post-change keys < 5 show the +100 version
            expect = orig[r.c_custkey] + (100 if r.c_custkey < 5 else 0)
            assert abs(r.c_acctbal - expect) < 1e-9

    def test_before_excludes_boundary_instant(self, spark, engine):
        self._build_history(spark, engine, "tt3")
        # BEFORE(t2) = state just before the second snapshot ran
        before = engine.execute(
            "SELECT c_custkey, c_acctbal FROM mat_test.tt3 "
            "BEFORE(TIMESTAMP => '2026-02-01'::TIMESTAMP)"
        ).collect()
        # AT(t2) = state including the second snapshot
        at = engine.execute(
            "SELECT c_custkey, c_acctbal FROM mat_test.tt3 "
            "AT(TIMESTAMP => '2026-02-01'::TIMESTAMP)"
        ).collect()
        orig = {r.c_custkey: r.c_acctbal for r in spark.sql(
            "SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 20"
        ).collect()}
        got_b = {r.c_custkey: r.c_acctbal for r in before}
        got_a = {r.c_custkey: r.c_acctbal for r in at}
        assert abs(got_b[1] - orig[1]) < 1e-9          # before: original
        assert abs(got_a[1] - (orig[1] + 100)) < 1e-9  # at: updated

    def test_alias_and_join_survive(self, spark, engine):
        self._build_history(spark, engine, "tt4")
        df = engine.execute(
            "SELECT h.c_custkey, h.c_acctbal, c.c_name "
            "FROM mat_test.tt4 AT(TIMESTAMP => '2026-01-15'::TIMESTAMP) h "
            "JOIN customer c ON c.c_custkey = h.c_custkey "
            "WHERE h.c_custkey < 5"
        )
        assert df.count() == 5

    def test_followed_by_join_keyword_gets_alias(self, spark, engine):
        # r5 review: a join keyword (ASOF/JOIN/PIVOT...) after the
        # AT() group is NOT an alias — the implicit alias must still
        # be appended so qualified refs resolve
        self._build_history(spark, engine, "tt5")
        df = engine.execute(
            "SELECT tt5.c_custkey, c.c_name FROM mat_test.tt5 "
            "AT(TIMESTAMP => '2026-01-15'::TIMESTAMP) "
            "JOIN customer c ON c.c_custkey = tt5.c_custkey "
            "WHERE tt5.c_custkey < 3"
        )
        assert df.count() == 3

    def test_quoted_snapshot_table_name(self, spark, engine):
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import TranspileError

        # a "quoted" table name must resolve (here: to the refusal for
        # a non-snapshot table, not an empty-name parse error)
        with _pytest.raises(TranspileError, match="snapshot"):
            engine.execute(
                'SELECT * FROM "customer" '
                "AT(TIMESTAMP => '2026-01-01'::TIMESTAMP)"
            )

    def test_non_snapshot_table_refused(self, spark, engine):
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with _pytest.raises(TranspileError, match="snapshot"):
            engine.execute(
                "SELECT * FROM customer AT(TIMESTAMP => '2026-01-01'::TIMESTAMP)"
            )

    def test_offset_on_non_snapshot_refused(self, spark, engine):
        # r7: OFFSET is now a supported FORM (seconds relative to
        # now), but non-snapshot tables still keep no history
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with _pytest.raises(TranspileError, match="no history"):
            engine.execute("SELECT * FROM customer AT(OFFSET => -3600)")


class TestCreateClone:
    def test_clone_via_engine(self, spark, engine):
        spark.sql("DROP TABLE IF EXISTS mat_test.cl_src")
        spark.createDataFrame([(1, "x"), (2, "y")], "k int, s string").write.saveAsTable(
            "mat_test.cl_src"
        )
        engine.execute("CREATE OR REPLACE TABLE mat_test.cl_dst CLONE mat_test.cl_src")
        assert spark.table("mat_test.cl_dst").count() == 2
        # re-clone replaces, not appends
        engine.execute("CREATE OR REPLACE TABLE mat_test.cl_dst CLONE mat_test.cl_src")
        assert spark.table("mat_test.cl_dst").count() == 2

    def test_time_travel_clone_refused(self, spark, engine):
        import pytest as _pytest

        with _pytest.raises(Exception, match="[Tt]ime.travel"):
            engine.execute(
                "CREATE TABLE c2 CLONE src AT (TIMESTAMP => '2024-01-01'::TIMESTAMP)"
            )


class TestDeleteUpdateStatements:
    """DELETE FROM / UPDATE on parquet tables via the staged rewrite
    (same machinery as MERGE INTO; Spark parquet has no row-level DML)."""

    def _seed(self, spark, name):
        spark.sql(f"DROP TABLE IF EXISTS mat_test.{name}")
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0), (4, "d", 40.0)],
            "k int, s string, v double",
        ).write.saveAsTable(f"mat_test.{name}")

    def test_delete_where(self, spark, engine):
        self._seed(spark, "dm1")
        res = engine.execute("DELETE FROM mat_test.dm1 WHERE v > 25").collect()
        assert res[0].rows_affected == 2
        assert {r.k for r in spark.table("mat_test.dm1").collect()} == {1, 2}

    def test_delete_null_predicate_keeps_row(self, spark, engine):
        # SQL DELETE removes only TRUE matches; NULL predicate rows stay
        self._seed(spark, "dm2")
        engine.execute("DELETE FROM mat_test.dm2 WHERE s = 'a'")
        assert {r.k for r in spark.table("mat_test.dm2").collect()} == {2, 3, 4}

    def test_delete_all(self, spark, engine):
        self._seed(spark, "dm3")
        res = engine.execute("DELETE FROM mat_test.dm3").collect()
        assert res[0].rows_affected == 4
        assert spark.table("mat_test.dm3").count() == 0
        # schema preserved
        assert [f.name for f in spark.table("mat_test.dm3").schema.fields] == ["k", "s", "v"]

    def test_update_where_pre_update_semantics(self, spark, engine):
        self._seed(spark, "dm4")
        # both RHS reference pre-update values: v doubles AND s sees old v
        res = engine.execute(
            "UPDATE mat_test.dm4 SET v = v * 2, s = IFF(v > 15, 'hi', 'lo') "
            "WHERE k IN (1, 2)"
        ).collect()
        assert res[0].rows_affected == 2
        got = {r.k: (r.s, r.v) for r in spark.table("mat_test.dm4").collect()}
        assert got[1] == ("lo", 20.0)  # old v=10 → 'lo', v→20
        assert got[2] == ("hi", 40.0)  # old v=20 → 'hi', v→40
        assert got[3] == (None, 30.0)  # untouched
        assert got[4] == ("d", 40.0)

    def test_update_all_rows(self, spark, engine):
        self._seed(spark, "dm5")
        engine.execute("UPDATE mat_test.dm5 SET v = 0")
        assert {r.v for r in spark.table("mat_test.dm5").collect()} == {0.0}

    def test_join_shaped_dml_refused(self, spark, engine):
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import TranspileError

        self._seed(spark, "dm6")
        with _pytest.raises(TranspileError, match="MERGE INTO"):
            engine.execute("DELETE FROM mat_test.dm6 USING src WHERE dm6.k = src.k")
        # UPDATE ... FROM is SUPPORTED since round 6 (lowered onto the
        # general merge) — see TestUpdateFromAndCreateLike
        with _pytest.raises(TranspileError, match="unknown column"):
            engine.execute("UPDATE mat_test.dm6 SET nope = 1")

    def test_delete_with_alias_qualified_predicate(self, spark, engine):
        # user alias must be honored, not hard-coded 't'
        self._seed(spark, "dm7")
        res = engine.execute("DELETE FROM mat_test.dm7 x WHERE x.v > 25").collect()
        assert res[0].rows_affected == 2
        assert {r.k for r in spark.table("mat_test.dm7").collect()} == {1, 2}

    def test_delete_table_name_qualified_predicate(self, spark, engine):
        # no alias: the table's last name part qualifies (like UPDATE)
        self._seed(spark, "dm8")
        engine.execute("DELETE FROM mat_test.dm8 WHERE dm8.k = 1")
        assert {r.k for r in spark.table("mat_test.dm8").collect()} == {2, 3, 4}

    def test_delete_as_alias(self, spark, engine):
        # review fix: `DELETE FROM t AS x WHERE ...` once captured
        # alias='AS', silently swallowed the WHERE, and wiped the
        # whole table — the worst possible failure mode
        self._seed(spark, "dm9")
        res = engine.execute(
            "DELETE FROM mat_test.dm9 AS x WHERE x.v > 25"
        ).collect()
        assert res[0].rows_affected == 2
        assert {r.k for r in spark.table("mat_test.dm9").collect()} == {1, 2}

    def test_delete_quoted_alias(self, spark, engine):
        # r4 advisor fix: a "quoted" alias was spliced with the quotes
        # intact, which Spark parses as a string literal, not an alias
        self._seed(spark, "dm12")
        res = engine.execute(
            'DELETE FROM mat_test.dm12 AS "x" WHERE "x".v > 25'
        ).collect()
        assert res[0].rows_affected == 2
        assert {r.k for r in spark.table("mat_test.dm12").collect()} == {1, 2}

    def test_update_quoted_alias(self, spark, engine):
        self._seed(spark, "dm13")
        engine.execute('UPDATE mat_test.dm13 "u" SET v = 0 WHERE "u".k = 1')
        got = {r.k: r.v for r in spark.table("mat_test.dm13").collect()}
        assert got[1] == 0.0 and got[2] == 20.0

    def test_delete_unexpected_tokens_error_not_delete_all(self, spark, engine):
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import TranspileError

        self._seed(spark, "dm10")
        # garbage between alias and WHERE must be a hard error, never
        # a silent unconditional delete
        with _pytest.raises(TranspileError, match="unexpected token"):
            engine.execute("DELETE FROM mat_test.dm10 x y WHERE x.v > 25")
        assert spark.table("mat_test.dm10").count() == 4  # untouched

    def test_update_as_alias(self, spark, engine):
        self._seed(spark, "dm11")
        engine.execute("UPDATE mat_test.dm11 AS u SET v = 0 WHERE u.k = 1")
        got = {r.k: r.v for r in spark.table("mat_test.dm11").collect()}
        assert got[1] == 0.0 and got[2] == 20.0

    def test_constant_predicates_count_rows(self, spark, engine):
        # the count is a flag observed on the write; a constant-true
        # predicate must not fold the DELETE filter away with it
        self._seed(spark, "dm14")
        res = engine.execute("DELETE FROM mat_test.dm14 WHERE 1 = 1").collect()
        assert res[0].rows_affected == 4
        assert spark.table("mat_test.dm14").count() == 0
        self._seed(spark, "dm15")
        res = engine.execute("DELETE FROM mat_test.dm15 WHERE 1 = 0").collect()
        assert res[0].rows_affected == 0
        assert spark.table("mat_test.dm15").count() == 4
        res = engine.execute("UPDATE mat_test.dm15 SET v = 1 WHERE TRUE").collect()
        assert res[0].rows_affected == 4

    def test_dml_leaves_no_temp_views(self, spark, engine):
        self._seed(spark, "dm16")
        spark.createDataFrame(
            [(1, "x", 1.0)], "k int, s string, v double"
        ).createOrReplaceTempView("dm16_src")
        before = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        for stmt in (
            "DELETE FROM mat_test.dm16 WHERE k = 4",
            "DELETE FROM mat_test.dm16",
            "UPDATE mat_test.dm16 SET v = 0 WHERE k = 1",
            "UPDATE mat_test.dm16 t SET v = s.v FROM dm16_src s WHERE t.k = s.k",
            "MERGE INTO mat_test.dm16 t USING dm16_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            "MERGE INTO mat_test.dm16 t USING dm16_src s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT *",
        ):
            engine.execute(stmt)
        after = {t.name for t in spark.catalog.listTables() if t.isTemporary}
        leaked = {n for n in after - before if n.startswith("__icebreaker_")}
        assert not leaked, leaked


class TestDynamicPivot:
    """Snowflake dynamic PIVOT: the engine enumerates pivot values on
    the live session (ANY / subquery forms) before Spark plans the
    ordinary PIVOT."""

    def _seed(self, spark):
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW piv_sales AS SELECT * FROM VALUES "
            "('east', 'q1', 10), ('east', 'q2', 20), "
            "('west', 'q1', 5), ('west', 'q3', 8) t(region, quarter, amt)"
        )

    def test_any_enumerates_sorted(self, spark, engine):
        self._seed(spark)
        df = engine.execute(
            "SELECT * FROM (SELECT region, quarter, amt FROM piv_sales) "
            "PIVOT (SUM(amt) FOR quarter IN (ANY)) ORDER BY region"
        )
        assert df.columns == ["region", "q1", "q2", "q3"]
        rows = {r.region: (r.q1, r.q2, r.q3) for r in df.collect()}
        assert rows == {"east": (10, 20, None), "west": (5, None, 8)}

    def test_any_with_order_by(self, spark, engine):
        self._seed(spark)
        df = engine.execute(
            "SELECT * FROM (SELECT region, quarter, amt FROM piv_sales) "
            "PIVOT (SUM(amt) FOR quarter IN (ANY ORDER BY quarter))"
        )
        assert df.columns == ["region", "q1", "q2", "q3"]

    def test_subquery_value_list(self, spark, engine):
        self._seed(spark)
        df = engine.execute(
            "SELECT * FROM (SELECT region, quarter, amt FROM piv_sales) "
            "PIVOT (SUM(amt) FOR quarter IN "
            "(SELECT DISTINCT quarter FROM piv_sales WHERE quarter <> 'q3'))"
        )
        assert sorted(df.columns) == ["q1", "q2", "region"]

    def test_static_pivot_untouched(self, spark, engine):
        self._seed(spark)
        df = engine.execute(
            "SELECT * FROM (SELECT region, quarter, amt FROM piv_sales) "
            "PIVOT (SUM(amt) FOR quarter IN ('q1', 'q2'))"
        )
        assert df.columns == ["region", "q1", "q2"]

    def test_cte_source(self, spark, engine):
        # review fix: the enumeration probe must carry the statement's
        # WITH clause so CTE-defined pivot sources resolve
        self._seed(spark)
        df = engine.execute(
            "WITH c AS (SELECT region, quarter, amt FROM piv_sales) "
            "SELECT * FROM c PIVOT (SUM(amt) FOR quarter IN (ANY)) "
            "ORDER BY region"
        )
        assert df.columns == ["region", "q1", "q2", "q3"]

    def test_any_order_by_desc_honored(self, spark, engine):
        self._seed(spark)
        df = engine.execute(
            "SELECT * FROM (SELECT region, quarter, amt FROM piv_sales) "
            "PIVOT (SUM(amt) FOR quarter IN (ANY ORDER BY quarter DESC))"
        )
        assert df.columns == ["region", "q3", "q2", "q1"]

    def test_unordered_subquery_columns_stable(self, spark, engine):
        # subquery without ORDER BY: literals sorted so column order
        # cannot vary run to run
        self._seed(spark)
        df = engine.execute(
            "SELECT * FROM (SELECT region, quarter, amt FROM piv_sales) "
            "PIVOT (SUM(amt) FOR quarter IN "
            "(SELECT DISTINCT quarter FROM piv_sales))"
        )
        assert df.columns == ["region", "q1", "q2", "q3"]

    def test_empty_enumeration_actionable(self, spark, engine):
        import pytest as _pytest

        self._seed(spark)
        with _pytest.raises(ValueError, match="no non-NULL values"):
            engine.execute(
                "SELECT * FROM (SELECT region, quarter, amt FROM piv_sales "
                "WHERE quarter = 'nope') "
                "PIVOT (SUM(amt) FOR quarter IN (ANY))"
            )

    def test_aliased_subquery_source(self, spark, engine):
        # r4 judge repro: `(SELECT …) s PIVOT(… IN (ANY))` probed
        # `SELECT DISTINCT k FROM s` against the nonexistent alias
        self._seed(spark)
        df = engine.execute(
            "SELECT * FROM (SELECT region, quarter, amt FROM piv_sales) s "
            "PIVOT (SUM(amt) FOR quarter IN (ANY)) ORDER BY region"
        )
        assert df.columns == ["region", "q1", "q2", "q3"]
        rows = {r.region: (r.q1, r.q2, r.q3) for r in df.collect()}
        assert rows == {"east": (10, 20, None), "west": (5, None, 8)}

    def test_aliased_subquery_source_with_as(self, spark, engine):
        self._seed(spark)
        df = engine.execute(
            "SELECT * FROM (SELECT region, quarter, amt FROM piv_sales) "
            "AS s PIVOT (SUM(amt) FOR quarter IN (ANY)) ORDER BY region"
        )
        assert df.columns == ["region", "q1", "q2", "q3"]

    def test_aliased_subquery_in_subquery_list(self, spark, engine):
        self._seed(spark)
        df = engine.execute(
            "SELECT * FROM (SELECT region, quarter, amt FROM piv_sales) s "
            "PIVOT (SUM(amt) FOR quarter IN "
            "(SELECT DISTINCT quarter FROM piv_sales WHERE quarter <> 'q3'))"
        )
        assert sorted(df.columns) == ["q1", "q2", "region"]

    def test_aliased_named_table_source(self, spark, engine):
        self._seed(spark)
        df = engine.execute(
            "SELECT * FROM piv_sales AS s "
            "PIVOT (SUM(amt) FOR quarter IN (ANY)) ORDER BY region"
        )
        assert df.columns == ["region", "q1", "q2", "q3"]

    def test_bare_aliased_named_table_source(self, spark, engine):
        # r5 review: `t s PIVOT` (no AS) probed `FROM s`
        self._seed(spark)
        df = engine.execute(
            "SELECT * FROM piv_sales s "
            "PIVOT (SUM(amt) FOR quarter IN (ANY)) ORDER BY region"
        )
        assert df.columns == ["region", "q1", "q2", "q3"]


class TestCreateFunctionStatement:
    """Snowflake CREATE FUNCTION → Spark SQL UDF (transpiler
    statement rewrite; Spark 4 SQL-UDF RETURN syntax). Session-scoped
    (TEMPORARY) like the engine's temp-table handling."""

    def test_scalar_udf_roundtrip(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE FUNCTION cfs_dbl(x NUMBER) "
            "RETURNS NUMBER AS 'x * 2'"
        )
        got = engine.execute("SELECT cfs_dbl(21) AS r").collect()[0].r
        assert int(got) == 42

    def test_body_transpiles_snowflake_dialect(self, spark, engine):
        # IFF + '' escapes inside the quoted body
        engine.execute(
            "CREATE OR REPLACE FUNCTION cfs_gr(s VARCHAR) RETURNS VARCHAR "
            "LANGUAGE SQL IMMUTABLE AS 'IFF(s IS NULL, ''anon'', s)'"
        )
        rows = engine.execute(
            "SELECT cfs_gr(NULL) AS a, cfs_gr('bob') AS b"
        ).collect()[0]
        assert (rows.a, rows.b) == ("anon", "bob")

    def test_dollar_quoted_body(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE FUNCTION cfs_area(r DOUBLE) RETURNS DOUBLE "
            "AS $$ 3.141592653589793 * r * r $$"
        )
        got = engine.execute("SELECT cfs_area(2.0) AS r").collect()[0].r
        assert abs(got - 12.566370614359172) < 1e-12

    def test_table_udf_via_table_wrapper(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE FUNCTION cfs_seq(n INT) "
            "RETURNS TABLE (v INT) AS "
            "'SELECT EXPLODE(SEQUENCE(1, n))'"
        )
        got = engine.execute(
            "SELECT v FROM TABLE(cfs_seq(3)) ORDER BY v"
        ).collect()
        assert [r.v for r in got] == [1, 2, 3]

    def test_array_typed_parameter(self, spark, engine):
        # ARRAY<BIGINT> — the spelling the old error message suggested —
        # must itself be accepted
        engine.execute(
            "CREATE OR REPLACE FUNCTION cfs_arr(a ARRAY<BIGINT>) "
            "RETURNS BIGINT AS 'a[0]'"
        )
        got = engine.execute(
            "SELECT cfs_arr(ARRAY_CONSTRUCT(7, 8)) AS r"
        ).collect()[0]
        assert got.r == 7

    def test_javascript_refused(self, spark, engine):
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with _pytest.raises(TranspileError, match="LANGUAGE JAVASCRIPT"):
            engine.execute(
                "CREATE FUNCTION cfs_js() RETURNS VARCHAR "
                "LANGUAGE JAVASCRIPT AS 'return 1'"
            )

    def test_sequences_supported_via_engine(self, spark, engine):
        # r11: CREATE SEQUENCE graduated from refusal to a session
        # registry — the engine path works end to end; the BARE
        # transpiler still refuses with a pointer at the engine
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import (
            TranspileError,
            Transpiler,
        )

        engine.execute("CREATE SEQUENCE cfs_s1")
        vals = [engine.execute("SELECT cfs_s1.NEXTVAL AS v")
                .collect()[0][0] for _ in range(3)]
        assert vals == [1, 2, 3]
        engine.execute("DROP SEQUENCE cfs_s1")
        with _pytest.raises(TranspileError, match="IcebreakerEngine"):
            Transpiler().to_spark("CREATE SEQUENCE bare_s")
        with _pytest.raises(TranspileError, match="NEXTVAL"):
            Transpiler().to_spark("SELECT bare_s.NEXTVAL")


class TestCreateOrReplaceTableStatement:
    """CREATE OR REPLACE TABLE lowered onto the overwrite staged swap
    (create_table.py) — Spark's native REPLACE TABLE needs DSv2."""

    def test_ctas_replaces(self, spark, engine):
        spark.sql("DROP TABLE IF EXISTS mat_test.cort1")
        engine.execute("CREATE OR REPLACE TABLE mat_test.cort1 AS SELECT 1 AS a")
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.cort1 AS SELECT 2 AS a, 3 AS b"
        )
        rows = spark.table("mat_test.cort1").collect()
        assert [(r.a, r.b) for r in rows] == [(2, 3)]

    def test_plain_create_table_still_native(self, spark, engine):
        spark.sql("DROP TABLE IF EXISTS mat_test.cort2")
        engine.execute("CREATE TABLE mat_test.cort2 AS SELECT 7 AS a")
        assert spark.table("mat_test.cort2").collect()[0].a == 7

    def test_column_defs_map_snowflake_types(self, spark, engine):
        spark.sql("DROP TABLE IF EXISTS mat_test.cort3")
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.cort3 "
            "(k NUMBER, s VARCHAR, v VARIANT)"
        )
        dt = {f.name: f.dataType.simpleString()
              for f in spark.table("mat_test.cort3").schema.fields}
        assert dt == {"k": "decimal(38,0)", "s": "string", "v": "string"}

    def test_column_defs_with_ctas_apply_names_and_types(self, spark, engine):
        # the dbt contract-enforcement spelling: declared list renames
        # AND casts the select's columns positionally
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.cort5 (x BIGINT, y VARCHAR) "
            "AS SELECT 1 AS a, 2 AS b"
        )
        dt = {f.name: f.dataType.simpleString()
              for f in spark.table("mat_test.cort5").schema.fields}
        assert dt == {"x": "bigint", "y": "string"}
        r = spark.table("mat_test.cort5").collect()[0]
        assert (r.x, r.y) == (1, "2")

    def test_column_defs_arity_mismatch_raises(self, spark, engine):
        with pytest.raises(ValueError, match="declared column"):
            engine.execute(
                "CREATE OR REPLACE TABLE mat_test.cort6 (x BIGINT) "
                "AS SELECT 1 AS a, 2 AS b"
            )

    def test_replace_reads_from_itself(self, spark, engine):
        # the Snowflake rebuild-in-place pattern must not hit Spark's
        # cannot-overwrite-a-table-being-read-from error
        engine.execute("CREATE OR REPLACE TABLE mat_test.cort7 AS SELECT 1 AS a")
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.cort7 "
            "AS SELECT a + 1 AS a FROM mat_test.cort7"
        )
        assert spark.table("mat_test.cort7").collect()[0].a == 2

    def test_bare_array_column_type(self, spark, engine):
        # bare ARRAY column follows the JSON-string model like VARIANT
        engine.execute("CREATE OR REPLACE TABLE mat_test.cort8 (v ARRAY)")
        dt = {f.name: f.dataType.simpleString()
              for f in spark.table("mat_test.cort8").schema.fields}
        assert dt == {"v": "string"}

    def test_cluster_by_narrows_file_ranges(self, spark, engine):
        import glob

        import pyarrow.parquet as pq

        spark.sql("DROP TABLE IF EXISTS mat_test.cort4")
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.cort4 CLUSTER BY (o_custkey) "
            "AS SELECT * FROM orders"
        )
        from dbt_icebreaker_spark.materializations.maintenance import (
            table_location,
        )

        loc = table_location(spark, "mat_test.cort4")
        files = glob.glob(loc + "/*.parquet")
        spans = []
        for f in files:
            md = pq.read_metadata(f)
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == "o_custkey" and col.statistics:
                        spans.append(
                            (col.statistics.min, col.statistics.max)
                        )
        # range layout → files cover narrow, mostly disjoint key ranges
        assert len(spans) >= 2
        spans.sort()
        overlaps = sum(
            1 for a, b in zip(spans, spans[1:]) if b[0] < a[1]
        )
        assert overlaps <= len(spans) // 4, spans[:8]


class TestStatementSurface:
    """Round-5 continuation statement battery: Snowflake spellings of
    INSERT OVERWRITE / TRUNCATE / SWAP WITH / GRANT / session
    variables / multi-table INSERT ALL|FIRST through the engine."""

    def test_insert_overwrite_into(self, spark, engine):
        spark.sql("DROP TABLE IF EXISTS mat_test.ss1")
        engine.execute("CREATE OR REPLACE TABLE mat_test.ss1 AS SELECT 1 AS k")
        engine.execute("INSERT OVERWRITE INTO mat_test.ss1 SELECT 99 AS k")
        assert [r.k for r in spark.table("mat_test.ss1").collect()] == [99]

    def test_bare_truncate(self, spark, engine):
        engine.execute("CREATE OR REPLACE TABLE mat_test.ss2 AS SELECT 1 AS k")
        engine.execute("TRUNCATE mat_test.ss2")
        assert spark.table("mat_test.ss2").count() == 0

    def test_swap_with(self, spark, engine):
        engine.execute("CREATE OR REPLACE TABLE mat_test.ss3a AS SELECT 1 AS k")
        engine.execute("CREATE OR REPLACE TABLE mat_test.ss3b AS SELECT 2 AS k")
        engine.execute("ALTER TABLE mat_test.ss3a SWAP WITH mat_test.ss3b")
        assert spark.table("mat_test.ss3a").collect()[0].k == 2
        assert spark.table("mat_test.ss3b").collect()[0].k == 1

    def test_grant_revoke_noop(self, spark, engine):
        r = engine.execute(
            "GRANT SELECT ON TABLE mat_test.ss3a TO ROLE analyst"
        ).collect()[0]
        assert r.statement == "grant" and "noop" in r.status
        r = engine.execute(
            "REVOKE SELECT ON TABLE mat_test.ss3a FROM ROLE analyst"
        ).collect()[0]
        assert r.statement == "revoke"

    def test_session_variables(self, spark, engine):
        engine.execute("SET ssv_n = 40 + 2")
        engine.execute("SET ssv_s = 'bob'")
        row = engine.execute(
            "SELECT $ssv_n AS n, $ssv_s || '!' AS g, $SSV_N + 1 AS n1"
        ).collect()[0]
        assert (row.n, row.g, row.n1) == (42, "bob!", 43)
        engine.execute("UNSET ssv_n")
        import pytest as _pytest

        with _pytest.raises(Exception):
            engine.execute("SELECT $ssv_n AS n")

    def test_result_scan_last_query_id(self, spark, engine):
        engine.execute("SELECT 1 AS a UNION ALL SELECT 2")
        got = sorted(
            r.a for r in engine.execute(
                "SELECT a FROM TABLE(RESULT_SCAN(LAST_QUERY_ID()))"
            ).collect()
        )
        assert got == [1, 2]

    def test_result_scan_negative_index_and_qid(self, spark, engine):
        engine.execute("SELECT 10 AS v")
        engine.execute("SELECT 20 AS v")
        got = engine.execute(
            "SELECT v FROM TABLE(RESULT_SCAN(LAST_QUERY_ID(-2)))"
        ).collect()[0].v
        assert got == 10
        qid = engine.last_query_id()
        got2 = engine.execute(
            f"SELECT v * 3 AS t FROM RESULT_SCAN('{qid}')"
        ).collect()[0].t
        assert got2 == 30

    def test_result_scan_in_multi_statement_script(self, spark, engine):
        # intermediate statements of one script get query ids too
        got = engine.execute(
            "SELECT 42 AS k; "
            "SELECT k + 1 AS k2 FROM TABLE(RESULT_SCAN(LAST_QUERY_ID()))"
        ).collect()[0].k2
        assert got == 43

    def test_result_scan_unknown_qid_actionable(self, spark, engine):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="unknown query id"):
            engine.execute("SELECT * FROM TABLE(RESULT_SCAN('nope'))")

    def test_execute_immediate_bind_not_matched_in_literal(self, spark, engine):
        # a '?' inside a string literal is not a placeholder, and a '?'
        # inside a substituted bind value must not consume later binds
        r = engine.execute(
            "EXECUTE IMMEDIATE 'SELECT ''who?'' AS a, ? AS b' USING (5)"
        ).collect()[0]
        assert (r.a, r.b) == ("who?", 5)
        r2 = engine.execute(
            "EXECUTE IMMEDIATE 'SELECT ? AS a, ? AS b' USING ('a?', 'b')"
        ).collect()[0]
        assert (r2.a, r2.b) == ("a?", "b")

    def test_execute_immediate_forms(self, spark, engine):
        assert engine.execute(
            "EXECUTE IMMEDIATE 'SELECT 5 AS z'"
        ).collect()[0].z == 5
        # $$ block with Snowflake dialect inside; '' escapes
        assert engine.execute(
            "EXECUTE IMMEDIATE $$SELECT IFF(TRUE, 'y', 'n') AS f$$"
        ).collect()[0].f == "y"
        assert engine.execute(
            "EXECUTE IMMEDIATE 'SELECT ''a;b'' AS t'"
        ).collect()[0].t == "a;b"
        # positional ? binds
        assert engine.execute(
            "EXECUTE IMMEDIATE 'SELECT ? + ? AS s' USING (3, 4)"
        ).collect()[0].s == 7
        # via session variable
        engine.execute("SET q_ei = 'SELECT 9 AS n'")
        assert engine.execute("EXECUTE IMMEDIATE $q_ei").collect()[0].n == 9
        engine.execute("UNSET q_ei")

    def test_date_subtraction_returns_day_count(self, spark, engine):
        # Snowflake has no interval output type: DATE - DATE is an
        # integer day count; the engine coerces pure-DAY interval
        # result columns. Timestamp arithmetic keeps its interval.
        r = engine.execute(
            "SELECT '2024-01-10'::DATE - '2024-01-03'::DATE AS d"
        ).collect()[0]
        assert r.d == 7 and isinstance(r.d, int)
        import datetime as _dt

        r2 = engine.execute(
            "SELECT '2024-01-10 01:00'::TIMESTAMP - "
            "'2024-01-10 00:00'::TIMESTAMP AS i"
        ).collect()[0]
        assert isinstance(r2.i, _dt.timedelta)
        # duplicate column names + backticky identifiers survive the
        # rebuild (positional, not by-name); nesting coerces too
        r3 = engine.execute(
            "SELECT x.a AS n, y.a AS n, x.d - y.d AS gap FROM "
            "(SELECT 1 AS a, '2024-01-10'::DATE AS d) x JOIN "
            "(SELECT 1 AS a, '2024-01-03'::DATE AS d) y ON x.a = y.a"
        ).collect()[0]
        assert r3.gap == 7
        r4 = engine.execute(
            "SELECT ARRAY_CONSTRUCT("
            "'2024-01-10'::DATE - '2024-01-03'::DATE) AS a"
        ).collect()[0]
        assert r4.a == [7]

    def test_session_variable_backslash_roundtrip(self, spark, engine):
        # a stored backslash must survive re-substitution — Spark's
        # escaped string literals would eat an un-doubled '\n'
        engine.execute("SET ssv_bs = (SELECT 'C:' || CHAR(92) || 'new')")
        got = engine.execute("SELECT $ssv_bs AS v").collect()[0].v
        assert got == "C:\\new"
        engine.execute("UNSET ssv_bs")

    def test_spark_conf_set_untouched(self, spark, engine):
        # dotted names stay Spark conf statements
        engine.execute("SET spark.sql.cbo.enabled = false")
        assert spark.conf.get("spark.sql.cbo.enabled") == "false"

    def _mk_sinks(self, spark, engine, *names):
        for n in names:
            engine.execute(
                f"CREATE OR REPLACE TABLE mat_test.{n} "
                "AS SELECT CAST(0 AS INT) AS k WHERE 1 = 0"
            )

    def test_insert_all_conditional(self, spark, engine):
        self._mk_sinks(spark, engine, "ss_hi", "ss_lo")
        r = engine.execute(
            "INSERT ALL "
            "WHEN v > 20 THEN INTO mat_test.ss_hi (k) VALUES (i) "
            "ELSE INTO mat_test.ss_lo (k) VALUES (i) "
            "SELECT id AS i, id * 10 AS v FROM RANGE(5)"
        ).collect()[0]
        hi = sorted(x.k for x in spark.table("mat_test.ss_hi").collect())
        lo = sorted(x.k for x in spark.table("mat_test.ss_lo").collect())
        assert hi == [3, 4] and lo == [0, 1, 2]
        assert r.rows_affected == 5

    def test_insert_first_stops_at_first_match(self, spark, engine):
        self._mk_sinks(spark, engine, "ss_f1", "ss_f2")
        engine.execute(
            "INSERT FIRST "
            "WHEN i >= 2 THEN INTO mat_test.ss_f1 (k) VALUES (i) "
            "WHEN i >= 0 THEN INTO mat_test.ss_f2 (k) VALUES (i) "
            "SELECT id AS i FROM RANGE(4)"
        )
        f1 = sorted(x.k for x in spark.table("mat_test.ss_f1").collect())
        f2 = sorted(x.k for x in spark.table("mat_test.ss_f2").collect())
        # ALL would put 2,3 in BOTH; FIRST must route each row once
        assert f1 == [2, 3] and f2 == [0, 1]

    def test_insert_all_unconditional_multi_into(self, spark, engine):
        self._mk_sinks(spark, engine, "ss_m")
        engine.execute(
            "INSERT ALL INTO mat_test.ss_m (k) VALUES (i) "
            "INTO mat_test.ss_m (k) VALUES (i + 100) "
            "SELECT id AS i FROM RANGE(3)"
        )
        got = sorted(x.k for x in spark.table("mat_test.ss_m").collect())
        assert got == [0, 1, 2, 100, 101, 102]

    def test_insert_overwrite_all_truncates_targets(self, spark, engine):
        self._mk_sinks(spark, engine, "ss_o")
        engine.execute("INSERT INTO mat_test.ss_o VALUES (777)")
        engine.execute(
            "INSERT OVERWRITE ALL INTO mat_test.ss_o (k) VALUES (i) "
            "SELECT id AS i FROM RANGE(2)"
        )
        got = sorted(x.k for x in spark.table("mat_test.ss_o").collect())
        assert got == [0, 1]  # 777 gone

    def test_insert_overwrite_source_reads_target(self, spark, engine):
        # Snowflake evaluates the subquery against PRE-truncate data;
        # a lazy source would scan after TRUNCATE and lose everything
        self._mk_sinks(spark, engine, "ss_s")
        engine.execute("INSERT INTO mat_test.ss_s VALUES (1), (2)")
        engine.execute(
            "INSERT OVERWRITE ALL INTO mat_test.ss_s (k) VALUES (k + 10) "
            "SELECT k FROM mat_test.ss_s"
        )
        got = sorted(x.k for x in spark.table("mat_test.ss_s").collect())
        assert got == [11, 12]

    def test_insert_first_null_condition_routes_to_else(self, spark, engine):
        # a NULL WHEN condition 'does not evaluate to true': it must
        # neither fire its branch nor poison the ELSE filter
        self._mk_sinks(spark, engine, "ss_n1", "ss_n2")
        engine.execute(
            "INSERT FIRST "
            "WHEN v > 10 THEN INTO mat_test.ss_n1 (k) VALUES (i) "
            "ELSE INTO mat_test.ss_n2 (k) VALUES (i) "
            "SELECT id AS i, "
            "CASE WHEN id = 1 THEN NULL ELSE id * 20 END AS v "
            "FROM RANGE(3)"
        )
        n1 = sorted(x.k for x in spark.table("mat_test.ss_n1").collect())
        n2 = sorted(x.k for x in spark.table("mat_test.ss_n2").collect())
        assert n1 == [2] and n2 == [0, 1]  # id=1 (NULL cond) → ELSE

    def test_insert_first_duplicate_condition_text(self, spark, engine):
        # two WHENs with identical text are distinct clauses — under
        # FIRST only the earlier fires (dedup-by-text fanned out both)
        self._mk_sinks(spark, engine, "ss_d1", "ss_d2")
        engine.execute(
            "INSERT FIRST "
            "WHEN i >= 0 THEN INTO mat_test.ss_d1 (k) VALUES (i) "
            "WHEN i >= 0 THEN INTO mat_test.ss_d2 (k) VALUES (i) "
            "SELECT id AS i FROM RANGE(3)"
        )
        d1 = sorted(x.k for x in spark.table("mat_test.ss_d1").collect())
        d2 = [x.k for x in spark.table("mat_test.ss_d2").collect()]
        assert d1 == [0, 1, 2] and d2 == []


class TestFlattenJsonColumnRetry:
    """FLATTEN over a JSON-text COLUMN (not a static literal): the
    engine retries the exact posexplode-STRING analysis error with the
    T37 from_json wrap — plain-array columns never retry."""

    def test_json_string_column_flattens(self, spark, engine):
        rows = engine.execute(
            "SELECT t.x, f.value::INT AS v FROM "
            "(SELECT 1 AS x, PARSE_JSON('[5,6]') AS arr) t, "
            "LATERAL FLATTEN(input => t.arr) f"
        ).collect()
        assert sorted((r.x, r.v) for r in rows) == [(1, 5), (1, 6)]

    def test_native_array_column_unaffected(self, spark, engine):
        rows = engine.execute(
            "SELECT f.value FROM (SELECT ARRAY_CONSTRUCT(1,2) AS a) t, "
            "LATERAL FLATTEN(input => t.a) f"
        ).collect()
        assert sorted(r.value for r in rows) == [1, 2]

    def test_mixed_json_text_and_native_array(self, spark, engine):
        # r5 review: wrapping must hit ONLY the STRING site — a
        # statement mixing a JSON-text FLATTEN with a native-array
        # FLATTEN retries per-site (wrapping the native array would
        # itself fail analysis and previously re-raised the original)
        import json as _json

        spark.createDataFrame(
            [(_json.dumps(["a", "b"]), ["x", "y"])],
            "jt string, na array<string>",
        ).createOrReplaceTempView("mixed_flat_src")
        rows = engine.execute(
            "SELECT f1.value AS v1, f2.value AS v2 FROM mixed_flat_src, "
            "LATERAL FLATTEN(input => jt) f1, "
            "LATERAL FLATTEN(input => na) f2"
        ).collect()
        assert sorted((r.v1, r.v2) for r in rows) == [
            ("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"),
        ]

    def test_unrelated_errors_still_raise(self, spark, engine):
        import pytest as _pytest

        with _pytest.raises(Exception, match="nope_col|UNRESOLVED"):
            engine.execute("SELECT nope_col FROM (SELECT 1 AS x)")


class TestAlterColumnsAndTransactions:
    def test_rename_column_staged(self, spark, engine):
        spark.sql("DROP TABLE IF EXISTS mat_test.ac1")
        spark.createDataFrame([(1, "a")], "k int, s string").write.saveAsTable(
            "mat_test.ac1"
        )
        engine.execute("ALTER TABLE mat_test.ac1 RENAME COLUMN s TO label")
        t = spark.table("mat_test.ac1")
        assert [f.name for f in t.schema.fields] == ["k", "label"]
        assert t.collect()[0].label == "a"

    def test_drop_columns_staged(self, spark, engine):
        spark.sql("DROP TABLE IF EXISTS mat_test.ac2")
        spark.createDataFrame(
            [(1, "a", 2.0)], "k int, s string, v double"
        ).write.saveAsTable("mat_test.ac2")
        engine.execute("ALTER TABLE mat_test.ac2 DROP COLUMN s, v")
        assert [f.name for f in spark.table("mat_test.ac2").schema.fields] == ["k"]

    def test_unknown_column_actionable(self, spark, engine):
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import TranspileError

        spark.sql("DROP TABLE IF EXISTS mat_test.ac3")
        spark.createDataFrame([(1,)], "k int").write.saveAsTable("mat_test.ac3")
        with _pytest.raises(TranspileError, match="does not exist"):
            engine.execute("ALTER TABLE mat_test.ac3 RENAME COLUMN nope TO x")

    def test_drop_column_if_exists_noop(self, spark, engine):
        # IF EXISTS semantics: missing column is silently skipped
        spark.sql("DROP TABLE IF EXISTS mat_test.ac5")
        spark.createDataFrame(
            [(1, "a", 2.0)], "k int, s string, v double"
        ).write.saveAsTable("mat_test.ac5")
        engine.execute("ALTER TABLE mat_test.ac5 DROP COLUMN IF EXISTS nope")
        assert [f.name for f in spark.table("mat_test.ac5").schema.fields] == [
            "k", "s", "v",
        ]
        # mixed present/missing: present one drops, missing one skipped
        engine.execute("ALTER TABLE mat_test.ac5 DROP COLUMN IF EXISTS s, nope2")
        assert [f.name for f in spark.table("mat_test.ac5").schema.fields] == [
            "k", "v",
        ]

    def test_drop_column_if_without_exists_refused(self, spark, engine):
        import pytest as _pytest

        from dbt_icebreaker_spark.transpiler.core import TranspileError

        spark.sql("DROP TABLE IF EXISTS mat_test.ac6")
        spark.createDataFrame([(1,)], "k int").write.saveAsTable("mat_test.ac6")
        with _pytest.raises(TranspileError, match="expected EXISTS"):
            engine.execute("ALTER TABLE mat_test.ac6 DROP COLUMN IF k")

    def test_drop_column_literally_named_if(self, spark, engine):
        # review fix: a lone column named `if` is a column list, not a
        # malformed IF EXISTS clause
        spark.sql("DROP TABLE IF EXISTS mat_test.ac7")
        spark.createDataFrame(
            [(1, "x")], "k int, if string"
        ).write.saveAsTable("mat_test.ac7")
        engine.execute("ALTER TABLE mat_test.ac7 DROP COLUMN if")
        assert [f.name for f in spark.table("mat_test.ac7").schema.fields] == ["k"]

    def test_add_column_still_native(self, spark, engine):
        spark.sql("DROP TABLE IF EXISTS mat_test.ac4")
        spark.createDataFrame([(1,)], "k int").write.saveAsTable("mat_test.ac4")
        engine.execute("ALTER TABLE mat_test.ac4 ADD COLUMN s STRING")
        assert "s" in [f.name for f in spark.table("mat_test.ac4").schema.fields]

    def test_begin_commit_noop(self, spark, engine):
        res = engine.execute("BEGIN; SELECT 41 + 1 AS x; COMMIT").collect()
        # last statement's result returns — the COMMIT no-op row
        assert res[0].statement == "commit"
        res2 = engine.execute("BEGIN TRANSACTION; SELECT 1 AS x").collect()
        assert res2[0].x == 1

    def test_json_path_on_function_call(self, spark, engine):
        r = engine.execute(
            'SELECT PARSE_JSON(\'{"a":[{"b":2}]}\'):a[0].b::INT AS x'
        ).collect()
        assert r[0].x == 2


class TestMergeRenamedKeys:
    """ON t.id = s.source_id — differently-named equality keys route
    through the general staged rewrite as plain equi-join keys."""

    def test_renamed_key_merge(self, spark, engine):
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.rk_t")
        spark.sql(
            f"CREATE TABLE {sch}.rk_t AS "
            "SELECT k, CAST(v AS DOUBLE) AS v FROM VALUES "
            "(1, 10.0), (2, 20.0), (3, 30.0) t(k, v)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW rk_src AS "
            "SELECT sk, CAST(sv AS DOUBLE) AS sv FROM VALUES "
            "(2, 200.0), (3, 1.0), (4, 40.0) t(sk, sv)"
        )
        engine.execute(
            f"MERGE INTO {sch}.rk_t t USING rk_src s ON t.k = s.sk "
            "WHEN MATCHED AND s.sv > 100 THEN UPDATE SET v = s.sv "
            "WHEN MATCHED AND s.sv < 5 THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.sk, s.sv)"
        )
        rows = {r.k: r.v for r in spark.table(f"{sch}.rk_t").collect()}
        assert rows == {1: 10.0, 2: 200.0, 4: 40.0}

    def test_pure_non_equi_now_parses_keyless(self, spark, engine):
        # r10: a keyless non-equi ON parses into a spec with extra
        # conditions only (the runtime bounds + broadcasts it)
        from dbt_icebreaker_spark.materializations.merge_stmt import (
            parse_merge,
        )

        spec = parse_merge(
            "MERGE INTO t USING s ON t.ts > s.ts "
            "WHEN MATCHED THEN DELETE"
        )
        assert spec is not None
        assert not spec.key_pairs
        assert spec.extra_conditions

    def test_renamed_key_duplicate_source_refused(self, spark, engine):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.rk_d")
        spark.sql(
            f"CREATE TABLE {sch}.rk_d AS SELECT * FROM VALUES (1, 1.0) t(k, v)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW rk_dup AS "
            "SELECT * FROM VALUES (1, 2.0), (1, 3.0) t(sk, sv)"
        )
        with pytest.raises(_TErr, match="nondeterministic"):
            engine.execute(
                f"MERGE INTO {sch}.rk_d t USING rk_dup s ON t.k = s.sk "
                "WHEN MATCHED AND s.sv > 0 THEN UPDATE SET v = s.sv"
            )


class TestUpdateFromAndCreateLike:
    """Round-6b probe findings: UPDATE ... FROM lowers onto the merge
    machinery; CREATE OR REPLACE TABLE ... LIKE drops-then-creates."""

    def test_update_from(self, spark, engine):
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.uf_t")
        spark.sql(
            f"CREATE TABLE {sch}.uf_t AS SELECT * FROM VALUES "
            "(1, 10), (2, 20), (3, 30) t(k, v)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW uf_src AS SELECT * FROM VALUES "
            "(2, 99), (3, 77) t(k, nv)"
        )
        engine.execute(
            f"UPDATE {sch}.uf_t t SET v = s.nv + 1 FROM uf_src s "
            "WHERE t.k = s.k AND s.nv > 80"
        )
        rows = {r.k: r.v for r in spark.table(f"{sch}.uf_t").collect()}
        assert rows == {1: 10, 2: 100, 3: 30}

    def test_update_from_without_where_refused(self, spark, engine):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="WHERE"):
            engine.execute("UPDATE t SET v = s.v FROM s")

    def test_update_from_duplicate_source_refused(self, spark, engine):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.uf_d")
        spark.sql(f"CREATE TABLE {sch}.uf_d AS SELECT 1 AS k, 1 AS v")
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW uf_dup AS SELECT * FROM VALUES "
            "(1, 2), (1, 3) t(k, nv)"
        )
        with pytest.raises(_TErr, match="nondeterministic"):
            engine.execute(
                f"UPDATE {sch}.uf_d t SET v = s.nv FROM uf_dup s "
                "WHERE t.k = s.k"
            )

    def test_create_or_replace_table_like(self, spark, engine):
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.cl_a")
        spark.sql(f"DROP TABLE IF EXISTS {sch}.cl_b")
        spark.sql(f"CREATE TABLE {sch}.cl_a AS SELECT 1 AS x, 'p' AS y")
        engine.execute(f"CREATE OR REPLACE TABLE {sch}.cl_b LIKE {sch}.cl_a")
        assert spark.table(f"{sch}.cl_b").columns == ["x", "y"]
        assert spark.table(f"{sch}.cl_b").count() == 0  # structure only
        # replace an EXISTING like-table (the OR REPLACE contract)
        engine.execute(f"CREATE OR REPLACE TABLE {sch}.cl_b LIKE {sch}.cl_a")
        spark.sql(f"INSERT INTO {sch}.cl_b VALUES (2, 'q'), (3, 'r')")
        assert spark.table(f"{sch}.cl_b").count() == 2


class TestReviewRegressionsR6c:
    def test_self_like_empties_keeping_schema(self, spark, engine):
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.sl_t")
        spark.sql(f"CREATE TABLE {sch}.sl_t AS SELECT 1 AS a, 'x' AS b")
        engine.execute(f"CREATE OR REPLACE TABLE {sch}.sl_t LIKE {sch}.sl_t")
        assert spark.table(f"{sch}.sl_t").columns == ["a", "b"]
        assert spark.table(f"{sch}.sl_t").count() == 0

    def test_like_missing_source_keeps_target(self, spark, engine):
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.lk_keep")
        spark.sql(f"CREATE TABLE {sch}.lk_keep AS SELECT 7 AS a")
        with pytest.raises(Exception):
            engine.execute(
                f"CREATE OR REPLACE TABLE {sch}.lk_keep LIKE {sch}.no_such"
            )
        # the target survived the failed replace
        assert spark.table(f"{sch}.lk_keep").collect()[0].a == 7

    def test_update_from_with_trailing_comment(self, spark, engine):
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.ufc_t")
        spark.sql(f"CREATE TABLE {sch}.ufc_t AS SELECT 1 AS k, 1 AS v")
        spark.sql("CREATE OR REPLACE TEMP VIEW ufc_s AS SELECT 1 AS k, 9 AS nv")
        engine.execute(
            f"UPDATE {sch}.ufc_t t SET v = s.nv FROM ufc_s s "
            "WHERE t.k = s.k -- join on key"
        )
        assert spark.table(f"{sch}.ufc_t").collect()[0].v == 9

    def test_update_from_multi_source_actionable(self, spark, engine):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="multiple sources"):
            engine.execute(
                "UPDATE t SET v = 1 FROM a, b WHERE t.k = a.k"
            )


class TestNullKeyDmlR7:
    """Round-7 (VERDICT r6 task 6): MERGE/UPDATE…FROM ON-equality is
    NULL-REJECTING — NULL join keys never match (SQL: NULL = NULL is
    not true). A regression to a null-safe (<=>) join would update/
    delete NULL-key target rows and suppress their inserts."""

    def test_merge_null_keys_never_match(self, spark, engine):
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.nk_t")
        spark.sql(
            f"CREATE TABLE {sch}.nk_t AS "
            "SELECT k, CAST(v AS DOUBLE) AS v FROM VALUES "
            "(1, 10.0), (2, 20.0), (CAST(NULL AS INT), 99.0) t(k, v)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW nk_src AS "
            "SELECT sk, CAST(sv AS DOUBLE) AS sv FROM VALUES "
            "(2, 200.0), (CAST(NULL AS INT), 500.0) t(sk, sv)"
        )
        engine.execute(
            f"MERGE INTO {sch}.nk_t t USING nk_src s ON t.k = s.sk "
            "WHEN MATCHED THEN UPDATE SET v = s.sv "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.sk, s.sv)"
        )
        rows = sorted(
            ((r.k, r.v) for r in spark.table(f"{sch}.nk_t").collect()),
            key=lambda x: (x[0] is None, x[0], x[1]),
        )
        # NULL target row untouched (99.0), NULL source row INSERTED
        # (500.0) — they must NOT pair up
        assert rows == [
            (1, 10.0), (2, 200.0), (None, 99.0), (None, 500.0)]

    def test_merge_null_keys_delete_does_not_fire(self, spark, engine):
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.nk_d")
        spark.sql(
            f"CREATE TABLE {sch}.nk_d AS "
            "SELECT k, CAST(v AS DOUBLE) AS v FROM VALUES "
            "(1, 1.0), (CAST(NULL AS INT), 2.0) t(k, v)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW nk_dsrc AS "
            "SELECT CAST(NULL AS INT) AS sk"
        )
        engine.execute(
            f"MERGE INTO {sch}.nk_d t USING nk_dsrc s ON t.k = s.sk "
            "WHEN MATCHED THEN DELETE"
        )
        assert spark.table(f"{sch}.nk_d").count() == 2

    def test_same_name_key_merge_null_keys(self, spark, engine):
        # a same-named key (ON t.k = s.k) must also null-reject
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.nk_s")
        spark.sql(
            f"CREATE TABLE {sch}.nk_s AS "
            "SELECT k, CAST(v AS DOUBLE) AS v FROM VALUES "
            "(1, 1.0), (CAST(NULL AS INT), 9.0) t(k, v)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW nk_ssrc AS "
            "SELECT k, CAST(sv AS DOUBLE) AS sv FROM VALUES "
            "(1, 11.0), (CAST(NULL AS INT), 77.0) t(k, sv)"
        )
        engine.execute(
            f"MERGE INTO {sch}.nk_s t USING nk_ssrc s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.sv "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.sv)"
        )
        rows = sorted(
            ((r.k, r.v) for r in spark.table(f"{sch}.nk_s").collect()),
            key=lambda x: (x[0] is None, x[0], x[1]),
        )
        assert rows == [(1, 11.0), (None, 9.0), (None, 77.0)]

    def test_update_from_null_keys_never_match(self, spark, engine):
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.nk_u")
        spark.sql(
            f"CREATE TABLE {sch}.nk_u AS "
            "SELECT k, CAST(v AS DOUBLE) AS v FROM VALUES "
            "(1, 1.0), (CAST(NULL AS INT), 5.0) t(k, v)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW nk_usrc AS "
            "SELECT sk, CAST(nv AS DOUBLE) AS nv FROM VALUES "
            "(1, 100.0), (CAST(NULL AS INT), 700.0) t(sk, nv)"
        )
        engine.execute(
            f"UPDATE {sch}.nk_u t SET v = s.nv FROM nk_usrc s "
            "WHERE t.k = s.sk"
        )
        rows = sorted(
            ((r.k, r.v) for r in spark.table(f"{sch}.nk_u").collect()),
            key=lambda x: (x[0] is None, x[0], x[1]),
        )
        # NULL-key target keeps 5.0 — NOT updated to 700.0
        assert rows == [(1, 100.0), (None, 5.0)]


class TestTimeTravelR7:
    """Round-7: OFFSET/STATEMENT time-travel forms + CLONE … AT over
    snapshot tables (VERDICT r6 Missing #4). OFFSET is seconds
    relative to now; STATEMENT resolves a recorded query id through
    the engine's result history; CLONE AT materializes the
    point-in-time state (documented copy deviation, like plain
    CLONE)."""

    def _history(self, spark, engine, name):
        t1 = datetime.datetime(2026, 1, 1)
        t2 = datetime.datetime(2026, 2, 1)
        spark.sql(f"DROP TABLE IF EXISTS mat_test.{name}")
        engine.run_snapshot(
            name, "SELECT c_custkey, c_acctbal FROM customer "
            "WHERE c_custkey < 10",
            unique_key="c_custkey", strategy="check",
            check_cols=["c_acctbal"], now=t1,
        )
        engine.run_snapshot(
            name, "SELECT c_custkey, c_acctbal + 100 AS c_acctbal "
            "FROM customer WHERE c_custkey < 10",
            unique_key="c_custkey", strategy="check",
            check_cols=["c_acctbal"], now=t2,
        )

    def test_offset_now_sees_current_state(self, spark, engine):
        # OFFSET => 0 ≈ now: both snapshot batches are in the past, so
        # the read returns the CURRENT state (9 rows, updated values)
        self._history(spark, engine, "tt_off")
        rows = engine.execute(
            "SELECT c_custkey, c_acctbal FROM mat_test.tt_off "
            "AT(OFFSET => 0) ORDER BY c_custkey"
        ).collect()
        orig = {r.c_custkey: r.c_acctbal for r in spark.sql(
            "SELECT c_custkey, c_acctbal FROM customer "
            "WHERE c_custkey < 10").collect()}
        assert len(rows) == 10
        for r in rows:
            assert abs(r.c_acctbal - (orig[r.c_custkey] + 100)) < 1e-9

    def test_offset_far_past_sees_nothing(self, spark, engine):
        self._history(spark, engine, "tt_off2")
        rows = engine.execute(
            "SELECT * FROM mat_test.tt_off2 "
            "AT(OFFSET => -63072000)"  # two years back — before t1
        ).collect()
        assert rows == []

    def test_statement_form_resolves_history(self, spark, engine):
        self._history(spark, engine, "tt_st")
        qid = engine._record_result(
            engine.execute("SELECT 1 AS probe"))
        # a statement run NOW sees the current state
        rows = engine.execute(
            f"SELECT COUNT(*) AS n FROM mat_test.tt_st "
            f"AT(STATEMENT => '{qid}')"
        ).collect()
        assert rows[0].n == 10

    def test_statement_unknown_qid_actionable(self, spark, engine):
        self._history(spark, engine, "tt_st2")
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="not a recorded"):
            engine.execute(
                "SELECT * FROM mat_test.tt_st2 "
                "AT(STATEMENT => 'no-such-qid')")

    def test_clone_at_timestamp(self, spark, engine):
        self._history(spark, engine, "tt_cl")
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.tt_cl_jan CLONE "
            "mat_test.tt_cl AT(TIMESTAMP => '2026-01-15'::TIMESTAMP)")
        cloned = {r.c_custkey: r.c_acctbal for r in spark.sql(
            "SELECT c_custkey, c_acctbal FROM mat_test.tt_cl_jan"
        ).collect()}
        orig = {r.c_custkey: r.c_acctbal for r in spark.sql(
            "SELECT c_custkey, c_acctbal FROM customer "
            "WHERE c_custkey < 10").collect()}
        assert len(cloned) == 10
        for k, v in cloned.items():  # January = ORIGINAL values
            assert abs(v - orig[k]) < 1e-9

    def test_clone_at_non_snapshot_refused(self, spark, engine):
        spark.sql("DROP TABLE IF EXISTS mat_test.plain_src")
        spark.sql(
            "CREATE TABLE mat_test.plain_src AS SELECT 1 AS k")
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="no history"):
            engine.execute(
                "CREATE TABLE mat_test.plain_dst CLONE "
                "mat_test.plain_src "
                "AT(TIMESTAMP => '2024-01-01'::TIMESTAMP)")

    def test_stream_form_still_refused(self, spark, engine):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="STREAM"):
            engine.execute(
                "SELECT * FROM mat_test.anything "
                "AT(STREAM => 's1')")

    def test_positive_offset_literal_refused(self, spark, engine):
        # r8 (r7 ADVICE): Snowflake rejects positive offsets (future
        # instants); silently resolving one to the current state would
        # mask a dropped minus sign
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        self._history(spark, engine, "tt_pos")
        with pytest.raises(TranspileError, match="future instant"):
            engine.execute(
                "SELECT * FROM mat_test.tt_pos AT(OFFSET => 300)")

    def test_positive_offset_expr_errors_at_runtime(self, spark, engine):
        # a non-literal positive offset can't refuse at transpile time
        # — the runtime assert catches it
        self._history(spark, engine, "tt_pos2")
        with pytest.raises(Exception, match="must be <= 0"):
            engine.execute(
                "SELECT * FROM mat_test.tt_pos2 "
                "AT(OFFSET => 100 + 200)").collect()

    def test_zero_and_negative_offsets_still_work(self, spark, engine):
        self._history(spark, engine, "tt_pos3")
        assert len(engine.execute(
            "SELECT * FROM mat_test.tt_pos3 AT(OFFSET => 0)"
        ).collect()) == 10
        assert engine.execute(
            "SELECT * FROM mat_test.tt_pos3 AT(OFFSET => -63072000)"
        ).collect() == []


class TestR7bSweep:
    """Round-7b probe-sweep lock-ins (16 materialization/session
    shapes executed in that sweep) — snapshot hard-delete/
    re-add/NULL transitions, incremental NULL-key merge and schema
    evolution, session-variable actionability (sweep finding)."""

    def test_snapshot_hard_delete_then_readd(self, spark, engine):
        import datetime as dt

        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.r7b_sn")
        engine.run_snapshot(
            "r7b_sn", "SELECT k, v FROM VALUES (1,'a'),(2,'b') t(k,v)",
            unique_key="k", strategy="check", check_cols=["v"],
            now=dt.datetime(2026, 1, 1))
        engine.run_snapshot(
            "r7b_sn", "SELECT k, v FROM VALUES (1,'a') t(k,v)",
            unique_key="k", strategy="check", check_cols=["v"],
            now=dt.datetime(2026, 2, 1), invalidate_hard_deletes=True)
        cur = spark.sql(
            f"SELECT k FROM {sch}.r7b_sn WHERE dbt_valid_to IS NULL"
        ).collect()
        assert sorted(r.k for r in cur) == [1]
        engine.run_snapshot(
            "r7b_sn", "SELECT k, v FROM VALUES (1,'a'),(2,'B2') t(k,v)",
            unique_key="k", strategy="check", check_cols=["v"],
            now=dt.datetime(2026, 3, 1), invalidate_hard_deletes=True)
        cur = spark.sql(
            f"SELECT k, v FROM {sch}.r7b_sn WHERE dbt_valid_to IS NULL"
        ).collect()
        assert sorted((r.k, r.v) for r in cur) == [(1, "a"), (2, "B2")]

    def test_snapshot_null_value_transitions(self, spark, engine):
        import datetime as dt

        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.r7b_sn3")
        engine.run_snapshot(
            "r7b_sn3", "SELECT k, v FROM VALUES "
            "(1, CAST(NULL AS STRING)),(2,'b') t(k,v)",
            unique_key="k", strategy="check", check_cols=["v"],
            now=dt.datetime(2026, 1, 1))
        engine.run_snapshot(
            "r7b_sn3", "SELECT k, v FROM VALUES "
            "(1, 'now-set'),(2, CAST(NULL AS STRING)) t(k,v)",
            unique_key="k", strategy="check", check_cols=["v"],
            now=dt.datetime(2026, 2, 1))
        assert spark.table(f"{sch}.r7b_sn3").count() == 4
        cur = spark.sql(
            f"SELECT k, v FROM {sch}.r7b_sn3 WHERE dbt_valid_to IS NULL"
        ).collect()
        assert sorted((r.k, r.v) for r in cur) == [
            (1, "now-set"), (2, None)]

    def test_incremental_merge_null_unique_keys(self, spark, engine):
        sch = engine.effective_schema
        spark.sql(f"DROP TABLE IF EXISTS {sch}.r7b_inc")
        engine.run_model(
            "r7b_inc", "SELECT k, v FROM VALUES (1,'a'),"
            "(CAST(NULL AS INT),'n1') t(k,v)",
            "incremental", unique_key="k", incremental_strategy="merge")
        engine.run_model(
            "r7b_inc", "SELECT k, v FROM VALUES "
            "(CAST(NULL AS INT),'n2') t(k,v)",
            "incremental", unique_key="k", incremental_strategy="merge")
        got = sorted(
            ((r.k, r.v) for r in spark.table(f"{sch}.r7b_inc").collect()),
            key=lambda x: (x[0] is None, x[0] or 0, x[1]))
        assert got == [(1, "a"), (None, "n1"), (None, "n2")]

    def test_unset_session_variable_actionable(self, engine):
        with pytest.raises(Exception, match="is not set"):
            engine.execute("SELECT $never_set_r7b")

    def test_positional_dollar_refs_pass_through(self, engine):
        # $1-style positional refs must NOT trip the unknown-variable
        # error (COPY transforms use them)
        try:
            engine.execute("SELECT $1 FROM VALUES (1)").collect()
        except Exception as e:
            assert "is not set" not in str(e)

    def test_json_path_dollar_keys_not_session_vars(self, engine):
        # r8 (r7 ADVICE): $-prefixed keys are standard JSON-Schema
        # vocabulary — payload:$schema must reach rewrite_json_path,
        # not the unknown-session-variable error
        r = engine.execute(
            'SELECT PARSE_JSON(\'{"$schema":"s1","a":2}\')'
            ":$schema::string AS s").collect()
        assert r[0].s == "s1"
        r = engine.execute(
            'SELECT PARSE_JSON(\'{"a":{"$id":"x"}}\')'
            ":a.$id::string AS s").collect()
        assert r[0].s == "x"

    def test_expression_position_dollar_still_raises(self, engine):
        # the path pass-through must not weaken the expression-position
        # error: a bare $name with whitespace before it still raises
        with pytest.raises(Exception, match="is not set"):
            engine.execute("SELECT $still_unset_r8 AS v")


class TestTimeTravelEdgesR7:
    """Round-7 time-travel edge pins (11-case probe, all green):
    multiple AT reads in one query, CTE/view/subquery positions,
    boundary exactness at a version switch."""

    @pytest.fixture(scope="class", autouse=True)
    def hist(self, spark, engine):
        import datetime as dt

        for name, vals in (("r7e_h1", [("a", 1), ("A", 2)]),
                           ("r7e_h2", [("x", 1), ("X", 2)])):
            spark.sql(f"DROP TABLE IF EXISTS mat_test.{name}")
            for v, month in vals:
                engine.run_snapshot(
                    name, f"SELECT 1 AS k, '{v}' AS v",
                    unique_key="k", strategy="check", check_cols=["v"],
                    now=dt.datetime(2026, month, 1))

    def test_two_at_reads_joined(self, engine):
        r = engine.execute(
            "SELECT a.v AS av, b.v AS bv FROM mat_test.r7e_h1 "
            "AT(TIMESTAMP => '2026-01-15'::TIMESTAMP) a JOIN "
            "mat_test.r7e_h2 AT(TIMESTAMP => '2026-03-15'::TIMESTAMP) "
            "b ON a.k = b.k").collect()[0]
        assert (r.av, r.bv) == ("a", "X")

    def test_same_table_two_instants(self, engine):
        r = engine.execute(
            "SELECT a.v AS av, b.v AS bv FROM mat_test.r7e_h1 "
            "AT(TIMESTAMP => '2026-01-15'::TIMESTAMP) a JOIN "
            "mat_test.r7e_h1 AT(TIMESTAMP => '2026-03-15'::TIMESTAMP) "
            "b ON a.k = b.k").collect()[0]
        assert (r.av, r.bv) == ("a", "A")

    def test_boundary_at_vs_before(self, engine):
        at = engine.execute(
            "SELECT v FROM mat_test.r7e_h1 AT(TIMESTAMP => "
            "'2026-02-01 00:00:00'::TIMESTAMP)").collect()[0].v
        before = engine.execute(
            "SELECT v FROM mat_test.r7e_h1 BEFORE(TIMESTAMP => "
            "'2026-02-01 00:00:00'::TIMESTAMP)").collect()[0].v
        assert (at, before) == ("A", "a")  # AT inclusive, BEFORE prior

    def test_at_in_cte_and_view(self, engine, spark):
        r = engine.execute(
            "WITH c AS (SELECT v FROM mat_test.r7e_h1 "
            "AT(TIMESTAMP => '2026-01-15'::TIMESTAMP)) "
            "SELECT v FROM c").collect()[0].v
        assert r == "a"
        spark.sql("CREATE OR REPLACE TEMP VIEW r7e_h1v AS "
                  "SELECT * FROM mat_test.r7e_h1")
        r2 = engine.execute(
            "SELECT v FROM r7e_h1v AT(TIMESTAMP => "
            "'2026-01-15'::TIMESTAMP)").collect()[0].v
        assert r2 == "a"


class TestGetVariableR8:
    """Round-8: GETVARIABLE('name') — runtime session-variable lookup
    through the same store as $name; unset → NULL (Snowflake)."""

    def test_set_and_get(self, engine):
        engine.execute("SET r8gv = 41 + 1")
        try:
            r = engine.execute("SELECT GETVARIABLE('R8GV') AS v")
            assert r.collect()[0].v == 42
            r = engine.execute("SELECT GETVARIABLE('r8gv') AS v")
            assert r.collect()[0].v == 42
        finally:
            engine.execute("UNSET r8gv")

    def test_unset_returns_null(self, engine):
        r = engine.execute("SELECT GETVARIABLE('NEVER_SET_R8') AS v")
        assert r.collect()[0].v is None

    def test_non_literal_name_actionable(self, engine):
        with pytest.raises(Exception, match="string literal"):
            engine.execute(
                "SELECT GETVARIABLE(c) FROM (SELECT 'x' AS c)")


class TestStatementHeads:
    """Round-9 statement-head batch (r8 VERDICT 'What's missing' #1-3):
    SECURE VIEW / COPY GRANTS / MATERIALIZED VIEW / Snowflake SHOW
    dialect / UNDROP TABLE retention / CHECK_XML — each either executes
    on Spark or refuses actionably, never the generic unparsed error."""

    def test_secure_view_copy_grants(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE SECURE VIEW mat_test.sh_sv COPY GRANTS "
            "AS SELECT 7 AS a"
        )
        assert engine.execute(
            "SELECT * FROM mat_test.sh_sv").collect()[0].a == 7
        spark.sql("DROP VIEW mat_test.sh_sv")

    def test_materialized_view_maps_to_table(self, spark, engine):
        engine.execute(
            "CREATE MATERIALIZED VIEW mat_test.sh_mv AS SELECT 1 AS b")
        assert spark.catalog.getTable(
            "mat_test.sh_mv").tableType in ("MANAGED", "EXTERNAL")
        # REPLACE form rides the staged swap (CORT machinery)
        engine.execute(
            "CREATE OR REPLACE MATERIALIZED VIEW mat_test.sh_mv "
            "AS SELECT 2 AS b")
        assert engine.execute(
            "SELECT * FROM mat_test.sh_mv").collect()[0].b == 2
        engine.execute("DROP MATERIALIZED VIEW mat_test.sh_mv")
        assert not spark.catalog.tableExists("mat_test.sh_mv")

    def test_show_tables_in_schema_and_like(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.sh_t1 AS SELECT 1 AS x")
        names = [
            r.tableName for r in engine.execute(
                "SHOW TABLES IN SCHEMA mat_test").collect()
        ]
        assert "sh_t1" in names
        names = [
            r.tableName for r in engine.execute(
                "SHOW TERSE OBJECTS LIKE 'sh_t%' IN SCHEMA mat_test"
            ).collect()
        ]
        assert names and all(n.startswith("sh_t") for n in names)

    def test_show_columns_in_table(self, spark, engine):
        cols = [
            r.col_name for r in engine.execute(
                "SHOW COLUMNS IN TABLE mat_test.sh_t1").collect()
        ]
        assert cols == ["x"]

    def test_show_views_and_schemas(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE VIEW mat_test.sh_v1 AS SELECT 1 AS x")
        vs = [
            r.viewName for r in engine.execute(
                "SHOW VIEWS LIKE 'sh_v%' IN mat_test").collect()
        ]
        assert vs == ["sh_v1"]
        ns = [
            r.namespace for r in engine.execute(
                "SHOW SCHEMAS IN DATABASE anything").collect()
        ]
        assert "mat_test" in ns
        spark.sql("DROP VIEW mat_test.sh_v1")

    def test_show_unsupported_tail_refuses(self, engine):
        with pytest.raises(Exception, match="STARTS WITH"):
            engine.execute("SHOW TABLES STARTS WITH 'sh'")
        with pytest.raises(Exception, match="DESC TABLE"):
            engine.execute(
                "SHOW COLUMNS LIKE 'x%' IN TABLE mat_test.sh_t1")

    def test_undrop_restores_data(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.sh_u1 AS SELECT 42 AS x")
        r = engine.execute("DROP TABLE mat_test.sh_u1").collect()[0]
        assert "retained" in r.status
        assert not spark.catalog.tableExists("mat_test.sh_u1")
        engine.execute("UNDROP TABLE mat_test.sh_u1")
        assert engine.execute(
            "SELECT * FROM mat_test.sh_u1").collect()[0].x == 42

    def test_undrop_refuses_when_name_taken(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.sh_u2 AS SELECT 1 AS x")
        engine.execute("DROP TABLE mat_test.sh_u2")
        engine.execute("CREATE TABLE mat_test.sh_u2 AS SELECT 2 AS x")
        with pytest.raises(Exception, match="already exists"):
            engine.execute("UNDROP TABLE mat_test.sh_u2")
        # drop the new one; UNDROP is LIFO — restores x=2 first
        engine.execute("DROP TABLE mat_test.sh_u2")
        engine.execute("UNDROP TABLE mat_test.sh_u2")
        assert engine.execute(
            "SELECT * FROM mat_test.sh_u2").collect()[0].x == 2
        # the x=1 version is still retained underneath
        engine.execute("DROP TABLE mat_test.sh_u2")
        engine.execute("UNDROP TABLE mat_test.sh_u2")  # x=2 again
        engine.execute("DROP TABLE mat_test.sh_u2")
        engine.execute("UNDROP TABLE mat_test.sh_u2")  # x=2 (LIFO)
        assert engine.execute(
            "SELECT * FROM mat_test.sh_u2").collect()[0].x == 2

    def test_undrop_nothing_retained_actionable(self, engine):
        with pytest.raises(Exception, match="no dropped version"):
            engine.execute("UNDROP TABLE mat_test.sh_never_existed")

    def test_drop_view_keeps_native_error(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE VIEW mat_test.sh_v2 AS SELECT 1 AS x")
        with pytest.raises(Exception, match="VIEW"):
            engine.execute("DROP TABLE mat_test.sh_v2")
        spark.sql("DROP VIEW mat_test.sh_v2")

    def test_drop_if_exists_missing_is_noop(self, engine):
        engine.execute("DROP TABLE IF EXISTS mat_test.sh_not_there")

    def test_check_xml_refuses_by_name(self, engine):
        with pytest.raises(Exception, match="CHECK_XML"):
            engine.execute("SELECT CHECK_XML('<a>') AS c")


class TestStatementHeadsBatch2:
    """Round-9 batch 2: USE WAREHOUSE/ROLE no-ops, SHOW GRANTS
    shaped-empty, DESC VIEW → DESCRIBE TABLE, stage file ops refuse
    by name — found by probing what still died generically."""

    def test_use_warehouse_role_noop(self, engine):
        r = engine.execute("USE WAREHOUSE compute_wh").collect()[0]
        assert r.statement == "use warehouse" and "noop" in r.status
        r = engine.execute("USE ROLE sysadmin").collect()[0]
        assert r.statement == "use role"
        engine.execute("USE SECONDARY ROLES ALL")

    def test_use_schema_still_sparks(self, spark, engine):
        prev = spark.catalog.currentDatabase()
        try:
            engine.execute("USE SCHEMA mat_test")
            assert spark.catalog.currentDatabase() == "mat_test"
        finally:
            spark.catalog.setCurrentDatabase(prev)

    def test_show_grants_shaped_empty(self, engine):
        df = engine.execute("SHOW GRANTS ON TABLE whatever")
        assert df.count() == 0
        assert df.columns == [
            "privilege", "granted_on", "name", "granted_to",
            "grantee_name",
        ]

    def test_desc_view_spelling(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE VIEW mat_test.sh_dv AS SELECT 1 AS a")
        cols = [r.col_name for r in engine.execute(
            "DESC VIEW mat_test.sh_dv").collect() if r.col_name]
        assert "a" in cols
        spark.sql("DROP VIEW mat_test.sh_dv")

    def test_stage_file_ops_refuse_by_name(self, engine):
        for stmt in ("LIST @mystage", "PUT file:///tmp/x.csv @mystage",
                     "GET @mystage file:///tmp/", "REMOVE @mystage/x"):
            with pytest.raises(Exception, match="stage"):
                engine.execute(stmt)


class TestStatementHeadsBatch3:
    """Round-9 batch 3: EXPLAIN USING, SHOW PARAMETERS, warehouse DDL
    no-ops, RECLUSTER toggles, DESCRIBE RESULT, and governance-object
    refusals (tags/policies/shares refuse because a no-op would change
    data visibility; warehouses no-op because they have none)."""

    def test_explain_using(self, engine):
        assert engine.execute(
            "EXPLAIN USING TEXT SELECT 1").count() == 1
        assert engine.execute(
            "EXPLAIN USING JSON SELECT 1").count() == 1

    def test_show_parameters_like(self, engine):
        rows = engine.execute(
            "SHOW PARAMETERS LIKE '%timezone%'").collect()
        assert any("timeZone" in r.key for r in rows)

    def test_warehouse_ddl_noops(self, engine):
        for stmt, head in (
            ("CREATE WAREHOUSE w1 WITH WAREHOUSE_SIZE='XSMALL'",
             "create warehouse"),
            ("ALTER WAREHOUSE w1 SET WAREHOUSE_SIZE='LARGE'",
             "alter warehouse"),
            ("DROP WAREHOUSE w1", "drop warehouse"),
        ):
            r = engine.execute(stmt).collect()[0]
            assert r.statement == head and "noop" in r.status

    def test_recluster_toggle_noop(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.sh_rc (x INT)")
        r = engine.execute(
            "ALTER TABLE mat_test.sh_rc SUSPEND RECLUSTER").collect()[0]
        assert "recluster" in r.statement
        spark.sql("DROP TABLE mat_test.sh_rc")

    def test_describe_result(self, engine):
        engine.execute("SELECT 1 AS a, 'x' AS b")
        rows = engine.execute(
            "DESCRIBE RESULT LAST_QUERY_ID()").collect()
        assert [(r.name, r.type) for r in rows] == [
            ("a", "int"), ("b", "string")]

    def test_governance_objects_refuse(self, engine):
        # r13: CREATE FILE FORMAT graduated from refusal to the
        # session registry (file_formats.py)
        r = engine.execute("CREATE FILE FORMAT f TYPE='CSV'").collect()
        assert "successfully created" in r[0][0]
        engine.execute("DROP FILE FORMAT f")
        for stmt in (
            "CREATE TAG cost_center",
            "CREATE MASKING POLICY m AS (v STRING) RETURNS STRING -> v",
            "CREATE ROW ACCESS POLICY p AS (v STRING) "
            "RETURNS BOOLEAN -> TRUE",
            "CREATE SHARE s",
        ):
            with pytest.raises(Exception, match="Snowflake-only"):
                engine.execute(stmt)


class TestAlterSessionSubsetR9:
    """ALTER SESSION SET/UNSET for the parameters with a faithful
    Spark mapping (TIMEZONE, QUERY_TAG); everything else keeps the
    named refusal — now mentioning the supported pair."""

    def test_timezone_set_and_unset(self, spark, engine):
        prev = spark.conf.get("spark.sql.session.timeZone")
        try:
            engine.execute(
                "ALTER SESSION SET TIMEZONE = 'America/New_York'")
            assert spark.conf.get(
                "spark.sql.session.timeZone") == "America/New_York"
            engine.execute("ALTER SESSION UNSET TIMEZONE")
            assert spark.conf.get(
                "spark.sql.session.timeZone") != "America/New_York"
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)

    def test_query_tag_recorded(self, engine):
        engine.execute("ALTER SESSION SET QUERY_TAG = 'etl-nightly'")
        assert engine._session_vars.get("query_tag") == "'etl-nightly'"
        engine.execute("ALTER SESSION UNSET QUERY_TAG")
        assert "query_tag" not in engine._session_vars

    def test_other_params_keep_refusal(self, engine):
        with pytest.raises(Exception, match="TIMEZONE"):
            engine.execute("ALTER SESSION SET WEEK_START = 1")


class TestUndropGhostR9:
    def test_undrop_after_schema_cascade_actionable(self, spark, engine):
        spark.sql("CREATE SCHEMA IF NOT EXISTS mt_gh9")
        engine.execute("CREATE OR REPLACE TABLE mt_gh9.t1 AS SELECT 1 AS x")
        engine.execute("DROP TABLE mt_gh9.t1")
        spark.sql("DROP SCHEMA mt_gh9 CASCADE")
        with pytest.raises(Exception, match="no longer in the catalog"):
            engine.execute("UNDROP TABLE mt_gh9.t1")
        # the ledger entry is consumed — a second attempt reports
        # nothing retained, not the ghost message again
        with pytest.raises(Exception, match="no dropped version"):
            engine.execute("UNDROP TABLE mt_gh9.t1")


class TestAlterTableSetParamsR9:
    def test_set_comment_maps_to_property(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.sp9 (x INT)")
        engine.execute(
            "ALTER TABLE mat_test.sp9 SET COMMENT = 'it''s nice'")
        rows = spark.sql("DESC EXTENDED mat_test.sp9").collect()
        assert any(r.col_name == "Comment"
                   and r.data_type == "it's nice" for r in rows)
        spark.sql("DROP TABLE mat_test.sp9")

    def test_retention_param_noops(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.sp9b (x INT)")
        r = engine.execute(
            "ALTER TABLE mat_test.sp9b SET "
            "DATA_RETENTION_TIME_IN_DAYS = 3").collect()[0]
        assert "UNDROP" in r.status
        spark.sql("DROP TABLE mat_test.sp9b")

    def test_change_tracking_and_unknown_refuse(self, engine):
        with pytest.raises(Exception, match="STREAM"):
            engine.execute(
                "ALTER TABLE mat_test.sh_t1 SET CHANGE_TRACKING = TRUE")
        with pytest.raises(Exception, match="unsupported table param"):
            engine.execute(
                "ALTER TABLE mat_test.sh_t1 SET "
                "MAX_DATA_EXTENSION_TIME_IN_DAYS = 7")

    def test_spark_native_forms_untouched(self, spark, engine):
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.sp9c (x INT)")
        engine.execute(
            "ALTER TABLE mat_test.sp9c SET TBLPROPERTIES ('k' = 'v')")
        engine.execute("ALTER TABLE mat_test.sp9c ADD COLUMN z INT")
        assert "z" in spark.table("mat_test.sp9c").columns
        spark.sql("DROP TABLE mat_test.sp9c")


from dbt_icebreaker_spark.transpiler.core import TranspileError as _TErr


class TestNonEquiMergeR10:
    """Round-10 (r9 verdict #5): pure non-equi (BETWEEN-shaped) MERGE
    — no equality key in ON. The general rewrite broadcasts a bounded
    source as a nested-loop join; unbounded sources and overlapping
    (nondeterministic) bands refuse actionably."""

    @pytest.fixture()
    def banded(self, engine):
        engine.execute(
            "CREATE OR REPLACE TABLE mat_test.ne_tgt AS "
            "SELECT id, CAST(amt AS DOUBLE) AS amt, band "
            "FROM VALUES (1, 10.0, 'X'), (2, 60.0, 'X'), "
            "(3, 120.0, 'X'), (4, -5.0, 'X') AS t(id, amt, band)")
        engine.execute(
            "CREATE OR REPLACE TEMPORARY VIEW ne_bands AS "
            "SELECT * FROM VALUES (0.0, 50.0, 'LOW'), "
            "(50.0, 100.0, 'MID'), (100.0, 1000.0, 'HIGH') "
            "AS b(lo, hi, label)")
        return "mat_test.ne_tgt"

    def test_range_update(self, engine, banded):
        engine.execute(
            f"MERGE INTO {banded} t USING ne_bands s "
            "ON t.amt >= s.lo AND t.amt < s.hi "
            "WHEN MATCHED THEN UPDATE SET band = s.label")
        got = sorted((r.id, r.band) for r in engine.execute(
            f"SELECT id, band FROM {banded}").collect())
        # id 4 (amt -5) matches no band and keeps its old value
        assert got == [(1, "LOW"), (2, "MID"), (3, "HIGH"), (4, "X")]

    def test_between_spelling(self, engine, banded):
        engine.execute(
            f"MERGE INTO {banded} t USING ne_bands s "
            "ON t.amt BETWEEN s.lo AND s.hi - 0.001 "
            "WHEN MATCHED THEN UPDATE SET band = s.label")
        got = dict((r.id, r.band) for r in engine.execute(
            f"SELECT id, band FROM {banded}").collect())
        assert got[2] == "MID"

    def test_not_matched_insert(self, engine, banded):
        # a source band matching NO target row flows through WHEN NOT
        # MATCHED via the anti-join (broadcast, same range condition)
        engine.execute(
            "CREATE OR REPLACE TEMPORARY VIEW ne_far AS SELECT * FROM "
            "VALUES (5000.0, 6000.0, 'FAR') AS b(lo, hi, label)")
        engine.execute(
            f"MERGE INTO {banded} t USING ne_far s "
            "ON t.amt >= s.lo AND t.amt < s.hi "
            "WHEN MATCHED THEN UPDATE SET band = s.label "
            "WHEN NOT MATCHED THEN INSERT (id, amt, band) "
            "VALUES (-1, s.lo, s.label)")
        got = sorted((r.id, r.band) for r in engine.execute(
            f"SELECT id, band FROM {banded}").collect())
        assert (-1, "FAR") in got and len(got) == 5

    def test_overlapping_bands_refuse(self, engine, banded):
        engine.execute(
            "CREATE OR REPLACE TEMPORARY VIEW ne_overlap AS "
            "SELECT * FROM VALUES (0.0, 70.0, 'A'), (50.0, 100.0, 'B') "
            "AS b(lo, hi, label)")
        with pytest.raises(_TErr, match="nondeterministic"):
            engine.execute(
                f"MERGE INTO {banded} t USING ne_overlap s "
                "ON t.amt >= s.lo AND t.amt < s.hi "
                "WHEN MATCHED THEN UPDATE SET band = s.label")

    def test_unbounded_source_refuses(self, engine, banded, monkeypatch):
        monkeypatch.setenv(
            "SPARK_GRAFT_MERGE_NONEQUI_MAX_SOURCE_ROWS", "2")
        with pytest.raises(_TErr, match="no equality conjunct"):
            engine.execute(
                f"MERGE INTO {banded} t USING ne_bands s "
                "ON t.amt >= s.lo AND t.amt < s.hi "
                "WHEN MATCHED THEN UPDATE SET band = s.label")

    def test_empty_on_still_refuses(self, engine, banded):
        with pytest.raises(_TErr):
            engine.execute(
                f"MERGE INTO {banded} t USING ne_bands s ON "
                "WHEN MATCHED THEN UPDATE SET band = s.label")


class TestR12CreateTableProperties:
    """Round-12 probe: Snowflake CREATE TABLE property tails —
    ``COMMENT = '…'`` (kept, applied as the table comment),
    retention/tracking metadata props (dropped, no local meaning),
    ``CLUSTER BY`` already handled — previously fell through to
    Spark's unsupported REPLACE TABLE."""

    def test_comment_property_column_defs(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        eng = IcebreakerEngine(spark)
        eng.execute(
            "CREATE OR REPLACE TABLE r12ctp (id INT) COMMENT = 'note'")
        rows = spark.sql("DESCRIBE TABLE EXTENDED r12ctp").collect()
        assert ("Comment", "note") in [
            (r.col_name, r.data_type) for r in rows]
        spark.sql("DROP TABLE r12ctp")

    def test_comment_property_ctas(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        eng = IcebreakerEngine(spark)
        eng.execute(
            "CREATE OR REPLACE TABLE r12ctq COMMENT = 'ctas note' "
            "AS SELECT 1 AS x")
        rows = spark.sql("DESCRIBE TABLE EXTENDED r12ctq").collect()
        assert ("Comment", "ctas note") in [
            (r.col_name, r.data_type) for r in rows]
        assert spark.table("r12ctq").count() == 1
        spark.sql("DROP TABLE r12ctq")

    def test_retention_props_dropped(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        eng = IcebreakerEngine(spark)
        eng.execute(
            "CREATE OR REPLACE TABLE r12ctr (id INT) "
            "DATA_RETENTION_TIME_IN_DAYS = 1 CHANGE_TRACKING = TRUE")
        assert spark.table("r12ctr").count() == 0
        spark.sql("DROP TABLE r12ctr")
