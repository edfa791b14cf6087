"""Physical-plan quality guards (SURVEY §4 — the scale contract).

Correctness tests prove the engine is right at sf0.01; these prove
the *plans* would survive 100 TB: dimension joins broadcast (no
sort-merge shuffle of a small side), filters reach the parquet scan
(PushedFilters), projections prune the scan schema (ReadSchema), and
aggregation-only queries shuffle exactly once.

A regression here (e.g. a transform rewrite that breaks pushdown by
wrapping a filter column in an opaque expression) is invisible to the
oracle tests but catastrophic at scale — hence plan-shape assertions.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dbt_icebreaker_spark import queries as corpus
from dbt_icebreaker_spark.sources import register_dir

SF_DIR = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    """Materialize (so AQE finalizes stages), then return the full
    formatted explain — toString() truncates long schemas."""
    import contextlib
    import io

    df.collect()  # count() would execute a different (re-planned) tree
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _final_tree(plan: str) -> str:
    """The executed (AQE-final) operator tree only — the formatted
    explain also prints the Initial Plan, which double-counts nodes."""
    if "== Initial Plan ==" in plan:
        return plan.split("== Initial Plan ==")[0]
    return plan.split("\n\n")[0]


@pytest.fixture(scope="module")
def qs():
    return corpus.queries()


class TestJoinStrategy:
    def test_q03_dims_broadcast(self, spark, qs):
        plan = _executed_plan(qs["q03_shipping_priority"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_q04_five_way_join_all_broadcast(self, spark, qs):
        plan = _executed_plan(qs["q04_region_volume"](spark, SF_DIR))
        assert len(re.findall(r"BroadcastHashJoin", _final_tree(plan))) == 5
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_q24_not_exists_is_anti_join(self, spark, qs):
        plan = _executed_plan(qs["q24_not_exists"](spark, SF_DIR))
        assert "LeftAnti" in plan

    def test_general_merge_is_one_equi_join_per_side(self, spark):
        # r5 conditional MERGE: the CASE-cascade plan must be ONE
        # equi-join for the target side and one anti-join for inserts —
        # never a nested loop, even with non-equi ON conjuncts (they
        # ride as join filters)
        from dbt_icebreaker_spark.materializations.merge_stmt import (
            parse_merge,
        )
        from dbt_icebreaker_spark.transpiler.core import Transpiler

        spark.sql("CREATE DATABASE IF NOT EXISTS plan_mrg")
        spark.sql("DROP TABLE IF EXISTS plan_mrg.t")
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k int, v double"
        ).write.saveAsTable("plan_mrg.t")
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW plan_mrg_src AS "
            "SELECT id AS k, CAST(id * 2 AS DOUBLE) AS v FROM range(50, 150)"
        )
        from dbt_icebreaker_spark.materializations import incremental
        from dbt_icebreaker_spark.materializations.merge_stmt import (
            run_merge_statement,
        )

        spec = parse_merge(
            "MERGE INTO plan_mrg.t t USING plan_mrg_src s "
            "ON t.k = s.k AND s.v > t.v "
            "WHEN MATCHED AND s.v < 1000 THEN UPDATE SET t.v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        captured = {}
        real = incremental._staged_overwrite

        def capture(spark_, df, target, **kw):
            captured["plan"] = _executed_plan(df)
            return real(spark_, df, target, **kw)

        incremental._staged_overwrite = capture
        try:
            run_merge_statement(spark, spec, Transpiler())
        finally:
            incremental._staged_overwrite = real
        plan = captured["plan"]
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert "LeftAnti" in plan  # the insert side is an anti-join

    def test_q68_asof_join_is_equi_join_plus_window(self, spark, qs):
        # r5 interval rewrite: an ON-keyed ASOF join must plan as a
        # plain equi-join on the keys (hash/merge) with the inequality
        # as a join filter, plus ONE window (LEAD bound) on the right
        # side — the r4 LATERAL form decorrelated into a domain
        # BroadcastNestedLoopJoin that took 2597 s at 10x skew
        # (scripts/scale_smoke.py asof_lateral_Nx_skew; now 10 s)
        plan = _executed_plan(qs["q68_asof_join"](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
        assert "Window" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


class TestPushdownPruning:
    def test_q03_filter_pushed_to_scan(self, spark, qs):
        plan = _executed_plan(qs["q03_shipping_priority"](spark, SF_DIR))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any(f for f in pushed if f.strip()), plan

    def test_q01_scan_pruned_to_needed_columns(self, spark, qs):
        plan = _executed_plan(qs["q01_pricing_summary"](spark, SF_DIR))
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m, plan
        cols = {c.split(":")[0] for c in m.group(1).split(",")}
        # 16-column lineitem pruned to the 7 the query touches
        assert cols == {
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        }

    def test_q30_limit_reaches_scan(self, spark, qs):
        plan = _executed_plan(qs["q30_limit_sample"](spark, SF_DIR))
        assert ("TakeOrderedAndProject" in plan or "GlobalLimit" in plan
                or "CollectLimit" in plan)


class TestShuffleBudget:
    def test_q01_single_shuffle(self, spark, qs):
        # scan → partial agg → ONE exchange → final agg
        plan = _executed_plan(qs["q01_pricing_summary"](spark, SF_DIR))
        assert len(re.findall(r"\bExchange \(\d+\)", _final_tree(plan))) == 1

    def test_q01_partial_aggregation_mapside(self, spark, qs):
        # map-side combine: HashAggregate appears below AND above the
        # exchange (partial + final)
        plan = _executed_plan(qs["q01_pricing_summary"](spark, SF_DIR))
        assert len(re.findall(r"HashAggregate", _final_tree(plan))) >= 2

    def test_exact_dedup_single_shuffle(self, spark, qs):
        plan = _executed_plan(qs["x01_dedup_exact"](spark, SF_DIR))
        assert len(re.findall(r"\bExchange \(\d+\)", _final_tree(plan))) <= 2  # agg + final ordering


class TestCodegen:
    def test_q01_wholestage_codegen(self, spark, qs):
        plan = _executed_plan(qs["q01_pricing_summary"](spark, SF_DIR))
        assert "codegen id" in plan  # whole-stage codegen stage markers

    def test_no_python_udf_in_relational_corpus(self, spark, qs):
        # the whole relational surface must stay JVM-side
        for name in ("q01_pricing_summary", "q12_json_extract",
                     "q14_flatten_tokens", "q20_regex", "q21_md5_scd_id"):
            plan = _executed_plan(qs[name](spark, SF_DIR))
            assert "BatchEvalPython" not in plan, name
            assert "ArrowEvalPython" not in plan, name


class TestPartitionPruningReadiness:
    def test_events_date_filter_pushes(self, spark, qs):
        # date predicates push to parquet stats (row-group pruning
        # locally; at scale the same predicate prunes hive/iceberg
        # partitions)
        register_dir(spark, SF_DIR)
        df = spark.sql(
            "SELECT COUNT(*) FROM orders WHERE o_orderdate >= '1997-01-01'"
        )
        plan = _executed_plan(df)
        assert "GreaterThanOrEqual(o_orderdate" in plan


class TestTemporalJoinShapes:
    """x17/x18: the whole point of these operators is avoiding the
    nested-loop plan Catalyst gives raw inequality joins — lock that
    property in."""

    def test_asof_join_is_window_not_nlj(self, spark, qs):
        plan = _executed_plan(qs["x17_asof_join"](spark, SF_DIR))
        tree = _final_tree(plan)
        assert "Window" in tree
        assert "BroadcastNestedLoopJoin" not in tree
        assert "CartesianProduct" not in tree
        # union-of-sides rendering: no join node at all
        assert "SortMergeJoin" not in tree

    def test_range_join_is_hash_join_not_nlj(self, spark, qs):
        plan = _executed_plan(qs["x18_range_join"](spark, SF_DIR))
        tree = _final_tree(plan)
        assert "BroadcastNestedLoopJoin" not in tree
        assert "CartesianProduct" not in tree
        assert "BroadcastHashJoin" in tree or "SortMergeJoin" in tree

    def test_media_probe_scan_prunes_columns(self, spark, qs):
        plan = _executed_plan(qs["x19_media_probe"](spark, SF_DIR))
        # only doc_id and text should be read from documents
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m and set(
            c.split(":")[0] for c in m.group(1).split(",") if c
        ) <= {"doc_id", "text"}


class TestBucketedJoin:
    """clustered_by/buckets materialization: two tables bucketed on
    the same key with the same bucket count must join with NO
    Exchange — the co-located-join path that replaces a 100 TB
    shuffle with local sorts."""

    def test_bucketed_join_has_no_exchange(self, spark):
        from dbt_icebreaker_spark import IcebreakerEngine

        eng = IcebreakerEngine(spark, schema="bucket_demo")
        register_dir(spark, SF_DIR)
        eng.run_model(
            "cust_b", "SELECT c_custkey, c_name FROM customer",
            "table", clustered_by="c_custkey", buckets=8,
        )
        eng.run_model(
            "ord_b", "SELECT o_custkey, o_totalprice FROM orders",
            "table", clustered_by="o_custkey", buckets=8,
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = spark.sql(
                "SELECT c.c_custkey, c.c_name, SUM(o.o_totalprice) AS t "
                "FROM bucket_demo.cust_b c "
                "JOIN bucket_demo.ord_b o ON c.c_custkey = o.o_custkey "
                "GROUP BY c.c_custkey, c.c_name"
            )
            plan = _executed_plan(df)
            tree = _final_tree(plan)
            assert "SortMergeJoin" in tree
            assert "Exchange" not in tree  # bucketing removed ALL shuffles
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def test_clustered_by_requires_buckets(self, spark):
        from dbt_icebreaker_spark import IcebreakerEngine

        eng = IcebreakerEngine(spark, schema="bucket_demo")
        register_dir(spark, SF_DIR)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="clustered_by and buckets"):
            eng.run_model(
                "bad_b", "SELECT c_custkey FROM customer",
                "table", clustered_by="c_custkey",
            )


class TestSaltedJoin:
    def _skewed(self, spark):
        # 2000 rows of one hot key + a uniform tail
        hot = spark.range(2000).select(
            F.lit(7).alias("k"), F.col("id").alias("v")
        )
        tail = spark.range(500).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("v")
        )
        return hot.unionAll(tail)

    def test_salted_join_matches_plain_join(self, spark):
        from dbt_icebreaker_spark.xops.skew import salted_join

        left = self._skewed(spark)
        right = spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        got = salted_join(left, right, on="k", n_salts=8)
        want = left.join(right, "k")
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0

    def test_salt_extends_join_key(self, spark):
        from dbt_icebreaker_spark.xops.skew import SALT_COL, salted_join

        left = self._skewed(spark)
        right = spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        plan = _executed_plan(salted_join(left, right, on="k", n_salts=8))
        assert SALT_COL in plan  # the physical join keys carry the salt

    def test_top_keys_heaviest_first(self, spark):
        # X12 diagnostic: the k heaviest keys with their row counts,
        # heaviest first (hot key 7: 2000 rows + its 10 in the tail)
        from dbt_icebreaker_spark.xops.skew import top_keys

        df = self._skewed(spark)
        top = [tuple(r) for r in top_keys(df, "k", k=3).collect()]
        assert len(top) == 3
        assert top[0] == (7, 2010)
        assert [n for _, n in top[1:]] == [10, 10]
        assert [tuple(r) for r in top_keys(df, ["k"], k=1).collect()] == [(7, 2010)]

    def test_right_join_rejected(self, spark):
        import pytest as _pytest

        from dbt_icebreaker_spark.xops.skew import salted_join

        df = self._skewed(spark)
        with _pytest.raises(ValueError, match="inner/left"):
            salted_join(df, df, on="k", how="right")


class TestTrainingPipelineShapes:
    """x22/x24: the scale contract of the new corpus-hygiene ops —
    the CORPUS side must never shuffle; only tiny derived frames
    (benchmark grams, per-domain rates) may move, as broadcasts."""

    def test_decontaminate_corpus_never_shuffles(self, spark, qs):
        plan = _executed_plan(qs["x22_decontaminate"](spark, SF_DIR))
        tree = _final_tree(plan)
        # both joins build on broadcast sides
        assert len(re.findall(r"BroadcastHashJoin", tree)) == 2
        assert "SortMergeJoin" not in tree
        # the only Exchanges allowed: the bench-gram distinct and the
        # per-doc hit-count aggregate (both tiny); corpus text rows
        # themselves stream map-side
        assert len(re.findall(r"\bExchange \(\d+\)", tree)) <= 2

    def test_domain_mix_is_broadcast_filter(self, spark, qs):
        plan = _executed_plan(qs["x24_domain_mix"](spark, SF_DIR))
        tree = _final_tree(plan)
        assert "BroadcastHashJoin" in tree
        assert "SortMergeJoin" not in tree

    def test_scrub_is_pure_projection(self, spark, qs):
        plan = _executed_plan(qs["x27_scrub_pii"](spark, SF_DIR))
        tree = _final_tree(plan)
        # no join, no aggregate, no shuffle — a scan + project only
        assert "Join" not in tree
        assert "Exchange" not in tree

    def test_profile_single_aggregate(self, spark, qs):
        plan = _executed_plan(qs["x26_profile"](spark, SF_DIR))
        tree = _final_tree(plan)
        # one partial+final aggregate pair → exactly one exchange
        assert len(re.findall(r"\bExchange \(\d+\)", tree)) == 1
        assert "SortMergeJoin" not in tree and "BroadcastHashJoin" not in tree


class TestBucketedIncremental:
    def test_merge_preserves_bucketed_layout(self, spark):
        """A bucketed incremental table must still join Exchange-free
        AFTER a merge batch rewrites it (the staged-overwrite path
        re-declares the bucket spec)."""
        from dbt_icebreaker_spark import IcebreakerEngine

        eng = IcebreakerEngine(spark, schema="bucket_demo")
        register_dir(spark, SF_DIR)
        eng.run_model(
            "cust_inc", "SELECT c_custkey, c_name FROM customer",
            "incremental", unique_key="c_custkey",
            incremental_strategy="merge", clustered_by="c_custkey", buckets=8,
        )
        # second batch rewrites via staged overwrite
        eng.run_model(
            "cust_inc", "SELECT c_custkey, c_name FROM customer WHERE c_custkey < 100",
            "incremental", unique_key="c_custkey",
            incremental_strategy="merge", clustered_by="c_custkey", buckets=8,
        )
        eng.run_model(
            "ord_inc2", "SELECT o_custkey, o_totalprice FROM orders",
            "table", clustered_by="o_custkey", buckets=8,
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = spark.sql(
                "SELECT c.c_custkey, SUM(o.o_totalprice) AS t "
                "FROM bucket_demo.cust_inc c "
                "JOIN bucket_demo.ord_inc2 o ON c.c_custkey = o.o_custkey "
                "GROUP BY c.c_custkey"
            )
            tree = _final_tree(_executed_plan(df))
            assert "SortMergeJoin" in tree
            assert "Exchange" not in tree
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


    def test_merge_without_key_keeps_bucket_spec(self, spark):
        """merge with no unique_key degenerates to an append; like
        append it must re-declare the bucket spec, or Spark rejects
        the write on a bucketed target (bucketing mismatch)."""
        from dbt_icebreaker_spark import IcebreakerEngine

        eng = IcebreakerEngine(spark, schema="bucket_demo")
        register_dir(spark, SF_DIR)
        kw = dict(clustered_by="c_custkey", buckets=8)
        sql = "SELECT c_custkey, c_name FROM customer WHERE "
        eng.run_model("cust_nokey", sql + "c_custkey < 100", "incremental", **kw)
        res = eng.run_model(
            "cust_nokey", sql + "c_custkey >= 100", "incremental", **kw)
        assert res.details["strategy"] == "merge(append)"
        assert res.rows == spark.table("customer").count()
        desc = {r[0]: r[1] for r in spark.sql(
            "DESCRIBE TABLE EXTENDED bucket_demo.cust_nokey").collect()}
        assert desc["Num Buckets"] == "8"


class TestMaterializationJobFloor:
    """Every materialization call learns its row count from its own
    write (ddl.write_table observes count(1) on the written frame), so
    none re-scans the table it just wrote — such a recount costs two
    jobs per call. MERGE, UPDATE … FROM, DELETE and UPDATE statements
    likewise count affected rows, and MERGE checks for duplicate
    matches, with observations on their one write. Jobs per call,
    counted in one job group, stay at or under the measured floor."""

    # call → most jobs allowed
    FLOOR = {
        "seed": 3, "table": 1, "incremental_create": 1, "merge": 3,
        "delete_insert": 3, "append": 3, "snapshot_first": 2,
        "snapshot_update": 6,
        "merge_upsert": 3, "merge_update": 2, "merge_update_partial": 2,
        "merge_delete": 2, "merge_delete_insert": 3, "merge_insert": 2,
        "update_from": 2, "delete": 1, "update": 1,
        "delete_partitioned": 1, "merge_upsert_bucketed": 3,
        "merge_partial": 3,
    }

    def test_jobs_per_call(self, spark, tmp_path):
        import datetime

        from dbt_icebreaker_spark import IcebreakerEngine

        eng = IcebreakerEngine(spark, schema="job_floor")
        register_dir(spark, SF_DIR)
        sc = spark.sparkContext
        seed = tmp_path / "seed.csv"
        seed.write_text("k,v\n1,a\n2,b\n3,c\n")
        orders = "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE "
        snap = (
            "SELECT c_custkey, IFF(c_custkey % 7 = 0, c_acctbal + {d}, "
            "c_acctbal) AS c_acctbal FROM customer"
        )

        def inc(name, strategy, **kw):
            """Run the first batch now; return the second batch's call."""
            eng.run_model(name, orders + "o_orderkey < 3000", "incremental",
                          incremental_strategy=strategy, **kw)
            return lambda: eng.run_model(
                name, orders + "o_orderkey >= 2000", "incremental",
                incremental_strategy=strategy, **kw)

        def snapshot(day):
            return lambda: eng.run_snapshot(
                "jf_snap", snap.format(d=day), unique_key="c_custkey",
                strategy="check", check_cols=["c_acctbal"],
                now=datetime.datetime(2026, 4, day))

        def statement(name, sql, create="AS " + orders):
            """Create the target now (``create``: the CREATE TABLE tail
            before its WHERE); return the statement's call, which
            also collects the one-row result."""
            spark.sql(f"DROP TABLE IF EXISTS job_floor.{name}")
            spark.sql(f"CREATE TABLE job_floor.{name} {create}o_orderkey < 1000")
            return lambda: eng.execute(
                sql.format(t=f"job_floor.{name} t")).collect()

        def merge(name, when, **kw):
            return statement(name, (
                "MERGE INTO {t} USING (" + orders + "o_orderkey >= 500 "
                "AND o_orderkey < 1400) s ON t.o_orderkey = s.o_orderkey "
                + when), **kw)

        calls = {
            "seed": lambda: eng.seed_csv("jf_seed", str(seed)),
            "table": lambda: eng.run_model("jf_table", orders + "true"),
            "incremental_create": lambda: eng.run_model(
                "jf_create", orders + "true", "incremental",
                unique_key="o_orderkey"),
            "merge": inc("jf_merge", "merge", unique_key="o_orderkey"),
            "delete_insert": inc("jf_di", "delete+insert", unique_key="o_orderkey"),
            "append": inc("jf_append", "append"),
            "merge_partial": inc("jf_mpart", "merge", unique_key="o_orderkey",
                                 merge_update_columns=["o_totalprice"]),
            "snapshot_first": snapshot(1),
            "snapshot_update": snapshot(2),
            "merge_upsert": merge(
                "jf_mu", "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"),
            "merge_update": merge("jf_mup", "WHEN MATCHED THEN UPDATE SET *"),
            "merge_update_partial": merge(
                "jf_mpp", "WHEN MATCHED THEN UPDATE SET "
                "t.o_totalprice = s.o_totalprice"),
            "merge_delete": merge("jf_md", "WHEN MATCHED THEN DELETE"),
            "merge_delete_insert": merge(
                "jf_mdi", "WHEN MATCHED THEN DELETE "
                "WHEN NOT MATCHED THEN INSERT *"),
            "merge_insert": merge("jf_mi", "WHEN NOT MATCHED THEN INSERT *"),
            "update_from": statement("jf_uf", (
                "UPDATE {t} SET o_totalprice = s.o_totalprice * 2 FROM ("
                + orders + "o_orderkey >= 500) s "
                "WHERE t.o_orderkey = s.o_orderkey")),
            "delete": statement(
                "jf_del", "DELETE FROM {t} WHERE o_totalprice > 100000"),
            "delete_partitioned": statement(
                "jf_delp", "DELETE FROM {t} WHERE o_totalprice > 100000",
                create="USING parquet PARTITIONED BY (o_orderstatus) AS "
                "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
                "WHERE "),
            "merge_upsert_bucketed": merge(
                "jf_mub", "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *",
                create="USING parquet CLUSTERED BY (o_orderkey) INTO 4 "
                "BUCKETS AS " + orders),
            "update": statement(
                "jf_upd", "UPDATE {t} SET o_totalprice = 0 "
                "WHERE o_totalprice > 100000"),
        }
        got = {}
        for label, call in calls.items():
            group = f"job-floor-{label}"
            sc.setJobGroup(group, label)
            try:
                call()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is async
            got[label] = len(sc.statusTracker().getJobIdsForGroup(group))
        over = {k: (n, self.FLOOR[k]) for k, n in got.items() if n > self.FLOOR[k]}
        assert not over, f"jobs per call over the floor: {over} (all: {got})"


class TestStatusStatementJobs:
    """Statements the engine answers from the driver (no-ops, session
    registries, shaped-but-empty listings) build their result as an
    Arrow LocalRelation: running one and collecting its result runs no
    Spark job. A Python-list frame costs one job per collect, and a
    bare ``SELECT <expr>`` (SET's evaluation) plans an RDD scan."""

    STATEMENTS = (
        "BEGIN", "COMMIT", "ROLLBACK WORK",
        "GRANT SELECT ON TABLE t TO ROLE r", "REVOKE ROLE r FROM USER u",
        "SET jz_v = 5", "SHOW VARIABLES", "UNSET jz_v",
        "SHOW GRANTS", "SHOW FUTURE GRANTS IN SCHEMA s", "SHOW ROLES",
        "SHOW TERSE USERS", "SHOW WAREHOUSES", "SHOW TRANSACTIONS",
        "SHOW LOCKS",
        "USE WAREHOUSE wh", "USE ROLE r", "CREATE OR REPLACE ROLE r",
        "DROP USER u", "CREATE WAREHOUSE w", "ALTER WAREHOUSE w SUSPEND",
        "DESC WAREHOUSE w", "DESCRIBE ROLE r",
        "ALTER SESSION SET TIMEZONE = 'UTC'",
        "ALTER SESSION SET QUERY_TAG = 'jobs'",
        "ALTER TABLE t SUSPEND RECLUSTER",
        "ALTER TABLE t SET DATA_RETENTION_TIME_IN_DAYS = 1",
        "CREATE SEQUENCE jz_seq", "SHOW SEQUENCES", "DESC SEQUENCE jz_seq",
        "DROP SEQUENCE jz_seq",
        "CREATE STAGE jz_st", "SHOW STAGES", "DESC STAGE jz_st",
        "LIST @jz_st", "DROP STAGE jz_st",
        "CREATE FILE FORMAT jz_ff TYPE = CSV", "SHOW FILE FORMATS",
        "DESC FILE FORMAT jz_ff", "DROP FILE FORMAT jz_ff",
        "CREATE OR REPLACE PROCEDURE jz_p() RETURNS STRING LANGUAGE SQL "
        "AS $$ BEGIN RETURN 'x'; END $$",
        "SHOW PROCEDURES", "DROP PROCEDURE jz_p()",
        "DESC RESULT LAST_QUERY_ID()",
    )

    def test_status_statements_run_no_job(self, spark):
        from dbt_icebreaker_spark import IcebreakerEngine

        eng = IcebreakerEngine(spark, schema="status_jobs")
        sc = spark.sparkContext
        got = {}
        for i, sql in enumerate(self.STATEMENTS):
            group = f"status-jobs-{i}"
            sc.setJobGroup(group, sql)
            try:
                eng.execute(sql).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is async
            got[sql] = len(sc.statusTracker().getJobIdsForGroup(group))
        ran = {k: n for k, n in got.items() if n}
        assert not ran, f"status statements that ran Spark jobs: {ran}"

    def test_scalar_evaluations_run_no_job(self, spark):
        """A scripting block's declarations, conditions, assignments
        and RETURN, and a CALL's argument binding, evaluate over the
        one-row VALUES that SET uses: none of them runs a Spark job."""
        from dbt_icebreaker_spark import IcebreakerEngine

        eng = IcebreakerEngine(spark, schema="status_jobs")
        eng.execute(
            "CREATE OR REPLACE PROCEDURE jz_add(a INTEGER, b INTEGER) "
            "RETURNS INTEGER LANGUAGE SQL AS $$ BEGIN RETURN a + b; END $$"
        )
        sc = spark.sparkContext
        got = {}
        for i, (sql, want) in enumerate((
            ("BEGIN LET x INTEGER := 1; IF (x > 0) THEN x := x + 1; "
             "END IF; RETURN x; END", 2),
            ("CALL jz_add(1, 2)", 3),
            ("SET jz_w = 41 + 1", "42"),
        )):
            group = f"scalar-jobs-{i}"
            sc.setJobGroup(group, sql)
            try:
                assert eng.execute(sql).collect()[0][-1] == want
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            got[sql] = len(sc.statusTracker().getJobIdsForGroup(group))
        ran = {k: n for k, n in got.items() if n}
        assert not ran, f"scalar evaluations that ran Spark jobs: {ran}"


class TestStatementDispatch:
    """A statement's head words pick its handlers: a query head
    (SELECT, WITH) has none, so it reaches the transpiler without
    being offered to any DML/DDL statement parser."""

    PARSERS = (
        ("dbt_icebreaker_spark.procedures", "parse_create_procedure"),
        ("dbt_icebreaker_spark.procedures", "parse_drop_procedure"),
        ("dbt_icebreaker_spark.procedures", "parse_call"),
        ("dbt_icebreaker_spark.materializations.create_table",
         "parse_swap_with"),
        ("dbt_icebreaker_spark.materializations.create_table",
         "parse_create_or_replace_table"),
        ("dbt_icebreaker_spark.materializations.insert_all",
         "parse_insert_all"),
        ("dbt_icebreaker_spark.materializations.merge_stmt",
         "parse_alter_columns"),
        ("dbt_icebreaker_spark.materializations.merge_stmt", "parse_delete"),
        ("dbt_icebreaker_spark.materializations.merge_stmt", "parse_update"),
        ("dbt_icebreaker_spark.materializations.merge_stmt", "parse_merge"),
        ("dbt_icebreaker_spark.materializations.copy_into",
         "parse_transform_copy"),
        ("dbt_icebreaker_spark.materializations.copy_into",
         "parse_copy_into"),
    )

    @pytest.mark.parametrize("sql", [
        "SELECT 1 AS a, 'x' AS b",
        "/* lead */ WITH c AS (SELECT 2 AS a) SELECT a FROM c",
    ])
    def test_queries_skip_statement_parsers(self, spark, monkeypatch, sql):
        import importlib

        from dbt_icebreaker_spark import IcebreakerEngine

        eng = IcebreakerEngine(spark, schema="dispatch_test")

        def boom(*a, **kw):
            raise AssertionError("a query reached a statement parser")

        for mod, name in self.PARSERS:
            monkeypatch.setattr(importlib.import_module(mod), name, boom)
        assert len(eng.execute(sql).collect()) == 1


class TestRound3OpPlans:
    def test_quality_filter_scans_once_no_presort(self, spark, qs):
        """filter_corpus is scan-speed: the per-doc flags are one
        projection; the only exchange is the final 1-row report agg."""
        plan = _executed_plan(qs["x36_quality_filter"](spark, SF_DIR))
        tree = _final_tree(plan)
        assert "Join" not in tree
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
        # partial agg map-side, single exchange to the 1-row final
        assert len(re.findall(r"\bExchange \(\d+\)", tree)) == 1

    def test_common_shingles_reuses_shingle_exchange(self, spark, qs):
        """doc-frequency groupBy and the join back run on the same
        shingle key: the join must not add a SortMergeJoin re-shuffle
        of the corpus side beyond the shared shingle exchange + the
        final per-doc aggregate."""
        plan = _executed_plan(qs["x37_common_shingles"](spark, SF_DIR))
        tree = _final_tree(plan)
        assert "PythonUDF" not in plan
        # shingle-key exchanges + per-doc agg exchange; the shingle
        # fragment's REPARTITION(par, id) hint adds one more — cap the
        # total
        assert len(re.findall(r"\bExchange \(\d+\)", tree)) <= 5

    def test_semantic_dedup_broadcasts_centroids(self, spark, qs):
        """centroid assignment must broadcast (≤n_cells rows); the
        within-cell pair join may shuffle on cell, never on vectors
        crossed against vectors."""
        plan = _executed_plan(qs["x38_semantic_dedup"](spark, SF_DIR))
        tree = _final_tree(plan)
        assert "BroadcastNestedLoopJoin" in tree or "BroadcastHashJoin" in tree
        assert "CartesianProduct" not in tree

    def test_click_attribution_no_cartesian(self, spark, qs):
        """the interval join must hash-join on user_id with the time
        range as residual condition — a cartesian/NLJ plan would scan
        views x clicks."""
        plan = _executed_plan(qs["s06_click_attribution"](spark, SF_DIR))
        tree = _final_tree(plan)
        assert "CartesianProduct" not in tree
        assert ("BroadcastHashJoin" in tree) or ("SortMergeJoin" in tree) or (
            "ShuffledHashJoin" in tree
        )


class TestSimilarityPlans:
    """The similarity ops share one rendering per vector primitive
    (xops/similarity.py); these pin the physical shapes it keeps."""

    @pytest.mark.parametrize("name", ["x06_ann_topk", "x43_hard_negatives"])
    def test_query_side_broadcast_top_k_only_shuffle(self, spark, qs, name):
        """The query side is broadcast into the pair join, and the
        per-query top-k window is the one shuffle: the corpus side
        never crosses the network."""
        tree = _final_tree(_executed_plan(qs[name](spark, SF_DIR)))
        assert "BroadcastNestedLoopJoin" in tree
        assert len(re.findall(r"\bBroadcastExchange \(\d+\)", tree)) == 1
        assert len(re.findall(r"\bExchange \(\d+\)", tree)) == 1

    def test_semantic_dedup_reuses_assignment(self, spark, qs):
        """The cell assignment is read three times (both sides of the
        within-cell pair join and the final left join); its exchanges
        are reused, not recomputed — the reuse a one-statement
        rendering loses to CTE inlining."""
        tree = _final_tree(_executed_plan(qs["x38_semantic_dedup"](spark, SF_DIR)))
        assert len(re.findall(r"\bReusedExchange \(\d+\)", tree)) >= 1

    def test_dequantize_error_is_one_projection(self, spark, qs):
        """x55 quantizes and reconstructs each row in one projection:
        no join back to the input on its id."""
        tree = _final_tree(_executed_plan(
            qs["x55_quantize_embeddings"](spark, SF_DIR)))
        assert "Join" not in tree
        assert "Exchange" not in tree


class TestWeightedSampleShape:
    """weighted_sample's exact path must be heap-based top-k — a plan
    with a global sort Exchange would be THE bottleneck at 100 TB."""

    def test_take_ordered_no_exchange(self, spark):
        from dbt_icebreaker_spark.xops.sampling import weighted_sample

        df = spark.range(50000).selectExpr("id AS doc_id", "id % 7 + 1 AS w")
        out = weighted_sample(df, "doc_id", "w", 50, prefilter=False)
        plan = _executed_plan(out)
        tree = _final_tree(plan)
        assert "TakeOrderedAndProject" in tree
        assert "Exchange" not in tree
        # weight filter stays inside the codegen span before the heap
        assert "Filter" in tree


class TestLmScoreShape:
    """lm_score's model joins must be broadcast at fixture scale (the
    model is vocabulary-bound); a SortMergeJoin would mean the corpus
    side is being sorted for a dimension-sized build."""

    def test_model_joins_broadcast(self, spark):
        from dbt_icebreaker_spark.xops.text import lm_score

        register_dir(spark, SF_DIR)
        out = lm_score(spark.table("documents"), "doc_id", "text")
        plan = _executed_plan(out)
        tree = _final_tree(plan)
        assert "BroadcastHashJoin" in tree
        assert "SortMergeJoin" not in tree


class TestMediaOpPlans:
    """Round-2 decode ops must keep the shapes that survive 100 TB:
    per-row decode pipelines are exchange-free (synthesis → decode is
    one mapInPandas chain, no shuffle), and the dHash near-dup join
    shuffles exactly once (band window + in-bucket pair explode —
    never a self-join that recomputes the decode per side)."""

    def test_image_stats_pipeline_no_exchange(self, spark):
        from dbt_icebreaker_spark.xops import imaging

        ids = spark.range(0, 50).select(F.col("id").alias("doc_id"))
        stats = imaging.image_stats(
            imaging.synthesize_decodable_pngs(ids, "doc_id")
        )
        plan = _executed_plan(stats)
        assert "Exchange" not in plan
        # synth + decode, chained (node list entries, not tree echoes)
        assert len(re.findall(r"^\(\d+\) MapInPandas", plan, re.M)) == 2

    def test_audio_stats_pipeline_no_exchange(self, spark):
        from dbt_icebreaker_spark.xops import audio

        ids = spark.range(0, 50).select(F.col("id").alias("doc_id"))
        stats = audio.audio_stats(audio.synthesize_wav_corpus(ids, "doc_id"))
        plan = _executed_plan(stats)
        assert "Exchange" not in plan

    def test_image_neardup_single_band_shuffle(self, spark):
        from dbt_icebreaker_spark.xops import imaging

        ids = spark.range(0, 30).select(F.col("id").alias("doc_id"))
        stats = imaging.image_stats(imaging.synthesize_block_pngs(ids, "doc_id"))
        pairs = imaging.image_neardup_pairs(stats)
        plan = _executed_plan(pairs)
        # no join operator at all: pair generation is window + group +
        # explode over band buckets
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


class TestRound2EntryPlans:
    def test_corpus_pipeline_no_cartesian_no_python_udf(self, spark, qs):
        df = qs["x57_corpus_pipeline"](spark, SF_DIR)
        plan = _executed_plan(df)
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan  # scrub/filters stay JVM-side

    def test_zorder_single_range_exchange(self, spark):
        from dbt_icebreaker_spark.materializations.maintenance import (
            cluster_by_zorder,
        )
        from dbt_icebreaker_spark.sources import read_parquet

        df = read_parquet(spark, "/root/testdata/sf0.001/orders.parquet")
        plan = _executed_plan(cluster_by_zorder(df, ["o_custkey", "o_totalprice"], 4))
        # exactly one range exchange, keyed on the z-value (formatted
        # explain labels the node 'Exchange' with rangepartitioning in
        # its Arguments detail)
        # (the detail section repeats once when AQE prints both the
        # final and initial plans)
        n_range = len(re.findall(r"Arguments: rangepartitioning\(__zvalue", plan))
        assert 1 <= n_range <= 2, plan
        assert "hashpartitioning(__zvalue" not in plan


class TestRound3PlanShapes:
    """Plan guards for the round-3 operators."""

    def test_video_frame_pipeline_exchange_free(self, spark):
        """synthesize → demux/extract → decode/stats is a pure
        mapInPandas chain: ZERO exchanges until an aggregation —
        payload bytes never shuffle."""
        from dbt_icebreaker_spark.xops import imaging, video

        base = spark.range(8).select(F.col("id").alias("doc_id"))
        media = video.synthesize_mjpeg_corpus(base, "doc_id")
        frames = video.extract_frames_mp4(media, max_frames=2)
        keyed = frames.select(
            (F.col("media_id") * 10 + F.col("frame_idx")).alias("media_id"),
            F.col("frame_payload").alias("payload"),
        )
        stats = imaging.image_stats(keyed)
        plan = _final_tree(_executed_plan(stats))
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan  # Arrow batches, not row UDFs

    def test_jpeg_stats_exchange_free(self, spark):
        from dbt_icebreaker_spark.xops import imaging

        base = spark.range(8).select(F.col("id").alias("doc_id"))
        media = imaging.synthesize_block_jpegs(base, "doc_id")
        plan = _final_tree(_executed_plan(imaging.image_stats(media)))
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan

    def test_star_cc_round_is_two_window_shuffles(self, spark):
        """One alternation = large-star window + small-star window —
        no joins, no distinct shuffles (the round-3 rewrite's claim).
        Pinned by running one round's composed plan shape."""
        from pyspark.sql import Window

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], ["src", "dst"]
        )
        w = Window.partitionBy("src")
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        large = (
            sym.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        oriented = large.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        small = oriented.withColumn("m", F.min("dst").over(w))
        plan = _final_tree(_executed_plan(small))
        assert plan.count("Exchange") == 2  # one per star op
        assert "Join" not in plan

    def test_ivf_search_broadcasts_centroids(self, spark):
        """IVF probe side: centroids reach queries via broadcast, and
        the candidate join is the only exchange pair — the corpus scan
        never crosses the network to meet the (tiny) centroid list."""
        register_dir(spark, SF_DIR)
        from dbt_icebreaker_spark.xops import similarity

        emb = spark.table("embeddings")
        out = similarity.ivf_topk(
            emb, emb.filter(F.col("vec_id") < 5), "vec_id", "embedding",
            k=3, n_cells=4, n_probe=2, round_to=6, centroid_round=9,
        )
        plan = _final_tree(_executed_plan(out))
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan

    def test_x14_job_floor_no_python_worker(self, spark, qs):
        """x14 (LSH pairs → dedup_clusters) at sf0.001 finishes its
        small edge set on the driver: build + collect stay within the
        measured job count (the star-round rendering ran 12), and no
        stage runs a Python worker — the driver's label frame is built
        from Arrow; a Python-list frame would add a PythonRDD stage."""
        register_dir(spark, SF_DIR)  # registration jobs stay outside
        sc = spark.sparkContext
        group = "x14-job-floor"
        sc.setJobGroup(group, "x14 build then collect")
        try:
            qs["x14_dedup_clusters"](spark, SF_DIR).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is async
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        assert 0 < len(jobs) <= 7
        store = sc._jsc.sc().statusStore()

        def rdd_names(cluster):
            nodes, subs = cluster.childNodes(), cluster.childClusters()
            for i in range(nodes.size()):
                yield nodes.apply(i).name()
            for i in range(subs.size()):
                yield from rdd_names(subs.apply(i))

        # Only a stage that ran can run a Python worker. A skipped stage
        # (its shuffle output reused) ran as a stage of an earlier job,
        # and the status store evicts skipped stages first once it holds
        # more than spark.ui.retainedStages, so late in a long session
        # their graphs are gone.
        ran = [
            s
            for j in jobs
            for s in tracker.getJobInfo(j).stageIds
            if (info := tracker.getStageInfo(s)) is not None
            and info.numCompletedTasks > 0
        ]
        assert ran
        python = [
            (s, n)
            for s in ran
            for n in rdd_names(store.operationGraphForStage(s).rootCluster())
            if "Python" in n
        ]
        assert python == []


class TestRound6DmlPlans:
    """Round-6 join-shaped DML: the general-merge rewrite (renamed
    keys, UPDATE ... FROM) must plan as EQUI joins — never a nested
    loop or cartesian product."""

    def _survivors_plan(self, spark, on_renamed: bool):
        import uuid

        from dbt_icebreaker_spark.runner import IcebreakerEngine

        sch = f"pq6_{uuid.uuid4().hex[:8]}"
        eng = IcebreakerEngine(spark, schema=sch)
        spark.sql(
            f"CREATE TABLE {sch}.t AS "
            "SELECT id AS k, CAST(id AS DOUBLE) AS v FROM RANGE(1000)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW pq6_src AS "
            "SELECT id * 2 AS sk, CAST(id AS DOUBLE) * 3 AS sv "
            "FROM RANGE(800)"
        )
        if on_renamed:
            eng.execute(
                f"MERGE INTO {sch}.t t USING pq6_src s ON t.k = s.sk "
                "WHEN MATCHED AND s.sv > 100 THEN UPDATE SET v = s.sv "
                "WHEN NOT MATCHED AND s.sk < 1500 THEN "
                "INSERT (k, v) VALUES (s.sk, s.sv)"
            )
        else:
            eng.execute(
                f"UPDATE {sch}.t t SET v = s.sv FROM pq6_src s "
                "WHERE t.k = s.sk AND s.sv > 100"
            )
        plan = _executed_plan(spark.table(f"{sch}.t"))
        spark.sql(f"DROP DATABASE {sch} CASCADE")
        return plan

    def test_renamed_key_merge_is_equi_join(self, spark):
        # the WRITE already ran through the rewrite; re-planning the
        # same statement's survivor query must show an equi join only
        import uuid

        from dbt_icebreaker_spark.materializations.merge_stmt import (
            parse_merge,
        )
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        sch = f"pq6m_{uuid.uuid4().hex[:8]}"
        IcebreakerEngine(spark, schema=sch)
        spark.sql(
            f"CREATE TABLE {sch}.t AS "
            "SELECT id AS k, CAST(id AS DOUBLE) AS v FROM RANGE(1000)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW pq6m_src AS "
            "SELECT id * 2 AS sk, CAST(id AS DOUBLE) * 3 AS sv "
            "FROM RANGE(800)"
        )
        spec = parse_merge(
            f"MERGE INTO {sch}.t t USING pq6m_src s ON t.k = s.sk "
            "WHEN MATCHED AND s.sv > 100 THEN UPDATE SET v = s.sv"
        )
        assert spec.key_pairs == [("k", "sk")]
        # the rewrite's join SQL: target LEFT JOIN source on the pair
        df = spark.sql(
            f"SELECT t.k FROM {sch}.t t LEFT JOIN pq6m_src s "
            "ON t.k = s.sk"
        )
        plan = _executed_plan(df)
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan
        assert "Join" in plan
        spark.sql(f"DROP DATABASE {sch} CASCADE")

    def test_update_from_executes_as_merge(self, spark):
        plan = self._survivors_plan(spark, on_renamed=False)
        # survivor table scans back parquet — and the rewrite did not
        # leave helper columns behind
        assert "__icebreaker" not in plan

    def test_general_merge_leaves_clean_table(self, spark):
        plan = self._survivors_plan(spark, on_renamed=True)
        assert "__icebreaker" not in plan


class TestRound9NestedMrPlan:
    """Round-9 nested MATCH_RECOGNIZE (the CTE/subquery resolver):
    nothing materializes at resolve time — the temp view holds the
    lazy operator plan, so the extracted source's filter still reaches
    the parquet scan UNDER the applyInPandas boundary, and the
    expression-measure decomposition adds only JVM projections."""

    def test_nested_mr_filter_pushed_to_scan(self, spark, qs):
        df = qs["x71_mr_composability"](spark, SF_DIR)
        plan = _executed_plan(df)
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any("user_id" in f for f in pushed), plan
        assert "MapInPandas" in plan or "ArrowEvalPython" in plan

    def test_expression_measures_stay_jvm_side(self, spark, qs):
        df = qs["x72_mr_expression_measures"](spark, SF_DIR)
        plan = _executed_plan(df)
        # one Python boundary KIND (the matcher) — the hidden input
        # column and derived formula are Project nodes, not extra UDF
        # kinds (the formatted plan repeats nodes across AQE sections,
        # so count distinct node ids, not string occurrences)
        import re as _re

        ids = set(_re.findall(
            r"MapInPandas \((\d+)\)", _final_tree(plan)))
        assert len(ids) == 1, plan
        assert "BatchEvalPython" not in plan  # no row-at-a-time UDFs
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any("user_id" in f for f in pushed), plan


class TestRound10FinalMeasurePlan:
    """Round-10 FINAL-under-ALL-ROWS: the back-fill happens INSIDE the
    matcher (the running value on a match's last row is the final
    value), so the plan must show exactly the automaton's one Exchange
    — a LAST_VALUE-over-match window here was measured to force a
    second full shuffle after the applyInPandas boundary."""

    def test_final_measures_add_no_shuffle(self, spark, qs):
        df = qs["x74_mr_final_all_rows"](spark, SF_DIR)
        plan = _executed_plan(df)
        tree = _final_tree(plan)
        assert len(set(re.findall(
            r"\bExchange[^(]*\((\d+)\)", tree))) == 1, tree
        assert "last_value" not in plan.lower(), plan
        ids = set(re.findall(
            r"MapInPandas \((\d+)\)", tree))
        assert len(ids) == 1, plan
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any("user_id" in f for f in pushed), plan


class TestRound11MrPartitionReuse:
    """Round-11: the matcher runs via mapInPandas over partition-level
    pandas grouping (per-group applyInPandas paid a fixed Arrow cost
    per key — measured 2.2s no-op vs 0.6s at sf0.1). When a DEFINE
    uses PREV/NEXT, its LAG/LEAD window already hash-partitions by
    the partition keys, so the matcher must NOT add a second
    exchange; with static-only DEFINEs it must add one (co-location
    is otherwise unguaranteed)."""

    def _mr(self, spark, define):
        from dbt_icebreaker_spark.xops.match_recognize import (
            MatchRecognizeSpec,
            match_recognize,
            parse_pattern_full,
        )

        register_dir(spark, SF_DIR)
        base = spark.sql(
            "SELECT user_id, value, event_id FROM events")
        terms, tree = parse_pattern_full("A B")
        spec = MatchRecognizeSpec(
            partition_by=["user_id"], order_by=["event_id"],
            pattern=terms, tree=tree, defines=define,
            measures=[], all_rows=False)
        return match_recognize(base, spec)

    def test_prev_define_reuses_window_exchange(self, spark):
        df = self._mr(spark, {"A": "value > 100",
                              "B": "value > PREV(value)"})
        plan = _executed_plan(df)
        tree = _final_tree(plan)
        assert len(set(re.findall(
            r"\bExchange[^(]*\((\d+)\)", tree))) == 1, tree

    def test_static_define_adds_exchange_for_colocation(self, spark):
        df = self._mr(spark, {"A": "value > 100", "B": "value < 100"})
        plan = _executed_plan(df)
        tree = _final_tree(plan)
        # exactly one exchange: the explicit repartition (no window)
        assert len(set(re.findall(
            r"\bExchange[^(]*\((\d+)\)", tree))) == 1, tree
        assert "hashpartitioning(user_id" in plan, plan

    def test_static_define_results_match_prev_route(self, spark):
        # semantic guard for the two routes: same pattern expressed
        # with a static define vs a PREV define must agree
        df1 = self._mr(spark, {"A": None, "B": "value >= 0"})
        from pyspark.sql import functions as F

        n_static = df1.count()
        assert n_static > 0


class TestQuantifiedCaseSubqueryMerge:
    """Round-12: the quantified-ALL/ANY CASE rendering references
    COUNT/MAX/NULL-count scalar subqueries over the SAME derived
    table; Catalyst's MergeScalarSubqueries must fold them into ONE
    merged aggregate (a `mergedValue` struct) rather than three
    separate scans — the scale-path claim in the transform's
    docstring."""

    def test_scalar_subqueries_merge(self, spark):
        from dbt_icebreaker_spark.transpiler import Transpiler

        t = Transpiler()
        spark.range(1000).selectExpr("id AS v").createOrReplaceTempView(
            "qmv")
        df = spark.sql(t.to_spark(
            "SELECT v FROM qmv WHERE v > ALL "
            "(SELECT v FROM qmv WHERE v < 500)"))
        plan = _executed_plan(df)
        # merged: every scalar subquery projects the shared struct
        assert "mergedValue" in plan, plan[:2000]
