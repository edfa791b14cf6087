"""S2 VARIANT ingest, CLI sync, and Iceberg conf parity tests."""

from __future__ import annotations

import json

import pytest

from dbt_icebreaker_spark.iceberg import IcebergConfig, catalog_conf, runtime_available
from dbt_icebreaker_spark.sources import CacheConfig, SourceCache


class TestVariantIngest:
    """Ref source_cache.py:224-308: VARIANT/OBJECT/ARRAY columns are
    downloaded as JSON text. Spark equivalent: struct/map/array columns
    cached via to_json, readable back with `col:path::type`."""

    def test_struct_column_cached_as_json_string(self, spark, tmp_path):
        src = spark.createDataFrame(
            [(1, {"a": 1, "b": "x"}, [1, 2, 3])],
            "id long, obj struct<a:long,b:string>, arr array<long>",
        )
        cache = SourceCache(
            spark,
            CacheConfig(cache_dir=str(tmp_path / "cache")),
            fetch=lambda db, s, t: src,
        )
        path = cache.cache_table("wh", "raw", "events_v")
        back = spark.read.parquet(path)
        assert dict(back.dtypes)["obj"] == "string"
        assert dict(back.dtypes)["arr"] == "string"
        row = back.collect()[0]
        assert json.loads(row.obj) == {"a": 1, "b": "x"}
        assert json.loads(row.arr) == [1, 2, 3]

    def test_cached_variant_supports_json_path(self, spark, tmp_path):
        src = spark.createDataFrame(
            [(1, {"a": 7, "b": "x"})], "id long, obj struct<a:long,b:string>"
        )
        cache = SourceCache(
            spark,
            CacheConfig(cache_dir=str(tmp_path / "cache")),
            fetch=lambda db, s, t: src,
        )
        cache.register("wh", "raw", "objs")
        # Snowflake-style col:path::type over the cached view
        from dbt_icebreaker_spark.transpiler import Transpiler

        sql = Transpiler().to_spark("SELECT obj:a::INT AS a FROM raw_objs")
        assert spark.sql(sql).collect()[0].a == 7


class TestAutoCacheSources:
    def test_caches_only_missing_refs(self, spark, tmp_path):
        # S3: every schema.table a SQL string reads that the catalog
        # lacks is fetched, cached and registered; a present one is not
        from dbt_icebreaker_spark.sources import auto_cache_sources

        fetched = []

        def fetch(db, schema, table):
            fetched.append((db, schema, table))
            return spark.createDataFrame([(1, table)], "id long, src string")

        cache = SourceCache(
            spark, CacheConfig(cache_dir=str(tmp_path / "cache")), fetch=fetch
        )
        cache.register("warehouse", "acs", "present_t")
        fetched.clear()
        sql = "SELECT * FROM acs.present_t p JOIN acs.missing_t m ON p.id = m.id"
        assert auto_cache_sources(cache, sql) == ["acs_missing_t"]
        assert fetched == [("warehouse", "acs", "missing_t")]
        assert spark.table("acs_missing_t").collect()[0].src == "missing_t"
        assert auto_cache_sources(cache, sql) == []
        assert len(fetched) == 1


class TestCliSync:
    def test_sync_command_end_to_end(self, spark, tmp_path, monkeypatch):
        from dbt_icebreaker_spark import cli

        # route CLI state + session to the live test session
        monkeypatch.setattr(cli, "STATE_DIR", str(tmp_path / "state"))
        import dbt_icebreaker_spark.session as session_mod

        monkeypatch.setattr(session_mod, "get_spark", lambda **kw: spark)
        spark.createDataFrame([(1,), (2,), (3,)], "id long").createOrReplaceTempView(
            "sync_src_a"
        )
        spark.createDataFrame([(9,)], "id long").createOrReplaceTempView("sync_src_b")

        rc = cli.main(
            [
                "sync",
                "sync_src_b:sync_src_a",
                "sync_src_a",
                "--parquet-dir",
                str(tmp_path / "out"),
            ]
        )
        assert rc == 0
        assert spark.read.parquet(str(tmp_path / "out" / "sync_src_a.parquet")).count() == 3
        assert spark.read.parquet(str(tmp_path / "out" / "sync_src_b.parquet")).count() == 1


class TestIcebergConf:
    """Ref connections.py:1000-1037 ATTACH knob set — the generated
    Spark conf must carry the same knobs per catalog type. Runnable
    without the Iceberg runtime jar (conf generation is pure); the
    attach path itself is exercised only when the jar exists."""

    def test_rest_catalog_full_knob_set(self):
        conf = catalog_conf(
            IcebergConfig(
                catalog_name="icy",
                catalog_type="rest",
                uri="https://catalog.example/v1",
                warehouse="s3://wh/path",
                token="tok",
                s3_access_key="AK",
                s3_secret_key="SK",
                s3_region="us-east-1",
            )
        )
        assert conf["spark.sql.catalog.icy"] == "org.apache.iceberg.spark.SparkCatalog"
        assert conf["spark.sql.catalog.icy.type"] == "rest"
        assert conf["spark.sql.catalog.icy.uri"] == "https://catalog.example/v1"
        assert conf["spark.sql.catalog.icy.warehouse"] == "s3://wh/path"
        assert conf["spark.sql.catalog.icy.token"] == "tok"
        assert conf["spark.hadoop.fs.s3a.access.key"] == "AK"
        assert conf["spark.hadoop.fs.s3a.secret.key"] == "SK"
        assert conf["spark.hadoop.fs.s3a.endpoint.region"] == "us-east-1"

    def test_token_wins_over_credential(self):
        conf = catalog_conf(
            IcebergConfig(catalog_name="c", token="tok", credential="cred")
        )
        assert conf["spark.sql.catalog.c.token"] == "tok"
        assert "spark.sql.catalog.c.credential" not in conf

    def test_credential_without_token(self):
        conf = catalog_conf(IcebergConfig(catalog_name="c", credential="cred"))
        assert conf["spark.sql.catalog.c.credential"] == "cred"

    def test_each_supported_catalog_type(self):
        from dbt_icebreaker_spark.iceberg import SUPPORTED_CATALOG_TYPES

        for ct in SUPPORTED_CATALOG_TYPES:
            conf = catalog_conf(IcebergConfig(catalog_name="c", catalog_type=ct))
            assert conf["spark.sql.catalog.c.type"] == ct

    def test_unknown_type_rejected(self):
        with pytest.raises(ValueError):
            catalog_conf(IcebergConfig(catalog_type="bogus"))

    @pytest.mark.skipif(
        True, reason="Iceberg Spark runtime jar not present in this environment"
    )
    def test_attach_with_runtime(self, spark):  # pragma: no cover
        assert runtime_available(spark)


class TestIcebergRuntimeRoundTrip:
    """S4/S5 executed for real, not just conf strings. The Iceberg
    runtime JAR is absent in this container, so the attach/write/read
    code paths run against Spark's own shipped DSv2 catalog
    (JDBCTableCatalog over in-memory Derby) via ``IcebergConfig.impl``
    — the same ``spark.sql.catalog.*`` conf mechanism, lazy catalog
    instantiation, and ``writeTo()`` V2 write path the Iceberg catalog
    uses (ref connections.py:990-1055 ATTACH, bridge.py:69-232 DDL)."""

    JDBC_IMPL = (
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog"
    )

    @pytest.fixture(scope="class")
    def v2cat(self, spark):
        from dbt_icebreaker_spark.iceberg import attach_catalog

        cfg = IcebergConfig(
            catalog_name="fakecat",
            catalog_type="hadoop",
            impl=self.JDBC_IMPL,
            properties={
                "url": "jdbc:derby:memory:fakecat_rt;create=true",
                "driver": "org.apache.derby.jdbc.EmbeddedDriver",
            },
        )
        attach_catalog(spark, cfg)  # runtime conf.set, lazily picked up
        spark.sql("CREATE NAMESPACE IF NOT EXISTS fakecat.ns")
        return "fakecat"

    def test_missing_runtime_is_actionable(self, spark):
        from dbt_icebreaker_spark.iceberg import attach_catalog

        assert not runtime_available(spark)  # real Iceberg class absent
        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            attach_catalog(spark, IcebergConfig(catalog_name="icy"))

    def test_attach_and_create_or_replace_roundtrip(self, spark, v2cat):
        from dbt_icebreaker_spark.iceberg import write_iceberg

        df = spark.range(5).withColumnRenamed("id", "k")
        write_iceberg(df, f"{v2cat}.ns.t_rt", mode="createOrReplace")
        got = spark.table(f"{v2cat}.ns.t_rt")
        assert got.count() == 5
        assert [f.name for f in got.schema.fields] == ["k"]
        # createOrReplace is idempotent — REPLACE, not duplicate
        write_iceberg(df, f"{v2cat}.ns.t_rt", mode="createOrReplace")
        assert spark.table(f"{v2cat}.ns.t_rt").count() == 5

    def test_append_mode(self, spark, v2cat):
        from dbt_icebreaker_spark.iceberg import write_iceberg

        df = spark.range(4).withColumnRenamed("id", "k")
        write_iceberg(df, f"{v2cat}.ns.t_app", mode="createOrReplace")
        write_iceberg(df, f"{v2cat}.ns.t_app", mode="append")
        assert spark.table(f"{v2cat}.ns.t_app").count() == 8

    def test_partitioned_create(self, spark):
        """partitionedBy flows through the V2 writer: session catalog +
        explicit parquet provider (JDBC catalogs reject partitioning,
        Iceberg accepts it — the writer code path is identical)."""
        from pyspark.sql import functions as F

        from dbt_icebreaker_spark.iceberg import write_iceberg

        spark.sql("DROP TABLE IF EXISTS default.t_part_rt")
        df = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("p")
        )
        write_iceberg(
            df,
            "spark_catalog.default.t_part_rt",
            partition_by="p",
            mode="create",
            using="parquet",
        )
        assert spark.table("default.t_part_rt").count() == 10
        detail = spark.sql("DESCRIBE TABLE default.t_part_rt").collect()
        txt = "\n".join(str(r) for r in detail)
        assert "Partition" in txt and "p" in txt
        spark.sql("DROP TABLE default.t_part_rt")

    def test_unknown_mode_rejected(self, spark):
        from dbt_icebreaker_spark.iceberg import write_iceberg

        with pytest.raises(ValueError, match="unknown mode"):
            write_iceberg(spark.range(1), "x.y.z", mode="bogus")


class TestCliStatusCommands:
    def test_status_runs_without_spark(self, tmp_path, monkeypatch, capsys):
        from dbt_icebreaker_spark import cli

        monkeypatch.setattr(cli, "STATE_DIR", str(tmp_path))
        rc = cli.main(["status"])
        out = json.loads(capsys.readouterr().out)
        assert rc == 0
        assert out["cache"] == {"entries": 0, "total_bytes": 0}
        assert out["telemetry_models"] == 0

    def test_update_stats_aggregates_telemetry(self, tmp_path, monkeypatch, capsys):
        from dbt_icebreaker_spark import cli
        from dbt_icebreaker_spark.observability.telemetry import TelemetryStore

        monkeypatch.setattr(cli, "STATE_DIR", str(tmp_path))
        store = TelemetryStore(path=str(tmp_path / "telemetry.json"))
        store.record("m1", 2.0, 100, {"spill_bytes": 5.0})
        store.record("m1", 4.0, 200, {"shuffle_write_bytes": 7.0})
        rc = cli.main(["update-stats"])
        out = json.loads(capsys.readouterr().out)
        assert rc == 0
        s = out["models"]["m1"]
        assert s["runs"] == 2 and s["avg_duration_s"] == 3.0
        assert s["max_spill_bytes"] == 5.0 and s["max_shuffle_write_bytes"] == 7.0


class TestNanosFooterCacheInvalidation:
    def test_rewrite_at_same_path_refreshes(self, tmp_path):
        import time
        import pyarrow as pa
        import pyarrow.parquet as pq
        from dbt_icebreaker_spark.sources import _nanos_timestamp_cols

        p = str(tmp_path / "t.parquet")
        ns = pa.table({"ts": pa.array([1, 2], type=pa.timestamp("ns"))})
        pq.write_table(ns, p)
        assert _nanos_timestamp_cols(p) == ("ts",)
        time.sleep(0.01)
        us = pa.table({"ts": pa.array([1, 2], type=pa.timestamp("us"))})
        pq.write_table(us, p)
        import os
        os.utime(p)  # ensure mtime advances even on coarse filesystems
        assert _nanos_timestamp_cols(p) == ()


class TestShuffleAutotune:
    """register_dir sizes shuffle partitions to the data directory on
    sessions still running Spark's out-of-the-box 200 — and never
    overrides an explicit setting."""

    def test_tunes_default_200(self, spark):
        from dbt_icebreaker_spark.sources import autotune_shuffle_partitions

        saved = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "200")
            autotune_shuffle_partitions(spark, "/root/testdata/sf0.001")
            tuned = int(spark.conf.get("spark.sql.shuffle.partitions"))
            assert tuned == 8  # few-MB dir → floor
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", saved)

    def test_respects_explicit_setting(self, spark):
        from dbt_icebreaker_spark.sources import autotune_shuffle_partitions

        saved = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "64")
            autotune_shuffle_partitions(spark, "/root/testdata/sf0.001")
            assert spark.conf.get("spark.sql.shuffle.partitions") == "64"
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", saved)

    def test_scales_up_with_size(self):
        from dbt_icebreaker_spark.sources import _dir_bytes

        # sizing rule: 32 MB per partition, floor 8, cap 2048
        assert _dir_bytes("/root/testdata/sf0.001") > 0


class TestCliHelp:
    def test_help_lists_every_command(self, capsys):
        from dbt_icebreaker_spark.cli import main

        assert main(["help"]) == 0
        out = capsys.readouterr().out
        for cmd in ("savings", "status", "health", "explain", "stats",
                    "run", "sync", "sync-status", "verify", "cache",
                    "update-stats", "summary", "version"):
            assert cmd in out


class TestCliRunProject:
    def test_run_project_end_to_end(self, spark, tmp_path, monkeypatch):
        import json as _json

        from dbt_icebreaker_spark import cli

        d = tmp_path / "models"
        d.mkdir()
        (d / "stg.sql").write_text(
            "{{ config(materialized='table') }}\n"
            "SELECT o_orderkey, o_totalprice FROM orders\n"
        )
        (d / "agg.sql").write_text(
            "{{ config(materialized='table') }}\n"
            "SELECT COUNT(*) AS n FROM {{ ref('stg') }}\n"
        )
        # reuse the test session instead of building a new one
        monkeypatch.setattr(cli, "get_spark", lambda **kw: spark, raising=False)
        import dbt_icebreaker_spark.session as sess
        monkeypatch.setattr(sess, "get_spark", lambda **kw: spark)
        rc = cli.main([
            "run-project", str(d), "--schema", "cli_proj_t",
            "--data-dir", "/root/testdata/sf0.001",
        ])
        assert rc == 0
        assert spark.table("cli_proj_t.agg").collect()[0].n > 0


class TestCliCatalog:
    def test_catalog_lists_tables_with_stats(self, spark, capsys, monkeypatch):
        import json as _json

        from dbt_icebreaker_spark import cli
        from dbt_icebreaker_spark.sources import read_parquet

        spark.sql("CREATE DATABASE IF NOT EXISTS cat_t")
        read_parquet(spark, "/root/testdata/sf0.001/region.parquet") \
            .write.mode("overwrite").saveAsTable("cat_t.region_c")
        import dbt_icebreaker_spark.session as sess
        monkeypatch.setattr(sess, "get_spark", lambda **kw: spark)
        assert cli.main(["catalog", "cat_t", "--rows"]) == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        entry = next(e for e in out if e["table"] == "cat_t.region_c")
        assert entry["rows"] == 5 and entry["bytes"] > 0 and entry["files"] >= 1
        assert any(c["name"] == "r_name" for c in entry["columns"])


class TestCopyIntoOrc:
    def test_orc_load_by_name(self, spark, tmp_path):
        from dbt_icebreaker_spark import IcebreakerEngine

        src = str(tmp_path / "src_orc")
        spark.createDataFrame([(1, "x")], "id long, v string").write.orc(src)
        spark.sql("CREATE DATABASE IF NOT EXISTS ci_t")
        spark.sql("DROP TABLE IF EXISTS ci_t.orc_t")
        spark.sql("CREATE TABLE ci_t.orc_t (id BIGINT, v STRING)")
        eng = IcebreakerEngine(spark, schema="ci_t")
        out = eng.execute(
            f"COPY INTO ci_t.orc_t FROM '{src}' FILE_FORMAT = (TYPE = ORC)"
        ).collect()[0]
        assert out.rows_loaded == 1


class TestPathNotFoundClassified:
    def test_copy_into_missing_path_actionable(self, spark):
        import pytest as _pytest

        from dbt_icebreaker_spark import IcebreakerEngine
        from dbt_icebreaker_spark.errors import ExecutionError

        spark.sql("CREATE DATABASE IF NOT EXISTS ci_t")
        spark.sql("CREATE TABLE IF NOT EXISTS ci_t.pnf (id BIGINT)")
        eng = IcebreakerEngine(spark, schema="ci_t")
        with _pytest.raises(ExecutionError, match="path"):
            eng.execute(
                "COPY INTO ci_t.pnf FROM '/nonexistent/nowhere' "
                "FILE_FORMAT = (TYPE = PARQUET)"
            )


class TestCliSqlCommand:
    def test_query_prints_json(self, capsys):
        from dbt_icebreaker_spark import cli

        rc = cli.main(
            ["sql", "SELECT NVL(NULL, 7) AS v", "--data-dir", "/root/testdata/sf0.001"]
        )
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0
        assert json.loads(out[-1]) == {"v": 7}

    def test_dml_reports_rows_affected(self, spark, tmp_path, capsys):
        from dbt_icebreaker_spark import cli

        spark.sql("DROP TABLE IF EXISTS default.cli_dml")
        spark.createDataFrame([(1,), (2,), (3,)], "k int").write.saveAsTable(
            "default.cli_dml"
        )
        rc = cli.main(["sql", "DELETE FROM default.cli_dml WHERE k > 1"])
        out = capsys.readouterr().out.strip().splitlines()
        assert rc == 0
        rec = json.loads(out[-1])
        assert rec["rows_affected"] == 2
        assert spark.table("default.cli_dml").count() == 1
