"""Local internal-stage registry (stages.py; r12 verdict Missing #2).

CREATE STAGE → PUT → LIST → COPY INTO @stage → REMOVE/GET/DROP, the
unload direction, the external-stage refusals, and the bare-
transpiler pointer. Mirrors the reference's stage-statement routing
surface (ref auto_router.py:109-134 pattern-routes these to the
warehouse; here they execute locally)."""

from __future__ import annotations

import gzip
import os
import tempfile

import pytest

from dbt_icebreaker_spark.transpiler.core import Transpiler, TranspileError


@pytest.fixture()
def engine(spark):
    from dbt_icebreaker_spark.runner import IcebreakerEngine

    return IcebreakerEngine(spark, schema="default")


def _write_csv(d, name="data.csv", rows=(("1", "a"), ("2", "b"))):
    p = os.path.join(d, name)
    with open(p, "w") as f:
        f.write("id,val\n")
        for r in rows:
            f.write(",".join(r) + "\n")
    return p


class TestStageLifecycle:
    def test_create_show_drop(self, engine):
        r = engine.execute("CREATE STAGE ts_a").collect()
        assert "successfully created" in r[0][0]
        rows = engine.execute("SHOW STAGES").collect()
        assert any(x["name"] == "ts_a" for x in rows)
        assert all(x["type"] == "INTERNAL" for x in rows)
        r = engine.execute("DROP STAGE ts_a").collect()
        assert "dropped" in r[0][0]
        assert not any(
            x["name"] == "ts_a"
            for x in engine.execute("SHOW STAGES").collect())

    def test_show_terse_and_like_list_registry(self, engine):
        for name in ("tl_alpha", "tl_beta", "other_st"):
            engine.execute(f"CREATE STAGE {name}")

        def names(sql):
            return {x["name"] for x in engine.execute(sql).collect()}

        every = names("SHOW STAGES")
        assert {"tl_alpha", "tl_beta", "other_st"} <= every
        assert names("SHOW TERSE STAGES") == every
        assert names("SHOW STAGES LIKE 'TL_%'") == {"tl_alpha", "tl_beta"}
        assert names("SHOW TERSE STAGES LIKE 'tl_a%' IN SCHEMA s") == {
            "tl_alpha"}
        assert names("SHOW STAGES LIKE 'nomatch%'") == set()

    def test_if_not_exists_and_replace(self, engine):
        engine.execute("CREATE STAGE ts_b")
        r = engine.execute("CREATE STAGE IF NOT EXISTS ts_b").collect()
        assert "already exists" in r[0][0]
        with pytest.raises(ValueError, match="already exists"):
            engine.execute("CREATE STAGE ts_b")
        # OR REPLACE wipes the directory
        d = tempfile.mkdtemp()
        p = _write_csv(d)
        engine.execute(f"PUT file://{p} @ts_b")
        engine.execute("CREATE OR REPLACE STAGE ts_b")
        assert engine.execute("LIST @ts_b").count() == 0
        engine.execute("DROP STAGE ts_b")

    def test_drop_unknown(self, engine):
        with pytest.raises(ValueError, match="unknown stage"):
            engine.execute("DROP STAGE ts_nope")
        r = engine.execute("DROP STAGE IF EXISTS ts_nope").collect()
        assert "already dropped" in r[0][0]

    def test_stage_level_file_format(self, engine, spark):
        # r13: a stage-attached FILE_FORMAT is the default for COPY
        # INTO statements that carry none (silently dropping it would
        # load parquet as CSV)
        engine.execute(
            "CREATE OR REPLACE STAGE ts_ff "
            "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)")
        d = tempfile.mkdtemp()
        p = _write_csv(d)
        engine.execute(f"PUT file://{p} @ts_ff")
        spark.sql("DROP TABLE IF EXISTS stage_ff_tgt")
        spark.sql("CREATE TABLE stage_ff_tgt (id BIGINT, val STRING)")
        r = engine.execute("COPY INTO stage_ff_tgt FROM @ts_ff").collect()
        assert r[0]["rows_loaded"] == 2
        # statement-level FILE_FORMAT still wins
        r = engine.execute(
            "COPY INTO stage_ff_tgt FROM @ts_ff "
            "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)").collect()
        assert r[0]["rows_loaded"] == 2
        # unknown option refuses; an unregistered named format names
        # the registry (r13 file_formats.py resolves named refs)
        with pytest.raises(ValueError, match="not\\s+implemented"):
            engine.execute("CREATE STAGE ts_ff2 SNOWFLAKE_FULL = TRUE")
        with pytest.raises(ValueError, match="unknown file format"):
            engine.execute("CREATE STAGE ts_ff3 FILE_FORMAT = my_fmt")

    def test_describe_stage(self, engine):
        engine.execute("CREATE OR REPLACE STAGE ts_desc")
        rows = engine.execute("DESC STAGE ts_desc").collect()
        props = {r["property"]: r["value"] for r in rows}
        assert props["TYPE"] == "INTERNAL"
        assert props["URL"]
        with pytest.raises(ValueError, match="unknown stage"):
            engine.execute("DESCRIBE STAGE ts_nope2")
        engine.execute("DROP STAGE ts_desc")

    def test_external_stage_refuses(self, engine):
        with pytest.raises(ValueError, match="external stages"):
            engine.execute(
                "CREATE STAGE ext_s URL = 's3://bucket/path' "
                "STORAGE_INTEGRATION = my_int")

    def test_bare_transpiler_points_to_engine(self):
        t = Transpiler()
        with pytest.raises(TranspileError, match="stage registry"):
            t.to_spark("CREATE STAGE bare_s")
        with pytest.raises(TranspileError, match="IcebreakerEngine"):
            t.to_spark("PUT file:///tmp/x.csv @bare_s")


class TestPutListRemove:
    def test_put_gzips_by_default(self, engine):
        engine.execute("CREATE OR REPLACE STAGE ts_put")
        d = tempfile.mkdtemp()
        p = _write_csv(d)
        rows = engine.execute(f"PUT file://{p} @ts_put/in").collect()
        assert rows[0]["target"] == "data.csv.gz"
        assert rows[0]["status"] == "UPLOADED"
        lst = engine.execute("LIST @ts_put").collect()
        assert [x["name"] for x in lst] == ["ts_put/in/data.csv.gz"]
        assert lst[0]["size"] > 0 and len(lst[0]["md5"]) == 32

    def test_put_auto_compress_false_and_skip(self, engine):
        engine.execute("CREATE OR REPLACE STAGE ts_put2")
        d = tempfile.mkdtemp()
        p = _write_csv(d)
        r = engine.execute(
            f"PUT file://{p} @ts_put2 AUTO_COMPRESS = FALSE").collect()
        assert r[0]["target"] == "data.csv"
        # second PUT without OVERWRITE skips
        r = engine.execute(
            f"PUT file://{p} @ts_put2 AUTO_COMPRESS = FALSE").collect()
        assert r[0]["status"] == "SKIPPED"
        r = engine.execute(
            f"PUT file://{p} @ts_put2 AUTO_COMPRESS = FALSE "
            "OVERWRITE = TRUE").collect()
        assert r[0]["status"] == "UPLOADED"

    def test_put_glob_and_parquet_not_gzipped(self, engine, spark):
        engine.execute("CREATE OR REPLACE STAGE ts_put3")
        d = tempfile.mkdtemp()
        _write_csv(d, "a.csv")
        _write_csv(d, "b.csv")
        rows = engine.execute(f"PUT file://{d}/*.csv @ts_put3").collect()
        assert {x["target"] for x in rows} == {"a.csv.gz", "b.csv.gz"}
        pq = os.path.join(d, "x.parquet")
        spark.range(3).toPandas().to_parquet(pq)
        r = engine.execute(f"PUT file://{pq} @ts_put3").collect()
        assert r[0]["target"] == "x.parquet"

    def test_put_unknown_stage_and_option(self, engine):
        d = tempfile.mkdtemp()
        p = _write_csv(d)
        with pytest.raises(ValueError, match="unknown stage"):
            engine.execute(f"PUT file://{p} @ts_missing")
        engine.execute("CREATE OR REPLACE STAGE ts_put4")
        with pytest.raises(ValueError, match="not implemented"):
            engine.execute(f"PUT file://{p} @ts_put4 FROBNICATE = TRUE")

    def test_list_pattern_and_remove(self, engine):
        engine.execute("CREATE OR REPLACE STAGE ts_rm")
        d = tempfile.mkdtemp()
        _write_csv(d, "keep.csv")
        _write_csv(d, "drop.csv")
        engine.execute(f"PUT file://{d}/*.csv @ts_rm")
        lst = engine.execute(
            "LIST @ts_rm PATTERN = '.*keep.*'").collect()
        assert [x["name"] for x in lst] == ["ts_rm/keep.csv.gz"]
        rm = engine.execute(
            "REMOVE @ts_rm PATTERN = '.*drop.*'").collect()
        assert [x["name"] for x in rm] == ["ts_rm/drop.csv.gz"]
        assert engine.execute("LIST @ts_rm").count() == 1

    def test_implicit_user_and_table_stages(self, engine, spark):
        # @~ (user stage) and @%tbl (table stage) auto-register
        # lazily — no CREATE STAGE needed, like the warehouse
        d = tempfile.mkdtemp()
        p = _write_csv(d, "imp.csv", rows=(("9", "z"),))
        r = engine.execute(f"PUT file://{p} @~/staged").collect()
        assert r[0]["status"] == "UPLOADED"
        lst = engine.execute("LIST @~").collect()
        assert [x["name"] for x in lst] == ["~/staged/imp.csv.gz"]
        spark.sql("DROP TABLE IF EXISTS imp_tgt")
        spark.sql("CREATE TABLE imp_tgt (id BIGINT, val STRING)")
        engine.execute(f"PUT file://{p} @%imp_tgt")
        r = engine.execute(
            "COPY INTO imp_tgt FROM @%imp_tgt "
            "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)").collect()
        assert r[0]["rows_loaded"] == 1

    def test_get_downloads(self, engine):
        engine.execute("CREATE OR REPLACE STAGE ts_get")
        d = tempfile.mkdtemp()
        p = _write_csv(d)
        engine.execute(f"PUT file://{p} @ts_get")
        out = tempfile.mkdtemp()
        rows = engine.execute(f"GET @ts_get file://{out}").collect()
        assert rows[0]["status"] == "DOWNLOADED"
        got = os.path.join(out, "data.csv.gz")
        with gzip.open(got, "rt") as f:
            assert f.read().startswith("id,val")


class TestFileFormats:
    """Named FILE FORMAT objects (file_formats.py): session registry;
    FORMAT_NAME / bare-name references inline into COPY INTO and
    CREATE STAGE."""

    def test_lifecycle(self, engine):
        r = engine.execute(
            "CREATE FILE FORMAT ff_a TYPE = CSV SKIP_HEADER = 1"
        ).collect()
        assert "successfully created" in r[0][0]
        rows = engine.execute("SHOW FILE FORMATS").collect()
        assert any(x["name"] == "ff_a" and x["type"] == "CSV"
                   for x in rows)
        d = engine.execute("DESC FILE FORMAT ff_a").collect()
        props = {x["property"]: x["value"] for x in d}
        assert props["TYPE"] == "CSV"
        assert "SKIP_HEADER = 1" in props["OPTIONS"]
        r = engine.execute("DROP FILE FORMAT ff_a").collect()
        assert "dropped" in r[0][0]
        with pytest.raises(ValueError, match="unknown format"):
            engine.execute("DROP FILE FORMAT ff_a")
        r = engine.execute("DROP FILE FORMAT IF EXISTS ff_a").collect()
        assert "already dropped" in r[0][0]

    def test_unknown_option_refuses(self, engine):
        with pytest.raises(ValueError, match="NULL_IF"):
            engine.execute(
                "CREATE FILE FORMAT ff_bad TYPE = CSV "
                "NULL_IF = ('NULL')")
        with pytest.raises(ValueError, match="COMPRESSION"):
            engine.execute(
                "CREATE FILE FORMAT ff_bad2 TYPE = CSV "
                "COMPRESSION = BROTLI")

    def test_copy_into_format_name(self, engine, spark):
        engine.execute(
            "CREATE OR REPLACE FILE FORMAT ff_csv "
            "TYPE = CSV SKIP_HEADER = 1")
        engine.execute("CREATE OR REPLACE STAGE ts_ffn")
        d = tempfile.mkdtemp()
        p = _write_csv(d, rows=(("1", "a"), ("2", "b")))
        engine.execute(f"PUT file://{p} @ts_ffn")
        spark.sql("DROP TABLE IF EXISTS ffn_tgt")
        spark.sql("CREATE TABLE ffn_tgt (id BIGINT, val STRING)")
        r = engine.execute(
            "COPY INTO ffn_tgt FROM @ts_ffn "
            "FILE_FORMAT = (FORMAT_NAME = 'ff_csv')").collect()
        assert r[0]["rows_loaded"] == 2
        # bare-name reference
        r = engine.execute(
            "COPY INTO ffn_tgt FROM @ts_ffn FILE_FORMAT = ff_csv"
        ).collect()
        assert r[0]["rows_loaded"] == 2
        with pytest.raises(ValueError, match="unknown file format"):
            engine.execute(
                "COPY INTO ffn_tgt FROM @ts_ffn "
                "FILE_FORMAT = (FORMAT_NAME = 'nope')")

    def test_stage_attached_format_name(self, engine, spark):
        engine.execute(
            "CREATE OR REPLACE FILE FORMAT ff_stage "
            "TYPE = CSV SKIP_HEADER = 1")
        engine.execute(
            "CREATE OR REPLACE STAGE ts_ffs FILE_FORMAT = ff_stage")
        d = tempfile.mkdtemp()
        p = _write_csv(d)
        engine.execute(f"PUT file://{p} @ts_ffs")
        spark.sql("DROP TABLE IF EXISTS ffs_tgt")
        spark.sql("CREATE TABLE ffs_tgt (id BIGINT, val STRING)")
        r = engine.execute("COPY INTO ffs_tgt FROM @ts_ffs").collect()
        assert r[0]["rows_loaded"] == 2

    def test_bare_transpiler_points_to_engine(self):
        t = Transpiler()
        with pytest.raises(TranspileError, match="file-format registry"
                           "|file_formats"):
            t.to_spark("CREATE FILE FORMAT ff TYPE = CSV")


class TestStageCopyInto:
    def test_csv_load_through_stage(self, engine, spark):
        engine.execute("CREATE OR REPLACE STAGE ts_load")
        d = tempfile.mkdtemp()
        p = _write_csv(d, rows=(("1", "a"), ("2", "b"), ("3", "c")))
        engine.execute(f"PUT file://{p} @ts_load/in")
        spark.sql("DROP TABLE IF EXISTS stage_tgt")
        spark.sql("CREATE TABLE stage_tgt (id BIGINT, val STRING)")
        r = engine.execute(
            "COPY INTO stage_tgt FROM @ts_load/in "
            "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)"
        ).collect()
        assert r[0]["rows_loaded"] == 3
        got = {(x.id, x.val) for x in spark.table("stage_tgt").collect()}
        assert got == {(1, "a"), (2, "b"), (3, "c")}

    def test_load_unknown_stage_actionable(self, engine):
        with pytest.raises(ValueError, match="unknown stage"):
            engine.execute(
                "COPY INTO stage_tgt FROM @ts_missing "
                "FILE_FORMAT = (TYPE = CSV)")

    def test_unload_and_reload(self, engine, spark):
        engine.execute("CREATE OR REPLACE STAGE ts_out")
        r = engine.execute(
            "COPY INTO @ts_out/dump FROM "
            "(SELECT 1 AS a, 'x' AS b UNION ALL SELECT 2, 'y') "
            "FILE_FORMAT = (TYPE = PARQUET)"
        ).collect()
        assert r[0]["rows_unloaded"] == 2
        lst = engine.execute("LIST @ts_out").collect()
        assert any(x["name"].endswith(".parquet") for x in lst)
        spark.sql("DROP TABLE IF EXISTS stage_rt")
        spark.sql("CREATE TABLE stage_rt (a INT, b STRING)")
        r = engine.execute(
            "COPY INTO stage_rt FROM @ts_out/dump "
            "FILE_FORMAT = (TYPE = PARQUET)").collect()
        assert r[0]["rows_loaded"] == 2

    def test_unload_csv_header_gzip(self, engine):
        engine.execute("CREATE OR REPLACE STAGE ts_out2")
        engine.execute(
            "COPY INTO @ts_out2/c FROM (SELECT 7 AS n) "
            "FILE_FORMAT = (TYPE = CSV) HEADER = TRUE")
        lst = engine.execute("LIST @ts_out2").collect()
        assert any(x["name"].endswith(".csv.gz") for x in lst)

    def test_transformation_copy(self, engine, spark):
        # COPY INTO t FROM (SELECT $1, expr($2) … FROM @stage): the
        # files read positionally ($N = N-th file column), the SELECT
        # runs through the transpiler, result maps positionally
        import os

        d = tempfile.mkdtemp()
        p = os.path.join(d, "t.csv")
        with open(p, "w") as f:
            f.write("id,name,amt\n1,ab,10.5\n2,cd,20.25\n3,ef,-3.5\n")
        engine.execute("CREATE OR REPLACE STAGE ts_tc")
        engine.execute(f"PUT file://{p} @ts_tc")
        spark.sql("DROP TABLE IF EXISTS tc_t1")
        spark.sql(
            "CREATE TABLE tc_t1 (k BIGINT, label STRING, d2 DOUBLE)")
        r = engine.execute(
            "COPY INTO tc_t1 FROM (SELECT $1, UPPER($2), "
            "$3::DOUBLE * 2 FROM @ts_tc) "
            "FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)").collect()
        assert r[0]["rows_loaded"] == 3
        got = {tuple(x) for x in spark.table("tc_t1").collect()}
        assert (1, "AB", 21.0) in got and (3, "EF", -7.0) in got
        # explicit column list: unlisted target columns NULL-fill
        spark.sql("DROP TABLE IF EXISTS tc_t2")
        spark.sql(
            "CREATE TABLE tc_t2 (k BIGINT, label STRING, x STRING)")
        engine.execute(
            "COPY INTO tc_t2 (k, label) FROM (SELECT $1, $2 "
            "FROM @ts_tc) FILE_FORMAT = (TYPE = CSV SKIP_HEADER = 1)")
        row = spark.table("tc_t2").orderBy("k").collect()[0]
        assert row.label == "ab" and row.x is None

    def test_transformation_copy_refusals(self, engine, spark):
        import os

        spark.sql("DROP TABLE IF EXISTS tc_t3")
        spark.sql("CREATE TABLE tc_t3 (k BIGINT, v STRING)")
        engine.execute("CREATE OR REPLACE STAGE ts_tc2")
        d = tempfile.mkdtemp()
        p = os.path.join(d, "r.csv")
        open(p, "w").write("1,x\n")
        engine.execute(f"PUT file://{p} @ts_tc2")
        with pytest.raises(ValueError, match="equal arity"):
            engine.execute(
                "COPY INTO tc_t3 FROM (SELECT $1 FROM @ts_tc2) "
                "FILE_FORMAT = (TYPE = CSV)")
        with pytest.raises(TranspileError, match="CSV sources"):
            engine.execute(
                "COPY INTO tc_t3 FROM (SELECT $1, $2 FROM @ts_tc2) "
                "FILE_FORMAT = (TYPE = PARQUET)")
        with pytest.raises(TranspileError, match="FILE_FORMAT"):
            engine.execute(
                "COPY INTO tc_t3 FROM (SELECT $1, $2 FROM "
                "@ts_tc2 (FILE_FORMAT => 'f')) ")

    def test_select_from_stage(self, engine, spark):
        # direct staged-file queries: SELECT $N FROM @stage, alias.$N,
        # METADATA$FILENAME, arrow-option FILE_FORMAT, parquet by-name
        import os

        d = tempfile.mkdtemp()
        p = os.path.join(d, "q.csv")
        open(p, "w").write("1,ab,10.5\n2,cd,20.25\n")
        engine.execute("CREATE OR REPLACE STAGE ts_sq")
        engine.execute(f"PUT file://{p} @ts_sq AUTO_COMPRESS = FALSE")
        r = engine.execute(
            "SELECT $1, $2, $3::DOUBLE * 2 AS d FROM @ts_sq "
            "ORDER BY 1").collect()
        assert [tuple(x) for x in r] == [
            ("1", "ab", 21.0), ("2", "cd", 40.5)]
        r = engine.execute(
            "SELECT t.$2 AS name, METADATA$FILENAME AS f "
            "FROM @ts_sq t ORDER BY 1").collect()
        assert [x.name for x in r] == ["ab", "cd"]
        assert all(x.f.endswith("q.csv") for x in r)
        engine.execute(
            "CREATE OR REPLACE FILE FORMAT ts_sq_fmt TYPE = CSV")
        n = engine.execute(
            "SELECT COUNT(*) AS n FROM @ts_sq "
            "(FILE_FORMAT => 'ts_sq_fmt')").collect()[0][0]
        assert n == 2
        with pytest.raises(ValueError, match="FILE_ROW_NUMBER"):
            engine.execute(
                "SELECT METADATA$FILE_ROW_NUMBER FROM @ts_sq")

    def test_directory_table_and_prefix_boundary(self, engine, spark):
        # DIRECTORY(@stage) lists with Snowflake's columns; LIST @s/in
        # must NOT catch @s/in2 (directory-boundary prefix match)
        import os

        d = tempfile.mkdtemp()
        for n in ("a.csv", "b.csv"):
            open(os.path.join(d, n), "w").write("1,x\n")
        engine.execute("CREATE OR REPLACE STAGE ts_dir")
        engine.execute(f"PUT file://{d}/*.csv @ts_dir/in")
        engine.execute(f"PUT file://{d}/a.csv @ts_dir/in2")
        rows = engine.execute(
            "SELECT relative_path, size, md5, file_url "
            "FROM DIRECTORY(@ts_dir) ORDER BY relative_path").collect()
        assert [r.relative_path for r in rows] == [
            "in/a.csv.gz", "in/b.csv.gz", "in2/a.csv.gz"]
        assert all(r.size > 0 and len(r.md5) == 32
                   and r.file_url.startswith("file://") for r in rows)
        lst = engine.execute("LIST @ts_dir/in").collect()
        assert [x["name"] for x in lst] == [
            "ts_dir/in/a.csv.gz", "ts_dir/in/b.csv.gz"]
        n = engine.execute(
            "SELECT COUNT(*) AS n FROM DIRECTORY(@ts_dir) "
            "WHERE relative_path LIKE 'in/%'").collect()[0][0]
        assert n == 2

    def test_rewrite_skips_string_literals(self, engine, spark):
        # '$1' / 'FROM @stage' INSIDE string literals must survive the
        # staged-query rewrite untouched (silent-corruption class)
        import os

        d = tempfile.mkdtemp()
        p = os.path.join(d, "l.csv")
        open(p, "w").write("1,ab\n")
        engine.execute("CREATE OR REPLACE STAGE ts_lit")
        engine.execute(f"PUT file://{p} @ts_lit")
        r = engine.execute(
            "SELECT $1, '$1 costs' AS lit, 'FROM @ts_lit' AS lit2 "
            "FROM @ts_lit").collect()
        assert r[0].lit == "$1 costs"
        assert r[0].lit2 == "FROM @ts_lit"

    def test_insert_and_ctas_from_stage(self, engine, spark):
        # the rewrite also fires for INSERT…SELECT and CTAS heads —
        # staged data composes with normal DML (casts explicit, per
        # Spark's ANSI store-assignment)
        import os

        d = tempfile.mkdtemp()
        p = os.path.join(d, "i.csv")
        open(p, "w").write("1,ab\n2,cd\n")
        engine.execute("CREATE OR REPLACE STAGE ts_dml")
        engine.execute(f"PUT file://{p} @ts_dml")
        spark.sql("DROP TABLE IF EXISTS sdml_t")
        spark.sql("CREATE TABLE sdml_t (k BIGINT, v STRING)")
        engine.execute(
            "INSERT INTO sdml_t SELECT $1::BIGINT, $2 FROM @ts_dml")
        assert sorted(tuple(r) for r in
                      spark.table("sdml_t").collect()) == [
            (1, "ab"), (2, "cd")]
        spark.sql("DROP TABLE IF EXISTS sdml_ctas")
        engine.execute(
            "CREATE TABLE sdml_ctas AS SELECT $1::INT AS k, "
            "UPPER($2) AS v FROM @ts_dml")
        assert sorted(tuple(r) for r in
                      spark.table("sdml_ctas").collect()) == [
            (1, "AB"), (2, "CD")]

    def test_select_from_stage_parquet(self, engine, spark):
        import os

        d = tempfile.mkdtemp()
        pq = os.path.join(d, "x.parquet")
        spark.range(3).selectExpr("id", "id * 10 AS v") \
            .toPandas().to_parquet(pq)
        engine.execute("CREATE OR REPLACE STAGE ts_sqp")
        engine.execute(f"PUT file://{pq} @ts_sqp")
        engine.execute(
            "CREATE OR REPLACE FILE FORMAT ts_sqp_f TYPE = PARQUET")
        r = engine.execute(
            "SELECT v FROM @ts_sqp (FILE_FORMAT => 'ts_sqp_f') "
            "WHERE id > 0 ORDER BY id").collect()
        assert [x.v for x in r] == [10, 20]

    def test_unload_unknown_option_refuses(self, engine):
        engine.execute("CREATE OR REPLACE STAGE ts_out3")
        with pytest.raises(ValueError, match="not\\s+implemented"):
            engine.execute(
                "COPY INTO @ts_out3 FROM (SELECT 1 AS n) "
                "MAX_FILE_SIZE = 16000000")
