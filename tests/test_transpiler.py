"""Transpiler unit tests — port of the reference's test intent
(`/root/reference/tests/test_transpiler.py`: string assertions on
generated SQL) retargeted at Spark SQL output, plus execution checks
that the generated SQL actually runs on Spark."""

from __future__ import annotations

import re

import pytest

from dbt_icebreaker_spark.transpiler import (
    Transpiler,
    TranspileError,
    UnsupportedFunctionError,
    detect_blacklisted_functions,
)

t = Transpiler()


class TestSimpleRenames:
    def test_iff(self):
        out = t.to_spark("SELECT IFF(a > 1, 'x', 'y') FROM t")
        assert "IF(a > 1" in out and "IFF" not in out

    def test_nvl(self):
        assert "COALESCE(a, 0)" in t.to_spark("SELECT NVL(a, 0) FROM t")

    def test_nvl2_passthrough(self):
        # native in Spark — no rewrite needed
        assert "NVL2" in t.to_spark("SELECT NVL2(a, 1, 2) FROM t")

    def test_len_charindex_tochar(self):
        out = t.to_spark("SELECT LEN(x), CHARINDEX('a', x), TO_CHAR(d, 'YYYY-MM-DD') FROM t")
        assert "LENGTH(x)" in out
        assert "locate('a', x)" in out
        assert "date_format(d,  'yyyy-MM-dd')" in out


class TestTryTo:
    def test_try_to_number(self):
        assert "TRY_CAST(x AS DOUBLE)" in t.to_spark("SELECT TRY_TO_NUMBER(x) FROM t")

    def test_try_to_timestamp_variants(self):
        out = t.to_spark(
            "SELECT TRY_TO_TIMESTAMP(a), TRY_TO_TIMESTAMP_NTZ(b), TRY_TO_BOOLEAN(c) FROM t"
        )
        assert "TRY_CAST(a AS TIMESTAMP)" in out
        assert "TRY_CAST(b AS TIMESTAMP_NTZ)" in out
        assert "TRY_CAST(c AS BOOLEAN)" in out

    def test_try_to_date_with_format(self):
        out = t.to_spark("SELECT TRY_TO_DATE(x, 'yyyy/MM/dd') FROM t")
        assert "try_to_timestamp" in out and "AS DATE" in out


class TestSemiStructured:
    # mirrors reference tests/test_transpiler.py:132-168 (VARIANT→JSON)
    def test_cast_variant(self):
        out = t.to_spark("SELECT CAST(x AS VARIANT) FROM t")
        assert "CAST(x AS STRING)" in out

    def test_double_colon_variant(self):
        assert "y::STRING" in t.to_spark("SELECT y::VARIANT FROM t")

    def test_bare_varchar(self):
        assert "AS STRING" in t.to_spark("SELECT CAST(x AS VARCHAR) FROM t")

    def test_varchar_with_length_kept(self):
        assert "VARCHAR(10)" in t.to_spark("SELECT CAST(x AS VARCHAR(10)) FROM t")

    def test_object_construct(self):
        # literal keys → NAMED_STRUCT (native value types, true nesting)
        out = t.to_spark("SELECT OBJECT_CONSTRUCT('k', v, 'j', w) FROM t")
        assert "TO_JSON(NAMED_STRUCT('k', v, 'j', w))" in out

    def test_object_construct_nested(self):
        # inner call is a bare struct so the outer TO_JSON serializes a
        # true nested object (MAP would double-encode it as a string)
        out = t.to_spark(
            "SELECT OBJECT_CONSTRUCT('a', OBJECT_CONSTRUCT('b', x)) FROM t"
        )
        assert out.count("TO_JSON") == 1
        assert "NAMED_STRUCT('a', NAMED_STRUCT('b', x))" in out

    def test_object_construct_dynamic_keys_map(self):
        # non-literal keys can't use NAMED_STRUCT → MAP fallback
        out = t.to_spark("SELECT OBJECT_CONSTRUCT(key_col, v) FROM t")
        assert "TO_JSON(MAP(key_col, v))" in out

    def test_object_construct_star(self):
        out = t.to_spark("SELECT OBJECT_CONSTRUCT(*) FROM t")
        assert "TO_JSON(STRUCT(*))" in out

    def test_listagg_distinct_within_group(self):
        # Spark's listagg rejects DISTINCT + WITHIN GROUP on non-string
        # input (implicit cast breaks the match) → collect_set rewrite
        # ordered in the NATIVE type
        out = t.to_spark(
            "SELECT LISTAGG(DISTINCT doc_id, ',') WITHIN GROUP (ORDER BY doc_id) FROM t"
        )
        assert (
            "CONCAT_WS(" in out and "COLLECT_SET" in out
            and "array_sort" in out.lower()
        )

    def test_listagg_distinct_desc(self):
        out = t.to_spark(
            "SELECT LISTAGG(DISTINCT x, ';') WITHIN GROUP (ORDER BY x DESC) FROM t"
        )
        c = out.replace(" ", "").replace("(", "").upper()
        assert "REVERSEARRAY_SORTCOLLECT_SET" in c

    def test_listagg_plain_untouched(self):
        out = t.to_spark("SELECT LISTAGG(x, ',') FROM t")
        assert "LISTAGG(x, ',')" in out

    def test_parse_json_identity(self):
        out = t.to_spark("SELECT PARSE_JSON(s) FROM t")
        assert "PARSE_JSON" not in out and "(s)" in out

    def test_to_variant(self):
        assert "CAST(x AS STRING)" in t.to_spark("SELECT TO_VARIANT(x) FROM t")

    def test_array_construct(self):
        assert "ARRAY(1, 2, 3)" in t.to_spark("SELECT ARRAY_CONSTRUCT(1, 2, 3) FROM t")

    def test_json_path_access(self):
        out = t.to_spark("SELECT props:user.name::STRING FROM events")
        assert "get_json_object(props, '$.user.name')::STRING" in out

    def test_json_path_in_where(self):
        out = t.to_spark("SELECT 1 FROM events WHERE props:k::INT > 5")
        assert "get_json_object(props, '$.k')::INT > 5" in out


class TestFlatten:
    # mirrors reference tests/test_transpiler.py:88-129 (FLATTEN→UNNEST)
    def test_lateral_flatten(self):
        out = t.to_spark("SELECT f.value FROM t, LATERAL FLATTEN(input => t.arr) f")
        assert "LATERAL VIEW posexplode( t.arr) f AS index, value" in out
        assert ", LATERAL" not in out  # comma join removed

    def test_flatten_with_path(self):
        out = t.to_spark(
            "SELECT f.value FROM t, LATERAL FLATTEN(input => props, path => 'tags') AS f"
        )
        # path extraction returns a JSON string — routed through the
        # dual-mode (array OR object) JSON-text generator
        assert "get_json_object( props, '$.tags')" in out
        assert "'array<string>'" in out and "'map<string,string>'" in out
        assert "AS key, index, path, value" in out

    def test_flatten_outer(self):
        out = t.to_spark(
            "SELECT f.value FROM t, LATERAL FLATTEN(input => arr, outer => TRUE) f"
        )
        assert "posexplode_outer(" in out


class TestQualify:
    def test_basic(self):
        out = t.to_spark(
            "SELECT a FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1"
        )
        assert "QUALIFY" not in out.upper().replace("__QUALIFY__", "")
        assert "__qualify__" in out and "EXCEPT" in out

    def test_preserves_order_limit(self):
        out = t.to_spark(
            "SELECT a FROM t QUALIFY RANK() OVER (ORDER BY a) <= 2 ORDER BY a LIMIT 5"
        )
        assert out.rstrip().endswith("LIMIT 5")
        assert re.search(r"ORDER BY a\s+NULLS LAST\s+LIMIT", out)

    def test_inside_cte(self):
        out = t.to_spark(
            "WITH c AS (SELECT a FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1) "
            "SELECT * FROM c"
        )
        assert "QUALIFY" not in out.upper().replace("__QUALIFY__", "")

    def test_multiple_qualifys(self):
        sql = (
            "SELECT * FROM (SELECT a FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1) x "
            "QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1"
        )
        out = t.to_spark(sql)
        assert "QUALIFY" not in out.upper().replace("__QUALIFY__", "")


class TestDates:
    def test_quoted_unit_normalized(self):
        out = t.to_spark("SELECT DATEADD('month', -3, d) FROM t")
        assert "DATEADD(MONTH, -3, d)" in out

    def test_datediff_alias_unit(self):
        # round 4: day-diff lowers to the boundary-count form (midnight
        # boundaries), not Spark's complete-24h timestampdiff
        out = t.to_spark("SELECT DATEDIFF('dd', a, b) FROM t")
        assert "datediff(CAST((b) AS DATE), CAST((a) AS DATE))" in out

    def test_bare_unit_normalizes(self):
        # r12: bare-word units normalize through the alias table too
        # (plural/abbreviated spellings previously reached Spark as
        # column references)
        out = t.to_spark("SELECT DATEADD(day, 1, d) FROM t")
        assert "DATEADD(DAY, 1, d)" in out
        out2 = t.to_spark("SELECT DATEADD(weeks, 1, d) FROM t")
        assert "DATEADD(WEEK, 1, d)" in out2


class TestMultiStatement:
    # mirrors reference tests/test_transpiler.py:72-79
    def test_split_and_join(self):
        out = t.to_spark("CREATE TABLE a AS SELECT IFF(x, 1, 2) FROM s; SELECT 2")
        assert out.count(";") == 1
        assert "IF(x, 1, 2)" in out

    def test_statements_list(self):
        stmts = t.to_spark_statements("SELECT 1; SELECT 2; SELECT 3")
        assert len(stmts) == 3

    def test_semicolon_inside_string_is_not_a_boundary(self):
        # generated literals can contain ';' (e.g. STRTOK char classes) —
        # statement boundaries come from the tokenizer, not a text split
        stmts = t.to_spark_statements("SELECT '[ ;]' AS a; SELECT 2")
        assert len(stmts) == 2
        assert "'[ ;]'" in stmts[0]

    def test_generated_semicolon_survives(self):
        stmts = t.to_spark_statements(
            "SELECT * FROM TABLE(STRTOK_SPLIT_TO_TABLE('a b;c', ' ;'))"
        )
        assert len(stmts) == 1
        assert "[ ;]" in stmts[0]


class TestBlacklist:
    # mirrors reference transpiler.py:398-433
    def test_cortex(self):
        with pytest.raises(UnsupportedFunctionError):
            t.to_spark("SELECT SNOWFLAKE.CORTEX.COMPLETE('m', p) FROM t")

    def test_ml_predict(self):
        with pytest.raises(UnsupportedFunctionError):
            t.to_spark("SELECT ML.PREDICT(MODEL m, TABLE t) FROM t")

    def test_system_dollar(self):
        found = detect_blacklisted_functions("SELECT SYSTEM$WAIT(5)")
        assert any(f.upper().startswith("SYSTEM$") for f in found)

    def test_xml(self):
        assert detect_blacklisted_functions("SELECT PARSE_XML(x) FROM t") == ["PARSE_XML"]

    def test_clean_sql_passes(self):
        ok, err = t.can_transpile("SELECT a, SUM(b) FROM t GROUP BY a")
        assert ok and err is None


class TestToxicTypes:
    """Geo gate — ref auto_router.py:97-101 / traffic.py:251-259."""

    def test_st_function_refused_with_type_class(self):
        from dbt_icebreaker_spark.transpiler.core import UnsupportedTypeError

        with pytest.raises(UnsupportedTypeError) as ei:
            t.to_spark("SELECT ST_MAKEPOLYGON(ST_GEOGFROMTEXT(wkt)) FROM t")
        assert ei.value.type_class == "geospatial"
        assert "GEOGRAPHY" in str(ei.value) or "ST_" in str(ei.value)
        assert "ST_MAKEPOLYGON" in ei.value.references

    def test_geography_type_word_refused(self):
        from dbt_icebreaker_spark.transpiler.core import UnsupportedTypeError

        with pytest.raises(UnsupportedTypeError):
            t.to_spark("SELECT CAST(x AS GEOGRAPHY) FROM t")
        with pytest.raises(UnsupportedTypeError):
            t.to_spark("SELECT TO_GEOMETRY(wkt) FROM t")

    def test_can_transpile_names_the_gate(self):
        ok, err = t.can_transpile("SELECT ST_ASGEOJSON(g) FROM t")
        assert not ok and "geospatial" in err and "TOXIC_TYPES" in err

    def test_non_geo_st_word_passes(self):
        # ST_-prefixed identifiers that are not calls never trigger
        ok, _ = t.can_transpile("SELECT st_louis_sales FROM t")
        assert ok
        # string literal containing 'geometry' never triggers
        ok, _ = t.can_transpile("SELECT 'geometry lesson' AS s FROM t")
        assert ok

    def test_column_named_geometry_passes(self):
        # a plain column/alias literally named geometry/geography is
        # data, not a type — only type positions (::/CAST AS/DDL slot)
        # trigger, mirroring the reference's function-oriented gate
        for sql in (
            "SELECT geometry FROM shapes WHERE geometry IS NOT NULL",
            "SELECT x AS geometry FROM t",
            "SELECT t.geography, count(*) FROM t GROUP BY t.geography",
        ):
            ok, err = t.can_transpile(sql)
            assert ok, (sql, err)

    def test_type_positions_still_refused(self):
        from dbt_icebreaker_spark.transpiler.core import UnsupportedTypeError

        for sql in (
            "SELECT x::GEOMETRY FROM t",
            "SELECT CAST(x AS GEOMETRY) FROM t",
            "SELECT TRY_CAST(wkt AS GEOGRAPHY) FROM t",
            "CREATE TABLE t (id INT, shape GEOMETRY)",
            # review fixes: modifier-rich CREATE heads and ALTER ADD
            # COLUMN type slots must also be caught
            "CREATE OR REPLACE TRANSIENT TABLE t (id INT, shape GEOMETRY)",
            "CREATE TABLE IF NOT EXISTS db.t (g GEOGRAPHY)",
            "ALTER TABLE t ADD COLUMN shape GEOMETRY",
        ):
            with pytest.raises(UnsupportedTypeError):
                t.to_spark(sql)

    def test_ctas_alias_named_geometry_passes(self):
        # review fix: inside a CTAS select body, an implicit alias
        # named geometry is data, not a DDL type slot
        ok, err = t.can_transpile(
            "CREATE TABLE t AS SELECT a, b geometry FROM src"
        )
        assert ok, err
        ok2, _ = t.can_transpile(
            "CREATE OR REPLACE TABLE t AS SELECT x AS geography FROM src"
        )
        assert ok2


class TestExecutesOnSpark:
    """The generated SQL must actually run (not just look right)."""

    @pytest.mark.parametrize(
        "sf_sql",
        [
            "SELECT IFF(1 > 0, 'x', 'y') AS r",
            "SELECT TRY_TO_NUMBER('12.5') AS r",
            "SELECT OBJECT_CONSTRUCT('a', '1') AS r",
            "SELECT ARRAY_CONSTRUCT(1, 2)[0] AS r",
            "SELECT DATEADD('month', -1, DATE '2020-03-15') AS r",
            "SELECT NVL2(NULL, 1, 2) AS r",
            "SELECT ZEROIFNULL(CAST(NULL AS DOUBLE)) AS r",
            "SELECT '{\"a\": 5}'::VARIANT AS r",
            "SELECT LISTAGG(c, '|') WITHIN GROUP (ORDER BY c) AS r FROM (SELECT 'b' AS c UNION ALL SELECT 'a') x",
        ],
    )
    def test_runs(self, spark, sf_sql):
        rows = spark.sql(t.to_spark(sf_sql)).collect()
        assert len(rows) >= 1


class TestExtendedFunctionSurface:
    """Snowflake spellings beyond the router whitelist (day-to-day
    user surface)."""

    def test_array_contains_arg_swap(self):
        out = t.to_spark("SELECT ARRAY_CONTAINS(2, arr) FROM t1").replace(" ", "")
        assert "array_contains(arr,2)" in out

    def test_array_slice_zero_based(self):
        out = t.to_spark("SELECT ARRAY_SLICE(arr, 1, 3) FROM t1")
        # negative-index-aware rewrite (round-5 review): bounds resolve
        # against size() and clamp before the 1-based slice
        assert "slice((arr)" in out and "greatest(" in out

    def test_insert_overlay(self):
        out = t.to_spark("SELECT INSERT(a, 2, 3, b) FROM t1").replace(" ", "")
        assert "overlay(a,b,2,3)" in out

    def test_insert_statement_untouched(self):
        out = t.to_spark("INSERT INTO t1 SELECT * FROM t2")
        assert out.startswith("INSERT INTO")

    def test_bit_ops(self):
        out = t.to_spark("SELECT BITAND(a, b), BITOR(a, b), BITXOR(a, b) FROM t1")
        assert "&" in out and "|" in out and "^" in out

    def test_square_power(self):
        assert "POWER(x, 2)" in t.to_spark("SELECT SQUARE(x) FROM t1")

    def test_to_char_fmt_translation(self):
        out = t.to_spark("SELECT TO_CHAR(d, 'YYYY-MM-DD HH24:MI:SS.FF3') FROM t1").replace(" ", "")
        assert "date_format(d,'yyyy-MM-ddHH:mm:ss.SSS')" in out

    def test_to_date_fmt_translation(self):
        # r12: the PARSE direction uses lenient single-letter widths
        # (Snowflake accepts single-digit day/month); TO_CHAR keeps
        # the zero-padded strict form
        out = t.to_spark("SELECT TO_DATE(s, 'DD/MM/YYYY') FROM t1").replace(" ", "")
        assert "to_date(s,'d/M/yyyy')" in out
        out2 = t.to_spark(
            "SELECT TO_CHAR(d, 'DD/MM/YYYY') FROM t1").replace(" ", "")
        assert "date_format(d,'dd/MM/yyyy')" in out2

    def test_to_date_single_arg(self):
        assert "to_date(s)" in t.to_spark("SELECT TO_DATE(s) FROM t1")

    def test_array_agg_within_group(self):
        out = t.to_spark(
            "SELECT ARRAY_AGG(x) WITHIN GROUP (ORDER BY x) FROM t1"
        ).replace(" ", "")
        assert "ARRAY_SORTCOLLECT_LISTX" in out.replace("(", "").upper()

    def test_array_agg_distinct_desc(self):
        out = t.to_spark(
            "SELECT ARRAY_AGG(DISTINCT x) WITHIN GROUP (ORDER BY x DESC) FROM t1"
        ).replace(" ", "")
        assert "REVERSEARRAY_SORTCOLLECT_SETX" in out.replace("(", "").upper()

    def test_hll_uuid_object_keys(self):
        out = t.to_spark("SELECT HLL(x), UUID_STRING(), OBJECT_KEYS(j) FROM t1")
        assert "APPROX_COUNT_DISTINCT(x)" in out
        assert "UUID()" in out
        assert "JSON_OBJECT_KEYS(j)" in out


class TestJsonPathEdge:
    def test_array_index(self):
        out = t.to_spark("SELECT j:arr[0]::INT FROM t1")
        assert "get_json_object(j, '$.arr[0]')::INT" in out

    def test_quoted_key(self):
        out = t.to_spark('SELECT j:"my key"::STRING FROM t1')
        assert "get_json_object(j, '$.my key')" in out

    def test_quoted_key_with_index(self):
        out = t.to_spark('SELECT j:"arr"[1]::INT FROM t1')
        assert "get_json_object(j, '$.arr[1]')" in out

    def test_get_path_literal(self):
        out = t.to_spark("SELECT GET_PATH(j, 'o.deep[0]') FROM t1")
        assert "get_json_object(j, '$.o.deep[0]')" in out


class TestFlattenIndex:
    def test_index_column_resolves(self, spark):
        spark.sql("SELECT ARRAY(10,20,30) AS a").createOrReplaceTempView("fi_t")
        rows = spark.sql(t.to_spark(
            "SELECT f.value::INT AS v, f.index AS i FROM fi_t, "
            "LATERAL FLATTEN(input => a) f"
        )).collect()
        assert [(r.v, r.i) for r in rows] == [(10, 0), (20, 1), (30, 2)]

    def test_path_variant_runs(self, spark):
        spark.sql(
            "SELECT '{\"tags\": [\"x\",\"y\"]}' AS j"
        ).createOrReplaceTempView("fp_t")
        rows = spark.sql(t.to_spark(
            "SELECT f.value::STRING AS v FROM fp_t, "
            "LATERAL FLATTEN(input => j, path => 'tags') f"
        )).collect()
        assert sorted(r.v for r in rows) == ["x", "y"]


class TestArrayFamily:
    def test_intersection_flatten_cat(self):
        # ARRAY_INTERSECTION is MULTISET in Snowflake (keeps duplicate
        # counts) — it lowers to an aggregate fold, not array_intersect
        out = t.to_spark(
            "SELECT ARRAY_INTERSECTION(a,b), ARRAY_FLATTEN(c), ARRAY_CAT(a,b) FROM t1"
        )
        assert "aggregate(" in out
        assert "ARRAY_INTERSECT" not in out
        assert "flatten(c)" in out
        assert "CONCAT(a,b)" in out

    def test_prepend_array_first(self, spark):
        # Snowflake ARRAY_PREPEND(array, value) — array first, like
        # ARRAY_APPEND; maps 1:1 onto Spark's array_prepend
        out = t.to_spark("SELECT ARRAY_PREPEND(ARRAY_CONSTRUCT(1, 2), 0) AS r")
        assert spark.sql(out).collect()[0].r == [0, 1, 2]

    def test_position_semantics(self, spark):
        # Snowflake: 0-based, NULL when absent
        r = spark.sql(t.to_spark(
            "SELECT ARRAY_POSITION(2, ARRAY(1,2,3)) AS hit, "
            "ARRAY_POSITION(9, ARRAY(1,2,3)) AS miss"
        )).collect()[0]
        assert r.hit == 1 and r.miss is None

    def test_flatten_json_path_input(self, spark):
        spark.sql("SELECT '{\"tags\":[\"x\",\"y\"]}' AS j").createOrReplaceTempView("af_t")
        rows = spark.sql(t.to_spark(
            "SELECT f.value AS v FROM af_t, LATERAL FLATTEN(input => j:tags) f"
        )).collect()
        assert sorted(r.v for r in rows) == ["x", "y"]


class TestSample:
    def test_sample_percent(self):
        out = t.to_spark("SELECT * FROM orders SAMPLE (10)")
        assert "TABLESAMPLE (10 PERCENT)" in out

    def test_tablesample_bernoulli(self):
        out = t.to_spark("SELECT * FROM orders TABLESAMPLE BERNOULLI (10)")
        assert "TABLESAMPLE (10 PERCENT)" in out
        assert "BERNOULLI" not in out

    def test_sample_rows(self):
        out = t.to_spark("SELECT * FROM orders SAMPLE (50 ROWS)")
        assert "TABLESAMPLE (50 ROWS)" in out

    def test_sample_runs(self, spark):
        from dbt_icebreaker_spark.sources import register_dir

        register_dir(spark, "/root/testdata/sf0.001")
        n = spark.sql(t.to_spark(
            "SELECT COUNT(*) AS c FROM orders SAMPLE (25 ROWS)"
        )).collect()[0].c
        assert n == 25


class TestTimeTravel:
    def test_at_timestamp_actionable(self):
        ok, err = t.can_transpile(
            "SELECT * FROM orders AT(TIMESTAMP => '2024-01-01'::TIMESTAMP)"
        )
        assert not ok and "VERSION AS OF" in err and "AT(TIMESTAMP" in err

    def test_before_statement_actionable(self):
        ok, err = t.can_transpile(
            "SELECT * FROM orders BEFORE(STATEMENT => 'qid')"
        )
        assert not ok and "BEFORE(STATEMENT" in err

    def test_at_as_alias_untouched(self):
        # `at` as a plain alias/column must not trigger
        out = t.to_spark("SELECT at FROM t1 WHERE at > 5")
        assert "at" in out
        ok, _ = t.can_transpile("SELECT at FROM t1")
        assert ok


class TestDiv0AndParts:
    def test_div0(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT DIV0(10, 0) AS z, DIV0(10, 4) AS q, DIV0(NULL, 4) AS n"
        )).collect()[0]
        assert r.z == 0 and r.q == 2.5 and r.n is None

    def test_div0null(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT DIV0NULL(10, NULL) AS z, DIV0NULL(10, 5) AS q"
        )).collect()[0]
        assert r.z == 0 and r.q == 2.0

    def test_from_parts(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT DATE_FROM_PARTS(2024, 3, 5) AS d, "
            "TIMESTAMP_FROM_PARTS(2024, 3, 5, 13, 45, 30) AS ts"
        )).collect()[0]
        assert str(r.d) == "2024-03-05" and "13:45:30" in str(r.ts)

    def test_bool_aggs(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT BOOLOR_AGG(x) AS o, BOOLAND_AGG(x) AS a "
            "FROM VALUES (true),(false) AS t(x)"
        )).collect()[0]
        assert r.o is True and r.a is False

    def test_truncate_toward_zero(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT TRUNCATE(3.7) AS p, TRUNCATE(-3.7) AS n, "
            "TRUNCATE(3.14159, 2) AS d"
        )).collect()[0]
        assert r.p == 3 and r.n == -3 and abs(r.d - 3.14) < 1e-9


class TestSnowflakeOnlyStatements:
    def test_copy_into_actionable(self):
        ok, err = t.can_transpile("COPY INTO t FROM @stage/file.csv")
        # round 2: path-based COPY INTO executes via IcebreakerEngine —
        # the refusal now points there
        assert not ok and "COPY INTO" in err and "IcebreakerEngine" in err

    def test_create_stream_actionable(self):
        ok, err = t.can_transpile(
            "CREATE OR REPLACE STREAM s ON TABLE orders"
        )
        assert not ok and "Structured Streaming" in err

    def test_create_task_actionable(self):
        ok, err = t.can_transpile("CREATE TASK t1 AS SELECT 1")
        assert not ok and "scheduler" in err

    def test_stage_as_alias_untouched(self):
        # 'stage' mid-query must not trigger (statement-head only)
        ok, _ = t.can_transpile("SELECT stage, COUNT(*) FROM t GROUP BY stage")
        assert ok

    def test_create_table_still_fine(self):
        ok, _ = t.can_transpile("CREATE OR REPLACE TABLE x AS SELECT 1")
        assert ok


class TestInsertContext:
    """INSERT is both Snowflake's string function and DML — only the
    expression form may become overlay()."""

    def test_merge_insert_clause_untouched(self):
        merge = (
            "MERGE INTO t USING s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT (id, v, a, b) VALUES (s.id, s.v, s.a, s.b)"
        )
        out = t.to_spark(merge)
        assert "overlay" not in out.lower()
        assert "INSERT (id, v, a, b)" in out
        ok, _ = t.can_transpile(merge)
        assert ok

    def test_insert_into_statement_untouched(self):
        out = t.to_spark("INSERT INTO t SELECT * FROM s")
        assert "overlay" not in out.lower()

    def test_insert_function_still_rewrites(self):
        out = t.to_spark("SELECT INSERT(name, 2, 3, 'xy') FROM t")
        assert "overlay(name" in out.lower().replace(" ", "").replace("overlay(name", "overlay(name")
        assert "overlay" in out.lower()


class TestArrayConstructCompact:
    def test_rewrites_to_filter(self):
        out = t.to_spark("SELECT ARRAY_CONSTRUCT_COMPACT(1, NULL, 2) AS a")
        assert "ARRAY_COMPACT_X" not in out
        assert "filter(array(" in out.lower().replace(" ", "")

    def test_nested_array_construct(self, spark):
        out = t.to_spark(
            "SELECT ARRAY_CONSTRUCT_COMPACT(1, NULL, 2, NULL) AS a"
        )
        rows = spark.sql(out).collect()
        assert rows[0].a == [1, 2]


class TestWindowRatioFuncs:
    def test_ratio_to_report_rewrites(self):
        out = t.to_spark(
            "SELECT RATIO_TO_REPORT(v) OVER (PARTITION BY p) FROM x"
        )
        assert "RATIO_TO_REPORT" not in out.upper()
        assert "/ SUM" in out.replace("  ", " ") or "/ SUM" in out

    def test_conditional_true_event_rewrites(self):
        out = t.to_spark(
            "SELECT CONDITIONAL_TRUE_EVENT(v > 1) OVER (ORDER BY id) FROM x"
        )
        assert "CONDITIONAL_TRUE_EVENT" not in out.upper()
        assert "CASE" in out.upper() and "OVER" in out.upper()

    def test_to_boolean_casts(self):
        out = t.to_spark("SELECT TO_BOOLEAN(flag) FROM x")
        assert "CAST(flag AS BOOLEAN)" in out


class TestUnsupportedScalars:
    def test_randstr_now_supported(self):
        # round-5: RANDSTR renders as a deterministic hash chain
        ok, _ = t.can_transpile("SELECT RANDSTR(5, 42) FROM x")
        assert ok
        out = t.to_spark("SELECT RANDSTR(5, 42) FROM x")
        assert "hash(" in out and "pmod" in out

    def test_column_named_zipf_untouched(self):
        # bare word (not a call) must not trigger
        ok, _ = t.can_transpile("SELECT zipf FROM x")
        assert ok


class TestVariantSubscript:
    """Round-5 battery finding: array subscripts directly on a
    PARSE_JSON/TRY_PARSE_JSON result must read through the JSON path
    (the string-VARIANT model cannot subscript a string)."""

    def test_parse_json_subscript(self, spark):
        out = t.to_spark("SELECT PARSE_JSON('[1,2,3]')[2]::INT AS v")
        assert "get_json_object" in out and "$[2]" in out
        assert spark.sql(out).collect()[0].v == 3

    def test_chained_subscripts(self, spark):
        sql = "SELECT PARSE_JSON('[[1,2],[3,4]]')[1][0]::INT AS v"
        assert spark.sql(t.to_spark(sql)).collect()[0].v == 3

    def test_try_parse_json_subscript_null_on_malformed(self, spark):
        sql = "SELECT TRY_PARSE_JSON('nope')[0] AS v"
        assert spark.sql(t.to_spark(sql)).collect()[0].v is None

    def test_subscript_then_path(self, spark):
        sql = 'SELECT PARSE_JSON(\'[{"a": 9}]\')[0]:a::INT AS v'
        assert spark.sql(t.to_spark(sql)).collect()[0].v == 9

    def test_plain_array_subscript_untouched(self):
        out = t.to_spark("SELECT v[2] FROM t")
        assert "get_json_object" not in out and "v[2]" in out.replace(" ", "")

    def test_compress_bare_transpiler_refuses_to_engine(self):
        # r7: COMPRESS/DECOMPRESS_* are ENGINE-session UDFs — the bare
        # transpiler refuses pointing at IcebreakerEngine.execute (a
        # plain spark.sql() has no such functions); the engine's own
        # transpiler sets session_udfs=True and passes them through
        ok, msg = t.can_transpile("SELECT COMPRESS(x, 'zlib') FROM t")
        assert not ok and "IcebreakerEngine" in msg
        from dbt_icebreaker_spark.transpiler.core import Transpiler

        te = Transpiler()
        te.session_udfs = True
        assert "compress" in te.to_spark(
            "SELECT COMPRESS(x, 'zlib') FROM t").lower()


class TestRound5BatteryFixes:
    """Round-5 battery findings: variant-cast element args to array
    functions, SPLIT_TO_TABLE's SEQ column, temp tables."""

    def test_array_element_variant_casts_stripped(self, spark):
        for sql, expect in (
            ("SELECT ARRAY_INSERT(ARRAY_CONSTRUCT(1,3), 1, 2::VARIANT) AS v", [1, 2, 3]),
            ("SELECT ARRAY_APPEND(ARRAY_CONSTRUCT(1), 2::VARIANT) AS v", [1, 2]),
            ("SELECT ARRAY_PREPEND(ARRAY_CONSTRUCT(2), 1::VARIANT) AS v", [1, 2]),
            ("SELECT ARRAY_REMOVE(ARRAY_CONSTRUCT(1,2,1), 1::VARIANT) AS v", [2]),
        ):
            assert spark.sql(t.to_spark(sql)).collect()[0].v == expect, sql

    def test_split_to_table_seq_column(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT s.seq, s.index, s.value "
            "FROM TABLE(SPLIT_TO_TABLE('x-y', '-')) s"
        )).collect()
        assert [(r["index"], r.value) for r in rows] == [(1, "x"), (2, "y")]
        # one input row → one seq value across its tokens
        assert len({r.seq for r in rows}) == 1

    def test_temp_table_becomes_temp_view(self, spark):
        out = t.to_spark("CREATE OR REPLACE TEMPORARY TABLE tt5 AS SELECT 1 AS a")
        assert "TEMPORARY VIEW" in out and "TABLE" not in out.upper().replace(
            "TEMPORARY VIEW", ""
        )
        spark.sql(out)
        assert spark.sql("SELECT a FROM tt5").collect()[0].a == 1

    def test_temp_table_ddl_only_refuses(self):
        ok, msg = t.can_transpile("CREATE TEMP TABLE x (a INT)")
        assert not ok and "AS SELECT" in msg

    def test_temp_table_if_not_exists_refuses(self):
        ok, msg = t.can_transpile(
            "CREATE TEMP TABLE IF NOT EXISTS x AS SELECT 1 AS a"
        )
        assert not ok and "IF NOT EXISTS" in msg

    def test_plain_create_table_untouched(self):
        out = t.to_spark("CREATE TABLE x AS SELECT 1 AS a")
        assert "VIEW" not in out.upper()


class TestMinhashSketch:
    """MINHASH / MINHASH_COMBINE / APPROXIMATE_SIMILARITY → pure-JVM
    array/fold SQL on the Python kernel's md5 hash family
    (transforms.rewrite_minhash; corpus entry q74 gates the values)."""

    def test_minhash_expands_to_min_aggregates(self):
        out = t.to_spark("SELECT MINHASH(4, v) AS mh FROM x GROUP BY g")
        assert "MINHASH" not in out.upper()
        assert out.count("min(md5(concat_ws(':'") == 4
        assert "array(" in out

    def test_combine_is_least_fold(self):
        out = t.to_spark("SELECT MINHASH_COMBINE(mh) FROM s")
        assert "MINHASH_COMBINE" not in out.upper()
        assert "zip_with" in out and "<=" in out and "collect_list" in out

    def test_similarity_is_agreement_fraction(self):
        for fn in ("APPROXIMATE_SIMILARITY", "APPROXIMATE_JACCARD_INDEX"):
            out = t.to_spark(f"SELECT {fn}(mh) FROM s")
            assert fn not in out.upper()
            assert "zip_with" in out and "filter" in out and ">=" in out

    def test_nonliteral_k_refuses(self):
        ok, msg = t.can_transpile("SELECT MINHASH(k, v) FROM x")
        assert not ok and "integer literal" in msg

    def test_oversize_k_refuses(self):
        ok, msg = t.can_transpile("SELECT MINHASH(4096, v) FROM x")
        assert not ok and "512" in msg

    def test_column_named_minhash_untouched(self):
        ok, _ = t.can_transpile("SELECT minhash FROM x")
        assert ok

    def test_executes_and_estimates(self, spark):
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW mh_t AS SELECT g, v FROM VALUES "
            "('a','p'),('a','q'),('a','r'),('a','s'),"
            "('b','p'),('b','q'),('b','r'),('b','z') t(g, v)"
        )
        out = t.to_spark(
            "SELECT APPROXIMATE_SIMILARITY(mh) AS sim FROM "
            "(SELECT MINHASH(64, v) AS mh FROM mh_t GROUP BY g)"
        )
        sim = spark.sql(out).collect()[0].sim
        # true Jaccard = 3/5 = 0.6; k=64 estimate lands near it
        assert 0.3 <= sim <= 0.9

    def test_combine_equals_whole(self, spark):
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW mh_u AS SELECT v FROM VALUES "
            "('a'),('b'),('c'),('d'),('e'),('f') t(v)"
        )
        combined = spark.sql(t.to_spark(
            "SELECT MINHASH_COMBINE(mh) AS c FROM ("
            "SELECT MINHASH(8, v) AS mh FROM mh_u WHERE v < 'd' "
            "UNION ALL SELECT MINHASH(8, v) FROM mh_u WHERE v >= 'd')"
        )).collect()[0].c
        whole = spark.sql(t.to_spark(
            "SELECT MINHASH(8, v) AS mh FROM mh_u"
        )).collect()[0].mh
        assert combined == whole




def _norm(sql: str) -> str:
    import re as _re
    return _re.sub(r"\s+", " ", sql)

class TestTokenAndEncodingFuncs:
    def test_strtok_skips_empty_tokens_null_oob(self):
        # faithful STRTOK: char-set split, empty tokens skipped,
        # out-of-range part -> NULL (try_element_at)
        out = _norm(t.to_spark("SELECT STRTOK(s, '-', 2) FROM x"))
        assert "try_element_at(filter(split(s," in out
        assert "x -> x != ''" in out and ", 2)" in out
        out = _norm(t.to_spark("SELECT STRTOK(s) FROM x"))
        assert "try_element_at" in out and ", 1)" in out

    def test_strtok_nonliteral_delim_falls_back(self):
        out = _norm(t.to_spark("SELECT STRTOK(s, d, 2) FROM x"))
        assert "split_part(s, d, 2)" in out

    def test_bitshifts(self):
        out = _norm(t.to_spark("SELECT BITSHIFTLEFT(a, 1), BITSHIFTRIGHT(b, 2) FROM x"))
        assert "SHIFTLEFT(a, 1)" in out and "SHIFTRIGHT(b, 2)" in out

    def test_seq_to_monotonic_id(self):
        out = _norm(t.to_spark("SELECT SEQ4() FROM x"))
        assert "monotonically_increasing_id()" in out

    def test_base64_hex_decode(self):
        out = _norm(t.to_spark("SELECT BASE64_DECODE_STRING(b), HEX_DECODE_STRING(h) FROM x"))
        assert "CAST(unbase64(b) AS STRING)" in out
        assert "CAST(unhex(h) AS STRING)" in out

    def test_uniform_inclusive_int_semantics(self):
        # Snowflake int bounds are inclusive both ends; Spark's
        # uniform() truncates toward zero (wrong on both ends for
        # negative ranges) -> explicit rand() arithmetic for int
        # literals, seed passed through
        out = _norm(t.to_spark("SELECT UNIFORM(1, 10, RANDOM()) FROM x"))
        assert "(1 + CAST(FLOOR(rand() * 10) AS BIGINT))" in out
        # seeded: Snowflake's seeded RANDOM is constant per statement
        # (r8) -> deterministic xxhash64-derived draw, NOT rand(42)
        out = _norm(t.to_spark("SELECT UNIFORM(1, 10, RANDOM(42)) FROM x"))
        assert "xxhash64" in out and "rand(42)" not in out
        # negative bounds (the case no max-bump could fix)
        out = _norm(t.to_spark("SELECT UNIFORM(-5, -1, RANDOM()) FROM x"))
        assert "(-5 + CAST(FLOOR(rand() * 5) AS BIGINT))" in out
        # float bounds pass through (continuous range)
        out = _norm(t.to_spark("SELECT UNIFORM(0.0, 1.5, RANDOM()) FROM x"))
        assert "uniform(0.0, 1.5)" in out

    def test_uniform_expression_bounds_refused(self):
        # int-vs-float semantics depend on types the transpiler can't
        # see -> actionable error instead of a silently skewed emit
        import pytest as _pytest
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with _pytest.raises(TranspileError, match="UNIFORM"):
            t.to_spark("SELECT UNIFORM(1, n, RANDOM()) FROM x")
        ok, msg = t.can_transpile("SELECT UNIFORM(1, n, RANDOM()) FROM x")
        assert not ok and "UNIFORM" in msg

    def test_base64_custom_alphabet_rejected(self):
        ok, msg = t.can_transpile("SELECT BASE64_DECODE_STRING(b, 'abc') FROM x")
        assert not ok and "alphabet" in msg

    def test_variant_cast_unwrapped_in_array_probes(self):
        out = _norm(t.to_spark("SELECT ARRAY_POSITION(2::VARIANT, arr) FROM x"))
        assert "::STRING" not in out and "array_position( arr, 2)" in out
        out = _norm(t.to_spark("SELECT ARRAY_CONTAINS(2::VARIANT, arr) FROM x"))
        assert "array_contains( arr, 2)" in out


class TestStatAggsAndNameFuncs:
    def test_skew_kurtosis_sample_corrected(self, spark, duck):
        # Snowflake/DuckDB return SAMPLE-corrected estimators; Spark's
        # skewness/kurtosis are population — the rewrite emits the
        # correction, so values must match DuckDB to float precision
        vals = [1.0, 2.0, 2.0, 3.0, 9.0, 4.0, 4.0, 4.0, 7.0]
        spark.createDataFrame([(v,) for v in vals], "x double") \
            .createOrReplaceTempView("skew_v")
        r = spark.sql(t.to_spark(
            "SELECT SKEW(x) AS s, KURTOSIS(x) AS k FROM skew_v"
        )).collect()[0]
        ds, dk = duck.execute(
            "SELECT skewness(x), kurtosis(x) FROM (SELECT unnest(?) AS x)",
            [vals],
        ).fetchone()
        assert abs(r.s - ds) < 1e-9 and abs(r.k - dk) < 1e-9

    def test_skew_window_refused(self):
        ok, msg = t.can_transpile(
            "SELECT SKEW(x) OVER (PARTITION BY g) FROM t"
        )
        assert not ok and "window" in msg.lower()

    def test_dayname_monthname(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT DAYNAME(DATE '2024-01-06') AS d, "
            "MONTHNAME(DATE '2024-02-06') AS m"
        )).collect()[0]
        assert r.d == "Sat" and r.m == "Feb"

    def test_timeadd_timediff_aliases(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT TIMEADD('hour', 3, TIMESTAMP '2024-01-01 00:00:00') AS t1, "
            "TIMESTAMPDIFF('day', DATE '2024-01-01', DATE '2024-02-01') AS t2"
        )).collect()[0]
        assert "03:00" in str(r.t1) and r.t2 == 31

    def test_regexp_substr_all(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT ARRAY_TO_STRING(REGEXP_SUBSTR_ALL('a1b22c333', '[0-9]+'), ',') AS r"
        )).collect()[0]
        assert r.r == "1,22,333"

    def test_regexp_substr_all_extra_args_refused(self):
        ok, msg = t.can_transpile(
            "SELECT REGEXP_SUBSTR_ALL(s, 'x', 2) FROM t"
        )
        assert not ok and "2-argument" in msg

    def test_object_agg_json(self, spark):
        import json

        spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int") \
            .createOrReplaceTempView("oa_kv")
        r = spark.sql(t.to_spark(
            "SELECT OBJECT_AGG(k, v) AS o FROM oa_kv"
        )).collect()[0]
        assert json.loads(r.o) == {"a": 1, "b": 2}

    def test_array_unique_agg(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT ARRAY_TO_STRING(ARRAY_UNIQUE_AGG(x), '|') AS u "
            "FROM VALUES (1),(2),(2),(1) AS t(x)"
        )).collect()[0]
        assert sorted(r.u.split("|")) == ["1", "2"]

    def test_try_parse_json(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT TRY_PARSE_JSON('{\"a\":1}') AS good, "
            "TRY_PARSE_JSON('{oops') AS bad, TRY_PARSE_JSON(NULL) AS nul"
        )).collect()[0]
        assert r.good == '{"a":1}' and r.bad is None and r.nul is None

    def test_conditional_change_event_now_supported(self):
        # refused until round 2; now rewritten to the LAG + running
        # SUM subquery (TestConditionalChangeEvent, corpus q61)
        ok, msg = t.can_transpile(
            "SELECT CONDITIONAL_CHANGE_EVENT(x) OVER (ORDER BY i) FROM t"
        )
        assert ok, msg


class TestGeneratorAndSplitToTable:
    def test_generator_rowcount(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT seq_gen FROM TABLE(GENERATOR(ROWCOUNT => 5)) ORDER BY seq_gen"
        )).collect()
        assert [r.seq_gen for r in rows] == [0, 1, 2, 3, 4]

    def test_generator_zero_rows(self, spark):
        assert spark.sql(t.to_spark(
            "SELECT COUNT(*) AS n FROM TABLE(GENERATOR(ROWCOUNT => 0))"
        )).collect()[0].n == 0

    def test_generator_timelimit_refused(self):
        ok, msg = t.can_transpile(
            "SELECT 1 FROM TABLE(GENERATOR(TIMELIMIT => 10))"
        )
        assert not ok and "ROWCOUNT" in msg

    def test_date_spine_pattern(self, spark):
        # the dbt_utils date-spine idiom end-to-end
        rows = spark.sql(t.to_spark(
            "SELECT DATEADD(DAY, ROW_NUMBER() OVER (ORDER BY 1) - 1, "
            "DATE '2001-01-01') AS d "
            "FROM TABLE(GENERATOR(ROWCOUNT => 3)) ORDER BY d"
        )).collect()
        assert [str(r.d)[:10] for r in rows] == [
            "2001-01-01", "2001-01-02", "2001-01-03"]

    def test_split_to_table_one_based_keeps_empties(self, spark):
        spark.createDataFrame([("a,b,,c",)], "s string") \
            .createOrReplaceTempView("stt_t")
        rows = spark.sql(t.to_spark(
            "SELECT f.index, f.value FROM stt_t, "
            "LATERAL SPLIT_TO_TABLE(s, ',') f ORDER BY f.index"
        )).collect()
        assert [(r["index"], r.value) for r in rows] == [
            (1, "a"), (2, "b"), (3, ""), (4, "c")]

    def test_split_to_table_literal_dot_delim(self, spark):
        # '.' must split literally, not as a regex wildcard
        rows = spark.sql(t.to_spark(
            "SELECT f.value FROM TABLE(SPLIT_TO_TABLE('a.b.c', '.')) f"
        )).collect()
        assert [r.value for r in rows] == ["a", "b", "c"]

    def test_strtok_split_to_table_skips_empties(self, spark):
        spark.createDataFrame([("a, b;;c",)], "s string") \
            .createOrReplaceTempView("stt_t2")
        rows = spark.sql(t.to_spark(
            "SELECT f.index, f.value FROM stt_t2, "
            "LATERAL STRTOK_SPLIT_TO_TABLE(s, ' ,;') f ORDER BY f.index"
        )).collect()
        assert [(r["index"], r.value) for r in rows] == [
            (1, "a"), (2, "b"), (3, "c")]

    def test_strtok_split_nonliteral_delim_refused(self):
        ok, msg = t.can_transpile(
            "SELECT f.value FROM t, LATERAL STRTOK_SPLIT_TO_TABLE(s, d) f"
        )
        assert not ok and "literal" in msg

    def test_table_flatten_paren_form(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT f.index, f.value "
            "FROM TABLE(FLATTEN(input => ARRAY_CONSTRUCT('p','q'))) f"
        )).collect()
        assert [(r["index"], r.value) for r in rows] == [(0, "p"), (1, "q")]


class TestArrayIndexSemantics:
    def test_array_insert_zero_based(self, spark):
        # Snowflake position 2 (0-based) = Spark position 3 (1-based)
        r = spark.sql(t.to_spark(
            "SELECT ARRAY_INSERT(ARRAY_CONSTRUCT('a','b','c'), 2, 'X') AS a"
        )).collect()[0]
        assert r.a == ["a", "b", "X", "c"]

    def test_array_insert_expression_position(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT ARRAY_INSERT(ARRAY_CONSTRUCT('a','b'), 1 + 0, 'X') AS a"
        )).collect()[0]
        assert r.a == ["a", "X", "b"]

    def test_array_insert_negative_refused(self):
        ok, msg = t.can_transpile(
            "SELECT ARRAY_INSERT(arr, -1, 'X') FROM v"
        )
        assert not ok and "negative" in msg

    def test_array_generate_range(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT ARRAY_GENERATE_RANGE(0, 5) AS up, "
            "ARRAY_GENERATE_RANGE(5, 0, -2) AS down, "
            "ARRAY_GENERATE_RANGE(0, 0) AS empty, "
            "ARRAY_GENERATE_RANGE(0, -5) AS wrongway"
        )).collect()[0]
        assert r.up == [0, 1, 2, 3, 4]
        assert r.down == [5, 3, 1]
        assert r.empty == [] and r.wrongway == []

    def test_get_object_key_and_array_index(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT GET(PARSE_JSON('{\"a\": 7}'), 'a') AS obj_v, "
            "GET(ARRAY_CONSTRUCT('x','y'), 1) AS arr_v"
        )).collect()[0]
        assert r.obj_v == "7" and r.arr_v == "y"

class TestObjectManipulation:
    """OBJECT_INSERT/DELETE/PICK on the JSON-string VARIANT model
    (round-4 upgrade of the T31 refusal tail): the splice runs on
    from_json(obj, 'map<string,variant>') so field types survive, and
    output keys are sorted — Snowflake's canonical object order."""

    def test_insert_preserves_types_and_sorts(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT OBJECT_INSERT(OBJECT_CONSTRUCT('z', 1, 'a', 'x'), "
            "'m', 2.5) AS r"
        )).collect()[0]
        assert r.r == '{"a":"x","m":2.5,"z":1}'

    def test_insert_nested_object_value_survives(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT OBJECT_INSERT(PARSE_JSON('{\"n\":{\"deep\":true}}'), "
            "'m', 5) AS r"
        )).collect()[0]
        assert r.r == '{"m":5,"n":{"deep":true}}'

    def test_insert_update_flag_upserts(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT OBJECT_INSERT(OBJECT_CONSTRUCT('a', 1, 'b', 'x'), "
            "'a', 99, TRUE) AS r"
        )).collect()[0]
        assert r.r == '{"a":99,"b":"x"}'

    def test_insert_duplicate_key_errors_like_snowflake(self, spark):
        with pytest.raises(Exception, match="DUPLICATED_MAP_KEY"):
            spark.sql(t.to_spark(
                "SELECT OBJECT_INSERT(OBJECT_CONSTRUCT('a', 1), 'a', 2) AS r"
            )).collect()

    def test_delete_multiple_keys(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT OBJECT_DELETE(OBJECT_CONSTRUCT("
            "'a', 1, 'b', 'x', 'c', 3), 'b', 'c') AS r"
        )).collect()[0]
        assert r.r == '{"a":1}'

    def test_pick_keeps_only_named(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT OBJECT_PICK(OBJECT_CONSTRUCT("
            "'a', 1, 'b', 'x', 'c', 3), 'a', 'c', 'missing') AS r"
        )).collect()[0]
        assert r.r == '{"a":1,"c":3}'

    def test_null_object_stays_null(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT OBJECT_DELETE(NULL, 'a') AS d, "
            "OBJECT_PICK(NULL, 'a') AS p"
        )).collect()[0]
        assert r.d is None and r.p is None

    def test_no_python_udf(self):
        out = t.to_spark("SELECT OBJECT_PICK(o, 'a') FROM v")
        assert "map_filter(" in out and "from_json(" in out

    def test_insert_object_valued_value_nests(self, spark):
        # review fix: a value from a variant PRODUCER (OBJECT_CONSTRUCT
        # / PARSE_JSON / nested OBJECT_*) must splice as a nested
        # OBJECT, not a double-encoded string
        r = spark.sql(t.to_spark(
            "SELECT OBJECT_INSERT(OBJECT_CONSTRUCT('a', 1), 'n', "
            "OBJECT_CONSTRUCT('x', 1)) AS r1, "
            "OBJECT_INSERT(OBJECT_CONSTRUCT('a', 1), 'p', "
            "PARSE_JSON('{\"deep\":[1,2]}')) AS r2, "
            "OBJECT_INSERT(OBJECT_CONSTRUCT('a', 1), 'q', "
            "OBJECT_DELETE(OBJECT_CONSTRUCT('x', 1, 'y', 2), 'y')) AS r3"
        )).collect()[0]
        assert r.r1 == '{"a":1,"n":{"x":1}}'
        assert r.r2 == '{"a":1,"p":{"deep":[1,2]}}'
        assert r.r3 == '{"a":1,"q":{"x":1}}'

    def test_insert_plain_string_stays_string(self, spark):
        # ...while a plain string value stays a quoted string, even
        # one that happens to look like JSON
        r = spark.sql(t.to_spark(
            "SELECT OBJECT_INSERT(OBJECT_CONSTRUCT('a', 1), 's', "
            "'{\"not\":\"nested\"}') AS r"
        )).collect()[0]
        assert r.r == '{"a":1,"s":"{\\"not\\":\\"nested\\"}"}'

    def test_delete_pick_null_key_matches_nothing(self, spark):
        # review fix: NULL key — Snowflake deletes/picks NOTHING; a
        # bare NULL lambda predicate would have dropped every entry
        r = spark.sql(t.to_spark(
            "SELECT OBJECT_DELETE(OBJECT_CONSTRUCT('a', 1, 'b', 2), "
            "CAST(NULL AS VARCHAR)) AS d, "
            "OBJECT_PICK(OBJECT_CONSTRUCT('a', 1, 'b', 2), "
            "CAST(NULL AS VARCHAR)) AS p, "
            "OBJECT_DELETE(OBJECT_CONSTRUCT('a', 1, 'b', 2), "
            "'a', CAST(NULL AS VARCHAR)) AS mixed"
        )).collect()[0]
        assert r.d == '{"a":1,"b":2}'
        assert r.p == "{}"
        assert r.mixed == '{"b":2}'


class TestJaroWinklerAndCiGet:
    """JAROWINKLER_SIMILARITY (round-4 upgrade of the refusal tail):
    pure-JVM lambda chain, fuzz-pinned to DuckDB semantics (floor
    transpositions, 0.7 boost threshold, window max(0, len/2-1));
    Snowflake contract: case-insensitive, integer 0-100."""

    def test_known_values(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT JAROWINKLER_SIMILARITY('MARTHA', 'MARHTA') AS a, "
            "JAROWINKLER_SIMILARITY('DIXON', 'DICKSONX') AS b, "
            "JAROWINKLER_SIMILARITY('same', 'same') AS c, "
            "JAROWINKLER_SIMILARITY('abc', 'xyz') AS d"
        )).collect()[0]
        # 0.9611 -> 96, 0.8133 -> 81
        assert (r.a, r.b, r.c, r.d) == (96, 81, 100, 0)

    def test_case_insensitive(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT JAROWINKLER_SIMILARITY('Phone', 'PHONE') AS x"
        )).collect()[0]
        assert r.x == 100

    def test_null_and_empty(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT JAROWINKLER_SIMILARITY(NULL, 'a') AS n, "
            "JAROWINKLER_SIMILARITY('', 'a') AS e"
        )).collect()[0]
        assert r.n is None and r.e == 0

    def test_no_python_udf(self):
        out = t.to_spark("SELECT JAROWINKLER_SIMILARITY(a, b) FROM x")
        assert "aggregate(" in out and "udf" not in out.lower()

    def test_get_ignore_case(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT GET_IGNORE_CASE(OBJECT_CONSTRUCT('Alpha', 7, "
            "'Beta', 'x'), 'ALPHA') AS a, "
            "GET_IGNORE_CASE(OBJECT_CONSTRUCT('Alpha', 7), 'beta') AS b, "
            "GET_IGNORE_CASE(PARSE_JSON('{\"K\":{\"n\":1}}'), 'k') AS c"
        )).collect()[0]
        assert r.a == "7" and r.b is None and r.c == '{"n":1}'


class TestTypeAliasesAndMiscScalars:
    def test_number_cast_forms(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT CAST(12.345::NUMBER(10,2) AS DOUBLE) AS a, "
            "123::NUMBER AS b"
        )).collect()[0]
        assert (r.a, r.b) == (12.35, 123)  # NUMBER defaults to (38,0)

    def test_text_float8_byteint(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT 'x'::TEXT AS a, CAST('y' AS TEXT) AS b, "
            "1.5::FLOAT8 AS c, 2::BYTEINT AS d"
        )).collect()[0]
        assert (r.a, r.b, r.c, r.d) == ("x", "y", 1.5, 2)

    def test_columns_named_like_types_untouched(self, spark):
        # alias/column positions are not cast positions
        r = spark.sql(t.to_spark(
            "SELECT number, x AS text FROM (SELECT 1 AS number, 2 AS x)"
        )).collect()[0]
        assert (r.number, r.text) == (1, 2)

    def test_localtimestamp_bare_and_call(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT LOCALTIMESTAMP IS NOT NULL AS a, "
            "LOCALTIMESTAMP() IS NOT NULL AS b"
        )).collect()[0]
        assert (r.a, r.b) == (True, True)

    def test_hash_agg_order_independent(self, spark):
        a = spark.sql(t.to_spark(
            "SELECT HASH_AGG(x) AS r FROM (SELECT 1 AS x UNION ALL SELECT 2)"
        )).collect()[0].r
        b = spark.sql(t.to_spark(
            "SELECT HASH_AGG(x) AS r FROM (SELECT 2 AS x UNION ALL SELECT 1)"
        )).collect()[0].r
        c = spark.sql(t.to_spark(
            "SELECT HASH_AGG(x) AS r FROM (SELECT 3 AS x UNION ALL SELECT 1)"
        )).collect()[0].r
        assert a == b and a != c


class TestSampleSeed:
    def test_seed_repeatable_reproducible(self, spark):
        from dbt_icebreaker_spark.sources import register_dir

        register_dir(spark, "/root/testdata/sf0.001")
        for sql in (
            "SELECT * FROM orders SAMPLE (2) SEED (42)",
            "SELECT * FROM orders SAMPLE (2) REPEATABLE (42)",
            "SELECT * FROM orders TABLESAMPLE BERNOULLI (2) SEED (1)",
        ):
            out = t.to_spark(sql)
            assert "REPEATABLE" in out
            a = {r.o_orderkey for r in spark.sql(out).collect()}
            b = {r.o_orderkey for r in spark.sql(out).collect()}
            assert a == b and a  # deterministic, non-empty

    def test_rows_sample_with_seed(self, spark):
        from dbt_icebreaker_spark.sources import register_dir

        register_dir(spark, "/root/testdata/sf0.001")
        out = t.to_spark("SELECT * FROM orders SAMPLE (5 ROWS) SEED (7)")
        assert len(spark.sql(out).collect()) == 5


class TestFetchFirstAndPositional:
    def test_fetch_first_forms(self, spark):
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW ff AS "
            "SELECT * FROM VALUES (1),(2),(3) v(k)"
        )
        for sql, want in (
            ("SELECT k FROM ff ORDER BY k FETCH FIRST 2 ROWS ONLY", [1, 2]),
            ("SELECT k FROM ff ORDER BY k FETCH NEXT 1 ROW ONLY", [1]),
            ("SELECT k FROM ff ORDER BY k OFFSET 1 ROWS "
             "FETCH FIRST 2 ROWS ONLY", [2, 3]),
            ("SELECT k FROM ff ORDER BY k OFFSET 1 ROW", [2, 3]),
            ("SELECT k FROM ff ORDER BY k FETCH FIRST ROW ONLY", [1]),
        ):
            got = [r.k for r in spark.sql(t.to_spark(sql)).collect()]
            assert got == want, (sql, got)

    def test_positional_cols(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT $1 AS a, $2 AS b FROM VALUES (7, 'x')"
        )).collect()[0]
        assert (r.a, r.b) == (7, "x")
        # the staged-file idiom: positional ref + JSON path
        r2 = spark.sql(t.to_spark(
            "SELECT $1:name AS n FROM VALUES ('{\"name\":\"z\"}')"
        )).collect()[0]
        assert r2.n == "z"


class TestDatediffBoundaries:
    """Snowflake DATEDIFF counts date-part boundaries crossed (DuckDB
    agrees); Spark's 3-arg datediff counts complete intervals — the
    round-4 rewrite closes the off-by-one class."""

    def test_boundary_counting(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT DATEDIFF(month, '2024-01-31'::DATE, '2024-03-01'::DATE) AS m, "
            "DATEDIFF(year, '2023-12-31'::DATE, '2024-01-01'::DATE) AS y, "
            "DATEDIFF(quarter, '2024-03-31'::DATE, '2024-04-01'::DATE) AS q, "
            "DATEDIFF('week', '2024-01-06'::DATE, '2024-01-08'::DATE) AS w, "
            "DATEDIFF(day, '2024-01-01 23:00:00'::TIMESTAMP, "
            "'2024-01-02 01:00:00'::TIMESTAMP) AS d, "
            "DATEDIFF(hour, '2024-01-01 10:59:00'::TIMESTAMP, "
            "'2024-01-01 11:01:00'::TIMESTAMP) AS h"
        )).collect()[0]
        assert (r.m, r.y, r.q, r.w, r.d, r.h) == (2, 1, 1, 1, 1, 1)

    def test_negative_and_plain(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT DATEDIFF(month, '2024-03-01'::DATE, '2024-01-31'::DATE) AS m, "
            "DATEDIFF(day, '2024-01-01'::DATE, '2024-01-15'::DATE) AS d"
        )).collect()[0]
        assert (r.m, r.d) == (-2, 14)

    def test_try_to_date_format_converted(self, spark):
        import datetime

        r = spark.sql(t.to_spark(
            "SELECT TRY_TO_DATE('15-03-2024', 'DD-MM-YYYY') AS a, "
            "TRY_TO_DATE('junk', 'DD-MM-YYYY') AS b"
        )).collect()[0]
        assert r.a == datetime.date(2024, 3, 15) and r.b is None

    def test_week_function_and_column(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT WEEK('2024-01-04'::DATE) AS w, "
            "(SELECT week FROM (SELECT 5 AS week)) AS col_ok"
        )).collect()[0]
        assert (r.w, r.col_ok) == (1, 5)


class TestDayOfWeekAndContext:
    def test_dayofweek_sunday_zero(self, spark):
        # Snowflake default WEEK_START=0: Sunday=0..Saturday=6
        r = spark.sql(t.to_spark(
            "SELECT DAYOFWEEK('2024-01-07'::DATE) AS sun, "
            "DAYOFWEEK('2024-01-08'::DATE) AS mon, "
            "DAYOFWEEK('2024-01-13'::DATE) AS sat"
        )).collect()[0]
        assert (r.sun, r.mon, r.sat) == (0, 1, 6)

    def test_context_functions_null_or_mapped(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT CURRENT_WAREHOUSE() AS wh, CURRENT_ROLE() AS rl, "
            "CURRENT_ACCOUNT() AS acct, CURRENT_SESSION() AS sess, "
            "CURRENT_VERSION() AS v"
        )).collect()[0]
        assert (r.wh, r.rl, r.acct, r.sess) == (None, None, None, None)
        assert r.v  # Spark version string

    def test_last_query_id_refused(self):
        ok, msg = t.can_transpile("SELECT LAST_QUERY_ID() FROM t")
        assert not ok and "telemetry" in msg

    def test_date_part_and_extract_dayofweek_shift(self, spark):
        # review fix: every dayofweek spelling gets the Sunday=0 shift,
        # not just the DAYOFWEEK() function form
        r = spark.sql(t.to_spark(
            "SELECT DATE_PART(dayofweek, '2024-01-07'::DATE) AS a, "
            "DATE_PART('dow', '2024-01-07'::DATE) AS b, "
            "EXTRACT(DAYOFWEEK FROM '2024-01-07'::DATE) AS c, "
            "DAYOFWEEK('2024-01-07'::DATE) AS d"
        )).collect()[0]
        assert (r.a, r.b, r.c, r.d) == (0, 0, 0, 0)  # Sunday

    def test_localtime_on_time_model(self, spark):
        # review fix: LOCALTIME is a TIME value — epoch-day anchored,
        # so comparisons against TIME_FROM_PARTS are meaningful
        r = spark.sql(t.to_spark(
            "SELECT CAST(LOCALTIME AS DATE) AS d, "
            "(LOCALTIME >= TIME_FROM_PARTS(0, 0, 0)) AS after_midnight"
        )).collect()[0]
        assert str(r.d) == "1970-01-01" and r.after_midnight is True

    def test_hash_agg_distinct(self, spark):
        a = spark.sql(t.to_spark(
            "SELECT HASH_AGG(DISTINCT x) AS r FROM "
            "(SELECT 1 AS x UNION ALL SELECT 1 UNION ALL SELECT 2)"
        )).collect()[0].r
        b = spark.sql(t.to_spark(
            "SELECT HASH_AGG(DISTINCT x) AS r FROM "
            "(SELECT 2 AS x UNION ALL SELECT 1)"
        )).collect()[0].r
        assert a == b  # duplicates collapse before the fold


class TestJsonTextArrayInputs:
    """Array-consuming functions over statically-known JSON text
    (lowered PARSE_JSON literals / TO_VARIANT string casts) must parse
    the text to an array first — posexplode/size on a bare STRING is
    an analysis error (round-4 battery finding)."""

    def test_flatten_parse_json_literal(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT f.index, f.value FROM (SELECT 1 AS k), "
            "LATERAL FLATTEN(input => PARSE_JSON('[10,20]')) f"
        )).collect()
        assert [(r["index"], r["value"]) for r in rows] == [(0, "10"), (1, "20")]

    def test_flatten_outer_empty_json(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT f.value FROM (SELECT 1 AS k), "
            "LATERAL FLATTEN(input => PARSE_JSON('[]'), OUTER => TRUE) f"
        )).collect()
        assert len(rows) == 1 and rows[0].value is None

    def test_array_size_json_text(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT ARRAY_SIZE(PARSE_JSON('[1,2,3]')) AS a, "
            "ARRAY_SIZE(PARSE_JSON('{\"k\":1}')) AS b, "  # non-array → NULL
            "ARRAY_SIZE(ARRAY_CONSTRUCT(1,2)) AS c"
        )).collect()[0]
        assert (r.a, r.b, r.c) == (3, None, 2)

    def test_real_array_column_still_direct(self, spark):
        # a plain column ref must NOT be wrapped (runtime type unknown,
        # native arrays are the common case)
        out = t.to_spark("SELECT ARRAY_SIZE(arr) FROM v")
        assert "from_json" not in out and "size" in out.lower()


class TestAsofJoin:
    """Snowflake ASOF JOIN (MATCH_CONDITION) → LEFT JOIN LATERAL
    top-1; Catalyst decorrelates to a WindowGroupLimit plan."""

    def _run(self, spark, sql):
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW asof_l AS SELECT * FROM VALUES "
            "(1, 10), (1, 20), (2, 5) t(k, ts)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW asof_r AS SELECT * FROM VALUES "
            "(1, 8, 'a'), (1, 15, 'b'), (2, 99, 'c') t(k, rts, v)"
        )
        return sorted(
            tuple(r) for r in spark.sql(t.to_spark(sql)).collect()
        )

    def test_basic_left_semantics(self, spark):
        got = self._run(
            spark,
            "SELECT l.k, l.ts, r.v FROM asof_l l ASOF JOIN asof_r r "
            "MATCH_CONDITION(l.ts >= r.rts) ON l.k = r.k",
        )
        # (2,5) has no purchase at-or-before → NULL row survives
        assert got == [(1, 10, "a"), (1, 20, "b"), (2, 5, None)]

    def test_flipped_operand_direction(self, spark):
        # r.rts <= l.ts is the same condition spelled from the right
        got = self._run(
            spark,
            "SELECT l.k, l.ts, r.v FROM asof_l l ASOF JOIN asof_r r "
            "MATCH_CONDITION(r.rts <= l.ts) ON l.k = r.k",
        )
        assert got == [(1, 10, "a"), (1, 20, "b"), (2, 5, None)]

    def test_forward_direction(self, spark):
        # l.ts <= r.rts: earliest right row at-or-after
        got = self._run(
            spark,
            "SELECT l.k, l.ts, r.v FROM asof_l l ASOF JOIN asof_r r "
            "MATCH_CONDITION(l.ts <= r.rts) ON l.k = r.k",
        )
        assert got == [(1, 10, "b"), (1, 20, None), (2, 5, "c")]

    def test_no_on_clause(self, spark):
        got = self._run(
            spark,
            "SELECT l.k, l.ts, r.v FROM asof_l l ASOF JOIN asof_r r "
            "MATCH_CONDITION(l.ts >= r.rts)",
        )
        # no equality keys: latest over ALL right rows at-or-before
        assert got == [(1, 10, "a"), (1, 20, "b"), (2, 5, None)]

    def test_unsupported_shapes_refuse(self):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        # no MATCH_CONDITION anywhere → `a asof` is read as an alias
        # and the statement passes through as a regular join
        out = t.to_spark("SELECT * FROM a ASOF JOIN b ON a.k = b.k")
        assert "LATERAL" not in out
        with pytest.raises(TranspileError, match="single comparison"):
            t.to_spark(
                "SELECT * FROM a ASOF JOIN b "
                "MATCH_CONDITION(a.ts >= b.ts AND a.x > b.y)"
            )

    def test_asof_as_identifier_untouched(self):
        out = t.to_spark("SELECT asof FROM t WHERE asof > 1")
        assert "asof" in out and "LATERAL" not in out

    def test_asof_as_table_alias_before_join(self):
        # review fix: without MATCH_CONDITION anywhere, `trades asof
        # JOIN quotes` is a table aliased asof + a regular join
        out = t.to_spark(
            "SELECT * FROM trades asof JOIN quotes q ON asof.id = q.id"
        )
        assert "LATERAL" not in out and "JOIN quotes" in out

    def test_asof_subquery_needs_alias(self):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="needs an alias"):
            t.to_spark(
                "SELECT * FROM l ASOF JOIN (SELECT k, ts FROM r) "
                "MATCH_CONDITION(l.ts >= r.ts)"
            )

    def test_select_star_uses_exact_lateral_form(self, spark):
        # SELECT * must stay column-exact (l.* + r.*): the interval
        # scale path adds a helper column, so star selects keep the
        # LATERAL form
        out = t.to_spark(
            "SELECT * FROM asof_l l ASOF JOIN asof_r r "
            "MATCH_CONDITION(l.ts >= r.rts) ON l.k = r.k"
        )
        assert "LATERAL" in out and "__asof_bound" not in out
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW asof_l AS SELECT * FROM VALUES "
            "(1, 10) t(k, ts)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW asof_r AS SELECT * FROM VALUES "
            "(1, 8, 'a') t(k, rts, v)"
        )
        df = spark.sql(out)
        assert df.columns == ["k", "ts", "k", "rts", "v"]

    def test_explicit_columns_use_interval_form(self):
        out = t.to_spark(
            "SELECT l.k, r.v FROM asof_l l ASOF JOIN asof_r r "
            "MATCH_CONDITION(l.ts >= r.rts) ON l.k = r.k"
        )
        assert "LATERAL" not in out and "__asof_bound" in out
        assert "LEAD" in out.upper()

    def test_left_star_still_interval(self):
        # l.* is safe (only the RIGHT side carries the helper column)
        out = t.to_spark(
            "SELECT l.*, r.v FROM asof_l l ASOF JOIN asof_r r "
            "MATCH_CONDITION(l.ts >= r.rts) ON l.k = r.k"
        )
        assert "__asof_bound" in out

    def test_duplicate_right_ties_pick_one(self, spark):
        # two right rows at the SAME (k, ts): exactly one match row
        # per left row (Snowflake picks one nondeterministically; the
        # interval form keeps the last tie in window order)
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW asof_l AS SELECT * FROM VALUES "
            "(1, 10) t(k, ts)"
        )
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW asof_r AS SELECT * FROM VALUES "
            "(1, 8, 'a'), (1, 8, 'b') t(k, rts, v)"
        )
        rows = spark.sql(t.to_spark(
            "SELECT l.k, l.ts, r.v FROM asof_l l ASOF JOIN asof_r r "
            "MATCH_CONDITION(l.ts >= r.rts) ON l.k = r.k"
        )).collect()
        assert len(rows) == 1 and rows[0].v in ("a", "b")

    def test_forward_direction_interval(self, spark):
        # earliest-at-or-after goes through LAG
        out = t.to_spark(
            "SELECT l.k, l.ts, r.v FROM asof_l l ASOF JOIN asof_r r "
            "MATCH_CONDITION(l.ts <= r.rts) ON l.k = r.k"
        )
        assert "LAG" in out.upper() and "__asof_bound" in out
        got = self._run(
            spark,
            "SELECT l.k, l.ts, r.v FROM asof_l l ASOF JOIN asof_r r "
            "MATCH_CONDITION(l.ts <= r.rts) ON l.k = r.k",
        )
        assert got == [(1, 10, "b"), (1, 20, None), (2, 5, "c")]

    def test_multiplication_star_keeps_interval_form(self):
        # r5 review: `l.v * 2` in the projection is NOT a SELECT star —
        # the scale path must stay active
        out = t.to_spark(
            "SELECT l.k, l.ts * 2 AS t2, r.v FROM asof_l l "
            "ASOF JOIN asof_r r "
            "MATCH_CONDITION(l.ts >= r.rts) ON l.k = r.k"
        )
        assert "__asof_bound" in out and "LATERAL" not in out

    def test_mixed_alias_right_expr_refuses(self):
        # r5 review: a right-side operand referencing the LEFT alias
        # can't hoist into the right subquery, and Spark rejects outer
        # references in a correlated ORDER BY — refuse actionably
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="another\\s+alias"):
            t.to_spark(
                "SELECT l.k, r.v FROM asof_l l ASOF JOIN asof_r r "
                "MATCH_CONDITION(l.ts >= r.rts + l.k) ON l.k = r.k"
            )

    def test_right_only_expression_still_works(self, spark):
        # derived right-side exprs over ONLY the right alias stay
        # supported via the LATERAL form (not a simple column → no
        # interval hoist)
        got = self._run(
            spark,
            "SELECT l.k, l.ts, r.v FROM asof_l l ASOF JOIN asof_r r "
            "MATCH_CONDITION(l.ts >= r.rts + 0) ON l.k = r.k",
        )
        assert got == [(1, 10, "a"), (1, 20, "b"), (2, 5, None)]

    def test_quoted_on_keys_keep_quoting(self, spark):
        out = t.to_spark(
            'SELECT l.k, r.v FROM asof_l l ASOF JOIN asof_r r '
            'MATCH_CONDITION(l.ts >= r.rts) ON l."k" = r."k"'
        )
        assert "PARTITION BY r.`k`" in out

    def test_asof_inside_cte(self, spark):
        # r4 advisor repro: the ON-clause scan swallowed the CTE's
        # closing paren and everything after it into the lateral WHERE
        got = self._run(
            spark,
            "WITH j AS (SELECT l.k, l.ts, r.v FROM asof_l l "
            "ASOF JOIN asof_r r MATCH_CONDITION(l.ts >= r.rts) "
            "ON l.k = r.k) SELECT k, ts, v FROM j",
        )
        assert got == [(1, 10, "a"), (1, 20, "b"), (2, 5, None)]

    def test_asof_inside_derived_table(self, spark):
        got = self._run(
            spark,
            "SELECT * FROM (SELECT l.k, l.ts, r.v FROM asof_l l "
            "ASOF JOIN asof_r r MATCH_CONDITION(l.ts >= r.rts) "
            "ON l.k = r.k) j WHERE j.k = 1",
        )
        assert got == [(1, 10, "a"), (1, 20, "b")]


class TestEpochExtract:
    def test_date_part_epoch_spellings(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT DATE_PART(EPOCH_SECOND, TIMESTAMP '2024-01-01 00:00:00') AS es, "
            "DATE_PART('epoch_millisecond', TIMESTAMP '2024-01-01 00:00:00') AS ems, "
            "DATE_PART(EPOCH_NANOSECOND, TIMESTAMP '2024-01-01 00:00:00') AS ens, "
            "EXTRACT(EPOCH FROM TIMESTAMP '2024-01-01 00:00:00') AS ex"
        )).collect()[0]
        assert r.es == r.ex == 1704067200
        assert r.ems == 1704067200000 and r.ens == 1704067200000000000

    def test_date_part_epoch_on_date(self, spark):
        # Snowflake accepts DATE input; unix_timestamp needs the cast
        r = spark.sql(t.to_spark(
            "SELECT DATE_PART(EPOCH_SECOND, DATE '2024-01-01') AS e"
        )).collect()[0]
        assert r.e == 1704067200

    def test_date_part_bare_unit_quoted(self, spark):
        # Snowflake allows the bare unit keyword; Spark's date_part
        # needs a foldable string — including alias normalization (dd)
        r = spark.sql(t.to_spark(
            "SELECT DATE_PART(month, DATE '2024-03-05') AS m, "
            "DATE_PART(dd, DATE '2024-03-05') AS d"
        )).collect()[0]
        assert r.m == 3 and r.d == 5


class TestSplitLiteralSemantics:
    def test_split_literal_dot(self, spark):
        # Snowflake SPLIT's delimiter is literal; the regex passthrough
        # used to return six empty strings here
        r = spark.sql(t.to_spark("SELECT SPLIT('a.b.c', '.') AS x")).collect()[0]
        assert r.x == ["a", "b", "c"]

    def test_split_keeps_empty_tokens(self, spark):
        r = spark.sql(t.to_spark("SELECT SPLIT('a,,b', ',') AS x")).collect()[0]
        assert r.x == ["a", "", "b"]

    def test_split_empty_delim_single_token(self, spark):
        r = spark.sql(t.to_spark("SELECT SPLIT('abc', '') AS x")).collect()[0]
        assert r.x == ["abc"]

    def test_split_expression_delim_quoted(self, spark):
        spark.createDataFrame([("a.b", ".")], "s string, d string") \
            .createOrReplaceTempView("sp_t")
        r = spark.sql(t.to_spark("SELECT SPLIT(s, d) AS x FROM sp_t")).collect()[0]
        assert r.x == ["a", "b"]

    def test_strtok_to_array_charset_skips_empties(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT STRTOK_TO_ARRAY('a,, b', ', ') AS x, "
            "STRTOK_TO_ARRAY('one two') AS y"
        )).collect()[0]
        assert r.x == ["a", "b"] and r.y == ["one", "two"]

    def test_strtok_to_array_nonliteral_refused(self):
        ok, msg = t.can_transpile("SELECT STRTOK_TO_ARRAY(s, d) FROM v")
        assert not ok and "literal" in msg

    def test_nested_placeholders_resolve(self, spark):
        # placeholder inside another placeholder's arguments (fixpoint
        # iteration in _fixup_placeholders, not a single pass)
        r = spark.sql(t.to_spark(
            "SELECT ARRAY_INSERT(STRTOK_TO_ARRAY('a#b', '#'), 1, 'X') AS a, "
            "DIV0(CHARINDEX('b', 'ab'), TRUNCATE(2.9)) AS d"
        )).collect()[0]
        assert r.a == ["a", "X", "b"] and r.d == 1.0


class TestTrimAndRegexpExtended:
    def test_two_arg_trim_family_order(self, spark):
        # Spark's 2-arg trim/ltrim/rtrim are (trimStr, srcStr) —
        # REVERSED; the passthrough used to return '' here
        r = spark.sql(t.to_spark(
            "SELECT RTRIM('xxabcxx', 'x') AS r, LTRIM('xxabcxx', 'x') AS l, "
            "TRIM('xxabcxx', 'x') AS b"
        )).collect()[0]
        assert (r.r, r.l, r.b) == ("xxabc", "abcxx", "abc")

    def test_one_arg_and_keyword_trim_untouched(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT RTRIM('  pad  ') AS r, TRIM(BOTH 'x' FROM 'xxaxx') AS k"
        )).collect()[0]
        assert r.r == "  pad" and r.k == "a"

    def test_regexp_replace_backrefs(self, spark):
        r = spark.sql(t.to_spark(
            r"SELECT REGEXP_REPLACE('ab12cd', '([0-9]+)', '<\\1>') AS a, "
            "REGEXP_REPLACE('pay $5 now', 'now', 'later') AS b, "
            "REGEXP_REPLACE('ab12cd', '[0-9]') AS c"
        )).collect()[0]
        # \1 → $1 for Java; literal $ escaped; 2-arg deletes matches
        assert (r.a, r.b, r.c) == ("ab<12>cd", "pay $5 later", "abcd")

    def test_regexp_replace_position(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT REGEXP_REPLACE('aXbXc', 'X', '-', 3) AS a"
        )).collect()[0]
        assert r.a == "aXb-c"

    def test_regexp_replace_occurrence_now_renders(self):
        # r12: a literal occurrence renders via the anchored
        # lazy-counting pattern; only DYNAMIC occurrences refuse
        ok, _ = t.can_transpile("SELECT REGEXP_REPLACE(s,'y','z',1,2) FROM v")
        assert ok
        ok2, msg = t.can_transpile(
            "SELECT REGEXP_REPLACE(s,'y','z',1,n) FROM v")
        assert not ok2 and "occurrence" in msg

    def test_regexp_substr_pos_occ_flags_group(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT REGEXP_SUBSTR('a1b22c', '[0-9]+', 3) AS p3, "
            "REGEXP_SUBSTR('a1b22c', '[0-9]+', 1, 2) AS o2, "
            "REGEXP_SUBSTR('a1b22c', '[0-9]+', 1, 9) AS miss, "
            "REGEXP_SUBSTR('Dog cat', 'DOG', 1, 1, 'i') AS ci, "
            "REGEXP_SUBSTR('id=42;', 'id=([0-9]+)', 1, 1, 'e') AS eg, "
            "REGEXP_SUBSTR('a1-b22', '([a-z])([0-9]+)', 1, 2, 'c', 2) AS g2"
        )).collect()[0]
        assert (r.p3, r.o2, r.miss, r.ci, r.eg, r.g2) == (
            "22", "22", None, "Dog", "42", "22")

    def test_regexp_substr_unknown_param_refused(self):
        ok, msg = t.can_transpile("SELECT REGEXP_SUBSTR(s, p, 1, 1, 'g') FROM v")
        assert not ok and "'g'" in msg


class TestParseUrl:
    def test_parse_url_object(self, spark):
        import json

        r = spark.sql(t.to_spark(
            "SELECT PARSE_URL('https://Example.com:8080/a/b?x=1&y=2#frag') AS u"
        )).collect()[0]
        assert json.loads(r.u) == {
            "fragment": "frag", "host": "Example.com",
            "parameters": {"x": "1", "y": "2"}, "path": "a/b",
            "port": "8080", "query": "x=1&y=2", "scheme": "https",
        }

    def test_parse_url_omits_absent_parts(self, spark):
        import json

        r = spark.sql(t.to_spark(
            "SELECT PARSE_URL('https://h.io/p') AS u"
        )).collect()[0]
        # no port/query/fragment → keys absent (to_json drops NULLs),
        # matching Snowflake's object shape
        assert json.loads(r.u) == {"host": "h.io", "path": "p", "scheme": "https"}

    def test_parse_url_composes_with_json_path(self, spark):
        r = spark.sql(t.to_spark(
            "SELECT p:host::STRING AS h, p:parameters:x::INT AS x "
            "FROM (SELECT PARSE_URL('https://h.io/p?x=7') AS p)"
        )).collect()[0]
        assert r.h == "h.io" and r.x == 7

    def test_colon_chained_json_path(self, spark):
        # Snowflake allows a:b:c as well as a:b.c
        r = spark.sql(t.to_spark(
            "SELECT j:a:b::INT AS v, j:a.b::INT AS w "
            "FROM (SELECT '{\"a\": {\"b\": 5}}' AS j)"
        )).collect()[0]
        assert r.v == 5 and r.w == 5


class TestDelimiterEscaping:
    """The delimiter literal is SQL-unescaped first, then
    regex-escaped, then re-escaped as SQL source — a backslash
    delimiter written '\\\\' (one real backslash) must emit a
    4-backslash source literal (2-char regex), not 6 (invalid)."""

    def test_split_backslash(self):
        out = t.to_spark(r"SELECT SPLIT(s, '\\') FROM x")
        assert "'" + "\\" * 4 + "'" in out

    def test_split_newline_escape(self):
        out = t.to_spark(r"SELECT SPLIT(s, '\n') FROM x")
        # real newline character inside the emitted literal, not
        # a regex-escaped 'n'
        assert "'\n'" in out

    def test_strtok_backslash_class(self):
        out = t.to_spark(r"SELECT STRTOK(s, '\\ ', 1) FROM x")
        assert "[" + "\\" * 4 + " ]" in out

    def test_split_to_table_backslash(self):
        out = t.to_spark(r"SELECT v.value FROM TABLE(SPLIT_TO_TABLE(s, '\\')) v")
        assert "\\" * 4 in out

    def test_doubled_quote_delimiter(self):
        out = t.to_spark("SELECT SPLIT(s, '''') FROM x")
        # '' in source is one real quote -> re-escaped as \'
        assert "'\\''" in out


class TestInsertContexts:
    def test_case_then_insert_is_string_fn(self):
        out = t.to_spark("SELECT CASE WHEN a THEN INSERT(s, 1, 2, 'x') END FROM t1")
        assert "overlay" in out.lower()
        assert "INSERT" not in out.upper().replace("OVERLAY", "")

    def test_merge_insert_with_condition_kept(self):
        sql = (
            "MERGE INTO tgt USING src ON tgt.id = src.id "
            "WHEN NOT MATCHED AND src.v > 5 THEN INSERT (id, v) VALUES (src.id, src.v)"
        )
        out = t.to_spark(sql)
        assert "INSERT (id, v) VALUES" in out
        assert "overlay" not in out.lower()


class TestRound3Functions:
    """BITAND_AGG/BITOR_AGG/BITXOR_AGG, ARRAY_UNION_AGG, 2-arg
    LAST_DAY, PREVIOUS_DAY, TIME_SLICE — all verified by execution
    against Spark during development; these pin the emitted SQL."""

    def setup_method(self):
        from dbt_icebreaker_spark.transpiler import Transpiler
        self.t = Transpiler()

    def test_bit_aggs(self):
        out = self.t.to_spark("SELECT BITAND_AGG(v), BITOR_AGG(v), BITXOR_AGG(v) FROM t")
        assert "BIT_AND(v)" in out and "BIT_OR(v)" in out and "BIT_XOR(v)" in out

    def test_array_union_agg(self):
        out = self.t.to_spark("SELECT ARRAY_UNION_AGG(a) FROM t")
        assert "array_distinct(flatten(collect_list((a))))" in out

    def test_last_day_parts(self):
        t = self.t
        assert "last_day((d))" in t.to_spark("SELECT LAST_DAY(d) FROM t")
        assert "last_day((d))" in t.to_spark("SELECT LAST_DAY(d, 'month') FROM t")
        assert "make_date(year((d)), 12, 31)" in t.to_spark(
            "SELECT LAST_DAY(d, 'year') FROM t"
        )
        assert "date_trunc('quarter'" in t.to_spark("SELECT LAST_DAY(d, 'quarter') FROM t")
        # bare identifier part + Monday-start week -> Sunday
        assert "next_day(date_sub((d), 1), 'Sun')" in t.to_spark(
            "SELECT LAST_DAY(d, week) FROM t"
        )
        import pytest as _pytest
        from dbt_icebreaker_spark.transpiler import TranspileError
        with _pytest.raises(TranspileError, match="LAST_DAY part"):
            t.to_spark("SELECT LAST_DAY(d, 'decade') FROM t")

    def test_previous_day_strictly_earlier(self):
        out = self.t.to_spark("SELECT PREVIOUS_DAY(d, 'Friday') FROM t")
        # the -1/+7 shift that keeps the result strictly before d
        assert "date_sub(next_day(date_sub((d), 1), 'Friday'), 7)" in out

    def test_time_slice(self):
        out = self.t.to_spark("SELECT TIME_SLICE(ts, 15, 'MINUTE') FROM t")
        assert "/ 900" in out and "* 900" in out and "timestamp_seconds" in out
        end = self.t.to_spark("SELECT TIME_SLICE(ts, 15, 'MINUTE', 'END') FROM t")
        assert "* 900 + 900" in end
        import pytest as _pytest
        from dbt_icebreaker_spark.transpiler import TranspileError
        with _pytest.raises(TranspileError, match="TIME_SLICE"):
            self.t.to_spark("SELECT TIME_SLICE(ts, 2, 'MONTH') FROM t")


class TestRound4Functions:
    """GETDATE/SYSDATE, ISO calendar units, VARIANT accessors (AS_*),
    BOOL* scalars, BOOLXOR_AGG, regex position/params args, TIME model
    (TO_TIME/TIME_FROM_PARTS), strict TO_NUMBER family — all verified
    by execution against Spark during development; these pin the
    emitted SQL."""

    def setup_method(self):
        from dbt_icebreaker_spark.transpiler import Transpiler
        self.t = Transpiler()

    def test_now_aliases(self):
        out = self.t.to_spark("SELECT GETDATE(), SYSDATE(), SYSTIMESTAMP()")
        assert out.upper().count("CURRENT_TIMESTAMP") == 3

    def test_iso_units(self):
        t = self.t
        assert "(weekday((d)) + 1)" in t.to_spark("SELECT DAYOFWEEKISO(d) FROM t")
        assert "(weekday((d)) + 1)" in t.to_spark(
            "SELECT DATE_PART(dayofweekiso, d) FROM t")
        assert "(weekday((d)) + 1)" in t.to_spark(
            "SELECT EXTRACT(DAYOFWEEKISO FROM d) FROM t")
        assert "weekofyear((d))" in t.to_spark("SELECT DATE_PART('weekiso', d) FROM t")
        assert "WEEKOFYEAR(d)" in t.to_spark("SELECT WEEKISO(d) FROM t")
        assert "EXTRACT(YEAROFWEEK FROM (d))" in t.to_spark(
            "SELECT YEAROFWEEKISO(d) FROM t")

    def test_variance_renames(self):
        out = self.t.to_spark("SELECT VARIANCE_POP(x), VARIANCE_SAMP(x) FROM t")
        assert "VAR_POP(x)" in out and "VAR_SAMP(x)" in out

    def test_time_model_epoch_day(self):
        t = self.t
        strict = t.to_spark("SELECT TO_TIME(s) FROM t")
        assert "concat('1970-01-01 '" in strict and "CAST(" in strict
        lax = t.to_spark("SELECT TRY_TO_TIME(s) FROM t")
        assert "try_to_timestamp(concat('1970-01-01 '" in lax
        parts = t.to_spark("SELECT TIME_FROM_PARTS(13, 30, 5) FROM t")
        assert "make_timestamp(1970, 1, 1, (13), (30), (5))" in parts
        ns = t.to_spark("SELECT TIME_FROM_PARTS(1, 2, 3, 500000000) FROM t")
        assert "/ 1000000000" in ns

    def test_strict_to_number_family(self):
        t = self.t
        assert "CAST('12.5' AS DECIMAL(38,0))" in t.to_spark("SELECT TO_NUMBER('12.5')")
        assert "CAST((x) AS DECIMAL(10, 2))" in t.to_spark(
            "SELECT TO_DECIMAL(x, 10, 2) FROM t")
        assert "TRY_CAST((x) AS DECIMAL(10, 2))" in t.to_spark(
            "SELECT TRY_TO_DECIMAL(x, 10, 2) FROM t")
        # format strings route to Spark's native to_number family,
        # wrapped in the r13 sign-peel CASE (sign-less formats accept
        # a leading '-'/'+' like Snowflake)
        out = t.to_spark("SELECT TO_NUMBER(x, '$99.99') FROM t")
        assert "to_number((x), '$99.99')" in out
        assert "LIKE '-%'" in out and "substr((x), 2)" in out
        out = t.to_spark("SELECT TRY_TO_NUMBER(x, '999') FROM t")
        assert "try_to_number((x), '999')" in out
        # an S-bearing format keeps the bare parse (Spark handles the
        # sign itself)
        out = t.to_spark("SELECT TO_NUMBER(x, 'S999') FROM t")
        assert "CASE" not in out

    def test_regex_extended_args(self):
        t = self.t
        out = t.to_spark("SELECT REGEXP_COUNT(s, 'a', 2, 'i') FROM t")
        assert "substr(" in out and "'(?i)a'" in out
        out = t.to_spark("SELECT REGEXP_INSTR(s, 'b', 3) FROM t")
        assert "IF(" in out and "- 1)" in out
        # REGEXP_LIKE is implicitly anchored in Snowflake
        out = t.to_spark("SELECT REGEXP_LIKE(s, 'a.*', 'is') FROM t")
        assert "'^(?:(?is)a.*)$'" in out
        out = t.to_spark("SELECT REGEXP_LIKE(s, p) FROM t")
        assert "concat('^(?:', p, ')$')" in out
        # r13: occurrence graduated from refusal (atomic counting
        # pattern); option/group args still refuse
        out = t.to_spark("SELECT REGEXP_INSTR(s, 'b', 1, 2) FROM t")
        assert "(?>" in out and "RLIKE" in out
        with pytest.raises(TranspileError, match="REGEXP_INSTR"):
            t.to_spark("SELECT REGEXP_INSTR(s, 'b', 1, 2, 1) FROM t")
        with pytest.raises(TranspileError, match="occurrence"):
            t.to_spark("SELECT REGEXP_INSTR(s, 'b', 1, n) FROM t")

    def test_variant_accessors(self):
        t = self.t
        assert "TRY_CAST((v) AS BIGINT)" in t.to_spark("SELECT AS_INTEGER(v) FROM t")
        assert "TRY_CAST((v) AS DECIMAL(10, 1))" in t.to_spark(
            "SELECT AS_NUMBER(v, 10, 1) FROM t")
        assert "get_json_object((v), '$')" in t.to_spark("SELECT AS_CHAR(v) FROM t")
        assert "LIKE '\"%'" in t.to_spark("SELECT AS_VARCHAR(v) FROM t")
        assert "AS DATE" in t.to_spark("SELECT AS_DATE(v) FROM t")
        # identity family
        assert "(v)" in t.to_spark("SELECT AS_ARRAY(v) FROM t")
        assert "(v)" in t.to_spark("SELECT TO_OBJECT(v) FROM t")
        out = t.to_spark("SELECT IS_NULL_VALUE(v) FROM t")
        assert "= 'null'" in out
        out = t.to_spark("SELECT CHECK_JSON(s) FROM t")
        assert "get_json_object" in out and "invalid JSON" in out

    def test_to_array_null_passthrough(self):
        out = self.t.to_spark("SELECT TO_ARRAY(x) FROM t")
        assert "IF((x) IS NULL, NULL, array((x)))" in out

    def test_bool_scalars(self):
        t = self.t
        assert "OR" in t.to_spark("SELECT BOOLOR(a, b) FROM t")
        assert "AND" in t.to_spark("SELECT BOOLAND(a, b) FROM t")
        assert "<>" in t.to_spark("SELECT BOOLXOR(a, b) FROM t")
        assert "NOT CAST" in t.to_spark("SELECT BOOLNOT(a) FROM t")
        # aggregate: exactly-one-true contract
        out = t.to_spark("SELECT BOOLXOR_AGG(x) FROM t")
        assert "COUNT_IF" in out and "= 1" in out and "COUNT((x)) = 0" in out

    def test_misc_renames(self):
        t = self.t
        assert "ASCII" in t.to_spark("SELECT UNICODE(s) FROM t")
        assert "randn()" in t.to_spark("SELECT NORMAL(0, 1, RANDOM())")
        out = t.to_spark("SELECT NULLIFZERO(x) FROM t") if True else ""
        # NULLIFZERO is native NULLIF-style? — it transpiles untouched
        # only if Spark lacks it; pin current behavior:
        assert "NULLIFZERO" not in self.t.to_spark("SELECT NULLIF(x, 0) FROM t")

    def test_zipf_unsupported(self):
        from dbt_icebreaker_spark.transpiler.transforms import (
            detect_unsupported_scalars,
        )
        found = detect_unsupported_scalars("SELECT ZIPF(1, 10, RANDOM())")
        assert found and found[0][0] == "ZIPF"


class TestUnsupportedClauses:
    def test_match_recognize_actionable(self):
        with pytest.raises(TranspileError, match="MATCH_RECOGNIZE"):
            t.to_spark(
                "SELECT * FROM trades MATCH_RECOGNIZE (PARTITION BY sym "
                "ORDER BY ts MEASURES FIRST(ts) AS t0 PATTERN (a b+) "
                "DEFINE b AS price > PREV(price))"
            )

    def test_no_false_positive_on_identifiers(self):
        # 'connect' as a bare column and a string literal never trigger
        out = t.to_spark("SELECT connect, 'CONNECT BY' AS s FROM t")
        assert "connect" in out
        ok, _ = t.can_transpile("SELECT connect FROM t")
        assert ok


class TestConnectBy:
    """CONNECT BY → recursive CTE (rewrite_connect_by), execution-
    verified against a 6-row org tree during development; these pin
    the generated shape and the refusal surface."""

    def test_basic_rewrite_shape(self):
        out = t.to_spark(
            "SELECT emp, mgr, LEVEL FROM staff START WITH mgr IS NULL "
            "CONNECT BY PRIOR emp = mgr ORDER BY LEVEL, emp"
        )
        assert out.startswith("WITH RECURSIVE __cb AS (")
        assert "1 AS __level" in out and "__cb.__level + 1" in out
        assert "JOIN __cb ON staff.mgr = __cb.emp" in out
        assert "__level AS level" in out          # bare LEVEL keeps its name
        assert re.search(r"ORDER BY __level\s+NULLS LAST\s*,\s+emp\s+NULLS LAST", out)

    def test_prior_on_right(self):
        out = t.to_spark(
            "SELECT emp FROM staff START WITH mgr IS NULL "
            "CONNECT BY mgr = PRIOR emp"
        )
        assert "ON staff.mgr = __cb.emp" in out

    def test_alias_and_where_semantics(self):
        # WHERE filters the RESULT (outer), not the traversal
        out = t.to_spark(
            "SELECT s.emp FROM staff s WHERE s.emp > 3 START WITH s.mgr IS NULL "
            "CONNECT BY PRIOR s.emp = s.mgr"
        )
        assert "FROM staff s WHERE s.mgr IS NULL" in out  # anchor = START WITH
        assert out.rstrip().endswith("WHERE s.emp > 3")   # outer = WHERE
        assert "FROM __cb AS s" in out

    def test_refusals_actionable(self):
        cases = [
            ("SELECT * FROM staff START WITH mgr IS NULL "
             "CONNECT BY PRIOR emp = mgr", "SELECT \\*"),
            ("SELECT emp FROM staff CONNECT BY LEVEL <= 5", "START WITH"),
            ("SELECT emp FROM staff START WITH mgr IS NULL "
             "CONNECT BY PRIOR emp = mgr AND x = 1", "single equality"),
            ("SELECT emp FROM a JOIN b ON a.x = b.x START WITH mgr IS NULL "
             "CONNECT BY PRIOR emp = mgr", "single table"),
            ("SELECT CONNECT_BY_ISCYCLE FROM staff START WITH mgr IS NULL "
             "CONNECT BY PRIOR emp = mgr", "CONNECT_BY_ISCYCLE"),
        ]
        for sql, pat in cases:
            with pytest.raises(TranspileError, match=pat):
                t.to_spark(sql)


class TestRound5Functions:
    """Epoch-literal TO_TIMESTAMP, CHARINDEX→locate, hash variants,
    BASE64_ENCODE args, TRUNC date parts, TO_JSON/STRIP_NULL_VALUE on
    the VARIANT string model — execution-verified on Spark during
    development; these pin the emitted SQL."""

    def test_epoch_literal_scales(self):
        assert "timestamp_seconds(1700000000)" in t.to_spark(
            "SELECT TO_TIMESTAMP(1700000000)")
        assert "timestamp_seconds(1700000000)" in t.to_spark(
            "SELECT TO_TIMESTAMP('1700000000')")
        assert "timestamp_millis(1700000000123)" in t.to_spark(
            "SELECT TO_TIMESTAMP(1700000000123)")
        assert "timestamp_micros(1700000000123456)" in t.to_spark(
            "SELECT TO_TIMESTAMP(1700000000123456)")
        # non-literal args keep to_timestamp (bigint path = seconds)
        assert "to_timestamp(x)" in t.to_spark("SELECT TO_TIMESTAMP(x) FROM t")

    def test_charindex_locate(self):
        out = t.to_spark("SELECT CHARINDEX('b', s, 3) FROM t")
        assert "locate('b', s, 3)" in out

    def test_hash_variants(self):
        out = t.to_spark("SELECT MD5_HEX(x), MD5_BINARY(x), SHA2_BINARY(x, 256) FROM t")
        assert "MD5(x)" in out
        assert "unhex(md5(x))" in out
        assert "unhex(sha2(x, 256))" in out

    def test_base64_encode_args(self):
        assert "base64(x)" in t.to_spark("SELECT BASE64_ENCODE(x, 0) FROM t")
        with pytest.raises(TranspileError, match="max_line_length"):
            t.to_spark("SELECT BASE64_ENCODE(x, 76) FROM t")

    def test_trunc_date_parts(self):
        out = t.to_spark("SELECT TRUNC(ts, 'HOUR') FROM t")
        assert "date_trunc('hour', (ts))" in out
        out = t.to_spark("SELECT TRUNC(d, 'MM') FROM t")
        assert "date_trunc('month', (d))" in out
        # numeric forms stay numeric truncation
        assert "FLOOR" in t.to_spark("SELECT TRUNC(x, 2) FROM t")
        assert "FLOOR" in t.to_spark("SELECT TRUNC(x) FROM t")

    def test_to_json_variant_identity(self):
        out = t.to_spark("SELECT TO_JSON(PARSE_JSON(s)) FROM t")
        assert "TO_JSON" not in out.upper().replace("GET_JSON", "")
        # struct builders keep Spark's to_json
        out = t.to_spark("SELECT TO_JSON(OBJECT_CONSTRUCT('k', v)) FROM t")
        assert out.upper().count("TO_JSON") == 1

    def test_strip_null_value(self):
        out = t.to_spark("SELECT STRIP_NULL_VALUE(v) FROM t")
        assert "= 'null'" in out and "THEN NULL ELSE" in out


class TestVariantTypeReflection:
    """TYPEOF / IS_* on the JSON-string VARIANT model (Spark's own
    typeof would report the SQL type 'string' for every variant) —
    execution-verified during development."""

    def test_typeof_shape(self):
        out = t.to_spark("SELECT TYPEOF(PARSE_JSON(s)) FROM t")
        for token in ("'OBJECT'", "'ARRAY'", "'BOOLEAN'", "'INTEGER'",
                      "'DOUBLE'", "'VARCHAR'", "'NULL_VALUE'"):
            assert token in out
        assert "typeof" not in out.lower()

    def test_is_predicates(self):
        out = t.to_spark("SELECT IS_OBJECT(v), IS_ARRAY(v), IS_INTEGER(v) FROM t")
        assert out.count("CASE WHEN") == 3
        assert "LIKE '{%'" in out and "LIKE '[%'" in out
        assert "TRY_CAST" in out
        # quoted JSON strings never classify as numbers
        out = t.to_spark("SELECT IS_DOUBLE(v) FROM t")
        assert "NOT LIKE '\"%'" in out


class TestCollate:
    """Snowflake collation specs → Spark 4 collations (execution-
    verified: en-ci equality, fr-ci-ai accent folding)."""

    def test_function_form(self):
        out = t.to_spark("SELECT COLLATE(x, 'en-ci') FROM t")
        assert "collate(x, 'en_CI')" in out
        out = t.to_spark("SELECT COLLATE(x, 'fr-ci-ai') FROM t")
        assert "collate(x, 'fr_CI_AI')" in out
        out = t.to_spark("SELECT COLLATE(x, 'utf8-ci') FROM t")
        assert "'UTF8_LCASE'" in out
        out = t.to_spark("SELECT COLLATE(x, 'utf8') FROM t")
        assert "'UTF8_BINARY'" in out

    def test_operator_form_unquotes(self):
        out = t.to_spark("SELECT y FROM t WHERE y COLLATE 'en-ci' = 'a'")
        assert "COLLATE en_CI" in out and "'en-ci'" not in out

    def test_unsupported_specifiers_actionable(self):
        for spec in ("en-ci-pi", "upper", "lower", "en-fu"):
            with pytest.raises(TranspileError, match="COLLATE specifier"):
                t.to_spark(f"SELECT COLLATE(x, '{spec}') FROM t")


class TestHllSketchPipeline:
    """HLL_ACCUMULATE/COMBINE/ESTIMATE → Spark Datasketches HLL
    (execution-verified: partial-union-estimate roundtrip == 3 on
    {1,2} ∪ {2,3})."""

    def test_renames(self):
        out = t.to_spark(
            "SELECT HLL_ESTIMATE(HLL_COMBINE(s)) FROM "
            "(SELECT HLL_ACCUMULATE(x) AS s FROM t GROUP BY d)"
        )
        assert "hll_sketch_estimate" in out
        assert "hll_union_agg" in out
        assert "hll_sketch_agg(x)" in out

    def test_export_import_refused(self):
        ok, msg = t.can_transpile("SELECT HLL_EXPORT(s) FROM t")
        assert not ok and "Datasketches" in msg


class TestConnectByNested:
    """CONNECT BY inside CTE bodies / inline subqueries rewrites to a
    self-contained WITH RECURSIVE in place (execution-verified: CTE
    and subquery forms walk a 5-node tree; GROUP BY downstream of the
    CTE works — the workaround the refusal message suggests)."""

    def test_cte_body(self):
        out = t.to_spark(
            "WITH h AS (SELECT emp, LEVEL FROM staff START WITH mgr IS NULL "
            "CONNECT BY PRIOR emp = mgr) SELECT COUNT(*) FROM h"
        )
        assert "WITH h AS (WITH RECURSIVE __cb AS (" in out
        assert "CONNECT" not in out.upper().replace("__CB", "")

    def test_inline_subquery(self):
        out = t.to_spark(
            "SELECT MAX(lvl) FROM (SELECT emp, LEVEL AS lvl FROM staff "
            "START WITH mgr IS NULL CONNECT BY PRIOR emp = mgr) x"
        )
        assert "(WITH RECURSIVE __cb AS (" in out

    def test_two_hierarchies_one_statement(self):
        sql = (
            "SELECT a.c + b.c FROM "
            "(SELECT COUNT(*) AS c FROM (SELECT emp FROM staff START WITH mgr IS NULL "
            "CONNECT BY PRIOR emp = mgr) x) a, "
            "(SELECT COUNT(*) AS c FROM (SELECT emp FROM org START WITH boss IS NULL "
            "CONNECT BY PRIOR emp = boss) y) b"
        )
        out = t.to_spark(sql)
        assert out.count("WITH RECURSIVE") == 2


class TestSelectModifiers:
    """Snowflake * EXCLUDE / * RENAME / SELECT TOP — execution-
    verified against Spark during development."""

    def test_exclude(self):
        def norm(x):
            return " ".join(x.split())
        assert "* EXCEPT (s)" in norm(t.to_spark("SELECT * EXCLUDE (s) FROM t"))
        assert "* EXCEPT (s)" in norm(t.to_spark("SELECT * EXCLUDE s FROM t"))
        assert "* EXCEPT (s, v)" in norm(t.to_spark("SELECT * EXCLUDE (s, v) FROM t"))
        out = t.to_spark("SELECT t.* EXCLUDE (v) FROM t")
        assert "t.*" in out and "EXCEPT (v)" in out

    def test_rename_moves_to_end(self):
        out = t.to_spark("SELECT * RENAME (s AS label) FROM t")
        assert "EXCEPT (s), s AS label" in out

    def test_top(self):
        out = t.to_spark("SELECT TOP 3 g FROM t ORDER BY g")
        assert "TOP" not in out.upper() and out.rstrip().endswith("LIMIT 3")
        with pytest.raises(TranspileError, match="TOP inside a subquery"):
            t.to_spark("SELECT * FROM (SELECT TOP 2 g FROM t) x")

    def test_identifiers_named_exclude_untouched(self):
        out = t.to_spark("SELECT exclude, rename FROM t")
        assert "EXCEPT" not in out


class TestConnectByPathRoot:
    """SYS_CONNECT_BY_PATH / CONNECT_BY_ROOT carried through the
    recursion (execution-verified: '/ceo/vp/dir/mgr' paths and root
    propagation on a 4-level chain)."""

    def test_path_and_root_columns(self):
        out = t.to_spark(
            "SELECT emp, SYS_CONNECT_BY_PATH(title, '/') AS path, "
            "CONNECT_BY_ROOT title AS root_title "
            "FROM staff START WITH mgr IS NULL CONNECT BY PRIOR emp = mgr"
        )
        assert "concat('/', CAST(staff.title AS STRING)) AS __cbp0" in out
        assert "concat(__cb.__cbp0, '/'" in out
        assert "staff.title AS __cbr1" in out and "__cb.__cbr1 AS __cbr1" in out
        assert "__cbp0 AS path" in out and "__cbr1 AS root_title" in out

    def test_paren_root_form(self):
        out = t.to_spark(
            "SELECT CONNECT_BY_ROOT(emp) AS root_emp FROM staff "
            "START WITH mgr IS NULL CONNECT BY PRIOR emp = mgr"
        )
        assert "AS __cbr0" in out

    def test_non_literal_separator_refused(self):
        with pytest.raises(TranspileError, match="literal separator"):
            t.to_spark(
                "SELECT SYS_CONNECT_BY_PATH(title, sep_col) FROM staff "
                "START WITH mgr IS NULL CONNECT BY PRIOR emp = mgr"
            )

    def test_isleaf_now_rewrites(self):
        # r8: CONNECT_BY_ISLEAF landed — a broadcast-friendly LEFT
        # JOIN on distinct child keys (was a refusal through r7)
        out = t.to_spark(
            "SELECT CONNECT_BY_ISLEAF FROM staff "
            "START WITH mgr IS NULL CONNECT BY PRIOR emp = mgr"
        )
        assert "__cbleaf" in out and "LEFT JOIN" in out


class TestToCharNumericFormats:
    """TO_CHAR numeric formats route to Spark's native to_char (same
    format language) instead of date_format — execution-verified:
    '9,999.9' → '1,234.5', '$…' and zero-padding work, date formats
    still take the java-mapped date_format path."""

    def test_numeric_routing(self):
        # r12: the input pre-rounds to the format's decimal scale
        # (Spark to_char overflows to '#' when the scale exceeds it);
        # r13: sign-less formats wrap in a CASE that renders the '-'
        # Spark drops, over abs() so the pre-round half-aways like
        # Snowflake, and fill spaces strip (Snowflake doesn't fill)
        out = t.to_spark("SELECT TO_CHAR(x, '9,999.99') FROM t")
        assert "to_char(CAST(abs(x) AS DECIMAL(38, 2))" in out
        assert "CASE WHEN (x) < 0" in out
        assert "date_format" not in out
        out = t.to_spark("SELECT TO_CHAR(x, '$9,999.99') FROM t")
        assert "to_char(" in out
        # explicit sign element: no CASE wrapper, scale excludes the
        # trailing MI (r12 advisor: '99.99MI' is scale 2, not 4)
        out = t.to_spark("SELECT TO_CHAR(x, '99.99MI') FROM t")
        assert "CASE WHEN" not in out
        assert "DECIMAL(38, 2)" in out

    def test_date_routing_unchanged(self):
        out = t.to_spark("SELECT TO_CHAR(d, 'YYYY-MM-DD') FROM t")
        assert "date_format(d,  'yyyy-MM-dd')" in out
        # digit-free formats (MI = minutes) stay on the date path
        out = t.to_spark("SELECT TO_CHAR(ts, 'HH24:MI') FROM t")
        assert "date_format" in out


class TestScalarRound6:
    """Round-2 batch: EQUAL_NULL / NULLIFZERO / BITNOT /
    RTRIMMED_LENGTH / ARRAY_REVERSE / JSON_EXTRACT_PATH_TEXT /
    HAVERSINE / TRY_*_DECODE_STRING / DIFFERENCE, plus refusals for
    the functions with no faithful rendering. Execution parity is
    driver-gated by corpus q60_scalar_round6."""

    def test_equal_null(self):
        assert "<=>" in t.to_spark("SELECT EQUAL_NULL(a, b) FROM t")

    def test_nullifzero(self):
        out = t.to_spark("SELECT NULLIFZERO(x + 1) FROM t")
        assert "NULLIF((x + 1), 0)" in out

    def test_bitnot(self):
        assert "(~((f)))" in t.to_spark("SELECT BITNOT(f) FROM t")

    def test_rtrimmed_length(self):
        out = t.to_spark("SELECT RTRIMMED_LENGTH(s) FROM t")
        assert "LENGTH(RTRIM((s)))" in out

    def test_array_reverse(self):
        assert "REVERSE(arr)" in t.to_spark("SELECT ARRAY_REVERSE(arr) FROM t")

    def test_json_extract_path_text_literal(self):
        out = t.to_spark("SELECT JSON_EXTRACT_PATH_TEXT(j, 'a.b') FROM t")
        assert "get_json_object((j), '$.a.b')" in out

    def test_json_extract_path_text_dynamic(self):
        out = t.to_spark("SELECT JSON_EXTRACT_PATH_TEXT(j, p) FROM t")
        assert "concat('$.', p)" in out

    def test_haversine_formula(self):
        out = t.to_spark("SELECT HAVERSINE(a, b, c, d) FROM t")
        assert "6371" in out and "ASIN" in out and "RADIANS" in out

    def test_try_decode_strings(self):
        out = t.to_spark("SELECT TRY_BASE64_DECODE_STRING(s) FROM t")
        assert "try_to_binary((s), 'base64')" in out
        out = t.to_spark("SELECT TRY_HEX_DECODE_STRING(s) FROM t")
        assert "try_to_binary((s), 'hex')" in out

    def test_difference_soundex(self):
        out = t.to_spark("SELECT DIFFERENCE(a, b) FROM t")
        assert out.count("soundex") == 8  # 4 positions x 2 sides

    def test_native_passthroughs(self):
        # Spark 4 evaluates these natively — the transpiler must NOT
        # touch them (verified against a live session in round 2)
        for fn in ("SOUNDEX(a)", "MEDIAN(x)", "WIDTH_BUCKET(x, 0, 10, 5)",
                   "DECODE(x, 1, 'a', 'z')", "MONTHS_BETWEEN(d1, d2)",
                   "STARTSWITH(s, 'a')", "ARRAY_COMPACT(arr)"):
            sql = f"SELECT {fn} FROM t"
            assert fn in t.to_spark(sql)

    def test_refusals(self):
        # JAROWINKLER_SIMILARITY / GET_IGNORE_CASE (round 4) and the
        # MINHASH family (round 5) are implemented — only the genuinely
        # unportable tail refuses
        for fn in ("HLL_EXPORT(s)", "ZIPF(1, 10, RANDOM())"):
            with pytest.raises(TranspileError):
                t.to_spark(f"SELECT {fn} FROM t")


class TestConditionalChangeEvent:
    """CONDITIONAL_CHANGE_EVENT → subquery with LAG change flags +
    running SUM (nested windows are illegal inline in Spark).
    Execution parity is driver-gated by corpus q61."""

    def test_basic_rewrite(self):
        out = t.to_spark(
            "SELECT id, CONDITIONAL_CHANGE_EVENT(s) OVER "
            "(PARTITION BY g ORDER BY ts) AS ev FROM t"
        )
        assert re.search(r"LAG\(s\) OVER \(PARTITION BY g ORDER BY ts\s+NULLS LAST\s*\)", out)
        assert re.search(r"SUM\(__ccev0\) OVER \(PARTITION BY g ORDER BY ts\s+NULLS LAST\s+ROWS", out)

    def test_two_calls_one_subquery(self):
        out = t.to_spark(
            "SELECT CONDITIONAL_CHANGE_EVENT(a) OVER (ORDER BY ts) AS e1, "
            "CONDITIONAL_CHANGE_EVENT(b) OVER (ORDER BY ts) AS e2 FROM t"
        )
        assert "__ccev0" in out and "__ccev1" in out
        assert out.count("FROM (SELECT *") == 1

    def test_where_stays_inside_order_by_outside(self):
        out = t.to_spark(
            "SELECT id, CONDITIONAL_CHANGE_EVENT(s) OVER (ORDER BY ts) AS ev "
            "FROM t WHERE x > 1 ORDER BY id"
        )
        inner = out[out.index("FROM ("):]
        assert "WHERE x > 1" in inner
        assert out.rstrip().endswith("ORDER BY id NULLS LAST")

    def test_star_excludes_helper(self):
        out = t.to_spark(
            "SELECT *, CONDITIONAL_CHANGE_EVENT(s) OVER (ORDER BY ts) AS ev FROM t"
        )
        assert "* EXCEPT (__ccev0)" in out

    def test_multiplication_star_untouched(self):
        out = t.to_spark(
            "SELECT a * b AS prod, CONDITIONAL_CHANGE_EVENT(s) "
            "OVER (ORDER BY ts) AS ev FROM t"
        )
        assert "a * b AS prod" in out

    def test_refusals(self):
        with pytest.raises(TranspileError, match="GROUP"):
            t.to_spark(
                "SELECT g, CONDITIONAL_CHANGE_EVENT(s) OVER (ORDER BY ts) "
                "FROM t GROUP BY g"
            )
        with pytest.raises(TranspileError, match="frame"):
            t.to_spark(
                "SELECT CONDITIONAL_CHANGE_EVENT(s) OVER "
                "(ORDER BY ts ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t"
            )
        with pytest.raises(TranspileError, match="OVER"):
            t.to_spark("SELECT CONDITIONAL_CHANGE_EVENT(s) FROM t")


class TestCCEReviewFixes:
    """Round-2 review findings: CCE outside the select list must
    refuse (not loop), and alias-qualified references must survive
    the subquery wrap."""

    def test_qualify_placed_cce_refuses_fast(self):
        with pytest.raises(TranspileError, match="SELECT list"):
            t.to_spark(
                "SELECT event_id FROM events QUALIFY "
                "CONDITIONAL_CHANGE_EVENT(event_type) OVER "
                "(PARTITION BY user_id ORDER BY ts) = 0"
            )

    def test_alias_qualified_single_table(self):
        out = t.to_spark(
            "SELECT e.event_id, CONDITIONAL_CHANGE_EVENT(e.event_type) "
            "OVER (PARTITION BY e.user_id ORDER BY e.ts) AS ep "
            "FROM events e"
        )
        # subquery re-aliased as e so e.* keeps resolving
        assert out.rstrip().endswith(") e") or " ) e" in out

    def test_multi_table_qualified_refused(self):
        with pytest.raises(TranspileError, match="multi-table"):
            t.to_spark(
                "SELECT a.x, CONDITIONAL_CHANGE_EVENT(a.s) OVER "
                "(ORDER BY a.ts) FROM t1 a JOIN t2 b ON a.id = b.id"
            )

    def test_multi_table_unqualified_allowed(self):
        out = t.to_spark(
            "SELECT x, CONDITIONAL_CHANGE_EVENT(s) OVER (ORDER BY ts) "
            "AS ev FROM t1 JOIN t2 ON id = id2"
        )
        assert "__ccev0" in out


class TestCCETableNameQualifier:
    def test_table_name_qualified_single_table(self):
        out = t.to_spark(
            "SELECT events.x, CONDITIONAL_CHANGE_EVENT(events.s) "
            "OVER (ORDER BY events.ts) AS ev FROM events"
        )
        # subquery re-aliased with the table name
        assert out.rstrip().endswith(") events") or ") events " in out


class TestCloneRewrite:
    """CREATE TABLE CLONE → CTAS fallback (documented deviation:
    full copy, Snowflake's clone is zero-copy metadata)."""

    def test_plain_clone(self):
        out = t.to_spark("CREATE TABLE t2 CLONE t1")
        assert "AS SELECT * FROM t1" in out and "CLONE" not in out.upper()

    def test_or_replace_lowered_to_drop_ctas(self):
        stmts = t.to_spark_statements("CREATE OR REPLACE TABLE db.t2 CLONE db.t1")
        assert len(stmts) == 2
        assert stmts[0].strip().upper().startswith("DROP TABLE IF EXISTS")
        assert "AS SELECT * FROM db.t1" in stmts[1]

    def test_transient_dropped(self):
        out = t.to_spark("CREATE TRANSIENT TABLE t2 CLONE t1")
        assert "TRANSIENT" not in out.upper()

    def test_clone_as_identifier_untouched(self):
        out = t.to_spark("SELECT clone FROM t WHERE clone > 1")
        assert "clone" in out

    def test_ctas_selecting_column_named_clone(self):
        # CLONE anywhere later in a CREATE TABLE must NOT trigger the
        # clone rewrite — only immediately after the target table name
        out = t.to_spark("CREATE TABLE t AS SELECT clone, x FROM src")
        assert "AS SELECT clone, x FROM src" in out
        out2 = t.to_spark(
            "CREATE OR REPLACE TABLE t AS SELECT a AS clone FROM src"
        )
        assert "clone FROM src" in out2

    def test_clone_if_not_exists(self):
        out = t.to_spark("CREATE TABLE IF NOT EXISTS t2 CLONE t1")
        assert "AS SELECT * FROM t1" in out and "CLONE" not in out.upper()


class TestArrayRemoveAt:
    def test_semantics(self, spark):
        # Snowflake: 0-based, negative counts from the end
        for sql, exp in [
            ("SELECT ARRAY_REMOVE_AT(ARRAY_CONSTRUCT(1,2,3), 1) AS r", [1, 3]),
            ("SELECT ARRAY_REMOVE_AT(ARRAY_CONSTRUCT(1,2,3), 0) AS r", [2, 3]),
            ("SELECT ARRAY_REMOVE_AT(ARRAY_CONSTRUCT(1,2,3), -1) AS r", [1, 2]),
            # out-of-range position leaves the array unchanged
            ("SELECT ARRAY_REMOVE_AT(ARRAY_CONSTRUCT(1,2), 9) AS r", [1, 2]),
        ]:
            assert spark.sql(t.to_spark(sql)).collect()[0].r == exp

    def test_no_python_udf(self):
        out = t.to_spark("SELECT ARRAY_REMOVE_AT(a, p) FROM t1")
        assert "filter(" in out  # JVM lambda, not a UDF

    def test_null_position_returns_null(self, spark):
        # Snowflake: NULL position → NULL, NOT [] (a NULL lambda
        # predicate would otherwise drop every element)
        row = spark.sql(
            t.to_spark(
                "SELECT ARRAY_REMOVE_AT(ARRAY_CONSTRUCT(1,2,3), "
                "CAST(NULL AS INT)) AS r"
            )
        ).collect()[0]
        assert row.r is None
        # NULL array stays NULL
        row2 = spark.sql(
            t.to_spark(
                "SELECT ARRAY_REMOVE_AT(CAST(NULL AS ARRAY<INT>), 1) AS r"
            )
        ).collect()[0]
        assert row2.r is None


class TestQualifyAliasSubstitution:
    """Snowflake QUALIFY may reference select-list aliases (incl.
    inside window ORDER BY); Spark refuses lateral aliases in windows,
    so the rewrite inlines the aliased expression."""

    SF = "/root/testdata/sf0.001"

    def test_alias_in_window_order_by(self, spark):
        from dbt_icebreaker_spark.sources import register_dir

        register_dir(spark, self.SF)
        sql = (
            "SELECT o_custkey, SUM(o_totalprice) AS t FROM orders "
            "GROUP BY o_custkey "
            "QUALIFY ROW_NUMBER() OVER (ORDER BY t DESC) <= 3"
        )
        rows = spark.sql(t.to_spark(sql)).collect()
        assert len(rows) == 3
        vals = [r.t for r in rows]
        assert sorted(vals, reverse=True) == vals or len(set(vals)) == 3

    def test_alias_as_qualifier_untouched(self, spark):
        from dbt_icebreaker_spark.sources import register_dir

        register_dir(spark, self.SF)
        # `ck` is both a select alias and — as x.* qualifier — must not
        # be substituted where it prefixes a dotted reference
        sql = (
            "SELECT x.o_custkey AS ck, COUNT(*) AS n FROM orders x "
            "GROUP BY 1 QUALIFY ROW_NUMBER() OVER "
            "(PARTITION BY ck ORDER BY n DESC) = 1 LIMIT 3"
        )
        assert len(spark.sql(t.to_spark(sql)).collect()) == 3

    def test_plain_qualify_regression(self, spark):
        from dbt_icebreaker_spark.sources import register_dir

        register_dir(spark, self.SF)
        sql = (
            "SELECT o_custkey, o_orderkey FROM orders QUALIFY "
            "ROW_NUMBER() OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderkey) = 1"
        )
        assert spark.sql(t.to_spark(sql)).count() == 150


class TestCompressUdfsR7:
    """Round-7: COMPRESS / DECOMPRESS_STRING / DECOMPRESS_BINARY as
    Arrow-vectorized session UDFs (zlib/gzip/bz2/deflate via stdlib;
    unavailable codecs refuse inside the kernel)."""

    @pytest.fixture(scope="class")
    def engine(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        return IcebreakerEngine(spark, schema="udf_r7")

    def test_roundtrip_all_methods(self, engine):
        r = engine.execute(
            "SELECT "
            "DECOMPRESS_STRING(COMPRESS('abc', 'zlib'), 'zlib') AS z, "
            "DECOMPRESS_STRING(COMPRESS('abc', 'gzip'), 'gzip') AS g, "
            "DECOMPRESS_STRING(COMPRESS('abc', 'bz2'), 'bz2') AS b, "
            "DECOMPRESS_STRING(COMPRESS('abc', 'deflate'), 'deflate') "
            "AS d").collect()[0]
        assert (r.z, r.g, r.b, r.d) == ("abc",) * 4

    def test_binary_roundtrip_and_null(self, engine):
        r = engine.execute(
            "SELECT DECOMPRESS_BINARY(COMPRESS(CAST('xy' AS BINARY), "
            "'zlib'), 'zlib') AS b, COMPRESS(NULL, 'zlib') AS n"
        ).collect()[0]
        assert bytes(r.b) == b"xy" and r.n is None

    def test_level_spelling(self, engine):
        r = engine.execute(
            "SELECT DECOMPRESS_STRING(COMPRESS('lvl', 'zlib(9)'), "
            "'zlib') AS v").collect()[0]
        assert r.v == "lvl"

    def test_unavailable_codec_refuses(self, engine):
        with pytest.raises(Exception, match="not available"):
            engine.execute("SELECT COMPRESS('x', 'snappy') AS c") \
                .collect()

    def test_compressed_is_smaller_on_repetitive_input(self, engine):
        r = engine.execute(
            "SELECT LENGTH(COMPRESS(REPEAT('ab', 500), 'zlib')) AS c, "
            "LENGTH(REPEAT('ab', 500)) AS raw").collect()[0]
        assert r.c < r.raw


class TestApproxPercentileSketchR8:
    """Round-8: APPROX_PERCENTILE_ACCUMULATE/COMBINE/ESTIMATE as
    engine-session UDFs (the quantile twin of the HLL sketch family;
    state = deterministic ≤512-centroid digest, JSON text). Groups of
    ≤512 values keep raw unit-weight centroids, so odd-sized groups
    pin p50 EXACTLY to the middle element."""

    @pytest.fixture(scope="class")
    def engine(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        return IcebreakerEngine(spark, schema="udf_r8")

    def test_accumulate_estimate_exact_small(self, engine):
        r = engine.execute(
            "WITH s AS (SELECT APPROX_PERCENTILE_ACCUMULATE(v) AS st "
            "FROM (SELECT CAST(id + 1 AS DOUBLE) AS v FROM RANGE(101))) "
            "SELECT APPROX_PERCENTILE_ESTIMATE(st, 0.5) AS p50, "
            "APPROX_PERCENTILE_ESTIMATE(st, 0.0) AS p0, "
            "APPROX_PERCENTILE_ESTIMATE(st, 1.0) AS p1 FROM s"
        ).collect()[0]
        assert (r.p50, r.p0, r.p1) == (51.0, 1.0, 101.0)

    def test_combine_of_partials_is_lossless_under_budget(self, engine):
        # two partial halves merge back to exactly the whole-group
        # digest when total centroids ≤ 512
        r = engine.execute(
            "WITH src AS (SELECT CAST(id + 1 AS DOUBLE) AS v, id % 2 "
            "AS h FROM RANGE(101)), "
            "st AS (SELECT h, APPROX_PERCENTILE_ACCUMULATE(v) AS s "
            "FROM src GROUP BY h), "
            "c AS (SELECT APPROX_PERCENTILE_COMBINE(s) AS s FROM st) "
            "SELECT APPROX_PERCENTILE_ESTIMATE(s, 0.5) AS p50 FROM c"
        ).collect()[0]
        assert r.p50 == 51.0

    def test_large_group_bounded_error(self, engine):
        # 100k values 0..99999: digest error bound ~ n/512 ranks →
        # p50 within ~400 of 49999.5
        r = engine.execute(
            "WITH s AS (SELECT APPROX_PERCENTILE_ACCUMULATE(v) AS st "
            "FROM (SELECT CAST(id AS DOUBLE) AS v FROM RANGE(100000))) "
            "SELECT APPROX_PERCENTILE_ESTIMATE(st, 0.5) AS p50, "
            "APPROX_PERCENTILE_ESTIMATE(st, 0.99) AS p99 FROM s"
        ).collect()[0]
        assert abs(r.p50 - 49999.5) < 500
        assert abs(r.p99 - 99000) < 800

    def test_nulls_ignored_and_empty_null(self, engine):
        r = engine.execute(
            "WITH s AS (SELECT APPROX_PERCENTILE_ACCUMULATE(v) AS st "
            "FROM (SELECT CAST(NULL AS DOUBLE) AS v FROM RANGE(5))) "
            "SELECT APPROX_PERCENTILE_ESTIMATE(st, 0.5) AS p FROM s"
        ).collect()[0]
        assert r.p is None

    def test_bare_transpiler_refuses_to_engine(self):
        from dbt_icebreaker_spark.transpiler.core import (
            Transpiler,
            TranspileError,
        )

        with pytest.raises(TranspileError, match="engine"):
            Transpiler().to_spark(
                "SELECT APPROX_PERCENTILE_COMBINE(s) FROM t")


class TestApproxTopKSketchR8:
    """Round-8: APPROX_TOP_K_ACCUMULATE/COMBINE/ESTIMATE session UDFs
    (space-saving counter map, JSON state; estimate renders the same
    [[item, count], …] shape as the direct APPROX_TOP_K)."""

    @pytest.fixture(scope="class")
    def engine(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        return IcebreakerEngine(spark, schema="udf_r8k")

    def test_accumulate_estimate(self, engine):
        r = engine.execute(
            "WITH st AS (SELECT APPROX_TOP_K_ACCUMULATE(v, 100) AS s "
            "FROM (SELECT id % 3 AS v FROM RANGE(31))) "
            "SELECT APPROX_TOP_K_ESTIMATE(s, 1) AS t FROM st"
        ).collect()[0]
        assert r.t == '[[0,11]]'  # 0 appears 11 times in 0..30

    def test_combine_partials(self, engine):
        r = engine.execute(
            "WITH st AS (SELECT id % 2 AS h, "
            "APPROX_TOP_K_ACCUMULATE(v, 100) AS s FROM "
            "(SELECT id, id % 3 AS v FROM RANGE(30)) GROUP BY id % 2), "
            "c AS (SELECT APPROX_TOP_K_COMBINE(s) AS s FROM st) "
            "SELECT APPROX_TOP_K_ESTIMATE(s, 3) AS t FROM c"
        ).collect()[0]
        assert r.t == '[[0,10],[1,10],[2,10]]'

    def test_bare_transpiler_refuses(self):
        from dbt_icebreaker_spark.transpiler.core import (
            Transpiler,
            TranspileError,
        )

        with pytest.raises(TranspileError, match="engine"):
            Transpiler().to_spark("SELECT APPROX_TOP_K_ESTIMATE(s, 3)")


class TestConnectByExtensionsR8:
    """Round-8: CONNECT_BY_ISLEAF (broadcast LEFT JOIN on distinct
    child keys — IN-subqueries are rejected in projections), ORDER
    SIBLINGS BY (array sort key carried through the recursion: a
    parent's key is a strict prefix of its descendants', so
    lexicographic array order IS the sibling-sorted depth-first walk),
    and CONNECT BY NOCYCLE (visited-ancestor key array stops cyclic
    branches)."""

    @pytest.fixture(scope="class", autouse=True)
    def hier(self, spark):
        spark.sql(
            """CREATE OR REPLACE TEMP VIEW cb_emp AS SELECT * FROM
            VALUES (1, NULL, 'ceo', 'b'), (2, 1, 'vp2', 'c'),
            (3, 1, 'vp1', 'a'), (4, 2, 'eng1', 'a'),
            (5, 2, 'eng2', 'b'), (6, 3, 'ops', 'z')
            t(id, mgr, name, sortk)"""
        )
        spark.sql(
            """CREATE OR REPLACE TEMP VIEW cb_cyc AS SELECT * FROM
            VALUES (1, 3), (2, 1), (3, 2) t(id, mgr)"""
        )

    def test_isleaf(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT id, CONNECT_BY_ISLEAF AS lf FROM cb_emp "
            "START WITH mgr IS NULL CONNECT BY PRIOR id = mgr "
            "ORDER BY id")).collect()
        assert [(r.id, r.lf) for r in rows] == [
            (1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1)]

    def test_order_siblings_by(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT id, name FROM cb_emp START WITH mgr IS NULL "
            "CONNECT BY PRIOR id = mgr ORDER SIBLINGS BY sortk"
        )).collect()
        # depth-first, siblings by sortk: ceo → vp1(a) → ops,
        # then vp2(c) → eng1(a), eng2(b)
        assert [r.id for r in rows] == [1, 3, 6, 2, 4, 5]

    def test_order_siblings_multi_key(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT id FROM cb_emp START WITH mgr IS NULL "
            "CONNECT BY PRIOR id = mgr ORDER SIBLINGS BY sortk, id"
        )).collect()
        assert [r.id for r in rows] == [1, 3, 6, 2, 4, 5]

    def test_order_siblings_desc(self, spark):
        # r11 (judge task 7): DESC renders via a per-sibling-group
        # rank — parents still come before children while sibling
        # order inverts: ceo → vp2(c) → eng2(b), eng1(a) → vp1(a) → ops
        rows = spark.sql(t.to_spark(
            "SELECT id FROM cb_emp START WITH mgr IS NULL "
            "CONNECT BY PRIOR id = mgr ORDER SIBLINGS BY sortk DESC"
        )).collect()
        assert [r.id for r in rows] == [1, 2, 5, 4, 3, 6]

    def test_order_siblings_desc_nulls(self, spark):
        spark.sql(
            """CREATE OR REPLACE TEMP VIEW cb_emp_n AS SELECT * FROM
            VALUES (1, NULL, 'b'), (2, 1, 'c'), (3, 1, CAST(NULL AS
            STRING)), (4, 1, 'a') t(id, mgr, sortk)""")
        rows = spark.sql(t.to_spark(
            "SELECT id FROM cb_emp_n START WITH mgr IS NULL "
            "CONNECT BY PRIOR id = mgr ORDER SIBLINGS BY sortk DESC"
        )).collect()
        # Snowflake NULLs-highest: DESC → NULLs FIRST
        assert [r.id for r in rows] == [1, 3, 2, 4]
        rows = spark.sql(t.to_spark(
            "SELECT id FROM cb_emp_n START WITH mgr IS NULL "
            "CONNECT BY PRIOR id = mgr "
            "ORDER SIBLINGS BY sortk DESC NULLS LAST")).collect()
        assert [r.id for r in rows] == [1, 2, 4, 3]

    def test_order_siblings_mixed_directions(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT id FROM cb_emp START WITH mgr IS NULL "
            "CONNECT BY PRIOR id = mgr "
            "ORDER SIBLINGS BY sortk ASC, id DESC")).collect()
        # mixed keys take the rank path; single ASC key result shape
        # is preserved (sortk values are unique per sibling group)
        assert [r.id for r in rows] == [1, 3, 6, 2, 4, 5]

    def test_nocycle_terminates_cycle(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT id, LEVEL FROM cb_cyc START WITH id = 1 "
            "CONNECT BY NOCYCLE PRIOR id = mgr ORDER BY LEVEL"
        )).collect()
        assert [(r.id, r.level) for r in rows] == [(1, 1), (2, 2), (3, 3)]

    def test_nocycle_on_acyclic_data_is_plain(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT id, LEVEL FROM cb_emp START WITH mgr IS NULL "
            "CONNECT BY NOCYCLE PRIOR id = mgr ORDER BY id"
        )).collect()
        assert [(r.id, r.level) for r in rows] == [
            (1, 1), (2, 2), (3, 2), (4, 3), (5, 3), (6, 3)]

    def test_iscycle_still_refuses(self):
        with pytest.raises(TranspileError, match="ISCYCLE"):
            t.to_spark(
                "SELECT CONNECT_BY_ISCYCLE FROM cb_emp START WITH "
                "mgr IS NULL CONNECT BY PRIOR id = mgr")


class TestConnectByReviewR8:
    """Round-8 review lock-ins on the CONNECT BY extensions (tied
    sibling keys, NULL sort keys, ISLEAF naming/refusals)."""

    @pytest.fixture(scope="class", autouse=True)
    def hier(self, spark):
        spark.sql(
            """CREATE OR REPLACE TEMP VIEW cbr_tied AS SELECT * FROM
            VALUES (1, NULL, 'a'), (2, 1, 'a'), (3, 1, 'a'),
            (4, 2, 'x'), (5, 3, 'y') t(id, mgr, sortk)"""
        )
        spark.sql(
            """CREATE OR REPLACE TEMP VIEW cbr_null AS SELECT * FROM
            VALUES (1, NULL, 'm'), (2, 1, CAST(NULL AS STRING)),
            (3, 1, 'a') t(id, mgr, sortk)"""
        )

    def test_tied_sibling_keys_keep_subtrees_contiguous(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT id FROM cbr_tied START WITH mgr IS NULL "
            "CONNECT BY PRIOR id = mgr ORDER SIBLINGS BY sortk"
        )).collect()
        # each parent's subtree stays contiguous even with equal keys
        assert [r.id for r in rows] == [1, 2, 4, 3, 5]

    def test_null_sort_keys_sort_last(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT id FROM cbr_null START WITH mgr IS NULL "
            "CONNECT BY PRIOR id = mgr ORDER SIBLINGS BY sortk"
        )).collect()
        assert [r.id for r in rows] == [1, 3, 2]  # NULL key last

    def test_bare_isleaf_keeps_output_name(self, spark):
        df = spark.sql(t.to_spark(
            "SELECT id, CONNECT_BY_ISLEAF FROM cbr_tied "
            "START WITH mgr IS NULL CONNECT BY PRIOR id = mgr"))
        assert df.columns == ["id", "connect_by_isleaf"]

    def test_isleaf_with_nocycle_refuses(self):
        with pytest.raises(TranspileError, match="path-dependent"):
            t.to_spark(
                "SELECT CONNECT_BY_ISLEAF FROM cbr_tied START WITH "
                "mgr IS NULL CONNECT BY NOCYCLE PRIOR id = mgr")

    def test_isleaf_in_condition_refuses(self):
        with pytest.raises(TranspileError, match="WHERE instead"):
            t.to_spark(
                "SELECT id FROM cbr_tied START WITH "
                "CONNECT_BY_ISLEAF = 1 CONNECT BY PRIOR id = mgr")

    def test_expression_sort_key_refuses_with_sort_wording(self):
        with pytest.raises(TranspileError, match="SIBLINGS BY keys"):
            t.to_spark(
                "SELECT id FROM cbr_tied START WITH mgr IS NULL "
                "CONNECT BY PRIOR id = mgr ORDER SIBLINGS BY "
                "UPPER(sortk)")


class TestSketchPipelineR9:
    """Round-9 sweep findings locked: (1) sketch states survive a
    parquet round-trip (write ACCUMULATE output to a table, COMBINE +
    ESTIMATE after re-read); (2) VARIANT-model subscripting on the
    JSON-text estimate (``est[0][0]``) retries onto get_json_object;
    (3) a full tie at the TOP_K cap boundary keeps the top-cap keys
    instead of emptying the sketch."""

    @pytest.fixture(scope="class")
    def engine(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        return IcebreakerEngine(spark, schema="udf_r9s")

    def test_percentile_states_through_table(self, engine):
        r = engine.execute(
            "CREATE OR REPLACE TABLE udf_r9s.pst AS "
            "SELECT id % 2 AS grp, APPROX_PERCENTILE_ACCUMULATE(CAST(id"
            " AS DOUBLE)) AS s FROM RANGE(101) GROUP BY id % 2; "
            "SELECT CAST(APPROX_PERCENTILE_ESTIMATE("
            "APPROX_PERCENTILE_COMBINE(s), 0.5) AS BIGINT) AS m "
            "FROM udf_r9s.pst"
        ).collect()[0]
        assert r.m == 50

    def test_topk_states_through_table_and_subscript(self, engine):
        r = engine.execute(
            "CREATE OR REPLACE TABLE udf_r9s.tst AS "
            "SELECT id % 3 AS grp, APPROX_TOP_K_ACCUMULATE(x, 2) AS s "
            "FROM (SELECT id, CASE WHEN id % 10 = 0 THEN 'hot' ELSE "
            "CONCAT('c', id) END AS x FROM RANGE(60)) GROUP BY id % 3; "
            "SELECT APPROX_TOP_K_ESTIMATE("
            "APPROX_TOP_K_COMBINE(s), 1)[0][0] AS top FROM udf_r9s.tst"
        ).collect()[0]
        assert r.top == "hot"

    def test_subscript_on_json_text_value(self, engine):
        # the general VARIANT-model retry, not sketch-specific
        r = engine.execute(
            "SELECT ('[[7,2],[8,1]]')[0][0] AS a, "
            "('{\"k\": [5]}')['k'][0] AS b"
        ).collect()[0]
        assert (r.a, r.b) == ("7", "5")

    def test_topk_full_tie_not_empty(self, engine):
        r = engine.execute(
            "WITH st AS (SELECT APPROX_TOP_K_ACCUMULATE(v, 3) AS s "
            "FROM (SELECT CAST(id % 4 AS INT) AS v FROM RANGE(40))) "
            "SELECT APPROX_TOP_K_ESTIMATE(s, 3) AS t FROM st"
        ).collect()[0]
        import json

        items = json.loads(r.t)
        assert len(items) == 3  # never empty for non-empty input
        assert [i[0] for i in items] == [0, 1, 2]  # stable tie-break


class TestRound10AdvisorFixes:
    """Round-10: the r9 advisor findings — SHOW whitespace/ordering
    regressions, dynamic VARIANT subscripts, no-guess retry targeting,
    and nested-MR spliced-view uniqueness."""

    @pytest.fixture(scope="class")
    def engine(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        return IcebreakerEngine(spark, schema="r10_fixes")

    def test_show_tables_trailing_whitespace(self, engine):
        engine.execute("CREATE OR REPLACE TABLE r10_fixes.sh1 AS SELECT 1 AS x")
        assert engine.execute("SHOW TABLES IN r10_fixes ").count() >= 1
        assert engine.execute("SHOW TABLES IN SCHEMA r10_fixes\n").count() >= 1

    def test_show_tables_in_before_like(self, engine):
        # Snowflake accepts IN before LIKE; the dotted-run scan must
        # not swallow the LIKE keyword or die on the separating space
        rows = engine.execute(
            "SHOW TABLES IN r10_fixes LIKE 'sh%'").collect()
        assert any("sh1" in str(r).lower() for r in rows)

    def test_show_tables_dotted_schema_spaces(self, engine):
        assert engine.execute(
            "SHOW TABLES IN spark_catalog . r10_fixes").count() >= 1

    def test_dynamic_array_subscript(self, engine):
        r = engine.execute(
            "SELECT PARSE_JSON('[10,20,30]')[x] AS v "
            "FROM (SELECT 1 AS x)").collect()
        assert [row.v for row in r] == ["20"]

    def test_dynamic_object_subscript(self, engine):
        r = engine.execute(
            "SELECT PARSE_JSON('{\"a\": 5, \"b\": 7}')[k] AS v "
            "FROM (SELECT 'b' AS k)").collect()
        assert [row.v for row in r] == ["7"]

    def test_dynamic_subscript_expression_index(self, engine):
        r = engine.execute(
            "SELECT PARSE_JSON('[10,20,30]')[x + 1] AS v "
            "FROM (SELECT 1 AS x)").collect()
        assert [row.v for row in r] == ["30"]

    def test_dynamic_then_literal_subscript(self, engine):
        r = engine.execute(
            "SELECT PARSE_JSON('[[1,2],[3,4]]')[x][1] AS v "
            "FROM (SELECT 1 AS x)").collect()
        assert [row.v for row in r] == ["4"]

    def test_dynamic_subscript_out_of_range_is_null(self, engine):
        r = engine.execute(
            "SELECT PARSE_JSON('[10]')[x] AS v "
            "FROM (SELECT 5 AS x)").collect()
        assert [row.v for row in r] == [None]

    def test_mixed_native_and_json_subscript_untouched(self, engine):
        # the retry must rewrite ONLY the STRING-typed site the
        # analyzer names; the native array subscript keeps its type
        r = engine.execute(
            "SELECT ARRAY(1, 2)[1] AS a, c[0] AS b "
            "FROM (SELECT '[7]' AS c)").collect()[0]
        assert r.a == 2 and r.b == "7"

    def test_mr_temp_view_stable_across_statements(self, engine):
        engine.execute(
            "CREATE OR REPLACE TEMPORARY VIEW r10_src1 AS "
            "SELECT * FROM VALUES (1,1,10),(1,2,5),(1,3,8) AS t(p, seq, v)")
        engine.execute(
            "CREATE TEMPORARY VIEW r10_mrv AS SELECT * FROM r10_src1 "
            "MATCH_RECOGNIZE (PARTITION BY p ORDER BY seq "
            "MEASURES COUNT(*) AS cnt ONE ROW PER MATCH "
            "PATTERN (A+) DEFINE A AS v > 0)")
        first = engine.execute("SELECT * FROM r10_mrv").collect()
        # a LATER nested-MR statement must not clobber the spliced
        # operator view that r10_mrv's stored text re-resolves against
        engine.execute(
            "SELECT * FROM r10_src1 MATCH_RECOGNIZE ("
            "PARTITION BY p ORDER BY seq MEASURES COUNT(*) AS cnt "
            "ONE ROW PER MATCH PATTERN (B+) DEFINE B AS v > 7)").collect()
        assert engine.execute("SELECT * FROM r10_mrv").collect() == first


class TestConnectByDepthGuardR10:
    """Round-10 (r9 verdict #4): ORDER SIBLINGS BY / NOCYCLE carry
    O(depth²)-byte ancestor arrays and OOM deep recursions — past the
    configurable guard they must fail actionably, not with a raw JVM
    heap death. Plain CONNECT BY is linear and unguarded."""

    @pytest.fixture(scope="class")
    def engine(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        spark.sql(
            "CREATE OR REPLACE TEMP VIEW cb_guard_chain AS "
            "SELECT id AS node, id - 1 AS parent, CAST(id AS INT) AS o "
            "FROM RANGE(12)")
        return IcebreakerEngine(spark, schema="r10_cb")

    def test_plain_connect_by_unguarded(self, engine, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_CONNECT_BY_DEPTH_GUARD", "5")
        engine.spark.conf.set("spark.sql.cteRecursionLevelLimit", "50")
        n = engine.execute(
            "SELECT node, LEVEL FROM cb_guard_chain "
            "START WITH parent = -1 "
            "CONNECT BY PRIOR node = parent").count()
        assert n == 12

    def test_siblings_guard_fires_actionably(self, engine, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_CONNECT_BY_DEPTH_GUARD", "5")
        engine.spark.conf.set("spark.sql.cteRecursionLevelLimit", "50")
        with pytest.raises(Exception, match="CONNECT BY depth guard"):
            engine.execute(
                "SELECT node, LEVEL FROM cb_guard_chain "
                "START WITH parent = -1 "
                "CONNECT BY PRIOR node = parent "
                "ORDER SIBLINGS BY o").collect()

    def test_nocycle_guard_fires_actionably(self, engine, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_CONNECT_BY_DEPTH_GUARD", "5")
        engine.spark.conf.set("spark.sql.cteRecursionLevelLimit", "50")
        with pytest.raises(Exception, match="CONNECT BY depth guard"):
            engine.execute(
                "SELECT node, LEVEL FROM cb_guard_chain "
                "START WITH parent = -1 "
                "CONNECT BY NOCYCLE PRIOR node = parent").collect()

    def test_guard_under_bound_unaffected(self, engine, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_CONNECT_BY_DEPTH_GUARD", "2000")
        engine.spark.conf.set("spark.sql.cteRecursionLevelLimit", "50")
        n = engine.execute(
            "SELECT node, LEVEL FROM cb_guard_chain "
            "START WITH parent = -1 "
            "CONNECT BY PRIOR node = parent "
            "ORDER SIBLINGS BY o").count()
        assert n == 12


class TestGrantFamilySweepR10:
    """Round-10 (r9 verdict #7): the GRANT-family tail — role/user
    lifecycle no-ops with the documented-no-grant-model status, SHOW
    ROLES/USERS/FUTURE GRANTS shaped listings, and account-level
    security objects refusing by name instead of dying in the parser."""

    @pytest.fixture(scope="class")
    def engine(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        return IcebreakerEngine(spark, schema="r10_grants")

    @pytest.mark.parametrize("stmt,label", [
        ("CREATE ROLE analyst", "create role"),
        ("CREATE OR REPLACE ROLE analyst", "create role"),
        ("DROP ROLE analyst", "drop role"),
        ("ALTER ROLE analyst SET COMMENT = 'c'", "alter role"),
        ("CREATE USER bob PASSWORD = 'x'", "create user"),
        ("DROP USER bob", "drop user"),
        ("ALTER USER bob SET DEFAULT_ROLE = 'r'", "alter user"),
    ])
    def test_principal_lifecycle_noops(self, engine, stmt, label):
        r = engine.execute(stmt).collect()
        assert r[0].statement == label and "noop" in r[0].status

    def test_show_roles_users_shaped_empty(self, engine):
        roles = engine.execute("SHOW ROLES")
        assert roles.columns == ["name", "comment", "owner"]
        assert roles.count() == 0
        users = engine.execute("SHOW USERS")
        assert "login_name" in users.columns and users.count() == 0

    def test_show_future_grants(self, engine):
        df = engine.execute("SHOW FUTURE GRANTS IN SCHEMA r10_grants")
        assert "privilege" in df.columns and df.count() == 0

    @pytest.mark.parametrize("stmt", [
        "CREATE NETWORK POLICY np ALLOWED_IP_LIST = ('10.0.0.0/8')",
        "CREATE SECURITY INTEGRATION si TYPE = SAML2",
        "CREATE STORAGE INTEGRATION sti TYPE = EXTERNAL_STAGE",
        "CREATE API INTEGRATION ai API_PROVIDER = aws_api_gateway",
        "CREATE NOTIFICATION INTEGRATION ni TYPE = QUEUE",
        "ALTER ACCOUNT SET TIMEZONE = 'UTC'",
    ])
    def test_security_objects_refuse_by_name(self, engine, stmt):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="Snowflake-only"):
            engine.execute(stmt)


class TestStatementTailSweepR10:
    """Round-10 tail sweep continuation: SHOW/DESCRIBE over object
    families — refuse-family kinds refuse with the CREATE pointer,
    noop-family kinds list shaped-but-empty, SHOW VARIABLES lists the
    session variables that genuinely exist."""

    @pytest.fixture(scope="class")
    def engine(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        return IcebreakerEngine(spark, schema="r10_tail")

    @pytest.mark.parametrize("stmt", [
        # SHOW SEQUENCES graduated to a real listing in r11
        "SHOW STREAMS", "SHOW TASKS", "SHOW PIPES",         "SHOW ALERTS",
    ])
    def test_show_refuse_families(self, engine, stmt):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="Spark has no"):
            engine.execute(stmt)

    @pytest.mark.parametrize("stmt", [
        "SHOW WAREHOUSES", "SHOW TRANSACTIONS", "SHOW LOCKS",
    ])
    def test_show_noop_families_empty(self, engine, stmt):
        assert engine.execute(stmt).count() == 0

    def test_show_variables_lists_session_vars(self, engine):
        engine.execute("SET r10var = 7")
        rows = {r.name: r.value
                for r in engine.execute("SHOW VARIABLES").collect()}
        assert rows.get("r10var") == "7"

    def test_describe_stage_unknown_names_registry(self, engine):
        # r13: stages graduated from refusal to a session registry —
        # DESCRIBE of an unregistered stage names the registry
        with pytest.raises(ValueError, match="unknown stage"):
            engine.execute("DESCRIBE STAGE s1_never_created")

    def test_show_stages_lists_registry(self, engine):
        engine.execute("CREATE OR REPLACE STAGE r10_sweep_stage")
        rows = engine.execute("SHOW STAGES").collect()
        assert any(r.name == "r10_sweep_stage" for r in rows)

    def test_describe_warehouse_noops(self, engine):
        r = engine.execute("DESCRIBE WAREHOUSE w").collect()
        assert r[0].object == "warehouse" and "noop" in r[0].status

    @pytest.mark.parametrize("stmt", [
        "ALTER TASK tk RESUME",
        "CREATE EXTERNAL TABLE e (c INT) LOCATION = '@s'",
        "CREATE EVENT TABLE ev",
        "CREATE ALERT al WAREHOUSE = w SCHEDULE = '1 MINUTE'",
        "CREATE PASSWORD POLICY pp PASSWORD_MIN_LENGTH = 12",
        "CREATE SESSION POLICY sp SESSION_IDLE_TIMEOUT_MINS = 30",
    ])
    def test_lifecycle_and_policy_refusals(self, engine, stmt):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="Snowflake-only"):
            engine.execute(stmt)


class TestFlattenRecursiveModeR10:
    """Round-10: FLATTEN's RECURSIVE and MODE arguments — previously
    silently DROPPED (nested elements never appeared). The deep-walk
    session UDF emits pre-order rows with Snowflake `a.b[0]` paths;
    MODE gates which container kinds expand."""

    @pytest.fixture(scope="class")
    def engine(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        return IcebreakerEngine(spark, schema="r10_flat")

    def test_recursive_array(self, engine):
        r = engine.execute(
            "SELECT f.path, f.index, f.value FROM TABLE(FLATTEN("
            "input => PARSE_JSON('[1,[2,3]]'), recursive => true)) f"
        ).collect()
        assert [(x.path, x["index"], x.value) for x in r] == [
            ("[0]", 0, "1"), ("[1]", 1, "[2,3]"),
            ("[1][0]", 0, "2"), ("[1][1]", 1, "3")]

    def test_recursive_object_sorted_keys(self, engine):
        r = engine.execute(
            "SELECT f.path, f.key, f.value FROM TABLE(FLATTEN(input "
            "=> PARSE_JSON('{\"b\": {\"c\": 5}, \"a\": 1}'), "
            "recursive => true)) f").collect()
        assert [(x.path, x.key, x.value) for x in r] == [
            ("a", "a", "1"), ("b", "b", '{"c":5}'),
            ("b.c", "c", "5")]

    def test_mode_array_objects_are_leaves(self, engine):
        r = engine.execute(
            "SELECT f.path, f.value FROM TABLE(FLATTEN(input => "
            "PARSE_JSON('[1, {\"x\": 2}]'), recursive => true, "
            "mode => 'ARRAY')) f").collect()
        assert [(x.path, x.value) for x in r] == [
            ("[0]", "1"), ("[1]", '{"x":2}')]

    def test_mode_object_on_array_is_empty(self, engine):
        assert engine.execute(
            "SELECT * FROM TABLE(FLATTEN(input => "
            "PARSE_JSON('[1,2]'), mode => 'OBJECT')) f").count() == 0

    def test_outer_null_input(self, engine):
        r = engine.execute(
            "SELECT f.value FROM TABLE(FLATTEN(input => "
            "CAST(NULL AS STRING), recursive => true, "
            "outer => true)) f").collect()
        assert [x.value for x in r] == [None]

    def test_string_column_input_unwraps_tojson(self, engine):
        # a STRING column is statically unknown: the rewrite guesses
        # to_json (native containers) and the analyzer retry unwraps
        # it when the input is proven already-JSON text
        engine.execute(
            "CREATE OR REPLACE TEMP VIEW fr_src AS "
            "SELECT '[1,[2]]' AS j")
        r = engine.execute(
            "SELECT f.path, f.value FROM fr_src, "
            "LATERAL FLATTEN(input => j, recursive => true) f"
        ).collect()
        assert ("[1][0]", "2") in [(x.path, x.value) for x in r]

    def test_bad_mode_refuses(self, engine):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="MODE"):
            engine.execute(
                "SELECT * FROM TABLE(FLATTEN(input => "
                "PARSE_JSON('[1]'), mode => 'WEIRD')) f")

    def test_bare_transpiler_refuses_with_pointer(self):
        from dbt_icebreaker_spark.transpiler import Transpiler
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="engine session"):
            Transpiler().to_spark(
                "SELECT * FROM TABLE(FLATTEN(input => x, "
                "recursive => true)) f")


class TestConnectByOptionalStartWithR10:
    """Round-10: Snowflake makes START WITH optional — every row is a
    root; the PRIOR-less LEVEL row-generator idiom keeps its refusal."""

    @pytest.fixture(scope="class")
    def engine(self, spark):
        from dbt_icebreaker_spark.runner import IcebreakerEngine

        spark.conf.set("spark.sql.cteRecursionLevelLimit", "50")
        spark.sql(
            "CREATE OR REPLACE TEMP VIEW cb_opt AS SELECT * FROM "
            "VALUES (1, NULL), (2, 1), (3, 2) AS t(node, parent)")
        return IcebreakerEngine(spark, schema="r10_cbopt")

    def test_all_rows_are_roots(self, engine):
        r = engine.execute(
            "SELECT node, LEVEL FROM cb_opt "
            "CONNECT BY PRIOR node = parent "
            "ORDER BY LEVEL, node").collect()
        assert [tuple(x) for x in r] == [
            (1, 1), (2, 1), (3, 1), (2, 2), (3, 2), (3, 3)]

    def test_level_generator_still_refuses(self, engine):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="GENERATOR"):
            engine.execute("SELECT LEVEL FROM cb_opt CONNECT BY LEVEL <= 3")

    def test_changes_clause_refuses_actionably(self, engine):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="change"):
            engine.execute(
                "SELECT * FROM cb_opt CHANGES (INFORMATION => "
                "DEFAULT) AT (OFFSET => -60)")

    def test_show_terse_variants(self, engine):
        # TERSE is a column-subset hint — same listings
        assert engine.execute("SHOW TERSE ROLES").count() == 0
        assert engine.execute("SHOW TERSE WAREHOUSES").count() == 0

    def test_dynamic_define_composes_with_final(self, engine):
        engine.execute(
            "CREATE OR REPLACE TEMP VIEW cb_mix AS SELECT * FROM "
            "VALUES (1,1,10.0),(1,2,11.0),(1,3,9.0),(1,4,12.0) "
            "AS t(p, seq, v)")
        r = engine.execute(
            """SELECT seq, rc, fc FROM cb_mix MATCH_RECOGNIZE (
            PARTITION BY p ORDER BY seq
            MEASURES RUNNING COUNT(*) AS rc, FINAL COUNT(*) AS fc
            ALL ROWS PER MATCH PATTERN (A+)
            DEFINE A AS v >= FIRST(v) AND COUNT(*) <= 2)
            ORDER BY seq""").collect()
        assert [(x.seq, x.rc, x.fc) for x in r] == [
            (1, 1, 2), (2, 2, 2), (3, 1, 2), (4, 2, 2)]


class TestR11AdviceFixes:
    """Round-11 judge-advice items: external-table passthrough,
    FLATTEN named-argument detection, dead-parameter cleanup."""

    @pytest.fixture
    def engine(self, spark):
        from dbt_icebreaker_spark import IcebreakerEngine

        return IcebreakerEngine(spark, schema="r11adv")

    def test_plain_external_table_passes_through(self, spark, engine):
        import tempfile

        loc = tempfile.mkdtemp(prefix="ext11_")
        spark.createDataFrame([(1, "a")], "id long, s string") \
            .write.mode("overwrite").parquet(loc)
        engine.execute(
            f"CREATE EXTERNAL TABLE ext11 (id BIGINT, s STRING) "
            f"USING parquet LOCATION '{loc}'")
        assert engine.execute(
            "SELECT COUNT(*) AS n FROM ext11").collect()[0][0] == 1
        spark.sql("DROP TABLE IF EXISTS ext11")

    @pytest.mark.parametrize("stmt", [
        "CREATE EXTERNAL FUNCTION f() RETURNS INT",
        "CREATE OR REPLACE EXTERNAL VOLUME v",
        "CREATE EXTERNAL TABLE e (c INT) LOCATION = '@s'",
        "CREATE EXTERNAL TABLE e WITH LOCATION = @st "
        "FILE_FORMAT = (TYPE = PARQUET)",
    ])
    def test_snowflake_only_external_shapes_refuse(self, stmt):
        from dbt_icebreaker_spark.transpiler.transforms import (
            detect_snowflake_only_statement,
        )

        assert detect_snowflake_only_statement(stmt) is not None

    def test_flatten_named_args_only_trigger_advisory(self):
        from dbt_icebreaker_spark.transpiler.transforms import (
            detect_session_udf_scalars,
        )

        # columns literally named mode/recursive must not trigger
        assert detect_session_udf_scalars(
            "SELECT * FROM t, LATERAL FLATTEN(t.mode)") == []
        assert detect_session_udf_scalars(
            "SELECT * FROM t, LATERAL FLATTEN(recursive)") == []
        assert detect_session_udf_scalars(
            "SELECT * FROM t, LATERAL FLATTEN(input => x, "
            "recursive => TRUE)") != []
        assert detect_session_udf_scalars(
            "SELECT * FROM t, LATERAL FLATTEN(input => j, "
            "mode => 'ARRAY')") != []

    def test_expand_measures_signature_is_clean(self):
        import inspect

        from dbt_icebreaker_spark.transpiler.match_recognize_sql import (
            _expand_measures,
        )

        params = list(inspect.signature(_expand_measures).parameters)
        assert "partition_by" not in params
        assert "order_by" not in params


class TestR11Sequences:
    """Round-11 (judge task 5): CREATE SEQUENCE / NEXTVAL emulation —
    session registry + gap-tolerant distributed allocation (Snowflake's
    own contract is gaps-allowed)."""

    @pytest.fixture
    def engine(self, spark):
        from dbt_icebreaker_spark import IcebreakerEngine

        return IcebreakerEngine(spark, schema="r11seq")

    def test_probe_shape_increasing_ids(self, engine):
        engine.execute("CREATE SEQUENCE sp")
        got = [engine.execute("SELECT sp.NEXTVAL AS v").collect()[0][0]
               for _ in range(3)]
        assert got == [1, 2, 3]

    def test_start_and_increment(self, engine):
        engine.execute(
            "CREATE OR REPLACE SEQUENCE si START WITH 100 INCREMENT BY 5")
        r = engine.execute(
            "SELECT si.NEXTVAL AS a, si.NEXTVAL AS b").collect()[0]
        assert (r.a, r.b) == (100, 105)
        assert engine.execute(
            "SELECT si.NEXTVAL AS v").collect()[0][0] == 110

    def test_negative_increment(self, engine):
        engine.execute(
            "CREATE OR REPLACE SEQUENCE sn START 0 INCREMENT -2")
        got = [engine.execute("SELECT sn.NEXTVAL AS v").collect()[0][0]
               for _ in range(3)]
        assert got == [0, -2, -4]

    def test_distributed_rows_unique_and_increasing_across_statements(
            self, engine):
        engine.execute("CREATE OR REPLACE SEQUENCE sd")
        df = engine.execute(
            "SELECT sd.NEXTVAL AS id FROM (SELECT 1 AS x UNION ALL "
            "SELECT 2 UNION ALL SELECT 3 UNION ALL SELECT 4)")
        ids = [r.id for r in df.collect()]
        assert len(set(ids)) == 4
        # the next statement's values exceed everything allocated
        nxt = engine.execute("SELECT sd.NEXTVAL AS v").collect()[0][0]
        assert nxt > max(ids)

    def test_surrogate_key_ctas(self, engine, spark):
        # the dbt use case: sequence-driven surrogate keys in a CTAS
        engine.execute("CREATE OR REPLACE SEQUENCE sk START 1000")
        engine.execute(
            "CREATE OR REPLACE TABLE r11seq.sk_t AS "
            "SELECT sk.NEXTVAL AS sk_id, x FROM (SELECT 1 AS x "
            "UNION ALL SELECT 2)")
        rows = spark.table("r11seq.sk_t").collect()
        assert len({r.sk_id for r in rows}) == 2
        assert all(r.sk_id >= 1000 for r in rows)
        spark.sql("DROP TABLE r11seq.sk_t")

    def test_show_and_describe(self, engine):
        engine.execute("CREATE OR REPLACE SEQUENCE sv START 7")
        shown = {r.name: (r.start, r.increment)
                 for r in engine.execute("SHOW SEQUENCES").collect()}
        assert shown["sv"] == (7, 1)
        d = engine.execute("DESCRIBE SEQUENCE sv").collect()[0]
        assert (d.name, d.start, d.next_value) == ("sv", 7, 7)

    def test_drop_and_errors(self, engine):
        engine.execute("CREATE OR REPLACE SEQUENCE sx")
        engine.execute("DROP SEQUENCE sx")
        with pytest.raises(Exception, match="unknown sequence"):
            engine.execute("SELECT sx.NEXTVAL")
        with pytest.raises(Exception, match="IF EXISTS"):
            engine.execute("DROP SEQUENCE sx")
        engine.execute("DROP SEQUENCE IF EXISTS sx")  # no raise
        with pytest.raises(Exception, match="already exists"):
            engine.execute("CREATE SEQUENCE sy")
            engine.execute("CREATE SEQUENCE sy")
        engine.execute("CREATE SEQUENCE IF NOT EXISTS sy")  # no raise

    def test_if_not_exists_keeps_cursor(self, engine):
        engine.execute("CREATE OR REPLACE SEQUENCE sq2")
        engine.execute("SELECT sq2.NEXTVAL")
        engine.execute("CREATE SEQUENCE IF NOT EXISTS sq2")
        assert engine.execute(
            "SELECT sq2.NEXTVAL AS v").collect()[0][0] == 2


class TestR11ConnectByIscycle:
    """Round-11: CONNECT_BY_ISCYCLE — 1 when the row has a child that
    is also its ancestor (the edge NOCYCLE pruned). Requires NOCYCLE
    like Oracle; rendered via per-key child-id sets overlap-tested
    against the visited-ancestor array."""

    @pytest.fixture(scope="class", autouse=True)
    def views(self, spark):
        spark.sql("""CREATE OR REPLACE TEMP VIEW cyc2 AS SELECT * FROM
          VALUES (1, 3), (2, 1), (3, 2), (4, 1) t(id, mgr)""")

    def test_iscycle_values(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT id, LEVEL, CONNECT_BY_ISCYCLE FROM cyc2 "
            "START WITH id = 1 CONNECT BY NOCYCLE PRIOR id = mgr "
            "ORDER BY LEVEL, id")).collect()
        assert [tuple(r) for r in rows] == [
            (1, 1, 0), (2, 2, 0), (4, 2, 0), (3, 3, 1)]
        # bare select item keeps the Oracle output name
        assert rows[0].__fields__[2] == "connect_by_iscycle"

    def test_iscycle_in_where(self, spark):
        # WHERE precedes START WITH in the Oracle clause order; the
        # rewrite applies it over the RESULT, so ISCYCLE is available
        rows = spark.sql(t.to_spark(
            "SELECT id FROM cyc2 WHERE CONNECT_BY_ISCYCLE = 1 "
            "START WITH id = 1 "
            "CONNECT BY NOCYCLE PRIOR id = mgr")).collect()
        assert [r.id for r in rows] == [3]

    def test_iscycle_without_nocycle_refuses(self):
        with pytest.raises(TranspileError, match="NOCYCLE"):
            t.to_spark(
                "SELECT CONNECT_BY_ISCYCLE FROM cyc2 START WITH id = 1 "
                "CONNECT BY PRIOR id = mgr")

    def test_acyclic_tree_all_zero(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT id, CONNECT_BY_ISCYCLE AS c FROM cb_emp "
            "START WITH mgr IS NULL CONNECT BY NOCYCLE PRIOR id = mgr "
            "ORDER BY id")).collect()
        assert all(r.c == 0 for r in rows) and len(rows) == 6


def test_r11_nextval_in_column_default_refuses(spark):
    from dbt_icebreaker_spark import IcebreakerEngine

    eng = IcebreakerEngine(spark, schema="r11seqd")
    eng.execute("CREATE OR REPLACE SEQUENCE sdft")
    with pytest.raises(Exception, match="DEFAULT.*constant|constant.*DEFAULT"):
        eng.execute(
            "CREATE TABLE r11seqd.td (id BIGINT DEFAULT sdft.NEXTVAL, "
            "x STRING)")
    # the working shape still draws values
    eng.execute(
        "CREATE OR REPLACE TABLE r11seqd.td AS "
        "SELECT sdft.NEXTVAL AS id, 'a' AS x")
    assert spark.table("r11seqd.td").count() == 1
    spark.sql("DROP TABLE r11seqd.td")


class TestR11QuantifiedComparison:
    """Round-11: <cmp> ANY|SOME|ALL (subquery) — Spark's parser lacks
    quantified comparisons; = ANY → IN, <> ALL → NOT IN, inequality
    forms reduce to MIN/MAX scalar subqueries (exact under not-true
    filtering incl. empty subqueries)."""

    @pytest.fixture(scope="class", autouse=True)
    def views(self, spark):
        spark.sql("CREATE OR REPLACE TEMP VIEW qc_t AS "
                  "SELECT * FROM VALUES (1),(5),(9) t(v)")
        spark.sql("CREATE OR REPLACE TEMP VIEW qc_e AS "
                  "SELECT v FROM qc_t WHERE v > 100")

    @pytest.mark.parametrize("sql,want", [
        ("SELECT v FROM qc_t WHERE v = ANY (SELECT v FROM qc_t "
         "WHERE v > 4) ORDER BY v", [5, 9]),
        ("SELECT v FROM qc_t WHERE v = SOME (SELECT 5)", [5]),
        ("SELECT v FROM qc_t WHERE v <> ALL (SELECT 5) ORDER BY v",
         [1, 9]),
        ("SELECT v FROM qc_t WHERE v != ALL (SELECT 1) ORDER BY v",
         [5, 9]),
        ("SELECT v FROM qc_t WHERE v > ANY (SELECT v FROM qc_t "
         "WHERE v >= 5)", [9]),
        ("SELECT v FROM qc_t WHERE v <= ANY (SELECT v FROM qc_t) "
         "ORDER BY v", [1, 5, 9]),
        # empty subquery: quantified-unknown == scalar-NULL not-true
        ("SELECT v FROM qc_t WHERE v > ANY (SELECT v FROM qc_e)", []),
        ("SELECT v FROM qc_t WHERE v = ANY (SELECT v FROM qc_e)", []),
        # NULL element: ANY stays exact (MIN/MAX skip NULLs; the
        # only divergence is FALSE vs UNKNOWN, both not-true)
        ("SELECT v FROM qc_t WHERE v > ANY (SELECT CAST(NULL AS INT) "
         "UNION ALL SELECT 5)", [9]),
    ])
    def test_quantified(self, spark, sql, want):
        got = [r.v for r in spark.sql(t.to_spark(sql)).collect()]
        assert got == want, (sql, got)

    @pytest.mark.parametrize("sql,want", [
        # r12: the previously-refused forms now render as the
        # truth-preserving CASE (battery r12c pins the 3-valued corner
        # cases; these pin the filtering behavior on views)
        ("SELECT v FROM qc_t WHERE v = ALL (SELECT 5)", [5]),
        ("SELECT v FROM qc_t WHERE v <> ANY (SELECT 5) ORDER BY v",
         [1, 9]),
        ("SELECT v FROM qc_t WHERE v >= ALL (SELECT v FROM qc_t)",
         [9]),
        ("SELECT v FROM qc_t WHERE v < ALL (SELECT v FROM qc_t)", []),
        ("SELECT v FROM qc_t WHERE v > ALL (SELECT v FROM qc_e) "
         "ORDER BY v", [1, 5, 9]),   # empty set → TRUE for every row
        ("SELECT v FROM qc_t WHERE v > ALL (SELECT CAST(NULL AS INT) "
         "UNION ALL SELECT 5)", []),  # NULL element → never TRUE
    ])
    def test_r12_all_forms(self, spark, sql, want):
        got = [r.v for r in spark.sql(t.to_spark(sql)).collect()]
        assert got == want, (sql, got)

    def test_other_all_contexts_untouched(self, spark):
        # UNION ALL / COUNT(ALL x) / GROUP BY ALL never trigger
        assert sorted(r[0] for r in spark.sql(t.to_spark(
            "SELECT v FROM qc_t UNION ALL (SELECT 99)"
        )).collect()) == [1, 5, 9, 99]
        assert spark.sql(t.to_spark(
            "SELECT COUNT(ALL v) FROM qc_t")).collect()[0][0] == 3


class TestR11SequenceInteractions:
    """Round-11 follow-up: NEXTVAL across the engine's statement
    layers — scripting blocks, EXECUTE IMMEDIATE, and procedures all
    draw fresh values through the same registry; a VIEW definition
    refuses (prepare-time substitution would freeze one value where
    Snowflake re-draws per query)."""

    @pytest.fixture
    def engine(self, spark):
        from dbt_icebreaker_spark import IcebreakerEngine

        return IcebreakerEngine(spark, schema="r11seqx")

    def test_layers_share_the_registry(self, engine):
        engine.execute("CREATE OR REPLACE SEQUENCE sqi")
        a = engine.execute(
            "EXECUTE IMMEDIATE 'SELECT sqi.NEXTVAL AS v'"
        ).collect()[0][0]
        b = engine.execute(
            "DECLARE v INT; BEGIN LET v := (SELECT sqi.NEXTVAL); "
            "RETURN v; END").collect()[0][0]
        engine.execute(
            "CREATE OR REPLACE PROCEDURE sqi_p() RETURNS INT "
            "LANGUAGE SQL AS $$ BEGIN RETURN (SELECT sqi.NEXTVAL); "
            "END $$")
        c = engine.execute("CALL sqi_p()").collect()[0][0]
        d = engine.execute("CALL sqi_p()").collect()[0][0]
        engine.execute("SET sqi_v = sqi.NEXTVAL")
        e, f = engine.execute("SELECT $sqi_v, sqi.NEXTVAL").collect()[0]
        assert [int(x) for x in (a, b, c, d, e, f)] == [1, 2, 3, 4, 5, 6]

    def test_view_definition_refuses(self, engine):
        engine.execute("CREATE OR REPLACE SEQUENCE sqv")
        with pytest.raises(Exception, match="VIEW definition"):
            engine.execute(
                "CREATE OR REPLACE VIEW r11seqx.badv AS "
                "SELECT sqv.NEXTVAL AS id")


def test_r11_sequence_merge_into_int_column(spark):
    """Round-11 interaction probe: distributed NEXTVAL values must not
    blow past INT target columns on small statements (the raw
    monotonically_increasing_id stride did - partition 1 row 0 was
    already 8.6B and a MERGE insert died with CAST_OVERFLOW)."""
    import tempfile
    import uuid

    from dbt_icebreaker_spark import IcebreakerEngine

    db = f"sqm_{uuid.uuid4().hex[:6]}"
    spark.sql(f"CREATE DATABASE {db} LOCATION "
              f"'{tempfile.mkdtemp()}/wh'")
    eng = IcebreakerEngine(spark, schema=db)
    eng.execute("CREATE OR REPLACE SEQUENCE sqm START 1000")
    eng.execute(f"CREATE TABLE {db}.mt AS SELECT 1 AS k, 'a' AS x")
    eng.execute(
        f"MERGE INTO {db}.mt t USING (SELECT sqm.NEXTVAL AS k, "
        "'n' AS x FROM (SELECT 1 AS d UNION ALL SELECT 2)) s "
        "ON t.k = s.k WHEN NOT MATCHED THEN "
        "INSERT (k, x) VALUES (s.k, s.x)")
    rows = spark.table(f"{db}.mt").collect()
    assert len(rows) == 3
    assert len({r.k for r in rows}) == 3
    spark.sql(f"DROP TABLE {db}.mt")


def test_r11_sequence_through_run_model(spark):
    """The dbt surrogate-key shape: NEXTVAL inside a model SELECT
    materialized via run_model (table + incremental paths)."""
    from dbt_icebreaker_spark import IcebreakerEngine
    from dbt_icebreaker_spark.sources import register_dir

    register_dir(spark, "/root/testdata/sf0.001")
    eng = IcebreakerEngine(spark, schema="seqrm")
    eng.execute("CREATE OR REPLACE SEQUENCE rmseq START 100")
    eng.run_model(
        "dim_sk", "SELECT rmseq.NEXTVAL AS sk, o_orderkey "
        "FROM orders WHERE o_orderkey <= 5", "table")
    rows = spark.table("seqrm.dim_sk").collect()
    assert len({r.sk for r in rows}) == len(rows)
    assert all(r.sk >= 100 for r in rows)
    eng.run_model(
        "dim_sk2", "SELECT rmseq.NEXTVAL AS sk, o_orderkey AS k "
        "FROM orders WHERE o_orderkey <= 3",
        "incremental", unique_key="k")
    n = spark.table("seqrm.dim_sk2").count()
    assert n == spark.sql(
        "SELECT COUNT(*) FROM orders WHERE o_orderkey <= 3"
    ).collect()[0][0]
    spark.sql("DROP TABLE seqrm.dim_sk")
    spark.sql("DROP TABLE seqrm.dim_sk2")


class TestR12SequenceHardening:
    """Round-12 advisor items: the block reservation scales with the
    rows-per-partition cap (a fixed 2^44 overlapped consecutive
    statements' ranges once the env knob exceeded 24), and the
    distributed offset binds monotonically_increasing_id ONCE per row
    through a transform lambda (two bare call sites are two
    independent nondeterministic instances)."""

    def test_block_reservation_covers_the_cap(self, monkeypatch):
        import importlib

        import dbt_icebreaker_spark.sequences as seqmod

        monkeypatch.setenv(
            "SPARK_GRAFT_SEQ_ROWS_PER_PARTITION_BITS", "30")
        importlib.reload(seqmod)
        try:
            # offsets reach 2^(30+20); the reservation must cover it
            assert seqmod._BLOCK_BITS >= 50
        finally:
            monkeypatch.delenv("SPARK_GRAFT_SEQ_ROWS_PER_PARTITION_BITS")
            importlib.reload(seqmod)
            assert seqmod._BLOCK_BITS == 44

    def test_offset_binds_id_once(self, spark):
        from dbt_icebreaker_spark import IcebreakerEngine
        from dbt_icebreaker_spark.sequences import substitute_nextval

        eng = IcebreakerEngine(spark, schema="r12seqb")
        eng.execute("CREATE OR REPLACE SEQUENCE sqb")
        # the rendered substitution contains exactly ONE
        # monotonically_increasing_id call site per NEXTVAL occurrence
        rendered = substitute_nextval(
            eng, "SELECT sqb.NEXTVAL AS v FROM x")
        assert rendered.count("monotonically_increasing_id") == 1
        # engine-level: a multi-partition draw stays collision-free
        spark.range(0, 50000, 1, 8).createOrReplaceTempView(
            "r12_seq_src")
        eng.execute(
            "CREATE OR REPLACE TABLE r12seqb.tv AS "
            "SELECT sqb.NEXTVAL AS v, id FROM r12_seq_src")
        got = spark.table("r12seqb.tv")
        n = got.count()
        d = got.select("v").distinct().count()
        assert n == 50000 and d == n
        spark.sql("DROP TABLE r12seqb.tv")
