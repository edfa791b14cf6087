"""Round-5 execution battery, kept as a permanent surface lock.

Every case transpiles AND executes a Snowflake spelling and checks the
value — transpile-success alone lies (the round-4/5 batteries caught
DAYOFWEEK off-by-one, dynamic PIVOT, and variant-subscript bugs that
string-level tests missed). Dates/timestamps compare by string prefix;
presence-only cases assert non-error execution.
"""

from __future__ import annotations

import datetime

import pytest

from dbt_icebreaker_spark.transpiler.core import Transpiler

t = Transpiler()

# (snowflake_sql, expected) — expected None = executes without error;
# tuple = any member acceptable
SCALAR_CASES = [
    ("SELECT INSERT('abcdef', 2, 3, 'XY')", "aXYef"),
    ("SELECT SPLIT_PART('a.b.c', '.', 2)", "b"),
    ("SELECT SPLIT_PART('a.b.c', '.', -1)", "c"),
    ("SELECT CHARINDEX('b', 'abc')", 2),
    ("SELECT POSITION('b' IN 'abc')", 2),
    ("SELECT RTRIMMED_LENGTH('ab  ')", 2),
    ("SELECT TRANSLATE('abc', 'abc', 'xyz')", "xyz"),
    ("SELECT INITCAP('hello world')", "Hello World"),
    ("SELECT REPEAT('ab', 3)", "ababab"),
    ("SELECT LPAD('5', 3, '0')", "005"),
    ("SELECT ASCII('A')", 65),
    ("SELECT CHR(66)", "B"),
    ("SELECT UNICODE('€')", 8364),
    ("SELECT REGEXP_COUNT('a1b2c3', '\\\\d')", 3),
    ("SELECT REGEXP_SUBSTR('a1b22c333', '\\\\d+', 1, 2)", "22"),
    ("SELECT REGEXP_REPLACE('a1b2', '\\\\d', 'X')", "aXbX"),
    ("SELECT RLIKE('abc123', '.*\\\\d+')", True),
    ("SELECT ENDSWITH('abc', 'bc')", True),
    ("SELECT INSTR('hello', 'll')", 3),
    ("SELECT STRTOK_TO_ARRAY('a-b-c', '-')[1]", "b"),
    ("SELECT ARRAY_SLICE(ARRAY_CONSTRUCT(1,2,3,4,5), 1, 3)", [2, 3]),
    ("SELECT ARRAY_POSITION(2::VARIANT, ARRAY_CONSTRUCT(1,2,3))", 1),
    ("SELECT ARRAY_CONTAINS(2::VARIANT, ARRAY_CONSTRUCT(1,2,3))", True),
    ("SELECT ARRAY_PREPEND(ARRAY_CONSTRUCT(2,3), 1)", [1, 2, 3]),
    ("SELECT ARRAY_CAT(ARRAY_CONSTRUCT(1), ARRAY_CONSTRUCT(2))", [1, 2]),
    ("SELECT ARRAY_TO_STRING(ARRAY_CONSTRUCT(1,2), '-')", "1-2"),
    ("SELECT ARRAYS_OVERLAP(ARRAY_CONSTRUCT(1,2), ARRAY_CONSTRUCT(2,9))", True),
    ("SELECT ARRAY_DISTINCT(ARRAY_CONSTRUCT(1,1,2))", [1, 2]),
    ("SELECT ARRAY_MIN(ARRAY_CONSTRUCT(3,1,2))", 1),
    ("SELECT ARRAY_MAX(ARRAY_CONSTRUCT(3,1,2))", 3),
    ("SELECT ARRAY_COMPACT(ARRAY_CONSTRUCT(1, NULL, 2))", [1, 2]),
    ("SELECT ARRAY_FLATTEN(ARRAY_CONSTRUCT(ARRAY_CONSTRUCT(1), ARRAY_CONSTRUCT(2)))", [1, 2]),
    ("SELECT GET(ARRAY_CONSTRUCT(7,8), 1)", 8),
    ("SELECT DATE_TRUNC('month', '2024-03-15'::DATE)", "2024-03-01"),
    ("SELECT LAST_DAY('2024-02-10'::DATE)", "2024-02-29"),
    ("SELECT NEXT_DAY('2024-01-01'::DATE, 'Friday')", "2024-01-05"),
    ("SELECT PREVIOUS_DAY('2024-01-10'::DATE, 'Friday')", "2024-01-05"),
    ("SELECT MONTHNAME('2024-03-15'::DATE)", "Mar"),
    ("SELECT DAYNAME('2024-03-15'::DATE)", "Fri"),
    ("SELECT ADD_MONTHS('2024-01-31'::DATE, 1)", "2024-02-29"),
    ("SELECT TRUNC('2024-03-15'::DATE, 'YEAR')", "2024-01-01"),
    ("SELECT YEAROFWEEK('2024-01-01'::DATE)", 2024),
    ("SELECT HOUR('2024-01-01 13:45:10'::TIMESTAMP)", 13),
    ("SELECT MINUTE('2024-01-01 13:45:10'::TIMESTAMP)", 45),
    ("SELECT SECOND('2024-01-01 13:45:10'::TIMESTAMP)", 10),
    ("SELECT QUARTER('2024-05-01'::DATE)", 2),
    ("SELECT DIV0(10, 0)", 0),
    ("SELECT DIV0NULL(10, NULL)", 0),
    ("SELECT MOD(10, 3)", 1),
    ("SELECT SQUARE(4)", 16.0),
    ("SELECT SIGN(-3)", -1),
    ("SELECT TRUNCATE(3.789, 1)", 3.7),
    ("SELECT ROUND(2.5)", 3),
    ("SELECT BITAND(12, 10)", 8),
    ("SELECT BITOR(12, 10)", 14),
    ("SELECT BITXOR(12, 10)", 6),
    ("SELECT BITNOT(0)", -1),
    ("SELECT BOOLAND(1, 1)", True),
    ("SELECT BOOLOR(0, 1)", True),
    ("SELECT BOOLXOR(1, 1)", False),
    ("SELECT BOOLNOT(0)", True),
    ("SELECT NULLIFZERO(0)", None),
    ("SELECT ZEROIFNULL(NULL)", 0),
    ("SELECT NVL2(1, 'a', 'b')", "a"),
    ("SELECT NVL2(NULL, 'a', 'b')", "b"),
    ("SELECT DECODE(2, 1, 'one', 2, 'two', 'other')", "two"),
    ("SELECT GREATEST_IGNORE_NULLS(1, NULL, 3)", 3),
    ("SELECT LEAST_IGNORE_NULLS(NULL, 2, 5)", 2),
    ("SELECT IS_NULL_VALUE(PARSE_JSON('null'))", True),
    ("SELECT TYPEOF(PARSE_JSON('{\"a\":1}'))", "OBJECT"),
    ("SELECT OBJECT_KEYS(PARSE_JSON('{\"a\":1,\"b\":2}'))", ["a", "b"]),
    ("SELECT PARSE_JSON('{\"a\": {\"b\": 7}}'):a.b::INT", 7),
    ("SELECT PARSE_JSON('[1,2,3]')[2]::INT", 3),
    ("SELECT GET_PATH(PARSE_JSON('{\"a\":{\"b\":5}}'), 'a.b')::INT", 5),
    ("SELECT TO_JSON(OBJECT_CONSTRUCT('a', 1))", '{"a":1}'),
    ("SELECT JSON_EXTRACT_PATH_TEXT('{\"a\":{\"b\":\"x\"}}', 'a.b')", "x"),
    ("SELECT MD5('abc')", "900150983cd24fb0d6963f7d28e17f72"),
    ("SELECT SHA1('abc')", "a9993e364706816aba3e25717850c26c9cd0d89d"),
    ("SELECT HEX_ENCODE('ab')", "6162"),
    ("SELECT HEX_DECODE_STRING('6162')", "ab"),
    ("SELECT BASE64_ENCODE('ab')", "YWI="),
    ("SELECT BASE64_DECODE_STRING('YWI=')", "ab"),
    ("SELECT 'a' || 'b' || 'c'", "abc"),
    ("SELECT CONTAINS('abcd', 'bc')", True),
    ("SELECT EDITDISTANCE('kitten', 'sitting')", 3),
    ("SELECT SOUNDEX('Robert')", "R163"),
    ("SELECT UUID_STRING() IS NOT NULL", True),
    ("SELECT TO_DOUBLE('1.5e2')", 150.0),
    ("SELECT TRY_TO_NUMBER('abc')", ("__NULL__",)),
    ("SELECT TO_NUMERIC('42')", 42),
    ("SELECT TO_CHAR(42)", "42"),
    ("SELECT TO_DATE('2024-03-05', 'YYYY-MM-DD')", "2024-03-05"),
    ("SELECT TO_TIMESTAMP('05/03/2024 13:04', 'DD/MM/YYYY HH24:MI')", "2024-03-05 13:04:00"),
    ("SELECT TRY_TO_DATE('bogus')", ("__NULL__",)),
    ("SELECT TRY_CAST('12' AS INT)", 12),
    ("SELECT DATEADD(month, 1, '2024-01-31'::DATE)", "2024-02-29"),
    ("SELECT TIMEADD(hour, 2, '2024-01-01 00:00:00'::TIMESTAMP)", "2024-01-01 02:00:00"),
    ("SELECT TIMESTAMPADD(minute, 30, '2024-01-01 00:00:00'::TIMESTAMP)", "2024-01-01 00:30:00"),
    ("SELECT TIMESTAMPDIFF(hour, '2024-01-01'::TIMESTAMP, '2024-01-02'::TIMESTAMP)", 24),
    ("SELECT TIME_SLICE('2024-01-01 00:37:00'::TIMESTAMP, 15, 'MINUTE')", "2024-01-01 00:30:00"),
    ("SELECT DATE_FROM_PARTS(2024, 2, 29)", "2024-02-29"),
    ("SELECT TIMESTAMP_FROM_PARTS(2024, 1, 2, 3, 4, 5)", "2024-01-02 03:04:05"),
    ("SELECT EXTRACT(EPOCH FROM '1970-01-01 00:01:00'::TIMESTAMP)", 60),
    # round-5 second sweep
    ("SELECT 'abc' ILIKE 'AB%'", True),
    ("SELECT 'abc' LIKE ANY ('x%', 'a%')", True),
    ("SELECT 'abc' LIKE ALL ('a%', '%c')", True),
    ("SELECT 1 IS DISTINCT FROM NULL", True),
    ("SELECT WIDTH_BUCKET(5, 0, 10, 5)", 3),
    ("SELECT HAVERSINE(0, 0, 0, 1) BETWEEN 111 AND 112", True),
    ("SELECT OBJECT_CONSTRUCT('a', NULL, 'b', 2)", '{"b":2}'),
    ("SELECT OBJECT_CONSTRUCT_KEEP_NULL('a', NULL, 'b', 2)", '{"a":null,"b":2}'),
    ("SELECT PARSE_JSON('{\"a\":[{\"b\":2}]}'):a[0].b::INT", 2),
    ("SELECT ARRAY_CONSTRUCT_COMPACT(1, NULL, 2)", [1, 2]),
    ("SELECT REGR_VALX(1.0, 2.0)::DOUBLE", 2.0),
    ("SELECT REGR_VALX(NULL, 2.0)", ("__NULL__",)),
    ("SELECT REGR_VALY(1.0, 2.0)::DOUBLE", 1.0),
    ("SELECT SUBSTR('hello', -3)", "llo"),
    ("SELECT LTRIM('xxay', 'x')", "ay"),
    ("SELECT TRIM('xax', 'x')", "a"),
    ("SELECT CONCAT_WS('-', 'a', NULL, 'b')", "a-b"),
    # round-5 third sweep: bracket/object literals + fn-surface fixes
    ("SELECT [1,2,3]", [1, 2, 3]),
    ("SELECT [[1,2],[3]][1]", [3]),
    ("SELECT {'a': 1, 'b': [2,3]}", '{"a":1,"b":[2,3]}'),
    ("SELECT ARRAY_SIZE([])", 0),
    ("SELECT ARRAY_SORT([3,1,2])", [1, 2, 3]),
    ("SELECT ARRAY_SORT([3,1,2], FALSE)", [3, 2, 1]),
    ("SELECT ARRAY_SORT([3,NULL,1], TRUE, TRUE)", [None, 1, 3]),
    ("SELECT ARRAY_SORT([3,NULL,1], FALSE, FALSE)", [3, 1, None]),
    ("SELECT ARRAY_SLICE([0,1,2,3], -2, 4)", [2, 3]),
    ("SELECT ARRAY_SLICE([0,1,2,3], 1, -1)", [1, 2]),
    ("SELECT ARRAY_SLICE([0,1,2,3], 5, 7)", []),
    ("SELECT ROUND(2.5, 0, 'HALF_TO_EVEN')", 2),
    ("SELECT ROUND(3.5, 0, 'HALF_TO_EVEN')", 4),
    ("SELECT ROUND(2.5, 0, 'HALF_AWAY_FROM_ZERO')", 3),
    ("SELECT LENGTH(RANDSTR(8, 42))", 8),
    ("SELECT RANDSTR(8, 42) = RANDSTR(8, 42)", True),
    ("SELECT RANDSTR(5, 1) <> RANDSTR(5, 2)", True),
    ("SELECT TYPEOF(TO_VARIANT('x'))", "VARCHAR"),
    ("SELECT AS_VARCHAR(TO_VARIANT('xy'))", "xy"),
    ("SELECT AS_VARCHAR(PARSE_JSON('\"q\"'))", "q"),
    ("SELECT AS_VARCHAR(TO_VARIANT(3))", ("__NULL__",)),
    ("SELECT IS_VARCHAR(TO_VARIANT('x'))", True),
    ("SELECT IS_VARCHAR(TO_VARIANT(3))", False),
    ("SELECT CEIL(3.14159, 2)::DOUBLE", 3.15),
    ("SELECT FLOOR(3.14159, 3)::DOUBLE", 3.141),
    # round-5c sweep: bare/alias DATE_TRUNC units, binary codecs,
    # PARSE_IP (IPv4 INET object), context functions, MAP_KEYS
    ("SELECT DATE_TRUNC(WEEK, '2024-03-15'::DATE)", "2024-03-11"),
    ("SELECT DATE_TRUNC('WK', '2024-03-15'::DATE)", "2024-03-11"),
    ("SELECT BASE64_ENCODE(BASE64_DECODE_BINARY('SGVsbG8='))", "SGVsbG8="),
    ("SELECT HEX_ENCODE(HEX_DECODE_BINARY('48AB'))", "48AB"),
    ("SELECT TRY_HEX_DECODE_BINARY('zz')", ("__NULL__",)),
    ("SELECT TRY_BASE64_DECODE_BINARY('SGVsbG8=')::STRING", "Hello"),
    ("SELECT ARRAY_TO_STRING(MAP_KEYS(OBJECT_CONSTRUCT('a',1,'b',2)), ',')",
     "a,b"),
    ("SELECT PARSE_IP('10.0.0.1', 'INET'):ipv4::NUMBER", 167772161),
    ("SELECT PARSE_IP('10.0.0.0/24', 'INET'):ipv4_range_end::NUMBER",
     167772415),
    ("SELECT PARSE_IP('10.0.0.0/24', 'INET'):netmask_prefix_length::NUMBER",
     24),
    ("SELECT TRY_PARSE_IP('not-an-ip', 'INET')", ("__NULL__",)),
    ("SELECT PARSE_IP(CAST(NULL AS STRING), 'INET')", ("__NULL__",)),
    ("SELECT CURRENT_TRANSACTION()", ("__NULL__",)),
    ("SELECT CURRENT_CLIENT()", "dbt-icebreaker-spark"),
    ("SELECT CONTAINS(CURRENT_STATEMENT(), 'CURRENT_STATEMENT')", True),
    # 1-arg INITCAP uses Snowflake's default delimiter set (wider than
    # Spark's whitespace-only initcap)
    ("SELECT INITCAP('foo-bar baz_q')", "Foo-Bar Baz_Q"),
    ("SELECT INITCAP(CAST(NULL AS STRING), '-')", ("__NULL__",)),
    ("SELECT INITCAP('aXb', 'X')", "AxB"),  # delimiter match is on the
    ("SELECT INITCAP('aXb', 'x')", "Axb"),  # ORIGINAL char, case-exact
    ("SELECT ARRAYS_TO_OBJECT(ARRAY_CONSTRUCT('x', NULL), "
     "ARRAY_CONSTRUCT(1, 2))", '{"x":1}'),  # NULL key drops its pair
    ("SELECT ARRAYS_TO_OBJECT(ARRAY_CONSTRUCT('x','x'), "
     "ARRAY_CONSTRUCT(1,2))", '{"x":2}'),   # duplicate key: last wins
    ("SELECT ARRAYS_TO_OBJECT(ARRAY_CONSTRUCT('a'), "
     "ARRAY_CONSTRUCT(OBJECT_CONSTRUCT('b', 1))):a.b::INT", 1),
    # ARRAYS_TO_OBJECT + delimiter-set INITCAP
    ("SELECT ARRAYS_TO_OBJECT(ARRAY_CONSTRUCT('x','y'), "
     "ARRAY_CONSTRUCT(1,2))", '{"x":1,"y":2}'),
    ("SELECT ARRAYS_TO_OBJECT(ARRAY_CONSTRUCT('x','y'), "
     "ARRAY_CONSTRUCT(1,2)):x::INT", 1),
    ("SELECT INITCAP('hello-world grand', '-')", "Hello-World grand"),
    ("SELECT INITCAP('a.b.c', '.')", "A.B.C"),
    # variant-string → date/timestamp coercion unquotes the JSON scalar
    ("SELECT TO_DATE(PARSE_JSON('\"2024-01-02\"'))", "2024-01-02"),
    ("SELECT TO_TIMESTAMP(PARSE_JSON('\"2024-01-02 03:04:05\"'))",
     "2024-01-02 03:04:05"),
    ("SELECT TO_DATE('2024-01-02')", "2024-01-02"),  # plain string intact
    # FROM-less SELECT + QUALIFY is legal Snowflake
    ("SELECT 'y' AS k QUALIFY ROW_NUMBER() OVER (ORDER BY k) = 1", "y"),
    # format models: day-of-year DDD, hex X/x
    ("SELECT TO_DATE('2024-068', 'YYYY-DDD')", "2024-03-08"),
    ("SELECT TO_CHAR('2024-03-08'::DATE, 'YYYY-DDD')", "2024-068"),
    ("SELECT TO_CHAR(255, 'XXXX')", "FF"),
    ("SELECT TO_CHAR(255, 'xxxx')", "ff"),
    # SEQ* over a single GENERATOR spine binds to the gap-free range id
    ("SELECT MAX(SEQ4()) FROM TABLE(GENERATOR(ROWCOUNT => 5))", 4),
    ("SELECT MIN(SEQ8()) FROM TABLE(GENERATOR(ROWCOUNT => 5))", 0),
    # ...but NOT across scopes: a generator in a subquery must not bind
    # an outer SEQ reference (gap-tolerant id is the valid fallback)
    ("SELECT SEQ4() >= 0 AND c = 3 FROM (SELECT (SELECT COUNT(*) "
     "FROM TABLE(GENERATOR(ROWCOUNT => 3))) AS c)", True),
]

# Snowflake sorts NULLs HIGHEST (ASC → last, DESC → first); Spark's
# native default is the opposite — rewrite_order_by_nulls pins parity
NULL_ORDER_CASES = [
    ("SELECT k FROM bt ORDER BY v", [1, 2, 3, 4]),          # NULL v last
    ("SELECT k FROM bt ORDER BY v DESC", [4, 3, 2, 1]),     # NULL v first
    ("SELECT k FROM bt ORDER BY v NULLS FIRST", [4, 1, 2, 3]),
    ("SELECT MAX(k) FROM (SELECT k, ROW_NUMBER() OVER (ORDER BY v) rn "
     "FROM bt) WHERE rn = 4", 4),                           # window rank
    ("SELECT ARRAY_TO_STRING(ARRAY_AGG(k) WITHIN GROUP (ORDER BY v), ',') "
     "FROM bt", ("1,2,3,4",)),                              # within group
]

# PIVOT DEFAULT ON NULL: needs the live schema (engine-layer
# conditional-aggregation rewrite) — both the NULL-measure cell AND
# the truly-ABSENT (group, value) combo must yield the default
PIVOT_DEFAULT_CASES = [
    # bt has k=1..4: group g='a' covers k=1,2; g='b' covers k=3,4
    # (k=4's v is NULL) — so IN (1, 4) gives g='a' an ABSENT k=4 cell
    # and g='b' an absent k=1 AND a NULL-measure k=4
    ("SELECT \"4\" FROM (SELECT g, k, v FROM bt) "
     "PIVOT (SUM(v) FOR k IN (1, 4) DEFAULT ON NULL (-1.0)) "
     "ORDER BY g LIMIT 1", -1.0),   # g='a': ABSENT combo → default
    ("SELECT \"4\" FROM (SELECT g, k, v FROM bt) "
     "PIVOT (SUM(v) FOR k IN (1, 4) DEFAULT ON NULL (-1.0)) "
     "ORDER BY g DESC LIMIT 1", -1.0),  # g='b': NULL measure → default
    ("SELECT \"1\" FROM (SELECT g, k, v FROM bt) "
     "PIVOT (SUM(v) FOR k IN (1, 4) DEFAULT ON NULL (-1.0)) "
     "ORDER BY g LIMIT 1", 10.0),   # present cell untouched
]

# window seams over wv(k, g, v) with NULL v at k=2 ('a') and k=5 ('b');
# expected = first-column values ordered by k
WINDOW_CASES = [
    ("SELECT LAG(v) IGNORE NULLS OVER (ORDER BY k) AS r FROM wv ORDER BY k",
     [None, 10.0, 10.0, 30.0, 40.0]),
    ("SELECT LAST_VALUE(v) IGNORE NULLS OVER (ORDER BY k ROWS BETWEEN "
     "UNBOUNDED PRECEDING AND CURRENT ROW) AS r FROM wv ORDER BY k",
     [10.0, 10.0, 30.0, 40.0, 40.0]),
    ("SELECT NTH_VALUE(v, 2) FROM FIRST IGNORE NULLS OVER (ORDER BY k "
     "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS r "
     "FROM wv ORDER BY k LIMIT 1", [30.0]),
    ("SELECT MEDIAN(v) OVER (PARTITION BY g) AS r FROM wv ORDER BY k",
     [20.0, 20.0, 20.0, 40.0, 40.0]),
    ("SELECT RATIO_TO_REPORT(v) OVER (PARTITION BY g) AS r FROM wv "
     "ORDER BY k", [0.25, None, 0.75, 1.0, None]),
    ("SELECT g FROM (SELECT g, COUNT(*) AS n FROM wv GROUP BY ALL "
     "QUALIFY ROW_NUMBER() OVER (ORDER BY g) = 1)", ["a"]),
    ("SELECT LISTAGG(g, ',') WITHIN GROUP (ORDER BY k) OVER () AS r "
     "FROM wv ORDER BY k LIMIT 1", ["a,a,a,b,b"]),
]

# FLATTEN over JSON text: dual-mode array/object generator (key, index,
# value all resolvable; object keys canonical-sorted like Snowflake)
FLATTEN_CASES = [
    ("SELECT f.value FROM TABLE(FLATTEN(input => PARSE_JSON('[1,2]'))) f",
     ["1", "2"]),
    ("SELECT f.key FROM TABLE(FLATTEN(input => "
     "PARSE_JSON('{\"b\":2,\"a\":1}'))) f ORDER BY f.key", ["a", "b"]),
    ("SELECT f.value FROM TABLE(FLATTEN(input => "
     "PARSE_JSON('{\"b\":2,\"a\":1}'))) f ORDER BY f.key", ["1", "2"]),
    ("SELECT f.index FROM TABLE(FLATTEN(input => PARSE_JSON('{\"a\":1}'))) f",
     [None]),
    ("SELECT f.value FROM TABLE(FLATTEN(input => "
     "PARSE_JSON('{\"a\":[5,6]}'), path => 'a')) f", ["5", "6"]),
    ("SELECT f.key FROM TABLE(FLATTEN(input => PARSE_JSON('{}'), "
     "outer => TRUE)) f", [None]),
    # leading whitespace before '{' still classifies as an object
    ("SELECT f.key FROM TABLE(FLATTEN(input => "
     "PARSE_JSON('\\n {\"a\": 1}'))) f", ["a"]),
]

AGG_CASES = [
    ("SELECT MEDIAN(v) FROM bt", 20.0),
    ("SELECT REGR_COUNT(v, k) FROM bt", 3),
    ("SELECT APPROX_COUNT_DISTINCT(g) FROM bt", 2),
    ("SELECT HLL(g) FROM bt", 2),
    ("SELECT APPROX_PERCENTILE(v, 0.5) FROM bt", 20.0),
    ("SELECT PERCENTILE_CONT(0.5) WITHIN GROUP (ORDER BY v) FROM bt", 20.0),
    ("SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY v) FROM bt", 20.0),
    ("SELECT COUNT_IF(v > 15) FROM bt", 2),
    ("SELECT MIN_BY(g, v) FROM bt", "a"),
    ("SELECT MAX_BY(g, v) FROM bt", "b"),
    ("SELECT BITAND_AGG(k) FROM bt", 0),
    ("SELECT BITOR_AGG(k) FROM bt", 7),
    ("SELECT BITXOR_AGG(k) FROM bt", 4),
    ("SELECT BOOLAND_AGG(v > 5) FROM bt", True),
    ("SELECT BOOLOR_AGG(v > 25) FROM bt", True),
    ("SELECT ARRAY_AGG(k) WITHIN GROUP (ORDER BY k DESC) FROM bt", [4, 3, 2, 1]),
    # different sort key (struct-sort path): NULL sort keys go highest
    # (ASC last / DESC first), NULL values are dropped like Snowflake
    ("SELECT ARRAY_AGG(k) WITHIN GROUP (ORDER BY v) FROM bt", [1, 2, 3, 4]),
    ("SELECT ARRAY_AGG(k) WITHIN GROUP (ORDER BY v DESC) FROM bt", [4, 3, 2, 1]),
    ("SELECT ARRAY_AGG(v) WITHIN GROUP (ORDER BY k) FROM bt", [10.0, 20.0, 30.0]),
    ("SELECT ARRAY_UNION_AGG(a) FROM (SELECT ARRAY_CONSTRUCT(1,2) a "
     "UNION ALL SELECT ARRAY_CONSTRUCT(2,3))", [1, 2, 3]),
    ("SELECT ARRAY_UNIQUE_AGG(g) FROM bt", ["a", "b"]),
    ("SELECT LISTAGG(DISTINCT g, ',') WITHIN GROUP (ORDER BY g) FROM bt", "a,b"),
]


# round-6a sweep lock: semantic traps where Spark's same-named builtin
# silently differs from Snowflake (the round-6a probe sweep found the first 5)
R6_CASES = [
    # Snowflake GREATEST/LEAST propagate NULL; Spark's skip it
    ("SELECT GREATEST(1, 5, NULL)", ("__NULL__",)),
    ("SELECT LEAST(1, 5, NULL)", ("__NULL__",)),
    ("SELECT GREATEST(1, 5, 3)", 5),
    ("SELECT LEAST('b', 'a', 'c')", "a"),
    ("SELECT GREATEST_IGNORE_NULLS(1, 5, NULL)", 5),
    ("SELECT LEAST_IGNORE_NULLS(4, NULL, 2)", 2),
    ("SELECT GREATEST(k)", None),  # 1-arg form
    # multiset array set-ops (Snowflake cancels per-count; Spark dedups)
    ("SELECT ARRAY_EXCEPT([1,1,2,3], [1])", [1, 2, 3]),
    ("SELECT ARRAY_EXCEPT([1,1,2], [1,1])", [2]),
    ("SELECT ARRAY_EXCEPT([1,2], NULL)", ("__NULL__",)),
    ("SELECT ARRAY_EXCEPT(['a', NULL, 'a'], ['a', NULL])", ["a"]),
    ("SELECT ARRAY_INTERSECTION([1,1,2], [1,1,3])", [1, 1]),
    ("SELECT ARRAY_INTERSECTION([1,2], [2,3])", [2]),
    ("SELECT ARRAY_INTERSECTION([1,2], NULL)", ("__NULL__",)),
    # DECODE — NULL matches NULL (Oracle semantics, both engines)
    ("SELECT DECODE(NULL, 1, 'a', NULL, 'n', 'z')", "n"),
    ("SELECT DECODE(2, 1, 'a', 2, 'b', 'z')", "b"),
    ("SELECT DECODE(9, 1, 'a', 2, 'b')", ("__NULL__",)),
    # higher-order lambdas pass through
    ("SELECT FILTER([1,2,3], a -> a > 1)", [2, 3]),
    ("SELECT TRANSFORM([1,2,3], a -> a * 2)", [2, 4, 6]),
    ("SELECT REDUCE([1,2,3], 0, (acc, a) -> acc + a)", 6),
    # string predicate / LIKE quantifier surface
    ("SELECT STARTSWITH('spark', 'sp')", True),
    ("SELECT CONTAINS('sparkly', 'ark')", True),
    ("SELECT 'spark' LIKE ANY ('sp%', 'x%')", True),
    ("SELECT 'spark' LIKE ALL ('sp%', '%rk')", True),
    ("SELECT 'SPARK' ILIKE ANY ('sp%', 'x%')", True),
    # bitmap distinct-count family (Snowflake bucket layout)
    ("SELECT BITMAP_BUCKET_NUMBER(32768)", 1),
    ("SELECT BITMAP_BUCKET_NUMBER(32769)", 2),
    ("SELECT BITMAP_BIT_POSITION(32768)", 32767),
    ("SELECT BITMAP_COUNT(BITMAP_CONSTRUCT_AGG(BITMAP_BIT_POSITION(k))) "
     "FROM bt", 4),
    # binary conversion family
    ("SELECT HEX_ENCODE(TO_BINARY('48ab'))", "48AB"),
    ("SELECT HEX_ENCODE(TO_BINARY('SGk=', 'BASE64'))", "4869"),
    ("SELECT HEX_ENCODE(TO_BINARY('Hi', 'UTF-8'))", "4869"),
    ("SELECT TRY_TO_BINARY('zz')", ("__NULL__",)),
    # timezone conversion (session pinned UTC)
    ("SELECT CONVERT_TIMEZONE('UTC', 'America/Los_Angeles', "
     "'2024-01-01 12:00:00'::TIMESTAMP_NTZ)", "2024-01-01 04:00:00"),
    ("SELECT CONVERT_TIMEZONE('America/New_York', '2024-06-01 12:00:00')",
     "2024-06-01 08:00:00"),
    # misc numeric/date tail confirmed Spark-native-compatible
    ("SELECT WIDTH_BUCKET(5.35, 0, 10, 5)", 3),
    ("SELECT GETBIT(11, 1)", 1),
    ("SELECT MONTHS_BETWEEN('2024-03-31'::DATE, '2024-02-29'::DATE)", 1.0),
    ("SELECT OBJECT_CONSTRUCT_KEEP_NULL('a', 1, 'b', NULL)",
     '{"a":1,"b":null}'),
]


@pytest.mark.parametrize("sql,expect", R6_CASES, ids=lambda c: str(c)[:48])
def test_r6_semantic_traps(spark, sql, expect):
    if "FROM" not in sql:
        sql = sql + " FROM bt LIMIT 1"
    _check(spark, sql, expect)


# round-6b sweep lock: semi-structured deep seams (multi-row results
# compare the whole first column)
R6B_CASES = [
    ("SELECT f.value FROM TABLE(FLATTEN(input => "
     "PARSE_JSON('{\"a\": [1, 2]}'), path => 'a')) f", ["1", "2"]),
    ("SELECT f.key FROM TABLE(FLATTEN(input => "
     "PARSE_JSON('{\"b\": 1, \"a\": 2}'))) f", ["a", "b"]),
    ("SELECT OBJECT_CONSTRUCT('a', OBJECT_CONSTRUCT('b', 1)) AS r",
     ['{"a":{"b":1}}']),
    ("SELECT TYPEOF(PARSE_JSON('1')) AS r", ["INTEGER"]),
    ("SELECT TYPEOF(PARSE_JSON('[1]')) AS r", ["ARRAY"]),
    ("SELECT TYPEOF(PARSE_JSON('{}')) AS r", ["OBJECT"]),
    ("SELECT IS_NULL_VALUE(PARSE_JSON('null')) AS r", [True]),
    ("SELECT TRY_PARSE_JSON('{bad') AS r", [None]),
    ("SELECT GET_PATH(PARSE_JSON('{\"a\": [{\"b\": 7}]}'), 'a[0].b') AS r",
     ["7"]),
    ("SELECT COUNT(DISTINCT k % 2, k % 3) AS r FROM bt", [4]),
    ("SELECT 5 / 2 AS r", [2.5]),
]


@pytest.mark.parametrize("sql,expect", R6B_CASES, ids=lambda c: str(c)[:48])
def test_r6b_semistructured(spark, sql, expect):
    got = [r[0] for r in spark.sql(t.to_spark(sql)).collect()]
    norm = [round(x, 9) if isinstance(x, float) else x for x in got]
    assert norm == expect, f"{sql}: got {norm}"


@pytest.fixture(scope="module", autouse=True)
def _battery_fixture(spark):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW bt AS SELECT * FROM VALUES "
        "(1, 'a', 10.0), (2, 'a', 20.0), (3, 'b', 30.0), (4, 'b', NULL) "
        "t(k, g, v)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW bt_wide AS SELECT * FROM VALUES "
        "(1, 10, 20), (2, 30, NULL) t(id, jan, feb)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW wv AS SELECT * FROM VALUES "
        "(1, 'a', 10.0), (2, 'a', CAST(NULL AS DOUBLE)), (3, 'a', 30.0), "
        "(4, 'b', 40.0), (5, 'b', CAST(NULL AS DOUBLE)) t(k, g, v)"
    )


def test_unpivot_excludes_nulls(spark):
    rows = spark.sql(t.to_spark(
        "SELECT * FROM bt_wide UNPIVOT (amt FOR month IN (jan, feb)) "
        "ORDER BY id, month"
    )).collect()
    assert [(r.id, r.month, r.amt) for r in rows] == [
        (1, "feb", 20), (1, "jan", 10), (2, "jan", 30),
    ]


def test_unpivot_include_nulls(spark):
    n = spark.sql(t.to_spark(
        "SELECT * FROM bt_wide UNPIVOT INCLUDE NULLS "
        "(amt FOR month IN (jan, feb))"
    )).count()
    assert n == 4


def _check(spark, sql, expect):
    v = spark.sql(t.to_spark(sql)).collect()[0][0]
    if isinstance(v, (datetime.date, datetime.datetime)):
        v = str(v)[:19]
        if isinstance(expect, str):
            v = v[: len(expect)]
    if expect is None:
        return
    if isinstance(expect, tuple):
        if expect == ("__NULL__",):
            assert v is None, f"{sql}: got {v!r}, want NULL"
        else:
            assert v in expect, f"{sql}: got {v!r}, want one of {expect!r}"
        return
    if isinstance(v, float) and isinstance(expect, (int, float)):
        assert abs(v - float(expect)) < 1e-9, f"{sql}: got {v!r} want {expect!r}"
        return
    assert v == expect, f"{sql}: got {v!r} want {expect!r}"


@pytest.mark.parametrize("sql,expect", SCALAR_CASES, ids=lambda c: str(c)[:48])
def test_scalar_surface(spark, sql, expect):
    _check(spark, sql, expect)


@pytest.mark.parametrize("sql,expect", AGG_CASES, ids=lambda c: str(c)[:48])
def test_aggregate_surface(spark, sql, expect):
    _check(spark, sql, expect)


@pytest.mark.parametrize(
    "sql,expect", PIVOT_DEFAULT_CASES, ids=lambda c: str(c)[:48]
)
def test_pivot_default_on_null(spark, sql, expect):
    from dbt_icebreaker_spark.runner import IcebreakerEngine

    eng = IcebreakerEngine(spark, schema="battery_pivd")
    v = eng.execute(sql).collect()[0][0]
    assert abs(float(v) - expect) < 1e-9, f"{sql}: got {v!r}"


def test_pivot_default_transpiler_refuses():
    # the pure string transpiler cannot see absent cells — actionable
    # refusal pointing at the engine
    from dbt_icebreaker_spark.transpiler.core import TranspileError

    with pytest.raises(TranspileError, match="DEFAULT ON NULL"):
        t.to_spark(
            "SELECT * FROM t PIVOT (SUM(v) FOR k IN ('a') "
            "DEFAULT ON NULL (0))"
        )


@pytest.mark.parametrize(
    "sql,expect", FLATTEN_CASES, ids=lambda c: str(c)[:48]
)
def test_flatten_json_text(spark, sql, expect):
    got = [r[0] for r in spark.sql(t.to_spark(sql)).collect()]
    assert got == expect, f"{sql}: got {got}"


@pytest.mark.parametrize(
    "sql,expect", WINDOW_CASES, ids=lambda c: str(c)[:48]
)
def test_window_seams(spark, sql, expect):
    got = [r[0] for r in spark.sql(t.to_spark(sql)).collect()]
    norm = [round(x, 9) if isinstance(x, float) else x for x in got]
    assert norm == expect, f"{sql}: got {norm}"


@pytest.mark.parametrize(
    "sql,expect", NULL_ORDER_CASES, ids=lambda c: str(c)[:48]
)
def test_null_ordering_parity(spark, sql, expect):
    if isinstance(expect, list):
        got = [r[0] for r in spark.sql(t.to_spark(sql)).collect()]
        assert got == expect, f"{sql}: got {got}"
    else:
        _check(spark, sql, expect)


# round-6c sweep lock: implicit coercion + operator seams
R6C_CASES = [
    ("SELECT '05' = 5", True),
    ("SELECT 5 || 'x'", "5x"),
    ("SELECT ('2024-01-01'::DATE + 5)", "2024-01-06"),
    ("SELECT ('2024-01-01'::DATE + INTERVAL '2 DAYS')", "2024-01-03"),
    ("SELECT TRUE::INT", 1),
    ("SELECT TO_BOOLEAN('yes')", True),
    ("SELECT TO_BOOLEAN('0')", False),
    ("SELECT '50%' LIKE '50\\\\%'", True),
    ("SELECT 'a_c' LIKE 'a!_c' ESCAPE '!'", True),
    ("SELECT 7 % -3", 1),
    ("SELECT -7 % 3", -1),
    ("SELECT ROUND(-2.5)", -3),
    ("SELECT NULL <=> NULL", True),
]


@pytest.mark.parametrize("sql,expect", R6C_CASES, ids=lambda c: str(c)[:48])
def test_r6c_coercion_seams(spark, sql, expect):
    _check(spark, sql + " AS r FROM bt LIMIT 1" if "FROM" not in sql
           else sql, expect)


def test_greatest_least_zero_args_refused():
    # r7 (ADVICE): GREATEST()/LEAST() with no arguments used to leave
    # the internal GREATESTN_X placeholder in the emitted SQL — an
    # opaque "undefined function" error instead of an actionable one
    from dbt_icebreaker_spark.transpiler.core import TranspileError

    with pytest.raises(TranspileError, match="at least one argument"):
        t.to_spark("SELECT GREATEST()")
    with pytest.raises(TranspileError, match="at least one argument"):
        t.to_spark("SELECT LEAST()")


R7D_CASES = [
    # r7d function-surface audit: hash-number forms, SHA2 default
    # digest size, Unicode CHR (Spark's chr is mod-256)
    ("SELECT SPACE(3) || 'x'", "   x"),
    ("SELECT MD5_NUMBER_LOWER64('abc') = 15462616177412505458", True),
    ("SELECT MD5_NUMBER_UPPER64('abc') = 10376663631224000432", True),
    ("SELECT SHA2_HEX('abc')",
     "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"),
    ("SELECT SHA2('abc')",
     "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"),
    ("SELECT LENGTH(SHA2('abc', 512))", 128),
    ("SELECT LENGTH(HEX_ENCODE(SHA2_BINARY('abc')))", 64),
    ("SELECT CHR(8364)", "€"),
    ("SELECT CHR(128021)", "🐕"),
    ("SELECT CHR(NULL) IS NULL", True),
    ("SELECT CBRT(27)", 3.0),
    ("SELECT FACTORIAL(5)", 120),
]


@pytest.mark.parametrize("sql,expect", R7D_CASES, ids=lambda c: str(c)[:48])
def test_r7d_function_audit(spark, sql, expect):
    _check(spark, sql, expect)


R7E_CASES = [
    # r7e audit: MAP_* structured-map spellings over the JSON-text
    # model (MAP_CONTAINS_KEY takes key FIRST — Snowflake order)
    ("SELECT MAP_SIZE(OBJECT_CONSTRUCT('a', 1, 'b', 2))", 2),
    ("SELECT MAP_SIZE(CAST(NULL AS STRING)) IS NULL", True),
    ("SELECT MAP_CONTAINS_KEY('a', OBJECT_CONSTRUCT('a', 1))", True),
    ("SELECT MAP_CONTAINS_KEY('z', OBJECT_CONSTRUCT('a', 1))", False),
    ("SELECT MAP_CAT(OBJECT_CONSTRUCT('a',1), OBJECT_CONSTRUCT('b',2))",
     '{"a":1,"b":2}'),
    # duplicate key: map2 wins (Snowflake MAP_CAT)
    ("SELECT MAP_CAT(OBJECT_CONSTRUCT('a',1), OBJECT_CONSTRUCT('a',9))",
     '{"a":9}'),
    ("SELECT MAP_CAT(OBJECT_CONSTRUCT('a',1), CAST(NULL AS STRING)) "
     "IS NULL", True),
    ("SELECT MAP_DELETE(OBJECT_CONSTRUCT('a',1,'b',2), 'a')",
     '{"b":2}'),
    ("SELECT MAP_INSERT(OBJECT_CONSTRUCT('a',1), 'b', 2)",
     '{"a":1,"b":2}'),
    ("SELECT MAP_PICK(OBJECT_CONSTRUCT('a',1,'b',2), 'b')",
     '{"b":2}'),
    ("SELECT AS_DOUBLE(TO_VARIANT(2.5))", 2.5),
    ("SELECT IS_DECIMAL(TO_VARIANT(5))", True),
]


@pytest.mark.parametrize("sql,expect", R7E_CASES, ids=lambda c: str(c)[:48])
def test_r7e_map_family(spark, sql, expect):
    _check(spark, sql, expect)


R7F_CASES = [
    # r7f audit: window-rank, hyperbolic, and conversion spellings —
    # confirmed-native parity locks
    ("SELECT SINH(0) + COSH(0) + TANH(0)", 1.0),
    ("SELECT ASINH(0) + ACOSH(1) + ATANH(0)", 0.0),
    ("SELECT DEGREES(PI())", 180.0),
    ("SELECT RADIANS(180) = PI()", True),
    ("SELECT TRY_TO_DOUBLE('2.5')", 2.5),
    ("SELECT TRY_TO_DOUBLE('zap') IS NULL", True),
    ("SELECT DAYOFYEAR('2026-02-01'::DATE)", 32),
    ("SELECT RPAD('a', 3, '*')", "a**"),
    ("SELECT PERCENT_RANK() OVER (ORDER BY 1)", 0.0),
    ("SELECT CUME_DIST() OVER (ORDER BY 1)", 1.0),
    ("SELECT FIRST_VALUE(5) OVER (ORDER BY 1)", 5),
]


@pytest.mark.parametrize("sql,expect", R7F_CASES, ids=lambda c: str(c)[:48])
def test_r7f_native_parity(spark, sql, expect):
    _check(spark, sql, expect)


def test_system_dollar_functions_blacklisted():
    from dbt_icebreaker_spark.transpiler.core import (
        UnsupportedFunctionError,
    )

    with pytest.raises(UnsupportedFunctionError):
        t.to_spark("SELECT SYSTEM$TYPEOF(1)")


R7G_CASES = [
    # r7g audit: no-underscore *FROMPARTS aliases, the TZ timestamp
    # family, and confirmed-native aggregate locks
    ("SELECT TIMEFROMPARTS(1, 2, 3)::VARCHAR LIKE '%01:02:03%'", True),
    ("SELECT DATEFROMPARTS(2026, 2, 1)::VARCHAR", "2026-02-01"),
    ("SELECT TIMESTAMPFROMPARTS(2026, 1, 2, 3, 4, 5)::VARCHAR",
     "2026-01-02 03:04:05"),
    ("SELECT TO_TIMESTAMP_TZ('2026-01-02 03:04:05') IS NOT NULL", True),
    ("SELECT TRY_TO_TIMESTAMP_TZ('garbage') IS NULL", True),
    ("SELECT ANY_VALUE(7)", 7),
    ("SELECT CORR(x, y) FROM (SELECT 1 x, 2 y UNION ALL "
     "SELECT 2, 4 UNION ALL SELECT 3, 6)", 1.0),
    ("SELECT TIMEDIFF('hour', '2026-01-01 00:00:00'::TIMESTAMP, "
     "'2026-01-01 05:00:00'::TIMESTAMP)", 5),
]


@pytest.mark.parametrize("sql,expect", R7G_CASES, ids=lambda c: str(c)[:48])
def test_r7g_parts_aliases(spark, sql, expect):
    _check(spark, sql, expect)


R7H_CASES = [
    # r7h review fixes: MAP_* values splice as nested objects, the
    # CHAR call synonym is a Unicode code point while CHAR the TYPE
    # stays untouched, MAP_CAT binds operands once
    ("SELECT MAP_INSERT(OBJECT_CONSTRUCT('a',1), 'k', "
     "MAP_DELETE(OBJECT_CONSTRUCT('x',1,'y',2),'y'))",
     '{"a":1,"k":{"x":1}}'),
    ("SELECT OBJECT_INSERT(OBJECT_CONSTRUCT('a',1), 'k', "
     "MAP_CAT(OBJECT_CONSTRUCT('p',1), OBJECT_CONSTRUCT('q',2)))",
     '{"a":1,"k":{"p":1,"q":2}}'),
    ("SELECT CHAR(8364)", "€"),
    ("SELECT UPPER(CHAR(97))", "A"),
    ("SELECT '65'::CHAR(5)", "65"),
    ("SELECT CAST(65 AS CHAR(5)) IS NOT NULL", True),
    ("SELECT MAP_CAT(CAST(NULL AS STRING), OBJECT_CONSTRUCT('a',1)) "
     "IS NULL", True),
]


@pytest.mark.parametrize("sql,expect", R7H_CASES, ids=lambda c: str(c)[:48])
def test_r7h_review_fixes(spark, sql, expect):
    _check(spark, sql, expect)


def test_placeholder_arity_never_keyerror():
    # wrong arg counts surface as SQL-level errors, never raw
    # KeyErrors from the placeholder dispatcher
    for sql in ("SELECT SHA2('x', 256, 1)", "SELECT CHR(1,2)",
                "SELECT MAP_CAT(OBJECT_CONSTRUCT('a',1))",
                "SELECT MAP_SIZE()"):
        try:
            t.to_spark(sql)
        except KeyError as e:  # pragma: no cover - the bug this pins
            raise AssertionError(f"KeyError leaked for {sql}: {e}")
        except Exception:
            pass


def test_map_insert_arity_error_names_map_insert():
    from dbt_icebreaker_spark.transpiler.core import TranspileError

    with pytest.raises(TranspileError, match="MAP_INSERT takes"):
        t.to_spark("SELECT MAP_INSERT(OBJECT_CONSTRUCT('a',1), 'b')")


R7I_CASES = [
    # r7i: Snowflake VECTOR_* kernels (JVM zip_with/aggregate folds,
    # operands bound once) + TO_TEXT alias
    ("SELECT VECTOR_INNER_PRODUCT(ARRAY_CONSTRUCT(1,2,3), "
     "ARRAY_CONSTRUCT(4,5,6))", 32.0),
    ("SELECT VECTOR_L2_DISTANCE(ARRAY_CONSTRUCT(0,0), "
     "ARRAY_CONSTRUCT(3,4))", 5.0),
    ("SELECT ROUND(VECTOR_COSINE_SIMILARITY(ARRAY_CONSTRUCT(1,0), "
     "ARRAY_CONSTRUCT(1,0)), 9)", 1.0),
    ("SELECT ROUND(VECTOR_COSINE_SIMILARITY(ARRAY_CONSTRUCT(1,0), "
     "ARRAY_CONSTRUCT(0,1)), 9)", 0.0),
    # zero vector: NULL (division guard), not an error
    ("SELECT VECTOR_COSINE_SIMILARITY(ARRAY_CONSTRUCT(0,0), "
     "ARRAY_CONSTRUCT(1,1)) IS NULL", True),
    ("SELECT VECTOR_INNER_PRODUCT(CAST(NULL AS ARRAY<DOUBLE>), "
     "ARRAY_CONSTRUCT(1)) IS NULL", True),
    ("SELECT TO_TEXT(42)", "42"),
]


@pytest.mark.parametrize("sql,expect", R7I_CASES, ids=lambda c: str(c)[:48])
def test_r7i_vector_functions(spark, sql, expect):
    _check(spark, sql, expect)


def test_is_date_refuses_with_model_note():
    from dbt_icebreaker_spark.transpiler.core import TranspileError

    with pytest.raises(TranspileError, match="model limitation"):
        t.to_spark("SELECT IS_DATE(v) FROM t")


R7J_CASES = [
    # r7j audit: EDITDISTANCE 3-arg CAPS at max (Spark's thresholded
    # levenshtein returns -1 past it — silent value mismatch, fixed);
    # native-parity locks for the rest of the batch
    ("SELECT EDITDISTANCE('kitten', 'sitting')", 3),
    ("SELECT EDITDISTANCE('kitten', 'sitting', 2)", 2),
    ("SELECT EDITDISTANCE('kitten', 'sitting', 5)", 3),
    ("SELECT EDITDISTANCE('same', 'same', 1)", 0),
    ("SELECT EDITDISTANCE(NULL, 'x') IS NULL", True),
    ("SELECT STARTSWITH('hello', 'he')", True),
    ("SELECT ENDSWITH('hello', 'lo')", True),
    ("SELECT SUBSTRING_INDEX('a.b.c', '.', 2)", "a.b"),
]


@pytest.mark.parametrize("sql,expect", R7J_CASES, ids=lambda c: str(c)[:48])
def test_r7j_editdistance_cap(spark, sql, expect):
    _check(spark, sql, expect)


R8A_CASES = [
    # r8 (r7 judge finding): a NEGATIVE max_distance must clamp to 0
    # (a distance is never negative; the r7j fix echoed the user's
    # negative cap back through coalesce)
    ("SELECT EDITDISTANCE('abc', 'xyz', -5)", 0),
    ("SELECT EDITDISTANCE('abc', 'xyz', -1)", 0),
    ("SELECT EDITDISTANCE('abc', 'xyz', 0)", 0),
    ("SELECT EDITDISTANCE('abc', 'xyz', 1)", 1),
    ("SELECT EDITDISTANCE('abc', 'abc', -3)", 0),
    ("SELECT EDITDISTANCE('kitten', 'sitting', 100)", 3),
    # r8 (r7 ADVICE): CHAR after a scripting statement head is the
    # Unicode-codepoint CALL, not the type (the type slot keeps Spark
    # char semantics — `name CHAR(10)` column definitions untouched)
    ("SELECT CHAR(955)", "λ"),
    ("SELECT CHAR(65)", "A"),
]


@pytest.mark.parametrize("sql,expect", R8A_CASES, ids=lambda c: str(c)[:48])
def test_r8a_fixes(spark, sql, expect):
    _check(spark, sql, expect)


def test_r8a_char_type_slot_untouched():
    # column-definition / cast positions keep CHAR as a TYPE; call
    # positions expand to the Unicode format_string rewrite
    assert "format_string" not in t.to_spark(
        "CREATE TABLE x (name CHAR(10))")
    assert "format_string" not in t.to_spark("SELECT a::CHAR FROM t")
    assert "format_string" in t.to_spark("SELECT CHAR(955)")


R8B_CASES = [
    # r8 name-audit batch (VERDICT r7 task 2): ARRAYS_ZIP — JSON-text
    # array of objects keyed "$1"…"$n" in ARGUMENT order, short arrays
    # pad with null, ANY NULL input → NULL, all-empty → '[]'
    ("SELECT ARRAYS_ZIP(ARRAY_CONSTRUCT(1,2,3), ARRAY_CONSTRUCT('a','b'))",
     '[{"$1":1,"$2":"a"},{"$1":2,"$2":"b"},{"$1":3,"$2":null}]'),
    ("SELECT ARRAYS_ZIP(ARRAY_CONSTRUCT(10,20))",
     '[{"$1":10},{"$1":20}]'),
    ("SELECT ARRAYS_ZIP(ARRAY_CONSTRUCT(1), NULL) IS NULL", True),
    ("SELECT ARRAYS_ZIP(ARRAY_CONSTRUCT(), ARRAY_CONSTRUCT())", "[]"),
    ("SELECT ARRAYS_ZIP(PARSE_JSON('[1,2]'), PARSE_JSON('[\"x\"]'))",
     '[{"$1":1,"$2":"x"},{"$1":2,"$2":null}]'),
    # SEARCH — case-insensitive token membership, ANY query token hits
    ("SELECT SEARCH('The Quick Brown Fox', 'fox')", True),
    ("SELECT SEARCH('The Quick Brown Fox', 'dog')", False),
    ("SELECT SEARCH('hello world', 'dog world cat')", True),
    ("SELECT SEARCH('a-b,c.d', 'c')", True),
    ("SELECT SEARCH('abc def', 'abc', ANALYZER => 'DEFAULT_ANALYZER')",
     True),
    # GENERATOR: TIMELIMIT alongside ROWCOUNT honors ROWCOUNT
    ("SELECT COUNT(*) FROM TABLE(GENERATOR(ROWCOUNT => 10, "
     "TIMELIMIT => 60))", 10),
]


@pytest.mark.parametrize("sql,expect", R8B_CASES, ids=lambda c: str(c)[:48])
def test_r8b_audit_batch(spark, sql, expect):
    _check(spark, sql, expect)


def test_r8b_search_multicolumn(spark):
    rows = spark.sql(t.to_spark(
        "SELECT SEARCH((c1, c2), 'beta') AS s FROM VALUES "
        "('alpha','beta gamma'), ('x','y') t(c1, c2)")).collect()
    assert [r.s for r in rows] == [True, False]


def test_r8b_search_unsupported_analyzer_refuses():
    from dbt_icebreaker_spark.transpiler.core import TranspileError

    with pytest.raises(TranspileError, match="ANALYZER"):
        t.to_spark("SELECT SEARCH('a', 'b', ANALYZER => 'NO_OP_ANALYZER')")


def test_r8b_generator_timelimit_alone_refuses():
    from dbt_icebreaker_spark.transpiler.core import TranspileError

    with pytest.raises(TranspileError, match="TIMELIMIT"):
        t.to_spark("SELECT * FROM TABLE(GENERATOR(TIMELIMIT => 60))")


class TestToQueryR8:
    def test_basic_splice(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT * FROM TABLE(TO_QUERY('SELECT 1 AS a, 2 AS b'))"
        )).collect()
        assert (rows[0].a, rows[0].b) == (1, 2)

    def test_binds_substitute(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT * FROM TABLE(TO_QUERY('SELECT :x AS a, :nm AS b', "
            "x => 42, nm => 'hi'))")).collect()
        assert (rows[0].a, rows[0].b) == (42, "hi")

    def test_inner_template_is_snowflake_dialect(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT * FROM TABLE(TO_QUERY("
            "'SELECT IFF(1 > 0, ''yes'', ''no'') AS v'))")).collect()
        assert rows[0].v == "yes"

    def test_alias_and_outer_where(self, spark):
        rows = spark.sql(t.to_spark(
            "SELECT tq.a FROM TABLE(TO_QUERY("
            "'SELECT 1 AS a UNION ALL SELECT 2')) tq "
            "WHERE tq.a > 1")).collect()
        assert [r.a for r in rows] == [2]

    def test_non_literal_refuses(self):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="LITERAL"):
            t.to_spark("SELECT * FROM TABLE(TO_QUERY(col1))")

    def test_unreferenced_bind_refuses(self):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="no :p reference"):
            t.to_spark("SELECT * FROM TABLE(TO_QUERY('SELECT 1', p => 2))")

    def test_outside_table_refuses(self):
        from dbt_icebreaker_spark.transpiler.core import TranspileError

        with pytest.raises(TranspileError, match="table function"):
            t.to_spark("SELECT TO_QUERY('SELECT 1')")


R8C_CASES = [
    # r8 sweep lock-ins (the round-8a probe sweep + adversarial
    # probes): EDITDISTANCE NULL cap must propagate NULL (greatest()
    # skips NULLs — the nvl2 guard), runtime-negative caps clamp to 0
    ("SELECT EDITDISTANCE('ab', 'cd', NULL) IS NULL", True),
    ("SELECT EDITDISTANCE('abc', 'xyz', 1 - 4)", 0),
    # ARRAYS_ZIP keeps $10 AFTER $9 (argument order, never sorted)
    ("SELECT ARRAYS_ZIP(" + ", ".join(
        f"ARRAY_CONSTRUCT({i})" for i in range(1, 11)) + ")",
     '[{"$1":1,"$2":2,"$3":3,"$4":4,"$5":5,"$6":6,"$7":7,"$8":8,'
     '"$9":9,"$10":10}]'),
    # SEARCH NULL/empty propagation; whole-token match only
    ("SELECT SEARCH('abc', NULL) IS NULL", True),
    ("SELECT SEARCH(NULL, 'abc') IS NULL", True),
    ("SELECT SEARCH('abc', '')", False),
    ("SELECT SEARCH(12345, '345')", False),
    ("SELECT SEARCH('a 12345 b', '12345')", True),
]


@pytest.mark.parametrize("sql,expect", R8C_CASES, ids=lambda c: str(c)[:48])
def test_r8c_sweep_lockins(spark, sql, expect):
    _check(spark, sql, expect)


def test_r8c_to_query_bind_not_substituted_in_strings(spark):
    # Snowflake parses :binds — a ':x' inside a template STRING LITERAL
    # survives verbatim (r8 sweep finding: text substitution corrupted
    # it to '9 literal')
    rows = spark.sql(t.to_spark(
        "SELECT * FROM TABLE(TO_QUERY("
        "'SELECT '':x literal'' AS a, :x AS b', x => 9))")).collect()
    assert (rows[0].a, rows[0].b) == (":x literal", 9)


def test_r8c_to_query_nested_templates(spark):
    rows = spark.sql(t.to_spark(
        "SELECT * FROM TABLE(TO_QUERY('SELECT * FROM TABLE(TO_QUERY("
        "''SELECT 5 AS v''))'))")).collect()
    assert rows[0].v == 5


def test_r8c_to_query_bind_prefix_no_collision(spark):
    rows = spark.sql(t.to_spark(
        "SELECT * FROM TABLE(TO_QUERY('SELECT :xy AS a, :x AS b', "
        "xy => 1, x => 2))")).collect()
    assert (rows[0].a, rows[0].b) == (1, 2)


R8D_CASES = [
    # r8 code-review lock-ins: EDITDISTANCE NULL STRING args must
    # propagate NULL in the 3-arg form too (levenshtein's NULL was
    # being coalesced into the cap — silent wrong answer)
    ("SELECT EDITDISTANCE(NULL, 'abc', 5) IS NULL", True),
    ("SELECT EDITDISTANCE('abc', NULL, 5) IS NULL", True),
    # compound-expression binds keep their precedence (parenthesized
    # splice): 9, not 1 + 2*3 = 7
    ("SELECT a FROM TABLE(TO_QUERY('SELECT :q * 3 AS a', q => 1 + 2))",
     9),
]


@pytest.mark.parametrize("sql,expect", R8D_CASES, ids=lambda c: str(c)[:48])
def test_r8d_review_lockins(spark, sql, expect):
    _check(spark, sql, expect)


def test_r8d_char_type_after_unreserved_word():
    out = t.to_spark("CREATE TABLE t3 (until CHAR(10), elseif CHAR(2))")
    assert "format_string" not in out


def test_r8d_to_query_empty_args_refuses():
    from dbt_icebreaker_spark.transpiler.core import TranspileError

    with pytest.raises(TranspileError, match="LITERAL"):
        t.to_spark("SELECT * FROM TABLE(TO_QUERY())")


def test_r8d_to_query_bind_after_comment_apostrophe(spark):
    # "-- don't" must not open a pseudo-string that swallows the bind
    rows = spark.sql(t.to_spark(
        "SELECT * FROM TABLE(TO_QUERY('SELECT 1 AS a -- don''t touch\n"
        " , :x AS b', x => 5))")).collect()
    assert (rows[0].a, rows[0].b) == (1, 5)


def test_r8d_to_query_json_path_colon_not_a_bind(spark):
    # col:field json paths inside a template are paths, not binds
    rows = spark.sql(t.to_spark(
        "SELECT * FROM TABLE(TO_QUERY("
        "'SELECT PARSE_JSON(''{\"f\":7}''):f::INT AS a, :f AS b', "
        "f => 1))")).collect()
    assert (rows[0].a, rows[0].b) == (7, 1)


R8E_CASES = [
    # r8 second name-audit batch: RANDOM is a full-range 64-bit
    # INTEGER in Snowflake (Spark rand() is a [0,1) double — silent
    # type/range mismatch); seeded form is deterministic
    ("SELECT RANDOM() BETWEEN -9223372036854775808 AND "
     "9223372036854775807", True),
    ("SELECT RANDOM(42) = RANDOM(42)", True),
    ("SELECT ABS(RANDOM(7)) > 4294967296", True),  # far beyond [0,1)
    # UNIFORM still extracts the seed from the renamed RANDOM arg
    ("SELECT UNIFORM(1, 10, RANDOM(7)) BETWEEN 1 AND 10", True),
    ("SELECT UNIFORM(0.0, 1.0, RANDOM(7)) BETWEEN 0.0 AND 1.0", True),
    # MIN_BY/MAX_BY 3-arg top-n ARRAY form, best-first, NULL order
    # values ignored; 2-arg stays native
    ("SELECT MAX_BY(a, b, 2) FROM VALUES ('x',2),('y',1),('z',3) "
     "t(a,b)", ["z", "x"]),
    ("SELECT MIN_BY(a, b, 2) FROM VALUES ('x',2),('y',1),('z',3) "
     "t(a,b)", ["y", "x"]),
    ("SELECT MAX_BY(a, b, 5) FROM VALUES ('x',2),('y',NULL),('z',3) "
     "t(a,b)", ["z", "x"]),
    ("SELECT MIN_BY(a, b) FROM VALUES ('x',2),('y',1) t(a,b)", "y"),
    # natives confirmed by this batch's probe (regr_*, octet/bit
    # length, cot, months_between, getbit, factorial, to_binary)
    ("SELECT REGR_SLOPE(y, x) FROM VALUES (1.0,2.0),(2.0,4.0),"
     "(3.0,6.0) t(x,y)", 2.0),
    ("SELECT REGR_INTERCEPT(y, x) FROM VALUES (1.0,3.0),(2.0,5.0),"
     "(3.0,7.0) t(x,y)", 1.0),
    ("SELECT REGR_R2(y, x) FROM VALUES (1.0,2.0),(2.0,4.0),(3.0,6.0) "
     "t(x,y)", 1.0),
    ("SELECT REGR_COUNT(y, x) FROM VALUES (1.0,2.0),(NULL,4.0) t(x,y)",
     1),
    ("SELECT OCTET_LENGTH('λab')", 4),
    ("SELECT BIT_LENGTH('ab')", 16),
    ("SELECT ROUND(COT(1.0), 6)", 0.642093),
    ("SELECT MONTHS_BETWEEN('2024-03-15'::DATE, '2024-01-15'::DATE)",
     2.0),
    ("SELECT GETBIT(11, 1)", 1),
    ("SELECT FACTORIAL(5)", 120),
    ("SELECT CAST(TO_BINARY('6162') AS STRING)", "ab"),
    ("SELECT CAST(TO_BINARY('ab', 'UTF-8') AS STRING)", "ab"),
    ("SELECT TRY_TO_BINARY('zz') IS NULL", True),
    ("SELECT LEN('abc')", 3),
    ("SELECT SYSDATE() IS NOT NULL", True),
    ("SELECT BITMAP_COUNT(BITMAP_CONSTRUCT_AGG("
     "BITMAP_BIT_POSITION(n))) FROM VALUES (1),(2),(1) t(n)", 2),
]


@pytest.mark.parametrize("sql,expect", R8E_CASES, ids=lambda c: str(c)[:48])
def test_r8e_second_audit_batch(spark, sql, expect):
    _check(spark, sql, expect)


R8F_CASES = [
    # r8 third name-audit batch: HASH is a 64-bit BIGINT hash
    # (xxhash64 — Spark's hash() is 32-bit murmur); stable per session
    ("SELECT HASH(42) = HASH(42)", True),
    ("SELECT ABS(HASH(42)) > 4294967296", True),  # beyond 32-bit range
    ("SELECT HASH(1, 'a') IS NOT NULL", True),
    # APPROX_TOP_K renders Snowflake's [[item, count], …] JSON shape
    # with numeric items bare and string items quoted
    ("SELECT APPROX_TOP_K(v, 2) FROM VALUES (1),(1),(2),(3) t(v)",
     "[[1,2],[2,1]]"),
    ("SELECT APPROX_TOP_K(v, 1) FROM VALUES ('a'),('a'),('b') t(v)",
     '[["a",2]]'),
    # natives confirmed by this batch's probe
    ("SELECT MODE(v) FROM VALUES (1),(2),(2) t(v)", 2),
    ("SELECT VARIANCE_SAMP(v) FROM VALUES (1.0),(2.0),(3.0) t(v)", 1.0),
    ("SELECT VARIANCE_POP(v) FROM VALUES (1.0),(2.0),(4.0) t(v)",
     1.5555555555555556),
    ("SELECT BITAND_AGG(v) FROM VALUES (12),(10) t(v)", 8),
    ("SELECT BITOR_AGG(v) FROM VALUES (12),(10) t(v)", 14),
    ("SELECT BITXOR_AGG(v) FROM VALUES (12),(10) t(v)", 6),
    ("SELECT STRIP_NULL_VALUE(PARSE_JSON('null')) IS NULL", True),
    ("SELECT CEIL(3.14159, 2)::DOUBLE", 3.15),
    ("SELECT FLOOR(3.14159, 3)::DOUBLE", 3.141),
    ("SELECT TRY_TO_TIMESTAMP_NTZ('not a ts') IS NULL", True),
    ("SELECT 'abc' ILIKE ANY ('AB%', 'x')", True),
]


@pytest.mark.parametrize("sql,expect", R8F_CASES, ids=lambda c: str(c)[:48])
def test_r8f_third_audit_batch(spark, sql, expect):
    _check(spark, sql, expect)


def test_r8f_encrypt_refuses_actionably():
    from dbt_icebreaker_spark.transpiler.core import TranspileError

    for fn in ("ENCRYPT('d', 'p')", "DECRYPT(c, 'p')",
               "ENCRYPT_RAW(a, b, c)"):
        with pytest.raises(TranspileError, match="encryption|ENCRYPT"):
            t.to_spark(f"SELECT {fn} FROM t")


R8G_CASES = [
    # r8 fourth audit batch: deployment-context functions render NULL
    # (no org/role/policy concept locally — same rationale as
    # CURRENT_WAREHOUSE); LAST_TRANSACTION → NULL like
    # CURRENT_TRANSACTION
    ("SELECT CURRENT_ORGANIZATION_NAME() IS NULL", True),
    ("SELECT INVOKER_ROLE() IS NULL", True),
    ("SELECT IS_ROLE_IN_SESSION('SYSADMIN') IS NULL", True),
    ("SELECT LAST_TRANSACTION() IS NULL", True),
    # boolean NULL, usable as a predicate (a string NULL fails
    # FILTER_NOT_BOOLEAN — r8 review)
    ("SELECT COUNT(*) FROM (SELECT 1 AS x) "
     "WHERE IS_ROLE_IN_SESSION('ANALYST')", 0),
]


@pytest.mark.parametrize("sql,expect", R8G_CASES, ids=lambda c: str(c)[:48])
def test_r8g_context_functions(spark, sql, expect):
    _check(spark, sql, expect)


def test_r8g_policy_context_refuses_actionably():
    from dbt_icebreaker_spark.transpiler.core import TranspileError

    with pytest.raises(TranspileError, match="POLICY_CONTEXT"):
        t.to_spark("SELECT POLICY_CONTEXT()")


def test_r8g_zero_arg_context_fn_arity_still_errors():
    # CURRENT_ROLE('x') is invalid Snowflake — the bogus argument must
    # surface an error, not silently render NULL (r8 review)
    with pytest.raises(Exception):
        t.to_spark("SELECT CURRENT_ROLE('x')")


# ---------------------------------------------------------------- r11
# TO_NUMBER family, every documented arity (the round-10 judge probe
# `TO_NUMBER('1,234.56','9,999.99',10,2)` died raw). String-cast so
# Decimal scale is part of the lock.
R11_TO_NUMBER_CASES = [
    ("SELECT TO_NUMBER('1,234.56', '9,999.99', 10, 2)::STRING",
     "1234.56"),
    ("SELECT TO_NUMBER('1,234.56', '9,999.99', 10)::STRING", "1235"),
    ("SELECT TO_NUMBER('1,234.56', '9,999.99')::STRING", "1234.56"),
    ("SELECT TO_NUMBER('42')::STRING", "42"),
    ("SELECT TO_NUMBER('12.5', 10, 1)::STRING", "12.5"),
    ("SELECT TRY_TO_NUMBER('bogus', '9,999.99', 10, 2)", ("__NULL__",)),
    ("SELECT TRY_TO_NUMBER('1,234.567', '9,999.999', 10, 2)::STRING",
     "1234.57"),   # rounds to the target scale like Snowflake
    ("SELECT TO_DECIMAL('$12.34', '$99.99', 6, 2)::STRING", "12.34"),
    ("SELECT TRY_TO_DECIMAL('$12.34', '$99.99', 6, 2)::STRING",
     "12.34"),
    ("SELECT TO_NUMERIC('1,234', '9,999', 8, 0)::STRING", "1234"),
]


@pytest.mark.parametrize("sql,expect", R11_TO_NUMBER_CASES,
                         ids=lambda c: str(c)[:48])
def test_r11_to_number_arities(spark, sql, expect):
    _check(spark, sql, expect)


def test_r11_to_number_4arg_without_format_refuses():
    from dbt_icebreaker_spark.transpiler.core import TranspileError

    with pytest.raises(TranspileError, match="format"):
        t.to_spark("SELECT TO_NUMBER('1', 2, 3, 4)")


def test_r11_to_number_4arg_type_is_decimal(spark):
    df = spark.sql(t.to_spark(
        "SELECT TO_NUMBER('1,234.56', '9,999.99', 10, 2) AS v"))
    assert df.schema["v"].dataType.simpleString() == "decimal(10,2)"


# ---------------------------------------------------------------- r11b
# Edge-arity probe fixes: case-insensitive datetime format elements
# (Snowflake 'mm' means MONTH — it passed through as java minutes, a
# silent wrong answer), 2-arg TO_DOUBLE(expr, fmt), SPLIT_PART part 0.
R11B_CASES = [
    ("SELECT TO_CHAR(TIMESTAMP '2024-03-05 13:04:05', "
     "'DD Mon YYYY HH24:MI')", "05 Mar 2024 13:04"),
    ("SELECT TO_CHAR(DATE '2024-03-05', 'yyyy/mm/dd')", "2024/03/05"),
    ("SELECT TO_DATE('05/03/2024', 'dd/mm/yyyy')", "2024-03-05"),
    ("SELECT TO_CHAR(TIMESTAMP '2024-03-05 13:04:05.123', "
     "'HH24:MI:SS.FF3')", "13:04:05.123"),
    ("SELECT TO_CHAR(DATE '2024-03-05', 'Dy DD Mon')", "Tue 05 Mar"),
    ("SELECT TO_CHAR(DATE '2024-03-05', 'MMMM')", "March"),
    ("SELECT TO_DOUBLE('1,234.5', '9,999.9')", 1234.5),
    ("SELECT TRY_TO_DOUBLE('x', '9,999.9')", ("__NULL__",)),
    ("SELECT SPLIT_PART('a|b|c', '|', 0)", "a"),   # 0 means 1
    ("SELECT SPLIT_PART('a|b|c', '|', 1)", "a"),
    ("SELECT SPLIT_PART('a|b|c', '|', -1)", "c"),
]


@pytest.mark.parametrize("sql,expect", R11B_CASES,
                         ids=lambda c: str(c)[:48])
def test_r11b_edge_arities(spark, sql, expect):
    _check(spark, sql, expect)


def test_r11b_split_part_dynamic_zero(spark):
    v = spark.sql(t.to_spark(
        "SELECT SPLIT_PART('a|b|c', '|', n) FROM (SELECT 0 AS n)"
    )).collect()[0][0]
    assert v == "a"


# ---------------------------------------------------------------- r12
# TO_DATE/TO_TIMESTAMP PARSE direction for digit-leading inputs
# (r11 verdict What's-wrong #1): the VARIANT unwrap used a blanket
# COALESCE(get_json_object(x,'$'), x), but get_json_object parses JSON
# *prefixes* — get_json_object('15 Jan 2024','$') = '15' — so day-first
# formats fed a truncated input to to_date and crashed. The unwrap now
# classifies literals at transpile time and guards expressions with a
# LIKE '"%' quoted-scalar check. These lock the PARSE direction, which
# the r11 battery only covered via TO_CHAR (output).
R12_DATE_PARSE_CASES = [
    ("SELECT TO_DATE('15 Jan 2024', 'DD Mon YYYY')", "2024-01-15"),
    ("SELECT TO_DATE('05 January 2024', 'DD MMMM YYYY')", "2024-01-05"),
    ("SELECT TO_TIMESTAMP('15 Jan 2024 10:30:45', "
     "'DD Mon YYYY HH24:MI:SS')", "2024-01-15 10:30:45"),
    ("SELECT TO_DATE('15', 'DD')", "1970-01-15"),
    ("SELECT TO_DATE('15/01/2024', 'DD/MM/YYYY')", "2024-01-15"),
    # quoted-JSON (VARIANT text) scalars still unwrap:
    ("SELECT TO_DATE(PARSE_JSON('\"2024-01-15\"'))", "2024-01-15"),
    ("SELECT TO_TIMESTAMP(PARSE_JSON('\"2024-01-15 10:30:45\"'))",
     "2024-01-15 10:30:45"),
    # epoch-like string — 1-arg TO_TIMESTAMP seconds semantics survive:
    ("SELECT TO_TIMESTAMP('1700000000')", None),
    # plain ISO literal (regression guard for the happy path):
    ("SELECT TO_DATE('2024-01-15')", "2024-01-15"),
    ("SELECT TRY_TO_DATE('nope', 'DD Mon YYYY')", ("__NULL__",)),
]


@pytest.mark.parametrize("sql,expect", R12_DATE_PARSE_CASES,
                         ids=lambda c: str(c)[:48])
def test_r12_date_parse_direction(spark, sql, expect):
    _check(spark, sql, expect)


def test_r12_date_parse_column_expr(spark):
    # non-literal input through the runtime quoted-scalar guard: a
    # plain string column must NOT be prefix-truncated, a quoted-JSON
    # column must unwrap.
    rows = spark.sql(t.to_spark(
        "SELECT TO_DATE(s, 'DD Mon YYYY') AS d FROM "
        "(SELECT '15 Jan 2024'::string AS s)"
    )).collect()
    assert str(rows[0][0]) == "2024-01-15"
    rows = spark.sql(t.to_spark(
        "SELECT TO_DATE(TO_VARIANT('2024-01-15')::string) AS d"
    )).collect()
    assert str(rows[0][0]) == "2024-01-15"


# ---------------------------------------------------------------- r12b
# NTH_VALUE … FROM LAST (r11 verdict Missing #3: previously refused)
# and Snowflake's default frame for the value-window family — their
# default is the ENTIRE window (ROWS BETWEEN UNBOUNDED PRECEDING AND
# UNBOUNDED FOLLOWING), unlike Spark/ANSI's cumulative default, so
# default-frame LAST_VALUE/NTH_VALUE were silent wrong answers. All
# over wv2(k, v) = (1,10.0),(2,NULL),(3,30.0),(4,40.0),(5,NULL).
@pytest.fixture(scope="module")
def wv2(spark):
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW wv2 AS SELECT * FROM VALUES "
        "(1,10.0),(2,NULL),(3,30.0),(4,40.0),(5,NULL) AS t(k,v)"
    )
    return "wv2"


R12B_VW_CASES = [
    # from-last counting over the full default frame
    ("SELECT NTH_VALUE(v,2) FROM LAST OVER (ORDER BY k) AS r "
     "FROM wv2 ORDER BY k", [40.0] * 5),
    ("SELECT NTH_VALUE(v,2) FROM LAST IGNORE NULLS OVER (ORDER BY k) "
     "AS r FROM wv2 ORDER BY k", [30.0] * 5),
    ("SELECT NTH_VALUE(v,2) FROM FIRST OVER (ORDER BY k) AS r "
     "FROM wv2 ORDER BY k", [None] * 5),
    # FROM LAST with an explicit bounded frame (mirrored): frame
    # [k-1, k+1], 1st-from-last = last row of the frame
    ("SELECT NTH_VALUE(v,1) FROM LAST OVER (ORDER BY k ROWS BETWEEN "
     "1 PRECEDING AND 1 FOLLOWING) AS r FROM wv2 ORDER BY k",
     [None, 30.0, 40.0, None, None]),
    # FROM LAST over a named window (inlined per call site)
    ("SELECT NTH_VALUE(v,2) FROM LAST OVER w AS r FROM wv2 "
     "WINDOW w AS (ORDER BY k) ORDER BY k", [40.0] * 5),
    # Snowflake default frame: LAST_VALUE = partition-last
    ("SELECT LAST_VALUE(v) OVER (ORDER BY k) AS r FROM wv2 "
     "ORDER BY k", [None] * 5),
    ("SELECT LAST_VALUE(v) IGNORE NULLS OVER (ORDER BY k) AS r "
     "FROM wv2 ORDER BY k", [40.0] * 5),
    # explicit cumulative frame is preserved
    ("SELECT LAST_VALUE(v) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED "
     "PRECEDING AND CURRENT ROW) AS r FROM wv2 ORDER BY k",
     [10.0, None, 30.0, 40.0, None]),
    # named window shared with LAG: the value call inlines + injects
    # the full frame, LAG keeps the untouched named definition
    ("SELECT LAST_VALUE(v) OVER w AS r FROM wv2 "
     "WINDOW w AS (ORDER BY k) ORDER BY k", [None] * 5),
    ("SELECT LAG(v) OVER w AS r FROM wv2 "
     "WINDOW w AS (ORDER BY k) ORDER BY k",
     [None, 10.0, None, 30.0, 40.0]),
]


@pytest.mark.parametrize("sql,want", R12B_VW_CASES,
                         ids=lambda c: str(c)[:48])
def test_r12b_value_window_frames(spark, wv2, sql, want):
    got = [r["r"] for r in spark.sql(t.to_spark(sql)).collect()]
    assert got == want, f"{sql}: got {got!r} want {want!r}"


def test_r12b_from_last_needs_order_by():
    from dbt_icebreaker_spark.transpiler.core import TranspileError

    with pytest.raises(TranspileError, match="ORDER BY"):
        t.to_spark("SELECT NTH_VALUE(v,2) FROM LAST OVER "
                   "(PARTITION BY g) FROM t")


# ---------------------------------------------------------------- r12c
# Full quantified-comparison matrix (r11 verdict Missing #4 + advisor
# medium): inequality-ALL (previously refused), = ALL / <> ANY, and
# the truth-preserving inequality-ANY CASE — exact in all three logic
# values including NOT() contexts, empty subqueries, and NULL
# elements. Differential-validated 384 combinations vs DuckDB's
# native quantified evaluation; these pin the corner cases.
_QSUB_PLAIN = "SELECT v FROM (VALUES (1),(5),(9)) s(v)"
_QSUB_NULL = "SELECT v FROM (VALUES (1),(NULL),(9)) s(v)"
_QSUB_EMPTY = "SELECT v FROM (VALUES (1),(2)) s(v) WHERE v > 99"

R12C_QUANT_CASES = [
    # inequality ALL (the previously-refused forms)
    (f"SELECT 10 > ALL ({_QSUB_PLAIN}) AS r", True),
    (f"SELECT 5 > ALL ({_QSUB_PLAIN}) AS r", False),
    (f"SELECT 10 > ALL ({_QSUB_EMPTY}) AS r", True),       # empty → TRUE
    (f"SELECT 10 > ALL ({_QSUB_NULL}) AS r", ("__NULL__",)),  # NULL elem
    (f"SELECT 0 > ALL ({_QSUB_NULL}) AS r", False),  # failing elem wins
    (f"SELECT 0 <= ALL ({_QSUB_PLAIN}) AS r", True),
    (f"SELECT CAST(NULL AS INT) > ALL ({_QSUB_PLAIN}) AS r",
     ("__NULL__",)),
    (f"SELECT CAST(NULL AS INT) > ALL ({_QSUB_EMPTY}) AS r", True),
    # inequality ANY: UNKNOWN (not FALSE) when unsatisfied + NULL elem
    (f"SELECT 0 > ANY ({_QSUB_NULL}) AS r", ("__NULL__",)),
    (f"SELECT 2 > ANY ({_QSUB_NULL}) AS r", True),
    (f"SELECT 0 > ANY ({_QSUB_PLAIN}) AS r", False),
    (f"SELECT 0 > ANY ({_QSUB_EMPTY}) AS r", False),        # empty → FALSE
    # the advisor's NOT-context case: NOT(UNKNOWN) must stay UNKNOWN
    (f"SELECT NOT (0 > ANY ({_QSUB_NULL})) AS r", ("__NULL__",)),
    (f"SELECT NOT (0 > ANY ({_QSUB_PLAIN})) AS r", True),
    # = ALL / <> ANY (previously refused)
    ("SELECT 5 = ALL (SELECT v FROM (VALUES (5),(5)) s(v)) AS r", True),
    (f"SELECT 5 = ALL ({_QSUB_PLAIN}) AS r", False),
    (f"SELECT 5 = ALL ({_QSUB_EMPTY}) AS r", True),
    ("SELECT 5 = ALL (SELECT v FROM (VALUES (5),(NULL)) s(v)) AS r",
     ("__NULL__",)),
    (f"SELECT 5 <> ANY ({_QSUB_PLAIN}) AS r", True),
    ("SELECT 5 <> ANY (SELECT v FROM (VALUES (5),(5)) s(v)) AS r",
     False),
    (f"SELECT 5 <> ANY ({_QSUB_EMPTY}) AS r", False),
    ("SELECT 5 <> ANY (SELECT v FROM (VALUES (5),(NULL)) s(v)) AS r",
     ("__NULL__",)),
    # compound left operand captured back to the clause boundary
    (f"SELECT 4 + 6 > ALL ({_QSUB_PLAIN}) AS r", True),
]


@pytest.mark.parametrize("sql,expect", R12C_QUANT_CASES,
                         ids=lambda c: str(c)[:48])
def test_r12c_quantified_matrix(spark, sql, expect):
    _check(spark, sql, expect)


# ---------------------------------------------------------------- r12d
# Lenient-width PARSE formats: Snowflake accepts single-digit field
# values ('5 January 2024' satisfies DD); java double-letter patterns
# require exact width in strict mode, so the parse direction now
# converts to single-letter (1..max digit) patterns — but ONLY when
# every element pair is separator-delimited (adjacent formats like
# DDMMYYYY keep fixed widths for java's adjacency parsing). The
# format (output) direction keeps zero-padded widths.
R12D_LENIENT_CASES = [
    ("SELECT TO_DATE('5 January 2024', 'DD MMMM YYYY')", "2024-01-05"),
    ("SELECT TO_DATE('5/3/2024', 'DD/MM/YYYY')", "2024-03-05"),
    ("SELECT TO_DATE('05/03/2024', 'DD/MM/YYYY')", "2024-03-05"),
    ("SELECT TO_TIMESTAMP('5 Jan 2024 9:5:7', "
     "'DD Mon YYYY HH24:MI:SS')", "2024-01-05 09:05:07"),
    # adjacent elements stay fixed-width (and still parse 2-digit)
    ("SELECT TO_DATE('05032024', 'DDMMYYYY')", "2024-03-05"),
    # output direction stays zero-padded
    ("SELECT TO_CHAR(DATE '2024-03-05', 'DD/MM/YYYY')", "05/03/2024"),
    ("SELECT TO_CHAR(TIMESTAMP '2024-03-05 09:05:07', "
     "'HH24:MI:SS')", "09:05:07"),
    ("SELECT TRY_TO_DATE('5 Jan 2024', 'DD Mon YYYY')", "2024-01-05"),
    ("SELECT TRY_TO_DATE('nope', 'DD Mon YYYY')", ("__NULL__",)),
]


@pytest.mark.parametrize("sql,expect", R12D_LENIENT_CASES,
                         ids=lambda c: str(c)[:48])
def test_r12d_lenient_parse_formats(spark, sql, expect):
    _check(spark, sql, expect)


def test_r12c_case_left_operand(spark):
    # CASE … END as the quantified comparison's left operand is
    # captured wholesale (balanced CASE/END walk), including inside
    # additive chains; a quantified INSIDE a CASE branch still works
    for sql, want in [
        ("SELECT CASE WHEN 1=1 THEN 10 ELSE 0 END > ALL "
         "(SELECT v FROM (VALUES (1),(5)) s(v)) AS r", True),
        ("SELECT 1 + CASE WHEN 1=1 THEN 9 ELSE 0 END > ALL "
         "(SELECT v FROM (VALUES (1),(5)) s(v)) AS r", True),
        ("SELECT CASE WHEN 2 > ALL (SELECT v FROM (VALUES (1)) s(v)) "
         "THEN 'y' ELSE 'n' END AS r", "y"),
    ]:
        got = spark.sql(t.to_spark(sql)).collect()[0][0]
        assert got == want, (sql, got)


def test_r12b_modifier_orders_equal(spark, wv2):
    # Snowflake accepts either modifier order around NTH_VALUE
    a = [r[0] for r in spark.sql(t.to_spark(
        "SELECT NTH_VALUE(v,2) IGNORE NULLS FROM LAST OVER "
        "(ORDER BY k) AS r FROM wv2 ORDER BY k")).collect()]
    b = [r[0] for r in spark.sql(t.to_spark(
        "SELECT NTH_VALUE(v,2) FROM LAST IGNORE NULLS OVER "
        "(ORDER BY k) AS r FROM wv2 ORDER BY k")).collect()]
    assert a == b and float(a[0]) == 30.0


# quoted literal sections in format models: Snowflake "T" → java 'T'
# (the ISO-8601 timestamp shape); quoted text is never element-scanned
R12E_QUOTED_FMT_CASES = [
    ("SELECT TO_TIMESTAMP('2024-01-15T10:30:45', "
     "'YYYY-MM-DD\"T\"HH24:MI:SS')", "2024-01-15 10:30:45"),
    ("SELECT TO_CHAR(TIMESTAMP '2024-01-15 10:30:45', "
     "'YYYY-MM-DD\"T\"HH24:MI:SS')", "2024-01-15T10:30:45"),
    # pattern letters inside quotes stay literal text
    ("SELECT TO_CHAR(DATE '2024-01-15', '\"DD is\" DD')", "DD is 15"),
]


@pytest.mark.parametrize("sql,expect", R12E_QUOTED_FMT_CASES,
                         ids=lambda c: str(c)[:48])
def test_r12e_quoted_format_literals(spark, sql, expect):
    _check(spark, sql, expect)


# ---------------------------------------------------------------- r12f
# Date-unit spelling surface: Snowflake accepts bare-word AND quoted
# units in singular/plural/abbreviated forms (weeks, qtrs, hrs, mins,
# secs, ms, us, ns); bare plurals previously reached Spark as column
# references. NANOSECOND converts to µs arithmetic (Spark timestamps
# are µs-precision; sub-µs truncates, documented); sub-second
# DATEDIFF counts unit boundaries via unix_millis/micros.
R12F_UNIT_CASES = [
    ("SELECT DATEADD(weeks, 2, '2024-01-01'::DATE)", "2024-01-15"),
    ("SELECT DATEADD('qtrs', 1, '2024-01-01'::DATE)", "2024-04-01"),
    ("SELECT DATEADD(hrs, 2, '2024-01-01'::TIMESTAMP)",
     "2024-01-01 02:00:00"),
    ("SELECT DATEADD(yrs, 1, '2024-01-01'::DATE)", "2025-01-01"),
    ("SELECT DATEADD('ns', 2000, '2024-01-01'::TIMESTAMP)",
     "2024-01-01 00:00:00"),
    ("SELECT DATEADD('ms', 1500, '2024-01-01'::TIMESTAMP)",
     "2024-01-01 00:00:01"),
    ("SELECT DATEADD(us, 1500000, '2024-01-01'::TIMESTAMP)",
     "2024-01-01 00:00:01"),
    ("SELECT TIMESTAMPADD(secs, 90, '2024-01-01'::TIMESTAMP)",
     "2024-01-01 00:01:30"),
    # boundary semantics: 0.0009 → 0.0011 crosses ONE ms boundary
    ("SELECT DATEDIFF('ms', '2024-01-01 00:00:00.0009'::TIMESTAMP, "
     "'2024-01-01 00:00:00.0011'::TIMESTAMP)", 1),
    ("SELECT DATEDIFF(ns, '2024-01-01'::TIMESTAMP, "
     "'2024-01-01 00:00:00.000002'::TIMESTAMP)", 2000),
    ("SELECT DATEDIFF(mins, '2024-01-01 00:00:59'::TIMESTAMP, "
     "'2024-01-01 00:01:01'::TIMESTAMP)", 1),
]


@pytest.mark.parametrize("sql,expect", R12F_UNIT_CASES,
                         ids=lambda c: str(c)[:48])
def test_r12f_unit_spellings(spark, sql, expect):
    _check(spark, sql, expect)


# ---------------------------------------------------------------- r12g
# Occurrence-specific REGEXP_REPLACE (was a refusal): a literal
# occurrence n >= 1 replaces ONLY the n-th match via the ^-anchored
# lazy-counting pattern (?s)^((?:.*?(?:P)){n-1}.*?)(?:P) -> $1R.
R12G_RXREP_CASES = [
    ("SELECT REGEXP_REPLACE('a1b2c3', '[0-9]', 'X', 1, 2)", "a1bXc3"),
    ("SELECT REGEXP_REPLACE('a1b2c3', '[0-9]', 'X', 1, 1)", "aXb2c3"),
    ("SELECT REGEXP_REPLACE('a1b2c3', '[0-9]', 'X', 1, 3)", "a1b2cX"),
    # fewer matches than n: unchanged
    ("SELECT REGEXP_REPLACE('a1b2c3', '[0-9]', 'X', 1, 9)", "a1b2c3"),
    # position offset composes with occurrence counting
    ("SELECT REGEXP_REPLACE('a1b2c3', '[0-9]', 'X', 3, 1)", "a1bXc3"),
    # occurrence 0 stays replace-all
    ("SELECT REGEXP_REPLACE('a1b2c3', '[0-9]', 'X', 1, 0)", "aXbXcX"),
    # greedy quantifier inside the counted pattern
    ("SELECT REGEXP_REPLACE('a1b12c', '[0-9]+', 'N', 1, 2)", "a1bNc"),
    # dollar in the replacement survives the double escaping layer
    ("SELECT REGEXP_REPLACE('aXbXc', 'X', '$', 1, 2)", "aXb$c"),
]


@pytest.mark.parametrize("sql,expect", R12G_RXREP_CASES,
                         ids=lambda c: str(c)[:48])
def test_r12g_regexp_replace_occurrence(spark, sql, expect):
    _check(spark, sql, expect)


def test_r12g_rxrep_occurrence_refusals():
    from dbt_icebreaker_spark.transpiler.core import TranspileError

    with pytest.raises(TranspileError, match="dynamic occurrence"):
        t.to_spark("SELECT REGEXP_REPLACE(s, 'x', 'y', 1, n) FROM t")
    with pytest.raises(TranspileError, match="backref"):
        t.to_spark(
            "SELECT REGEXP_REPLACE(s, '(x)(y)', '\\\\2\\\\1', 1, 2) "
            "FROM t")
    with pytest.raises(TranspileError, match="LITERAL pattern"):
        t.to_spark("SELECT REGEXP_REPLACE(s, p, 'y', 1, 2) FROM t")


# BOOLOR_AGG/BOOLAND_AGG numeric coercion: Snowflake treats nonzero
# as true; Spark's bool_or/bool_and are boolean-only (was a type
# error on numeric args)
R12H_BOOLAGG_CASES = [
    ("SELECT BOOLAND_AGG(g) FROM (VALUES (1),(2),(0)) t(g)", False),
    ("SELECT BOOLAND_AGG(g) FROM (VALUES (1),(2),(3)) t(g)", True),
    ("SELECT BOOLOR_AGG(g) FROM (VALUES (0),(0),(2)) t(g)", True),
    ("SELECT BOOLOR_AGG(g) FROM (VALUES (0),(0)) t(g)", False),
    ("SELECT BOOLAND_AGG(g > 1) FROM (VALUES (2),(3)) t(g)", True),
]


@pytest.mark.parametrize("sql,expect", R12H_BOOLAGG_CASES,
                         ids=lambda c: str(c)[:48])
def test_r12h_boolagg_numeric(spark, sql, expect):
    _check(spark, sql, expect)


def test_r12i_flatten_path_column(spark):
    # Snowflake FLATTEN exposes PATH on every branch: the key name
    # for object elements, '[i]' for array elements (previously only
    # the RECURSIVE branch emitted it)
    rows = spark.sql(t.to_spark(
        "SELECT f.path AS p, f.value AS v FROM "
        "TABLE(FLATTEN(input => PARSE_JSON('[10,20]'))) f"
    )).collect()
    assert [(r.p, r.v) for r in rows] == [("[0]", "10"), ("[1]", "20")]
    rows = spark.sql(t.to_spark(
        "SELECT f.path AS p FROM "
        "TABLE(FLATTEN(input => PARSE_JSON('{\"a\":1}'))) f"
    )).collect()
    assert rows[0].p == "a"


# ---------------------------------------------------------------- r12j
# Probe batch 8 fixes: numeric TO_CHAR pre-rounds to the format's
# decimal scale (Spark's to_char overflows to '#' fill when the input
# scale exceeds the format's; Snowflake rounds), and TO_BOOLEAN
# accepts Snowflake's 'on'/'off' literals.
R12J_CASES = [
    ("SELECT TO_CHAR(12345.678, '99,999.99')", "12,345.68"),
    ("SELECT TO_CHAR(1234.5, '$9,999.99')", "$1,234.50"),
    ("SELECT TO_CHAR(0.456, '9.9')", ("0.5", ".5")),
    ("SELECT TO_BOOLEAN('on')", True),
    ("SELECT TO_BOOLEAN('OFF')", False),
    ("SELECT TO_BOOLEAN('yes')", True),
    ("SELECT TO_BOOLEAN(1)", True),
    ("SELECT TO_BOOLEAN(0.0)", False),
]


@pytest.mark.parametrize("sql,expect", R12J_CASES,
                         ids=lambda c: str(c)[:48])
def test_r12j_tochar_toboolean(spark, sql, expect):
    _check(spark, sql, expect)


# Snowflake multi-part interval literals: commas between units (Spark
# wants spaces) and mixed year-month + day-time fields (Spark cannot
# mix them in one literal; the rewrite splits across the preceding
# +/- operator, preserving Snowflake's in-order application)
R12K_INTERVAL_CASES = [
    ("SELECT '2024-01-15'::TIMESTAMP + INTERVAL '2 hours, 30 minutes'",
     "2024-01-15 02:30:00"),
    ("SELECT '2024-01-15'::DATE + INTERVAL '1 year, 2 months, 3 days'",
     "2025-03-18"),
    ("SELECT '2025-03-18'::DATE - INTERVAL '1 year, 2 months, 3 days'",
     "2024-01-15"),
    ("SELECT '2024-01-15'::TIMESTAMP + "
     "INTERVAL '1 hour, 30 minutes, 15 seconds'",
     "2024-01-15 01:30:15"),
    ("SELECT '2024-01-15'::DATE + INTERVAL '1 day'", "2024-01-16"),
]


@pytest.mark.parametrize("sql,expect", R12K_INTERVAL_CASES,
                         ids=lambda c: str(c)[:48])
def test_r12k_interval_literals(spark, sql, expect):
    _check(spark, sql, expect)


# ---------------------------------------------------------------- r13a
# Numeric TO_CHAR sign + fill parity (r12 verdict What's-wrong #1):
# Snowflake prepends '-' for negatives even without an S/MI/PR
# element and does NOT space-fill unused leading digit positions;
# Spark's native to_char drops the sign and Oracle-fills. Negatives
# locked for EVERY numeric-format shape (plain, comma, $, S, MI, PR,
# hex) — the r11/r12 one-polarity blind spot class.
R13A_TOCHAR_SIGN_CASES = [
    ("SELECT TO_CHAR(-12.5, '99.9')", "-12.5"),
    ("SELECT TO_VARCHAR(-7.25, '999.99')", "-7.25"),
    ("SELECT TO_CHAR(-1234.5, '$9,999.99')", "-$1,234.50"),
    ("SELECT TO_CHAR(-0.456, '9.9')", ("-0.5", "-.5")),
    ("SELECT TO_CHAR(-7, '999')", "-7"),
    ("SELECT TO_CHAR(-12345.678, '99,999.99')", "-12,345.68"),
    # under-width positive: no Oracle space fill (documented Snowflake
    # fill semantics: '$123.46', not '$  123.46')
    ("SELECT TO_CHAR(123.456, '$9,999.00')", "$123.46"),
    ("SELECT TO_CHAR(7.25, '999.99')", "7.25"),
    # explicit sign elements pass through (spaces still stripped)
    ("SELECT TO_CHAR(12.5, 'S99.9')", "+12.5"),
    ("SELECT TO_CHAR(-12.5, 'S99.9')", "-12.5"),
    ("SELECT TO_CHAR(-12.5, '99.9MI')", "12.5-"),
    ("SELECT TO_CHAR(12.5, '99.9MI')", "12.5"),
    ("SELECT TO_CHAR(-12.5, '99.9PR')", "<12.5>"),
    ("SELECT TO_CHAR(12.5, '99.9PR')", "12.5"),
    # trailing sign elements do NOT count toward the decimal scale
    # (r12 advisor: '99.99MI' is scale 2, not 4 — scale 4 re-triggered
    # the '#'-overflow this path exists to prevent)
    ("SELECT TO_CHAR(-12.345, '99.99MI')", "12.35-"),
    ("SELECT TO_CHAR(-12.345, '99.99PR')", "<12.35>"),
    # half-away-from-zero rounding on negatives (abs-then-round)
    ("SELECT TO_CHAR(-0.125, '9.99')", ("-0.13", "-.13")),
    # hex + NULL unchanged by the sign wrapper
    ("SELECT TO_CHAR(255, 'XXXX')", "FF"),
    ("SELECT TO_CHAR(CAST(NULL AS DOUBLE), '99.9')", None),
    # overflow keeps '#' fill
    ("SELECT TO_CHAR(-99999.9, '99.9')", "-##.#"),
]


@pytest.mark.parametrize("sql,expect", R13A_TOCHAR_SIGN_CASES,
                         ids=lambda c: str(c)[:48])
def test_r13a_tochar_sign(spark, sql, expect):
    _check(spark, sql, expect)


# ---------------------------------------------------------------- r13b
# DATEADD return-type parity (r12 verdict What's-wrong #2): DATE
# input + day-or-coarser unit returns DATE in Snowflake; Spark's
# 3-arg dateadd widens to TIMESTAMP. Statically-recognizable date
# inputs now CAST back; dynamic inputs keep the documented widening.
R13B_DATEADD_TYPE_CASES = [
    ("SELECT DATEADD('day', 1, DATE '2024-01-15') AS d",
     "date", datetime.date(2024, 1, 16)),
    ("SELECT DATEADD(month, 1, '2024-01-15'::DATE) AS d",
     "date", datetime.date(2024, 2, 15)),
    ("SELECT DATEADD(week, 2, TO_DATE('2024-01-15')) AS d",
     "date", datetime.date(2024, 1, 29)),
    ("SELECT TIMESTAMPADD(year, 1, CAST('2024-01-15' AS DATE)) AS d",
     "date", datetime.date(2025, 1, 15)),
    ("SELECT DATEADD(day, 1, DATEADD(month, 1, DATE '2024-01-15')) "
     "AS d", "date", datetime.date(2024, 2, 16)),
    # sub-day unit: TIMESTAMP even on a DATE input (Snowflake too)
    ("SELECT DATEADD('hour', 1, DATE '2024-01-15') AS d",
     "timestamp", datetime.datetime(2024, 1, 15, 1, 0)),
    # TIMESTAMP input stays TIMESTAMP
    ("SELECT DATEADD(day, 1, '2024-01-15'::TIMESTAMP) AS d",
     "timestamp", datetime.datetime(2024, 1, 16, 0, 0)),
]


@pytest.mark.parametrize("sql,dtype,expect", R13B_DATEADD_TYPE_CASES,
                         ids=lambda c: str(c)[:48])
def test_r13b_dateadd_return_type(spark, sql, dtype, expect):
    df = spark.sql(t.to_spark(sql))
    assert df.schema.fields[0].dataType.simpleString() == dtype
    assert df.collect()[0][0] == expect


# ---------------------------------------------------------------- r13c
# Multi-part interval literals apply in WRITTEN order across the
# year-month/day-time class boundary (r12 advisor: grouping all-ym-
# then-all-dt flipped month-end-clamp cases).
R13C_INTERVAL_ORDER_CASES = [
    ("SELECT DATE '2024-03-31' - INTERVAL '1 day, 1 month'",
     "2024-02-29"),
    ("SELECT DATE '2024-03-31' - INTERVAL '1 month, 1 day'",
     "2024-02-28"),
    ("SELECT '2024-01-15'::DATE + INTERVAL '3 days, 1 month, 2 days'",
     "2024-02-20"),
    ("SELECT DATE '2024-01-31' + INTERVAL '1 month, 1 day'",
     "2024-03-01"),
    ("SELECT DATE '2024-01-31' + INTERVAL '1 day, 1 month'",
     "2024-03-01"),
]


@pytest.mark.parametrize("sql,expect", R13C_INTERVAL_ORDER_CASES,
                         ids=lambda c: str(c)[:48])
def test_r13c_interval_order(spark, sql, expect):
    _check(spark, sql, expect)


# ---------------------------------------------------------------- r13d
# Occurrence-counting REGEXP_REPLACE uses ATOMIC groups (r12 advisor:
# plain groups let the Java engine backtrack INTO the user pattern,
# splitting one greedy match into two — 'a+' on 'aaa' has ONE
# non-overlapping match, so occurrence 2 must not exist).
R13D_REGEXP_OCC_CASES = [
    ("SELECT REGEXP_REPLACE('aaa', 'a+', 'z', 1, 2)", "aaa"),
    ("SELECT REGEXP_REPLACE('aaa', 'a+', 'z', 1, 1)", "z"),
    ("SELECT REGEXP_REPLACE('a1a22a333', '\\\\d+', 'z', 1, 2)",
     "a1aza333"),
    ("SELECT REGEXP_REPLACE('123', '\\\\d+', 'z', 1, 2)", "123"),
    ("SELECT REGEXP_REPLACE('abcabcabc', 'abc', 'X', 1, 2)",
     "abcXabc"),
    ("SELECT REGEXP_REPLACE('foo1bar2baz', '[0-9]', '_', 1, 2)",
     "foo1bar_baz"),
]


@pytest.mark.parametrize("sql,expect", R13D_REGEXP_OCC_CASES,
                         ids=lambda c: str(c)[:48])
def test_r13d_regexp_occurrence_atomic(spark, sql, expect):
    _check(spark, sql, expect)


# ---------------------------------------------------------------- r13e
# Late-round probe-batch edges: the 'B' (blank-for-zero) format
# element Spark's to_char rejects; sign-lenient TO_NUMBER parse (the
# TO_CHAR round-trip relies on it — Snowflake prints '-12.5' for
# sign-less formats, so it must parse back); zero/zero-pad shapes.
R13E_FORMAT_EDGE_CASES = [
    ("SELECT TO_CHAR(0, 'B99.9')", ""),
    ("SELECT TO_CHAR(12.5, 'B99.9')", "12.5"),
    ("SELECT TO_CHAR(-12.5, 'B99.9')", "-12.5"),
    ("SELECT TO_CHAR(0, '99.9')", ("0.0", ".0")),
    ("SELECT TO_CHAR(-12.5, '0000.00')", "-0012.50"),
    ("SELECT TO_CHAR(12.5, '99.9S')", "12.5+"),
    ("SELECT TO_NUMBER('-12.5', '99.9')",
     __import__("decimal").Decimal("-12.5")),
    ("SELECT TO_NUMBER('+12.5', '99.9')",
     __import__("decimal").Decimal("12.5")),
    ("SELECT TRY_TO_NUMBER('-$1,234.50', '$9,999.99')",
     __import__("decimal").Decimal("-1234.50")),
    ("SELECT TO_NUMBER('-12.5', '99.9', 10, 2)",
     __import__("decimal").Decimal("-12.50")),
    ("SELECT TRY_TO_NUMBER('bogus', '99.9')", None),
    # round trip: format → parse preserves the negative value
    ("SELECT TO_NUMBER(TO_CHAR(-1234.5, '9,999.99'), '9,999.99')",
     __import__("decimal").Decimal("-1234.50")),
]


@pytest.mark.parametrize("sql,expect", R13E_FORMAT_EDGE_CASES,
                         ids=lambda c: str(c)[:48])
def test_r13e_format_edges(spark, sql, expect):
    _check(spark, sql, expect)


# SKEW/KURTOSIS below the estimator's minimum count return NULL like
# Snowflake (SKEW needs 3 records, KURTOSIS 4); the bare sample
# correction divided by zero at exactly n = 2 / 3 (r13 probe batch)
R13I_SKEW_KURT_CASES = [
    ("SELECT KURTOSIS(v) FROM (SELECT EXPLODE(ARRAY(10.0, 20.0, "
     "30.0)) v)", ("__NULL__",)),
    ("SELECT SKEW(v) FROM (SELECT EXPLODE(ARRAY(10.0, 20.0)) v)",
     ("__NULL__",)),
    ("SELECT SKEW(v) FROM (SELECT EXPLODE(ARRAY(10.0, 20.0, 30.0)) "
     "v)", 0.0),
    ("SELECT ROUND(KURTOSIS(v), 6) FROM (SELECT EXPLODE(ARRAY("
     "10.0, 20.0, 30.0, 45.0, 80.0)) v)", 1.099275),
]


@pytest.mark.parametrize("sql,expect", R13I_SKEW_KURT_CASES,
                         ids=lambda c: str(c)[:48])
def test_r13i_skew_kurtosis_min_count(spark, sql, expect):
    _check(spark, sql, expect)


# DATE_FROM_PARTS / TIMESTAMP_FROM_PARTS normalize out-of-range
# parts like Snowflake (month 13 → next Jan; day 0 → the day before
# day 1 — the last-day-of-month idiom; hour 24 → next day); Spark's
# make_date/make_timestamp error instead (r13 probe batch)
R13H_FROM_PARTS_CASES = [
    ("SELECT DATE_FROM_PARTS(2024, 13, 1)", "2025-01-01"),
    ("SELECT DATE_FROM_PARTS(2024, 3, 0)", "2024-02-29"),
    ("SELECT DATE_FROM_PARTS(2024, 0, 1)", "2023-12-01"),
    ("SELECT DATE_FROM_PARTS(2024, 2, 30)", "2024-03-01"),
    ("SELECT DATE_FROM_PARTS(2024, -1, -1)", "2023-10-30"),
    ("SELECT TIMESTAMP_FROM_PARTS(2024, 1, 15, 24, 0, 0)",
     "2024-01-16 00:00:00"),
    ("SELECT TIMESTAMP_FROM_PARTS(2024, 1, 31, 0, 0, 90)",
     "2024-01-31 00:01:30"),
]


@pytest.mark.parametrize("sql,expect", R13H_FROM_PARTS_CASES,
                         ids=lambda c: str(c)[:48])
def test_r13h_from_parts_normalization(spark, sql, expect):
    _check(spark, sql, expect)


def test_r13h_date_from_parts_returns_date(spark):
    df = spark.sql(t.to_spark("SELECT DATE_FROM_PARTS(2024, 13, 1) AS d"))
    assert df.schema.fields[0].dataType.simpleString() == "date"


# DATE_TRUNC / date-form TRUNC on statically-DATE inputs return DATE
# (same Snowflake contract as DATEADD — Spark's date_trunc always
# widens to TIMESTAMP; r13 probe batch)
R13G_TRUNC_TYPE_CASES = [
    ("SELECT DATE_TRUNC('month', '2024-03-15'::DATE) AS d",
     "date", datetime.date(2024, 3, 1)),
    ("SELECT DATE_TRUNC(quarter, DATE '2024-03-15') AS d",
     "date", datetime.date(2024, 1, 1)),
    ("SELECT TRUNC('2024-03-15'::DATE, 'QUARTER') AS d",
     "date", datetime.date(2024, 1, 1)),
    ("SELECT TRUNC(DATE '2024-03-15', 'YEAR') AS d",
     "date", datetime.date(2024, 1, 1)),
    ("SELECT DATE_TRUNC('week', TO_DATE('2024-03-15')) AS d",
     "date", datetime.date(2024, 3, 11)),
    # timestamp/dynamic inputs keep the widening
    ("SELECT TRUNC('2024-03-15 10:20:30'::TIMESTAMP, 'HOUR') AS d",
     "timestamp", datetime.datetime(2024, 3, 15, 10, 0)),
]


@pytest.mark.parametrize("sql,dtype,expect", R13G_TRUNC_TYPE_CASES,
                         ids=lambda c: str(c)[:48])
def test_r13g_trunc_return_type(spark, sql, dtype, expect):
    df = spark.sql(t.to_spark(sql))
    assert df.schema.fields[0].dataType.simpleString() == dtype
    assert df.collect()[0][0] == expect


# REGEXP_INSTR occurrence (r13, was a refusal): n-th match position
# via the atomic counting pattern — 1 + length of the prefix group
R13F_RXINSTR_CASES = [
    ("SELECT REGEXP_INSTR('a1b22c333', '\\\\d+')", 2),
    ("SELECT REGEXP_INSTR('a1b22c333', '\\\\d+', 1, 2)", 4),
    ("SELECT REGEXP_INSTR('a1b22c333', '\\\\d+', 1, 3)", 7),
    ("SELECT REGEXP_INSTR('a1b22c333', '\\\\d+', 1, 4)", 0),
    ("SELECT REGEXP_INSTR('a1b22c333', '\\\\d+', 3, 2)", 7),
    # one non-overlapping match of a+ in 'aaa' — occurrence 2 must
    # not exist (the backtracking class r13d pins for REPLACE)
    ("SELECT REGEXP_INSTR('aaa', 'a+', 1, 2)", 0),
    ("SELECT REGEXP_INSTR('aaa bbb aaa', 'a+', 1, 2)", 9),
]


@pytest.mark.parametrize("sql,expect", R13F_RXINSTR_CASES,
                         ids=lambda c: str(c)[:48])
def test_r13f_regexp_instr_occurrence(spark, sql, expect):
    _check(spark, sql, expect)


def test_r13e_mixed_interval_bare_refuses():
    from dbt_icebreaker_spark.transpiler.core import TranspileError
    with pytest.raises(TranspileError, match="unit class"):
        t.to_spark("SELECT INTERVAL '1 month, 2 days'")
