"""ClickHouse-compat functions, Grafana macros, lookup, vector math."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rsyslog_nginx_clickhouse_spark.functions.clickhouse import (
    register_clickhouse_functions,
)
from rsyslog_nginx_clickhouse_spark.functions.macros import expand_macros, sql
from rsyslog_nginx_clickhouse_spark.functions.vectors import cosine, dot, l2_distance
from rsyslog_nginx_clickhouse_spark.sources.lookup import (
    MONTHS,
    lookup_join,
    lookup_map,
)


def test_clickhouse_scalar_functions(spark):
    register_clickhouse_functions(spark)
    row = spark.sql("""
        SELECT toYYYYMMDD(date'2020-04-06')                  AS a,
               toStartOfHour(timestamp'2020-04-06 09:54:48') AS b,
               toStartOfFiveMinute(timestamp'2020-04-06 09:54:48') AS c,
               intDiv(17, 5)                                 AS d,
               toHour(timestamp'2020-04-06 09:54:48')        AS e
    """).collect()[0]
    assert row["a"] == 20200406
    assert str(row["b"]) == "2020-04-06 09:00:00"
    assert str(row["c"]) == "2020-04-06 09:50:00"
    assert row["d"] == 3 and row["e"] == 9


def test_clickhouse_date_parts_and_agg_rewrites(spark):
    register_clickhouse_functions(spark)
    row = spark.sql("""
        SELECT toDayOfWeek(timestamp'2020-04-06 09:00:00') AS dow,
               toYear(timestamp'2020-04-06 09:00:00')      AS y,
               toUnixTimestamp(timestamp'1970-01-01 00:01:00') AS ut
    """).collect()[0]
    assert row["dow"] == 1  # 2020-04-06 is a Monday; ClickHouse Monday=1
    assert row["y"] == 2020 and row["ut"] == 60
    out = expand_macros(
        "SELECT countIf(x > 1), argMax(a, b) FROM $table", table="t")
    assert "count_if(x > 1)" in out and "max_by(a, b)" in out


def test_macro_expansion_matches_grafana_query():
    q = ("SELECT $timeSeries as t, count(*) as Count FROM $table "
         "WHERE $timeFilter GROUP BY t ORDER BY t")
    out = expand_macros(q, table="nginx", interval_s=3600,
                        time_from="2020-04-06 00:00:00",
                        time_to="2020-04-07 00:00:00")
    assert "$" not in out
    assert "FROM nginx" in out
    assert ">= timestamp'2020-04-06 00:00:00'" in out
    assert "<= timestamp'2020-04-07 00:00:00'" in out
    assert "floor(unix_timestamp(logdatetime) / 3600) * 3600" in out


def test_macro_one_sided_time_filter():
    out = expand_macros("SELECT 1 FROM $table WHERE $timeFilter", table="t",
                        time_from="2020-04-06 00:00:00")
    assert ">= timestamp'2020-04-06 00:00:00'" in out and "1=1" not in out


def test_macro_from_to_and_natural_timeseries():
    q = ("SELECT $naturalTimeSeries as t FROM $table "
         "WHERE x >= toDateTime($from) AND x <= toDateTime($to)")
    out = expand_macros(q, table="ev", time_col="ts",
                        time_from="2024-01-05 00:00:00",
                        time_to="2024-01-20 00:00:00")
    assert "$" not in out
    assert "toDateTime(1704412800)" in out   # $from → epoch seconds
    assert "toDateTime(1705708800)" in out   # $to
    # 15-day span → day tier
    assert "floor(unix_timestamp(ts) / 86400) * 86400" in out


def test_macro_natural_tiers():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        natural_interval_s,
    )

    assert natural_interval_s("2024-01-01 00:00:00",
                              "2024-01-01 01:00:00") == 60
    assert natural_interval_s("2024-01-01 00:00:00",
                              "2024-01-02 00:00:00") == 300
    assert natural_interval_s("2024-01-01 00:00:00",
                              "2024-01-08 00:00:00") == 3600
    assert natural_interval_s("2024-01-01 00:00:00",
                              "2024-03-01 00:00:00") == 86400
    assert natural_interval_s("2024-01-01 00:00:00",
                              "2025-01-01 00:00:00") == 7 * 86400


def test_macro_from_requires_bound():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        expand_macros("SELECT $from FROM $table", table="t")
    with _pytest.raises(ValueError):
        expand_macros("SELECT $naturalTimeSeries FROM $table", table="t")


def test_todatetime_epoch_and_string(spark):
    from rsyslog_nginx_clickhouse_spark.functions.clickhouse import (
        register_clickhouse_functions,
    )

    register_clickhouse_functions(spark)
    row = spark.sql(
        "SELECT toDateTime('1704412800') AS a, "
        "toDateTime('2024-01-05 00:00:00') AS b").collect()[0]
    assert row["a"] == row["b"]


def test_macro_aggregate_rewrites():
    out = expand_macros("SELECT uniq(u), quantile(0.5)(x) FROM $table", table="t")
    assert "approx_count_distinct(u" in out
    # parametric syntax collapses to valid Spark SQL
    assert "percentile_approx(x, 0.5)" in out
    out2 = expand_macros("SELECT quantileExact(0.9)(v) FROM $table", table="t")
    assert "percentile(v, 0.9)" in out2


def test_engine_sql_end_to_end(spark):
    spark.createDataFrame(
        [("2020-04-06 09:00:05",), ("2020-04-06 09:59:59",),
         ("2020-04-06 10:00:00",)],
        "s string").selectExpr("cast(s as timestamp) AS logdatetime") \
        .createOrReplaceTempView("tiny_nginx")
    rows = sql(spark,
               "SELECT $timeSeries as t, count(*) as Count FROM $table "
               "WHERE $timeFilter GROUP BY t ORDER BY t",
               table="tiny_nginx").collect()
    assert [r["Count"] for r in rows] == [2, 1]


def test_lookup_map_default(spark):
    df = spark.createDataFrame([("Apr",), ("Foo",), (None,)], "m string")
    rows = df.select(lookup_map(MONTHS, "m").alias("n")).collect()
    assert [r["n"] for r in rows] == ["04", "unk", "unk"]


def test_lookup_join_broadcast_default(spark):
    fact = spark.createDataFrame([("Apr", 1), ("Zzz", 2)], "month string, v int")
    dim = spark.createDataFrame(list(MONTHS.items()), "month string, num string")
    out = lookup_join(fact, dim, "month", "num", "nxm")
    got = {r["v"]: r["nxm"] for r in out.collect()}
    assert got == {1: "04", 2: "unk"}
    assert "Broadcast" in out._jdf.queryExecution().executedPlan().toString()


def test_vector_math_matches_numpy(spark):
    a, b = [1.0, 2.0, 3.0], [4.0, -5.0, 6.0]
    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
    row = df.select(dot("a", "b").alias("d"), cosine("a", "b").alias("c"),
                    l2_distance("a", "b").alias("l")).collect()[0]
    assert row["d"] == pytest.approx(12.0)
    expected_cos = 12.0 / (math.sqrt(14) * math.sqrt(77))
    assert row["c"] == pytest.approx(expected_cos)
    assert row["l"] == pytest.approx(math.sqrt(9 + 49 + 9))


def test_clickhouse_quantile_query_runs(spark):
    spark.createDataFrame([(float(i),) for i in range(101)], "v double") \
         .createOrReplaceTempView("tq")
    row = sql(spark, "SELECT quantileExact(0.5)(v) AS med, uniqExact(v) AS u "
                     "FROM tq", table="tq").collect()[0]
    assert row["med"] == 50.0 and row["u"] == 101


def test_if_combinators_rewrite_and_run(spark):
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    # nested call + string literal inside the value arg survive
    out = rewrite_aggregates(
        "SELECT sumIf(toUInt32(t), status = 'err'), avgIf(v, v > 0) FROM x")
    # sumIf coalesces to 0 (CH returns 0 on empty match sets); avgIf
    # keeps NULL-on-empty (documented deviation)
    assert out == (
        "SELECT coalesce(sum(if(status = 'err', toUInt32(t), NULL)), 0), "
        "avg(if(v > 0, v, NULL)) FROM x")
    spark.createDataFrame(
        [(1.0, "ok"), (2.0, "err"), (3.0, "err"), (-4.0, "ok")],
        "v double, status string").createOrReplaceTempView("tc")
    row = sql(spark,
              "SELECT sumIf(v, status = 'err') AS s, "
              "avgIf(v, v > 0) AS a, "
              "minIf(v, status = 'ok') AS mn, "
              "maxIf(v, status = 'err') AS mx, "
              "countIf(v < 0) AS c FROM tc", table="tc").collect()[0]
    assert (row["s"], row["a"], row["mn"], row["mx"], row["c"]) \
        == (5.0, 2.0, -4.0, 3.0, 1)


def test_clickhouse_conversions_and_arrayjoin(spark):
    from rsyslog_nginx_clickhouse_spark.functions.clickhouse import (
        register_clickhouse_functions,
    )

    register_clickhouse_functions(spark)
    row = spark.sql(
        "SELECT toFloat64('1.5') AS f, toInt64(42) AS i, "
        "toInt32('7') AS i32, splitByChar('.', 'a.b.c') AS parts"
    ).collect()[0]
    assert (row["f"], row["i"], row["i32"]) == (1.5, 42, 7)
    assert row["parts"] == ["a", "b", "c"]
    rows = sql(spark, "SELECT arrayJoin(array(1, 2, 3)) AS x",
               table="dual").collect()
    assert [r["x"] for r in rows] == [1, 2, 3]


def test_rewrite_preserves_string_literals_and_escapes(spark):
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    # combinator names inside string DATA must come back byte-identical
    q = "SELECT 'sumIf(a, b)' AS lit, 'uniq(x)' AS lit2 FROM e"
    assert rewrite_aggregates(q) == q
    # backslash-escaped quote with a comma inside the literal: the arg
    # split must not derail
    out = rewrite_aggregates("SELECT sumIf(v, s = 'a\\'b,c') FROM e")
    assert out == \
        "SELECT coalesce(sum(if(s = 'a\\'b,c', v, NULL)), 0) FROM e"
    # doubled-quote escape form too
    out2 = rewrite_aggregates("SELECT sumIf(v, s = 'a''b,c') FROM e")
    assert out2 == \
        "SELECT coalesce(sum(if(s = 'a''b,c', v, NULL)), 0) FROM e"


def test_rewrite_handles_nested_same_name_combinator():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    out = rewrite_aggregates(
        "SELECT sumIf(v, uid IN (SELECT uid FROM t GROUP BY uid "
        "HAVING sumIf(x, c) > 5)) FROM e")
    assert "sumIf" not in out
    assert out.count("sum(if(") == 2


def test_toint64_exact_above_double_precision(spark):
    from rsyslog_nginx_clickhouse_spark.functions.clickhouse import (
        register_clickhouse_functions,
    )

    register_clickhouse_functions(spark)
    row = spark.sql("SELECT toInt64('9007199254740993') AS v").collect()[0]
    assert row["v"] == 9007199254740993  # double would round to ...992


def test_clickhouse_json_accessors(spark):
    register_clickhouse_functions(spark)
    row = spark.sql("""
        SELECT JSONExtractString('{"a": "x", "n": 3}', 'a')  AS s,
               JSONExtractString('{"a": "x"}', 'missing')    AS s_miss,
               JSONExtractInt('{"n": 3}', 'n')               AS i,
               JSONExtractInt('{"n": "nope"}', 'n')          AS i_bad,
               JSONExtractFloat('{"f": 2.5}', 'f')           AS f,
               JSONHas('{"a": 1}', 'a')                      AS has_a,
               JSONHas('{"a": 1}', 'b')                      AS has_b
    """).collect()[0]
    assert row["s"] == "x" and row["s_miss"] == ""
    assert row["i"] == 3 and row["i_bad"] == 0
    assert abs(row["f"] - 2.5) < 1e-12
    assert row["has_a"] is True and row["has_b"] is False
    # ClickHouse edge semantics (ADVICE r3): present-with-null key,
    # fractional Int truncation, literal '.' in a key, invalid JSON
    edge = spark.sql("""
        SELECT JSONHas('{"a": null}', 'a')              AS has_null_val,
               JSONHas('not json', 'a')                 AS has_invalid,
               JSONExtractInt('{"n": 3.7}', 'n')        AS i_trunc,
               JSONExtractInt('{"n": -3.7}', 'n')       AS i_trunc_neg,
               JSONExtractInt('{"n": 9007199254740993}', 'n') AS i_big,
               JSONExtractString('{"a.b": "dot"}', 'a.b') AS dot_key,
               JSONExtractFloat('{"a.b": 1.5}', 'a.b')  AS dot_key_f
    """).collect()[0]
    assert edge["has_null_val"] is True       # CH: key exists → 1
    assert edge["has_invalid"] is False
    assert edge["i_trunc"] == 3 and edge["i_trunc_neg"] == -3
    assert edge["i_big"] == 9007199254740993  # no double round-trip
    assert edge["dot_key"] == "dot" and edge["dot_key_f"] == 1.5


def test_url_and_string_compat_functions(spark):
    """ClickHouse URL family + empty/notEmpty + extended JSON
    accessors (round-4 additions)."""
    from rsyslog_nginx_clickhouse_spark.functions.clickhouse import (
        register_clickhouse_functions,
    )

    register_clickhouse_functions(spark)
    r = spark.sql("""
        SELECT domain('https://example.com/a/b?x=1')          AS d1,
               domain('example.com/a')                        AS d2,
               path('https://example.com/a/b?x=1')            AS p1,
               protocol('https://example.com/a')              AS pr,
               extractURLParameter('http://h/a?x=1&y=2', 'y') AS qp,
               extractURLParameter('http://h/a?x=1', 'z')     AS qp0,
               cutQueryString('http://h/a?x=1&y=2')           AS cq,
               cutQueryString('http://h/a')                   AS cq0,
               empty('')    AS e1, empty(NULL)  AS e2,
               empty('x')   AS e3, notEmpty('x') AS ne,
               JSONExtractBool('{"b": true}', 'b')    AS jb,
               JSONExtractBool('{"b": "no"}', 'b')    AS jb0,
               JSONExtractRaw('{"o": {"a": 1}}', 'o') AS jraw,
               JSONExtractRaw('{"s": "x"}', 's')      AS jraw_s,
               JSONExtractRaw('{"s": "x"}', 'zz')     AS jraw0,
               JSONLength('[1,2,3]')       AS jl_arr,
               JSONLength('{"a":1,"b":2}') AS jl_obj,
               JSONLength('junk')          AS jl_bad
    """).collect()[0]
    assert r["d1"] == "example.com" and r["d2"] == "example.com"
    assert r["p1"] == "/a/b" and r["pr"] == "https"
    assert r["qp"] == "2" and r["qp0"] == ""
    assert r["cq"] == "http://h/a" and r["cq0"] == "http://h/a"
    assert r["e1"] is True and r["e2"] is True and r["e3"] is False
    assert r["ne"] is True
    assert r["jb"] is True and r["jb0"] is False
    assert r["jraw"] == '{"a":1}'
    assert r["jraw_s"] == '"x"'   # CH keeps the quotes on raw strings
    assert r["jraw0"] == ""
    assert r["jl_arr"] == 3 and r["jl_obj"] == 2 and r["jl_bad"] == 0


def test_adhoc_macro_expansion():
    import pytest
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        adhoc_predicate,
        expand_macros,
    )

    assert adhoc_predicate(None) == "1=1"
    assert adhoc_predicate([]) == "1=1"
    p = adhoc_predicate([("event_type", "=", "o'brien"), ("value", ">", 10)])
    assert p == "(event_type = 'o''brien' AND value > 10)"
    with pytest.raises(ValueError):
        adhoc_predicate([("col; DROP TABLE x", "=", "v")])
    with pytest.raises(ValueError):
        adhoc_predicate([("c", "BETWEEN", "v")])
    out = expand_macros(
        "SELECT count(*) FROM $table WHERE $adhoc", table="t",
        adhoc_filters=[("a", "LIKE", "x%")])
    assert out == "SELECT count(*) FROM t WHERE (a LIKE 'x%')"


def test_function_macro_expansion():
    """$rate / $perSecond / $columns / $rateColumns /
    $perSecondColumns — the vertamedia function-style macros."""
    import pytest
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        expand_macros,
    )

    kw = dict(table="ev", time_col="ts", interval_s=60)
    out = expand_macros("$rate(count() AS hits) FROM $table", **kw)
    assert out.startswith("SELECT t, hits / dt AS hits FROM (")
    assert "lag(t) OVER (ORDER BY t)" in out
    assert "count(*) AS hits" in out          # count() compat rewrite
    assert "GROUP BY t" in out and "FROM ev" in out

    out = expand_macros(
        "$rate(countIf(v > 1) good, count() AS total) FROM $table", **kw)
    assert "good / dt AS good" in out and "total / dt AS total" in out
    assert "count_if(v > 1) AS good" in out   # countIf compat rewrite

    out = expand_macros("$perSecond(bytes AS b) FROM $table", **kw)
    assert "max(bytes) AS b" in out
    assert "CASE WHEN d_b < 0 THEN NULL" in out
    assert "AS bPerSecond" in out

    out = expand_macros(
        "$columns(etype AS k, count() AS c) FROM $table WHERE x=1", **kw)
    assert "GROUP BY t, k ORDER BY t, k" in out and "WHERE x=1" in out

    out = expand_macros(
        "$rateColumns(etype AS k, count() AS c) FROM $table", **kw)
    assert "PARTITION BY k ORDER BY t" in out and "c / dt AS c" in out

    out = expand_macros(
        "$perSecondColumns(etype AS k, bytes AS b) FROM $table", **kw)
    assert "max(bytes) AS b" in out and "PARTITION BY k" in out
    assert "AS bPerSecond" in out

    # a bare identifier aliases itself
    out = expand_macros("$perSecond(bytes) FROM $table", **kw)
    assert "max(bytes) AS bytes" in out
    # string literals inside args: ')' ',' '(' in a quoted value must
    # not derail the paren scan or arg split, and must round-trip
    out = expand_macros(
        "$rate(countIf(etype = 'a,(b)') AS odd, count() AS n)"
        " FROM $table", **kw)
    assert "'a,(b)'" in out and "odd / dt AS odd" in out
    assert "n / dt AS n" in out
    # alias required for computed exprs
    with pytest.raises(ValueError, match="alias"):
        expand_macros("$rate(count(*)) FROM $table", **kw)
    # macro must head the statement and be followed by FROM
    with pytest.raises(ValueError, match="FROM"):
        expand_macros("$rate(count() c) WHERE 1=1", **kw)
    # non-head occurrences are left to the generic path, not mangled
    out = expand_macros("SELECT '$rate(x y)' AS s FROM $table", **kw)
    assert out == "SELECT '$rate(x y)' AS s FROM ev"


def test_template_level_macros():
    """$conditionalTest / $unescape / $timeFilterByColumn / template
    variable substitution — the remaining vertamedia helper macros."""
    import pytest
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        expand_macros,
    )

    kw = dict(table="ev", time_col="ts", interval_s=60,
              time_from="2024-01-01T00:00:00",
              time_to="2024-01-02T00:00:00")
    q = ("SELECT count(*) FROM $table WHERE $timeFilter "
         "$conditionalTest(AND event_type = '$etype', $etype)")
    # var set → fragment kept, $etype substituted (Grafana-core order)
    out = expand_macros(q, template_vars={"etype": "view"}, **kw)
    assert "AND event_type = 'view'" in out
    # var unset/empty → fragment dropped entirely
    for tv in ({}, {"etype": ""}, None):
        out = expand_macros(q, template_vars=tv, **kw)
        assert "event_type" not in out
    # SQL part may contain commas and nested parens
    out = expand_macros(
        "SELECT 1 FROM $table WHERE 1=1 "
        "$conditionalTest(AND x IN (1, 2, 3), $xs)",
        template_vars={"xs": [1, 2]}, table="t")
    assert "AND x IN (1, 2, 3)" in out
    # $unescape splices raw text
    assert expand_macros("SELECT $unescape('a, b') FROM $table",
                         table="t") == "SELECT a, b FROM t"
    # $timeFilterByColumn: arbitrary column, identifier-validated
    out = expand_macros(
        "SELECT 1 FROM $table WHERE $timeFilterByColumn(updated)", **kw)
    assert "updated >= timestamp'2024-01-01T00:00:00'" in out
    with pytest.raises(ValueError, match="timeFilterByColumn"):
        expand_macros(
            "SELECT 1 FROM $table WHERE $timeFilterByColumn(x; DROP)",
            **kw)
    # a template variable must not shadow a plugin macro
    with pytest.raises(ValueError, match="shadows"):
        expand_macros("SELECT 1 FROM $table",
                      template_vars={"interval": 5}, **kw)


def test_function_macro_rate_values(spark):
    """End-to-end $rate: empty buckets make dt > interval, first
    bucket rate is NULL."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        sql as engine_sql,
    )

    df = spark.createDataFrame(
        [("2024-01-01 00:00:30",), ("2024-01-01 00:00:40",),
         # minute 00:01 empty — next bucket's dt = 120 s
         ("2024-01-01 00:02:10",)],
        "ts string").selectExpr("cast(ts as timestamp) AS ts")
    df.createOrReplaceTempView("rate_ev")
    rows = engine_sql(
        spark, "$rate(count() AS hits) FROM $table",
        table="rate_ev", time_col="ts", interval_s=60).collect()
    assert [r["hits"] for r in rows] == [None, 1.0 / 120.0]


def test_adhoc_backslash_injection_blocked(spark):
    """A value ending in a backslash must not swallow the closing quote
    (Spark's default parser reads \\' as an escaped quote): the pair of
    values  trailing-\\  +  " OR 1=1 --"  would otherwise merge into one
    literal and inject the OR clause."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        adhoc_predicate,
    )

    p = adhoc_predicate([("event_type", "=", "x\\"),
                         ("props", "=", " OR 1=1 --")])
    assert p == "(event_type = 'x\\\\' AND props = ' OR 1=1 --')"
    # end-to-end through the parser: the crafted pair matches nothing
    df = spark.createDataFrame(
        [("x\\", "v"), ("y", "w")], "event_type string, props string")
    df.createOrReplaceTempView("inj_t")
    assert spark.sql(f"SELECT count(*) c FROM inj_t WHERE {p}") \
        .collect()[0]["c"] == 0
    # and a literal trailing-backslash value still round-trips
    p2 = adhoc_predicate([("event_type", "=", "x\\")])
    assert spark.sql(f"SELECT count(*) c FROM inj_t WHERE {p2}") \
        .collect()[0]["c"] == 1


def test_adhoc_values_expand_last():
    """Macro tokens INSIDE a quoted ad-hoc value are user data and must
    reach the SQL byte-identical, not get macro-substituted."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        expand_macros,
    )

    out = expand_macros(
        "SELECT count(*) FROM $table WHERE $timeFilter AND $adhoc",
        table="t", time_col="ts", interval_s=300,
        time_from="2024-01-01T00:00:00", time_to="2024-01-02T00:00:00",
        adhoc_filters=[("props", "=", "pay $interval of $from costs")])
    assert "'pay $interval of $from costs'" in out


def test_adhoc_inside_a_literal_is_data():
    """'$adhoc' inside a string literal is a value, and a filter value
    cannot leave its own literal, whatever it holds."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        expand_macros,
    )

    assert expand_macros(
        "SELECT 1 FROM $table WHERE m = 'x $adhoc y' AND $adhoc",
        table="t") == "SELECT 1 FROM t WHERE m = 'x $adhoc y' AND 1=1"
    out = expand_macros(
        "SELECT 1 FROM $table WHERE note = 'see $adhoc' AND $adhoc",
        table="t", adhoc_filters=[("verb", "=", "x') OR 1=1 --")])
    assert out == ("SELECT 1 FROM t WHERE note = 'see $adhoc' "
                   "AND (verb = 'x'') OR 1=1 --')")
    # a value shaped like the text layer's literal placeholder stays
    # the value; it is not swapped for the query's literal
    out = expand_macros(
        "SELECT 1 FROM $table WHERE note = 'a' AND $adhoc",
        table="t", adhoc_filters=[("verb", "=", "\x000\x00")])
    assert out == "SELECT 1 FROM t WHERE note = 'a' AND (verb = '\x000\x00')"
