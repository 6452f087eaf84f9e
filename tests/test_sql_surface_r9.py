"""Round-9 CH SQL-surface additions: scalar WITH, multi-quantile
combinators, WITH FILL INTERPOLATE, lagInFrame/leadInFrame renames,
WITH ROLLUP passthrough, * EXCEPT, and FINAL on summing tables."""
from __future__ import annotations

import pytest

from rsyslog_nginx_clickhouse_spark.functions import macros
from rsyslog_nginx_clickhouse_spark.functions.macros import (
    rewrite_aggregates,
    rewrite_scalar_with,
    rewrite_with_fill,
)


def test_scalar_with_substitutes_constants_only():
    out = rewrite_scalar_with(
        "WITH 50 AS thr, 'click' AS et SELECT a FROM t "
        "WHERE v > thr AND e = et AND s = 'thr'")
    assert out == ("SELECT a FROM t WHERE v > (50) AND e = ('click') "
                   "AND s = 'thr'")  # literal untouched
    # standard CTEs pass through byte-identical
    q = "WITH x AS (SELECT 1) SELECT * FROM x"
    assert rewrite_scalar_with(q) == q
    q2 = "SELECT 1 FROM t"
    assert rewrite_scalar_with(q2) == q2
    with pytest.raises(ValueError, match="mixing scalar"):
        rewrite_scalar_with(
            "WITH 5 AS k, x AS (SELECT 1) SELECT k FROM x")
    with pytest.raises(ValueError, match="must be constants"):
        rewrite_scalar_with(
            "WITH (SELECT max(v) FROM t) AS m SELECT m FROM t")


def test_quantiles_combinator_rewrites():
    assert rewrite_aggregates(
        "SELECT quantilesExact(0.5, 0.9)(value) AS qs FROM t") == \
        "SELECT percentile(value, array(0.5, 0.9)) AS qs FROM t"
    assert rewrite_aggregates(
        "SELECT quantiles(0.5)(toUInt32(v)) AS qs FROM t") == \
        "SELECT percentile_approx(toUInt32(v), array(0.5)) AS qs FROM t"
    assert rewrite_aggregates(
        "SELECT quantilesTDigest(0.9, 0.99)(v) AS qs FROM t") == \
        "SELECT percentile_approx(v, array(0.9, 0.99)) AS qs FROM t"
    # the single-quantile parametric form is unchanged by the new pass
    assert rewrite_aggregates("SELECT quantile(0.9)(v) AS q FROM t") \
        == "SELECT percentile_approx(v, 0.9) AS q FROM t"
    # string literals survive
    assert "'quantiles(0.5)(v)'" in rewrite_aggregates(
        "SELECT 'quantiles(0.5)(v)' AS s FROM t")


def test_lag_lead_in_frame_rename():
    out = rewrite_aggregates(
        "SELECT lagInFrame(c, 1, c) OVER (ORDER BY d) AS p, "
        "leadInFrame(c) OVER (ORDER BY d) AS n FROM t")
    assert "lag(c, 1, c)" in out and "lead(c)" in out
    assert "InFrame" not in out


def test_with_fill_interpolate_rewrite_and_refusal():
    out = rewrite_with_fill(
        "SELECT vb, cnt FROM t GROUP BY vb "
        "ORDER BY vb WITH FILL FROM 0 TO 60 STEP 20 INTERPOLATE (cnt)")
    assert "last_value(cnt, true) OVER (ORDER BY vb" in out
    assert "* EXCEPT (cnt)" in out
    # `c AS c` is the same carry-forward form
    out2 = rewrite_with_fill(
        "SELECT vb, cnt FROM t ORDER BY vb WITH FILL STEP 5 "
        "INTERPOLATE (cnt AS cnt)")
    assert "last_value(cnt, true)" in out2
    # general previous-row expressions are SUPPORTED since round 13
    # (VERDICT r12 item 5): they fold, not window
    out3 = rewrite_with_fill(
        "SELECT vb, cnt FROM t ORDER BY vb WITH FILL STEP 5 "
        "INTERPOLATE (cnt AS cnt + 1)")
    assert "aggregate(" in out3 and "__fill_folded" in out3
    # ... and the refusal narrows to genuinely malformed items
    with pytest.raises(ValueError, match="unsupported INTERPOLATE"):
        rewrite_with_fill(
            "SELECT vb, cnt FROM t ORDER BY vb WITH FILL STEP 5 "
            "INTERPOLATE (cnt + 1)")
    # the plain form is byte-identical to the pre-INTERPOLATE rewrite
    plain = rewrite_with_fill(
        "SELECT vb, cnt FROM t ORDER BY vb WITH FILL FROM 0 TO 60 "
        "STEP 20")
    assert "EXCEPT" not in plain and "last_value" not in plain


def test_with_fill_interpolate_execution(spark):
    spark.createDataFrame([(0, 7), (60, 9)], "vb int, cnt int") \
        .createOrReplaceTempView("wfi_t")
    rows = macros.sql(spark, """
        SELECT vb, cnt FROM wfi_t
        ORDER BY vb WITH FILL FROM 0 TO 100 STEP 20 INTERPOLATE (cnt)
    """).collect()
    assert [(r.vb, r.cnt) for r in rows] == \
        [(0, 7), (20, 7), (40, 7), (60, 9), (80, 9)]


def test_summing_final_end_to_end(spark):
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        declare_final_table,
    )

    spark.createDataFrame(
        [("a", 1.0, 2), ("a", 3.0, 1), ("b", 5.0, 4)],
        "k string, value double, _n long") \
        .createOrReplaceTempView("sum_t9")
    declare_final_table("sum_t9", "summing", keys=["k"],
                        payload=["value", "_n"])
    rows = {tuple(r) for r in macros.sql(
        spark, "SELECT k, value, _n FROM sum_t9 FINAL").collect()}
    assert rows == {("a", 4.0, 3), ("b", 5.0, 4)}


def test_group_uniq_array_rewrite():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    assert rewrite_aggregates(
        "SELECT d, groupUniqArray(event_type) AS t FROM e GROUP BY d") \
        == ("SELECT d, sort_array(collect_set(event_type)) AS t "
            "FROM e GROUP BY d")
    # order-free groupArray is refused AT THE REWRITE since r10 (it
    # used to leak to Spark as an unknown function — still loud, but
    # far from the cause); the sorted-subquery idiom now maps, see
    # test_sql_surface_r10.py
    with pytest.raises(ValueError, match="order-dependent"):
        rewrite_aggregates("SELECT groupArray(x) FROM t")


def test_dictionary_declare_and_rewrite(spark):
    import pytest
    from pyspark.sql import functions as F

    from rsyslog_nginx_clickhouse_spark.functions import macros
    from rsyslog_nginx_clickhouse_spark.functions.dictionary import (
        MAX_DICT_ROWS,
        declare_dictionary,
        rewrite_dict_get,
    )

    dim = spark.createDataFrame(
        [(1, "one"), (2, "two")], "k int, name string")
    declare_dictionary(spark, "t9dict", dim, key_col="k",
                       attrs={"name": "'missing'"})
    spark.createDataFrame([(1,), (2,), (99,)], "k int") \
        .createOrReplaceTempView("t9_facts")
    rows = {tuple(r) for r in macros.sql(spark, """
        SELECT k, dictGet('t9dict', 'name', k) AS name FROM t9_facts
    """).collect()}
    # default-on-missing, CH semantics
    assert rows == {(1, "one"), (2, "two"), (99, "missing")}
    # enrichment is a single scan: no join anywhere in the plan
    plan = macros.sql(
        spark, "SELECT dictGet('t9dict', 'name', k) AS n "
               "FROM t9_facts")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan

    with pytest.raises(ValueError, match="not declared"):
        rewrite_dict_get("SELECT dictGet('nope', 'x', k) FROM t")
    with pytest.raises(ValueError, match="no attribute"):
        rewrite_dict_get("SELECT dictGet('t9dict', 'zz', k) FROM t")
    with pytest.raises(ValueError, match="unsupported dictGet"):
        rewrite_dict_get("SELECT dictGetString('t9dict', 'name', k) "
                         "FROM t")
    # string DATA mentioning dictGet survives byte-identical
    q = "SELECT 'use dictGet(x) here' AS s FROM t"
    assert rewrite_dict_get(q) == q

    with pytest.raises(ValueError, match="duplicate keys"):
        declare_dictionary(
            spark, "dup9",
            spark.createDataFrame([(1, "a"), (1, "b")],
                                  "k int, v string"),
            key_col="k", attrs={"v": "''"})
    big = spark.range(MAX_DICT_ROWS + 1).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v"))
    # r10: the explicit literal style still refuses over-cap; the
    # default (auto) degrades to the broadcast-join path instead —
    # covered in test_sql_surface_r10.py
    with pytest.raises(ValueError, match="exceeds"):
        declare_dictionary(spark, "big9", big, key_col="k",
                           attrs={"v": "''"}, style="literal")


def test_top_and_with_ties_rewrites(spark):
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_limit_with_ties,
        rewrite_top,
    )

    assert rewrite_top("SELECT TOP 5 a FROM t ORDER BY a") == \
        "SELECT a FROM t ORDER BY a LIMIT 5"
    assert rewrite_top("SELECT DISTINCT TOP 3 a FROM t") == \
        "SELECT DISTINCT a FROM t LIMIT 3"
    q = "SELECT a FROM t LIMIT 5"
    assert rewrite_top(q) == q
    with pytest.raises(ValueError, match="cannot be combined"):
        rewrite_top("SELECT TOP 5 a FROM t LIMIT 3")

    out = rewrite_limit_with_ties(
        "SELECT a, c FROM t ORDER BY c DESC LIMIT 2 WITH TIES")
    assert "rank() OVER (ORDER BY c DESC)" in out
    assert "__rk <= 2" in out and "WITH TIES" not in out
    q2 = "SELECT a FROM t ORDER BY a LIMIT 2"
    assert rewrite_limit_with_ties(q2) == q2
    with pytest.raises(ValueError, match="unsupported WITH TIES"):
        rewrite_limit_with_ties("SELECT a FROM t LIMIT 2 WITH TIES")

    # execution: the tie at the cut row is kept entirely
    from rsyslog_nginx_clickhouse_spark.functions import macros

    spark.createDataFrame(
        [("a", 5), ("b", 3), ("c", 3), ("d", 1)], "k string, c int") \
        .createOrReplaceTempView("ties_t")
    rows = macros.sql(spark, """
        SELECT k, c FROM ties_t ORDER BY c DESC LIMIT 2 WITH TIES
    """).collect()
    assert {(r.k, r.c) for r in rows} == {("a", 5), ("b", 3), ("c", 3)}
    top = macros.sql(
        spark, "SELECT TOP 2 k FROM ties_t ORDER BY c DESC, k"
    ).collect()
    assert [r.k for r in top] == ["a", "b"]


def test_round9_rewrite_hardening():
    """Self-review findings: single-char scalar-WITH expressions,
    two-level nesting in combinator args, deeper-nesting refusal, and
    qualified references staying columns."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
        rewrite_scalar_with,
    )

    assert rewrite_scalar_with(
        "WITH 5 AS k SELECT k, k2, kk FROM t WHERE k < k2") == \
        "SELECT (5), k2, kk FROM t WHERE (5) < k2"
    # qualified t.k is the COLUMN (CH resolution), not the constant
    assert rewrite_scalar_with("WITH 5 AS k SELECT t.k, k FROM t") == \
        "SELECT t.k, (5) FROM t"
    assert rewrite_aggregates(
        "SELECT quantilesExact(0.5)(abs(round(v, 2))) AS qs FROM t") \
        == "SELECT percentile(abs(round(v, 2)), array(0.5)) AS qs FROM t"
    assert rewrite_aggregates(
        "SELECT groupUniqArray(lower(trim(x))) AS t FROM t") == \
        "SELECT sort_array(collect_set(lower(trim(x)))) AS t FROM t"
    assert rewrite_aggregates(
        "SELECT quantiles(0.5)(a(b(c(d)))) FROM t") == \
        "SELECT percentile_approx(a(b(c(d))), array(0.5)) FROM t"
    # masked literals still never trip the leak check
    q = "SELECT 'groupUniqArray(x)' AS s FROM t"
    assert rewrite_aggregates(q) == q
