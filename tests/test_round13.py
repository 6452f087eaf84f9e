"""Round-13 regression tests.

Covers untruncated plan metadata (the session conf that
tools/plancheck.py's pushed-filter count depends on) and the verbatim
CH SQL spellings of the behavioral aggregates (windowFunnel /
sequenceMatch / sequenceCount), WITH FILL, -State/-Merge and
histogram(N)(x).
"""

import pytest


def test_plan_metadata_not_truncated(spark):
    """Plan metadata truncates at maxMetadataStringLength (default
    100), which can cut `PushedFilters: [...]` before its closing
    bracket; tools/plancheck.py reads that list from the tree plan to
    count pushed filters, so a cut list under-reports pushdown at a
    point that depends on the digit width of expression ids. The
    session pins the length high enough that metadata never
    truncates."""
    assert int(spark.conf.get("spark.sql.maxMetadataStringLength")) \
        >= 10000


# ------------------- behavioral-aggregate SQL spellings (item 3) --

def _funnel_df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_type string")


def _ts(sec):
    import datetime as dt
    return dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) \
        + dt.timedelta(seconds=sec)


def test_window_funnel_sql_matches_operator_slot_semantics(spark):
    """The engine-landmine example: A@0 B@1 B@9 C@9, window 10 —
    strict_increase must report level 2 (the B@9 slot overwrite makes
    C fail), NOT 3, though an increasing chain A@0,B@1,C@9 exists.
    Proves the SQL spelling folds CH's slot algorithm, not an
    EXISTS-chain."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [(1, _ts(0), "A"), (1, _ts(1), "B"), (1, _ts(9), "B"),
            (1, _ts(9), "C")]
    _funnel_df(spark, rows).createOrReplaceTempView("wf13")
    q = ("SELECT user_id, windowFunnel(10, 'strict_increase')"
         "(ts, event_type = 'A', event_type = 'B', event_type = 'C')"
         " AS lvl FROM wf13 GROUP BY user_id")
    assert sql(spark, q).collect()[0].lvl == 2
    # plain mode: the same events complete the funnel (C@9 within 10s
    # of the chain start A@0, equal timestamps allowed)
    q = ("SELECT user_id, windowFunnel(10)"
         "(ts, event_type = 'A', event_type = 'B', event_type = 'C')"
         " AS lvl FROM wf13 GROUP BY user_id")
    assert sql(spark, q).collect()[0].lvl == 3


def test_window_funnel_sql_strict_order_and_dedup(spark):
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    # strict_order: the X between A and B interrupts the chain
    rows = [(1, _ts(0), "A"), (1, _ts(1), "X"), (1, _ts(2), "B"),
            (2, _ts(0), "A"), (2, _ts(1), "B")]
    _funnel_df(spark, rows).createOrReplaceTempView("wf13o")
    q = ("SELECT user_id, windowFunnel(100, 'strict_order')"
         "(ts, event_type = 'A', event_type = 'B') AS lvl "
         "FROM wf13o GROUP BY user_id ORDER BY user_id")
    got = [r.lvl for r in sql(spark, q).collect()]
    assert got == [1, 2]
    # strict_dedup (and the strict_deduplication alias): a second B
    # terminates with level 2
    rows = [(1, _ts(0), "A"), (1, _ts(1), "B"), (1, _ts(2), "B"),
            (1, _ts(3), "C")]
    _funnel_df(spark, rows).createOrReplaceTempView("wf13d")
    q = ("SELECT user_id, windowFunnel(100, 'strict_deduplication')"
         "(ts, event_type = 'A', event_type = 'B', event_type = 'C')"
         " AS lvl FROM wf13d GROUP BY user_id")
    assert sql(spark, q).collect()[0].lvl == 2


def test_window_funnel_sql_refusals():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    with pytest.raises(ValueError, match="parametric form"):
        rewrite_aggregates(
            "SELECT windowFunnel(ts, a, b) FROM t GROUP BY u")
    with pytest.raises(ValueError, match="literal integer"):
        rewrite_aggregates(
            "SELECT windowFunnel(w)(ts, a, b) FROM t GROUP BY u")
    with pytest.raises(ValueError, match="unknown windowFunnel mode"):
        rewrite_aggregates(
            "SELECT windowFunnel(10, 'strict')(ts, a, b) FROM t")
    with pytest.raises(ValueError, match="string literal"):
        rewrite_aggregates(
            "SELECT windowFunnel(10, mode)(ts, a, b) FROM t")
    with pytest.raises(ValueError, match="at least 2 conditions"):
        rewrite_aggregates("SELECT windowFunnel(10)(ts, a) FROM t")
    # string DATA mentioning the name must come back untouched
    q = "SELECT * FROM t WHERE s = 'windowFunnel(10)(ts, a, b)'"
    assert rewrite_aggregates(q) == q


def test_sequence_match_sql_time_constraint_boundary(spark):
    """(?t<=5) binds the two events ADJACENT condition atoms match —
    consecutive stored events: 6s apart fails, 5s passes, and an
    intervening stored event breaks adjacency."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [(1, _ts(0), "A"), (1, _ts(5), "B"),    # 5s: pass
            (2, _ts(0), "A"), (2, _ts(6), "B"),    # 6s: fail
            (3, _ts(0), "A"), (3, _ts(2), "A"), (3, _ts(4), "B")]
    # user 3: A@2 and B@4 are adjacent (2s) -> pass
    _funnel_df(spark, rows).createOrReplaceTempView("sm13")
    q = ("SELECT user_id, sequenceMatch('(?1)(?t<=5)(?2)')"
         "(ts, event_type = 'A', event_type = 'B') AS m "
         "FROM sm13 GROUP BY user_id ORDER BY user_id")
    got = [r.m for r in sql(spark, q).collect()]
    assert got == [True, False, True]
    # ... and with a non-adjacent pattern (.* between), the time
    # constraint parse refuses (the CH contract)
    with pytest.raises(ValueError):
        sql(spark, "SELECT sequenceMatch('(?1).*(?t<=5)(?2)')"
                   "(ts, event_type = 'A', event_type = 'B') "
                   "FROM sm13 GROUP BY user_id")


def test_sequence_count_sql_and_timed_refusal(spark):
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [(1, _ts(0), "A"), (1, _ts(1), "B"), (1, _ts(2), "A"),
            (1, _ts(3), "B")]
    _funnel_df(spark, rows).createOrReplaceTempView("sc13")
    q = ("SELECT sequenceCount('(?1).*(?2)')"
         "(ts, event_type = 'A', event_type = 'B') AS n "
         "FROM sc13 GROUP BY user_id")
    # lazy non-overlapping: "1212" counts 2 (greedy would count 1)
    assert sql(spark, q).collect()[0].n == 2
    with pytest.raises(ValueError, match="no inline SQL spelling"):
        sql(spark, "SELECT sequenceCount('(?1)(?t<=5)(?2)')"
                   "(ts, event_type = 'A', event_type = 'B') "
                   "FROM sc13 GROUP BY user_id")


def test_sequence_match_sql_empty_and_nonmatching_users(spark):
    """Users whose events all miss the conditions keep a row (empty
    stored sequence -> no match), the CH aggregation contract."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [(1, _ts(0), "X"), (2, _ts(0), "A"), (2, _ts(1), "B")]
    _funnel_df(spark, rows).createOrReplaceTempView("se13")
    q = ("SELECT user_id, sequenceMatch('(?1)(?t<=5)(?2)')"
         "(ts, event_type = 'A', event_type = 'B') AS m "
         "FROM se13 GROUP BY user_id ORDER BY user_id")
    got = [(r.user_id, r.m) for r in sql(spark, q).collect()]
    assert got == [(1, False), (2, True)]


# --------------- WITH FILL DESC + general INTERPOLATE (item 5) --

def test_with_fill_desc_chained_interpolate(spark):
    """DESC spine (reversed sequence, TO exclusive as lower bound),
    LOCF column, and a general previous-row expression evaluated
    REPEATEDLY across consecutive filled rows (cnt halves per step,
    resetting at each real row) — the CH chaining contract."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    spark.createDataFrame(
        [(9, 8.0, 100), (6, 4.0, 200), (3, 2.0, 300)],
        "k int, v double, u int").createOrReplaceTempView("fill13")
    q = ("SELECT k, v, u FROM fill13 "
         "ORDER BY k DESC WITH FILL FROM 9 TO 1 STEP -1 "
         "INTERPOLATE (u, v AS v * 0.5)")
    got = [(r.k, r.v, r.u) for r in sql(spark, q).collect()]
    assert got == [(9, 8.0, 100), (8, 4.0, 100), (7, 2.0, 100),
                   (6, 4.0, 200), (5, 2.0, 200), (4, 1.0, 200),
                   (3, 2.0, 300), (2, 1.0, 300)]


def test_with_fill_interpolate_expr_leading_rows_stay_null(spark):
    """Filled rows BEFORE the first source row have no previous row:
    the expression evaluates over NULL and stays NULL (documented
    deviation from CH's type-default fill)."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    spark.createDataFrame([(2, 10.0)], "k int, v double") \
        .createOrReplaceTempView("fill13b")
    q = ("SELECT k, v FROM fill13b "
         "ORDER BY k WITH FILL FROM 0 TO 5 STEP 1 "
         "INTERPOLATE (v AS v + 1)")
    got = [(r.k, r.v) for r in sql(spark, q).collect()]
    assert got == [(0, None), (1, None), (2, 10.0), (3, 11.0),
                   (4, 12.0)]


def test_with_fill_interpolate_expr_with_function_call(spark):
    """INTERPOLATE items may contain one level of calls (the old
    regex choked on parens inside the item list)."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    spark.createDataFrame([(0, -8.0)], "k int, v double") \
        .createOrReplaceTempView("fill13c")
    q = ("SELECT k, v FROM fill13c "
         "ORDER BY k WITH FILL FROM 0 TO 3 STEP 1 "
         "INTERPOLATE (v AS abs(v) * 0.5)")
    got = [(r.k, r.v) for r in sql(spark, q).collect()]
    assert got == [(0, -8.0), (1, 4.0), (2, 2.0)]


# --------------------- -State/-Merge SQL spellings (item 6) --

def test_state_merge_kmv_k_matches_rollup():
    """The SQL spelling's sketch size must equal the rollup rows'
    (_KMV_K) or merged reads stop being bit-equal to their oracles."""
    from rsyslog_nginx_clickhouse_spark.functions import macros
    from rsyslog_nginx_clickhouse_spark.queries import reference

    assert macros._STATE_KMV_K == reference._KMV_K


def test_state_merge_roundtrip_equals_direct(spark):
    """uniqMerge over per-part uniqState == direct KMV; quantileMerge
    over per-part quantileState == direct ceil-rank discrete
    quantile — merge exactness, the AggregatingMergeTree property."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [(i % 3, float(i % 7), i) for i in range(200)]
    spark.createDataFrame(rows, "g int, v double, u int") \
        .createOrReplaceTempView("st13")
    merged = sql(spark, """
        SELECT g, uniqMerge(us) AS uq, quantileMerge(0.5)(qs) AS med
        FROM (SELECT g, u % 4 AS part, uniqState(u) AS us,
                     quantileState(v) AS qs
              FROM st13 GROUP BY g, u % 4)
        GROUP BY g ORDER BY g""").collect()
    direct = sql(spark, """
        SELECT g, uniqMerge(us) AS uq, quantileMerge(0.5)(qs) AS med
        FROM (SELECT g, uniqState(u) AS us, quantileState(v) AS qs
              FROM st13 GROUP BY g)
        GROUP BY g ORDER BY g""").collect()
    assert [tuple(r) for r in merged] == [tuple(r) for r in direct]
    # below k the estimate is EXACT: 200 users across 3 groups
    for r in merged:
        assert r.uq == len({u for g, v, u in rows if g == r.g})


def test_state_merge_refusals():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    with pytest.raises(ValueError, match="takes no level"):
        rewrite_aggregates("SELECT quantileState(0.9)(v) FROM t")
    with pytest.raises(ValueError, match="parametric form"):
        rewrite_aggregates("SELECT quantileMerge(qs) FROM t")
    with pytest.raises(ValueError, match="literal fraction"):
        rewrite_aggregates("SELECT quantileMerge(p)(qs) FROM t")
    # a three-level argument is one more argument, not a refusal
    assert "uniqState" not in rewrite_aggregates(
        "SELECT uniqState(f(g(h(x)))) FROM t")


# ------------------------------- histogram(N)(x) (item 7) --

def test_histogram_sql_bins(spark):
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    spark.createDataFrame([(float(v),) for v in range(10)], "v double") \
        .createOrReplaceTempView("h13")
    got = sql(spark, "SELECT histogram(3)(v) AS h FROM h13") \
        .collect()[0].h
    # [0,9] in 3 bins of width 3: [0,3)->3, [3,6)->3, [6,9]->4
    # (last bin right-inclusive — the max value lands in it)
    assert [(b.lo, b.hi, b.h) for b in got] == [
        (0.0, 3.0, 3.0), (3.0, 6.0, 3.0), (6.0, 9.0, 4.0)]
    # constant group: everything in bin 0, degenerate edges
    spark.createDataFrame([(5.0,), (5.0,)], "v double") \
        .createOrReplaceTempView("h13c")
    got = sql(spark, "SELECT histogram(2)(v) AS h FROM h13c") \
        .collect()[0].h
    assert [(b.lo, b.hi, b.h) for b in got] == [
        (5.0, 5.0, 2.0), (5.0, 5.0, 0.0)]


def test_histogram_sql_refusals():
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    with pytest.raises(ValueError, match="parametric form"):
        rewrite_aggregates("SELECT histogram(v) FROM t")
    with pytest.raises(ValueError, match="literal integer"):
        rewrite_aggregates("SELECT histogram(n)(v) FROM t")
    with pytest.raises(ValueError, match="1-256"):
        rewrite_aggregates("SELECT histogram(0)(v) FROM t")


def test_additive_state_merge_equals_direct(spark):
    """sum/count/min/max/avg State+Merge over parts == the direct
    aggregates (additive merges are exact by definition)."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [(i % 3, i % 4, float(i)) for i in range(100)]
    spark.createDataFrame(rows, "g int, part int, v double") \
        .createOrReplaceTempView("ad13")
    merged = sql(spark, """
        SELECT g, sumMerge(ss) AS s, countMerge(cs) AS c,
               minMerge(ms) AS mn, maxMerge(xs) AS mx,
               avgMerge(av) AS a
        FROM (SELECT g, part, sumState(v) AS ss, countState(v) AS cs,
                     minState(v) AS ms, maxState(v) AS xs,
                     avgState(v) AS av
              FROM ad13 GROUP BY g, part)
        GROUP BY g ORDER BY g""").collect()
    direct = sql(spark, """
        SELECT g, sum(v) AS s, count(v) AS c, min(v) AS mn,
               max(v) AS mx, avg(v) AS a
        FROM ad13 GROUP BY g ORDER BY g""").collect()
    assert [tuple(r) for r in merged] == [tuple(r) for r in direct]


# ------------- sequence conditions beyond 9 (missing item 5) --

def test_sequence_match_twelve_conditions(spark):
    """Round 13 lifts the 9-condition one-char-label limit to CH's 32
    via a letter alphabet for 10+; digit labels for <= 9 stay
    byte-identical (every existing oracle unchanged)."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql
    from rsyslog_nginx_clickhouse_spark.operators.funnel import (
        sequence_match,
    )
    from pyspark.sql import functions as F

    types = [f"t{i}" for i in range(1, 13)]
    rows = [(1, _ts(i), f"t{i}") for i in range(1, 13)]     # full chain
    rows += [(2, _ts(1), "t1"), (2, _ts(2), "t12")]         # 1 then 12
    rows += [(3, _ts(1), "t12"), (3, _ts(2), "t1")]         # wrong order
    _funnel_df(spark, rows).createOrReplaceTempView("sq13w")
    conds_sql = ", ".join(f"event_type = 't{i}'"
                          for i in range(1, 13))
    q = (f"SELECT user_id, sequenceMatch('(?1).*(?12)')"
         f"(ts, {conds_sql}) AS m "
         f"FROM sq13w GROUP BY user_id ORDER BY user_id")
    got = [(r.user_id, r.m) for r in sql(spark, q).collect()]
    assert got == [(1, True), (2, True), (3, False)]
    # operator API agrees
    conds = [F.col("event_type") == t for t in types]
    ev = spark.table("sq13w")
    want = {r.user_id: r.matched for r in sequence_match(
        ev, conds, "(?1).*(?12)", time_col="ts").collect()}
    assert want == {1: True, 2: True, 3: False}
    # a pattern referencing a condition beyond the list still refuses
    with pytest.raises(ValueError, match="condition 13"):
        sql(spark, f"SELECT sequenceMatch('(?13)')(ts, {conds_sql}) "
                   f"FROM sq13w GROUP BY user_id")


def test_sequence_labels_unchanged_for_nine_or_fewer():
    """The <= 9 digit encoding is frozen: oracles string-match it."""
    from rsyslog_nginx_clickhouse_spark.operators.funnel import (
        seq_alphabet,
        translate_sequence_pattern,
    )

    assert seq_alphabet(9) == "123456789"
    assert len(seq_alphabet(32)) == 32
    assert translate_sequence_pattern("(?1).*(?2)", 2) == "1.*2"
    assert translate_sequence_pattern("(?1).*(?12)", 12) == "A.*L"
    with pytest.raises(ValueError, match="at most 32"):
        seq_alphabet(33)


def test_with_fill_multikey_per_group_grids(spark):
    """ORDER BY series, t WITH FILL: the grid regenerates per prefix
    key, LOCF and chained expressions partition by it, and derived
    bounds are each group's own min/max."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    spark.createDataFrame(
        [("a", 1, 10.0), ("a", 4, 40.0), ("b", 2, 5.0), ("b", 3, 7.0)],
        "s string, k int, v double").createOrReplaceTempView("mk13t")
    got = [tuple(r) for r in sql(
        spark, "SELECT s, k, v FROM mk13t ORDER BY s, k "
               "WITH FILL STEP 1 INTERPOLATE (v)").collect()]
    assert got == [("a", 1, 10.0), ("a", 2, 10.0), ("a", 3, 10.0),
                   ("a", 4, 40.0), ("b", 2, 5.0), ("b", 3, 7.0)]
    # chained expr restarts per group; leading rows stay NULL
    got = [tuple(r) for r in sql(
        spark, "SELECT s, k, v FROM mk13t ORDER BY s, k "
               "WITH FILL FROM 1 TO 5 STEP 1 "
               "INTERPOLATE (v AS v + 1)").collect()]
    assert got == [("a", 1, 10.0), ("a", 2, 11.0), ("a", 3, 12.0),
                   ("a", 4, 40.0),
                   ("b", 1, None), ("b", 2, 5.0), ("b", 3, 7.0),
                   ("b", 4, 8.0)]


def test_argmax_state_merge_and_linreg(spark):
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [(1, 1.0, 10), (1, 2.0, 30), (1, 3.0, 20),
            (2, 1.0, 5), (2, 9.0, 7)]
    spark.createDataFrame(rows, "g int, o double, p int") \
        .createOrReplaceTempView("ax13")
    got = [tuple(r) for r in sql(spark, """
        SELECT g, argMaxMerge(sx) AS latest, argMinMerge(sn) AS first
        FROM (SELECT g, p % 2 AS part, argMaxState(p, o) AS sx,
                     argMinState(p, o) AS sn
              FROM ax13 GROUP BY g, p % 2)
        GROUP BY g ORDER BY g""").collect()]
    assert got == [(1, 20, 10), (2, 7, 5)]
    # simpleLinearRegression: y = 2x + 1 exactly
    spark.createDataFrame([(float(x), 2.0 * x + 1) for x in range(5)],
                          "x double, y double") \
        .createOrReplaceTempView("lr13")
    r = sql(spark, "SELECT simpleLinearRegression(x, y) AS lr "
                   "FROM lr13").collect()[0].lr
    assert (round(r.k, 9), round(r.b, 9)) == (2.0, 1.0)


def test_topk_state_merge_truncation_semantics(spark):
    """With capacity >= distinct per part, merged == exact top-k;
    with a tight capacity the truncated-merge algorithm is replayed
    (an item missing from every part's kept set cannot surface)."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    # part 0: a x3, b x2, c x1; part 1: c x3, d x2, a x1
    rows = ([("a", 0)] * 3 + [("b", 0)] * 2 + [("c", 0)]
            + [("c", 1)] * 3 + [("d", 1)] * 2 + [("a", 1)])
    spark.createDataFrame(rows, "v string, part int") \
        .createOrReplaceTempView("tk13")
    got = sql(spark, """
        SELECT array_join(topKMerge(2)(tk), ',') AS top
        FROM (SELECT part, topKState(2)(v) AS tk
              FROM tk13 GROUP BY part)""").collect()[0].top
    # states keep (a:3, b:2) and (c:3, d:2); merged a:3(+? a's 1 was
    # truncated from part 1) -> a:3, c:3, b:2, d:2 -> top2 = a,c
    assert got == "a,c"
    with pytest.raises(ValueError, match="parametric form"):
        sql(spark, "SELECT topKState(v) FROM tk13 GROUP BY part")


def test_array_reduce_folds_and_refusals(spark):
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    spark.createDataFrame([(1,)], "x int") \
        .createOrReplaceTempView("ar13")
    r = sql(spark, """
        SELECT arrayReduce('sum', array(1, 2, NULL, 3)) AS s,
               arrayReduce('count', array(1, 2, NULL, 3)) AS c,
               arrayReduce('uniqExact', array(1, 1, 2, NULL)) AS u,
               arrayReduce('avg', array(2, 4)) AS a,
               arrayReduce('min', array(3, 1)) AS mn,
               arrayReduce('max', array(3, 1)) AS mx
        FROM ar13""").collect()[0]
    assert (r.s, r.c, r.u, r.a, r.mn, r.mx) == (6.0, 3, 2, 3.0, 1, 3)
    with pytest.raises(ValueError, match="unsupported aggregate"):
        sql(spark, "SELECT arrayReduce('any', array(1)) FROM ar13")
    with pytest.raises(ValueError, match="exactly 2 arguments"):
        sql(spark, "SELECT arrayReduce('sum', array(1), array(2)) "
                   "FROM ar13")
    with pytest.raises(ValueError, match="string literal"):
        sql(spark, "SELECT arrayReduce(f, array(1)) FROM ar13")


def test_entropy_interval_and_shape_stats(spark):
    import math

    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    spark.createDataFrame(
        [(1, 1.0, 3.0), (1, 2.0, 5.0), (1, 7.0, 8.0),
         (2, 0.0, 1.0)],
        "g int, s double, e double").createOrReplaceTempView("iv13t")
    got = [tuple(r) for r in sql(
        spark, "SELECT g, intervalLengthSum(s, e) AS L FROM iv13t "
               "GROUP BY g ORDER BY g").collect()]
    assert got == [(1, 5.0), (2, 1.0)]  # [1,5] u [7,8]; [0,1]
    # inverted bounds skipped
    spark.createDataFrame([(1, 5.0, 3.0)], "g int, s double, e double") \
        .createOrReplaceTempView("iv13b")
    assert sql(spark, "SELECT intervalLengthSum(s, e) AS L "
                      "FROM iv13b GROUP BY g").collect()[0].L == 0.0
    spark.createDataFrame([("a",), ("a",), ("b",), ("c",)],
                          "v string").createOrReplaceTempView("en13t")
    h = sql(spark, "SELECT round(entropy(v), 6) AS h "
                   "FROM en13t").collect()[0].h
    assert h == round(-(0.5 * math.log2(0.5)
                        + 2 * 0.25 * math.log2(0.25)), 6) == 1.5
    xs = [1.0, 2.0, 3.0, 4.0, 10.0]
    spark.createDataFrame([(x,) for x in xs], "x double") \
        .createOrReplaceTempView("sk13t")
    r = sql(spark, "SELECT round(skewPop(x),6) sp, "
                   "round(kurtPop(x),6) kp, round(skewSamp(x),6) ss, "
                   "round(kurtSamp(x),6) ks FROM sk13t").collect()[0]
    n = len(xs); mu = sum(xs) / n
    m2 = sum((x - mu) ** 2 for x in xs) / n
    m3 = sum((x - mu) ** 3 for x in xs) / n
    m4 = sum((x - mu) ** 4 for x in xs) / n
    # CH Moments.h: central moments stay /n, only the variance is
    # /(n-1) — skewSamp = (m3)/varSamp^1.5 = skewPop*((n-1)/n)^1.5,
    # kurtSamp = m4/varSamp^2 = kurtPop*((n-1)/n)^2 (ADVICE r13)
    var_samp = m2 * n / (n - 1)
    assert (r.sp, r.kp, r.ss, r.ks) == (
        round(m3 / m2 ** 1.5, 6), round(m4 / m2 ** 2, 6),
        round(m3 / var_samp ** 1.5, 6),
        round(m4 / var_samp ** 2, 6))


def test_sequence_next_node_modes(spark):
    """CH doc semantics: ADJACENT chain matching, base anchoring,
    first/last_match picks, NULL when no following event."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [(1, _ts(0), "A"), (1, _ts(1), "B"), (1, _ts(2), "C"),
            (1, _ts(3), "D"),
            (2, _ts(0), "X"), (2, _ts(1), "A"), (2, _ts(2), "B"),
            (2, _ts(3), "C"),
            (3, _ts(0), "A"), (3, _ts(1), "B"),
            (4, _ts(0), "A"), (4, _ts(1), "B"), (4, _ts(2), "C"),
            (4, _ts(3), "A"), (4, _ts(4), "B"), (4, _ts(5), "D")]
    spark.createDataFrame(
        rows, "user_id int, ts timestamp, page string") \
        .createOrReplaceTempView("snn13t")
    chain = "page, page = 'A', page = 'A', page = 'B'"
    for base, expect in [("head", {1: "C", 2: None, 3: None, 4: "C"}),
                         ("first_match",
                          {1: "C", 2: "C", 3: None, 4: "C"}),
                         ("last_match",
                          {1: "C", 2: "C", 3: None, 4: "D"})]:
        got = {r.user_id: r.nx for r in sql(
            spark, f"SELECT user_id, sequenceNextNode(forward, "
                   f"{base})(ts, {chain}) AS nx FROM snn13t "
                   f"GROUP BY user_id").collect()}
        assert got == expect, base
    got = {r.user_id: r.nx for r in sql(
        spark, "SELECT user_id, sequenceNextNode(backward, tail)"
               "(ts, page, page = 'D', page = 'D', page = 'C') AS nx"
               " FROM snn13t GROUP BY user_id").collect()}
    assert got == {1: "B", 2: None, 3: None, 4: None}
    # ADVICE r13: last_match anchors the ACTUAL last matching chain —
    # when that chain ends at the final event it has no follower and
    # the result is NULL, never a fallback to an earlier chain
    rows5 = [(5, _ts(0), "A"), (5, _ts(1), "B"), (5, _ts(2), "C"),
             (5, _ts(3), "A"), (5, _ts(4), "B")]
    spark.createDataFrame(
        rows5, "user_id int, ts timestamp, page string") \
        .createOrReplaceTempView("snn13tail")
    got = {r.user_id: r.nx for r in sql(
        spark, f"SELECT user_id, sequenceNextNode(forward, "
               f"last_match)(ts, {chain}) AS nx FROM snn13tail "
               f"GROUP BY user_id").collect()}
    assert got == {5: None}
    # first_match still anchors the earliest chain (which, not being
    # the tail chain, always has a follower)
    got = {r.user_id: r.nx for r in sql(
        spark, f"SELECT user_id, sequenceNextNode(forward, "
               f"first_match)(ts, {chain}) AS nx FROM snn13tail "
               f"GROUP BY user_id").collect()}
    assert got == {5: "C"}
    with pytest.raises(ValueError, match="invalid"):
        sql(spark, "SELECT sequenceNextNode(forward, tail)"
                   "(ts, page, true, page = 'A') FROM snn13t "
                   "GROUP BY user_id")
    with pytest.raises(ValueError, match="direction must be"):
        sql(spark, "SELECT sequenceNextNode(sideways, head)"
                   "(ts, page, true, page = 'A') FROM snn13t "
                   "GROUP BY user_id")


def test_max_intersections_and_position(spark):
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    # [0,10] [2,5] [3,4] overlap 3 deep first at p=3; [20,21] later
    rows = [(1, 0.0, 10.0), (1, 2.0, 5.0), (1, 3.0, 4.0),
            (1, 20.0, 21.0)]
    spark.createDataFrame(rows, "g int, s double, e double") \
        .createOrReplaceTempView("mi13")
    r = sql(spark, "SELECT maxIntersections(s, e) AS p, "
                   "maxIntersectionsPosition(s, e) AS pp "
                   "FROM mi13 GROUP BY g").collect()[0]
    assert (r.p, r.pp) == (3, 3.0)
    # touching intervals do NOT overlap (ends sort before starts)
    spark.createDataFrame([(1, 0.0, 2.0), (1, 2.0, 4.0)],
                          "g int, s double, e double") \
        .createOrReplaceTempView("mi13b")
    r = sql(spark, "SELECT maxIntersections(s, e) AS p FROM mi13b "
                   "GROUP BY g").collect()[0]
    assert r.p == 1


def test_estimator_and_median_aliases():
    """uniqTheta / medianExact / medianTDigest previously passed
    through to Spark's parser as unknown functions — they rename into
    the families whose contracts they share."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    assert rewrite_aggregates("SELECT uniqTheta(x) FROM t") \
        == "SELECT approx_count_distinct(x) FROM t"
    assert rewrite_aggregates("SELECT medianExact(x) FROM t") \
        == "SELECT median(x) FROM t"
    assert rewrite_aggregates("SELECT medianTDigest(x) FROM t") \
        == "SELECT percentile_approx(x, 0.5) FROM t"


def test_group_array_bounded_max_size(spark):
    """groupArray(N)(x) — CH's bounded form keeps the FIRST N in key
    order; previously the parametric call emitted garbage (the
    literal N collected as the value)."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_group_array,
        sql,
    )

    spark.createDataFrame([(1, i, 10 - i) for i in range(6)],
                          "g int, k int, x int") \
        .createOrReplaceTempView("gab13")
    got = sql(spark, "SELECT g, arrayStringConcat(groupArray(3)(x), "
                     "',') AS a FROM (SELECT g, k, x FROM gab13 "
                     "ORDER BY k) GROUP BY g").collect()[0].a
    assert got == "10,9,8"
    with pytest.raises(ValueError, match="literal integer"):
        rewrite_group_array(
            "SELECT groupArray(n)(x) FROM (SELECT n, x, k FROM t "
            "ORDER BY k) GROUP BY g")
