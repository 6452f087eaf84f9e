"""Round-14 surface: ADVICE r13 fixes (shape-stat factors, the
funnel/sequence mutual-exclusivity guard, sequenceNextNode
last_match tail anchoring), the anyLast/quantileTiming rename
families, the groupArray(N) / estimator-alias registry rows, the
materialized-view DDL analog, and exact substring dedup."""

from __future__ import annotations

import datetime

import pytest


def _ts(s: float) -> datetime.datetime:
    return (datetime.datetime(2024, 1, 1)
            + datetime.timedelta(seconds=s))


def test_duplicate_conditions_refused():
    """ADVICE r13: the SQL spellings label events by FIRST matching
    condition — textually identical conditions can never fire at the
    later position, so they are refused with the mutual-exclusivity
    assumption stated (CH evaluates conditions independently)."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    with pytest.raises(ValueError, match="mutually exclusive"):
        rewrite_aggregates(
            "SELECT windowFunnel(10)(ts, a = 1, a = 1) "
            "FROM t GROUP BY u")
    with pytest.raises(ValueError, match="mutually exclusive"):
        rewrite_aggregates(
            "SELECT sequenceMatch('(?1).*(?2)')(ts, a=1, a =  1) "
            "FROM t GROUP BY u")
    with pytest.raises(ValueError, match="mutually exclusive"):
        rewrite_aggregates(
            "SELECT sequenceCount('(?1).*(?2)')(ts, b > 2, b > 2) "
            "FROM t GROUP BY u")
    # distinct predicates still rewrite (no false positives)
    out = rewrite_aggregates(
        "SELECT windowFunnel(10)(ts, a = 1, a = 2) "
        "FROM t GROUP BY u")
    assert "windowFunnel" not in out


def test_any_last_family(spark):
    """anyLast/anyIf/anyLastIf in the sorted-subquery idiom: the
    last/first NON-NULL value in declared key order (VERDICT r13
    item 3 — the ReplacingMergeTree-idiom aggregates)."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [(1, 1, None), (1, 2, "b"), (1, 3, "c"),
            (2, 1, "x"), (2, 2, None),
            (3, 1, None)]
    spark.createDataFrame(rows, "g int, k int, v string") \
        .createOrReplaceTempView("al14t")
    got = {r.g: (r.last_v, r.first_even, r.last_small) for r in sql(
        spark, """
        SELECT g, anyLast(v) AS last_v,
               anyIf(v, k % 2 = 0) AS first_even,
               anyLastIf(v, k < 3) AS last_small
        FROM (SELECT g, k, v FROM al14t ORDER BY g, k)
        GROUP BY g ORDER BY g""").collect()}
    # g=1: values (NULL,b,c) → last=c; even k=2 → b; k<3 → b
    # g=2: (x,NULL) → last=x; even k=2 v NULL → NULL; k<3 → x
    # g=3: all NULL → NULL everywhere
    assert got == {1: ("c", "b", "b"), 2: ("x", None, "x"),
                   3: (None, None, None)}
    # bare/unsorted anyLast is refused like groupArray (a silently
    # nondeterministic pick is worse than an error)
    with pytest.raises(ValueError, match="order-dependent"):
        sql(spark, "SELECT g, anyLast(v) FROM al14t GROUP BY g")
    with pytest.raises(ValueError, match="exactly one argument"):
        sql(spark, "SELECT g, anyLast(v, k) FROM "
                   "(SELECT * FROM al14t ORDER BY g, k) GROUP BY g")
    with pytest.raises(ValueError, match="exactly 2"):
        sql(spark, "SELECT g, anyIf(v) FROM "
                   "(SELECT * FROM al14t ORDER BY g, k) GROUP BY g")
    # string DATA mentioning the names is untouched
    out = sql(spark, "SELECT 'anyLast(x)' AS s").collect()[0].s
    assert out == "anyLast(x)"


def test_exact_substring_matches(spark):
    """The suffix-adjacency operator: exact cross-doc match lengths,
    capped; same-doc repeats don't count; the all-equal (full-cap)
    pair resolves to the compared length."""
    from rsyslog_nginx_clickhouse_spark.operators.dedup import (
        exact_substring_matches,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"),        # shares 'a b c d e' with 2
         (2, "x y a b c d e z"),
         (3, "p q r s t"),            # exact twin of 4 (cap case)
         (4, "p q r s t"),
         (5, "l o n e w o r d s"),    # no cross-doc match
         (6, "m m m m m m m")],       # within-doc repeats only
        "doc_id long, text string")
    got = {r.doc_id: (r.longest_dup, r.n_dup_starts)
           for r in exact_substring_matches(
               docs, min_len=3, cap=10).collect()}
    assert got == {1: (5, 3), 2: (5, 3), 3: (5, 3), 4: (5, 3),
                   5: (0, 0), 6: (0, 0)}
    # cap truncates reported length, not detection
    twin = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h")],
        "doc_id long, text string")
    got = {r.doc_id: r.longest_dup
           for r in exact_substring_matches(
               twin, min_len=3, cap=4).collect()}
    assert got == {1: 4, 2: 4}


def test_exact_substring_hot_bucket_prefilter(spark):
    """Round-14 optimization internals: the keys-only first pass drops
    every bucket touched by a single document BEFORE suffixes are
    attached. A hot bucket holding a same-doc repeat AND a cross-doc
    entry must keep its full entry set (adjacency inside the kept
    bucket is unchanged), while pure within-doc repeats still yield
    (0, 0)."""
    from rsyslog_nginx_clickhouse_spark.operators.dedup import (
        exact_substring_matches,
    )

    docs = spark.createDataFrame(
        # doc 1 contains 'a b c' TWICE (same-doc repeat inside the hot
        # bucket) and doc 2 once: the bucket survives the prefilter
        # with all three occurrences, the same-doc adjacent pair earns
        # nothing, and both cross-doc neighbours credit.
        [(1, "a b c q a b c"),
         (2, "z a b c z"),
         (3, "u u u v u u u")],      # within-doc only: pruned pass 1
        "doc_id long, text string")
    got = {r.doc_id: (r.longest_dup, r.n_dup_starts)
           for r in exact_substring_matches(
               docs, min_len=3, cap=10).collect()}
    assert got[3] == (0, 0)
    assert got[1][0] == 3 and got[2][0] == 3
    assert got[1][1] >= 1 and got[2][1] == 1


def test_materialized_view_ddl(spark, tmp_path):
    """declare/insert/read round-trip plus the loud DDL refusals
    (VERDICT r13 item 4)."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql
    from rsyslog_nginx_clickhouse_spark.plans.materialized_view import (
        declare_materialized_view,
        get_materialized_view,
    )

    rows = [(1, "a", 10), (2, "a", 20), (3, "b", 30),
            (4, "a", 40), (5, "b", 50), (6, "b", 60)]
    df = spark.createDataFrame(rows, "id int, g string, v int")
    df.where("id <= 2").createOrReplaceTempView("mvt14_src")
    mv = declare_materialized_view(spark, """
        CREATE MATERIALIZED VIEW mvt14
        ENGINE = SummingMergeTree() ORDER BY (g) POPULATE AS
        SELECT g, sumState(v) AS sv, countState() AS cv
        FROM mvt14_src GROUP BY g
    """, path=str(tmp_path / "mvt14"))
    assert mv.n_parts == 1  # POPULATE wrote part 0
    mv.insert(spark, df.where("id IN (3, 4)"))
    mv.insert(spark, df.where("id >= 5"))
    got = {r.g: (r.total, r.n) for r in sql(spark, """
        SELECT g, CAST(sumMerge(sv) AS BIGINT) AS total,
               countMerge(cv) AS n
        FROM mvt14 GROUP BY g ORDER BY g""").collect()}
    assert got == {"a": (70, 3), "b": (140, 3)}
    assert get_materialized_view("mvt14") is mv
    with pytest.raises(ValueError, match="not declared"):
        get_materialized_view("nope")
    with pytest.raises(ValueError, match="TO"):
        declare_materialized_view(spark, """
            CREATE MATERIALIZED VIEW m2 TO tgt
            ENGINE = AggregatingMergeTree() ORDER BY (g)
            AS SELECT g, sumState(v) AS sv FROM mvt14_src GROUP BY g
        """)
    with pytest.raises(ValueError, match="ENGINE must be"):
        declare_materialized_view(spark, """
            CREATE MATERIALIZED VIEW m3
            ENGINE = ReplacingMergeTree() ORDER BY (g)
            AS SELECT g, sumState(v) AS sv FROM mvt14_src GROUP BY g
        """)
    with pytest.raises(ValueError, match="GROUP BY"):
        declare_materialized_view(spark, """
            CREATE MATERIALIZED VIEW m4
            ENGINE = AggregatingMergeTree() ORDER BY (g)
            AS SELECT g, v FROM mvt14_src
        """)
    with pytest.raises(ValueError, match="unparseable"):
        declare_materialized_view(spark, "CREATE VIEW x AS SELECT 1")


def test_materialized_view_streaming_sink_idempotent(spark, tmp_path):
    """The streaming maintainer's epoch parts publish through
    idempotent_epoch_writer: replaying the same epoch (checkpoint
    recovery) must not double-count states."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql
    from rsyslog_nginx_clickhouse_spark.plans.materialized_view import (
        declare_materialized_view,
    )

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
        "id int, g string, v int")
    df.createOrReplaceTempView("smvt14_src")
    mv = declare_materialized_view(spark, """
        CREATE MATERIALIZED VIEW smvt14
        ENGINE = SummingMergeTree() ORDER BY (g) AS
        SELECT g, sumState(v) AS sv, countState() AS cv
        FROM smvt14_src GROUP BY g
    """, path=str(tmp_path / "smvt14"))
    sink = mv.streaming_sink(spark)
    sink(df, 0)
    sink(df, 0)  # checkpoint replay of the SAME epoch — no-op
    sink(df.where("id = 1"), 1)  # a genuinely new epoch appends
    got = {r.g: (r.total, r.n) for r in sql(spark, """
        SELECT g, CAST(sumMerge(sv) AS BIGINT) AS total,
               countMerge(cv) AS n
        FROM smvt14 GROUP BY g ORDER BY g""").collect()}
    assert got == {"a": (40, 3), "b": (30, 1)}


def test_quantile_timing_renames(spark):
    """quantileTiming/quantilesTiming/medianTiming rename into the
    percentile_approx estimator family (VERDICT r13 item 3)."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    spark.createDataFrame([(float(i),) for i in range(1, 101)],
                          "x double").createOrReplaceTempView("qt14t")
    r = sql(spark, """
        SELECT quantileTiming(0.5)(x) AS q50,
               quantileTiming(x) AS qbare,
               medianTiming(x) AS med,
               quantilesTiming(0.25, 0.75)(x)[0] AS q25
        FROM qt14t""").collect()[0]
    assert r.q50 == r.qbare == r.med == 50.0
    assert r.q25 == 25.0


def test_bounding_ratio(spark):
    """boundingRatio(x, y): endpoint slope, NULL-coordinate rows
    skipped, single-point group → NULL (0/0 — the avgWeighted
    NaN-deviation policy), deterministic (x, y)-struct tie pick."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [(1, 0.0, 10.0), (1, 5.0, 0.0), (1, 10.0, 30.0),
            (2, 1.0, 1.0), (2, None, 99.0), (2, 3.0, None),
            (2, 2.0, 5.0),
            (3, 7.0, 4.0)]
    spark.createDataFrame(rows, "g int, x double, y double") \
        .createOrReplaceTempView("br14t")
    got = {r.g: r.br for r in sql(spark, """
        SELECT g, boundingRatio(x, y) AS br
        FROM br14t GROUP BY g ORDER BY g""").collect()}
    # g=1: (30-10)/(10-0) = 2.0; g=2: NULL-rows out → (5-1)/(2-1)=4;
    # g=3: one point → NULL
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(4.0)
    assert got[3] is None
    # endpoint tie on x: max-y wins at the right endpoint, min-y at
    # the left (the documented deterministic upgrade)
    spark.createDataFrame(
        [(0.0, 3.0), (0.0, 1.0), (4.0, 8.0), (4.0, 2.0)],
        "x double, y double").createOrReplaceTempView("br14tie")
    tie = sql(spark, "SELECT boundingRatio(x, y) AS br FROM br14tie"
              ).collect()[0].br
    assert tie == pytest.approx((8.0 - 1.0) / 4.0)
    with pytest.raises(ValueError, match="exactly 2"):
        sql(spark, "SELECT boundingRatio(x) FROM br14t")


def test_nonneg_derivative(spark):
    """nonNegativeDerivative window fn: lag-pair slope scaled by the
    INTERVAL, first row and duplicate-timestamp rows → 0, negatives
    clamped; refusals for variable-length units and named windows."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [("a", "2024-01-01 00:00:00", 10.0),
            ("a", "2024-01-01 00:00:10", 30.0),   # +2/s → ×5 = 10
            ("a", "2024-01-01 00:00:20", 5.0),    # negative → 0
            ("a", "2024-01-01 00:00:20", 7.0),    # dup ts → 0
            ("b", "2024-01-01 00:00:00", 1.0)]
    spark.createDataFrame(rows, "g string, t string, v double") \
        .selectExpr("g", "CAST(t AS TIMESTAMP) AS t", "v") \
        .createOrReplaceTempView("nnd14t")
    got = [r.d for r in sql(spark, """
        SELECT g, t, nonNegativeDerivative(v, t, INTERVAL 5 SECOND)
                       OVER (PARTITION BY g ORDER BY t, v) AS d
        FROM nnd14t ORDER BY g, t, v""").collect()]
    assert got == [0.0, 10.0, 0.0, 0.0, 0.0]
    # default interval = 1 second
    one = [r.d for r in sql(spark, """
        SELECT nonNegativeDerivative(v, t)
                 OVER (ORDER BY t, v) AS d
        FROM nnd14t WHERE g = 'a' ORDER BY t, v""").collect()]
    assert one == [0.0, 2.0, 0.0, 0.0]
    with pytest.raises(ValueError, match="fixed-length INTERVAL"):
        sql(spark, "SELECT nonNegativeDerivative(v, t, INTERVAL 1 "
                   "MONTH) OVER (ORDER BY t) FROM nnd14t")
    with pytest.raises(ValueError, match="OVER"):
        sql(spark, "SELECT nonNegativeDerivative(v, t) FROM nnd14t")
    with pytest.raises(ValueError, match="2 or 3"):
        sql(spark, "SELECT nonNegativeDerivative(v) "
                   "OVER (ORDER BY t) FROM nnd14t")


def test_assoc_stats_family(spark):
    """cramersV / cramersVBiasCorrected / theilsU / contingency
    against hand-computed values on a 2x2 table (joint counts
    2,1,1,2 → χ² = 2/3), NULL-pair skipping, and the degenerate
    single-category NULL contract."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [('x', 'p'), ('x', 'p'), ('x', 'q'),
            ('y', 'q'), ('y', 'q'), ('y', 'p'),
            (None, 'p'), ('x', None)]   # skipped pairs
    spark.createDataFrame(rows, "a string, b string") \
        .createOrReplaceTempView("as14t")
    r = sql(spark, """
        SELECT cramersV(a, b) AS v,
               cramersVBiasCorrected(a, b) AS vc,
               theilsU(a, b) AS u, contingency(a, b) AS ct
        FROM as14t""").collect()[0]
    # chi2 = 6*((4+1+1+4)/9 - 1) = 2/3; V = sqrt((chi2/6)/1) = 1/3
    assert r.v == pytest.approx(1 / 3)
    # phi2+ = max(0, 1/9 - 1/5) = 0 → corrected V = 0
    assert r.vc == pytest.approx(0.0)
    # H(A)=ln2; H(A|B) = -(2/3)ln(2/3)-(1/3)ln(1/3)
    import math
    ha = math.log(2)
    hab = -(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3)
    assert r.u == pytest.approx((ha - hab) / ha)
    assert r.ct == pytest.approx(math.sqrt((2 / 3) / (6 + 2 / 3)))
    # single distinct value on one side → min(r,c)-1 = 0 → NULL
    # (CH NaN, the documented deviation); empty group → NULL
    d = sql(spark, """
        SELECT cramersV(a, b) AS v, theilsU(a, b) AS u,
               theilsU(b, a) AS u2, contingency(a, b) AS ct
        FROM (SELECT 'k' AS a, b FROM as14t WHERE b IS NOT NULL)
    """).collect()[0]
    # constant FIRST arg: H(A) = 0 → NULL; constant SECOND arg:
    # H(B|A) = H(B) → exactly 0 (knowing a adds nothing)
    assert d.v is None and d.u is None
    assert d.u2 == pytest.approx(0.0)
    assert d.ct == pytest.approx(0.0)  # chi2 = 0 → sqrt(0/(n+0))
    e = sql(spark, "SELECT cramersV(a, b) AS v FROM as14t "
                   "WHERE a IS NULL AND b IS NULL").collect()[0]
    assert e.v is None
    with pytest.raises(ValueError, match="exactly 2"):
        sql(spark, "SELECT theilsU(a) FROM as14t")


def test_rank_corr(spark):
    """rankCorr: exact Spearman with average ranks — hand-computed
    tie case, perfect monotone = ±1, NULL pairs skipped, constant
    side → NULL."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    spark.createDataFrame(
        [(1.0, 10.0), (2.0, 30.0), (2.0, 20.0), (3.0, 40.0)],
        "x double, y double").createOrReplaceTempView("rc14t")
    # ranks x = [1, 2.5, 2.5, 4], y = [1, 3, 2, 4] → 4.5/sqrt(4.5·5)
    rho = sql(spark, "SELECT rankCorr(x, y) AS r FROM rc14t"
              ).collect()[0].r
    assert rho == pytest.approx(4.5 / (4.5 * 5.0) ** 0.5)
    m = sql(spark, """
        SELECT rankCorr(x, y) AS up, rankCorr(x, -y) AS dn
        FROM (SELECT CAST(id AS DOUBLE) AS x,
                     exp(CAST(id AS DOUBLE)) AS y FROM range(5))
    """).collect()[0]
    assert m.up == pytest.approx(1.0)
    assert m.dn == pytest.approx(-1.0)
    spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (None, 5.0), (3.0, None)],
        "x double, y double").createOrReplaceTempView("rc14c")
    # after NULL-skip only (1,1),(2,1) remain; constant y → NULL
    assert sql(spark, "SELECT rankCorr(x, y) AS r FROM rc14c"
               ).collect()[0].r is None
    with pytest.raises(ValueError, match="exactly 2"):
        sql(spark, "SELECT rankCorr(x) FROM rc14t")


def test_edit_distance_neardup(spark):
    """PassJoin banding finds exactly the <= k-edit pairs: planted
    near-dups at distances 2/3/5, a disjoint doc pairs with nothing,
    and the sub-(k+1)-char cohort goes through the exact short-text
    pass (no pigeonhole guarantee there)."""
    from rsyslog_nginx_clickhouse_spark.operators.dedup import (
        edit_distance_neardup,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumped over the lazy dog"),
         (3, "a completely different sentence here"),
         (4, "the quick brown fox jumps over the lazy cat"),
         (5, "ab"), (6, "cd"), (7, "abcd")],
        "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.dist
           for r in edit_distance_neardup(docs, k=8).collect()}
    assert got == {(1, 2): 2, (1, 4): 3, (2, 4): 5,
                   (5, 6): 2, (5, 7): 2, (6, 7): 2}
    # k tightens the cut: at k=2 only the distance-2 pairs survive
    got2 = {(r.doc_a, r.doc_b): r.dist
            for r in edit_distance_neardup(docs, k=2).collect()}
    assert got2 == {(1, 2): 2, (5, 6): 2, (5, 7): 2, (6, 7): 2}


def test_lttb_downsample(spark):
    """largestTriangleThreeBuckets(N)(x, y) against a literal Python
    replay of the reference algorithm (Steinarsson 2013), plus the
    passthrough and refusal contracts."""
    import math
    import random

    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    def lttb_ref(pts, n):
        pts = sorted(pts)
        m = len(pts)
        if m <= n:
            return pts
        every = (m - 2) / (n - 2)
        sel = [pts[0]]
        for i in range(n - 2):
            r0 = int(math.floor(i * every)) + 1
            r1 = int(math.floor((i + 1) * every)) + 1
            a1 = min(int(math.floor((i + 2) * every)) + 1, m)
            nxt = pts[r1:a1]
            ax = sum(p[0] for p in nxt) / len(nxt)
            ay = sum(p[1] for p in nxt) / len(nxt)
            pv, best, bar = sel[-1], None, -1.0
            for p in pts[r0:r1]:
                ar = abs((pv[0] - ax) * (p[1] - pv[1])
                         - (pv[0] - p[0]) * (ay - pv[1]))
                if ar > bar:
                    bar, best = ar, p
            sel.append(best)
        sel.append(pts[-1])
        return sel

    random.seed(7)
    pts = [(float(i), round(math.sin(i / 5) * 10
                            + random.random() * 3, 3))
           for i in range(100)]
    spark.createDataFrame(pts, "x double, y double") \
        .createOrReplaceTempView("lt14t")
    got = [(p.x, p.y) for p in sql(
        spark, "SELECT largestTriangleThreeBuckets(12)(x, y) AS p "
               "FROM lt14t").collect()[0].p]
    assert got == lttb_ref(pts, 12)
    # <= N points pass through unchanged (sorted)
    spark.createDataFrame(pts[:5], "x double, y double") \
        .createOrReplaceTempView("lt14s")
    assert len(sql(spark,
                   "SELECT largestTriangleThreeBuckets(12)(x, y) "
                   "AS p FROM lt14s").collect()[0].p) == 5
    with pytest.raises(ValueError, match=">= 3"):
        sql(spark, "SELECT largestTriangleThreeBuckets(2)(x, y) "
                   "FROM lt14t")
    with pytest.raises(ValueError, match="parametric"):
        sql(spark, "SELECT largestTriangleThreeBuckets(x, y) "
                   "FROM lt14t")


def test_two_sample_tests(spark):
    """studentTTest (exact integer-df p via the A&S finite series)
    and mannWhitneyUTest (exact U, tie-corrected normal p) against
    Python references; parametric and degenerate contracts."""
    import collections
    import math
    import random

    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    random.seed(42)
    rows = ([(random.gauss(10.0, 2.0), 0) for _ in range(40)]
            + [(random.gauss(11.0, 2.0), 1) for _ in range(35)])
    spark.createDataFrame(rows, "x double, g int") \
        .createOrReplaceTempView("tt14t")
    r = sql(spark, """
        SELECT studentTTest(x, g).t_stat AS t,
               studentTTest(x, g).p_value AS p,
               mannWhitneyUTest(x, g).u_stat AS u,
               mannWhitneyUTest(x, g).p_value AS up
        FROM tt14t""").collect()[0]

    xs0 = [x for x, g in rows if g == 0]
    xs1 = [x for x, g in rows if g == 1]
    n0, n1 = len(xs0), len(xs1)
    m0, m1 = sum(xs0) / n0, sum(xs1) / n1
    v0 = sum((v - m0) ** 2 for v in xs0) / (n0 - 1)
    v1 = sum((v - m1) ** 2 for v in xs1) / (n1 - 1)
    vp = ((n0 - 1) * v0 + (n1 - 1) * v1) / (n0 + n1 - 2)
    t = (m0 - m1) / math.sqrt(vp * (1 / n0 + 1 / n1))
    nu = n0 + n1 - 2
    th = math.atan(abs(t) / math.sqrt(nu))
    c2, sn = math.cos(th) ** 2, math.sin(th)
    s = tm = 1.0  # nu = 73 is odd here; but derive generally
    if nu % 2 == 0:
        s = tm = 1.0
        for k in range(1, (nu - 2) // 2 + 1):
            tm *= (2 * k - 1) / (2 * k) * c2
            s += tm
        A = sn * s
    else:
        s = tm = math.sqrt(c2)
        for k in range(1, (nu - 3) // 2 + 1):
            tm *= (2 * k) / (2 * k + 1) * c2
            s += tm
        A = 2 / math.pi * (th + sn * s)
    assert r.t == pytest.approx(t, rel=1e-9)
    assert r.p == pytest.approx(1 - A, rel=1e-9)

    allv = sorted((v, g) for v, g in rows)
    vals = [v for v, _ in allv]
    r0sum, j = 0.0, 0
    while j < len(vals):
        k2 = j
        while k2 < len(vals) and vals[k2] == vals[j]:
            k2 += 1
        for idx in range(j, k2):
            if allv[idx][1] == 0:
                r0sum += (j + k2 + 1) / 2
        j = k2
    u0 = r0sum - n0 * (n0 + 1) / 2
    n = n0 + n1
    tie = sum(c ** 3 - c
              for c in collections.Counter(vals).values())
    sig2 = n0 * n1 / 12 * ((n + 1) - tie / (n * (n - 1)))
    z = max(0.0, abs(u0 - n0 * n1 / 2) - 0.5) / math.sqrt(sig2)
    assert r.u == pytest.approx(u0)
    # A&S 7.1.26 polynomial: agrees with true erfc to 1.5e-7
    assert r.up == pytest.approx(math.erfc(z / math.sqrt(2)),
                                 abs=2e-7)

    # welchTTest: t, fractional df, and the NR incomplete-beta p
    w = sql(spark, """
        SELECT welchTTest(x, g).t_stat AS t,
               welchTTest(x, g).p_value AS p
        FROM tt14t""").collect()[0]
    wt = (m0 - m1) / math.sqrt(v0 / n0 + v1 / n1)
    wnu = ((v0 / n0 + v1 / n1) ** 2
           / ((v0 / n0) ** 2 / (n0 - 1)
              + (v1 / n1) ** 2 / (n1 - 1)))

    def betacf(a, b, x, M=1000):
        qab, qap, qam = a + b, a + 1, a - 1
        c, d = 1.0, 1 - qab * x / qap
        if abs(d) < 1e-300:
            d = 1e-300
        d = 1 / d
        h = d
        for m_ in range(1, M + 1):
            m2 = 2 * m_
            for aa in (m_ * (b - m_) * x / ((qam + m2) * (a + m2)),
                       -(a + m_) * (qab + m_) * x
                       / ((a + m2) * (qap + m2))):
                d = 1 + aa * d
                if abs(d) < 1e-300:
                    d = 1e-300
                c = 1 + aa / c
                if abs(c) < 1e-300:
                    c = 1e-300
                d = 1 / d
                h *= d * c
        return h

    def betai(a, b, x):
        lnb = (math.lgamma(a) + math.lgamma(b)
               - math.lgamma(a + b))
        front = math.exp(a * math.log(x) + b * math.log(1 - x)
                         - lnb)
        if x < (a + 1) / (a + b + 2):
            return front / a * betacf(a, b, x)
        return 1 - front / b * betacf(b, a, 1 - x)

    assert w.t == pytest.approx(wt, rel=1e-9)
    assert w.p == pytest.approx(
        betai(wnu / 2, 0.5, wnu / (wnu + wt * wt)), rel=1e-7)

    # degenerate: sample with < 2 points → NULL; all-tied → NULL U p
    d = sql(spark, """
        SELECT studentTTest(x, g).p_value AS p,
               welchTTest(x, g).p_value AS wp,
               mannWhitneyUTest(x, g).p_value AS up
        FROM (SELECT 1.0 AS x, 0 AS g
              UNION ALL SELECT 1.0, 1
              UNION ALL SELECT 1.0, 1)""").collect()[0]
    assert d.p is None and d.wp is None and d.up is None
    with pytest.raises(ValueError, match="default parameters"):
        sql(spark, "SELECT studentTTest(0.95)(x, g) FROM tt14t")
    with pytest.raises(ValueError, match="exactly 2"):
        sql(spark, "SELECT mannWhitneyUTest(x) FROM tt14t")


def test_sparkbar_and_filtered_map(spark):
    """sparkbar's documented rendering, sumMapFiltered key
    membership, and the quantileDeterministic determinator drop."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    rows = [("a", 5.0, 1), ("a", 5.0, 2), ("b", 3.0, 3),
            ("c", 7.0, 4), ("a", None, 5)]
    spark.createDataFrame(rows, "k string, v double, u int") \
        .createOrReplaceTempView("qm14t")
    r = sql(spark, """
        SELECT sumMapFiltered(array('a', 'c'))(k, v) AS fm,
               quantileDeterministic(0.5)(v, u) AS qd,
               medianDeterministic(v, u) AS md
        FROM qm14t""").collect()[0]
    assert [(p.k, p.v) for p in r.fm] == [("a", 10.0), ("c", 7.0)]
    assert r.qd == 5.0 and r.md == 5.0
    # sparkbar: counts (1,2,8,4,0,-,2,1) over 8 hour-buckets →
    # levels ceil(8v/8): ▁▂█▄, two empties, ▂▁
    pts = [(float(h), float(c)) for h, c in
           [(0, 1), (1, 2), (2, 8), (3, 4), (4, 0), (6, 2), (7, 1)]]
    spark.createDataFrame(pts, "x double, y double") \
        .createOrReplaceTempView("sb14t")
    b = sql(spark, "SELECT sparkbar(8)(x, y) AS b FROM sb14t"
            ).collect()[0].b
    assert b == "▁▂█▄  ▂▁"
    # empty group → NULL; all-zero sums → spaces
    assert sql(spark, "SELECT sparkbar(4)(x, y) AS b FROM sb14t "
                      "WHERE x < 0").collect()[0].b is None
    z = sql(spark, "SELECT sparkbar(4)(x, 0) AS b FROM sb14t"
            ).collect()[0].b
    assert z == "    "
    with pytest.raises(ValueError, match="parametric"):
        sql(spark, "SELECT sparkbar(x, y) FROM sb14t")
    with pytest.raises(ValueError, match="parametric form"):
        sql(spark, "SELECT sumMapFiltered(k, v) FROM qm14t")
