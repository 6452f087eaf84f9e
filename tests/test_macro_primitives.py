"""The SQL text layer's shared primitives (functions/macros.py): literal
masking, the balanced-paren scan and the call-rewrite driver, and what
each rewrite does with a call whose parens never close."""

from __future__ import annotations

import re

import hypothesis.strategies as st
import pytest
from hypothesis import example, given, settings

from rsyslog_nginx_clickhouse_spark.functions import macros
from rsyslog_nginx_clickhouse_spark.functions.macros import (
    _mask_literals,
    _rewrite_calls,
    _scan_balanced,
    _take_call_args,
    _unmask_literals,
    rewrite_aggregates,
)

# what a rewrite must never see inside a literal: call syntax and macros
_SYNTAX = ["(", ")", ",", "$table", "sumIf(", " "]
_plain = st.lists(
    st.one_of(st.sampled_from(_SYNTAX),
              st.text(alphabet="abcxyz019 =<>*+-.;\n\t", min_size=1,
                      max_size=6)),
    min_size=1, max_size=5).map("".join)
# a literal in either escape convention: '' and \' for the quote, \\ for
# the backslash
_literal = st.lists(
    st.one_of(st.sampled_from(_SYNTAX + ["''", "\\'", "\\\\"]),
              st.text(alphabet="abc é€", max_size=4)),
    max_size=6).map(lambda parts: "'" + "".join(parts) + "'")


@st.composite
def _sql_with_literals(draw):
    """(text, literals): plain runs and literals alternate, a plain run
    between any two literals so that each stays one literal."""
    literals = draw(st.lists(_literal, max_size=5))
    text = draw(_plain) if draw(st.booleans()) else ""
    for lit in literals:
        text += lit + draw(_plain)
    return text, literals


@settings(max_examples=300, deadline=None)
@given(_sql_with_literals())
@example(("SELECT sumIf(x, s = 'a(b'), '$table' FROM $table",
          ["'a(b'", "'$table'"]))
@example(("WHERE a = 'it''s (x' OR b = 'c\\'d,' ", ["'it''s (x'",
                                                    "'c\\'d,'"]))
def test_unmask_restores_masked_text_byte_for_byte(case):
    text, literals = case
    masked, lits = _mask_literals(text)
    assert _unmask_literals(masked, lits) == text
    # every literal was masked whole, so rewrites see none of its text
    assert list(lits.values()) == literals
    assert "'" not in masked
    assert masked.count("(") == text.count("(") - sum(
        lit.count("(") for lit in literals)


def test_a_masked_literal_is_its_own_key():
    masked, lits = _mask_literals("f('a', 'b''c') = 'd'")
    toks = re.findall(r"\x00\d+\x00", masked)
    assert [lits[t] for t in toks] == ["'a'", "'b''c'", "'d'"]
    assert lits.get(" x ") is None


def test_scan_balanced_and_call_args():
    text = "f(a, g(b, c), (d)) + 1"
    assert _scan_balanced(text, 1) == text.index(") +")
    assert _scan_balanced("f(a, (b)", 1) == -1
    args, end = _take_call_args(text, 1)
    assert args == ["a", " g(b, c)", " (d)"]
    assert text[end:] == " + 1"


def test_driver_rewrites_every_same_name_call():
    def build(out: str, m: re.Match) -> tuple[str, int]:
        args, end = _take_call_args(out, m.end() - 1)
        return f"g({', '.join(a.strip() for a in reversed(args))})", end

    assert (_rewrite_calls("SELECT f(a, b), f(c, f(d, e)) FROM t",
                           r"\bf\s*\(", build)
            == "SELECT g(b, a), g(g(e, d), c) FROM t")
    two = rewrite_aggregates(
        "SELECT avgWeighted(x, w) AS a, avgWeighted(y, v) AS b FROM t")
    assert "avgWeighted" not in two
    assert two.count("(sum(CASE WHEN") == 2

    # a build may skip a call (its own text back) or keep the name:
    # replacement text is never searched again
    def keep(out: str, m: re.Match) -> tuple[str, int]:
        args, end = _take_call_args(out, m.end() - 1)
        if len(args) != 2:
            return m.group(0), m.end()
        return f"f({args[1].strip()})", end

    assert (_rewrite_calls("f(a, f(b)) + f(c, d)", r"\bf\s*\(", keep)
            == "f(f(b)) + f(d)")


# every call the driver rewrites, as ``name(... X ...)`` in the query
# shape it needs; the test nests the call in its own X
_SORTED = "SELECT g, {c} AS r FROM (SELECT * FROM t ORDER BY k) GROUP BY g"
_PLAIN = "SELECT {c} AS r FROM t"
_DRIVER_CALLS = [
    (c, _SORTED) for c in (
        "groupArray(X)", "groupArray(3)(X)", "groupArrayMovingSum(X)",
        "groupArrayMovingAvg(2)(X)", "deltaSum(X)", "anyLast(X)",
        "anyIf(X, c)", "anyLastIf(X, c)")
] + [(c, _PLAIN) for c in (
    "deltaSumTimestamp(X, ts)", "arraySort(groupArray(X))",
    "arrayReverseSort(groupArray(X))", "quantilesExact(0.5)(X)",
    "quantiles(0.5, 0.9)(X)", "quantilesTDigest(0.5)(X)",
    "quantilesTiming(0.5)(X)", "groupUniqArray(X)", "sumCount(X)",
    "uniqUpTo(2)(X)", "simpleLinearRegression(X, y)", "quantile(0.9)(X)",
    "quantileExact(X)", "quantile(X)", "retention(X, b)",
    "quantileExactWeighted(0.5)(X, w)", "medianExactWeighted(X, w)",
    "arrayReduce('sum', X)", "entropy(X)", "maxIntersections(X, e)",
    "maxIntersectionsPosition(X, e)", "intervalLengthSum(X, e)",
    "sequenceNextNode('forward', 'head')(ts, X, b, c1)", "skewPop(X)",
    "kurtPop(X)", "skewSamp(X)", "kurtSamp(X)",
    "windowFunnel(3600)(ts, X, c2)", "sequenceMatch('(?1)(?2)')(ts, X, c2)",
    "sequenceCount('(?1)(?2)')(ts, X, c2)", "uniqState(X)", "uniqMerge(X)",
    "sumState(X)", "sumMerge(X)", "countState(X)", "countMerge(X)",
    "minState(X)", "minMerge(X)", "maxState(X)", "maxMerge(X)",
    "avgState(X)", "avgMerge(X)", "argMaxState(X, o)", "argMinState(X, o)",
    "argMaxMerge(X)", "argMinMerge(X)", "topKState(3)(X)",
    "topKMerge(3)(X)", "quantileState(X)", "quantileMerge(0.5)(X)",
    "histogram(3)(X)", "sumMap(X, v)", "minMap(X, v)", "maxMap(X, v)",
    "sumMapFiltered([1])(X, v)", "arrayDifference(X)", "arrayCumSum(X)",
    "arrayCompact(X)", "arrayEnumerate(X)", "topK(3)(X)", "topK(X)",
    "topKIf(3)(X, c)", "topKWeighted(3)(X, w)", "topKWeightedIf(3)(X, w, c)",
    "quantileIf(0.9)(X, c)", "quantileExactIf(0.9)(X, c)",
    "avgWeighted(X, w)", "boundingRatio(X, y)",
    "nonNegativeDerivative(X, ts) OVER (ORDER BY ts)", "cramersV(X, b)",
    "cramersVBiasCorrected(X, b)", "theilsU(X, b)", "contingency(X, b)",
    "rankCorr(X, y)", "largestTriangleThreeBuckets(3)(X, y)",
    "studentTTest(X, g)", "welchTTest(X, g)", "mannWhitneyUTest(X, g)",
    "quantileDeterministic(0.5)(X, d)", "quantilesDeterministic(0.5)(X, d)",
    "medianDeterministic(X, d)", "sparkbar(3)(X, y)", "sumIf(X, c)",
    "avgIf(X, c)", "minIf(X, c)", "maxIf(X, c)", "uniqIf(X, c)",
    "uniqExactIf(X, c)", "medianIf(X, c)", "argMaxIf(X, o, c)",
    "argMinIf(X, o, c)", "multiIf(X, 1, 2)", "arrayMap(e -> e, X)",
    "arrayFilter(e -> e > 0, X)", "arrayExists(e -> e > 0, X)",
    "arrayAll(e -> e > 0, X)", "arrayCount(e -> e > 0, X)")]


@pytest.mark.parametrize("call, shape", _DRIVER_CALLS,
                         ids=[c for c, _ in _DRIVER_CALLS])
def test_a_call_nested_in_itself_is_rewritten(call, shape):
    name = re.match(r"\w+", call).group(0)
    query = shape.format(c=call.replace("X", call.replace("X", "x")))
    try:
        out = rewrite_aggregates(query)
    except ValueError as e:  # a refusal must name the call it refuses
        assert name in str(e)
    else:
        assert not re.search(rf"\b{name}\s*\(", out), out


def test_nested_calls_rewrite_innermost_first():
    assert rewrite_aggregates("SELECT quantile(quantile(x)) FROM t") == \
        "SELECT percentile_approx(percentile_approx(x, 0.5), 0.5) FROM t"
    assert rewrite_aggregates("SELECT skewPop(skewPop(x)) FROM t") == \
        "SELECT skewness(skewness(x)) FROM t"
    assert macros.expand_macros(
        "SELECT 1 FROM $table WHERE $conditionalTest("
        "a = 1 $conditionalTest(AND b = 2, $v), $w)", table="t",
        template_vars={"v": "", "w": "1"}) == \
        "SELECT 1 FROM t WHERE a = 1"


def _outcome(query: str) -> str:
    try:
        return rewrite_aggregates(query)
    except ValueError as e:
        return f"ValueError: {e}"


@pytest.mark.parametrize("call, shape", _DRIVER_CALLS,
                         ids=[c for c, _ in _DRIVER_CALLS])
def test_a_space_before_the_paren_rewrites_the_same(call, shape):
    """ClickHouse accepts ``name (args)``; so must every rewrite."""
    spaced = re.sub(r"^(\w+)\(", r"\1 (", call)
    assert _outcome(shape.format(c=spaced.replace("X", "x"))) == \
        _outcome(shape.format(c=call.replace("X", "x")))


@pytest.mark.parametrize("nul", ["\x000\x00", "\x007\x00"])
def test_a_nul_is_never_taken_for_a_literal_placeholder(nul):
    """The placeholders are NUL-delimited: NUL in the query text is
    refused outside a string literal and kept as data inside one."""
    with pytest.raises(ValueError, match="NUL character"):
        rewrite_aggregates(f"SELECT 'a' AS s, {nul} AS t FROM t")
    with pytest.raises(ValueError, match="NUL character"):
        macros.expand_macros("SELECT 'a' AS s, $v AS t FROM $table",
                             table="t", template_vars={"v": nul})
    quoted = f"SELECT 'a' AS s, '{nul}' AS t FROM t"
    assert rewrite_aggregates(quoted) == quoted
    assert macros.expand_macros("SELECT 'a' AS s, '$v' AS t FROM $table",
                                table="t", template_vars={"v": nul}) \
        == quoted


# three-level arguments, each against the same query with the argument
# aliased in a subquery (the form the old depth limit asked for)
_DEEP = "lower(trim(upper(s)))"
_DEEP_NUM = "abs(round(floor(v), 1))"


@pytest.mark.parametrize("deep, aliased", [
    (f"SELECT groupUniqArray({_DEEP}) AS r FROM deep",
     f"SELECT groupUniqArray(a) AS r FROM (SELECT {_DEEP} AS a FROM deep)"),
    (f"SELECT quantile(0.9)({_DEEP_NUM}) AS r FROM deep",
     f"SELECT quantile(0.9)(a) AS r FROM (SELECT {_DEEP_NUM} AS a "
     f"FROM deep)"),
    (f"SELECT quantilesExact(0.1, 0.9)({_DEEP_NUM}) AS r FROM deep",
     f"SELECT quantilesExact(0.1, 0.9)(a) AS r FROM (SELECT {_DEEP_NUM} "
     f"AS a FROM deep)"),
    (f"SELECT skewSamp({_DEEP_NUM}) AS r FROM deep",
     f"SELECT skewSamp(a) AS r FROM (SELECT {_DEEP_NUM} AS a FROM deep)"),
    ("SELECT uniqMerge(slice(array_sort(array_distinct(st)), 1, 2048)) AS r"
     f" FROM (SELECT uniqState({_DEEP}) AS st FROM deep GROUP BY g)",
     "SELECT uniqMerge(st) AS r FROM (SELECT uniqState(a) AS st FROM "
     f"(SELECT g, {_DEEP} AS a FROM deep) GROUP BY g)"),
])
def test_deep_arguments_equal_their_aliased_form(spark, deep, aliased):
    spark.createDataFrame(
        [(i % 3, i * 1.7 % 13, [" Ab", "ab ", "CD", " x "][i % 4])
         for i in range(40)], "g int, v double, s string") \
        .createOrReplaceTempView("deep")
    assert macros.sql(spark, deep).collect() == \
        macros.sql(spark, aliased).collect()


@pytest.mark.parametrize("query, message", [
    # _take_call_args: every find-splice rewrite and the function macros
    ("SELECT avgWeighted(x, w FROM t", "unbalanced parens in macro call"),
    ("SELECT retention(a, b FROM t", "unbalanced parens in macro call"),
    ("SELECT arrayMap(x -> x + 1, arr FROM t",
     "arrayMap: expected the ClickHouse lambda form"),
    ("SELECT multiIf(a, 1, 2 FROM t",
     re.escape("multiIf takes an odd number of arguments >= 3 (cond, "
               "value pairs + else), got 3")),
])
def test_unbalanced_call_raises(query, message):
    with pytest.raises(ValueError, match=message):
        rewrite_aggregates(query)


def test_unbalanced_function_macro_raises():
    with pytest.raises(ValueError, match="unbalanced parens in macro call"):
        macros.expand_macros("$rate(count(*) c FROM $table", table="t")


@pytest.mark.parametrize("query, expected", [
    # the If-combinator rewrite leaves a call it cannot bracket alone
    ("SELECT sumIf(x, c FROM t", "SELECT sumIf(x, c FROM t"),
    # the renamed quantile keeps its text: no default fraction appended
    ("SELECT quantile(x FROM t", "SELECT percentile_approx(x FROM t"),
    ("SELECT quantileExact(x FROM t", "SELECT percentile(x FROM t"),
])
def test_unbalanced_call_is_skipped(query, expected):
    assert rewrite_aggregates(query) == expected


# a clause keyword inside a string literal is data: each query below
# counts the one row of ``kw`` whose ``s`` equals the literal
_KEYWORD_LITERALS = [
    ("SELECT count(*) AS c FROM kw WHERE s = '{v}'", v) for v in (
        "GROUP BY a WITH TOTALS", "PREWHERE x", "FROM kw FINAL",
        "FROM kw SAMPLE 0.5", "x ARRAY JOIN y", "ORDER BY a LIMIT 1 BY a",
        "ORDER BY a LIMIT 1 WITH TIES", "x SETTINGS max_threads = 1",
        "x FORMAT JSON", "a GLOBAL IN (b)", "dictGet(x)")
] + [("SELECT TOP 5 count(*) AS c FROM kw WHERE s = '{v}'", "LIMIT 5")]


@pytest.fixture(scope="module")
def kw(spark):
    spark.createDataFrame([(v,) for _, v in _KEYWORD_LITERALS],
                          "s string").createOrReplaceTempView("kw")


@pytest.mark.parametrize("query, value", _KEYWORD_LITERALS,
                         ids=[v for _, v in _KEYWORD_LITERALS])
def test_a_clause_keyword_in_a_literal_is_data(spark, kw, query, value):
    assert macros.sql(spark, query.format(v=value)).collect() == [(1,)]


@pytest.fixture(scope="module")
def keyword_engine(spark, tmp_path_factory):
    from rsyslog_nginx_clickhouse_spark.engine import Engine

    # the decoy "x WHERE y" is what a PREWHERE fold inside the
    # literal would select
    root = tmp_path_factory.mktemp("keyword_engine")
    log = root / "access.log"
    log.write_text("".join(
        f'1.1.1.1 - - [06/Apr/2020:09:00:0{i} +0000] "GET /a HTTP/1.1" '
        f'200 10 "-" "{agent}" "-"\n'
        for i, agent in enumerate(["x PREWHERE y", "x WHERE y", "ua"])))
    eng = Engine(table_root=str(root / "nginx"), spark=spark)
    assert eng.ingest(str(log)) == 3
    return eng


def test_a_clause_keyword_in_an_adhoc_value_is_data(keyword_engine):
    rows = keyword_engine.sql(
        "SELECT agent FROM $table WHERE $adhoc",
        adhoc_filters=[("agent", "=", "x PREWHERE y")]).collect()
    assert rows == [("x PREWHERE y",)]


def test_a_clause_keyword_in_a_template_value_is_data(keyword_engine):
    rows = keyword_engine.sql(
        "SELECT agent FROM $table WHERE agent = '$ua'",
        template_vars={"ua": "x PREWHERE y"}).collect()
    assert rows == [("x PREWHERE y",)]


def test_dict_get_beside_a_backslash_escaped_literal(spark):
    from rsyslog_nginx_clickhouse_spark.functions.dictionary import (
        declare_dictionary,
    )

    declare_dictionary(
        spark, "esc_dict",
        spark.createDataFrame([(1, "one")], "k int, v string"),
        key_col="k", attrs={"v": "''"})
    spark.createDataFrame([(1,)], "k int").createOrReplaceTempView("esc_k")
    rows = macros.sql(
        spark, r"SELECT dictGet('esc_dict', 'v', k) AS v, "
               r"'it\'s dictGet(' AS s FROM esc_k").collect()
    assert rows == [("one", "it's dictGet(")]


def test_asof_alias_substitution_skips_a_backslash_escaped_literal(spark):
    spark.createDataFrame([(1, 10)], "k long, t long") \
        .createOrReplaceTempView("asof_esc_l")
    spark.createDataFrame([(1, 8, "r1")], "k long, t long, rv string") \
        .createOrReplaceTempView("asof_esc_r")
    rows = macros.sql(spark, r"""
        SELECT a.k, b.rv, 'it\'s b.rv' AS note
        FROM asof_esc_l a ASOF LEFT JOIN asof_esc_r b
          ON a.k = b.k AND b.t <= a.t
    """).collect()
    assert rows == [(1, "r1", "it's b.rv")]


def test_a_quoted_with_fill_bound_rewrites_as_a_bare_one():
    """FROM/TO bounds arrive masked; a quoted bound still fills."""
    assert macros.rewrite_with_fill(
        "SELECT d, c FROM t ORDER BY d WITH FILL FROM '2020-01-01' "
        "TO '2020-01-04' STEP INTERVAL 1 DAY") == (
        "WITH __fill_src AS (SELECT d, c FROM t) SELECT * FROM (SELECT * "
        "FROM (SELECT d FROM (SELECT explode(sequence('2020-01-01', "
        "'2020-01-04', INTERVAL 1 DAY)) AS d) WHERE d < '2020-01-04') "
        "LEFT JOIN __fill_src USING (d)) ORDER BY d")
    assert macros.rewrite_with_fill(
        "SELECT d, c FROM t ORDER BY g, d WITH FILL FROM '2020-01-01' "
        "STEP INTERVAL 1 DAY") == (
        "WITH __fill_src AS (SELECT d, c FROM t) SELECT * FROM (SELECT * "
        "FROM (SELECT g, explode(sequence(__f0, __f1, INTERVAL 1 DAY)) "
        "AS d FROM (SELECT g, '2020-01-01' AS __f0, max(d) AS __f1 FROM "
        "__fill_src GROUP BY g)) LEFT JOIN __fill_src USING (g, d)) "
        "ORDER BY g, d")
