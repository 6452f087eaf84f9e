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
            == "SELECT g(b, a), g(f(d, e), c) FROM t")
    two = rewrite_aggregates(
        "SELECT avgWeighted(x, w) AS a, avgWeighted(y, v) AS b FROM t")
    assert "avgWeighted" not in two
    assert two.count("(sum(CASE WHEN") == 2


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
