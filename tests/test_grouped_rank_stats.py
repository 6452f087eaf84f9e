"""The grouped rank-stat window rewrite against the sorted-collect fold
over the spellings a GROUP BY can take (ordinals, ALL, aliases with and
without AS, qualified refs, absorbed trailing clauses)."""

from __future__ import annotations

import itertools
from unittest import mock

import hypothesis.strategies as st
from hypothesis import given, settings

import rsyslog_nginx_clickhouse_spark.functions.macros as M

#: three groups with ties and NULLs; g=0 and g=1 rank very differently
#: from the table as a whole, so global ranks give other values
ROWS = [(g, float(x), float(y), i % 2)
        for i, (g, x, y) in enumerate(
            [(0, 1, 9), (0, 2, 7), (0, 3, 8), (0, 4, 2), (0, 4, 5),
             (1, 10, 1), (1, 11, 2), (1, 12, 2), (1, 13, 4), (1, 9, 3),
             (2, 5, 5), (2, 6, 4), (2, 6, 4), (2, 7, 6)])]
ROWS += [(2, None, 1.0, 0), (0, 3.0, None, 1)]

#: (select-list key, GROUP BY keys): spellings of "group by g"
KEYS = [
    ("g", "g"), ("g", "G"), ("g", "1"), ("g", "(1)"), ("g", "ALL"),
    ("g", "(g)"),
    ("rs_rank.g", "rs_rank.g"), ("g AS gg", "gg"), ("g gg", "gg"),
    ("g % 2 AS gg", "gg"), ("g % 2", "g % 2"), ("g AS g", "g"),
]
#: clauses after the GROUP BY keys; SORT BY and DISTRIBUTE BY must not
#: be taken for part of the key list
TAILS = ["", "ORDER BY 1", "SORT BY s0", "DISTRIBUTE BY s0"]
#: the spellings whose groups the rewrite can prove from the text
PROVABLE = {("g", "g"), ("g", "G"), ("g", "(g)"), ("g AS gg", "gg"),
            ("g % 2 AS gg", "gg"), ("g % 2", "g % 2")}
STATS = ["rankCorr(x, y)", "mannWhitneyUTest(x, idx).u_stat",
         "mannWhitneyUTest(x, idx).p_value"]


def _view(spark):
    spark.createDataFrame(ROWS, "g int, x double, y double, idx int") \
        .createOrReplaceTempView("rs_rank")


def _run(spark, q, rewrite=True):
    if rewrite:
        return sorted(map(tuple, M.sql(spark, q).collect()), key=repr)
    with mock.patch.object(M, "_rewrite_grouped_rank_stats", lambda s: s):
        return _run(spark, q)


def test_ordinal_group_key_matches_named_key(spark):
    _view(spark)
    named = _run(spark, "SELECT g, rankCorr(x, y) FROM rs_rank GROUP BY g")
    for key in ("1", "(1)"):
        assert _run(spark, "SELECT g, rankCorr(x, y) FROM rs_rank "
                           f"GROUP BY {key}") == named
    assert len(named) == 3 and len({r[1] for r in named}) == 3


def test_unprovable_keys_fall_back():
    for (sel, grp), tail in itertools.product(KEYS, TAILS):
        q = (f"SELECT {sel}, rankCorr(x, y) AS s0 FROM rs_rank "
             f"GROUP BY {grp} {tail}")
        rewritten = M._rewrite_grouped_rank_stats(q) != q
        assert rewritten == ((sel, grp) in PROVABLE
                             and "SORT" not in tail
                             and "DISTRIBUTE" not in tail), q


@settings(max_examples=30, deadline=None)
@given(key=st.sampled_from(KEYS), stats=st.lists(
           st.sampled_from(STATS), min_size=1, max_size=2, unique=True),
       where=st.sampled_from(["", "WHERE idx >= 0", "WHERE x IS NOT NULL"]),
       tail=st.sampled_from(TAILS),
       gap=st.sampled_from([" ", "\n  ", "  "]))
def test_rewrite_equals_fold_for_any_group_by_spelling(
        spark, key, stats, where, tail, gap):
    _view(spark)
    sel, grp = key
    items = ", ".join([sel] + [f"{s} AS s{i}" for i, s in enumerate(stats)])
    q = gap.join(f"SELECT {items} FROM rs_rank {where} GROUP BY {grp} "
                 f"{tail}".split(" "))
    assert _run(spark, q) == _run(spark, q, rewrite=False), q
