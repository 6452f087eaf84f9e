"""Round-15 optimization surface: the fused multi-mode windowFunnel,
the grouped-rank-stat window rewrite (equivalence against the
sorted-collect fold), the explode_outer duplicate-evaluation fix, the
exact-substring window-lead regroup, the plancheck decode-once guard,
and the local_rows arity check."""

from __future__ import annotations

import datetime

import pytest


def _ts(s: float) -> datetime.datetime:
    return (datetime.datetime(2024, 1, 1)
            + datetime.timedelta(seconds=s))


# ---------------------------------------------------------------- funnel

#: per-user event streams covering every strict-mode edge: intervening
#: non-matching events (strict_order), repeated filled levels
#: (strict_dedup), the slot-overwrite divergence (strict_increase: for
#: A@0 B@1 B@9 C@9 in window 10 the B@9 overwrite makes C fail though
#: an increasing chain exists), users with no qualifying events, and
#: equal-timestamp ties
_FUNNEL_ROWS = [
    # u1: clean chain
    (1, "view", 0.0), (1, "click", 1.0), (1, "purchase", 2.0),
    # u2: intervening 'other' breaks strict_order after level 1
    (2, "view", 0.0), (2, "other", 0.5), (2, "click", 1.0),
    (2, "purchase", 2.0),
    # u3: repeated click terminates strict_dedup at level 2
    (3, "view", 0.0), (3, "click", 1.0), (3, "click", 1.5),
    (3, "purchase", 2.0),
    # u4: the strict_increase slot-overwrite case (seconds 0/1/9/9)
    (4, "view", 0.0), (4, "click", 1.0), (4, "click", 9.0),
    (4, "purchase", 9.0),
    # u5: no qualifying events at all
    (5, "other", 0.0), (5, "misc", 1.0),
    # u6: equal-timestamp tie between levels
    (6, "view", 0.0), (6, "click", 0.0), (6, "purchase", 0.0),
    # u7: window exceeded between 1 and 3
    (7, "view", 0.0), (7, "click", 5.0), (7, "purchase", 100.0),
]


def _funnel_df(spark):
    return spark.createDataFrame(
        [(u, t, _ts(s)) for u, t, s in _FUNNEL_ROWS],
        "user_id int, event_type string, ts timestamp")


def test_window_funnel_multi_matches_single_mode(spark):
    """The fused operator must reproduce each stand-alone mode fold
    exactly — same users, same levels — from its ONE shuffle (round
    15: funnel_strict_modes previously ran three collect_list
    shuffles + two joins)."""
    from rsyslog_nginx_clickhouse_spark.operators.funnel import (
        window_funnel,
        window_funnel_multi,
    )

    ev = _funnel_df(spark)
    conds = ["view", "click", "purchase"]
    w_us = 10_000_000  # 10 s
    fused = {r["user_id"]: (r["lvl_order"], r["lvl_dedup"],
                            r["lvl_increase"])
             for r in window_funnel_multi(
                 ev, conds, w_us,
                 ["strict_order", "strict_dedup", "strict_increase"],
                 ["lvl_order", "lvl_dedup", "lvl_increase"]).collect()}
    single = {}
    for mode in ("strict_order", "strict_dedup", "strict_increase"):
        for r in window_funnel(ev, conds, w_us, modes=mode).collect():
            single.setdefault(r["user_id"], []).append(
                r["funnel_level"])
    assert fused == {u: tuple(v) for u, v in single.items()}
    # the edge semantics themselves (pinned so a refactor can't
    # silently weaken the fixture): strict_order broke u2, dedup
    # terminated u3 at 2, the u4 overwrite kept increase at 2
    assert fused[2][0] == 1 and fused[3][1] == 2 and fused[4][2] == 2
    assert fused[5] == (0, 0, 0)


def test_window_funnel_multi_no_strict_order_skips_level0(spark):
    """Without strict_order anywhere, non-matching events must not be
    shuffled (the in-aggregate skip) — and results still match the
    stand-alone folds."""
    from rsyslog_nginx_clickhouse_spark.operators.funnel import (
        window_funnel,
        window_funnel_multi,
    )

    ev = _funnel_df(spark)
    conds = ["view", "click", "purchase"]
    multi = window_funnel_multi(
        ev, conds, 10_000_000, ["strict_dedup", ()],
        ["lvl_dedup", "lvl_plain"])
    fused = {r["user_id"]: (r["lvl_dedup"], r["lvl_plain"])
             for r in multi.collect()}
    ded = {r["user_id"]: r["funnel_level"] for r in window_funnel(
        ev, conds, 10_000_000, modes="strict_dedup").collect()}
    plain = {r["user_id"]: r["funnel_level"] for r in window_funnel(
        ev, conds, 10_000_000).collect()}
    assert fused == {u: (ded[u], plain[u]) for u in ded}
    # the shuffled pair struct skips non-matching events: what
    # collect_list gathers is a CASE WHEN with no ELSE (null for an
    # unmatched event type, which collect_list drops), not the
    # level-0 struct only strict_order needs
    (pair,) = _collect_list_children(multi)
    assert pair.getClass().getSimpleName() == "CaseWhen"
    assert pair.elseValue().isEmpty()
    (branch,) = _jlist(pair.branches())  # (condition, value)
    assert branch._2().getClass().getSimpleName() == "CreateNamedStruct"


def _jlist(seq):
    return [seq.apply(i) for i in range(seq.size())]


def _collect_list_children(df):
    """The argument of every ``collect_list`` in ``df``'s analyzed
    plan."""
    out = []
    nodes = [df._jdf.queryExecution().analyzed()]
    while nodes:
        node = nodes.pop()
        nodes.extend(_jlist(node.children()))
        exprs = _jlist(node.expressions())
        while exprs:
            e = exprs.pop()
            if e.getClass().getSimpleName() == "CollectList":
                out.append(e.child())
            exprs.extend(_jlist(e.children()))
    return out


# ------------------------------------------------- grouped rank stats

_RANK_ROWS = [
    # g=1: ties in x and y, both idx sides
    (1, 1.0, 10.0, 0), (1, 1.0, 20.0, 1), (1, 2.0, 20.0, 0),
    (1, 2.0, 30.0, 1), (1, 3.0, 10.0, 0),
    # g=2: single qualifying row (fold returns NULL: n < 2)
    (2, 5.0, 1.0, 0),
    # g=3: constant x side (rho NULL via zero variance), U defined
    (3, 7.0, 1.0, 0), (3, 7.0, 2.0, 1), (3, 7.0, 3.0, 0),
    # g=4: NULLs on either side are skipped pairwise
    (4, None, 1.0, 0), (4, 1.0, None, 1), (4, 2.0, 2.0, 0),
    (4, 3.0, 1.0, 1), (4, 4.0, 5.0, 1),
    # g=5: all rows on one idx side (U degenerate)
    (5, 1.0, 1.0, 0), (5, 2.0, 2.0, 0),
]


def _rank_view(spark):
    spark.createDataFrame(
        _RANK_ROWS, "g int, x double, y double, idx int") \
        .createOrReplaceTempView("r15_rank")


_RANK_SQL = """
    SELECT g,
           rankCorr(x, y) AS rho,
           mannWhitneyUTest(x, idx).u_stat AS u,
           mannWhitneyUTest(x, idx).p_value AS p
    FROM r15_rank GROUP BY g ORDER BY g
"""


def test_grouped_rank_stats_window_matches_fold(spark, monkeypatch):
    """The round-15 window rewrite must reproduce the sorted-collect
    fold BITWISE on every edge the fold defines: average tie ranks,
    pairwise NULL skipping, n<2 → NULL, constant side → NULL, one
    empty idx side → NULL U (the exactness argument: ranks are halves,
    products quarters, sums of exact quarter-multiples are
    order-independent)."""
    import rsyslog_nginx_clickhouse_spark.functions.macros as M

    _rank_view(spark)
    new = [tuple(r) for r in M.sql(spark, _RANK_SQL).collect()]
    monkeypatch.setattr(M, "_rewrite_grouped_rank_stats", lambda s: s)
    old = [tuple(r) for r in M.sql(spark, _RANK_SQL).collect()]
    assert new == old
    # pin the edges (so the fixture itself can't degrade silently)
    byg = {r[0]: r[1:] for r in new}
    assert byg[2] == (None, None, None)          # n < 2
    assert byg[3] == (None, None, None)  # const x: zero variance AND
    #                                      all-tied ranks → sig2 <= 0
    assert byg[1][1] is not None                 # ties, U defined
    assert byg[5][1] is None                     # one-sided U
    assert byg[4][0] is not None                 # NULLs skipped, n=3


def test_grouped_rank_stats_plan_is_window_plus_hashagg(spark):
    """The canonical shape must plan as window + two HashAggregate
    levels with NO per-group collect (the §5 scale hazard the rewrite
    removes)."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    _rank_view(spark)
    plan = sql(spark, _RANK_SQL)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "collect_list" not in plan
    assert "Window" in plan and "HashAggregate" in plan


def test_grouped_rank_stats_noncanonical_falls_back():
    """Joins, missing GROUP BY, parametric prefixes and wrong arity
    leave the statement for the sorted-collect rewrites (and their
    error messages)."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        _rewrite_grouped_rank_stats as rw,
    )

    for q in [
        "SELECT g, rankCorr(a, b) FROM t JOIN u ON t.i = u.i "
        "GROUP BY g",
        "SELECT rankCorr(a, b) FROM t",
        "SELECT g, mannWhitneyUTest('greater')(x, i) FROM t "
        "GROUP BY g",
        "SELECT g, rankCorr(a) FROM t GROUP BY g",
        "SELECT g, rankCorr(a, b) FROM (SELECT * FROM t) GROUP BY g",
    ]:
        assert rw(q) == q
    # ... and the fold path still raises on the parametric prefix
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )
    with pytest.raises(ValueError, match="two-argument form"):
        rewrite_aggregates(
            "SELECT g, mannWhitneyUTest('greater')(x, i) FROM t "
            "GROUP BY g")


def test_grouped_rank_stats_alias_group_key(spark, monkeypatch):
    """A GROUP BY over a select-list alias resolves the alias for the
    window PARTITION BY and still matches the fold."""
    import rsyslog_nginx_clickhouse_spark.functions.macros as M

    _rank_view(spark)
    q = """
        SELECT g % 2 AS gg, rankCorr(x, y) AS rho
        FROM r15_rank GROUP BY gg ORDER BY gg
    """
    new = [tuple(r) for r in M.sql(spark, q).collect()]
    monkeypatch.setattr(M, "_rewrite_grouped_rank_stats", lambda s: s)
    old = [tuple(r) for r in M.sql(spark, q).collect()]
    assert new == old and len(new) == 2


# -------------------------------------------- explode duplicate-eval

def test_exact_substring_plan_has_no_collect_and_no_pushed_emit(
        spark, sf_dir):
    """Round 15: the per-bucket regroup is a window lead() (no
    collect_list array pinning the hottest gram in one buffer), and
    the suffix-emit explode is OUTER so its inferred size>0 filter
    cannot re-run the whole emit below the spread exchange (measured:
    a duplicated 4.55 s single-task stage)."""
    from rsyslog_nginx_clickhouse_spark.catalog import load
    from rsyslog_nginx_clickhouse_spark.operators.dedup import (
        exact_substring_matches,
    )

    docs = load(spark, sf_dir, "documents")
    plan = exact_substring_matches(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "collect_list" not in plan
    assert "lead(" in plan
    # no Filter anywhere evaluates the emit transform (the explode's
    # inferred-filter duplication): xxhash64 appears in projections
    # and the Generate input, never in a Filter condition
    import re
    for m in re.finditer(r"Filter (.*)", plan):
        assert "xxhash64" not in m.group(1)


def test_explode_outer_rowsets_unchanged(spark):
    """The outer-explode + IS NOT NULL rewrite must keep row sets
    identical, including all-empty and sub-threshold documents."""
    from rsyslog_nginx_clickhouse_spark.operators.bpe import (
        word_frequencies,
    )
    from rsyslog_nginx_clickhouse_spark.operators.dedup import (
        exact_substring_matches,
        repeated_span_removal,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"),
         (3, "short"), (4, ""), (5, "123 456")],
        "doc_id long, text string")
    es = {r["doc_id"]: (r["longest_dup"], r["n_dup_starts"])
          for r in exact_substring_matches(docs, min_len=5,
                                           cap=8).collect()}
    assert es[1][0] >= 5 and es[2][0] >= 5   # the cross-doc pair
    assert es[3] == (0, 0) and es[4] == (0, 0)
    assert len(es) == 5                       # every doc keeps a row
    sr = {r["doc_id"]: r["n_removed"]
          for r in repeated_span_removal(docs, k=4).collect()}
    assert len(sr) == 5 and sr[3] == 0 and sr[4] == 0
    wf = {r["w"]: r["freq"] for r in word_frequencies(docs).collect()}
    assert wf["a"] == 2 and None not in wf and "" not in wf


# --------------------------------------------- plancheck decode guard

_SYNTH_DOUBLE_EXEC = """AdaptiveSparkPlan isFinalPlan=false
+- Sort [doc_id ASC NULLS FIRST], true, 0
   +- Exchange rangepartitioning(doc_id ASC NULLS FIRST, 32)
      +- Project [doc_id, n_bytes]
         +- MapInPandas run(payload), [doc_id, n_bytes]
            +- Exchange hashpartitioning(doc_id, 32)
               +- Scan parquet [doc_id, payload]
"""

_SYNTH_SHIELDED = """AdaptiveSparkPlan isFinalPlan=false
+- Sort [doc_id ASC NULLS FIRST], true, 0
   +- Exchange rangepartitioning(doc_id ASC NULLS FIRST, 32)
      +- Exchange hashpartitioning(doc_id, 32)
         +- Project [doc_id, n_bytes]
            +- MapInPandas run(payload), [doc_id, n_bytes]
               +- Scan parquet [doc_id, payload]
"""


def test_plancheck_double_exec_rule_synthetic():
    """The guard (VERDICT r14 item 7) fires when a MapInPandas chain's
    nearest downstream exchange is a RANGE partitioning, and stays
    silent when a hash exchange (the decode-once boundary) shields
    it."""
    import sys
    sys.path.insert(0, "tools")
    from plancheck import _map_in_pandas_under_range_sort as rule

    assert rule(_SYNTH_DOUBLE_EXEC) == 1
    assert rule(_SYNTH_SHIELDED) == 0


def test_plancheck_double_exec_fires_on_decode_once_revert(
        spark, sf_dir, monkeypatch):
    """Live synthetic revert: with _decode_once_exchange patched to
    identity, the real multimodal decode query plans its MapInPandas
    directly under the final range sort and the rule must fire; the
    committed helper keeps it silent."""
    import sys
    sys.path.insert(0, "tools")
    from plancheck import _map_in_pandas_under_range_sort as rule

    import rsyslog_nginx_clickhouse_spark.operators.multimodal as MM
    from rsyslog_nginx_clickhouse_spark.queries import load_all

    q = load_all()["multimodal_decode_png"]
    good = q.spark(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert rule(good) == 0
    monkeypatch.setattr(MM, "_decode_once_exchange",
                        lambda df, id_col: df)
    bad = q.spark(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert rule(bad) >= 1


# ------------------------------------------------------- local_rows

def test_local_rows_arity_check(spark):
    """ADVICE r14: positional pandas matching must not silently
    misassign — ragged or wrong-width rows are refused."""
    from rsyslog_nginx_clickhouse_spark.localdf import local_rows

    with pytest.raises(ValueError, match="positional"):
        local_rows(spark, [(1, 2, 3)], "a int, b int")
    with pytest.raises(ValueError, match="positional"):
        local_rows(spark, [(1, 2), (3,)], "a int, b int")
    got = local_rows(spark, [(1, 2), (3, 4)], "a int, b int").collect()
    assert [(r.a, r.b) for r in got] == [(1, 2), (3, 4)]
