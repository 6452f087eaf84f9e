"""Property-based tests (hypothesis): parser round-trip and dedup
invariants that goldens can't cover exhaustively."""

from __future__ import annotations

import re

import hypothesis.strategies as st
from hypothesis import HealthCheck, example, given, settings

from rsyslog_nginx_clickhouse_spark.sources.nginx_log import (
    NGINX_LINE_REGEX,
    PARSED_FIELDS,
    parse_lines,
)

# Field alphabets mirror what the regex tokens accept: word → \S+,
# char-to:" → [^"]*, etc. Rendering from structured values and parsing
# back must be lossless for ANY values in those alphabets.
# printable ASCII only: nginx itself escapes control characters in the
# access log (escape=default), so raw \x00-\x1f never reaches the
# parser; our fast single-pass splitter dead-letters (never mis-parses)
# such synthetic lines via its arity check.
_word = st.text(
    alphabet=st.characters(codec="ascii", min_codepoint=0x21,
                           max_codepoint=0x7E, exclude_characters='"[]'),
    min_size=1, max_size=12)
_quoted = st.text(
    alphabet=st.characters(codec="ascii", min_codepoint=0x20,
                           max_codepoint=0x7E, exclude_characters='"'),
    min_size=0, max_size=20)
_num = st.integers(min_value=0, max_value=10**12)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(clientip=_word, auth=_word, verb=_word, request=_word,
       status=st.integers(0, 65535), nbytes=_num,
       referrer=_quoted, agent=_quoted)
def test_parse_roundtrip_any_field_values(spark, clientip, auth, verb,
                                          request, status, nbytes,
                                          referrer, agent):
    line = (f'{clientip} - {auth} [06/Apr/2020:09:54:48 -0400] '
            f'"{verb} {request} HTTP/1.1" {status} {nbytes} '
            f'"{referrer}" "{agent}" "-"')
    row = parse_lines(
        spark.createDataFrame([(line,)], "value string")).collect()[0]
    assert row["_parse_ok"] is True
    assert row["clientip"] == clientip
    assert row["auth"] == auth
    assert row["verb"] == verb
    assert row["request"] == request
    assert row["response"] == str(status)
    assert row["bytes"] == str(nbytes)
    assert row["referrer"] == referrer
    assert row["agent"] == agent


_MONTH = st.sampled_from(["Jan", "Feb", "Jun", "Dec", "Xyz", ""])
_rendered = st.builds(
    lambda ip, auth, mon, verb, req, status, nbytes, ref, agent, blob: (
        f'{ip} - {auth} [06/{mon}/2020:09:54:48 -0400] '
        f'"{verb} {req} HTTP/1.1" {status} {nbytes} "{ref}" "{agent}"{blob}'),
    _word, _word, _MONTH, _word, _word,
    st.integers(0, 10**20), st.integers(0, 10**20),
    _quoted, _quoted, _quoted)
# valid lines, lines carrying the \x01 capture separator, truncated lines
# and free text (which covers the empty line)
_line = st.one_of(
    _rendered,
    st.tuples(_rendered, st.integers(0, 200)).map(
        lambda t: t[0][:t[1]] + "\x01" + t[0][t[1]:]),
    st.tuples(_rendered, st.integers(0, 200)).map(lambda t: t[0][:t[1]]),
    st.text(alphabet=st.sampled_from(" x1[]/:\"\x01"), max_size=40))


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(lines=st.lists(_line, min_size=1, max_size=20))
@example(lines=["", "\x01" * 15, "a\x01" * 15 + "a"])
def test_parse_matches_per_field_python_regex(spark, lines):
    """parse_lines equals applying NGINX_LINE_REGEX with Python's re, one
    field at a time; a line carrying the \x01 capture separator is
    dead-lettered whether or not the rule matches it."""
    rx = re.compile(NGINX_LINE_REGEX)
    parsed = parse_lines(
        spark.createDataFrame([(x,) for x in lines], "value string"))
    assert parsed.columns == ["message", "_parse_ok", *PARSED_FIELDS]
    rows = parsed.collect()
    assert sorted(r["message"] for r in rows) == sorted(lines)
    for row in rows:
        line = row["message"]
        m = rx.match(line)
        ok = m is not None and "\x01" not in line
        assert row["_parse_ok"] is ok, line
        for i, name in enumerate(PARSED_FIELDS):
            assert row[name] == (m.group(i + 1) if ok else None), (line, name)


def test_minhash_signature_is_order_and_dup_invariant(spark):
    """sig(shuffled distinct shingles) == sig(original): min over a set."""
    import random

    from rsyslog_nginx_clickhouse_spark.operators.dedup import minhash_sig_udf
    from pyspark.sql import functions as F

    base = [f"sh{i} tok{i} w{i}" for i in range(30)]
    shuffled = base[:]
    random.Random(7).shuffle(shuffled)
    df = spark.createDataFrame(
        [(1, base), (2, shuffled)], "id long, shingles array<string>")
    rows = {r["id"]: r["sig"] for r in
            df.select("id", minhash_sig_udf(F.col("shingles"))
                      .alias("sig")).collect()}
    assert rows[1] == rows[2]


def test_jaccard_identical_docs_always_one(spark):
    from rsyslog_nginx_clickhouse_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(4)],
        "doc_id long, text string")
    pairs = ngram_jaccard_pairs(docs, threshold=0.99).collect()
    assert len(pairs) == 6  # all C(4,2) pairs
    assert all(r["jaccard"] == 1.0 for r in pairs)


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized differential test: our union-sort-window as-of join
    must agree with pd.merge_asof (backward, exact matches allowed) —
    including null right-payload values and duplicate timestamps."""
    import random

    import pandas as pd

    from rsyslog_nginx_clickhouse_spark.operators.asof import asof_join

    rng = random.Random(1234)
    for trial in range(3):
        left_rows = [(rng.randint(1, 4), rng.randint(0, 1000))
                     for _ in range(60)]
        right_rows = [(rng.randint(1, 4), rng.randint(0, 1000),
                       rng.choice([None, "a", "b", "c"]))
                      for _ in range(60)]
        # dedupe (key, t) on the right: with duplicate right times the
        # winner is ordering-dependent in BOTH engines (untestable tie)
        seen = set()
        right_rows = [r for r in right_rows
                      if (r[0], r[1]) not in seen
                      and not seen.add((r[0], r[1]))]

        left = spark.createDataFrame(left_rows, "k int, t long")
        right = spark.createDataFrame(right_rows, "k int, t long, v string")
        got = {(r["k"], r["t"], i): (r["v_asof"], r["t_asof"])
               for i, r in enumerate(sorted(
                   asof_join(left, right, on="k", time_col="t").collect(),
                   key=lambda r: (r["k"], r["t"])))}

        lpd = pd.DataFrame(left_rows, columns=["k", "t"]).sort_values("t")
        rpd = pd.DataFrame(right_rows, columns=["k", "t", "v"]).sort_values("t")
        m = pd.merge_asof(lpd, rpd, on="t", by="k",
                          direction="backward", suffixes=("", "_r"))
        want = {}
        for i, row in enumerate(m.sort_values(["k", "t"]).itertuples()):
            v = None if pd.isna(row.v) else row.v
            want[(row.k, row.t, i)] = v
        assert len(got) == len(want)
        for key in want:
            assert got[key][0] == want[key], (trial, key)


def test_range_join_matches_naive_nonequi(spark):
    """Randomized differential test: bucketed range join == the naive
    non-equi join it replaces, for every bin width."""
    import random

    from pyspark.sql import functions as F

    from rsyslog_nginx_clickhouse_spark.operators.rangejoin import range_join

    rng = random.Random(99)
    points = [(rng.randint(1, 3), rng.randint(0, 500)) for _ in range(80)]
    intervals = []
    for i in range(25):
        s = rng.randint(0, 480)
        intervals.append((rng.randint(1, 3), s, s + rng.randint(0, 90), i))
    p = spark.createDataFrame(points, "k int, t long")
    iv = spark.createDataFrame(intervals, "k int, s long, e long, iv_id int")

    naive = {(r["k"], r["t"], r["iv_id"]) for r in
             p.join(iv, (p["k"] == iv["k"])
                    & p["t"].between(iv["s"], iv["e"]))
              .select(p["k"], "t", "iv_id").collect()}
    for bin_s in (7, 60, 1000):
        got = {(r["k"], r["t"], r["iv_id"]) for r in
               range_join(p, iv, on="k", time_col="t",
                          start_col="s", end_col="e", bin_s=bin_s)
               .select("k", "t", "iv_id").collect()}
        assert got == naive, bin_s


_lit_text = st.text(
    alphabet=st.characters(codec="ascii", min_codepoint=0x20,
                           max_codepoint=0x7E, exclude_characters="\\"),
    min_size=0, max_size=40)


@settings(max_examples=100, deadline=None)
@given(_lit_text)
def test_rewrite_preserves_arbitrary_literal_content(s):
    # ANY string literal content — including aggregate/combinator names,
    # parens, commas — must survive rewrite_aggregates byte-identically
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    lit = "'" + s.replace("'", "''") + "'"
    q = f"SELECT {lit} AS c FROM t"
    assert rewrite_aggregates(q) == q


@settings(max_examples=50, deadline=None)
@given(_lit_text, st.sampled_from(["sumIf", "avgIf", "minIf", "maxIf"]))
def test_rewrite_if_combinators_idempotent(s, name):
    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        rewrite_aggregates,
    )

    from rsyslog_nginx_clickhouse_spark.functions.clickhouse import (
        IF_COMBINATORS,
    )

    lit = "'" + s.replace("'", "''") + "'"
    q = f"SELECT {name}(v, col = {lit}) AS c FROM t"
    once = rewrite_aggregates(q)
    # exact expected form (works even when the literal itself contains
    # a combinator name — literals are masked, never rewritten);
    # sumIf coalesces to 0, matching ClickHouse's empty-match result
    inner = f"{IF_COMBINATORS[name]}(if(col = {lit}, v, NULL))"
    if name == "sumIf":
        inner = f"coalesce({inner}, 0)"
    assert once == f"SELECT {inner} AS c FROM t"
    assert rewrite_aggregates(once) == once  # stable under re-rewrite


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(val=st.text(
    alphabet=st.characters(codec="ascii", min_codepoint=0x20,
                           max_codepoint=0x7E),
    min_size=0, max_size=24))
def test_adhoc_value_roundtrip_through_parser(spark, val):
    """ANY printable-ASCII ad-hoc filter value — quotes, backslashes,
    $-macro tokens, SQL fragments — must round-trip through the
    expansion and Spark's parser as pure data: the predicate matches
    exactly the rows whose column equals the value."""
    from pyspark.sql import functions as F

    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        adhoc_predicate,
    )

    df = spark.createDataFrame(
        [(val,), (val + "x",), ("decoy",)], "c string")
    p = adhoc_predicate([("c", "=", val)])
    got = [r["c"] for r in df.where(F.expr(p)).collect()]
    assert got == [val]


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(sizes=st.lists(st.integers(min_value=1, max_value=50),
                      min_size=1, max_size=60),
       cap=st.integers(min_value=10, max_value=80))
def test_greedy_pack_matches_reference_recurrence(spark, sizes, cap):
    """Next-fit packing == an independent pure-Python replay of the
    recurrence for ANY size sequence and capacity (incl. oversize
    docs) — the distributed applyInPandas path may not diverge from
    the spec the recursive-CTE oracle encodes."""
    from rsyslog_nginx_clickhouse_spark.operators.packing import (
        greedy_pack,
    )

    rows = [(i % 2, i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "shard int, doc_id long, size long")
    got = sorted((r.shard, r.doc_id, r.size, r.bin_id, r.bin_offset)
                 for r in greedy_pack(df, cap).collect())
    want = []
    for shard in (0, 1):
        fill, b = 0, -1
        for i, s in [(i, s) for i, s in enumerate(sizes)
                     if i % 2 == shard]:
            if b < 0 or fill + s > cap:
                b += 1
                fill = 0
            want.append((shard, i, s, b, fill))
            fill += s
    assert got == sorted(want)


@settings(max_examples=100, deadline=None)
@given(frac=st.integers(1, 9999), off_num=st.integers(0, 9999))
def test_sample_slice_bounds_partition_the_hash_space(frac, off_num):
    """For ANY fraction and offset grid point with off+frac <= 1, the
    rewritten hash-range bounds must tile [0, 2^32) without gaps or
    overlaps when slices are laid end to end: the bound arithmetic is
    floor-monotone, so slice k's hi == slice k+1's lo whenever offsets
    chain. Guards the int() truncation in rewrite_sample against
    off-by-one drift at awkward fractions."""
    import re as _re

    from rsyslog_nginx_clickhouse_spark.functions.macros import (
        declare_sample_by,
        rewrite_sample,
    )

    f = frac / 10000.0
    o = off_num / 10000.0
    if o + f > 1.0:
        return
    declare_sample_by("pt", "k")

    def bounds(fr, of):
        out = rewrite_sample(f"SELECT 1 FROM pt SAMPLE {fr!r} OFFSET {of!r}")
        m = _re.search(r">= (\d+) AND .* < (\d+)", out)
        return int(m.group(1)), int(m.group(2))

    lo, hi = bounds(f, o)
    assert 0 <= lo <= hi <= 2**32
    # chained slice: [o, o+f) then [o+f, ...) share the boundary
    # point computed the same way, so no row is lost or doubled
    if o + 2 * f <= 1.0:
        lo2, hi2 = bounds(f, o + f)
        assert lo2 == hi


@settings(max_examples=100, deadline=None)
@given(n=st.integers(1, 10**7), total=st.integers(1, 10**8))
def test_sample_rowcount_inversion_matches_duckdb_ieee(n, total):
    """The row-count SAMPLE form's inversion (frac = n/total, hi =
    trunc(frac·2^32), factor = 1.0/frac) must land on EXACTLY the
    same doubles in DuckDB's replay expressions, for ANY n/total —
    the oracle contract of sample_rowcount_scan. Python's int/int
    division is correctly rounded and both engines scale by a power
    of two (exact), so any drift here is a real bug, not float noise."""
    import duckdb

    if n >= total:
        return  # the full-table branch has no arithmetic to diverge
    frac = n / total
    hi_py = int(frac * 4294967296)
    factor_py = 1.0 / frac
    hi_db, factor_db = duckdb.sql(
        f"SELECT CAST(trunc(({n} / {total}) * 4294967296) AS UBIGINT),"
        f" 1.0 / ({n} / {total})").fetchone()
    assert hi_py == hi_db
    assert factor_py == factor_db


# ---------------- round-12 rewrite folds vs Python references --


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(
    st.tuples(st.integers(0, 50),            # ts
              st.one_of(st.none(), st.integers(-100, 100))),  # value
    min_size=0, max_size=25))
def test_delta_sum_timestamp_matches_reference(spark, rows):
    """deltaSumTimestamp == the positive-delta fold over (ts, value)
    sorted pairs (ties break by value — the struct sort), NULLs
    skipped without breaking the prev chain."""
    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    df = spark.createDataFrame(
        [(1, t, float(v) if v is not None else None)
         for t, v in rows] or [(1, None, None)],
        "g int, t int, v double")
    df.createOrReplaceTempView("prop_dst")
    got = sql(spark, "SELECT deltaSumTimestamp(v, t) AS ds "
                     "FROM prop_dst GROUP BY g").collect()[0].ds

    kept = sorted((t, v) for t, v in rows if v is not None
                  and t is not None)
    exp, prev = 0.0, None
    for _, v in kept:
        if prev is not None and v > prev:
            exp += v - prev
        prev = float(v)
    assert got == exp


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(
    st.tuples(st.integers(-50, 50),          # value
              st.integers(1, 9)),            # weight
    min_size=1, max_size=25),
    p=st.sampled_from([0.1, 0.25, 0.5, 0.75, 0.9]))
def test_quantile_exact_weighted_matches_reference(spark, rows, p):
    """quantileExactWeighted == first value (ascending) whose
    cumulative weight reaches greatest(floor(p * total), 1)."""
    import math

    from rsyslog_nginx_clickhouse_spark.functions.macros import sql

    df = spark.createDataFrame(
        [(1, float(v), w) for v, w in rows], "g int, v double, w int")
    df.createOrReplaceTempView("prop_qew")
    got = sql(spark, f"SELECT quantileExactWeighted({p})(v, w) AS q "
                     "FROM prop_qew GROUP BY g").collect()[0].q

    pairs = sorted((float(v), float(w)) for v, w in rows)
    thr = max(math.floor(p * sum(w for _, w in pairs)), 1)
    cum, exp = 0.0, None
    for v, w in pairs:
        cum += w
        if cum >= thr:
            exp = v
            break
    assert got == exp
