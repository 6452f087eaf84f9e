"""Parser goldens from FIXTURES.md §1-2 (reference README.md:68,115)."""

from __future__ import annotations

import datetime

from rsyslog_nginx_clickhouse_spark.sources.nginx_log import (
    NGINX_TABLE_SCHEMA,
    dead_letters,
    ingest_batch,
    parse_lines,
    read_access_log,
    to_typed_table,
)
from rsyslog_nginx_clickhouse_spark.sources.rulebase import load_rulebase

GOLDEN = ('127.0.0.1 - - [06/Apr/2020:09:54:48 -0400] "GET / HTTP/1.1" '
          '200 612 "-" "curl/7.29.0" "-"')


def _parse(spark, *lines):
    return parse_lines(spark.createDataFrame([(l,) for l in lines], "value string"))


def test_golden_line_fields(spark):
    row = _parse(spark, GOLDEN).collect()[0]
    assert row["_parse_ok"] is True
    expected = {
        "clientip": "127.0.0.1", "ident": "-", "auth": "-",
        "day": "06", "month": "Apr", "year": "2020",
        "rtime": "09:54:48", "tz": "-0400",
        "verb": "GET", "request": "/", "httpversion": "1.1",
        "response": "200", "bytes": "612",
        "referrer": "-", "agent": "curl/7.29.0", "blob": ' "-"',
    }
    for field, want in expected.items():
        assert row[field] == want, field


def test_typed_projection_golden(spark):
    row = to_typed_table(_parse(spark, GOLDEN)).collect()[0]
    assert row["logdate"] == datetime.date(2020, 4, 6)
    # reference drops tz (SURVEY §2.8): naive local time
    assert row["logdatetime"] == datetime.datetime(2020, 4, 6, 9, 54, 48)
    assert row["response"] == 200 and row["bytes"] == 612
    assert row["httpv"] == "1.1"  # kept as string per §2.8
    assert row["message"] == GOLDEN


def test_keep_tz_normalizes_to_utc(spark):
    row = to_typed_table(_parse(spark, GOLDEN), keep_tz=True).collect()[0]
    # -0400 local → 13:54:48 UTC (session tz pinned to UTC)
    assert row["logdatetime"] == datetime.datetime(2020, 4, 6, 13, 54, 48)


def test_schema_matches_reference_ddl(spark):
    typed = to_typed_table(_parse(spark, GOLDEN))
    got = [(f.name, f.dataType) for f in typed.schema]
    want = [(f.name, f.dataType) for f in NGINX_TABLE_SCHEMA]
    assert got == want  # nullability is Catalyst metadata, not contract


def test_quotes_in_agent(spark):
    line = ('10.0.0.1 - bob [01/Jan/2021:00:00:01 +0000] "POST /api HTTP/2" '
            '404 0 "http://x/y" "Mozilla/5.0 (X11; \'quoted\') Gecko" "1.2.3.4"')
    row = _parse(spark, line).collect()[0]
    assert row["_parse_ok"] is True
    assert row["agent"] == "Mozilla/5.0 (X11; 'quoted') Gecko"
    assert row["auth"] == "bob"
    assert row["httpversion"] == "2"


def test_extra_trailing_fields_land_in_blob(spark):
    line = GOLDEN + " 0.005"  # e.g. $upstream_response_time appended
    row = _parse(spark, line).collect()[0]
    assert row["_parse_ok"] is True
    assert row["blob"].endswith('"-" 0.005')


def test_unmatched_line_dead_letter(spark):
    parsed = _parse(spark, GOLDEN, "not an access log line at all")
    dead = dead_letters(parsed).collect()
    assert [r["message"] for r in dead] == ["not an access log line at all"]
    bad = parsed.where("NOT _parse_ok").collect()[0]
    assert bad["clientip"] is None  # null fields on the dead-letter path


def test_unknown_month_yields_null_date(spark):
    line = GOLDEN.replace("Apr", "Foo")
    typed = to_typed_table(_parse(spark, line)).collect()[0]
    assert typed["logdate"] is None and typed["logdatetime"] is None


# nginx.rule:3 as a liblognorm rule, the same 16 fields as NGINX_LINE_REGEX
NGINX_RULE = (
    'rule=:%clientip:word% %ident:word% %auth:word% '
    '[%day:char-to:/%/%month:char-to:/%/%year:number%:%rtime:word% '
    '%tz:char-to:]%] "%verb:word% %request:word% HTTP/%httpversion:float%" '
    '%response:number% %bytes:number% "%referrer:char-to:"%" '
    '"%agent:char-to:"%"%blob:rest%\n')


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _regex_runs_per_row(df) -> int:
    """RegExpReplace nodes the executed plan evaluates per row.

    A scan node is skipped: its DataFilters (a filter pushed into the
    text scan) only prune files, the Filter above it evaluates them.
    """
    def in_expr(e):
        return ((e.getClass().getSimpleName() == "RegExpReplace")
                + sum(in_expr(c) for c in _seq(e.children())))

    def in_plan(p):
        own = 0 if p.getClass().getSimpleName() == "FileSourceScanExec" \
            else sum(in_expr(e) for e in _seq(p.expressions()))
        return own + sum(in_plan(c) for c in _seq(p.children()))

    return in_plan(df._jdf.queryExecution().executedPlan())


def test_rule_regex_runs_once_per_line(spark, tmp_path):
    log = tmp_path / "access.log"
    log.write_text(GOLDEN + "\nnot an access log line\n")
    rule_file = tmp_path / "nginx.rule"
    rule_file.write_text("version=2\n" + NGINX_RULE)
    raw = read_access_log(spark, str(log))
    rule = load_rulebase(str(rule_file))[0]
    assert _regex_runs_per_row(ingest_batch(spark, str(log))) == 1
    assert _regex_runs_per_row(parse_lines(raw, rule=rule)) == 1
    assert _regex_runs_per_row(dead_letters(parse_lines(raw))) == 1
    # the loaded rule parses like the built-in one
    assert parse_lines(raw, rule=rule).collect() == \
        parse_lines(raw).collect()
