"""Runtime rulebase / lookup-table loaders (sources/rulebase.py).

Golden tests load the reference's VERBATIM config files (nginx.rule,
nginx.table in SPARK_GRAFT_REFERENCE_DIR — read directly, not copied
into the repo) and assert the compiled parser reproduces the hardcoded
transliteration's verified behavior.
"""

from __future__ import annotations

import os
import re

import pytest

from rsyslog_nginx_clickhouse_spark.queries.reference import (
    reference_config_path,
)
from rsyslog_nginx_clickhouse_spark.sources.lookup import MONTHS
from rsyslog_nginx_clickhouse_spark.sources.nginx_log import (
    NGINX_LINE_REGEX,
    PARSED_FIELDS,
    parse_lines,
    to_typed_table,
)
from rsyslog_nginx_clickhouse_spark.sources.rulebase import (
    compile_rule,
    load_lookup_table,
    load_rulebase,
    parse_lookup_table,
    parse_rulebase,
)

REF_RULE = reference_config_path("nginx.rule")
REF_TABLE = reference_config_path("nginx.table")
have_reference = pytest.mark.skipif(
    not os.path.exists(REF_RULE),
    reason=f"{REF_RULE} not found: set SPARK_GRAFT_REFERENCE_DIR")


# --- token translator unit behavior -----------------------------------

def test_compile_simple_tokens():
    r = compile_rule("%a:word% %n:number% %f:float%%rest:rest%")
    assert r.fields == ("a", "n", "f", "rest")
    m = re.match(r.regex, "hello 42 3.14 and the rest")
    assert m and m.groups() == ("hello", "42", "3.14", " and the rest")


def test_compile_char_to_and_literals():
    r = compile_rule('[%x:char-to:]%] "%y:char-to:"%"')
    m = re.match(r.regex, '[inside] "quoted"')
    assert m and m.groups() == ("inside", "quoted")
    assert re.match(r.regex, "no brackets") is None


def test_compile_percent_escape():
    r = compile_rule("%p:number%%% used")
    m = re.match(r.regex, "99% used")
    assert m and m.groups() == ("99",)


def test_compile_rejects_unknown_type():
    with pytest.raises(ValueError, match="unsupported liblognorm"):
        compile_rule("%x:ipv4%")


def test_compile_rejects_unterminated_token():
    with pytest.raises(ValueError, match="unterminated"):
        compile_rule("%x:word")


def test_compile_rejects_multichar_char_to():
    with pytest.raises(ValueError, match="one stop char"):
        compile_rule("%x:char-to:ab%")


def test_parse_rulebase_directives():
    rules = parse_rulebase(
        "version=2\n\n# comment\nrule=tag1,tag2:%a:word%\n")
    assert len(rules) == 1
    assert rules[0].tags == ("tag1", "tag2")
    with pytest.raises(ValueError, match="version=2"):
        parse_rulebase("version=1\nrule=:%a:word%\n")
    with pytest.raises(ValueError, match="unsupported rulebase"):
        parse_rulebase("version=2\nprefix=foo\n")
    with pytest.raises(ValueError, match="no rule="):
        parse_rulebase("version=2\n")


def test_parse_lookup_table_shape():
    t = parse_lookup_table(
        '{"version":1, "nomatch":"na", "type":"string",'
        ' "table":[{"index":"a","value":"1"}]}')
    assert t.mapping == {"a": "1"} and t.nomatch == "na"
    # rsyslog default nomatch is the empty string
    t2 = parse_lookup_table('{"table":[{"index":"a","value":"1"}]}')
    assert t2.nomatch == ""
    with pytest.raises(ValueError, match="string lookup"):
        parse_lookup_table('{"type":"number","table":[]}')
    with pytest.raises(ValueError, match="no 'table' rows"):
        parse_lookup_table('{"type":"string","table":[]}')
    with pytest.raises(ValueError, match="malformed table row"):
        parse_lookup_table('{"table":[{"index":"a"}]}')


# --- golden: the reference's verbatim files ---------------------------

@have_reference
def test_golden_rule_compiles_to_builtin_fields():
    rules = load_rulebase(REF_RULE)
    assert len(rules) == 1
    assert rules[0].fields == PARSED_FIELDS
    assert rules[0].tags == ()


@have_reference
def test_golden_rule_matches_builtin_regex_behavior():
    compiled = re.compile(load_rulebase(REF_RULE)[0].regex)
    builtin = re.compile(NGINX_LINE_REGEX)
    lines = [
        '1.2.3.4 - - [14/Aug/2026:13:59:00 +0000] '
        '"GET /view/1 HTTP/1.1" 200 512 "-" "agent/7" "-"',
        '1.2.3.4 - u [01/Dec/1999:23:59:59 -0500] '
        '"POST /a?x=1 HTTP/2" 404 0 "http://r/" "Mozilla/5.0 (X11)" b',
        # empty referrer and agent (real-log shape)
        '1.2.3.4 - - [14/Aug/2026:13:59:00 +0000] '
        '"GET / HTTP/1.0" 200 1 "" "" ',
        # unknown month token still parses (month maps to nomatch later)
        '1.2.3.4 - - [14/Xyz/2026:13:59:00 +0000] '
        '"GET / HTTP/1.0" 200 1 "-" "-" ',
        "garbage line that must not match",
        "",
    ]
    for ln in lines:
        mc, mb = compiled.match(ln), builtin.match(ln)
        assert (mc is None) == (mb is None), ln
        if mc is not None:
            assert mc.groups() == mb.groups(), ln


@have_reference
def test_golden_table_is_the_month_map():
    t = load_lookup_table(REF_TABLE)
    assert dict(t.mapping) == MONTHS
    assert t.nomatch == "unk"


@have_reference
def test_golden_end_to_end_loaded_equals_hardcoded(spark):
    """The full parse→lookup→typed chain through the LOADED config
    produces byte-identical rows to the hardcoded path."""
    rule = load_rulebase(REF_RULE)[0]
    months = load_lookup_table(REF_TABLE)
    lines = [
        '1.2.3.4 - - [14/Aug/2026:13:59:00 +0000] '
        '"GET /view/1 HTTP/1.1" 200 512 "-" "agent/7" "-"',
        '5.6.7.8 - - [02/Xyz/2026:01:02:03 +0000] '
        '"GET /bad-month HTTP/1.1" 301 9 "-" "a" "-"',
        "dead letter",
    ]
    raw = spark.createDataFrame([(x,) for x in lines], "value string")
    hard = to_typed_table(parse_lines(raw)).collect()
    loaded = to_typed_table(parse_lines(raw, rule=rule),
                            month_table=months).collect()
    assert hard == loaded
    # bad month -> 'unk' -> null date; dead letter -> all-null fields
    by_msg = {r.message: r for r in loaded}
    assert by_msg[lines[0]].logdate is not None
    assert by_msg[lines[1]].logdate is None
    assert by_msg["dead letter"].clientip is None
