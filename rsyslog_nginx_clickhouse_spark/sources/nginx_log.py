"""nginx access-log parsing: raw lines → 16-field typed table.

Reference parity (citations into /root/reference):

- Tokenizer rule ``nginx.rule:3`` — 16 liblognorm fields over the nginx
  combined-ish format (``README.md:41-43``). Re-expressed as ONE anchored
  regex, run once per line: ``regexp_replace`` rewrites a matched line
  into its capture groups joined by ``\\x01``, which are then split;
  each liblognorm token maps to a regex class:
  ``word → \\S+``, ``char-to:C → [^C]*``, ``number → \\d+``,
  ``float → \\d+(?:\\.\\d+)?``, ``rest → .*``. Read, parse and typed
  projection of perfbench's ~165 B lines cost ~61 µs of CPU per line on
  a 4-vCPU Xeon VM (C1-only JIT, 15,360 lines); ~240 µs while the regex
  ran once per field.
- Month lookup ``nginx.conf:55`` + ``nginx.table:1-15`` — broadcast map
  with nomatch default ``"unk"`` (see sources/lookup.py).
- Typed projection = template ``ng`` (``nginx.conf:2-46``): assembles
  ``logdate``/``logdatetime``, passes through message properties, casts
  ``response``/``bytes``. The reference drops the parsed ``tz`` field
  (SURVEY §2.8); we default to replicating that (naive local timestamps)
  with ``keep_tz=True`` opting into correct zone handling.

Everything here is built-in column expressions — no Python UDFs; the
whole parse stays inside WholeStageCodegen and scales linearly with
input partitions (no shuffle anywhere in the parse path).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rsyslog_nginx_clickhouse_spark.sources.lookup import MONTHS, lookup_map

if TYPE_CHECKING:
    from rsyslog_nginx_clickhouse_spark.sources.rulebase import (
        CompiledRule,
        LookupTable,
    )

#: One anchored regex == nginx.rule:3. Group numbers (1-based):
#: 1 clientip, 2 ident, 3 auth, 4 day, 5 month, 6 year, 7 rtime, 8 tz,
#: 9 verb, 10 request, 11 httpversion, 12 response, 13 bytes,
#: 14 referrer, 15 agent, 16 blob
NGINX_LINE_REGEX = (
    r'^(\S+) (\S+) (\S+) \[([^/]+)/([^/]+)/(\d+):(\S+) ([^\]]*)\] '
    r'"(\S+) (\S+) HTTP/(\d+(?:\.\d+)?)" (\d+) (\d+) "([^"]*)" "([^"]*)"(.*)$'
)

#: Parsed-field names in capture-group order (== the rule's field names).
PARSED_FIELDS = (
    "clientip", "ident", "auth", "day", "month", "year", "rtime", "tz",
    "verb", "request", "httpversion", "response", "bytes",
    "referrer", "agent", "blob",
)

#: parse_lines' intermediate column holding the split capture list; it
#: never appears in parse_lines' output.
_CAPTURES = "_captures"

#: Final analytics-table schema == nginx.click:1 (ClickHouse → Spark:
#: Date→date, DateTime→timestamp, UInt16→int, UInt64→long; SURVEY §1.1).
NGINX_TABLE_SCHEMA = T.StructType([
    T.StructField("logdate", T.DateType()),
    T.StructField("logdatetime", T.TimestampType()),
    T.StructField("hostname", T.StringType()),
    T.StructField("syslogtag", T.StringType()),
    T.StructField("message", T.StringType()),
    T.StructField("clientip", T.StringType()),
    T.StructField("ident", T.StringType()),
    T.StructField("auth", T.StringType()),
    T.StructField("verb", T.StringType()),
    T.StructField("request", T.StringType()),
    T.StructField("httpv", T.StringType()),
    T.StructField("response", T.IntegerType()),
    T.StructField("bytes", T.LongType()),
    T.StructField("referrer", T.StringType()),
    T.StructField("agent", T.StringType()),
    T.StructField("blob", T.StringType()),
])


def read_access_log(spark: SparkSession, path: str) -> DataFrame:
    """Batch source ↔ imfile tail (nginx.conf:48,51) in backfill mode.

    Streaming equivalent lives in streaming/ingest.py.
    """
    return spark.read.text(path)


def parse_lines(raw: DataFrame, line_col: str = "value",
                rule: "CompiledRule | None" = None) -> DataFrame:
    """Tokenize raw lines into typed-string fields (↔ mmnormalize, P1).

    ``rule`` defaults to the built-in transliteration of nginx.rule:3
    (NGINX_LINE_REGEX / PARSED_FIELDS); pass a
    ``sources.rulebase.CompiledRule`` (e.g. from ``load_rulebase``) to
    parse with a user-edited rule file instead — README.md:49 expects
    users to extend the rule per added field without touching engine
    code.

    Output: one StringType column per parsed field plus ``message`` (the
    raw line, kept verbatim per nginx.conf:22) and ``_parse_ok`` marking
    lines the rule matched. Non-matching lines keep null fields — the
    dead-letter channel (liblognorm unmatched-event behavior).
    """
    regex = NGINX_LINE_REGEX if rule is None else rule.regex
    fields = PARSED_FIELDS if rule is None else rule.fields
    # Rewrite the matched line into a \x01-joined capture list, then
    # split. The array is projected as its own column because Spark's
    # subexpression elimination does not reach the conditional THEN
    # branches of the per-field CASE WHENs below: written inline, the
    # regex would run again for every field of a matched line.
    # CollapseProject does not inline a non-cheap expression referenced
    # more than once, so the two selects stay apart in the executed plan.
    sep = "\x01"
    repl = sep.join(f"${i}" for i in range(1, len(fields) + 1))
    split = raw.select(
        F.col(line_col).alias("message"),
        F.split(F.regexp_replace(F.col(line_col), regex, repl), sep, -1)
        .alias(_CAPTURES))
    line, arr = F.col("message"), F.col(_CAPTURES)
    # regexp_replace returns the line UNCHANGED when the rule doesn't
    # match; a matched line always yields exactly len(fields) parts. The
    # arity check alone is NOT sufficient: an unmatched garbage line that
    # itself contains exactly len(fields)-1 \x01 bytes splits into
    # len(fields) parts and would silently land fragments in the typed
    # columns — so any line CONTAINING the separator is dead-lettered
    # outright (a real access-log line never carries \x01; one cheap
    # substring scan, no second regex execution).
    matched = (F.size(arr) == len(fields)) \
        & ~F.contains(line, F.lit(sep))
    cols = [line, matched.alias("_parse_ok")]
    for i, name in enumerate(fields):
        cols.append(F.when(matched, arr[i]).alias(name))
    return split.select(*cols)


def month_number(month_col: Column,
                 table: "LookupTable | None" = None) -> Column:
    """P4: lookup("monthes", $!month) with nomatch → 'unk' (nginx.table:1).

    ``table`` defaults to the built-in month map; pass a
    ``sources.rulebase.LookupTable`` (from ``load_lookup_table``) to use
    a user-edited table file — its ``nomatch`` replaces the default.
    """
    if table is None:
        return lookup_map(MONTHS, month_col, default="unk")
    return lookup_map(table.mapping, month_col, default=table.nomatch)


def to_typed_table(parsed: DataFrame,
                   hostname: str = "spark",
                   syslogtag: str = "nginx",
                   keep_tz: bool = False,
                   month_table: "LookupTable | None" = None) -> DataFrame:
    """Typed projection ↔ template ``ng`` (nginx.conf:2-46, P5+P6).

    - ``logdate``  = concat(year,'-',nxm,'-',day) cast to date
      (nginx.conf:4-8; nxm = month lookup, nginx.conf:55).
    - ``logdatetime`` = logdate + ' ' + rtime cast to timestamp
      (nginx.conf:10-16). ``keep_tz=False`` replicates the reference
      dropping ``tz`` (zone-less local time, SURVEY §2.8); ``keep_tz=True``
      parses with the offset and normalizes to session-tz instants.
    - hostname/syslogtag are message properties (nginx.conf:18-20);
      local-mode constants here, real values in a syslog deployment.
    - ``response``→int (UInt16), ``bytes``→long (UInt64), ``httpv`` kept
      as string even though parsed as float (SURVEY §2.8 replicate).

    A month outside Jan..Dec yields nxm='unk' → unparseable date → null
    logdate/logdatetime via try_to_date/try_to_timestamp (NOT the ANSI
    throwing forms: one malformed line must dead-letter, never abort a
    100 TB ingest job), landing the row in the null partition rather
    than corrupting a real day.
    """
    nxm = month_number(F.col("month"), month_table)
    datestr = F.concat_ws("-", F.col("year"), nxm, F.col("day"))
    dtstr = F.concat(datestr, F.lit(" "), F.col("rtime"))
    if keep_tz:
        logdatetime = F.try_to_timestamp(
            F.concat(dtstr, F.lit(" "), F.col("tz")),
            F.lit("yyyy-MM-dd HH:mm:ss Z"))
    else:
        logdatetime = F.try_to_timestamp(dtstr, F.lit("yyyy-MM-dd HH:mm:ss"))
    return parsed.select(
        F.try_to_timestamp(datestr, F.lit("yyyy-MM-dd")).cast("date")
         .alias("logdate"),
        logdatetime.alias("logdatetime"),
        F.lit(hostname).alias("hostname"),
        F.lit(syslogtag).alias("syslogtag"),
        F.col("message"),
        F.col("clientip"),
        F.col("ident"),
        F.col("auth"),
        F.col("verb"),
        F.col("request"),
        F.col("httpversion").alias("httpv"),
        # try_cast, NOT cast: under Spark 4's default ANSI mode a plain
        # cast of an overflowing number ('999999999999' passes the \d+
        # token) would abort the whole ingest job instead of
        # dead-lettering the row
        F.col("response").try_cast("int").alias("response"),
        F.col("bytes").try_cast("long").alias("bytes"),
        F.col("referrer"),
        F.col("agent"),
        F.col("blob"),
    )


def ingest_batch(spark: SparkSession, path: str,
                 rule: "CompiledRule | None" = None, **kwargs) -> DataFrame:
    """Full batch ingest chain: read → parse → typed (R1 ruleset chain)."""
    return to_typed_table(
        parse_lines(read_access_log(spark, path), rule=rule), **kwargs)


def dead_letters(parsed: DataFrame) -> DataFrame:
    """Lines the rule did not match (R2 debug-tee analogue for bad rows)."""
    return parsed.where(~F.col("_parse_ok")).select("message")
