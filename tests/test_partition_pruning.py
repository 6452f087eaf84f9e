"""Day-partition pruning from ``$timeFilter`` and the declared-schema
table read (``functions.macros.declare_partition_by``,
``plans.storage.read_table``)."""

from __future__ import annotations

import datetime as dt
import os
import re

import pytest

from rsyslog_nginx_clickhouse_spark.engine import TABLE_NAME, Engine
from rsyslog_nginx_clickhouse_spark.functions import macros

#: log lines on both sides of several midnights, at the widest nginx
#: offsets and in between: under keep_tz=True a line's logdate (its
#: local date) is then up to a day away from the UTC date of its
#: logdatetime
OFFSETS = ("+1400", "+0530", "+0000", "-0800", "-1200")
LINES = [
    f'10.0.0.{i % 7} - - [{d:02d}/Apr/2020:{h:02d}:{m:02d}:00 {tz}] '
    f'"GET /p{i % 3} HTTP/1.1" {(200, 404, 503)[i % 3]} {100 + i} '
    f'"-" "ua" "-"'
    for i, (d, h, m, tz) in enumerate(
        (d, h, m, tz) for d in (5, 6, 7, 8) for h in (0, 1, 11, 12, 22, 23)
        for m in (0, 30) for tz in OFFSETS)
]

#: dashboard ranges: across midnight, ending or starting at midnight,
#: one instant, one-sided, and a range covering a whole day
RANGES = [
    ("2020-04-06 23:00:00", "2020-04-07 01:00:00"),
    ("2020-04-06 22:30:00", "2020-04-07 00:00:00"),
    ("2020-04-07 00:00:00", "2020-04-07 00:30:00"),
    ("2020-04-06 10:00:00", "2020-04-06 13:00:00"),
    ("2020-04-07 09:30:00", "2020-04-07 09:30:00"),
    ("2020-04-05 12:00:00", "2020-04-07 12:00:00"),
    ("2020-04-08 00:00:00", None),
    (None, "2020-04-05 23:59:59"),
]

PANELS = [
    "SELECT $timeSeries AS t, count(*) AS c FROM $table "
    "WHERE $timeFilter GROUP BY t ORDER BY t",
    "$rateColumns(response AS code, count(*) AS c) "
    "FROM $table WHERE $timeFilter",
    "SELECT clientip, count(*) AS c, sum(bytes) AS b FROM $table "
    "WHERE $timeFilter AND $adhoc GROUP BY clientip ORDER BY clientip",
    "SELECT count(*) AS n FROM (SELECT * FROM $table WHERE $timeFilter)",
]


def _engine(spark, tmp_path, name: str, lines=LINES, **parse_kwargs):
    log = str(tmp_path / f"{name}.log")
    with open(log, "w") as f:
        f.write("\n".join(lines) + "\n")
    eng = Engine(table_root=str(tmp_path / name), spark=spark)
    eng.ingest(log, **parse_kwargs)
    return eng


def _day_bound(sql: str, table: str = TABLE_NAME, **kw) -> bool:
    """Whether the expansion bounds the logdate partition column."""
    out = macros.expand_macros(sql, table=table, **kw)
    return re.search(r"\blogdate\s*[<>]=", out) is not None


def _range_kw(lo, hi) -> dict:
    return {"time_from": lo, "time_to": hi, "interval_s": 1800,
            "adhoc_filters": [("response", "!=", 404)]}


@pytest.mark.parametrize("keep_tz", [False, True])
def test_day_bound_never_changes_a_panel(spark, tmp_path, monkeypatch,
                                         keep_tz):
    """Every panel over every range gives the rows of the same SQL
    expanded without the derived logdate bound."""
    eng = _engine(spark, tmp_path, f"tz{int(keep_tz)}", keep_tz=keep_tz)
    pruned = {}
    for lo, hi in RANGES:
        for sql in PANELS:
            assert _day_bound(sql, **_range_kw(lo, hi))
            pruned[lo, hi, sql] = eng.sql(sql, **_range_kw(lo, hi)).collect()
    monkeypatch.setattr(macros, "_PARTITION_KEYS", {})
    seen = 0
    for (lo, hi, sql), rows in pruned.items():
        assert not _day_bound(sql, **_range_kw(lo, hi))
        assert rows == eng.sql(sql, **_range_kw(lo, hi)).collect(), (
            lo, hi, sql)
        seen += len(rows)
    assert seen > 100  # the comparison is not over empty results


def test_day_bound_is_widened_by_one_day():
    macros.declare_partition_by(TABLE_NAME, "logdatetime", "logdate")
    out = macros.expand_macros(
        "SELECT count(*) FROM $table WHERE $timeFilter", table=TABLE_NAME,
        time_from="2020-04-06 23:00:00", time_to="2020-04-07 01:00:00")
    assert ("logdate >= date_sub(CAST(timestamp'2020-04-06 23:00:00' "
            "AS DATE), 1)") in out
    assert ("logdate <= date_add(CAST(timestamp'2020-04-07 01:00:00' "
            "AS DATE), 1)") in out


@pytest.mark.parametrize("sql, kw", [
    ("SELECT count(*) FROM $table WHERE NOT $timeFilter", {}),
    ("SELECT count(*) FROM $table WHERE $timeFilter OR response = 500",
     {}),
    ("SELECT count(*) FROM (SELECT * FROM $table) WHERE $timeFilter", {}),
    ("SELECT count(*) FROM $table JOIN other o ON o.ip = clientip "
     "WHERE $timeFilter", {}),
    ("SELECT count(*) FROM $table WHERE "
     "$timeFilterByColumn(logdatetime)", {}),
    ("SELECT count(*) FROM $table WHERE $timeFilter", {"time_col": "ts"}),
    ("SELECT count(*) FROM $table WHERE $timeFilter UNION ALL "
     "SELECT count(*) FROM $table WHERE $timeFilter", {}),
    ("SELECT count(*) FROM $table t WHERE $timeFilter", {}),
    ("SELECT count(*) FROM $table WHERE '$timeFilter' = x", {}),
])
def test_shape_guard_keeps_plain_expansion(sql, kw):
    kw = {"time_from": "2020-04-06 00:00:00",
          "time_to": "2020-04-06 01:00:00", **kw}
    macros.declare_partition_by(TABLE_NAME, "logdatetime", "logdate")
    assert not _day_bound(sql, **kw)


def test_undeclared_table_keeps_plain_expansion():
    assert not _day_bound(
        "SELECT count(*) FROM $table WHERE $timeFilter", table="events",
        time_from="2020-04-06 00:00:00", time_to="2020-04-06 01:00:00")


def test_table_schema_equals_inferred_schema(spark, tmp_path):
    eng = _engine(spark, tmp_path, "schema", lines=LINES + ["garbage"])
    for _ in range(2):  # the plain layout, then the compacted version
        inferred = spark.read.parquet(
            os.path.realpath(eng.table_root)).schema
        assert eng.table().schema == inferred
        assert eng.table().count() == len(LINES) + 1
        eng.compact()


def test_compact_keeps_undeclared_columns(spark, tmp_path):
    from pyspark.sql import functions as F

    from rsyslog_nginx_clickhouse_spark.plans.storage import (
        compact,
        read_table,
        write_mergetree_like,
    )

    path = str(tmp_path / "other")
    write_mergetree_like(spark.range(5).select(
        F.lit("2024-01-01").cast("date").alias("logdate"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("logdatetime"),
        F.col("id").alias("v")), path)
    compact(spark, path)
    back = read_table(spark, path, schema=None)
    assert back.columns == ["logdatetime", "v", "logdate"]
    assert sorted(r.v for r in back.collect()) == list(range(5))


def test_empty_table_root_reads_empty(spark, tmp_path):
    root = tmp_path / "empty"
    root.mkdir()
    eng = Engine(table_root=str(root), spark=spark)
    assert eng.table().count() == 0
    assert eng.sql(PANELS[0], **_range_kw(*RANGES[0])).collect() == []


def test_ingest_after_sql_is_visible(spark, tmp_path):
    eng = _engine(spark, tmp_path, "fresh", lines=LINES[:10])
    probe = "SELECT count(*) AS n FROM $table"
    assert eng.sql(probe).collect()[0]["n"] == 10
    log = str(tmp_path / "more.log")
    with open(log, "w") as f:
        f.write("\n".join(LINES[10:25]) + "\n")
    eng.ingest(log)
    assert eng.sql(probe).collect()[0]["n"] == 25


def _scan_nodes(df):
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            if cls == "FileSourceScanExec":
                yield node
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))


def test_one_hour_panel_reads_at_most_three_day_files(spark, tmp_path):
    start = dt.datetime(2020, 4, 1)
    lines = [
        (start + dt.timedelta(minutes=37 * i)).strftime(
            f'10.0.0.1 - - [%d/%b/%Y:%H:%M:%S +0000] "GET /x HTTP/1.1" '
            f'200 {i} "-" "ua" "-"')
        for i in range(400)  # ~10 days
    ]
    eng = _engine(spark, tmp_path, "prune", lines=lines)
    eng.compact()
    assert len(os.listdir(os.path.realpath(eng.table_root))) > 9
    # the range's day and one on either side
    df = eng.sql(PANELS[0], time_from="2020-04-06 10:00:00",
                 time_to="2020-04-06 11:00:00", interval_s=60)
    assert len(df.collect()) == 2
    (scan,) = _scan_nodes(df)
    assert "logdate" in str(scan.metadata().get("PartitionFilters").get())
    assert scan.metrics().get("numFiles").get().value() <= 3
