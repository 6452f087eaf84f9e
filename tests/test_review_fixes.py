"""Regressions for the self-review findings (see commit message)."""

from __future__ import annotations

import datetime
import glob
import os
import shutil

from pyspark.sql import functions as F

from rsyslog_nginx_clickhouse_spark.functions.clickhouse import (
    register_clickhouse_functions,
)
from rsyslog_nginx_clickhouse_spark.functions.macros import rewrite_aggregates
from rsyslog_nginx_clickhouse_spark.operators.asof import asof_join
from rsyslog_nginx_clickhouse_spark.operators.rangejoin import range_join
from rsyslog_nginx_clickhouse_spark.operators.simhash import simhash_pairs


def _ts(s):
    return datetime.datetime.fromisoformat(s)


def test_asof_carries_whole_rows_not_stitched_columns(spark):
    left = spark.createDataFrame([(1, _ts("2024-01-01 03:00:00"))],
                                 "k int, ts timestamp")
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01 01:00:00"), "A", None),
         (1, _ts("2024-01-01 02:00:00"), None, "B")],
        "k int, ts timestamp, v1 string, v2 string")
    row = asof_join(left, right, on="k", time_col="ts").collect()[0]
    # the matched row is (NULL, 'B') — per-column carry would fabricate
    # ('A', 'B'), a row that never existed
    assert row["v1_asof"] is None and row["v2_asof"] == "B"
    assert row["ts_asof"] == _ts("2024-01-01 02:00:00")


def test_range_join_left_keeps_unmatched_points(spark):
    points = spark.createDataFrame(
        [("u", _ts("2024-01-01 10:30:00")),   # inside
         ("u", _ts("2024-01-01 20:00:00"))],  # no interval
        "k string, ts timestamp")
    intervals = spark.createDataFrame(
        [("u", _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00"), "A")],
        "k string, s timestamp, e timestamp, label string")
    got = range_join(points, intervals, on="k", time_col="ts",
                     start_col="s", end_col="e", bin_s=600, how="left")
    rows = {str(r["ts"]): r["label"] for r in got.collect()}
    assert rows == {"2024-01-01 10:30:00": "A",
                    "2024-01-01 20:00:00": None}


def test_simhash_chunk_count_follows_hamming_budget(spark):
    # two docs differing in ~5 tokens of 40: hamming likely in (3, 8]
    base = " ".join(f"w{i}" for i in range(40))
    other = " ".join(f"w{i}" if i % 8 else f"x{i}" for i in range(40))
    docs = spark.createDataFrame([(1, base), (2, other), (3, base)],
                                 "doc_id long, text string")
    h3 = {(r["id_a"], r["id_b"]): r["hamming"]
          for r in simhash_pairs(docs, max_hamming=3).collect()}
    h20 = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_pairs(docs, max_hamming=20).collect()}
    assert h3[(1, 3)] == 0
    # the wider budget must be a superset, with recall at its budget
    assert set(h3) <= set(h20)
    assert all(h <= 20 for h in h20.values())
    assert (1, 2) in h20 or (1, 2) in h3 or h20 == h3  # candidates found


def test_tostartofweek_is_sunday_based(spark):
    register_clickhouse_functions(spark)
    rows = spark.sql("""
        SELECT toStartOfWeek(timestamp'2020-04-05 12:00:00') AS sun,
               toStartOfWeek(timestamp'2020-04-06 12:00:00') AS mon,
               toStartOfWeek(timestamp'2020-04-11 12:00:00') AS sat
    """).collect()[0]
    # ClickHouse mode 0: weeks start Sunday
    assert str(rows["sun"]) == "2020-04-05 00:00:00"
    assert str(rows["mon"]) == "2020-04-05 00:00:00"
    assert str(rows["sat"]) == "2020-04-05 00:00:00"


def test_parametric_quantile_with_nested_call():
    out = rewrite_aggregates("SELECT quantile(0.9)(toUInt32(t)) FROM x")
    assert out == "SELECT percentile_approx(toUInt32(t), 0.9) FROM x"


def test_files_per_partition_actually_splits_days(spark, tmp_path):
    from rsyslog_nginx_clickhouse_spark.plans.storage import (
        write_mergetree_like,
    )

    df = spark.range(4000).select(
        F.lit("2024-01-01").cast("date").alias("logdate"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id").cast("double")))
        .alias("logdatetime"))
    path = str(tmp_path / "t")
    write_mergetree_like(df, path, files_per_partition=4)
    files = glob.glob(os.path.join(path, "logdate=2024-01-01", "*.parquet"))
    assert len(files) >= 2  # one day really splits across writers


def test_epoch_replay_purges_stale_layout(spark, tmp_path):
    from rsyslog_nginx_clickhouse_spark.sources.nginx_log import ingest_batch
    from rsyslog_nginx_clickhouse_spark.streaming.ingest import (
        idempotent_epoch_writer,
    )

    log_dir = str(tmp_path / "logs")
    os.makedirs(log_dir)
    line = ('1.1.1.1 - - [06/Apr/2020:09:00:00 +0000] "GET /a HTTP/1.1" '
            '200 10 "-" "ua" "-"\n')
    with open(os.path.join(log_dir, "a.log"), "w") as f:
        f.write(line * 6)
    table = str(tmp_path / "table")
    batch = ingest_batch(spark, log_dir)
    sink = idempotent_epoch_writer(table)
    sink(batch, 0)
    n = spark.read.parquet(table).count()

    # simulate a crashed first attempt that had published an EXTRA file
    # (different layout), then the replay: the stale file must be purged
    day_dir = glob.glob(os.path.join(table, "logdate=*"))[0]
    real = glob.glob(os.path.join(day_dir, "epoch-0-*.parquet"))[0]
    shutil.copy(real, os.path.join(day_dir, "epoch-0-99999.parquet"))
    os.remove(os.path.join(table, "_epoch_0_SUCCESS"))
    sink(batch, 0)
    assert spark.read.parquet(table).count() == n
    assert not glob.glob(os.path.join(day_dir, "epoch-0-99999.parquet"))


def test_engine_sql_rewrites_plain_clickhouse_aggregates(spark, tmp_path):
    from rsyslog_nginx_clickhouse_spark.engine import Engine

    log = str(tmp_path / "access.log")
    with open(log, "w") as f:
        f.write('1.1.1.1 - - [06/Apr/2020:09:00:00 +0000] "GET /a HTTP/1.1" '
                '200 10 "-" "ua" "-"\n')
    eng = Engine(table_root=str(tmp_path / "nginx"), spark=spark)
    eng.ingest(log)
    row = eng.sql("SELECT uniqExact(clientip) AS u, "
                  "quantileExact(0.5)(bytes) AS med FROM nginx").collect()[0]
    assert row["u"] == 1 and row["med"] == 10.0


def test_asof_ignores_null_time_and_null_key_right_rows(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 05:00:00")), (None, _ts("2024-01-01 05:00:00"))],
        "k int, ts timestamp")
    right = spark.createDataFrame(
        [(1, None, "phantom"),          # null time: never a match
         (None, _ts("2024-01-01 01:00:00"), "nullkey")],  # null key: never
        "k int, ts timestamp, v string")
    rows = {r["k"]: r["v_asof"]
            for r in asof_join(left, right, on="k", time_col="ts").collect()}
    assert rows == {1: None, None: None}


def test_range_join_rejects_outer_and_survives_corrupt_interval(spark):
    import pytest

    points = spark.createDataFrame([("u", 100)], "k string, t long")
    intervals = spark.createDataFrame(
        [("u", 0, 10**15, "huge"),      # corrupt end: clamped, no blowup
         ("u", 200, 100, "inverted")],  # end < start: dropped
        "k string, s long, e long, label string")
    with pytest.raises(ValueError):
        range_join(points, intervals, on="k", time_col="t",
                   start_col="s", end_col="e", how="full")
    got = range_join(points, intervals, on="k", time_col="t",
                     start_col="s", end_col="e", bin_s=10).collect()
    assert [r["label"] for r in got] == ["huge"]  # point is inside the clamp


def test_compact_does_not_leak_partition_overwrite_mode(spark, tmp_path):
    from rsyslog_nginx_clickhouse_spark.plans.storage import (
        compact,
        write_mergetree_like,
    )

    df = spark.createDataFrame(
        [("2024-01-01", "2024-01-01 00:00:00")],
        "logdate string, logdatetime string").select(
        F.col("logdate").cast("date"),
        F.col("logdatetime").cast("timestamp"))
    path = str(tmp_path / "t")
    write_mergetree_like(df, path)
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                            "STATIC")
    compact(spark, path)
    after = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                           "STATIC")
    assert before == after  # session semantics unchanged


def test_range_join_wide_interval_keeps_matches(spark):
    # an interval far wider than the explode budget must still match
    # its points (key-only branch), not lose them to a clamp
    points = spark.createDataFrame(
        [("u", 10), ("u", 50_000_000)], "k string, t long")
    intervals = spark.createDataFrame(
        [("u", 0, 100_000_000, "wide")], "k string, s long, e long, label string")
    got = range_join(points, intervals, on="k", time_col="t",
                     start_col="s", end_col="e", bin_s=10)
    assert got.count() == 2  # both points match despite 10M-bin span


def test_simhash_zero_budget_exact_pairs(spark):
    docs = spark.createDataFrame(
        [(1, "same text here"), (2, "same text here"), (3, "different one")],
        "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]) for r in
           simhash_pairs(docs, max_hamming=0).collect()}
    assert got == {(1, 2)}


def test_zorder_many_columns_stays_positive(spark):
    from rsyslog_nginx_clickhouse_spark.plans.zorder import zorder_key

    df = spark.createDataFrame(
        [(float(i % 7), float(i % 5), float(i % 3), float(i % 2), float(i))
         for i in range(64)], "a double, b double, c double, d double, e double")
    keys = [r["z"] for r in df.select(
        zorder_key(df, ["a", "b", "c", "d", "e"]).alias("z")).collect()]
    assert all(z >= 0 for z in keys)  # sign bit never set, no wrap
