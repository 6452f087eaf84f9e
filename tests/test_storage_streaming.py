"""MergeTree-like storage (partition pruning, sorted writes) + streaming
ingest (exactly-once micro-batch, no reprocessing on restart)."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from rsyslog_nginx_clickhouse_spark.engine import Engine
from rsyslog_nginx_clickhouse_spark.plans.storage import (
    compact,
    read_table,
    write_mergetree_like,
)
from rsyslog_nginx_clickhouse_spark.session import CHECKPOINT_MANAGER_CLASS
from rsyslog_nginx_clickhouse_spark.sources.nginx_log import ingest_batch
from rsyslog_nginx_clickhouse_spark.streaming.ingest import start_ingest

LINES = [
    '1.1.1.1 - - [06/Apr/2020:09:00:0%d +0000] "GET /a HTTP/1.1" 200 10 "-" "ua" "-"' % i
    for i in range(5)
] + [
    '2.2.2.2 - - [07/Apr/2020:10:00:0%d +0000] "GET /b HTTP/1.1" 404 20 "-" "ua" "-"' % i
    for i in range(3)
]


def _write_log(dirpath, name, lines):
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def test_mergetree_write_prunes_partitions(spark, tmp_path):
    log_dir = str(tmp_path / "logs")
    table = str(tmp_path / "table")
    _write_log(log_dir, "access.log", LINES)
    typed = ingest_batch(spark, log_dir)
    write_mergetree_like(typed, table)

    # one directory per day ↔ PARTITION BY toYYYYMMDD(logdate)
    parts = sorted(d for d in os.listdir(table) if d.startswith("logdate="))
    assert parts == ["logdate=2020-04-06", "logdate=2020-04-07"]

    back = read_table(spark, table)
    assert back.count() == 8
    pruned = back.where(F.col("logdate") == "2020-04-06")
    assert pruned.count() == 5
    # the date predicate must prune partitions at plan time, not filter rows
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "logdate" in plan.split(
        "PartitionFilters", 1)[1][:200]


def test_compact_preserves_rows_and_sort(spark, tmp_path):
    log_dir = str(tmp_path / "logs")
    table = str(tmp_path / "table")
    _write_log(log_dir, "access.log", LINES)
    typed = ingest_batch(spark, log_dir)
    write_mergetree_like(typed, table)          # first part
    write_mergetree_like(typed, table)          # second part (append)
    assert read_table(spark, table).count() == 16
    compact(spark, table)
    back = read_table(spark, table)
    assert back.count() == 16
    # one file per partition after compaction (+ _SUCCESS etc. excluded)
    day1 = [f for f in os.listdir(os.path.join(table, "logdate=2020-04-06"))
            if f.endswith(".parquet")]
    assert len(day1) == 1


def test_streaming_ingest_is_idempotent_across_restarts(spark, tmp_path):
    log_dir = str(tmp_path / "logs")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    _write_log(log_dir, "a.log", LINES[:5])

    q = start_ingest(spark, log_dir, table, ckpt)
    q.awaitTermination(120)
    assert read_table(spark, table).count() == 5

    # restart with one NEW file: only the new file is processed
    _write_log(log_dir, "b.log", LINES[5:])
    q2 = start_ingest(spark, log_dir, table, ckpt)
    q2.awaitTermination(120)
    back = read_table(spark, table)
    assert back.count() == 8
    assert back.where("response = 404").count() == 3

    # third restart with nothing new: no duplicates
    q3 = start_ingest(spark, log_dir, table, ckpt)
    q3.awaitTermination(120)
    assert read_table(spark, table).count() == 8


def _commits(ckpt):
    return sorted(int(f) for f in os.listdir(os.path.join(ckpt, "commits"))
                  if f.isdigit())


def _markers(table):
    return [f for f in os.listdir(table) if f.startswith("_epoch_")]


def test_max_files_per_trigger_bounds_each_epoch(spark, tmp_path):
    """Back-pressure analog of rsyslog's action queues (nginx.conf:56):
    a 3-file backlog with maxFilesPerTrigger=1 drains as 3 bounded
    epochs (3 checkpoint commits), never one monster batch — and the
    table still converges to the full row set. Only the newest epoch's
    marker is kept."""
    log_dir = str(tmp_path / "logs")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    for i, chunk in enumerate((LINES[:3], LINES[3:5], LINES[5:])):
        _write_log(log_dir, f"part{i}.log", chunk)

    q = start_ingest(spark, log_dir, table, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)
    assert read_table(spark, table).count() == 8
    assert _commits(ckpt) == [0, 1, 2]  # one bounded micro-batch per file
    assert _markers(table) == [f"_epoch_{q.id}-2_SUCCESS"]


def test_epoch_writer_replay_never_duplicates(spark, tmp_path):
    """Exactly-once on plain parquet: any crash/replay prefix converges."""
    import glob
    import os

    from rsyslog_nginx_clickhouse_spark.streaming.ingest import (
        idempotent_epoch_writer,
    )

    log_dir = str(tmp_path / "logs")
    table = str(tmp_path / "table")
    _write_log(log_dir, "a.log", LINES)
    batch = ingest_batch(spark, log_dir)
    sink = idempotent_epoch_writer(table)

    sink(batch, 0)
    assert read_table(spark, table).count() == 8

    # full replay of a committed epoch (checkpoint lost the commit): no-op
    sink(batch, 0)
    assert read_table(spark, table).count() == 8

    # half-published crash: marker removed, files already in place —
    # replay overwrites the same deterministic names, never appends
    os.remove(os.path.join(table, "_epoch_0_SUCCESS"))
    sink(batch, 0)
    assert read_table(spark, table).count() == 8

    # a distinct epoch really appends
    sink(batch, 1)
    assert read_table(spark, table).count() == 16
    names = {os.path.basename(p) for p in
             glob.glob(os.path.join(table, "**", "*.parquet"),
                       recursive=True)}
    assert all(n.startswith("epoch-") for n in names)


@pytest.mark.parametrize("lose_marker", [False, True])
def test_stream_restart_after_lost_commit(spark, tmp_path, lose_marker):
    """A crash after the epoch's files landed but before the checkpoint
    commit (and, in the second case, before the table's epoch marker):
    the restart replays the epoch and the table still holds every input
    line exactly once, counted from the input files."""
    log_dir = str(tmp_path / "logs")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    for i, chunk in enumerate((LINES[:3], LINES[3:5], LINES[5:])):
        _write_log(log_dir, f"part{i}.log", chunk + [f"garbage {i}"])
    assert (spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
            == CHECKPOINT_MANAGER_CLASS)
    eng = Engine(table, spark)
    q = eng.stream(log_dir, ckpt, max_files_per_trigger=1)
    q.awaitTermination(120)

    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last == 2
    for name in (str(last), f".{last}.crc"):
        os.remove(os.path.join(commits, name))
    if lose_marker:
        os.remove(os.path.join(table, f"_epoch_{q.id}-{last}_SUCCESS"))
    eng.stream(log_dir, ckpt, max_files_per_trigger=1).awaitTermination(120)
    assert os.path.exists(os.path.join(commits, str(last)))  # replayed

    lines = [line for f in sorted((tmp_path / "logs").iterdir())
             for line in f.read_text().splitlines()]
    valid = sum(not line.startswith("garbage") for line in lines)
    got = eng.sql("SELECT count(*) AS n, count(logdatetime) AS valid "
                  "FROM $table").first()
    assert (got.n, got.valid) == (len(lines), valid) == (11, 8)


def test_restart_after_compact_replays_nothing(spark, tmp_path):
    """Three drains keep one epoch marker; compact() carries it into the
    new version, so a restart that lost the last checkpoint commit finds
    the epoch committed and adds no row."""
    log_dir = str(tmp_path / "logs")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    eng = Engine(table, spark)
    for i, chunk in enumerate((LINES[:3], LINES[3:5], LINES[5:])):
        _write_log(log_dir, f"part{i}.log", chunk)
        q = eng.stream(log_dir, ckpt)
        q.awaitTermination(120)
    assert _commits(ckpt) == [0, 1, 2]
    assert _markers(table) == [f"_epoch_{q.id}-2_SUCCESS"]
    eng.compact()
    for name in ("2", ".2.crc"):
        os.remove(os.path.join(ckpt, "commits", name))

    eng.stream(log_dir, ckpt).awaitTermination(120)
    assert _commits(ckpt) == [0, 1, 2]  # epoch 2 ran again
    assert _markers(table) == [f"_epoch_{q.id}-2_SUCCESS"]
    assert eng.sql("SELECT count(*) AS n FROM $table").first().n == 8


def test_two_checkpoints_stream_into_one_table(spark, tmp_path):
    """Every checkpoint numbers its epochs from 0: a second stream into
    the table must neither skip its epochs as already committed by the
    first one, nor purge the first one's files."""
    table = str(tmp_path / "table")
    eng = Engine(table, spark)
    other = [line.replace("1.1.1.1", "3.3.3.3") for line in LINES[:5]]
    for name, lines in (("a", LINES[:5]), ("b", other)):
        log_dir = str(tmp_path / f"logs_{name}")
        _write_log(log_dir, "access.log", lines)
        eng.stream(log_dir, str(tmp_path / f"ckpt_{name}")) \
            .awaitTermination(120)
    got = eng.sql("SELECT clientip, count(*) AS n FROM $table "
                  "GROUP BY clientip").collect()
    assert {r.clientip: r.n for r in got} == {"1.1.1.1": 5, "3.3.3.3": 5}


def test_socket_live_tail(spark):
    """Live line-level tailing through a TCP socket → parse chain."""
    import socket
    import threading
    import time
    import uuid

    from rsyslog_nginx_clickhouse_spark.streaming.ingest import (
        stream_access_log_socket,
    )

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]

    def serve():
        conn, _ = server.accept()
        conn.sendall(("\n".join(LINES) + "\n").encode())
        time.sleep(3)  # keep the pipe open while micro-batches drain
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    name = f"sock_{uuid.uuid4().hex[:8]}"
    q = (stream_access_log_socket(spark, "127.0.0.1", port)
         .writeStream.format("memory").queryName(name)
         .outputMode("append").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= len(LINES):
                break
            time.sleep(0.5)
        rows = spark.table(name).collect()
        assert len(rows) == len(LINES)
        assert {r["response"] for r in rows} == {200, 404}
    finally:
        q.stop()
        server.close()


def test_watermark_drops_late_rows_across_restarts(spark, tmp_path):
    """Late data beyond the watermark is dropped deterministically —
    what keeps streaming state bounded forever at 100 TB/day."""
    import os
    import uuid

    from rsyslog_nginx_clickhouse_spark.streaming.ingest import (
        stream_access_log,
        streaming_timeseries,
    )

    log_dir = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(out)

    def run_batch():
        agg = streaming_timeseries(
            stream_access_log(spark, log_dir),
            window="1 hour", watermark="1 hour")
        q = (agg.writeStream.outputMode("append")
                .format("parquet").option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())
        q.awaitTermination(120)

    line = ('9.9.9.9 - - [06/Apr/2020:%s +0000] "GET /x HTTP/1.1" '
            '200 1 "-" "ua" "-"')
    # batch 1: events 09:xx and 12:xx → watermark advances to 11:00
    _write_log(log_dir, "a.log", [line % "09:10:00", line % "09:20:00",
                                  line % "12:00:00"])
    run_batch()
    # batch 2: one late event at 09:40 (< 11:00 watermark) and one fresh
    _write_log(log_dir, "b.log", [line % "09:40:00", line % "13:00:00"])
    run_batch()
    # batch 3: empty tick lets the 13:00 window finalize
    _write_log(log_dir, "c.log", [line % "15:00:00"])
    run_batch()

    rows = {str(r["t"]): r["cnt"] for r in spark.read.parquet(out).collect()}
    # the 09:00 window finalized with 2 — the late 09:40 row was DROPPED
    assert rows.get("2020-04-06 09:00:00") == 2
    # fresh rows were not dropped
    assert rows.get("2020-04-06 12:00:00") == 1
    assert rows.get("2020-04-06 13:00:00") == 1


@pytest.fixture
def plan_builds(monkeypatch):
    """Records the ``log_dir`` of every parse-plan build ``start_ingest``
    makes."""
    from rsyslog_nginx_clickhouse_spark.streaming import ingest

    build, builds = ingest.stream_access_log, []

    def counting(spark, log_dir, **kwargs):
        builds.append(log_dir)
        return build(spark, log_dir, **kwargs)

    monkeypatch.setattr(ingest, "stream_access_log", counting)
    return builds


def _client_counts(spark, table):
    rows = read_table(spark, table).groupBy("clientip").count().collect()
    return {r.clientip: r["count"] for r in rows}


def test_stream_builds_its_plan_once_per_landing_directory(
        spark, tmp_path, plan_builds):
    """Three drains of one landing directory, a new file landed before
    each, build one parse plan between them; each file's rows are
    visible exactly once after its drain. Another landing directory, or
    another ``max_files_per_trigger``, gets a plan of its own."""
    log_dir = str(tmp_path / "logs")
    table = str(tmp_path / "table")
    eng = Engine(table, spark)
    want = {}
    for i in range(3):
        ip = f"10.0.0.{i}"
        _write_log(log_dir, f"part{i}.log",
                   [line.replace("1.1.1.1", ip) for line in LINES[:5]])
        eng.stream(log_dir, str(tmp_path / "ckpt")).awaitTermination(120)
        want[ip] = 5
        assert _client_counts(spark, table) == want
    assert plan_builds == [log_dir]

    other_dir = str(tmp_path / "other_logs")
    _write_log(other_dir, "a.log", LINES[5:])
    eng.stream(other_dir, str(tmp_path / "ckpt_other")).awaitTermination(120)
    eng.stream(log_dir, str(tmp_path / "ckpt_bounded"),
               max_files_per_trigger=1).awaitTermination(120)
    assert plan_builds == [log_dir, other_dir, log_dir]
    assert _client_counts(spark, table) == {
        ip: 2 * n for ip, n in want.items()} | {"2.2.2.2": 3}


def _instants(df):
    return sorted(df.select("message", F.unix_micros("logdatetime"))
                  .collect())


def test_stream_replans_after_time_zone_change(spark, tmp_path, plan_builds):
    """Analysis writes the session time zone into the plan's
    ``try_to_timestamp``: a drain after a zone change must parse its new
    file in the new zone (as a batch ingest would), and rows landed
    before it keep their instants."""
    log_dir = str(tmp_path / "logs")
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    eng = Engine(table, spark)
    _write_log(log_dir, "a.log", LINES[:5])
    eng.stream(log_dir, ckpt).awaitTermination(120)
    rows_a = _instants(read_table(spark, table))

    zone = spark.conf.get("spark.sql.session.timeZone")
    assert zone == "UTC"
    b_dir = str(tmp_path / "b")
    _write_log(b_dir, "b.log", LINES[5:])
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        os.replace(os.path.join(b_dir, "b.log"),
                   os.path.join(log_dir, "b.log"))
        eng.stream(log_dir, ckpt).awaitTermination(120)
        want_b = _instants(ingest_batch(
            spark, os.path.join(log_dir, "b.log")))
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    got = read_table(spark, table)
    assert _instants(got.where("clientip = '2.2.2.2'")) == want_b
    assert _instants(got.where("clientip = '1.1.1.1'")) == rows_a
    # a UTC parse of B lands 7 hours (PDT) before the Los Angeles one
    assert want_b != _instants(ingest_batch(
        spark, os.path.join(log_dir, "b.log")))
    assert plan_builds == [log_dir, log_dir]


def test_two_tables_stream_one_landing_directory(spark, tmp_path,
                                                 plan_builds):
    """Two engines drain the same landing directory into their own
    tables through their own checkpoints: they share one parse plan,
    and each table holds every landed row exactly once."""
    log_dir = str(tmp_path / "logs")
    engines = [Engine(str(tmp_path / f"table_{i}"), spark) for i in range(2)]
    for i, chunk in enumerate((LINES[:5], LINES[5:])):
        _write_log(log_dir, f"part{i}.log", chunk)
        for j, eng in enumerate(engines):
            eng.stream(log_dir, str(tmp_path / f"ckpt_{j}")) \
                .awaitTermination(120)
    assert plan_builds == [log_dir]
    for eng in engines:
        assert _client_counts(spark, eng.table_root) == {
            "1.1.1.1": 5, "2.2.2.2": 3}
