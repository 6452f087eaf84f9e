"""The table's write path: every part is zstd parquet laid out as the
DDL says, a batch ingest is one Spark job whose row count comes from
the write itself, and compaction rewrites only the partitions that need
a merge."""

from __future__ import annotations

import glob
import os
import shutil
import threading

import pyarrow.parquet as pq
import pytest

from rsyslog_nginx_clickhouse_spark.engine import Engine
from rsyslog_nginx_clickhouse_spark.plans.storage import compact
from rsyslog_nginx_clickhouse_spark.sources.nginx_log import (
    NGINX_TABLE_SCHEMA,
    ingest_batch,
)

LINES = [
    '1.1.1.1 - - [06/Apr/2020:09:00:0%d +0000] "GET /a HTTP/1.1" 200 10 "-" "ua" "-"' % i
    for i in range(5)
] + [
    '2.2.2.2 - - [07/Apr/2020:10:00:0%d +0000] "GET /b HTTP/1.1" 404 20 "-" "ua" "-"' % i
    for i in range(3)
] + ["garbage line"]

#: two days interleaved, each out of time order
OUT_OF_ORDER = [
    '3.3.3.3 - - [%02d/Apr/2020:%s +0000] "GET /c HTTP/1.1" 200 1 "-" "ua" "-"'
    % (day, hms) for hms in ("23:59:59", "00:00:00", "12:30:00", "06:15:00")
    for day in (7, 6)
]

PANEL = ("SELECT $timeSeries AS t, count(*) AS c "
         "FROM $table WHERE $timeFilter GROUP BY t ORDER BY t")
PANEL_KW = {"time_from": "2020-04-06 00:00:00",
            "time_to": "2020-04-08 00:00:00"}


def _write_log(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("".join(line + "\n" for line in lines))


def _parquet_files(root):
    return set(glob.glob(os.path.join(os.path.realpath(root), "**",
                                      "*.parquet"), recursive=True))


def _codecs(files):
    """Every column chunk's codec, over every row group of ``files``."""
    out = set()
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for col in range(md.num_columns):
                out.add(md.row_group(rg).column(col).compression)
    return out


def _panel(eng):
    return [(str(r["t"]), r["c"]) for r in eng.sql(PANEL, **PANEL_KW).collect()]


def test_ingest_stream_and_compact_write_zstd(spark, tmp_path):
    eng = Engine(table_root=str(tmp_path / "nginx"), spark=spark)
    log = str(tmp_path / "access.log")
    _write_log(log, LINES)
    assert eng.ingest(log) == len(LINES)
    ingested = _parquet_files(eng.table_root)
    assert ingested and _codecs(ingested) == {"ZSTD"}

    logs = str(tmp_path / "live")
    _write_log(os.path.join(logs, "a.log"), LINES[:5])
    eng.stream(logs, str(tmp_path / "ckpt")).awaitTermination(120)
    epoch = _parquet_files(eng.table_root) - ingested
    assert epoch and all("epoch-" in f for f in epoch)
    assert _codecs(epoch) == {"ZSTD"}

    eng.compact()
    compacted = _parquet_files(eng.table_root)
    assert compacted.isdisjoint(ingested | epoch)
    assert _codecs(compacted) == {"ZSTD"}
    assert eng.table().count() == len(LINES) + 5


def _assert_ddl_layout(files):
    """PARTITION BY logdate ORDER BY (logdate, logdatetime): each file
    sits under the day of its rows, and its rows never go back in time."""
    assert files
    for f in files:
        ts = pq.ParquetFile(f).read(columns=["logdatetime"]) \
            .column(0).to_pylist()
        assert {f"logdate={t.date()}" for t in ts} == \
            {os.path.basename(os.path.dirname(f))}, f
        assert ts == sorted(ts), f


def test_ingest_stream_and_compact_keep_the_ddl_layout(spark, tmp_path):
    eng = Engine(table_root=str(tmp_path / "nginx"), spark=spark)
    log = str(tmp_path / "access.log")
    _write_log(log, OUT_OF_ORDER)
    eng.ingest(log)
    ingested = _parquet_files(eng.table_root)
    _assert_ddl_layout(ingested)

    logs = str(tmp_path / "live")
    _write_log(os.path.join(logs, "a.log"), OUT_OF_ORDER[::-1][:5])
    eng.stream(logs, str(tmp_path / "ckpt")).awaitTermination(120)
    epoch = _parquet_files(eng.table_root) - ingested
    _assert_ddl_layout(epoch)

    eng.compact()  # merges each day's ingested and streamed rows
    _assert_ddl_layout(_parquet_files(eng.table_root))
    assert eng.table().count() == len(OUT_OF_ORDER) + 5


def _jobs_of(spark, group, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ingest_runs_one_job_and_counts_every_line(spark, tmp_path):
    eng = Engine(table_root=str(tmp_path / "nginx"), spark=spark)
    log = str(tmp_path / "access.log")
    _write_log(log, LINES)
    n, jobs = _jobs_of(spark, "write-path-ingest", lambda: eng.ingest(log))
    assert n == 9  # the malformed line is counted and kept
    assert jobs == 1
    assert eng.table().count() == 9


def _ingest_within(eng, path, timeout_s=120):
    out = []
    t = threading.Thread(target=lambda: out.append(eng.ingest(path)),
                         daemon=True)
    t.start()
    t.join(timeout_s)
    assert not t.is_alive(), "ingest of an empty input did not return"
    return out[0]


def test_ingest_of_empty_input_returns_zero(spark, tmp_path):
    eng = Engine(table_root=str(tmp_path / "nginx"), spark=spark)
    empty_file = str(tmp_path / "empty.log")
    _write_log(empty_file, [])
    empty_dir = tmp_path / "empty_dir"
    empty_dir.mkdir()
    assert _ingest_within(eng, empty_file) == 0
    assert _ingest_within(eng, str(empty_dir)) == 0


def test_mixed_codec_table_reads_and_compacts(spark, tmp_path):
    root = str(tmp_path / "nginx")
    old = str(tmp_path / "old.log")
    _write_log(old, LINES[:5])
    # a part in the format older versions wrote: snappy parquet
    (ingest_batch(spark, old)
        .sortWithinPartitions("logdate", "logdatetime")
        .write.mode("append")
        .option("compression", "snappy")
        .partitionBy("logdate")
        .parquet(root))
    eng = Engine(table_root=root, spark=spark)
    new = str(tmp_path / "new.log")
    _write_log(new, LINES[5:])
    assert eng.ingest(new) == 4
    assert _codecs(_parquet_files(root)) == {"SNAPPY", "ZSTD"}

    want = [("2020-04-06 09:00:00", 5), ("2020-04-07 10:00:00", 3)]
    count = "SELECT count(*) AS n FROM $table"
    assert eng.sql(count).collect()[0]["n"] == 9
    assert _panel(eng) == want
    eng.compact()
    assert _codecs(_parquet_files(root)) == {"ZSTD"}
    assert eng.sql(count).collect()[0]["n"] == 9
    assert _panel(eng) == want


NULL_DAY = "logdate=__HIVE_DEFAULT_PARTITION__"
COUNTS = "SELECT count(*) AS n, count(logdatetime) AS valid FROM $table"


def _parts(root):
    """partition directory → {part name: inode} of the current version"""
    out = {}
    for f in _parquet_files(root):
        out.setdefault(os.path.basename(os.path.dirname(f)), {})[
            os.path.basename(f)] = os.stat(f).st_ino
    return out


def _counts(eng):
    got = eng.sql(COUNTS).first()
    return got.n, got.valid


def test_compact_rewrites_only_dirty_partitions(spark, tmp_path):
    root = str(tmp_path / "nginx")
    eng = Engine(table_root=root, spark=spark)
    log = str(tmp_path / "access.log")
    _write_log(log, LINES)
    eng.ingest(log)  # three partitions of one part each
    logs, ckpt = str(tmp_path / "live"), str(tmp_path / "ckpt")
    _write_log(os.path.join(logs, "a.log"), LINES[:2] + ["garbage 2"])
    q = eng.stream(logs, ckpt)
    q.awaitTermination(120)
    before = _parts(root)
    assert {d: len(p) for d, p in before.items()} == {
        "logdate=2020-04-06": 2, "logdate=2020-04-07": 1, NULL_DAY: 2}
    want = (len(LINES) + 3, len(LINES) + 1)
    assert _counts(eng) == want

    eng.compact()
    after = _parts(root)
    # the clean day is carried by hard link under a fresh name, with
    # its checksum sidecar; the dirty ones are rewritten into one part
    (old_name, ino), = before["logdate=2020-04-07"].items()
    assert after["logdate=2020-04-07"] == {"part-v1-0.zstd.parquet": ino}
    day7 = os.path.join(os.path.realpath(root), "logdate=2020-04-07")
    assert os.stat(os.path.join(day7, ".part-v1-0.zstd.parquet.crc")) \
        .st_ino == os.stat(os.path.join(root + ".compact-v0",
                                        "logdate=2020-04-07",
                                        f".{old_name}.crc")).st_ino
    old_inodes = {i for p in before.values() for i in p.values()}
    for day in ("logdate=2020-04-06", NULL_DAY):
        (ino,) = after[day].values()
        assert ino not in old_inodes
    parts = _parquet_files(root)
    assert _codecs(parts) == {"ZSTD"}
    _assert_ddl_layout([f for f in parts if NULL_DAY not in f])
    assert _counts(eng) == want

    # the epoch marker is carried: a replay of the epoch adds no row
    assert [f for f in os.listdir(root) if f.startswith("_epoch_")] == \
        [f"_epoch_{q.id}-0_SUCCESS"]
    for name in ("0", ".0.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    eng.stream(logs, ckpt).awaitTermination(120)
    assert _counts(eng) == want

    # a reader pinned to this version finishes after the next compaction
    pinned = eng.table()
    _write_log(os.path.join(logs, "b.log"), LINES[5:6])
    eng.stream(logs, ckpt).awaitTermination(120)
    eng.compact()
    assert pinned.count() == want[0]
    want = (want[0] + 1, want[1] + 1)
    assert _counts(eng) == want
    _assert_ddl_layout([f for f in _parquet_files(root) if NULL_DAY not in f])

    # nothing to merge: no Spark job, and every part is a link
    previous = os.path.realpath(root)
    linked = _parts(root)
    assert _jobs_of(spark, "compact-clean", eng.compact)[1] == 0
    relinked = _parts(root)
    assert {d: set(p.values()) for d, p in relinked.items()} == \
        {d: set(p.values()) for d, p in linked.items()}
    assert all(name.startswith("part-v3-")
               for p in relinked.values() for name in p)
    shutil.rmtree(previous)
    assert _counts(eng) == want


def test_compact_rewrites_a_lone_snappy_part_as_zstd(spark, tmp_path):
    root = str(tmp_path / "nginx")
    log = str(tmp_path / "old.log")
    _write_log(log, LINES[:5])
    (ingest_batch(spark, log).coalesce(1)
        .sortWithinPartitions("logdate", "logdatetime")
        .write.option("compression", "snappy")
        .partitionBy("logdate").parquet(root))
    assert _codecs(_parquet_files(root)) == {"SNAPPY"}
    eng = Engine(table_root=root, spark=spark)
    eng.compact()
    parts = _parquet_files(root)
    assert len(parts) == 1 and _codecs(parts) == {"ZSTD"}
    assert _counts(eng) == (5, 5)


@pytest.mark.parametrize("schema", [None, NGINX_TABLE_SCHEMA],
                         ids=["inferred", "declared"])
def test_compact_with_only_the_null_partition_dirty(spark, tmp_path,
                                                    schema):
    """Read alone, the null partition would infer its partition column
    as VOID, which the write refuses."""
    root = str(tmp_path / "nginx")
    eng = Engine(table_root=root, spark=spark)
    for name, lines in (("a.log", LINES), ("b.log", ["garbage 2"])):
        _write_log(str(tmp_path / name), lines)
        eng.ingest(str(tmp_path / name))
    before = _parts(root)
    assert len(before[NULL_DAY]) == 2
    compact(spark, root, schema=schema)
    after = _parts(root)
    assert [len(p) for p in after.values()] == [1, 1, 1]
    for day in ("logdate=2020-04-06", "logdate=2020-04-07"):
        assert set(after[day].values()) == set(before[day].values())
    assert _counts(eng) == (len(LINES) + 1, len(LINES) - 1)
