"""Local file I/O starts no child processes and sets the same modes as
Hadoop's stock filesystem."""

from __future__ import annotations

import contextlib
import json
import os
import re
import stat
import subprocess
import sys

import pytest

from rsyslog_nginx_clickhouse_spark.engine import Engine
from rsyslog_nginx_clickhouse_spark.session import LOCAL_FS_CLASS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def write_logs(dirpath: str, name: str, day: int, n: int) -> None:
    """``n`` access-log lines on April ``day`` 2020, every 7th malformed."""
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, name), "w") as fh:
        for i in range(n):
            fh.write(f"garbage line {i}\n" if i % 7 == 3 else
                     f'10.0.0.{i % 9} - - [{day:02d}/Apr/2020:'
                     f'{i % 24:02d}:{i % 60:02d}:00 +0000] "GET /p{i} '
                     f'HTTP/1.1" {200 + i % 3} {i} "-" "ua" "-"\n')


#: Spark's executor-metrics heartbeat runs ``getconf PAGESIZE`` once per
#: JVM, in this class's static init, whenever the first heartbeat lands
ONCE_PER_JVM = "org.apache.spark.executor.ProcfsMetricsGetter"


@contextlib.contextmanager
def process_starts(spark, dump: str):
    """Collect the command of every process the driver JVM starts
    inside the block (JFR ``jdk.ProcessStart``), but the heartbeat's
    one-time page-size probe."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    commands: list[str] = []
    try:
        yield commands
    finally:
        rec.stop()
        path = jvm.java.io.File(dump).toPath()
        rec.dump(path)
        rec.close()
        for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path):
            if not any(f.getMethod().getType().getName() == ONCE_PER_JVM
                       for f in e.getStackTrace().getFrames()):
                commands.append(e.getString("command"))


def test_file_scheme_is_the_fork_free_filesystem(spark):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == LOCAL_FS_CLASS


def test_ingest_compact_and_drain_start_no_process(spark, tmp_path):
    write_logs(str(tmp_path / "batch"), "access.log.1", 6, 200)
    write_logs(str(tmp_path / "tail"), "access.log", 7, 200)
    eng = Engine(str(tmp_path / "table"), spark)
    for op, run in (
            ("ingest", lambda: eng.ingest(str(tmp_path / "batch"))),
            ("compact", eng.compact),
            ("drain", lambda: eng.stream(
                str(tmp_path / "tail"),
                str(tmp_path / "ckpt")).awaitTermination(120))):
        with process_starts(spark, str(tmp_path / f"{op}.jfr")) as started:
            run()
        assert started == [], f"{op} started {started}"
    assert eng.sql("SELECT count(*) AS n FROM $table").first().n == 400


def test_set_permission_modes_match_stat(spark, tmp_path):
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    target = tmp_path / "f"
    target.write_text("x")
    with process_starts(spark, str(tmp_path / "plain.jfr")) as started:
        for mode in (0o600, 0o640, 0o750, 0o777):
            for path in (target, tmp_path):
                fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(path)),
                                 jvm.org.apache.hadoop.fs.permission
                                 .FsPermission(f"{mode:o}"))
                assert stat.S_IMODE(os.stat(path).st_mode) == mode
    assert started == []
    # the sticky bit has no NIO form: Hadoop's own path (chmod) sets it
    sticky = tmp_path / "sticky"
    sticky.mkdir()
    with process_starts(spark, str(tmp_path / "sticky.jfr")) as started:
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(sticky)),
                         jvm.org.apache.hadoop.fs.permission
                         .FsPermission("1775"))
    assert stat.S_IMODE(os.stat(sticky).st_mode) == 0o1775
    assert [c.split()[0] for c in started] == ["chmod"]


#: run in a fresh interpreter (the JVM inherits its umask): ingest,
#: drain and compact a small table, print every path's mode
MODES_PROBE = r"""
import json, os, stat, sys
umask, variant, root = int(sys.argv[1], 8), sys.argv[2], sys.argv[3]
os.umask(umask)
sys.path.insert(0, os.path.join(os.getcwd(), "tests"))
from rsyslog_nginx_clickhouse_spark import session
if variant == "stock":  # Hadoop's filesystem and Spark's default manager
    session._local_fs_confs = lambda: {}
    session.CHECKPOINT_MANAGER_CLASS = (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager")
from rsyslog_nginx_clickhouse_spark.engine import Engine
from test_local_fs import write_logs
spark = session.get_spark("modes", cpus=2)
write_logs(os.path.join(root, "batch"), "access.log.1", 6, 50)
write_logs(os.path.join(root, "tail"), "access.log", 7, 50)
eng = Engine(os.path.join(root, "table"), spark)
eng.ingest(os.path.join(root, "batch"))
eng.stream(os.path.join(root, "tail"),
           os.path.join(root, "ckpt")).awaitTermination(120)
eng.compact()
modes = {}
for d, dirs, files in os.walk(root):
    for name in dirs + files:
        p = os.path.join(d, name)
        modes[os.path.relpath(p, root)] = stat.S_IMODE(os.lstat(p).st_mode)
print(json.dumps(modes))
"""

UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-"
                  r"[0-9a-f]{12}")


def _modes(umask: str, variant: str, root: str) -> dict[str, set[int]]:
    out = subprocess.run(
        [sys.executable, "-c", MODES_PROBE, umask, variant, root],
        cwd=ROOT, capture_output=True, text=True, check=True)
    modes: dict[str, set[int]] = {}
    for path, mode in json.loads(out.stdout.splitlines()[-1]).items():
        modes.setdefault(UUID.sub("<uuid>", path), set()).add(mode)
    return modes


@pytest.mark.parametrize("umask", ["022", "077"])
def test_modes_match_stock_filesystem(tmp_path, umask):
    stock = _modes(umask, "stock", str(tmp_path / "stock"))
    nio = _modes(umask, "nio", str(tmp_path / "nio"))
    assert nio == stock
    # Hadoop applies its own umask (022), not the process's
    assert stock["table.compact-v0/logdate=2020-04-06"] == {0o755}


def test_host_without_javac_keeps_stock_filesystem(tmp_path):
    probe = ("from rsyslog_nginx_clickhouse_spark import session as s\n"
             f"s._JVM_DIR = {str(tmp_path)!r}\n"
             "print(s._local_fs_confs(), s._local_fs_confs())\n")
    (tmp_path / "NioLocalFileSystem.java").write_text("class X {}\n")
    env = {k: v for k, v in os.environ.items() if k != "JAVA_HOME"}
    out = subprocess.run([sys.executable, "-c", probe], cwd=ROOT,
                         env={**env, "PATH": str(tmp_path)},
                         capture_output=True, text=True, check=True)
    assert out.stdout.split() == ["{}", "{}"]
    assert out.stderr.count("no javac") == 1
