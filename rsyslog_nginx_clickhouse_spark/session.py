"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a 1000-executor cluster deployment would
set per-executor; the scale-sensitive knobs (AQE, shuffle partitions,
Arrow) are on so plans developed here survive a 100× scale-up.

Local file I/O starts no child processes. pip-installed PySpark ships
no ``libhadoop``, so Hadoop's ``RawLocalFileSystem.setPermission`` forks
``chmod`` for every file and directory it creates, and Spark's default
streaming checkpoint manager (``FileContext``-based) forks ``readlink``
on every checkpoint rename: 43 processes per 400-line streaming drain,
64 per batch ingest, 54 per compaction, each a few ms of CPU. So:

- ``file://`` is served by ``jvm/NioLocalFileSystem.java``, which sets
  the same permission bits with one system call. ``javac`` compiles it
  once into ``jvm/.classes/<spark version>-<source hash>/``; later
  sessions reuse that directory. A host without ``javac`` logs one
  warning and keeps Hadoop's stock filesystem.
- checkpoint logs go through ``FileSystemBasedCheckpointFileManager``,
  i.e. through that filesystem; on a POSIX local disk its rename is one
  ``rename(2)``.

``fs.file.impl`` covers the ``file://`` scheme only: HDFS, S3 and every
other cluster filesystem are untouched.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
#: the ``file://`` filesystem that sets permissions without forking
LOCAL_FS_CLASS = "rsyslog_nginx_clickhouse_spark.jvm.NioLocalFileSystem"
#: Spark's checkpoint manager over ``FileSystem`` (no ``readlink``)
CHECKPOINT_MANAGER_CLASS = ("org.apache.spark.sql.execution.streaming."
                            "checkpointing.FileSystemBasedCheckpointFileManager")


@functools.cache
def _local_fs_classes() -> str | None:
    """The class directory of ``LOCAL_FS_CLASS``, compiled on first use.

    The directory is keyed by Spark version and source hash and is
    published with one rename, so concurrent first sessions race
    harmlessly. None (after one warning) when it cannot be built."""
    src = os.path.join(_JVM_DIR, "NioLocalFileSystem.java")
    with open(src, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:16]
    cache = os.path.join(_JVM_DIR, ".classes")
    out = os.path.join(cache, f"{pyspark.__version__}-{digest}")
    if os.path.isdir(out):
        return out
    java_home = os.environ.get("JAVA_HOME")  # the JDK pyspark launches
    javac = shutil.which("javac", path=java_home and
                         os.path.join(java_home, "bin"))
    jars = glob.glob(os.path.join(_find_spark_home(), "jars",
                                  "hadoop-client-api-*.jar"))
    if not (javac and jars):
        _log.warning("no javac or hadoop-client-api jar: local file I/O "
                     "keeps Hadoop's filesystem, which forks chmod per file")
        return None
    try:
        os.makedirs(cache, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=cache)
        os.chmod(tmp, 0o755)  # as readable as the source beside it
        proc = subprocess.run([javac, "--release", "17", "-nowarn",
                               "-cp", jars[0], "-d", tmp, src],
                              capture_output=True, text=True)
        if proc.returncode:
            shutil.rmtree(tmp, ignore_errors=True)
            raise OSError(proc.stderr.strip())
        try:
            os.rename(tmp, out)
        except OSError:  # a concurrent session published it first
            shutil.rmtree(tmp, ignore_errors=True)
    except OSError as e:
        _log.warning("cannot compile %s (%s): local file I/O keeps "
                     "Hadoop's filesystem, which forks chmod per file",
                     src, e)
        return None
    return out


def _local_fs_confs() -> dict[str, str]:
    """Session confs that serve ``file://`` with ``LOCAL_FS_CLASS``.

    The class directory goes on the driver's class path through
    ``spark.driver.defaultExtraClassPath``, which the launcher appends
    to ``spark.driver.extraClassPath``: a class path the caller set
    (``spark-defaults.conf``, ``PYSPARK_SUBMIT_ARGS``) is kept. That
    works only while this process still has to launch the JVM; a JVM
    that is already running is used only if it can load the class."""
    classes = _local_fs_classes()
    jvm = SparkContext._jvm
    if classes is None:
        return {}
    if jvm is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {"spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
                "spark.driver.defaultExtraClassPath": classes}
    if jvm is not None and \
            jvm.org.apache.spark.util.Utils.classIsLoadable(LOCAL_FS_CLASS):
        return {"spark.hadoop.fs.file.impl": LOCAL_FS_CLASS}
    return {}


def _default_driver_memory() -> str:
    """Half of physical memory, at most 4 GiB: a local driver shares
    its host, and the heap must not be promised more than it has."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    return f"{max(1, min(4096, total_kb // 2048))}m"


#: the cores this process may run on, not the host's count: a local
#: master wider than that oversubscribes them
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS",
                              str(len(os.sched_getaffinity(0))))


def get_spark(app_name: str = "rsyslog-nginx-clickhouse-spark",
              cpus: str | int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - session timezone pinned to UTC (parquet timestamps compare stably
      against the DuckDB oracle),
    - AQE on (runtime partition coalescing, skew-join splitting, join
      strategy switching — the scale path for 100 TB),
    - shuffle partitions sized to cores in local mode (a cluster deploy
      would raise this to ~2-3× total cores),
    - Arrow on for the pandas-UDF operators.
    """
    # Legacy audit switch (pre-r6 plancheck): barriers are
    # correctness-load-bearing outside explain-only runs, so an
    # inherited env var must fail loudly rather than silently skip
    # them. The auditor now opts in via plans.barrier.set_audit_mode.
    if os.environ.get("SPARK_GRAFT_PLAN_AUDIT", "") == "1":
        raise RuntimeError(
            "SPARK_GRAFT_PLAN_AUDIT=1 is set: this env var no longer "
            "enables plan-audit mode and would have silently disabled "
            "correctness-load-bearing barriers. Unset it; plan auditors "
            "call plans.barrier.set_audit_mode(True) instead.")
    cpus = str(cpus or DEFAULT_CPUS)
    # the runtime-settable SQL confs: set on the builder, and set again
    # after getOrCreate, which IGNORES builder confs when a session
    # already exists (e.g. created by a test harness) — above all the
    # UTC pin, which oracle parity depends on
    sql_confs = {
        "spark.sql.shuffle.partitions": cpus,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # plan-text metadata (DataFilters/PushedFilters/...) truncates
        # at this many chars; with the 100-char default a long filter
        # list loses its closing ']' and tools/plancheck.py's
        # `PushedFilters: [...]` match under-counts pushdown on the
        # tree plan, at a cut point that moves with the digit width of
        # expression ids.
        "spark.sql.maxMetadataStringLength": "10000",
        "spark.sql.streaming.checkpointFileManagerClass":
            CHECKPOINT_MANAGER_CLASS,
    }
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        # static conf (settable only at session build): no stage ticker
        # in the console, where perfbench/run.py prints its JSON line
        # and the tools/ checkers their summary lines
        .config("spark.ui.showConsoleProgress", "false")
        .config(map={**sql_confs, **_local_fs_confs()})
    )
    spark = builder.getOrCreate()
    for k, v in sql_confs.items():
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("WARN")
    return spark
