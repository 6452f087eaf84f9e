"""The operations a workload performs, in two forms.

``EngineOps`` drives the public ``Engine`` facade exactly as a user
would. ``LayerOps`` makes the same calls one layer at a time, the way
``Engine`` makes them, with a span around each; the traced run uses it
so that per-layer self time can be read from the spans. A traced run
alternates the two forms for each operation, and the difference
between them is the tracing overhead.
"""

from __future__ import annotations

import glob
import inspect
import os
from contextlib import contextmanager

from rsyslog_nginx_clickhouse_spark.engine import TABLE_NAME, Engine
from rsyslog_nginx_clickhouse_spark.functions import macros
from rsyslog_nginx_clickhouse_spark.plans.storage import (
    compact,
    read_table,
    write_mergetree_like,
)
from rsyslog_nginx_clickhouse_spark.sources.nginx_log import (
    parse_lines,
    read_access_log,
    to_typed_table,
)
from rsyslog_nginx_clickhouse_spark.streaming.ingest import start_ingest

from spans import Tracer


def parquet_files(root: str) -> dict[str, int]:
    """Parquet file → size, for every version directory of a table."""
    out = {}
    for d in [root] + glob.glob(root.rstrip("/") + ".compact-v*"):
        for p in glob.glob(os.path.join(d, "**", "*.parquet"),
                           recursive=True):
            rp = os.path.realpath(p)
            out[rp] = os.path.getsize(rp)
    return out


def disk_bytes(root: str) -> int:
    """Bytes on disk of a table: every file of every retained version."""
    total = 0
    for d in {os.path.realpath(root)} | set(
            glob.glob(root.rstrip("/") + ".compact-v*")):
        for dirpath, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files)
    return total


def scan_metrics(df) -> tuple[int, int]:
    """(files read, rows output) summed over the file-scan nodes of an
    executed query, from Spark's own SQL metrics."""
    files = rows = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            m = node.metrics()
            files += m.get("numFiles").get().value()
            rows += m.get("numOutputRows").get().value()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return files, rows


class EngineOps:
    """Untraced: every call goes through ``Engine``."""

    traced = False

    def __init__(self, eng: Engine):
        self.eng = eng

    def ingest(self, path: str) -> int:
        return self.eng.ingest(path)

    def stream(self, log_dir: str, checkpoint: str) -> None:
        self.eng.stream(log_dir, checkpoint).awaitTermination()

    def compact(self) -> None:
        self.eng.compact()

    def sql(self, query: str, **kw) -> list:
        return self.eng.sql(query, **kw).collect()

    def dead_letters(self, path: str) -> int:
        return self.eng.dead_letters(path).count()


class LayerOps(EngineOps):
    """Traced: the calls ``Engine`` makes, one span per layer.

    Each operation runs inside one outer span, and ``elapsed`` is that
    span's duration: the bookkeeping around it (listing the table's
    files, reading Spark's scan metrics) stays outside, so a traced
    call times the same work as the facade call plus the spans' cost.
    """

    traced = True

    def __init__(self, eng: Engine, tracer: Tracer):
        super().__init__(eng)
        self.tr = tracer
        self.spark = eng.spark
        self.root = eng.table_root
        self.elapsed = float("nan")

    @contextmanager
    def _op(self, name: str):
        with self.tr.span(name) as s:
            yield
        self.elapsed = s.end - s.start

    def ingest(self, path: str) -> int:
        before = parquet_files(self.root)
        with self._op("engine.ingest"):
            with self.tr.span("sources.parse"):
                typed = to_typed_table(parse_lines(
                    read_access_log(self.spark, path))).cache()
                n = typed.count()
            try:
                with self.tr.span("plans.storage.write"):
                    write_mergetree_like(typed, self.root)
            finally:
                typed.unpersist()
        self.tr.count("sources.lines_parsed", n)
        self._count_written(before)
        return n

    def _count_written(self, before: dict[str, int]) -> None:
        new = {p: s for p, s in parquet_files(self.root).items()
               if p not in before}
        self.tr.count("plans.storage.files_written", len(new))
        self.tr.count("plans.storage.bytes_written", sum(new.values()))

    def stream(self, log_dir: str, checkpoint: str) -> None:
        before = parquet_files(self.root)
        with self._op("engine.stream"):
            with self.tr.span("streaming.ingest.stream_start"):
                q = start_ingest(self.spark, log_dir, self.root,
                                 checkpoint)
            with self.tr.span("streaming.ingest.drain"):
                q.awaitTermination()
        for p in q.recentProgress:
            if p.numInputRows:
                self.tr.count("streaming.ingest.epochs", 1)
                self.tr.count("sources.lines_parsed", p.numInputRows)
                self.tr.sample("streaming.ingest.epoch_s",
                               p.durationMs["triggerExecution"] / 1000)
        self._count_written(before)

    def compact(self) -> None:
        with self._op("plans.storage.compact"):
            compact(self.spark, self.root)
        files = parquet_files(os.path.realpath(self.root))
        self.tr.count("plans.storage.compact_bytes_rewritten",
                      sum(files.values()))
        self.tr.sample("plans.storage.files_after_compact", len(files))

    def sql(self, query: str, **kw) -> list:
        # the arguments Engine.sql passes on to macros.sql
        args = inspect.signature(Engine.sql).bind(self.eng, query, **kw)
        args.apply_defaults()
        mkw = dict(args.arguments)
        del mkw["self"], mkw["query"]
        mkw.update(mkw.pop("macro_kwargs"))
        expand = macros.expand_macros

        def traced_expand(*a, **k):
            with self.tr.span("functions.macros.expand"):
                return expand(*a, **k)

        # macros.sql's own expansion, timed where its result is used
        macros.expand_macros = traced_expand
        try:
            with self._op("engine.sql"):
                with self.tr.span("engine.table_snapshot"):
                    read_table(self.spark, self.root) \
                        .createOrReplaceTempView(TABLE_NAME)
                with self.tr.span("functions.macros.plan"):
                    df = macros.sql(self.spark, query, table=TABLE_NAME,
                                    **mkw)
                    df._jdf.queryExecution().executedPlan()
                with self.tr.span("query.exec"):
                    rows = df.collect()
        finally:
            macros.expand_macros = expand
        files, scanned = scan_metrics(df)
        self.tr.sample("query.files_scanned", files)
        self.tr.count("query.rows_scanned", scanned)
        self.tr.count("query.rows_returned", len(rows))
        return rows

    def dead_letters(self, path: str) -> int:
        with self._op("sources.dead_letters"):
            n = super().dead_letters(path)
        self.tr.count("sources.dead_letters", n)
        return n
