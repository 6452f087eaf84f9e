"""The workloads and the metrics they report.

One process, one client, closed loop: each operation starts when the
previous one has returned. Every workload sets up (session, warm-up,
its pre-built table), then runs its loop for the requested seconds,
finishing the iteration under way.

- ``dashboard_read``: a compacted two-week table is built during
  set-up; the loop runs rounds of the dashboard panels over seeded
  time ranges.
- ``live_tail``: on a two-day base table, the loop lands one small log
  file, drains it with ``Engine.stream`` (availableNow), refreshes the
  live panels over the growing table, and calls ``Engine.compact``
  after every ``COMPACT_EVERY`` landed files. Its storage ratio is
  taken once, right after the first compaction.
- ``backfill_ingest``: two weeks of rotated daily logs go through one
  ``Engine.ingest`` of the log directory, then one ``Engine.compact``,
  into a fresh table per round; a few panels check the result.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

from rsyslog_nginx_clickhouse_spark.engine import Engine
from rsyslog_nginx_clickhouse_spark.session import get_spark

import loggen
from ops import EngineOps, LayerOps, disk_bytes
from oracle import PANELS, Oracle, Query, compare, query_cycles
import spans
from spans import Tracer, self_times

#: dashboard_read: recorded set-up builds of the pre-built table;
#: setup_s counts their median
SETUP_BUILDS = 3
#: live_tail: Engine.compact after this many landed files
COMPACT_EVERY = 2
#: live_tail: files generated ahead; the loop stops if it lands them all
TAIL_FILES = 24
TAIL_FILE_LINES = 400
TAIL_FILE_SPAN_S = 300

#: panels the live dashboard refreshes after every landed file
LIVE_PANELS = ("count_1h", "adhoc_5xx")
#: live_tail: set-up queries each live panel this many times; the
#: CPU time of a panel falls by a quarter over its first ten runs
LIVE_WARM_ROUNDS = 5
#: dashboard_read: rounds of the panel mix prepared; the loop stops
#: early at a round boundary when its time is up
DASHBOARD_CYCLES = 16

PROBE_SQL = ("SELECT count(*) AS n, count(logdatetime) AS valid "
             "FROM $table")

#: end-to-end metric → unit: the result line's metrics. Apart from
#: set-up, operations are timed in CPU seconds of the driver's process
#: tree, which the time other guests of a shared host steal from its
#: cores does not inflate
END_TO_END = {
    "setup_s": "s",
    "ingest_lines_per_cpu_s": "lines/cpu_s",
    "compact_cpu_s": "cpu_s",
    "query_cpu_p50_s": "cpu_s",
    "storage_bytes_per_input_byte": "ratio",
}
#: wall-clock metric → unit: in the report only, because on a shared
#: host whole runs read up to 1.5x slower when other guests steal CPU
WALL_CLOCK = {
    "ingest_lines_per_s": "lines/s",
    "compact_s": "s",
    "query_p50_s": "s",
    "query_p95_s": "s",
    "freshness_p50_s": "s",
    "freshness_p95_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def p95(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=20, method="inclusive")[-1]


def _tree_pids() -> set[int]:
    """This process and every process below it: the driver JVM and any
    Python workers."""
    parents: dict[int, int] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parents[int(stat.split("/")[2])] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue  # the process exited while we listed
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parents.items()
                    if pp in frontier and p not in tree}
    return tree


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process tree so far,
    including the children it has reaped."""
    ticks = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(map(int, fields[11:15]))
        except (OSError, IndexError, ValueError):
            continue  # the process exited while we read
    return ticks / CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process tree."""
    kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next(int(line.split()[1]) for line in fh
                           if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return kb / 1024


class Run:
    """State of one benchmark run: operation counts, samples, spans."""

    def __init__(self, work_dir: str, seed: int, seconds: float,
                 trace: bool):
        self.dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer()
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.op_times: dict[tuple[str, bool], list[float]] = \
            defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.measuring = False
        self._loop_calls: dict[str, int] = defaultdict(int)
        self.spark = None

    def start_loop(self) -> float:
        """End set-up; return the loop's deadline."""
        self.measuring = True
        self.tracer.phase = "loop"
        return time.perf_counter() + self.seconds

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def op(self, kind: str, eng: Engine, fn, check=None):
        """Run ``fn(ops)`` as one operation and return (result, wall
        seconds, CPU seconds of the process tree).

        A traced run traces every set-up call and, in the loop,
        alternates per ``kind`` between the traced and the untraced
        form; the loop's untraced calls give the tracing overhead.
        Panels pass a kind of their own (``sql:<panel>``), so that each
        panel has samples of both forms. A traced call's time is its
        outer span (``LayerOps.elapsed``), without the bookkeeping
        around it. An exception or a failed ``check`` (which returns an
        error text or None) counts the operation as failed; the loop
        goes on.
        """
        self.attempted += 1
        traced = self.trace
        if self.measuring:
            self._loop_calls[kind] += 1
            traced = traced and self._loop_calls[kind] % 2 == 1
        ops = LayerOps(eng, self.tracer) if traced else EngineOps(eng)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn(ops)
        except Exception:  # the closed loop records it and goes on
            self.failed += 1
            log(f"FAILED {kind}:\n{traceback.format_exc()}")
            return None, time.perf_counter() - t0, tree_cpu_s() - c0
        dt = ops.elapsed if traced else time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        if self.measuring:
            self.op_times[(kind, traced)].append(dt)
        err = check(out) if check is not None else None
        if err:
            self.failed += 1
            log(f"WRONG {kind}: {err}")
        return out, dt, cpu


def _expect(value):
    return lambda got: None if got == value else f"{got} != {value}"


def _probe_check(lines: int, valid: int):
    def check(rows):
        got = (rows[0]["n"], rows[0]["valid"])
        return None if got == (lines, valid) else \
            f"visible (rows, valid) {got} != {(lines, valid)}"
    return check


def _dead_letters(run: Run, ops, log_dir: str, lines: int) -> int:
    n = ops.dead_letters(log_dir)
    if ops.traced:
        run.tracer.count("sources.lines_checked", lines)
    return n


def _panel_check(expected):
    return lambda rows: compare(rows, expected)


def _gen_rotated(run: Run, name: str, seed_offset: int, first_day: str,
                 days: int, lines_per_day: int):
    """Generate rotated logs into <name>/logs and their sidecar into
    <name>; return the generator, to continue its stream, and the
    sidecar."""
    gen = loggen.LogGenerator(run.seed * 1000 + seed_offset)
    sidecar = loggen.Sidecar(os.path.dirname(run.path(name, "truth.tsv")))
    loggen.generate_rotated(gen, run.path(name, "logs", ""), first_day,
                            days, lines_per_day, sidecar)
    sidecar.write()
    return gen, sidecar


class Table:
    """A table's log input and ground truth, as its files land."""

    def __init__(self, sidecar: loggen.Sidecar, log_dir: str):
        self.log_dir = log_dir
        self.oracle = Oracle()
        self.oracle.load(os.path.join(sidecar.out_dir, "truth.tsv"))
        self.lines = self.valid = self.malformed = self.raw_bytes = 0

    def land(self, truth: loggen.FileTruth, path: str) -> None:
        self.oracle.land(truth.name)
        self.lines += truth.lines
        self.valid += truth.valid
        self.malformed += len(truth.malformed)
        self.raw_bytes += os.path.getsize(path)


def build_table(run: Run, eng: Engine, table: Table,
                record: bool) -> float:
    """Ingest ``table``'s log directory, check it, compact it, check it
    again; return the wall time. With ``record`` the ingest rate,
    freshness, compaction time and storage ratio become samples."""
    t0 = time.perf_counter()
    _, d_ingest, c_ingest = run.op("ingest", eng,
                                   lambda o: o.ingest(table.log_dir),
                                   _expect(table.lines))
    run.op("probe", eng, lambda o: o.sql(PROBE_SQL),
           _probe_check(table.lines, table.valid))
    fresh = time.perf_counter() - t0
    _, d_compact, c_compact = run.op("compact", eng,
                                     lambda o: o.compact())
    run.op("probe", eng, lambda o: o.sql(PROBE_SQL),
           _probe_check(table.lines, table.valid))
    if record:
        run.samples["ingest_lines_per_s"].append(table.lines / d_ingest)
        run.samples["ingest_lines_per_cpu_s"].append(
            table.lines / c_ingest)
        run.samples["freshness_s"].append(fresh)
        run.samples["compact_s"].append(d_compact)
        run.samples["compact_cpu_s"].append(c_compact)
        run.samples["storage_bytes_per_input_byte"].append(
            disk_bytes(eng.table_root) / table.raw_bytes)
    return time.perf_counter() - t0


def run_panel(run: Run, eng: Engine, table: Table, q: Query,
              expected=None, record: bool = True) -> None:
    if expected is None:
        expected = table.oracle.expected(q)
    _, d, c = run.op(f"sql:{q.panel.name}", eng,
                     lambda o: o.sql(q.panel.sql, **q.kwargs()),
                     _panel_check(expected))
    if record:
        run.samples["query_s"].append(d)
        run.samples["query_cpu_s"].append(c)


def drop_table(root: str) -> None:
    for d in [root] + glob.glob(root + ".compact-v*"):
        if os.path.islink(d):
            os.remove(d)
        else:
            shutil.rmtree(d, ignore_errors=True)


def set_up(run: Run, name: str, table: Table, start: int, builds: int,
           record: bool, stream: bool,
           panels: tuple[str, ...],
           rounds: int = 1) -> tuple[Engine, float]:
    """Warm up, then build the workload's pre-built table.

    The first call of each code path is slow (class loading, code
    generation), so set-up starts with one unrecorded build of
    ``table``, ``rounds`` queries of each of ``panels`` on it and, with
    ``stream``, one drain into a table of its own. A traced run always
    drains, so that every layer has a sample. Then the table is built
    ``builds`` times into fresh roots, with ``record`` taking each
    build's samples; the last one is kept. Returns the kept engine and
    the set-up time: warm-up plus the median build.
    """
    stream = stream or run.trace
    t0 = time.perf_counter()
    eng = Engine(run.path(name, "warm"), run.spark)
    build_table(run, eng, table, record=False)
    # the rejected lines depend on the logs alone: checked once
    run.op("dead_letters", eng,
           lambda o: _dead_letters(run, o, table.log_dir, table.lines),
           _expect(table.malformed))
    for _ in range(rounds):
        for pname in panels:
            panel = PANELS[pname]
            run_panel(run, eng, table,
                      Query(panel, start, start + (panel.range_s or 86400)),
                      record=False)
    drop_table(eng.table_root)
    if stream:
        land = run.path("warm", "landing", "access-0.log")
        loggen.LogGenerator(run.seed * 1000 + 2).write_file(
            land, start, 300, 100)
        warm = Engine(run.path("warm", "table"), run.spark)
        run.op("stream", warm, lambda o: o.stream(
            os.path.dirname(land), run.path("warm", "ckpt")))
        drop_table(warm.table_root)
    setup_s = time.perf_counter() - t0
    times = []
    for k in range(builds):
        if k:
            drop_table(eng.table_root)
        eng = Engine(run.path(name, f"table{k}"), run.spark)
        times.append(build_table(run, eng, table, record))
    return eng, setup_s + (statistics.median(times) if times else 0.0)


def backfill_ingest(run: Run):
    _, sidecar = _gen_rotated(run, "backfill", 10, "2020-04-01", 14,
                                 1500)
    table = Table(sidecar, run.path("backfill", "logs", ""))
    for truth in sidecar.files:
        table.land(truth, os.path.join(table.log_dir, truth.name))
    start = loggen.day_start("2020-04-01")
    checks = [Query(PANELS[name], start, start + 14 * 86400)
              for name in ("count_full", "top_clients", "bytes_p95")]
    expected = [table.oracle.expected(q) for q in checks]
    yield set_up(run, "backfill", table, start, 0, False, stream=False,
                 panels=tuple(q.panel.name for q in checks))[1]
    end = run.start_loop()
    rnd = 0
    while time.perf_counter() < end:
        eng = Engine(run.path("backfill", f"table{rnd}"), run.spark)
        build_table(run, eng, table, record=True)
        for q, exp in zip(checks, expected):
            run_panel(run, eng, table, q, exp)
        drop_table(eng.table_root)
        rnd += 1


def dashboard_read(run: Run):
    days = 14
    _, sidecar = _gen_rotated(run, "dash", 20, "2020-04-01", days,
                                 1200)
    table = Table(sidecar, run.path("dash", "logs", ""))
    for truth in sidecar.files:
        table.land(truth, os.path.join(table.log_dir, truth.name))
    start = loggen.day_start("2020-04-01")
    cycles = query_cycles(random.Random(run.seed), start,
                          start + days * 86400, DASHBOARD_CYCLES)
    expected = [[table.oracle.expected(q) for q in c] for c in cycles]
    eng, setup_s = set_up(run, "dash", table, start, SETUP_BUILDS, True,
                          stream=False, panels=tuple(PANELS))
    yield setup_s
    end = run.start_loop()
    for cycle, exp in zip(cycles, expected):
        if time.perf_counter() >= end:
            break
        for q, e in zip(cycle, exp):
            run_panel(run, eng, table, q, e)


def live_tail(run: Run):
    gen, sidecar = _gen_rotated(run, "live", 30, "2020-04-01", 2, 1500)
    base_dir = run.path("live", "logs", "")
    tail_start = loggen.day_start("2020-04-03")
    pending = []
    for i in range(TAIL_FILES):
        p = run.path("live", "pending", f"access-{i:05d}.log")
        sidecar.add(*gen.write_file(p, tail_start + i * TAIL_FILE_SPAN_S,
                                    TAIL_FILE_SPAN_S, TAIL_FILE_LINES))
        pending.append((sidecar.files[-1], p))
    sidecar.write()
    table = Table(sidecar, base_dir)
    for truth in sidecar.files[:2]:
        table.land(truth, os.path.join(base_dir, truth.name))
    # one build: its samples are not recorded, it only times set-up
    eng, setup_s = set_up(run, "live", table,
                          loggen.day_start("2020-04-01"), 1, False,
                          stream=True, panels=LIVE_PANELS,
                          rounds=LIVE_WARM_ROUNDS)
    yield setup_s
    landing = run.path("live", "landing", "")
    ckpt = run.path("live", "ckpt")
    end = run.start_loop()
    landed = 0
    # at least one compaction, so that every metric has a sample
    while (time.perf_counter() < end or landed < COMPACT_EVERY) \
            and landed < len(pending):
        truth, src = pending[landed]
        table.land(truth, src)  # the oracle's bookkeeping stays untimed
        t_land = time.perf_counter()
        os.replace(src, os.path.join(landing, truth.name))
        landed += 1
        _, d, c = run.op("stream", eng, lambda o: o.stream(landing, ckpt))
        run.samples["ingest_lines_per_s"].append(truth.lines / d)
        run.samples["ingest_lines_per_cpu_s"].append(truth.lines / c)
        run.op("probe", eng, lambda o: o.sql(PROBE_SQL),
               _probe_check(table.lines, table.valid))
        run.samples["freshness_s"].append(time.perf_counter() - t_land)
        now = tail_start + landed * TAIL_FILE_SPAN_S
        for name in LIVE_PANELS:
            panel = PANELS[name]
            run_panel(run, eng, table, Query(panel, now - panel.range_s,
                                             now))
        if landed % COMPACT_EVERY == 0:
            # the next drain's probe checks the compacted rows
            _, d, c = run.op("compact", eng, lambda o: o.compact())
            run.samples["compact_s"].append(d)
            run.samples["compact_cpu_s"].append(c)
        if landed == COMPACT_EVERY:
            # one sample at a fixed point: the ratio grows with the
            # files landed, which must not depend on the loop's speed
            run.samples["storage_bytes_per_input_byte"].append(
                disk_bytes(eng.table_root) / table.raw_bytes)
    run.op("probe", eng, lambda o: o.sql(PROBE_SQL),
           _probe_check(table.lines, table.valid))
    tail = [t for t, _ in pending[:landed]]
    run.op("dead_letters", eng,
           lambda o: _dead_letters(run, o, landing,
                                   sum(t.lines for t in tail)),
           _expect(sum(len(t.malformed) for t in tail)))


WORKLOADS = {f.__name__: f for f in (dashboard_read, live_tail,
                                     backfill_ingest)}


def end_to_end(run: Run, setup_s: float) -> dict[str, float]:
    """The END_TO_END and the WALL_CLOCK metrics."""
    s = run.samples
    return {
        "setup_s": setup_s,
        "ingest_lines_per_cpu_s": statistics.median(
            s["ingest_lines_per_cpu_s"]),
        "compact_cpu_s": statistics.median(s["compact_cpu_s"]),
        "query_cpu_p50_s": statistics.median(s["query_cpu_s"]),
        "ingest_lines_per_s": statistics.median(s["ingest_lines_per_s"]),
        "compact_s": statistics.median(s["compact_s"]),
        "query_p50_s": statistics.median(s["query_s"]),
        "query_p95_s": p95(s["query_s"]),
        "freshness_p50_s": statistics.median(s["freshness_s"]),
        "freshness_p95_s": p95(s["freshness_s"]),
        "storage_bytes_per_input_byte": statistics.median(
            s["storage_bytes_per_input_byte"]),
    }


def per_layer(run: Run, rss_mb: float) -> dict[str, tuple[str, float]]:
    """Per-layer metric → (unit, value), from the traced operations.
    Times are median self times per call, counts are sums. Each value
    comes from the loop; a layer the loop never calls is measured on
    its set-up calls, and reads 0 if set-up made none either."""
    tr = run.tracer
    own = {phase: self_times([s for s in tr.spans if s.phase == phase])
           for phase in ("setup", "loop")}

    def med_self(name):
        vals = own["loop"].get(name) or own["setup"].get(name)
        return statistics.median(vals) if vals else 0.0

    def med_sample(name):
        vals = tr.samples.get(("loop", name)) or \
            tr.samples.get(("setup", name))
        return statistics.median(vals) if vals else 0.0

    def total(name):
        return tr.counts.get(("loop", name)) or \
            tr.counts.get(("setup", name), 0.0)

    def ratio(num, den):
        return total(num) / total(den) if total(den) else 0.0

    traced = untraced = 0.0  # sums of per-kind loop medians
    for (kind, is_traced), vals in run.op_times.items():
        other = run.op_times.get((kind, not is_traced))
        if is_traced and other:
            traced += statistics.median(vals)
            untraced += statistics.median(other)
    return {
        "session.get_spark_s": ("s", med_sample("session.get_spark_s")),
        "sources.parse_s": ("s", med_self("sources.parse")),
        "sources.lines_parsed": ("count", total("sources.lines_parsed")),
        "sources.dead_letter_ratio": ("ratio", ratio(
            "sources.dead_letters", "sources.lines_checked")),
        "plans.storage.write_s": ("s", med_self("plans.storage.write")),
        "plans.storage.files_written": (
            "count", total("plans.storage.files_written")),
        "plans.storage.bytes_written": (
            "bytes", total("plans.storage.bytes_written")),
        "plans.storage.compact_s": ("s", med_self("plans.storage.compact")),
        "plans.storage.compact_bytes_rewritten": (
            "bytes", total("plans.storage.compact_bytes_rewritten")),
        "plans.storage.files_after_compact": (
            "count", med_sample("plans.storage.files_after_compact")),
        "streaming.ingest.epoch_s": (
            "s", med_sample("streaming.ingest.epoch_s")),
        "streaming.ingest.stream_start_s": (
            "s", med_self("streaming.ingest.stream_start")),
        "streaming.ingest.epochs": ("count", total("streaming.ingest.epochs")),
        "functions.macros.expand_s": (
            "s", med_self("functions.macros.expand")),
        "functions.macros.plan_s": ("s", med_self("functions.macros.plan")),
        "engine.table_snapshot_s": (
            "s", med_self("engine.table_snapshot")),
        "query.exec_s": ("s", med_self("query.exec")),
        "query.files_scanned": ("count", med_sample("query.files_scanned")),
        "query.rows_scanned_per_row_returned": ("ratio", ratio(
            "query.rows_scanned", "query.rows_returned")),
        "driver.peak_rss_mb": ("MB", rss_mb),
        "trace.overhead_ratio": (
            "ratio", traced / untraced if untraced else 0.0),
    }


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 work_dir: str) -> tuple[dict, str, Tracer]:
    """Run one workload; return the result object, a text report and
    the tracer holding the run's spans."""
    run = Run(work_dir, seed, seconds, trace)
    t0 = time.perf_counter()
    run.spark = get_spark(cpus=cpus())
    session_s = time.perf_counter() - t0
    run.tracer.sample("session.get_spark_s", session_s)
    try:
        t0 = time.perf_counter()
        Engine(run.path("init"), run.spark)
        common_s = session_s + time.perf_counter() - t0
        log(f"session {session_s:.2f}s, engine init "
            f"{common_s - session_s:.2f}s")
        steps = WORKLOADS[name](run)
        setup_s = common_s + next(steps)
        log(f"set-up {setup_s:.2f}s")
        for _ in steps:
            pass
        rss_mb = tree_peak_rss_mb()
    finally:
        stop_spark(run.spark)
    if trace:
        metrics = per_layer(run, rss_mb)
        text = spans.report(run.tracer) + "\n\n" + "\n".join(
            f"{k:40} {v:16.6f} {u}" for k, (u, v) in metrics.items())
        text += ("\ntracing overhead: traced operations took "
                 f"{metrics['trace.overhead_ratio'][1]:.3f}x the "
                 "untraced ones (sum of per-kind medians)")
    else:
        values = end_to_end(run, setup_s)
        metrics = {k: (u, values[k]) for k, u in END_TO_END.items()}
        text = "\n".join(f"{k:30} {values[k]:16.6f} {u}" for k, u in
                         (END_TO_END | WALL_CLOCK).items())
        text += f"\n{'peak_rss_mb':30} {rss_mb:16.6f} MB"
        text += "\nsamples: " + " ".join(
            f"{k}={len(v)}" for k, v in sorted(run.samples.items()))
    ratio = run.failed / run.attempted if run.attempted else 1.0
    text += (f"\nfailed_op_ratio {ratio:.6f} ratio "
             f"({run.failed} of {run.attempted} operations)")
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (u, v) in metrics.items()}}
    return result, text, run.tracer
