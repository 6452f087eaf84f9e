"""Log-analytics benchmark: run one workload and print one JSON line.

    python3 perfbench/run.py --workload dashboard_read --seed 1 \
        --seconds 16 --trace 0

Run from the repository root. The launcher pins the environment before
Spark starts: ``SPARK_GRAFT_CPUS`` to the usable cores, the driver heap
below physical memory, and every scratch, spill, checkpoint and table
directory into a per-run directory under ``.perfbench-run/`` that is
removed afterwards. The last line of standard output is the result
object; the lines before it are the human-readable report. With
``--trace 1`` the spans are also written to
``.perfbench-out/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("dashboard_read", "live_tail", "backfill_ingest")


def driver_memory() -> str:
    """Half of physical memory, at most 4 GiB: the data sets are small
    and the machine may be shared."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    return f"{max(1, min(4096, total_kb // 2048))}m"


def pin_environment(run_dir: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_SCRATCH_DIR": os.path.join(run_dir, "scratch"),
        "TMPDIR": tmp,
        # the JVM's own temp files and perf data stay in the run dir too.
        # C1-only JIT and the serial collector: a run lasts about a
        # minute, in which C2 never settles; its compiler threads and
        # G1's concurrent threads race the measured operations for the
        # cores, so the timings depended on how far compilation had
        # got rather than on the engine.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
        "TZ": "UTC",  # collected timestamps compare as UTC epoch seconds
    })
    time.tzset()
    tempfile.tempdir = tmp
    # relative paths Spark may create (spark-warehouse) land here too
    os.chdir(run_dir)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_dir = os.path.join(ROOT, ".perfbench-run",
                           f"{args.workload}-{os.getpid()}")
    try:
        pin_environment(run_dir)
        sys.path.insert(0, ROOT)
        import workloads  # imports the engine: fails outside a checkout

        result, text, tracer = workloads.run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace),
            os.path.join(run_dir, "work"))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it
    if args.trace:
        out = os.path.join(ROOT, ".perfbench-out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(
            out, f"spans-{args.workload}-{args.seed}.json"))
    print(f"workload {args.workload} seed {args.seed} "
          f"seconds {args.seconds:g} trace {args.trace}")
    print(text)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
