"""Determinism check: every registry query, executed twice in one
session, must produce the identical order-insensitive value hash.

The DuckDB oracle gate (selfcheck) proves Spark == oracle on one
execution; this proves Spark == Spark across executions — the property
that catches partition-order-dependent results (collect_set render
order, first()/any_value picks, non-total sort keys, rounding applied
after a nondeterministic reduce), which could coincidentally match the
oracle once and flake the next round. A query that raises is counted
as an error, not as flaky: it says nothing about determinism. The exit
status is nonzero when any query is flaky or errors. Usage:

    python tools/determinism.py [sf_dir] [query ...]
"""

from __future__ import annotations

import gc
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rsyslog_nginx_clickhouse_spark.queries import load_all
from rsyslog_nginx_clickhouse_spark.session import get_spark
from tools.selfcheck import value_hash


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    registry = load_all()
    spark = get_spark("determinism")
    n_pass = n_flaky = n_error = 0
    for name, q in registry.items():
        if only and name not in only:
            continue
        hashes = []
        try:
            for _ in range(2):
                df = q.spark(spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
                hashes.append((len(rows), value_hash(rows, df.columns)))
                spark.catalog.clearCache()
                gc.collect()
        except Exception as e:
            print(f"ERROR {name}: {e}")
            n_error += 1
            continue
        if hashes[0] == hashes[1]:
            n_pass += 1
        else:
            print(f"FLAKY {name}: run1={hashes[0]} run2={hashes[1]}")
            n_flaky += 1
    print(f"\n{n_pass} deterministic, {n_flaky} flaky, {n_error} errors")
    return 1 if n_flaky or n_error else 0


if __name__ == "__main__":
    raise SystemExit(main())
