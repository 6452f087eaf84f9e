"""Self-check harness: replicate the driver's DuckDB-oracle comparison.

Runs every registry query on Spark AND its oracle on DuckDB at the given
sf, compares row count, sorted-column-name schema, and an
order-insensitive value hash. Usage:

    python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from rsyslog_nginx_clickhouse_spark.catalog import TABLES
from rsyslog_nginx_clickhouse_spark.queries import load_all
from rsyslog_nginx_clickhouse_spark.session import get_spark


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    """Order-insensitive hash: sort columns by name, render every value
    to a canonical string, hash the sorted multiset of row strings."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def render(v) -> str:
        if v is None:
            return "<null>"
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)

    lines = sorted("|".join(render(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def absent_input(name: str) -> str | None:
    """Why query ``name`` cannot run in this checkout, or None.
    nginx_pipeline_rulebase parses the reference's verbatim nginx.rule,
    which the repo does not hold; such a query is reported as not run,
    apart from every pass/fail/flaky/error count."""
    if name != "nginx_pipeline_rulebase":
        return None
    # imported here, not at the top: importing a query module registers
    # its queries, and load_all() fixes the registry's order
    from rsyslog_nginx_clickhouse_spark.queries.reference import (
        reference_config_path,
    )

    path = reference_config_path("nginx.rule")
    if os.path.exists(path):
        return None
    return f"{path} not found (set SPARK_GRAFT_REFERENCE_DIR)"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    registry = load_all()
    spark = get_spark("selfcheck")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    n_pass = n_fail = n_absent = 0
    for name, q in registry.items():
        if only and name not in only:
            continue
        why = absent_input(name)
        if why:
            print(f"SKIP {name}: {why}")
            n_absent += 1
            continue
        t0 = time.time()
        try:
            sdf = q.spark(spark, sf_dir)
            # registry lint (VERDICT r9): no top-level ArrayType/MapType
            # output column — the driver's canonicalizer (pandas
            # factorize) cannot hash list cells, so such a query would
            # land a red driver row even when its values are correct.
            # Serialize (array_join) or explode at the SELECT boundary.
            from pyspark.sql.types import ArrayType, MapType

            complex_cols = [f.name for f in sdf.schema.fields
                            if isinstance(f.dataType, (ArrayType, MapType))]
            if complex_cols:
                print(f"FAIL {name}: top-level complex output column(s) "
                      f"{complex_cols} — driver canonicalizer cannot hash "
                      f"them; serialize or explode at the SELECT boundary")
                n_fail += 1
                continue
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        finally:
            # release per-query caches (dedup ops cache intermediates)
            # so later queries aren't taxed by leftover executor
            # memory; gc.collect() lets ContextCleaner free
            # localCheckpoint blocks, which clearCache does not touch
            spark.catalog.clearCache()
            import gc

            gc.collect()
        if q.oracle is None:
            print(f"okro {name}: rows-only, {len(srows)} rows "
                  f"({time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            res = con.execute(q.oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} duck={sorted(ocols)}")
        if not problems:
            hs, ho = value_hash(srows, scols), value_hash(orows, ocols)
            if hs != ho:
                problems.append("value-hash mismatch")
                so = sorted(
                    "|".join(str(r[i]) for i in
                             sorted(range(len(scols)), key=lambda i: scols[i]))
                    for r in srows)
                oo = sorted(
                    "|".join(str(r[i]) for i in
                             sorted(range(len(ocols)), key=lambda i: ocols[i]))
                    for r in orows)
                diff = [(a, b) for a, b in zip(so, oo) if a != b][:3]
                for a, b in diff:
                    problems.append(f"  spark: {a}")
                    problems.append(f"  duck : {b}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(f"     {p}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_absent} not run")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
