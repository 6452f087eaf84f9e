"""Driver-contract smoke: every registry query runs at sf0.001 and the
entry module exposes entry()/queries()/oracle_sql() coherently."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

from rsyslog_nginx_clickhouse_spark.queries import load_all


def test_entry_contract(spark, sf_dir):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) <= set(qs)  # every oracle key has a query
    assert len(qs) >= 30
    df = entrymod.entry(spark)
    assert df.columns  # stable schema, collectable
    assert len(df.take(1)) >= 0


@pytest.mark.parametrize("name", sorted(load_all()))
def test_query_runs_at_sf0001(spark, sf_dir, name):
    q = load_all()[name]
    df = q.spark(spark, sf_dir)
    assert df.schema is not None
    # run the plan; row counts vary with sf, just require no execution error
    df.limit(5).collect()
