"""Plan-property regressions: the physical-plan shapes that make these
queries survive a 100× scale-up (SURVEY §4). Asserted at sf0.001 —
plan shape is scale-invariant for these properties."""

from __future__ import annotations

import os
import warnings

import pytest

from rsyslog_nginx_clickhouse_spark.queries import load_all
from rsyslog_nginx_clickhouse_spark.queries.reference import (
    reference_config_path,
)
from tools.plancheck import audit


def _plan(spark, sf_dir, name):
    df = load_all()[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcasts_dims_and_avoids_global_sort(spark, sf_dir):
    a = audit(_plan(spark, sf_dir, "q3_shipping_priority"))
    assert a["bhj"] >= 2 and a["smj"] == 0  # dims broadcast, facts stay put
    assert a["take_ordered"]                # top-10 without a global sort
    assert a["partial_agg"]                 # map-side combine


def test_q6_pushes_every_predicate(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters: [", 1)[1]
    for f in ("l_shipdate", "l_discount", "l_quantity"):
        assert f in pushed[:400]
    # column pruning: a 16-col table read as exactly the 4 needed cols
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double," \
           "l_discount:double,l_shipdate:timestamp_ntz>" in plan


def test_events_time_range_reaches_the_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "grafana_timeseries")
    pushed = plan.split("PushedFilters: [", 1)[1][:300]
    # the nanos workaround must not swallow the range predicate
    assert "GreaterThanOrEqual(ts," in pushed
    assert "LessThanOrEqual(ts," in pushed


def test_no_query_plans_a_cartesian_product(spark, sf_dir):
    rule_path = reference_config_path("nginx.rule")
    for name in sorted(load_all()):
        if name.startswith("streaming"):
            continue  # streaming entries execute on construction
        if name == "nginx_pipeline_rulebase" and not os.path.exists(rule_path):
            # its config is the reference's verbatim file, kept out of the
            # repo: leave out this one query, not every one after it
            warnings.warn(f"{name} not audited: {rule_path} not found "
                          "(set SPARK_GRAFT_REFERENCE_DIR)", UserWarning)
            continue
        a = audit(_plan(spark, sf_dir, name))
        assert a["cartesian"] == 0, name
        spark.catalog.clearCache()


def test_asof_join_is_single_shuffle(spark, sf_dir):
    a = audit(_plan(spark, sf_dir, "purchase_last_view_asof"))
    # union-sort-window formulation: one exchange on the key, no join at all
    assert a["bhj"] + a["smj"] + a["shj"] == 0
    assert a["exchanges"] <= 2
