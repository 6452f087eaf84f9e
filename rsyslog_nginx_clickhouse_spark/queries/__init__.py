"""The declared query inventory — the engine's correctness surface.

Every entry pairs a Spark implementation (a callable ``(spark, sf_dir)
→ DataFrame``) with the equivalent ANSI SQL the DuckDB oracle runs on
the same parquet tables. Column names are part of the contract: the
driver sorts columns by name before value-hashing, so Spark aliases and
SQL ``AS`` names must match exactly.

Float discipline (why every aggregate is rounded, and how): Spark and
DuckDB sum doubles in different orders, so the last bits differ; we
round orders of magnitude above the reordering error. Rounding itself
is tiered by what can sit ON a tie point (functions/rounding.py):
irrational-valued results (cosines, norms, log-weighted scores,
non-terminating ratios) use plain round(); per-row exact-decimal
results (integer ratios, quotients of money) use tie_round, the same
IEEE op sequence in both engines; ROUNDED SUMS of exact decimals
(money at 1 decimal) are summed as exact integer units with integer
HALF_UP — the only form whose value is independent of partitioning.
Rounding an exact 2-decimal value at >= 2 decimals is exact and needs
no special form.

Modules:
- reference — the reference's own surface (SURVEY §2.6 Q1-Q6) over the
  ``events`` table + the nginx ingest pipeline round-trip.
- adhoc     — the general SQL SELECT surface (README.md:7,32: "regular
  SQL is a stated product requirement"): joins, windows, rollup,
  semi/anti, pivot, as-of, sessionize.
- llm       — dedup / similarity / text analysis / multimodal.
- stream_q  — Structured Streaming entries.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Register a query implementation under ``name``."""

    def deco(fn):
        REGISTRY[name] = Query(spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


#: The driver's correctness snapshot covers only the FIRST 50 registry
#: entries per round, so queries lacking a CURRENT green driver row
#: are front-loaded each round. The rotation policy is EXECUTABLE
#: (tools/rotationcheck.py, run by gate.sh — VERDICT r5 item 8): the
#: window must contain every never-verified query and every query
#: whose resolved function-source+oracle differs from the tree its
#: last green row verified, and the remaining slots fill
#: oldest-verified-first.
#: Round-15 ordering (VERDICT r14 items 1, 2, 6 + the standing
#: rotation contract): the window leads with the round's 3 mandatory
#: TEXT-CHANGED entries — funnel_strict_modes (the three strict-mode
#: folds now run from ONE collect_list shuffle via
#: operators/funnel.window_funnel_multi instead of three shuffles +
#: two joins — VERDICT item 1; results oracle-identical, plans in
#: plans/r15/) and rank_corr_sql + two_sample_tests_sql (the
#: round-15 grouped-rank-stat window rewrite —
#: _rewrite_grouped_rank_stats, VERDICT item 2 — replans their
#: rankCorr / mannWhitneyUTest calls, their docs say so now, and
#: they are also the exercising rows for the touched helper tokens)
#: — then fills oldest-first:
#: ALL 4 r9 rows (upsample_epochs + user_event_gaps, displaced by the
#: r14 optimization rotation — VERDICT item 6 — plus
#: window_lag_lead_sql + with_fill_interpolate, same r9 cohort) and
#: 43 of the 46 r10 rows alphabetically. The 3 remaining r10 rows
#: (top3_parts_per_brand, user_sessions, zorder_pruned_scan) are the
#: oldest outside the window and lead _FRONTLOAD_R16 — the price of
#: the 3 mandatory slots. rotationcheck enforces the result.
_FRONTLOAD_R15 = [
    # text-changed this round — the fused multi-mode funnel fold
    "funnel_strict_modes",
    # helper-coverage: the grouped-rank-stat window rewrite tokens
    "rank_corr_sql",
    "two_sample_tests_sql",
    # the 4 r9 rows — oldest in the registry
    "upsample_epochs",
    "user_event_gaps",
    "window_lag_lead_sql",
    "with_fill_interpolate",
    # 43 of the 46 r10 rows, alphabetical
    "any_join_sql",
    "argmax_rollup_latest",
    "array_join_token_counts",
    "array_lambda_sql",
    "bloom_pruned_scan",
    "bpe_tokenize_docs",
    "bpe_train_merges",
    "bucketed_build",
    "daily_unique_users",
    "decontamination",
    "dedup_components",
    "dedup_keep_best",
    "dict_get_large",
    "duplicated_ngram_fraction",
    "embedding_norms",
    "error_rate_daily",
    "event_type_share",
    "ivf_build",
    "multimodal_decode_audio",
    "multimodal_decode_png",
    "multimodal_decode_video",
    "multimodal_frames",
    "nginx_dead_letters",
    "nginx_pipeline",
    "nginx_pipeline_rulebase",
    "nginx_table_roundtrip",
    "orders_moving_avg",
    "orderstatus_pivot",
    "purchase_last_view_asof",
    "q12_priority_shipping",
    "q9_product_profit",
    "replacing_upsert_roundtrip",
    "rollup_customer_balance",
    "running_customer_spend",
    "sample_rowcount_scan",
    "skew_salted_event_counts",
    "streaming_dedup",
    "streaming_hourly_counts",
    "streaming_sessions",
    "streaming_summed_rollup",
    "streaming_user_counts",
    "streaming_view_purchase_join",
    "timeseries_5min_by_type",
]


def load_all() -> dict[str, Query]:
    """Import all query modules (side effect: fills REGISTRY)."""
    from rsyslog_nginx_clickhouse_spark.queries import (  # noqa: F401
        adhoc,
        llm,
        pipeline,
        reference,
        stream_q,
        tpch_plus,
    )

    # loud invariant: a misspelled front-load name would silently
    # demote that query out of the driver's 50-entry verification
    # window and shrink the round's coverage with no error anywhere
    missing = [n for n in _FRONTLOAD_R15 if n not in REGISTRY]
    assert not missing, f"_FRONTLOAD names not in registry: {missing}"
    ordered = {n: REGISTRY[n] for n in _FRONTLOAD_R15}
    ordered.update(REGISTRY)
    return ordered
