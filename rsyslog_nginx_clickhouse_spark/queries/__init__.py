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


def load_all() -> dict[str, Query]:
    """Import all query modules (side effect: fills REGISTRY) and
    return REGISTRY, in registration order."""
    from rsyslog_nginx_clickhouse_spark.queries import (  # noqa: F401
        adhoc,
        llm,
        pipeline,
        reference,
        stream_q,
        tpch_plus,
    )

    return REGISTRY
