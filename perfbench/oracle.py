"""Dashboard panels and their DuckDB oracle.

Each panel is written twice: as the Grafana-macro SQL a dashboard sends
to ``Engine.sql``, and as plain DuckDB SQL over the generator's
ground-truth sidecar. A panel result is correct when the two agree row
for row (timestamps compared as epoch seconds, floats to 1e-9).
"""

from __future__ import annotations

import calendar
import datetime as dt
import math
import random
from dataclasses import dataclass, field
from decimal import Decimal

import duckdb

_BUCKET = "CAST(floor(epoch(ts) / {w}) * {w} AS BIGINT)"
_RANGE = "ts >= TIMESTAMP '{lo}' AND ts <= TIMESTAMP '{hi}'"

_COUNT_SQL = ("SELECT $timeSeries AS t, count(*) AS c FROM $table "
              "WHERE $timeFilter GROUP BY t ORDER BY t")
_COUNT_DUCK = (f"SELECT {_BUCKET} AS t, count(*) AS c FROM truth "
               f"WHERE {_RANGE} GROUP BY t ORDER BY t")


@dataclass(frozen=True)
class Panel:
    name: str
    sql: str            # Grafana-macro SQL for Engine.sql
    duck: str           # the same question over the sidecar
    range_s: int | None  # None: the table's full time range
    interval_s: int
    adhoc: tuple = ()


PANELS = {p.name: p for p in (
    Panel("count_1h", _COUNT_SQL, _COUNT_DUCK, 3600, 60),
    Panel("count_1d", _COUNT_SQL, _COUNT_DUCK, 86400, 600),
    Panel("count_7d", _COUNT_SQL, _COUNT_DUCK, 7 * 86400, 3600),
    Panel("count_full", _COUNT_SQL, _COUNT_DUCK, None, 86400),
    Panel("rate_by_code",
          "$rateColumns(response AS code, count(*) AS c) "
          "FROM $table WHERE $timeFilter",
          f"SELECT t, code, c / (t - lag(t) OVER (PARTITION BY code "
          f"ORDER BY t)) AS c FROM (SELECT {_BUCKET} AS t, response AS "
          f"code, count(*) AS c FROM truth WHERE {_RANGE} "
          f"GROUP BY t, code) ORDER BY t, code",
          86400, 3600),
    Panel("adhoc_5xx",
          "SELECT $timeSeries AS t, count(*) AS c FROM $table "
          "WHERE $timeFilter AND $adhoc GROUP BY t ORDER BY t",
          f"SELECT {_BUCKET} AS t, count(*) AS c FROM truth "
          f"WHERE {_RANGE} AND response >= 500 GROUP BY t ORDER BY t",
          7 * 86400, 3600, adhoc=(("response", ">=", 500),)),
    Panel("top_clients",
          "SELECT clientip, count(*) AS c FROM $table WHERE $timeFilter "
          "GROUP BY clientip ORDER BY c DESC, clientip LIMIT 10",
          f"SELECT clientip, count(*) AS c FROM truth WHERE {_RANGE} "
          f"GROUP BY clientip ORDER BY c DESC, clientip LIMIT 10",
          7 * 86400, 3600),
    # ClickHouse's quantileExact returns an element of the sorted
    # values, and the engine maps it to Spark's interpolating
    # percentile; the panel asks for that percentile by name, so the
    # oracle checks a definition both Spark and DuckDB document
    # (linear interpolation between closest ranks) and not the
    # engine's rewrite
    Panel("bytes_p95",
          "SELECT percentile(bytes, 0.95) AS p95 FROM $table "
          "WHERE $timeFilter",
          f"SELECT quantile_cont(bytes, 0.95) AS p95 FROM truth "
          f"WHERE {_RANGE}",
          86400, 3600),
)}


def fmt_ts(epoch_s: int) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S")


@dataclass(frozen=True)
class Query:
    """One panel over one dashboard time range."""

    panel: Panel
    lo: int
    hi: int

    def kwargs(self) -> dict:
        kw = {"interval_s": self.panel.interval_s,
              "time_from": fmt_ts(self.lo), "time_to": fmt_ts(self.hi)}
        if self.panel.adhoc:
            kw["adhoc_filters"] = list(self.panel.adhoc)
        return kw

    def duck_sql(self) -> str:
        return self.panel.duck.format(w=self.panel.interval_s,
                                      lo=fmt_ts(self.lo), hi=fmt_ts(self.hi))


def query_cycles(rng: random.Random, start: int, end: int,
                 cycles: int) -> list[list[Query]]:
    """``cycles`` rounds of one query per panel, each over a seeded,
    minute-aligned range inside [start, end]. Every round holds the
    same panels in the same order, so a run's mix does not depend on
    where its time runs out."""
    out = []
    for _ in range(cycles):
        cycle = []
        for panel in PANELS.values():
            if panel.range_s is None:
                cycle.append(Query(panel, start, end))
                continue
            lo = start + rng.randrange(0, end - start - panel.range_s,
                                       60)
            cycle.append(Query(panel, lo, lo + panel.range_s))
        out.append(cycle)
    return out


def _norm(v):
    if isinstance(v, dt.datetime):
        return calendar.timegm(v.timetuple())
    if isinstance(v, Decimal):
        return float(v)
    return v


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare(actual, expected) -> str | None:
    """None when ``actual`` rows equal ``expected`` rows in order, else
    a description of the first difference."""
    act = [tuple(_norm(v) for v in r) for r in actual]
    exp = [tuple(_norm(v) for v in r) for r in expected]
    if len(act) != len(exp):
        return f"{len(act)} rows, expected {len(exp)}"
    for i, (a, e) in enumerate(zip(act, exp)):
        if len(a) != len(e) or not all(map(_same, a, e)):
            return f"row {i}: {a!r} != {e!r}"
    return None


@dataclass
class Oracle:
    """DuckDB over the sidecar rows of the files a table has ingested."""

    con: duckdb.DuckDBPyConnection = field(
        default_factory=lambda: duckdb.connect(":memory:"))

    def __post_init__(self):
        self.con.execute(
            "CREATE TABLE rows (file VARCHAR, ts TIMESTAMP, "
            "clientip VARCHAR, verb VARCHAR, request VARCHAR, "
            "response INTEGER, bytes BIGINT)")
        self.con.execute("CREATE TABLE landed (file VARCHAR)")
        self.con.execute("CREATE VIEW truth AS SELECT * FROM rows "
                         "WHERE file IN (SELECT file FROM landed)")

    def load(self, truth_tsv: str) -> None:
        """Add a sidecar's rows; they count once their file lands."""
        self.con.execute(
            "INSERT INTO rows SELECT * FROM read_csv(?, delim='\t', "
            "header=true, quote='', escape='', columns={'file': "
            "'VARCHAR', 'ts': 'TIMESTAMP', 'clientip': 'VARCHAR', "
            "'verb': 'VARCHAR', 'request': 'VARCHAR', 'response': "
            "'INTEGER', 'bytes': 'BIGINT'})", [truth_tsv])

    def land(self, *files: str) -> None:
        self.con.executemany("INSERT INTO landed VALUES (?)",
                             [[f] for f in files])

    def expected(self, q: Query) -> list[tuple]:
        return self.con.execute(q.duck_sql()).fetchall()

    def row_count(self) -> int:
        return self.con.execute("SELECT count(*) FROM truth").fetchone()[0]
