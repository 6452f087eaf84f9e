"""The user-facing facade: what an operator of the reference stack
switches to.

Reference workflow → Engine workflow:

- ``clickhouse-client --query "$(cat nginx.click)"``  → ``Engine(root)``
  (the table exists when data arrives; schema is declared in code).
- rsyslog daemon tailing access.log                   → ``eng.stream(...)``
  (or ``eng.ingest(...)`` for batch backfill of rotated logs).
- Grafana panel SQL with $macros                      → ``eng.sql(...)``
  (same query text, ClickHouse function names included).
- the DDL's ``PARTITION BY toYYYYMMDD(logdate)``      → ``Engine`` declares
  the table's partition column (``plans.storage.PARTITION_COL``) for its
  time column with ``declare_partition_by``, so a panel's
  ``$timeFilter`` also bounds ``logdate`` and reads only the day
  partitions its range can touch.

>>> eng = Engine(table_root="/data/nginx")          # doctest: +SKIP
>>> eng.ingest("/var/log/nginx/access.log.1")       # doctest: +SKIP
>>> eng.sql("SELECT $timeSeries AS t, count(*) AS c "
...         "FROM $table WHERE $timeFilter GROUP BY t ORDER BY t",
...         time_from="2020-04-06 00:00:00",
...         time_to="2020-04-07 00:00:00").show()   # doctest: +SKIP
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from rsyslog_nginx_clickhouse_spark.functions import macros
from rsyslog_nginx_clickhouse_spark.functions.clickhouse import (
    register_clickhouse_functions,
)
from rsyslog_nginx_clickhouse_spark.plans.storage import (
    PARTITION_COL,
    SORT_COLS,
    compact,
    read_table,
    write_mergetree_like,
)
from rsyslog_nginx_clickhouse_spark.session import get_spark
from rsyslog_nginx_clickhouse_spark.sources.nginx_log import (
    NGINX_TABLE_SCHEMA,
    dead_letters,
    ingest_batch,
    parse_lines,
    read_access_log,
)
from rsyslog_nginx_clickhouse_spark.streaming.ingest import start_ingest

TABLE_NAME = "nginx"


class Engine:
    """One nginx analytics table + its ingest and query surface."""

    def __init__(self, table_root: str,
                 spark: SparkSession | None = None) -> None:
        self.spark = spark or get_spark("engine")
        self.table_root = table_root
        register_clickhouse_functions(self.spark)
        macros.declare_partition_by(TABLE_NAME, SORT_COLS[-1], PARTITION_COL)

    # ---- ingest (the rsyslog half) ----

    def ingest(self, log_path: str, **parse_kwargs) -> int:
        """Batch backfill: parse a (rotated) access log into the table.

        One pass, one Spark job: the row count is an observed metric of
        the write itself (``DataFrame.observe``), not a separate count
        over a cached frame. Returns rows ingested: every input line,
        malformed ones included (they land in the null ``logdate``
        partition)."""
        obs = Observation()
        typed = ingest_batch(self.spark, log_path, **parse_kwargs)
        write_mergetree_like(typed.observe(obs, F.count(F.lit(1)).alias("n")),
                             self.table_root)
        return obs.get["n"]

    def stream(self, log_dir: str, checkpoint: str, **kwargs):
        """Drain every file now in ``log_dir`` into the table, then stop.

        A bounded ``availableNow`` query (exactly-once epochs; await its
        termination), started from a parse plan that ``start_ingest``
        builds once per landing directory and reuses on later calls."""
        return start_ingest(self.spark, log_dir, self.table_root,
                            checkpoint, **kwargs)

    def compact(self) -> None:
        """↔ MergeTree background merge (run out-of-band): merges only
        the partitions that need it, under the declared schema, so no
        schema-inference job runs."""
        compact(self.spark, self.table_root, schema=NGINX_TABLE_SCHEMA)

    # ---- query (the ClickHouse/Grafana half) ----

    def table(self) -> DataFrame:
        return read_table(self.spark, self.table_root)

    def sql(self, query: str, **macro_kwargs) -> DataFrame:
        """Run (Grafana-macro / ClickHouse-flavored) SQL over the table.

        ``macro_kwargs`` go to ``functions.macros.expand_macros``, which
        holds their defaults: ``time_col``, ``interval_s``, ``time_from``
        / ``time_to`` (the dashboard range), ``adhoc_filters=[(col, op,
        value), ...]`` for $adhoc and ``template_vars={name: value}`` for
        $conditionalTest / $name substitution.
        """
        self.table().createOrReplaceTempView(TABLE_NAME)
        # single dispatcher: macros.sql handles $-expansion AND the
        # ClickHouse aggregate rewrites for plain queries (two copies of
        # this logic had already drifted once)
        return macros.sql(self.spark, query, table=TABLE_NAME,
                          **macro_kwargs)

    def dead_letters(self, log_path: str) -> DataFrame:
        """Lines the parser rejected (debug tee, R2)."""
        return dead_letters(parse_lines(
            read_access_log(self.spark, log_path)))
