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
  ``declare_partition_by("nginx", "logdatetime", "logdate")``, so a
  panel's ``$timeFilter`` also bounds ``logdate`` and reads only the
  day partitions its range can touch.

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

from rsyslog_nginx_clickhouse_spark.functions.clickhouse import (
    register_clickhouse_functions,
)
from rsyslog_nginx_clickhouse_spark.functions.macros import (
    declare_partition_by,
)
from rsyslog_nginx_clickhouse_spark.plans.storage import (
    compact,
    read_table,
    write_mergetree_like,
)
from rsyslog_nginx_clickhouse_spark.session import get_spark
from rsyslog_nginx_clickhouse_spark.sources.nginx_log import ingest_batch
from rsyslog_nginx_clickhouse_spark.streaming.ingest import start_ingest

TABLE_NAME = "nginx"


class Engine:
    """One nginx analytics table + its ingest and query surface."""

    def __init__(self, table_root: str,
                 spark: SparkSession | None = None) -> None:
        self.spark = spark or get_spark("engine")
        self.table_root = table_root
        register_clickhouse_functions(self.spark)
        declare_partition_by(TABLE_NAME, "logdatetime", "logdate")

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
        """Continuous ingest of a log directory (exactly-once epochs)."""
        return start_ingest(self.spark, log_dir, self.table_root,
                            checkpoint, **kwargs)

    def compact(self) -> None:
        """↔ MergeTree background merge (run out-of-band)."""
        compact(self.spark, self.table_root)

    # ---- query (the ClickHouse/Grafana half) ----

    def table(self) -> DataFrame:
        return read_table(self.spark, self.table_root)

    def sql(self, query: str, time_col: str = "logdatetime",
            interval_s: int = 3600, time_from: str | None = None,
            time_to: str | None = None, **macro_kwargs) -> DataFrame:
        """Run (Grafana-macro / ClickHouse-flavored) SQL over the table.

        ``macro_kwargs`` passes the rest of the macro surface through:
        ``adhoc_filters=[(col, op, value), ...]`` for $adhoc and
        ``template_vars={name: value}`` for $conditionalTest / $name
        substitution.
        """
        from rsyslog_nginx_clickhouse_spark.functions import macros

        self.table().createOrReplaceTempView(TABLE_NAME)
        # single dispatcher: macros.sql handles $-expansion AND the
        # ClickHouse aggregate rewrites for plain queries (two copies of
        # this logic had already drifted once)
        return macros.sql(self.spark, query, table=TABLE_NAME,
                          time_col=time_col, interval_s=interval_s,
                          time_from=time_from, time_to=time_to,
                          **macro_kwargs)

    def dead_letters(self, log_path: str) -> DataFrame:
        """Lines the parser rejected (debug tee, R2)."""
        from rsyslog_nginx_clickhouse_spark.sources.nginx_log import (
            dead_letters,
            parse_lines,
            read_access_log,
        )

        return dead_letters(parse_lines(
            read_access_log(self.spark, log_path)))
