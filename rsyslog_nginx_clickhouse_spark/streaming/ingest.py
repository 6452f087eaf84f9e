"""Structured Streaming ingest ↔ the rsyslog half of the reference.

Reference dataflow (/root/reference/nginx.conf): imfile tails
access.log (S1, nginx.conf:48,51) → mmnormalize parse (nginx.conf:54) →
lookup enrich (nginx.conf:55) → template render → per-row ClickHouse
INSERT (K1, nginx.conf:61-63), at-least-once, no batching.

Spark formulation:

- source: ``readStream.text(dir)`` over rotated/closed log files (the
  file source ingests whole new files — the documented bridge for
  imfile's line-tailing, SURVEY §7.4; a socket/Kafka front end replaces
  it for live syslog without touching the transform chain).
- transform: the SAME batch functions from sources/nginx_log.py — one
  code path for batch backfill and streaming (Structured Streaming's
  core promise).
- sink: ``writeStream.foreachBatch`` appending day-partitioned sorted
  parquet with checkpointing — upgrading the reference's row-at-a-time
  at-least-once INSERTs to micro-batch appends with checkpointed
  progress (exactly-once per epoch given an idempotent/transactional
  target; Delta would make the file commit atomic too).
- streaming aggregation: watermarked tumbling-window counts — the
  streaming twin of the Grafana query (Q1-Q4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from rsyslog_nginx_clickhouse_spark.sources.nginx_log import (
    parse_lines,
    to_typed_table,
)
from rsyslog_nginx_clickhouse_spark.plans.storage import write_mergetree_like


def stream_access_log(spark: SparkSession, log_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming source over an access-log directory (S1 equivalent).

    Back-pressure / queue semantics: rsyslog's ruleset call
    (/root/reference/nginx.conf:56) implicitly runs through bounded
    action queues that throttle the producer when the sink lags. The
    Structured Streaming analog is admission control at the source —
    ``maxFilesPerTrigger`` caps how many files of a backlog one
    micro-batch admits, so a multi-day replay drains as a
    sequence of bounded epochs (bounded executor memory, steady
    checkpoint cadence) instead of one monster batch. Downstream there
    is no unbounded queue to overflow: each epoch is fully written and
    checkpointed before the next is admitted, which IS the back-pressure
    loop (the source simply does not advance while the sink is busy).
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(log_dir)
    return to_typed_table(parse_lines(raw))


def idempotent_epoch_writer(table_path: str, write_fn=None):
    """foreachBatch sink with exactly-once semantics on plain parquet.

    Stage with overwrite → publish under deterministic epoch-derived
    names via atomic rename → marker. Any replay prefix (nothing /
    half-staged / half-published / published-but-unmarked) converges to
    exactly one copy of the epoch's rows. See start_ingest docstring.

    Markers and published names carry the streaming query's id as well
    as the epoch number: every checkpoint numbers its epochs from 0, so
    a second checkpoint streaming into the same table would otherwise
    find the first one's markers and skip its own epochs as committed,
    and its purge would delete the first one's files. The id is stored
    in the checkpoint, so a restart replays under the same names.
    Called directly (outside a streaming query) there is no id, and the
    names carry the epoch number alone.

    ``write_fn(batch_df, staging_path)`` overrides the staged write
    (default: the sorted day-partitioned mergetree write) — used by any
    foreachBatch sink that appends to plain parquet, e.g. the summing
    rollup (a bare .write.append there would double-count on replay).
    """
    import glob
    import os
    import shutil

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        query_id = batch_df.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId")
        epoch = epoch_id if query_id is None else f"{query_id}-{epoch_id}"
        marker = os.path.join(table_path, f"_epoch_{epoch}_SUCCESS")
        if os.path.exists(marker):
            return  # epoch fully committed; checkpoint replay
        staging = os.path.join(table_path, f"_staging_{epoch}")
        # A replay of a HALF-STAGED epoch must start from an empty
        # staging dir: the default write is mode="overwrite" (clears it
        # implicitly), but a custom write_fn may append (the summing
        # rollup's append_partial does) — leftover staged files from the
        # crashed attempt would then be published alongside the replay's,
        # doubling the epoch's rows.
        shutil.rmtree(staging, ignore_errors=True)
        if write_fn is not None:
            write_fn(batch_df, staging)
        else:
            write_mergetree_like(batch_df, staging, mode="overwrite")
        # a replay may produce a DIFFERENT file layout (AQE coalescing,
        # changed configs): purge this epoch's previously-published
        # files first, or a stale higher-index file from the earlier
        # attempt would survive and duplicate rows
        for stale in glob.glob(os.path.join(
                table_path, "**", f"epoch-{epoch}-*.parquet"),
                recursive=True):
            os.remove(stale)
        for i, src in enumerate(sorted(
                glob.glob(os.path.join(staging, "**", "*.parquet"),
                          recursive=True))):
            rel_dir = os.path.relpath(os.path.dirname(src), staging)
            dest_dir = os.path.join(table_path, rel_dir)
            os.makedirs(dest_dir, exist_ok=True)
            os.replace(src, os.path.join(
                dest_dir, f"epoch-{epoch}-{i:05d}.parquet"))
        shutil.rmtree(staging, ignore_errors=True)
        with open(marker, "w"):
            pass

    return sink


def start_ingest(spark: SparkSession, log_dir: str, table_path: str,
                 checkpoint: str,
                 max_files_per_trigger: int | None = None) -> StreamingQuery:
    """Tail → parse → enrich → typed table, exactly-once per micro-batch.

    The query runs with the ``availableNow`` trigger: it drains every
    file that is in ``log_dir`` when it starts, then stops, so each
    call is one bounded catch-up (the caller awaits its termination).
    foreachBatch writes each epoch through plans/storage.py (sorted,
    day-partitioned) — the K1 sink with batching the reference lacks.
    ``max_files_per_trigger`` bounds each epoch's admission (the rsyslog
    action-queue analog — see stream_access_log); the whole backlog
    still drains, just in bounded slices.

    Exactly-once, not just at-least-once: foreachBatch alone re-runs an
    epoch whose write finished but whose checkpoint commit didn't (crash
    in between), duplicating rows in a plain-parquet table. The sink is
    a full idempotent writer: stage the epoch with overwrite (a replay
    of a half-written epoch starts clean), publish files under
    DETERMINISTIC epoch-derived names via atomic rename (a replay of a
    half-published epoch overwrites the same targets, never adds), then
    drop a marker that short-circuits fully-committed epochs. On object
    stores swap the rename for a Delta/Iceberg transactional commit —
    same contract, provided by the table format.
    """
    return (stream_access_log(spark, log_dir,
                              max_files_per_trigger=max_files_per_trigger)
            .writeStream
            .foreachBatch(idempotent_epoch_writer(table_path))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def streaming_timeseries(typed_stream: DataFrame, time_col: str = "logdatetime",
                         window: str = "1 hour",
                         watermark: str = "2 hours",
                         group_cols: tuple[str, ...] = ()) -> DataFrame:
    """Watermarked tumbling-window counts — streaming Q1-Q4.

    Late rows beyond ``watermark`` are dropped deterministically; state
    size stays bounded (windows finalize and evict), which is what makes
    this runnable forever on the 100 TB/day firehose.
    """
    return (typed_stream
            .withWatermark(time_col, watermark)
            .groupBy(F.window(time_col, window).alias("w"), *group_cols)
            .agg(F.count("*").alias("cnt"))
            .select(F.col("w.start").alias("t"), *group_cols, "cnt"))


def stream_access_log_socket(spark: SparkSession, host: str,
                             port: int) -> DataFrame:
    """LIVE line-tail source (S1's true semantics): rsyslog forwards
    each line over TCP (omfwd) and the socket source emits it into the
    same parse chain as the file path. The file source ingests whole
    closed files (rotation-granular); this is the bridge for sub-file
    latency. In production the socket is replaced by Kafka with
    identical downstream code (stream_access_log_kafka).
    """
    raw = (spark.readStream.format("socket")
           .option("host", host).option("port", port).load())
    return to_typed_table(parse_lines(raw))


def kafka_records_to_lines(records: DataFrame) -> DataFrame:
    """Kafka record batch → the (value: string) shape the parse chain
    consumes. Factored out so the transform is testable without a
    broker: any DataFrame with Kafka's wire schema (binary ``value``
    plus topic/partition/offset metadata) goes through the SAME code
    the live stream uses.
    """
    return records.select(F.col("value").cast("string").alias("value"))


def stream_access_log_kafka(spark: SparkSession, bootstrap: str,
                            topic: str,
                            starting_offsets: str = "latest") -> DataFrame:
    """Production front for S1: rsyslog → omkafka → this source — the
    scale-out replacement for the socket/file tails, with identical
    downstream code (one parse chain for all three sources).

    Exactly-once composition: Kafka offsets live in the streaming
    checkpoint, and the idempotent epoch sink dedupes replayed epochs —
    so end-to-end exactly-once holds across driver restarts without
    broker transactions.

    Requires the ``spark-sql-kafka-0-10`` connector package on the
    classpath (``spark.jars.packages``); absent (as in this sandbox),
    Spark raises DATA_SOURCE_NOT_FOUND at ``load()`` — re-raised here
    with the dependency spelled out. The record→line transform is
    covered by tests via ``kafka_records_to_lines``.
    """
    reader = (spark.readStream.format("kafka")
              .option("kafka.bootstrap.servers", bootstrap)
              .option("subscribe", topic)
              .option("startingOffsets", starting_offsets)
              # bound per-micro-batch work so one huge backlog replay
              # doesn't build a monster batch (latency + OOM control)
              .option("maxOffsetsPerTrigger", "5000000"))
    try:
        raw = reader.load()
    except Exception as e:  # pragma: no cover - depends on classpath
        # ONLY the missing-data-source error is rewritten — a config
        # error from an installed connector also mentions "kafka" and
        # must surface as itself, not as a bogus dependency hint
        if ("DATA_SOURCE_NOT_FOUND" in str(e)
                or "Failed to find data source: kafka" in str(e)):
            raise RuntimeError(
                "Kafka source needs the spark-sql-kafka-0-10 connector: "
                "add org.apache.spark:spark-sql-kafka-0-10_2.13:<spark "
                "version> to spark.jars.packages") from e
        raise
    return to_typed_table(parse_lines(kafka_records_to_lines(raw)))
