"""Partitioned, sort-keyed columnar storage ↔ ClickHouse MergeTree.

Reference DDL (/root/reference/nginx.click:1):
``ENGINE=MergeTree PARTITION BY toYYYYMMDD(logdate)
ORDER BY (logdate, logdatetime) SETTINGS index_granularity=8192``.
``PARTITION_COL`` and ``SORT_COLS`` below state that layout once; every
write, compaction and the engine's pruning declaration read them.

Spark mapping (SURVEY §1.3):

- ``partitionBy(PARTITION_COL)``      ↔ daily partitions. Catalyst prunes
  directories before the scan on ``logdate`` predicates, and a Grafana
  ``$timeFilter`` over the engine's table derives one (see
  ``functions.macros.declare_partition_by``): ``logdate`` between the
  range's dates widened by one day on each side. The widening makes
  the derived bound implied by the ``logdatetime`` bound for every
  row: ``logdate`` is the log line's local date, which equals the UTC
  date of ``logdatetime`` under ``keep_tz=False`` and is within one
  day of it under ``keep_tz=True`` (nginx offsets are within ±14 h),
  so the pruning never changes a result.
- ``sortWithinPartitions(*SORT_COLS)`` ↔ MergeTree ORDER BY → Parquet
  row-group min/max stats become selective, so time-range predicates
  skip row groups exactly like the sparse primary index skips marks.
- index_granularity                   ↔ the row-group size, parquet's
  default of 128 MiB: the skip grain at parquet's granularity.
- ``compression=zstd``                ↔ ClickHouse's column compression
  (``ZSTD`` is one of its ``CODEC``s; the server default is LZ4). Every
  part is zstd parquet, about two thirds of the bytes snappy takes for
  the same rows; parts written as snappy by older versions stay
  readable, and the next ``compact()`` rewrites them as zstd.
- ``compact()``                       ↔ background merges: micro-batch
  appends create small sorted parts; periodic compaction rewrites each
  partition that holds more than one part or a part that is not zstd
  into one sorted file, and hard-links every other partition's one part
  into the new version under a fresh name, as a MergeTree merge leaves
  a partition of one part alone. The previous version then costs only
  the rewritten partitions, once disk is counted per inode.
- ``read_table(schema=...)``          ↔ the DDL's column list: the table
  is read with its declared schema (``NGINX_TABLE_SCHEMA`` by default),
  so opening it lists the files but runs no schema-inference job.

At 100 TB: partition count = days (bounded), file size controlled by
``repartition(n, PARTITION_COL)`` per partition before the sorted write,
so no small-file explosion and no global shuffle (repartition hashes on
the partition key only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rsyslog_nginx_clickhouse_spark.sources.nginx_log import (
    NGINX_TABLE_SCHEMA,
)

#: ↔ PARTITION BY toYYYYMMDD(logdate): one directory per day.
PARTITION_COL = "logdate"

#: ↔ ORDER BY (logdate, logdatetime): the row order inside every part.
SORT_COLS = ("logdate", "logdatetime")

#: ↔ CODEC(ZSTD): the parquet codec of every part the table gets.
COMPRESSION = "zstd"


def _salted_repartition(df: DataFrame,
                        files_per_partition: int) -> DataFrame:
    """Spread a partitioned write across the cluster without a
    small-file explosion: salt WITHIN the partition key (hashing on the
    key alone sends each day to ONE task — a hot day would serialize
    through a single writer), with an explicit partition count (AQE
    would coalesce an expression-only repartition) scaled by session
    parallelism so a multi-day backfill isn't capped at
    files_per_partition writers TOTAL. Per-day FILE count stays bounded
    by the salt domain. ``compact()`` writes one part per partition and
    repartitions on ``PARTITION_COL`` alone instead: its salt would be
    the constant 0.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in SORT_COLS]),
                  F.lit(files_per_partition))
    n = files_per_partition * max(
        1, df.sparkSession.sparkContext.defaultParallelism)
    return df.repartition(n, F.col(PARTITION_COL), salt)


def write_mergetree_like(df: DataFrame, path: str, mode: str = "append",
                         files_per_partition: int | None = None) -> None:
    """Write ``df`` as a day-partitioned, time-sorted, zstd parquet
    table. The one place the table's file format is decided: ingest,
    the streaming epoch sink and ``compact()`` all write through it."""
    if files_per_partition:
        df = _salted_repartition(df, files_per_partition)
    (df.sortWithinPartitions(*SORT_COLS)
       .write.mode(mode)
       .option("compression", COMPRESSION)
       .partitionBy(PARTITION_COL)
       .parquet(path))


def read_table(spark: SparkSession, path: str,
               schema: StructType | None = NGINX_TABLE_SCHEMA) -> DataFrame:
    """Read the CURRENT version of a table as a stable snapshot.

    ``schema`` is the table's declared schema; Spark then only lists
    the files. The columns come out in the order inference gives (data
    columns, then the partition column), all nullable, and an empty
    table directory reads as an empty frame. ``None`` infers the
    schema from a file footer, for tables of another shape.

    Resolving the compaction symlink at open pins this reader to one
    version directory; a concurrent ``compact()`` retains that version
    (``keep_old=True``) so in-flight readers finish consistently —
    local-FS snapshot isolation. A reader over the raw ``path`` instead
    follows the symlink per-file and FAILS CLEANLY (FILE_NOT_EXIST)
    if a flip lands mid-scan; it can never silently mix versions,
    because file names are unique per version. The one exception to
    the snapshot: on a table that was never compacted there is no
    symlink yet, so this reader pins the plain ``path`` itself, and
    the first ``compact()`` moves that directory to ``.compact-v0``
    and points ``path`` at the new version. The reader then fails
    cleanly (``FileNotFoundException``) the same way, never mixing
    versions.
    """
    import os

    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(os.path.realpath(path))


#: Hive's directory value for a null partition value
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _is_zstd(part: str) -> bool:
    """Whether every column chunk of the parquet file ``part`` is zstd,
    read from its footer (an epoch part's name carries no codec)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(part)
    return md.num_row_groups > 0 and all(
        md.row_group(rg).column(c).compression == COMPRESSION.upper()
        for rg in range(md.num_row_groups)
        for c in range(md.num_columns))


def _merge_plan(real: str) -> tuple[list[tuple[str, str]], list[str]]:
    """List the partitions of the table version ``real``: the clean
    ones as ``(directory, part)`` and the dirty ones' directory values.

    A partition is clean when it holds exactly one part and that part
    is zstd; every other partition is dirty. Parts are the files a
    parquet reader reads: those not named ``.*`` or ``_*``."""
    import os

    clean, dirty = [], []
    for d in sorted(os.listdir(real)):
        if not d.startswith(PARTITION_COL + "="):
            continue
        parts = [f for f in os.listdir(os.path.join(real, d))
                 if not f.startswith((".", "_"))]
        if len(parts) == 1 and _is_zstd(os.path.join(real, d, parts[0])):
            clean.append((d, parts[0]))
        else:
            dirty.append(d.split("=", 1)[1])
    return clean, dirty


def _dirty_rows(spark: SparkSession, real: str, dirty: list[str],
                schema: StructType | None) -> DataFrame:
    """The rows of the ``dirty`` partitions of ``real``, read through
    the whole table and filtered on the partition values, so Catalyst
    prunes the scan to their directories. Reading the directories by
    themselves would infer the partition column from them alone: a
    null partition alone infers as VOID, which no write accepts."""
    from urllib.parse import unquote

    values = [unquote(v) for v in dirty if v != _NULL_PARTITION]
    keep = F.col(PARTITION_COL).cast("string").isin(values)
    if len(values) < len(dirty):
        keep = keep | F.col(PARTITION_COL).isNull()
    return read_table(spark, real, schema).where(keep)


def compact(spark: SparkSession, path: str, keep_old: bool = True,
            schema: StructType | None = None) -> None:
    """↔ MergeTree background merge: merge the parts of each partition
    that needs it into one sorted part, and leave the rest alone.

    A partition needs a merge (is *dirty*) unless it holds exactly one
    part and that part is zstd (the codec is read from the footer).
    One part is already sorted by ``SORT_COLS``: ``write_mergetree_like``
    is the table's only writer and sorts every part it writes. Only the
    dirty partitions are read and rewritten, one part each; every clean
    partition is carried into the new version by hard link (same inode,
    no bytes copied) under a fresh name, ``part-v<N>-<k>.zstd.parquet``
    with its ``.crc`` sidecar, so file names stay unique per version
    (see ``read_table``). With nothing dirty no Spark job runs. Since a
    carried part shares its inode with the previous version, that
    version costs only the rewritten partitions once disk is counted
    per inode.

    ``schema`` is the table's declared schema; ``None`` infers it from
    the current version, so a table of any shape keeps every column it
    has.

    Publication is a VERSIONED-DIRECTORY + symlink flip (the local-FS
    analog of a table-format manifest commit):

    - the compacted table is written to ``<path>.compact-v<N>``;
    - ``<path>`` becomes a symlink atomically re-pointed at the new
      version (``os.replace`` of a sibling symlink — one rename);
    - the PREVIOUS version directory is retained (``keep_old=True``,
      the default) so a reader that resolved the old version mid-scan
      finishes correctly — delete it out-of-band once readers drain,
      or pass ``keep_old=False`` when the caller owns all readers.
      Except at the first compaction of a plain directory: a reader
      opened on it before the migration below resolved the plain
      path, which then names the new version, so that reader fails
      cleanly (``FileNotFoundException``) instead of finishing.

    The only non-atomic moment is the one-time MIGRATION of a plain
    directory into the versioned layout (dir-rename + symlink create,
    done BEFORE the expensive write, with identical content on both
    sides of the window); a crash between the two leaves the data
    intact under ``.compact-v<N>`` for manual relink. Every data
    cutover is a single atomic rename.

    SINGLE-WRITER CONTRACT (loud, on purpose): compact() must not run
    concurrently with an INGEST into the same table — this is the same
    contract the reference's out-of-band MergeTree merges have, and it
    is exactly what a transactional table format (Delta/Iceberg
    ``OPTIMIZE``) buys you at 100 TB. Streaming exactly-once markers
    (``_epoch_*_SUCCESS``) are carried into the new version — dropping
    them would let a checkpoint replay re-ingest an epoch the
    compaction already folded in. The marker set is snapshotted BEFORE
    the data listing, so no carried marker claims data the compacted
    files lack. Nothing ENFORCES the contract yet, and breaking it can
    lose rows silently: an epoch or an ``Engine.ingest`` published
    after the listing (``_merge_plan``'s listing of the partitions,
    and the read of the dirty ones after it) and before the cutover
    lands only in the previous version. Once that epoch's checkpoint
    commit is written nothing replays it (an ingest has no replay at
    all), and the next compact() prunes that version with the rows in
    it. An epoch landing between the marker snapshot and the listing
    is duplicated instead if its commit is lost. A lock on the table
    root, taken by ingest, the epoch sink and compact(), is what will
    rule both out (ROADMAP item 4).

    Version retention: the current and the immediately-previous
    version are kept (in-flight ``read_table`` snapshot readers finish
    against the previous one); older versions are pruned here, so disk
    holds at most two copies of the rewritten partitions and one of the
    carried ones. ``keep_old=False`` prunes the previous version too
    (single-reader / caller-owns-readers mode).
    """
    import glob
    import os
    import shutil
    import stat

    def mkdir_like(src: str, dst: str) -> None:
        os.mkdir(dst)
        os.chmod(dst, stat.S_IMODE(os.stat(src).st_mode))

    base = path.rstrip("/")
    n = 1 + max((int(p.rsplit("-v", 1)[1])
                 for p in glob.glob(base + ".compact-v*")
                 if p.rsplit("-v", 1)[1].isdigit()), default=-1)
    if not os.path.islink(base):
        # one-time migration to the versioned layout, content unchanged
        cur = f"{base}.compact-v{n}"
        shutil.move(base, cur)
        os.symlink(os.path.abspath(cur), base)
        n += 1
    # resolve the CURRENT version and read from it directly: the write
    # below must never overwrite files its own lineage lazily reads
    real = os.path.realpath(base)
    # snapshot markers BEFORE listing data files — see docstring
    markers = glob.glob(os.path.join(real, "_epoch_*_SUCCESS"))
    clean, dirty = _merge_plan(real)
    new = f"{base}.compact-v{n}"
    if dirty:
        # one task per partition, so one part each
        write_mergetree_like(
            _dirty_rows(spark, real, dirty, schema).repartition(
                PARTITION_COL), new, "overwrite")
    else:
        mkdir_like(real, new)
    for k, (d, part) in enumerate(clean):
        src, dst = os.path.join(real, d), os.path.join(new, d)
        mkdir_like(src, dst)
        name = f"part-v{n}-{k}.{COMPRESSION}.parquet"
        os.link(os.path.join(src, part), os.path.join(dst, name))
        crc = os.path.join(src, f".{part}.crc")
        if os.path.exists(crc):
            os.link(crc, os.path.join(dst, f".{name}.crc"))
    for marker in markers:
        shutil.copy2(marker, new)
    tmplink = base + ".swap"
    if os.path.lexists(tmplink):
        os.remove(tmplink)
    os.symlink(os.path.abspath(new), tmplink)
    os.replace(tmplink, base)  # atomic cutover
    # retention: keep {new, previous}; prune older versions so repeated
    # compaction doesn't accumulate a table copy per run. Compare
    # REALPATHS on both sides: `real` is already resolved, and an
    # ancestor symlink in the table path (e.g. /tmp → /private/tmp)
    # would otherwise make abspath(glob result) never match it — the
    # retained version would be pruned despite keep_old=True
    keep = {os.path.realpath(new)} | (
        {os.path.realpath(real)} if keep_old else set())
    for vdir in glob.glob(base + ".compact-v*"):
        if os.path.realpath(vdir) not in keep:
            shutil.rmtree(vdir, ignore_errors=True)
