"""Columnar sinks (SURVEY.md §2.1 S4/S5) — layout choices that decide scan
cost at 100 TB.

The reference delegates layout to MergeTree ``ORDER BY (item_name,
ingestion_ts)`` (`dagster_project/pipeline.py:105-107`); the Spark analog is
explicit: directory partitioning on the coarse pruning key + in-file
clustering on the lookup key. Partition pruning then removes whole
directories at plan time (PartitionFilters) and row-group min/max stats
prune within files — the two levers that turn a 100 TB scan into a GB read.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    cluster_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet with optional in-file clustering.

    ``partition_cols`` should be low-cardinality pruning keys (date buckets,
    tenant); ``cluster_cols`` the in-partition lookup order. Rows are
    repartitioned on the partition key first so each task writes few files
    (avoids the small-files explosion that kills object-store listings).
    """
    out = df.repartition(*[df[c] for c in partition_cols])
    if cluster_cols:
        out = out.sortWithinPartitions(*(partition_cols + cluster_cols))
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffled layout so future equi-joins and
    aggregations on ``bucket_col`` skip their shuffle entirely — the
    co-located-join strategy for fact-fact joins repeated across jobs."""
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


#: Bits per dimension in the Z-value. 8 bits = 256 quantile buckets per
#: column — a 256×256 grid for two dims, far finer than any realistic
#: file/row-group count, so quantization never limits skipping resolution.
_Z_BITS = 8


def _bucketize(c: Column, boundaries: list[float]) -> Column:
    """Quantile-bucket index of ``c``: count of boundaries ≤ value — a
    JVM-side fold over the (bounded, broadcast-literal) boundary array."""
    bounds = F.array(*[F.lit(float(b)) for b in boundaries])
    return F.aggregate(
        bounds,
        F.lit(0).cast("long"),
        lambda acc, b: acc
        + F.when(c.cast("double") >= b, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )


def zorder_value(df: DataFrame, cols: list[str]) -> Column:
    """Interleaved-bit Z-value over quantile-bucketed columns.

    Each column is mapped to its 8-bit approx-quantile bucket (quantile, not
    raw value — Z-ordering on skewed raw domains wastes most of the curve on
    empty space), then the buckets' bits are interleaved LSB-first into one
    long. Sorting by this value gives every interleaved column locality in
    the SAME file order, so min/max row-group stats prune scans filtered on
    ANY of them — the multi-column generalization of single-key clustering
    (Delta/Iceberg ``OPTIMIZE ZORDER BY``). Boundaries come from the
    Greenwald-Khanna sketch (``approxQuantile`` — mergeable, one pass, a
    few-hundred-value list to the driver regardless of table size); bucket
    assignment is a codegen'd fold over the broadcast boundary literal. No
    global sort, no UDF, no per-row Python.
    """
    n_buckets = 1 << _Z_BITS
    probs = [i / n_buckets for i in range(1, n_buckets)]
    n = len(cols)
    planes = []
    for i, name in enumerate(cols):
        bounds = df.stat.approxQuantile(name, probs, 0.001)
        q = _bucketize(df[name], bounds)
        planes.extend(
            F.shiftleft(F.shiftright(q, bit).bitwiseAND(F.lit(1)), bit * n + i)
            for bit in range(_Z_BITS)
        )
    return reduce(lambda a, b: a.bitwiseOR(b), planes)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Parquet clustered on a Z-order curve over ``zorder_cols`` (numeric).

    ``repartitionByRange`` on the Z-value carves the curve into contiguous
    per-file segments (each file owns a compact hyper-rectangle of the key
    space); the within-file sort tightens per-row-group min/max stats, so
    selective scans on any Z-ordered column skip most files — where a
    single-key sort only ever helps its leading column.
    """
    z = zorder_value(df, zorder_cols).alias("__z")
    out = (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    out.write.mode(mode).parquet(path)


def read_pruned(spark: SparkSession, path: str, predicate: Column) -> DataFrame:
    """Scan a partitioned dataset with a pruning predicate; Catalyst turns
    predicates on partition columns into PartitionFilters (no I/O for
    excluded directories)."""
    return spark.read.parquet(path).where(predicate)


# ---------------------------------------------------------------------------
# Small-file compaction
# ---------------------------------------------------------------------------

#: Target bytes per output file. 128 MB is the standard object-store sweet
#: spot (one HDFS block / one row-group-aligned S3 GET per task).
COMPACT_TARGET_BYTES = 128 * 1024 * 1024


def compact_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = COMPACT_TARGET_BYTES,
) -> tuple[int, int]:
    """Rewrite a parquet directory into ~target-size files (OPTIMIZE /
    bin-packing compaction). Streaming sinks and incremental batch appends
    leave thousands of KB-sized files per partition; at 100 TB the listing
    and footer-read overhead alone dominates scans (every file is an object
    GET + footer parse). Compaction is the standing maintenance job every
    lakehouse runs (Delta OPTIMIZE, Iceberg rewrite_data_files).

    Output file count = ceil(input_bytes / target_bytes), derived from the
    actual on-disk size (driver-side listing via Hadoop FS — metadata only,
    no data read). The rewrite is one narrow job: read → coalesce(n) →
    write to a temp dir, then an atomic directory swap. ``coalesce`` (not
    ``repartition``) avoids a shuffle — compaction only needs fewer, bigger
    files, not a new distribution. Returns (files_before, files_after).

    Reference parity: the reference's store compacts implicitly (ClickHouse
    MergeTree background merges, `docker-compose.yml` clickhouse service);
    this is the explicit Spark-side equivalent.
    """
    import math
    import os
    import shutil

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hconf = jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(hconf)
    statuses = fs.listStatus(hpath)
    part_files = [
        s
        for s in statuses
        if s.isFile() and s.getPath().getName().startswith("part-")
    ]
    files_before = len(part_files)
    if files_before == 0:
        # A hive-partitioned dir has no top-level part files; rewriting it
        # here would FLATTEN the partitioning. Compact each leaf instead.
        subdirs = [s.getPath().getName() for s in statuses if s.isDirectory()]
        raise ValueError(
            f"{path} has no top-level part files"
            + (
                f" (partition dirs: {subdirs[:3]}…) — run compact_files on "
                "each leaf partition directory"
                if subdirs
                else ""
            )
        )
    total_bytes = sum(s.getLen() for s in part_files)
    n_out = max(1, math.ceil(total_bytes / target_bytes))
    if n_out >= files_before:
        return files_before, files_before  # already compact — no rewrite

    tmp = path.rstrip("/") + ".compact-tmp"
    # coalesce only merges partitions, so the read must yield >= n_out; by
    # default small files pack per core, fewer than n_out on small hosts.
    key = "spark.sql.files.minPartitionNum"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(n_out))
    try:
        spark.read.parquet(path).coalesce(n_out).write.mode("overwrite").parquet(tmp)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    # atomic-ish swap: the rewrite lands fully before the old dir is replaced
    old = path.rstrip("/") + ".compact-old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    files_after = len(
        [f for f in os.listdir(path) if f.startswith("part-")]
    )
    return files_before, files_after


def backfill_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Idempotent backfill: rewrite ONLY the partitions present in ``df``,
    leaving every other partition's files untouched (dynamic partition
    overwrite — ``INSERT OVERWRITE`` semantics scoped to the incoming
    keys). This is the day-N reprocessing primitive of a scheduled
    pipeline: re-running a day replaces exactly that day's directory, so
    retries and late corrections are safe without rewriting the table.

    Contrast with mode="overwrite" under the default STATIC mode, which
    would truncate the whole table first — the classic
    lost-everything-but-today backfill accident. The dynamic mode is this
    write's own option, not a session conf, so the session's setting is
    never touched and a concurrent query on it never sees the change.
    """
    (
        df.repartition(*[df[c] for c in partition_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
