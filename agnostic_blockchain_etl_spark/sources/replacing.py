"""ReplacingMergeTree-semantics sink reads.

Reference: sinks are ``ReplacingMergeTree`` tables — replayed inserts
create physical duplicates that collapse to the latest row per ORDER-BY
key at merge/read time (examples/ethereum_blocks/create_table.sql:30-32;
SURVEY.md §2.8 'exactly-once-ish delivery').

The Spark analog: append-only parquet writes (replay-safe by idempotent
range semantics) + ``read_replacing`` — latest-row-per-key on read, the
same contract ClickHouse gives before ``OPTIMIZE FINAL``. A periodic
compaction job can materialize the deduped state with the identical plan.

Scale: the dedup is one window (or groupBy-max-struct) keyed on the ORDER
BY key — at 100 TB run it per partition (the key always embeds the
partition column, as the reference's ORDER BY keys embed the cursor), so
the shuffle is partition-local, and a replayed range only ever collides
within its own partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def read_replacing(df: DataFrame, keys: list[str],
                   version_col: str | None = None) -> DataFrame:
    """Latest row per ``keys`` (by ``version_col`` desc, else arbitrary-but-
    deterministic via all-column max) — the ReplacingMergeTree read path."""
    if version_col is None:
        # one row per key even when two differ (a block ingested again
        # after a reorg): the greatest of the non-key columns as a struct
        others = [c for c in df.columns if c not in keys]
        if not others:
            return df.distinct()
        top = (df.groupBy(*keys)
               .agg(F.max(F.struct(*others)).alias("__row")))
        return top.select(*(F.col(c) if c in keys
                            else F.col("__row").getField(c).alias(c)
                            for c in df.columns))
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn"))


def write_daily_partitioned(df: DataFrame, target: str, ts_col: str,
                            mode: str = "overwrite") -> None:
    """Hive-partitioned daily parquet write (the table_to_daily_parquet
    sink, examples/table_to_daily_parquet_file/transform.sql:1-12):
    ``…/date=YYYY-MM-DD/part-*.parquet``. With dynamic partition overwrite
    a replayed day replaces exactly its own partition."""
    (df.withColumn("date", F.to_date(F.col(ts_col)))
       .write.mode(mode).partitionBy("date").parquet(target))


def compact_replacing(spark, path: str, keys: list[str],
                      version_col: str | None = None,
                      partition_cols: list[str] | None = None) -> int:
    """Materialize the Replacing dedup physically — the ``OPTIMIZE TABLE
    ... FINAL`` analog (ClickHouse merges collapse duplicate ORDER-BY
    keys in storage; examples/ethereum_blocks/create_table.sql:30-32).

    Reads the parquet table at ``path``, applies :func:`read_replacing`,
    and rewrites — after which plain reads need no dedup until the next
    replay. Returns the number of rows in the compacted table.

    The rewrite stages into a sibling directory and swaps via two
    Hadoop-FileSystem renames — NOT driver-local ``os.rename``, which
    only works for POSIX-local paths (review finding: an s3a:///hdfs://
    table raised FileNotFoundError after paying the full staged write).
    A crash between the renames leaves the table at ``.compact_old``;
    the next call HEALS first (old present + main missing → rename
    back; old present + main present → drop the stale old), so the
    window is self-recovering rather than hand-fixed. On object stores
    a rename is a copy (not atomic) — readers racing the swap should
    read through a catalog/manifest at 100 TB; per-partition compaction
    on a schedule keeps the copy bounded. With ``partition_cols`` the
    output keeps the hive layout, so partition pruning survives
    compaction."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()

    def hpath(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    main, staged, old = (hpath(path.rstrip("/")),
                         hpath(path.rstrip("/") + ".compact_tmp"),
                         hpath(path.rstrip("/") + ".compact_old"))
    fs = main.getFileSystem(conf)
    # heal a previous crash between the two renames
    if fs.exists(old):
        if not fs.exists(main):
            if not fs.rename(old, main):
                raise IOError(f"compact recovery rename failed: {old}")
        else:
            fs.delete(old, True)
    fs.delete(staged, True)

    df = read_replacing(spark.read.parquet(path), keys, version_col)
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path.rstrip("/") + ".compact_tmp")
    n = spark.read.parquet(path.rstrip("/") + ".compact_tmp").count()
    if not fs.rename(main, old):
        raise IOError(f"compact swap rename failed: {main} -> {old}")
    if not fs.rename(staged, main):
        # restore the original before surfacing the error
        fs.rename(old, main)
        raise IOError(f"compact swap rename failed: {staged} -> {main}")
    fs.delete(old, True)
    return n
