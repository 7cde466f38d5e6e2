"""Table maintenance — the small-files problem.

Incremental loads (streaming micro-batches, per-day partition appends, the
availableNow pattern in streaming/incremental.py) accrete many small files;
at scale that murders scan throughput (one task + one footer-read per tiny
file) long before capacity is an issue. ``compact`` rewrites a Parquet
directory into ~target-sized files — the maintenance job every accreting
table needs on a schedule.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F
from .util import hive_partition_dirname, materialize


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes of the ``.parquet`` files directly under ``path``, via
    the Hadoop FileSystem API (works for any scheme — local, HDFS, s3a)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return sum(
        f.getLen()
        for f in fs.listStatus(jpath)
        if f.isFile() and f.getPath().getName().endswith(".parquet")
    )


def compact(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_mb: int = 128,
) -> int:
    """Rewrite ``src_dir``'s Parquet files into ``dst_dir`` at
    ~``target_file_mb`` per file; returns the file count written.

    Writes to a NEW directory (atomic swap is the caller's move/rename) —
    compacting in place while reading the same files is a data-loss
    footgun. Round-robin repartition: compaction must balance file sizes,
    not preserve any keying (a keyed layout belongs to the bucketed-table
    path instead).
    """
    total = dir_bytes(spark, src_dir)
    n = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    spark.read.parquet(src_dir).repartition(n).write.mode("overwrite").parquet(dst_dir)
    return n


def purge_keys(
    spark: SparkSession,
    path: str,
    keys,
    key_col: str,
    partition_col: str,
) -> list:
    """Targeted row deletion (the GDPR / right-to-be-forgotten job) from a
    Hive-partitioned Parquet table, rewriting ONLY the partitions that
    contain matching rows.

    ``keys`` is either a small Python list (broadcast ``isin``) or a
    DataFrame of keys (anti-join — the scale path when the deletion set is
    itself large). The affected-partition list is discovered first (a
    partition-pruned probe; at most one value per partition is collected),
    then each affected partition's survivors are rewritten under dynamic
    partition overwrite — untouched partitions' files are never read or
    rewritten, so the job's cost is bounded by the purge's blast radius,
    not the table size.

    The survivors are ``localCheckpoint``-materialized before the write:
    Spark (correctly) refuses to overwrite a path its plan is still
    reading, and the checkpoint both severs that lineage and bounds the
    re-read to the affected partitions only. Returns the affected
    partition values (empty = nothing to do).
    """
    from pyspark.sql import DataFrame as _DF

    df = spark.read.parquet(path)
    if isinstance(keys, _DF):
        key_df = F.broadcast(keys.select(F.col(keys.columns[0]).alias(key_col)).distinct())
        hit = df.join(key_df, key_col, "left_semi")
    else:
        hit = df.filter(F.col(key_col).isin(list(keys)))  # py4j-audited: documented contract — the list path is for small purge sets; large sets take the DataFrame anti-join path
    affected = [r[0] for r in hit.select(partition_col).distinct().collect()]
    if not affected:
        return affected

    # partition-pruned scope — with an explicit isNull arm: purge targets
    # living in a NULL partition (__HIVE_DEFAULT_PARTITION__) would
    # otherwise be missed by isin() and silently NOT deleted — the worst
    # failure mode a right-to-be-forgotten job can have (round-7 audit,
    # same isin-over-nullable class as the upsert sink).
    non_null_parts = [v for v in affected if v is not None]
    pcond = (
        F.col(partition_col).isin(non_null_parts) if non_null_parts else F.lit(False)  # py4j-audited: blast-radius partition values; the literal IN statically prunes the rewrite scan
    )
    if any(v is None for v in affected):
        pcond = pcond | F.col(partition_col).isNull()
    scoped = df.filter(pcond)
    if isinstance(keys, _DF):
        survivors = scoped.join(key_df, key_col, "left_anti")
    else:
        # NULL-key rows SURVIVE: a bare ~isin() is NULL on NULL keys and
        # would silently delete the anonymous rows — diverging from the
        # anti-join path above (NULL never equals a purge key). A deletion
        # operator must not change survivors with the key-list
        # representation (round-7 audit finding).
        survivors = scoped.filter(
            F.col(key_col).isNull() | ~F.col(key_col).isin(list(keys))  # py4j-audited: same small-list contract as the probe above
        )
    survivors = survivors.transform(materialize)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            survivors.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    # dynamic overwrite only replaces partitions PRESENT in the written
    # data — a partition whose every row was purged must be dropped
    # explicitly or its old files survive.
    kept = {r[0] for r in survivors.select(partition_col).distinct().collect()}
    jvm = spark._jvm
    for part in set(affected) - kept:
        # the dir name must be built exactly the way Spark writes it:
        # NULL → __HIVE_DEFAULT_PARTITION__, and values carrying
        # Hive-escaped chars ('=', '/', ':', '%', control chars) are
        # %XX-escaped on disk — str(part) would target a nonexistent dir
        # and the stale files would silently survive (round-8 advisor)
        dirname = hive_partition_dirname(part)
        jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{partition_col}={dirname}")
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    return affected


def build_manifest(spark: SparkSession, path: str, stat_col: str):
    """File-level data-skipping manifest — the poor man's Delta/Iceberg
    stats log: per Parquet file, its row count, row-group count, and the
    min/max of ``stat_col`` folded across row-group footers.

    Footer reads are DISTRIBUTED: the file list (driver-side, analyzed
    plan only — never a data scan) fans out as a one-column DataFrame and
    each task opens only footers via pyarrow (a few KB per file, not the
    data pages). At 100 TB / millions of files this is the exact shape a
    table-format stats collection job runs; a planner (or an ad-hoc
    query) can then prune files with a manifest lookup instead of
    touching the table. Pairs with layout.zorder_write — clustered
    layouts make these min/max ranges tight.
    """
    from urllib.parse import urlparse

    import pandas as pd

    files = spark.read.parquet(path).inputFiles()
    fdf = spark.createDataFrame([(f,) for f in files], "path string").repartition(
        max(1, min(len(files), spark.sparkContext.defaultParallelism))
    )
    schema = (
        f"file string, n_row_groups int, n_rows long, "
        f"{stat_col}_min long, {stat_col}_max long"
    )

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for uri in pdf["path"]:
                local = urlparse(uri).path or uri
                md = pq.ParquetFile(local).metadata
                idx = next(
                    i for i in range(md.num_columns)
                    if md.schema.column(i).name == stat_col
                )
                stats = [
                    md.row_group(g).column(idx).statistics
                    for g in range(md.num_row_groups)
                ]
                rows.append(
                    (
                        local.rsplit("/", 1)[-1],
                        md.num_row_groups,
                        md.num_rows,
                        min(s.min for s in stats),
                        max(s.max for s in stats),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["file", "n_row_groups", "n_rows",
                         f"{stat_col}_min", f"{stat_col}_max"],
            )

    return fdf.mapInPandas(read_footers, schema)


def compaction_plan(manifest, target_rows: int):
    """Bin-packing plan for the small-files problem, built from footer
    stats only (never a data scan): files in name order are laid end to
    end and cut every ``target_rows`` — each file is assigned the output
    group where its first row lands (the same first-token rule as
    sequence packing). A group may overflow past target_rows by at most
    one file, which is what any size-based compactor accepts in exchange
    for never splitting an input file.

    The window runs over the FILE LIST (metadata cardinality — thousands
    of rows at 100 TB, not billions), so a single-partition cumsum is the
    honest driver-scale cost here, same as any table-format planner.
    """
    w = (
        Window.orderBy("file")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_rows").over(w) - F.col("n_rows")).alias("__start")
    return (
        manifest.select("file", "n_rows", start)
        .select(
            "file",
            "n_rows",
            F.expr(f"__start div {target_rows}").cast("int").alias("out_group"),
        )
    )
