"""Partition compaction — the OPTIMIZE-style maintenance companion to sync.

Incremental syncs and streaming appends accumulate small files per
partition (each append = ≥1 file); small files destroy scan throughput at
scale (footer overhead, scheduler pressure, poor column-chunk locality).
ClickHouse's MergeTree merges parts in the background; on parquet the
engine provides the explicit equivalent: rewrite each oversized-file-count
partition into ``target_files`` files via dynamic partition overwrite —
atomic per partition, untouched partitions never rewritten.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.operators.sync import key_filter


@dataclass
class CompactionResult:
    report: list  # collected rows: partition…, n_files, n_rows, action
    compacted_partitions: int


def file_counts_per_partition(spark: SparkSession, path: str, part_names: list[str]) -> DataFrame:
    """(partition…, n_files, n_rows) from the _metadata pseudo-column —
    one metadata-cheap scan, no driver directory walking."""
    df = spark.read.parquet(path)
    return (
        df.select(*part_names, F.col("_metadata.file_path").alias("__f"))
        .groupBy(*part_names)
        .agg(
            F.countDistinct("__f").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def compact(
    spark: SparkSession,
    path: str,
    part_names: list[str],
    max_files: int = 4,
    target_files: int = 1,
    cluster_by: list[str] | None = None,
    z_order_by: tuple[str, str] | None = None,
) -> CompactionResult:
    """Rewrite partitions having more than ``max_files`` files.

    One dynamic-partition-overwrite write covers every partition needing
    compaction; ``repartition(target_files, partition_cols)`` sizes the
    output files. Partitions within budget are not rewritten at all.

    ``cluster_by``: sort rows within each output file by these columns —
    parquet row-group min/max statistics then become selective, so later
    scans with predicates on the clustered columns skip whole row groups
    (exact for single-column clustering).
    ``z_order_by``: two-column Z-order clustering instead — min/max stats
    become selective for BOTH columns (operators.zonemap).
    """
    counts = file_counts_per_partition(spark, path, part_names)
    report = counts.withColumn(
        "action",
        F.when(F.col("n_files") > max_files, F.lit("compacted")).otherwise(
            F.lit("none")
        ),
    )
    rows = report.collect()  # metadata-sized; materialized before rewrite
    todo = [tuple(r[n] for n in part_names) for r in rows if r["action"] == "compacted"]
    if todo:
        df = spark.read.parquet(path)
        out = df.where(key_filter(df, part_names, todo))
        sort_cols = list(cluster_by or [])
        if z_order_by is not None:
            from clickhouse_table_copier_spark.operators.zonemap import with_z_order

            out = with_z_order(out, z_order_by[0], z_order_by[1])
            sort_cols = ["__z"]
        out = out.repartition(target_files * max(1, len(todo)), *part_names)
        if sort_cols:
            # partition cols lead the sort: the partitioned-file writer
            # requires rows ordered by partition columns and would insert
            # its own (non-stable) sort otherwise, destroying clustering
            out = out.sortWithinPartitions(*part_names, *sort_cols)
        if z_order_by is not None:
            out = out.drop("__z")
        # Dynamic overwrite forced per-write: static mode would wipe every
        # partition not being compacted (and this write reads the same
        # path it overwrites — only sane per-partition).
        (
            out.write.partitionBy(*part_names)
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(path)
        )
    return CompactionResult(report=rows, compacted_partitions=len(todo))
