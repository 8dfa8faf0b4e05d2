"""The traced op: ``operators.sync.sync`` re-composed from each layer's public
functions, one span (and Spark job group) per layer call.

Each layer's result is materialized inside its own span, so a span's time
and its job group's counters belong to that layer alone. The composition
follows ``operators/sync.py`` step for step; the fingerprints are collected
separately and classified from the collected rows, where ``sync`` plans the
three as one query.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from clickhouse_table_copier_spark.config import read_config, to_partition_spec
from clickhouse_table_copier_spark.functions.ch_dialect import register_clickhouse_functions
from clickhouse_table_copier_spark.operators.diff import Verdict, classify_fingerprints
from clickhouse_table_copier_spark.operators.fingerprint import partition_fingerprints
from clickhouse_table_copier_spark.plans.partition_spec import PartitionSpec
from clickhouse_table_copier_spark.session import get_spark
from clickhouse_table_copier_spark.sources.table import TableRef, load_table

NEEDS_DATA = (Verdict.COPY.value, Verdict.INCONSISTENT.value)


def _key(names, row) -> str:
    return ",".join(f"{n}={row[n]}" for n in names)


def traced_op(tracer, mode: str, op: str, config_path: str) -> dict:
    """Run one ``info``/``sync`` op; return its verdicts and what it wrote.

    Result keys: ``verdicts`` ({partition string: verdict}), ``written``
    (partition strings rewritten) and ``dest_files`` (files the destination
    listing found, or None when the destination was absent).
    """
    dry_run = mode == "info"
    with tracer.span("op", op):
        with tracer.span("config.read"):
            job = read_config(config_path)
            spec = to_partition_spec(job)
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name=f"ctc-spark-{mode}")
        with tracer.span("functions.register"):
            register_clickhouse_functions(spark)
        with tracer.span("sources.load_src"):
            src = load_table(spark, TableRef(location=job.source.location))
        names = spec.names
        dest_path = job.destination.location
        src_parts = spec.with_partition_columns(src)

        if not os.path.exists(dest_path):
            report = src_parts.groupBy(*names).agg(F.count(F.lit(1)).alias("src_rows"))
            if not dry_run:
                with tracer.span("sync.write"):
                    src_parts.write.partitionBy(*names).mode("overwrite").parquet(dest_path)
                with tracer.span("sync.report_count"):
                    report.count()
            with tracer.span("report.collect"):
                rows = report.orderBy(*names).collect()
            keys = [_key(names, r) for r in rows]
            return {
                "verdicts": {k: Verdict.COPY.value for k in keys},
                "written": [] if dry_run else keys,
                "dest_files": None,
            }

        with tracer.span("sources.load_dest"):
            dest = load_table(spark, TableRef(location=dest_path))
        dest_files = len(dest.inputFiles())
        src_types = dict(src_parts.dtypes)
        dest_types = dict(dest.dtypes)
        data_cols = [c for c in src.columns if c not in names]
        common = [c for c in data_cols if c in dest.columns]
        src_cmp = src_parts.select(
            *names, *[F.col(c).cast(dest_types[c]).alias(c) for c in common]
        )
        dest_norm = dest.select(
            *[F.col(n).cast(src_types[n]).alias(n) for n in names], *common
        )
        bare = PartitionSpec.bare(*names)
        with tracer.span("fingerprint.src"):
            src_fp = partition_fingerprints(src_cmp, bare, common)
            src_fp_rows = src_fp.collect()
        with tracer.span("fingerprint.dest"):
            dest_fp = partition_fingerprints(dest_norm, bare, common)
            dest_fp_rows = dest_fp.collect()
        with tracer.span("diff.classify"):
            report_rows = classify_fingerprints(
                spark.createDataFrame(src_fp_rows, src_fp.schema),
                spark.createDataFrame(dest_fp_rows, dest_fp.schema),
                names,
                job.check_hashes,
            ).collect()
        verdicts = {_key(names, r): r["verdict"] for r in report_rows}
        write_keys = [tuple(r[n] for n in names) for r in report_rows if r["verdict"] in NEEDS_DATA]
        if dry_run or not write_keys:
            return {"verdicts": verdicts, "written": [], "dest_files": dest_files}

        with tracer.span("sync.write"):
            key_col = F.struct(*[F.col(n) for n in names])
            (
                src_parts.select(*names, *[F.col(c).cast(dest_types[c]).alias(c) for c in common])
                .where(key_col.isin([F.struct(*[F.lit(v) for v in k]) for k in write_keys]))
                .write.partitionBy(*names)
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(dest_path)
            )
        written = [",".join(f"{n}={v}" for n, v in zip(names, k)) for k in write_keys]
        return {"verdicts": verdicts, "written": written, "dest_files": dest_files}
