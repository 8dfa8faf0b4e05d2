"""The sync engine (SURVEY §2.7 D1-D2, §2.9 C5-C7): make dest match source.

Reference algorithm (``/root/reference/copy/copy.go:139-271``): per source
partition — probe dest count, compare fingerprints, then delete
(``ALTER TABLE … DELETE``, database.go:463-484) and re-copy
(``INSERT … SELECT … FROM remote(…)``, database.go:486-507) according to the
``skip_delete`` / ``skip_reimport`` / ``check_hashes`` flags
(config/config.go:34-37). ``Info()`` and ``Copy()`` share one verdict state
machine and differ only in whether they act (copy/copy.go:12 vs :139).

This module is that one machine, shared by the parquet and JDBC
destinations (``sync_core``):

1. Compare frames: the destination's columns are matched to the source's by
   case-insensitive name, and ONE dest-type projection
   (``plans.casting.CastStep``) maps the source into the destination's
   types. It feeds both the compare and the write, so a repaired
   partition re-hashes identical on the next run. An absent destination is
   the same diff against an empty destination side.
2. ``diff_partitions`` → one verdict row per partition (one grouped
   aggregate; see operators.diff), collected ONCE and sorted on the
   driver, before anything mutates the destination.
3. ``plan_actions`` maps each verdict to an action — a pure function of
   the verdict and the flags; ``dry_run`` (the --info mode) plans ``none``.
4. An applier writes the planned key lists. Parquet (``sync``): ONE
   dynamic-partition-overwrite of every partition needing data (the
   reference's delete-then-reinsert fused into one atomic-per-partition
   step), one append for ``skip_delete``, and directory deletes for
   ``skip_reimport``. JDBC (``operators.sync_jdbc``): one DELETE, then one
   append. Both get the source rows of a key list from the core, which
   selects them with the one null-safe ``key_filter``.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.operators.diff import Verdict, diff_partitions
from clickhouse_table_copier_spark.plans.casting import CastStep, apply_semantic, common_columns
from clickhouse_table_copier_spark.plans.partition_spec import PartitionSpec


@dataclass(frozen=True)
class SyncOptions:
    """The reference's four behavior flags (config/config.go:34-37)."""

    check_hashes: bool = True  # C6: fingerprint vs row-count compare
    skip_delete: bool = False  # C5: don't delete inconsistent partitions
    skip_reimport: bool = False  # C5: don't re-copy after delete
    dry_run: bool = False  # C11: --info mode — report only


@dataclass
class SyncResult:
    # one dict per partition, sorted by the partition keys: keys…,
    # src_rows, src_fingerprint, dest_rows, dest_fingerprint, verdict, action
    report: list[dict]
    copied_partitions: int
    deleted_partitions: int
    diff: DataFrame  # the verdict query the report was collected from


# what an inconsistent partition gets, by (skip_delete, skip_reimport)
_ON_INCONSISTENT = {
    (False, False): "overwritten",
    (True, False): "appended",
    (False, True): "deleted",
    (True, True): "none",  # README: both set → skip the partition
}


def plan_actions(rows, options: SyncOptions) -> list[str]:
    """The action for each report row (anything with a ``verdict`` key)."""
    if options.dry_run:
        return ["none" for _ in rows]
    act = {
        Verdict.COPY.value: "copied",
        Verdict.INCONSISTENT.value: _ON_INCONSISTENT[(options.skip_delete, options.skip_reimport)],
    }
    return [act.get(r["verdict"], "none") for r in rows]


def key_filter(df: DataFrame, names: list[str], keys: list[tuple]) -> Column:
    """Null-safe ``(k…) IN (keys)`` over ``df``'s partition columns.

    The literals are cast to the key columns' types: an untyped NULL
    literal makes ``struct(k) IN (struct(NULL))`` fail analysis, while
    typed struct equality treats NULL fields as equal — a NULL partition
    key is a real partition."""
    types = {f.name: f.dataType for f in df.schema.fields}
    return F.struct(*names).isin(
        [F.struct(*[F.lit(v).cast(types[n]) for n, v in zip(names, k)]) for k in keys]
    )


def sync_core(
    src: DataFrame,
    dest: DataFrame | None,
    spec: PartitionSpec,
    options: SyncOptions,
    semantic: dict | None,
    apply,
) -> SyncResult:
    """Diff ``src`` against ``dest`` (None: absent), plan, and apply.

    ``apply(rows_of, keys)`` gets the partition keys per planned action
    and ``rows_of(keys)``, the source rows of those partitions in the
    destination's types; it returns ``(copied_partitions,
    deleted_partitions)``."""
    names = spec.names
    # canonicalize UUID/IP/JSON columns before hashing and writing —
    # cast-before-hash comparability (copy/copy.go:221)
    src_parts = spec.with_partition_columns(apply_semantic(src, semantic))
    if dest is None:
        dest = src_parts.where(F.lit(False))
    by_lower = {c.lower(): c for c in dest.columns}
    missing = [n for n in names if n.lower() not in by_lower]
    if missing:
        raise ValueError(f"dest table lacks partition columns: {missing}")
    dest = dest.select(
        *[F.col(by_lower[c.lower()]).alias(c) for c in src_parts.columns if c.lower() in by_lower]
    )
    # Hash-comparability contract (SURVEY §7.5): compare in the
    # DESTINATION's type domain, the direction the reference hashes. The
    # other direction diverges under any lossy cast: a just-repaired
    # partition would re-hash 'inconsistent' on every later run. Partition
    # columns read back from hive directory names take the source's types.
    src_types = {f.name: f.dataType for f in src_parts.schema.fields}
    dest_types = {f.name: f.dataType for f in dest.schema.fields}
    common = [c for c in common_columns(src_parts, dest) if c not in names]
    src_w = src_parts.select(
        *names, *[CastStep(c, src_types[c], dest_types[c]).expr() for c in common]
    )
    dest_cmp = dest.select(*[F.col(n).cast(src_types[n]).alias(n) for n in names], *common)
    diff = diff_partitions(
        src_w, dest_cmp, PartitionSpec.bare(*names), cols=common, check_hashes=options.check_hashes
    )
    rows = sorted(diff.collect(), key=lambda r: [(r[n] is not None, r[n]) for n in names])
    report = [dict(r.asDict(), action=a) for r, a in zip(rows, plan_actions(rows, options))]
    keys = defaultdict(list)
    for r in report:
        keys[r["action"]].append(tuple(r[n] for n in names))
    n_src = sum(r["src_rows"] is not None for r in report)

    def rows_of(part_keys: list[tuple]) -> DataFrame:
        # every source partition (e.g. into an absent destination) needs no
        # filter; building one costs driver calls per key
        if len(part_keys) == n_src:
            return src_w
        return src_w.where(key_filter(src_w, names, part_keys))

    copied, deleted = apply(rows_of, keys)
    return SyncResult(report, copied, deleted, diff)


def _delete_partition_dirs(jvm, fs, root, names: list[str], keys: list[tuple]) -> int:
    """Remove hive-style partition directories under ``root`` — the engine's
    ``ALTER TABLE … DELETE WHERE partition`` for the delete-only path."""
    # Spark's own path escaping, with NULL → __HIVE_DEFAULT_PARTITION__
    part = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    deleted = 0
    for k in keys:
        subdir = "/".join(
            part.getPartitionPathString(n, None if v is None else str(v)) for n, v in zip(names, k)
        )
        deleted += bool(fs.delete(jvm.org.apache.hadoop.fs.Path(root, subdir), True))
    return deleted


def sync(
    spark: SparkSession,
    src: DataFrame,
    dest,
    spec: PartitionSpec,
    options: SyncOptions = SyncOptions(),
    semantic: dict | None = None,
) -> SyncResult:
    """Synchronize ``dest`` with ``src``: a hive-partitioned parquet path, or
    a ``sources.table.TableRef`` (``fmt='jdbc'`` goes to ``sync_to_jdbc``).

    Returns the per-partition report (the --info output, C11) plus action
    counts. ``dry_run`` computes the identical report with no writes —
    exactly the reference's Info()/Copy() split (copy/copy.go:12 vs :139).
    """
    if getattr(dest, "fmt", "parquet") == "jdbc":
        from clickhouse_table_copier_spark.operators.sync_jdbc import sync_to_jdbc

        return sync_to_jdbc(spark, src, dest, spec, options, semantic)
    path, names, jvm = getattr(dest, "location", dest), spec.names, spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())

    def apply(rows_of, keys: dict) -> tuple:
        replace, append = keys["copied"] + keys["overwritten"], keys["appended"]
        for part_keys, mode in ((replace, "overwrite"), (append, "append")):
            # partitionOverwriteMode is forced per write: under Spark's
            # default STATIC mode the overwrite would delete every dest
            # partition not in the written set
            if part_keys:
                rows_of(part_keys).write.partitionBy(*names).option(
                    "partitionOverwriteMode", "dynamic"
                ).mode(mode).parquet(path)
        deleted = _delete_partition_dirs(jvm, fs, root, names, keys["deleted"])
        return len(replace) + len(append), deleted

    dest_df = spark.read.parquet(path) if fs.exists(root) else None
    return sync_core(src, dest_df, spec, options, semantic, apply)
