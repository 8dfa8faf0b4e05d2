"""Partition diff — the consistency verdict aggregate (SURVEY §2.3 J2, §2.9 C5).

The reference classifies each source partition against the destination in a
driver loop (``/root/reference/copy/copy.go:194-266``): probe the dest count
(``:215``), then paired async fingerprints (``:217-232``), then the verdict
state machine (``:237-266``). This engine expresses the whole classification
as ONE grouped aggregate over the side-tagged union of both tables:

    (keys…, rows, h, side=0) UNION (keys…, rows, h, side=1)
      GROUP BY keys  →  sum(rows), bit_xor(h) per side  →  verdict

A side with no row in a group aggregates to NULL, which is what marks a
partition as missing there. ``groupBy`` puts NULL keys in one group, so a
NULL partition value (hive's ``__HIVE_DEFAULT_PARTITION__``) is one real
partition, with no null-safe join condition. The input is either per row
``(1, row_hash)`` (``diff_partitions``) or per partition
``(rows, fingerprint)`` (``classify_fingerprints``, e.g. from manifests):
XOR and sum combine either the same way, so one verdict expression serves
both. The aggregate combines map-side, so only #partitions × 2 partial rows
cross the shuffle.

Verdicts (the C5 state machine, minus its known WaitGroup bug):
- ``copy``          dest partition absent or empty (copy.go:262-266, :241-245)
- ``identical``     fingerprints match → skip (copy.go:258-260)
- ``inconsistent``  fingerprints differ → delete+recopy per flags (:246-257)
- ``extra``         partition exists only on dest (reference warns when dest
                    has more data, copy.go:162-168; surfaced as a verdict)
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.functions.scalars import row_hash
from clickhouse_table_copier_spark.plans.partition_spec import PartitionSpec


class Verdict(str, Enum):
    COPY = "copy"
    IDENTICAL = "identical"
    INCONSISTENT = "inconsistent"
    EXTRA = "extra"


def diff_partitions(
    src: DataFrame,
    dest: DataFrame,
    spec: PartitionSpec,
    cols: list[str] | None = None,
    check_hashes: bool = True,
) -> DataFrame:
    """Classify every partition of both tables in one grouped aggregate.

    Each side hashes ``cols`` (default: all of its own columns).
    ``check_hashes=False`` degrades the comparison to row counts only — the
    reference's ``check_hashes`` toggle (config/config.go:34, C6).
    Returns: partition keys + src_rows, src_fingerprint, dest_rows,
    dest_fingerprint, verdict — the report the reference's ``--info`` mode
    prints (copy/copy.go:12-137), as a DataFrame.
    """
    per_row = [
        spec.with_partition_columns(df).select(
            *spec.names,
            F.lit(1).alias("rows"),
            row_hash(*(cols or df.columns)).alias("fingerprint"),
        )
        for df in (src, dest)
    ]
    return classify_fingerprints(*per_row, spec.names, check_hashes)


def classify_fingerprints(
    src_fp: DataFrame,
    dest_fp: DataFrame,
    names: list[str],
    check_hashes: bool = True,
) -> DataFrame:
    """The verdict aggregate over two (keys, rows, fingerprint) tables —
    shared by the live diff and the offline manifest diff
    (operators.manifest): one verdict row out per partition key."""
    tagged = [
        fp.select(*names, "rows", "fingerprint", F.lit(i).alias("__side"))
        for i, fp in enumerate((src_fp, dest_fp))
    ]

    def side(i: int, col: str):
        return F.when(F.col("__side") == i, F.col(col))

    src_rows, dest_rows = F.sum(side(0, "rows")), F.sum(side(1, "rows"))
    src_h, dest_h = F.bit_xor(side(0, "fingerprint")), F.bit_xor(side(1, "fingerprint"))
    equal = src_rows == dest_rows
    if check_hashes:
        equal = equal & src_h.eqNullSafe(dest_h)
    verdict = (
        F.when(src_rows.isNull(), F.lit(Verdict.EXTRA.value))
        .when(dest_rows.isNull() | (dest_rows == 0), F.lit(Verdict.COPY.value))
        .when(equal, F.lit(Verdict.IDENTICAL.value))
        .otherwise(F.lit(Verdict.INCONSISTENT.value))
    )
    # the verdict is computed inside the aggregate: Spark shares the
    # repeated aggregate functions, and no projection follows
    return (
        tagged[0]
        .unionByName(tagged[1])
        .groupBy(*names)
        .agg(
            src_rows.alias("src_rows"),
            src_h.alias("src_fingerprint"),
            dest_rows.alias("dest_rows"),
            dest_h.alias("dest_fingerprint"),
            verdict.alias("verdict"),
        )
    )
