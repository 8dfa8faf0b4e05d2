"""End-to-end sync tests — the C5 state machine golden tests (SURVEY §5.2).

Each case builds a mutated destination from lineitem (FIXTURES.md fixture
pairs), runs sync, and asserts the destination converges to the source
projection (or diverges exactly as the skip flags dictate).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_table_copier_spark.operators.sync import SyncOptions, plan_actions, sync
from clickhouse_table_copier_spark.plans.partition_spec import PartitionField, PartitionSpec
from tests.conftest import SF_SMOKE

SPEC = PartitionSpec.of(
    PartitionField("ship_month", "CAST(month(l_shipdate) AS INT)")
)


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")


def _write_dest(df, spec, path):
    spec.with_partition_columns(df).write.partitionBy(*spec.names).mode(
        "overwrite"
    ).parquet(path)


def _fingerprint(df, cols):
    from clickhouse_table_copier_spark.operators.fingerprint import table_fingerprint

    return table_fingerprint(df.select(*cols), cols).collect()[0]


def _assert_synced(spark, src, dest_path, data_cols):
    dest = spark.read.parquet(dest_path)
    src_fp = _fingerprint(src, data_cols)
    dest_cast = dest.select(
        *[F.col(c).cast(t) for c, t in src.select(*data_cols).dtypes]
    )
    dest_fp = _fingerprint(dest_cast, data_cols)
    assert src_fp["rows"] == dest_fp["rows"]
    assert src_fp["fingerprint"] == dest_fp["fingerprint"]


DATA_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]


def test_dest_empty_copies_everything(spark, lineitem, tmp_path):
    dest = str(tmp_path / "dest")
    res = sync(spark, lineitem, dest, SPEC)
    assert res.copied_partitions == 12
    _assert_synced(spark, lineitem, dest, DATA_COLS)


def test_dest_identical_skips(spark, lineitem, tmp_path):
    dest = str(tmp_path / "dest")
    _write_dest(lineitem, SPEC, dest)
    res = sync(spark, lineitem, dest, SPEC)
    assert res.copied_partitions == 0
    assert res.deleted_partitions == 0
    verdicts = {r["verdict"] for r in res.report}
    assert verdicts == {"identical"}
    _assert_synced(spark, lineitem, dest, DATA_COLS)


def test_dest_missing_partition_copied(spark, lineitem, tmp_path):
    dest = str(tmp_path / "dest")
    _write_dest(lineitem.where(F.month("l_shipdate") != 3), SPEC, dest)
    res = sync(spark, lineitem, dest, SPEC)
    assert res.copied_partitions == 1
    _assert_synced(spark, lineitem, dest, DATA_COLS)


def test_dest_inconsistent_overwritten(spark, lineitem, tmp_path):
    dest = str(tmp_path / "dest")
    mutated = lineitem.withColumn(
        "l_quantity",
        F.when(
            (F.month("l_shipdate") == 5) & (F.col("l_linenumber") == 1),
            F.col("l_quantity") + 1,
        ).otherwise(F.col("l_quantity")),
    )
    _write_dest(mutated, SPEC, dest)
    res = sync(spark, lineitem, dest, SPEC)
    report = {r["ship_month"]: r["action"] for r in res.report}
    assert report[5] == "overwritten"
    assert sum(1 for a in report.values() if a == "overwritten") == 1
    _assert_synced(spark, lineitem, dest, DATA_COLS)


def test_dest_superset_detected_and_overwritten(spark, lineitem, tmp_path):
    dest = str(tmp_path / "dest")
    extra = lineitem.limit(5)
    _write_dest(lineitem.union(extra), SPEC, dest)
    res = sync(spark, lineitem, dest, SPEC)
    assert res.copied_partitions >= 1
    _assert_synced(spark, lineitem, dest, DATA_COLS)


def test_skip_delete_appends_duplicates(spark, lineitem, tmp_path):
    dest = str(tmp_path / "dest")
    mutated = lineitem.withColumn(
        "l_quantity",
        F.when(F.month("l_shipdate") == 5, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    )
    _write_dest(mutated, SPEC, dest)
    before = spark.read.parquet(dest).count()
    res = sync(spark, lineitem, dest, SPEC, SyncOptions(skip_delete=True))
    after = spark.read.parquet(dest).count()
    month5 = lineitem.where(F.month("l_shipdate") == 5).count()
    assert after == before + month5  # appended without delete → duplicates
    assert res.copied_partitions == 1


def test_skip_reimport_deletes_only(spark, lineitem, tmp_path):
    dest = str(tmp_path / "dest")
    mutated = lineitem.withColumn(
        "l_quantity",
        F.when(F.month("l_shipdate") == 5, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    )
    _write_dest(mutated, SPEC, dest)
    res = sync(spark, lineitem, dest, SPEC, SyncOptions(skip_reimport=True))
    assert res.deleted_partitions == 1
    remaining = spark.read.parquet(dest)
    assert remaining.where(F.col("ship_month") == 5).count() == 0


def test_dry_run_writes_nothing(spark, lineitem, tmp_path):
    dest = str(tmp_path / "dest")
    _write_dest(lineitem.where(F.month("l_shipdate") != 3), SPEC, dest)
    before = spark.read.parquet(dest).count()
    res = sync(spark, lineitem, dest, SPEC, SyncOptions(dry_run=True))
    assert spark.read.parquet(dest).count() == before
    verdicts = {r["ship_month"]: r["verdict"] for r in res.report}
    assert verdicts[3] == "copy"
    assert res.copied_partitions == 0


def test_check_hashes_false_misses_value_change(spark, lineitem, tmp_path):
    """Row-count compare (C6) can't see same-cardinality value drift —
    the documented trade-off of check_hashes=false."""
    dest = str(tmp_path / "dest")
    mutated = lineitem.withColumn(
        "l_quantity",
        F.when(F.month("l_shipdate") == 5, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    )
    _write_dest(mutated, SPEC, dest)
    res = sync(spark, lineitem, dest, SPEC, SyncOptions(check_hashes=False))
    verdicts = {r["ship_month"]: r["verdict"] for r in res.report}
    assert verdicts[5] == "identical"  # counts match → not detected
    assert res.copied_partitions == 0


def test_dest_retyped_schema_alignment(spark, lineitem, tmp_path):
    """dest_retyped fixture: narrower/renamed schema on the destination —
    intersection + casts must still converge the common columns."""
    dest = str(tmp_path / "dest")
    retyped = (
        SPEC.with_partition_columns(lineitem)
        .withColumn("l_linenumber", F.col("l_linenumber").cast("bigint"))
        .withColumn("extra_col", F.lit("x"))
        .drop("l_tax")
        .where(F.col("ship_month") != 7)
    )
    retyped.write.partitionBy("ship_month").mode("overwrite").parquet(dest)
    res = sync(spark, lineitem, dest, SPEC)
    # month 7 absent → copy; all others differ only in types/extra cols,
    # which alignment must neutralize for the common columns.
    verdicts = {r["ship_month"]: r["verdict"] for r in res.report}
    assert verdicts[7] == "copy"


def test_sync_tuple_partition_key_events(spark, tmp_path):
    """Multi-key (event_type, event_date) sync — the tuple-key case the
    reference's GenerateWhere breaks at arity > 2 — through the full
    hive-layout write/diff/repair path."""
    from clickhouse_table_copier_spark.queries import _events

    ev = _events(spark, SF_SMOKE)
    spec = PartitionSpec.of(
        PartitionField("event_type", "event_type"),
        PartitionField("event_date", "CAST(ts AS DATE)"),
    )
    dest = str(tmp_path / "dest")
    res1 = sync(spark, ev, dest, spec)
    assert res1.copied_partitions > 10  # 5 types x several days

    # mutate one (type, date) cell upstream → exactly one partition repaired
    ev2 = ev.withColumn(
        "value",
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts").cast("date") == F.expr("DATE '2024-01-03'")),
            F.col("value") + 1.0,
        ).otherwise(F.col("value")),
    )
    res2 = sync(spark, ev2, dest, spec)
    actions = {
        (r["event_type"], str(r["event_date"])): r["action"]
        for r in res2.report
    }
    assert actions[("click", "2024-01-03")] == "overwritten"
    assert sum(1 for a in actions.values() if a != "none") == 1

    # converged: re-run reports all identical
    res3 = sync(spark, ev2, dest, spec, SyncOptions(dry_run=True))
    assert {r["verdict"] for r in res3.report} == {"identical"}


@pytest.mark.slow
def test_sync_sf01_scale(spark, tmp_path):
    """Sync at sf0.1 (600k rows): missing partition + corrupted partition
    repaired in one pass; destination converges."""
    li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    dest = str(tmp_path / "dest")
    mutated = li.where(F.month("l_shipdate") != 2).withColumn(
        "l_tax",
        F.when(F.month("l_shipdate") == 9, F.col("l_tax") + 0.01).otherwise(
            F.col("l_tax")
        ),
    )
    _write_dest(mutated, SPEC, dest)
    res = sync(spark, li, dest, SPEC)
    actions = {r["ship_month"]: r["action"] for r in res.report}
    assert actions[2] == "copied" and actions[9] == "overwritten"
    _assert_synced(spark, li, dest, DATA_COLS)


def test_both_skip_flags_skip_inconsistent_entirely(spark, lineitem, tmp_path):
    """README parity: 'if both true then skip unconsistent partition' —
    skip_delete + skip_reimport leaves the inconsistent partition alone."""
    dest = str(tmp_path / "dest")
    mutated = lineitem.withColumn(
        "l_quantity",
        F.when(F.month("l_shipdate") == 5, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    )
    _write_dest(mutated, SPEC, dest)
    before_fp = spark.read.parquet(dest).where(F.col("ship_month") == 5).count()
    res = sync(
        spark, lineitem, dest, SPEC,
        SyncOptions(skip_delete=True, skip_reimport=True),
    )
    actions = {r["ship_month"]: r["action"] for r in res.report}
    assert actions[5] == "none"
    assert res.copied_partitions == 0 and res.deleted_partitions == 0
    assert spark.read.parquet(dest).where(F.col("ship_month") == 5).count() == before_fp


def test_retyped_dest_repair_writes_dest_schema(spark, lineitem, tmp_path):
    """Repaired partitions must carry the DESTINATION's column types
    (S6: INSERT INTO dest (cols) SELECT castExprs), not the source's —
    otherwise the repaired table is schema-inconsistent."""
    dest = str(tmp_path / "dest")
    retyped = (
        SPEC.with_partition_columns(lineitem)
        .withColumn("l_linenumber", F.col("l_linenumber").cast("bigint"))
        .withColumn("l_quantity", F.col("l_quantity").cast("decimal(18,2)"))
        .drop("l_tax")
    )
    # corrupt month 4 on the dest side, drop month 7
    corrupted = retyped.where(F.col("ship_month") != 7).withColumn(
        "l_extendedprice",
        F.when(F.col("ship_month") == 4, F.col("l_extendedprice") + 1).otherwise(
            F.col("l_extendedprice")
        ),
    )
    corrupted.write.partitionBy("ship_month").mode("overwrite").parquet(dest)

    res = sync(spark, lineitem, dest, SPEC)
    actions = {r["ship_month"]: r["action"] for r in res.report}
    assert actions[7] == "copied" and actions[4] == "overwritten"

    # the whole dest must read back under ONE schema with dest's types
    merged = spark.read.option("mergeSchema", "true").parquet(dest)
    types = dict(merged.dtypes)
    assert types["l_linenumber"] == "bigint"
    assert types["l_quantity"] == "decimal(18,2)"
    assert "l_tax" not in types
    # and the repaired partitions contain the source's data values
    m7 = merged.where(F.col("ship_month") == 7).count()
    assert m7 == lineitem.where(F.month("l_shipdate") == 7).count()


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_sync_convergence_fuzz(spark, lineitem, tmp_path, seed):
    """Randomized (seeded) destination corruption — any combination of
    dropped partitions, perturbed cells, and duplicated rows must converge
    to the source in ONE sync pass."""
    dest = str(tmp_path / "dest")
    h = F.xxhash64(F.col("l_orderkey"), F.col("l_linenumber"), F.lit(seed))
    month = F.month("l_shipdate")
    mutated = (
        lineitem
        # perturb ~1/7 of rows' quantities
        .withColumn(
            "l_quantity",
            F.when(h % 7 == 0, F.col("l_quantity") + 0.5).otherwise(F.col("l_quantity")),
        )
        # drop one seeded month entirely
        .where(month != (seed % 12) + 1)
    )
    # duplicate ~1/11 of rows
    dupes = mutated.where(h % 11 == 0)
    _write_dest(mutated.unionAll(dupes), SPEC, dest)

    res = sync(spark, lineitem, dest, SPEC)
    assert res.copied_partitions >= 1
    _assert_synced(spark, lineitem, dest, DATA_COLS)
    # idempotence: second pass reports all-identical
    res2 = sync(spark, lineitem, dest, SPEC, SyncOptions(dry_run=True))
    assert {r["verdict"] for r in res2.report} == {"identical"}


def test_sync_semantic_casts_canonicalize_source(spark, tmp_path):
    """semantic_casts: messy source UUID/IP text is canonicalized before
    compare-and-write, so an already-canonical destination reads identical."""
    src = spark.createDataFrame(
        [
            (1, "A", "550E8400-E29B-41D4-A716-446655440000", "10.0.0.1"),
            (2, "A", "not-a-uuid", "999.9.9.9"),
            (3, "B", "6BA7B810-9DAD-11D1-80B4-00C04FD430C8", "192.168.1.10"),
        ],
        "id BIGINT, k STRING, u STRING, ip STRING",
    )
    dest = str(tmp_path / "dest")
    spec = PartitionSpec.bare("k")
    sem = {"u": "UUID", "ip": "IPv4"}
    res = sync(spark, src, dest, spec, semantic=sem)
    assert res.copied_partitions == 2
    got = {r["id"]: (r["u"], r["ip"]) for r in spark.read.parquet(dest).collect()}
    assert got[1] == ("550e8400-e29b-41d4-a716-446655440000", 167772161)
    assert got[2] == ("00000000-0000-0000-0000-000000000000", None)
    # idempotent: second sync sees identical partitions
    res2 = sync(spark, src, dest, spec, SyncOptions(dry_run=True), semantic=sem)
    assert {r["verdict"] for r in res2.report} == {"identical"}


def test_lossy_cast_dest_converges_in_one_pass(spark, lineitem, tmp_path):
    """Destination narrows l_extendedprice to INT — a LOSSY cast. The
    consistency compare must run in the DESTINATION's type domain (source
    hashed through the same dest-type casts the repair writes, the
    reference's direction): partitions whose only difference is the
    narrowing hash as identical, real corruption is repaired once, and the
    next pass reports all-identical. The inverted compare (dest cast back
    to source types) re-flags every partition as inconsistent forever —
    sync never converges and rewrites identical data on every run."""
    dest = str(tmp_path / "dest")
    retyped = SPEC.with_partition_columns(lineitem).withColumn(
        "l_extendedprice", F.col("l_extendedprice").cast("int")
    )
    corrupted = (
        retyped.where(F.col("ship_month") != 7)
        .withColumn(
            "l_quantity",
            F.when(
                F.col("ship_month") == 4, F.col("l_quantity") + 1
            ).otherwise(F.col("l_quantity")),
        )
    )
    corrupted.write.partitionBy("ship_month").mode("overwrite").parquet(dest)

    res = sync(spark, lineitem, dest, SPEC)
    actions = {r["ship_month"]: r["action"] for r in res.report}
    assert actions[7] == "copied" and actions[4] == "overwritten"
    # lossy narrowing alone is NOT inconsistency: untouched months skip
    assert sum(1 for a in actions.values() if a == "none") == 10

    res2 = sync(spark, lineitem, dest, SPEC, SyncOptions(dry_run=True))
    assert {r["verdict"] for r in res2.report} == {"identical"}


def test_sync_safe_under_static_overwrite_session(spark, lineitem, tmp_path):
    """Library callers may bring a session WITHOUT
    spark.sql.sources.partitionOverwriteMode=dynamic. The repair write
    forces dynamic per-write; under the session's static default the
    overwrite of one corrupted partition must NOT delete the other 11."""
    dest = str(tmp_path / "dest")
    corrupted = SPEC.with_partition_columns(lineitem).withColumn(
        "l_quantity",
        F.when(F.col("ship_month") == 4, F.col("l_quantity") + 1).otherwise(
            F.col("l_quantity")
        ),
    )
    corrupted.write.partitionBy("ship_month").mode("overwrite").parquet(dest)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        res = sync(spark, lineitem, dest, SPEC)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    assert res.copied_partitions == 1
    _assert_synced(spark, lineitem, dest, DATA_COLS)


# verdict → action for each (skip_delete, skip_reimport); dry_run plans "none"
_PLAN = {
    "copy": {(False, False): "copied", (True, False): "copied",
             (False, True): "copied", (True, True): "copied"},
    "inconsistent": {(False, False): "overwritten", (True, False): "appended",
                     (False, True): "deleted", (True, True): "none"},
    "identical": {(False, False): "none", (True, False): "none",
                  (False, True): "none", (True, True): "none"},
    "extra": {(False, False): "none", (True, False): "none",
              (False, True): "none", (True, True): "none"},
}


def test_plan_actions_table():
    """The one verdict → action mapping, without Spark: every verdict ×
    (skip_delete, skip_reimport, dry_run)."""
    rows = [{"verdict": v} for v in _PLAN]
    for (skip_delete, skip_reimport) in _PLAN["copy"]:
        for dry_run in (False, True):
            opts = SyncOptions(
                skip_delete=skip_delete, skip_reimport=skip_reimport, dry_run=dry_run
            )
            want = ["none" if dry_run else _PLAN[r["verdict"]][(skip_delete, skip_reimport)]
                    for r in rows]
            assert plan_actions(rows, opts) == want, opts


def test_null_partition_key_drift_converges(spark, tmp_path):
    """A NULL partition key (__HIVE_DEFAULT_PARTITION__) is one real
    partition: drifted alone or beside a non-NULL key it is repaired (and
    deleted under skip_reimport), and the next info reports all identical."""
    src = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0), (3, "a", 3.0), (4, "b", 4.0)],
        "id BIGINT, k STRING, v DOUBLE",
    )
    dest = str(tmp_path / "dest")
    spec = PartitionSpec.bare("k")
    assert sync(spark, src, dest, spec).copied_partitions == 3

    def drift(keys):
        hit = F.col("k").isNull() | F.col("k").isin([k for k in keys if k is not None])
        src.withColumn("v", F.when(hit, F.col("v") + 1).otherwise(F.col("v"))).write.partitionBy(
            "k"
        ).mode("overwrite").parquet(dest)

    for drifted in ([None], [None, "a"]):
        drift(drifted)
        res = sync(spark, src, dest, spec)
        assert {r["k"] for r in res.report if r["action"] == "overwritten"} == set(drifted)
        info = sync(spark, src, dest, spec, SyncOptions(dry_run=True))
        assert {r["verdict"] for r in info.report} == {"identical"}
        _assert_synced(spark, src, dest, ["id", "v"])

    drift([None])
    res = sync(spark, src, dest, spec, SyncOptions(skip_reimport=True))
    assert res.deleted_partitions == 1
    assert spark.read.parquet(dest).where(F.col("k").isNull()).count() == 0
    assert sync(spark, src, dest, spec).copied_partitions == 1
    _assert_synced(spark, src, dest, ["id", "v"])
