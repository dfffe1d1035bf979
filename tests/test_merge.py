"""Golden batch-sequence tests for the changeset-merge engine
(FIXTURES.md B2 shape: initial load, mixed batch, schema drift)."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from azuredataengineering_deeplearning_spark.operators import merge as M
from azuredataengineering_deeplearning_spark.operators import profile as P
from azuredataengineering_deeplearning_spark.operators.scd import validate_scd2


def _ts(s):
    return dt.datetime.fromisoformat(s)


SCHEMA = "ResourceId string, Name string, Status string, PreciseTimeStamp timestamp"


@pytest.fixture()
def batches(spark):
    b1 = spark.createDataFrame(
        [
            ("r1", "alpha", "ok", _ts("2024-01-01")),
            ("r2", "beta", "ok", _ts("2024-01-01")),
            ("r3", "gamma", None, _ts("2024-01-01")),  # NULL attribute
        ],
        SCHEMA,
    )
    b2 = spark.createDataFrame(
        [
            ("r1", "alpha", "ok", _ts("2024-02-10")),      # unchanged → no-op
            ("r2", "beta2", "ok", _ts("2024-02-10")),      # changed → expire+insert
            ("r3", "gamma", "fixed", _ts("2024-02-10")),   # NULL→value transition
            ("r4", "delta", "ok", _ts("2024-02-10")),      # new key → insert
        ],
        SCHEMA,
    )
    return b1, b2


def test_initial_load(spark, batches):
    b1, _ = batches
    t = M.initial_load(b1, ["ResourceId"], "PreciseTimeStamp")
    rows = {r.ResourceId: r for r in t.collect()}
    assert all(r.currentVersion == 1 for r in rows.values())
    assert all(r.expirationDate == 20991231 for r in rows.values())
    assert rows["r1"].effectiveDate == 20240101


def test_merge_batch_semantics(spark, batches):
    b1, b2 = batches
    t = M.initial_load(b1, ["ResourceId"], "PreciseTimeStamp")
    t2 = M.apply_changeset(t, b2, ["ResourceId"], "PreciseTimeStamp").cache()

    validate_scd2(t2, ["ResourceId"])
    by = {(r.ResourceId, r.currentVersion): r for r in t2.collect()}

    # r1 unchanged: single row, still current, untouched expiration
    assert t2.filter(F.col("ResourceId") == "r1").count() == 1
    assert by[("r1", 1)].expirationDate == 20991231

    # r2 changed: old version expired the day before the new effective
    assert by[("r2", 0)].Name == "beta" and by[("r2", 0)].expirationDate == 20240209
    assert by[("r2", 1)].Name == "beta2" and by[("r2", 1)].effectiveDate == 20240210

    # r3: NULL→value must be detected as a change (null-safe hash, the
    # fix over the reference's `=`-based WHERE NOT)
    assert by[("r3", 0)].Status is None
    assert by[("r3", 1)].Status == "fixed"

    # r4 new key inserted
    assert by[("r4", 1)].effectiveDate == 20240210


def test_merge_idempotent_on_unchanged(spark, batches):
    b1, b2 = batches
    t = M.initial_load(b1, ["ResourceId"], "PreciseTimeStamp")
    t2 = M.apply_changeset(t, b2, ["ResourceId"], "PreciseTimeStamp")
    # replaying the same changeset with a later timestamp: all rows now
    # match current state → no new versions
    b2_replay = b2.withColumn(
        "PreciseTimeStamp", F.lit(_ts("2024-03-01")).cast("timestamp")
    )
    t3 = M.apply_changeset(t2, b2_replay, ["ResourceId"], "PreciseTimeStamp")
    assert t3.count() == t2.count()
    validate_scd2(t3, ["ResourceId"])


def test_schema_drift_reconcile(spark, batches):
    b1, _ = batches
    t = M.initial_load(b1, ["ResourceId"], "PreciseTimeStamp")
    b3 = spark.createDataFrame(
        [("r1", "alpha", "ok", _ts("2024-03-05"), "new-attr")],
        SCHEMA + ", NewAttr string",
    )
    t_reconciled = M.reconcile_schema(t, b3)
    assert "NewAttr" in t_reconciled.columns
    t3 = M.apply_changeset(t_reconciled, b3, ["ResourceId"], "PreciseTimeStamp")
    validate_scd2(t3, ["ResourceId"])
    cur_r1 = t3.filter((F.col("ResourceId") == "r1") & (F.col("currentVersion") == 1)).collect()[0]
    assert cur_r1.NewAttr == "new-attr"  # drifted column flows through
    old_r1 = t3.filter((F.col("ResourceId") == "r1") & (F.col("currentVersion") == 0)).collect()[0]
    assert old_r1.NewAttr is None


def test_two_column_key_row_fates(spark):
    """Every SCD2 row fate on a two-column natural key, against the
    exact expected table: history passes through, an unchanged row and
    an absent key stay current, a changed row and a NULL→value change
    expire and insert, a brand-new key (sharing one key part with an
    existing row) inserts."""
    schema = "region string, id long, status string, ts timestamp"
    t = M.initial_load(
        spark.createDataFrame(
            [
                ("eu", 1, "ok", _ts("2024-01-01")),
                ("eu", 2, None, _ts("2024-01-01")),
                ("us", 1, "ok", _ts("2024-01-01")),
                ("us", 2, "ok", _ts("2024-01-01")),
            ],
            schema,
        ),
        ["region", "id"],
        "ts",
    )
    old = t.filter("region = 'us' AND id = 2").withColumn(
        "status", F.lit("old")
    ).withColumn("expirationDate", F.lit(20231231)).withColumn(
        "currentVersion", F.lit(0).cast("tinyint")
    )
    t = t.unionByName(old)  # a history row
    cs = spark.createDataFrame(
        [
            ("eu", 1, "ok", _ts("2024-02-10")),      # unchanged
            ("eu", 2, "set", _ts("2024-02-10")),     # NULL -> value
            ("us", 1, "moved", _ts("2024-02-10")),   # changed
            ("eu", 3, "ok", _ts("2024-02-10")),      # brand-new key
        ],
        schema,
    )
    out = M.apply_changeset(t, cs, ["region", "id"], "ts")
    assert out.columns == t.columns
    validate_scd2(out, ["region", "id"])
    got = {
        (r.region, r.id, r.status, r.effectiveDate, r.expirationDate, r.currentVersion)
        for r in out.collect()
    }
    assert got == {
        ("eu", 1, "ok", 20240101, 20991231, 1),
        ("eu", 2, None, 20240101, 20240209, 0),
        ("eu", 2, "set", 20240210, 20991231, 1),
        ("us", 1, "ok", 20240101, 20240209, 0),
        ("us", 1, "moved", 20240210, 20991231, 1),
        ("us", 2, "ok", 20240101, 20991231, 1),
        ("us", 2, "old", 20240101, 20231231, 0),
        ("eu", 3, "ok", 20240210, 20991231, 1),
    }


def test_shrink_types_plan(spark):
    df = spark.createDataFrame(
        [(1, 100, 40000, 3_000_000_000)], "a long, b long, c long, d long"
    )
    plan = P.plan_shrink_types(df, ["a", "b", "c", "d"])
    assert plan == {"a": "tinyint", "b": "tinyint", "c": "int", "d": "bigint"}


def test_parquet_merge_in_place_end_to_end(spark, batches, tmp_path):
    """The Delta-merge clause logic run end-to-end against a parquet
    table: initial load → mixed batch → drift batch, with an atomic
    rewrite per batch (merge_generator.py:123-206 semantics without the
    transaction log)."""
    b1, b2 = batches
    path = str(tmp_path / "dim")
    M.initial_load(b1, ["ResourceId"], "PreciseTimeStamp").write.parquet(path)

    M.apply_changeset_path(spark, path, b2, ["ResourceId"], "PreciseTimeStamp")
    t2 = spark.read.parquet(path)
    validate_scd2(t2, ["ResourceId"])
    by = {(r.ResourceId, r.currentVersion): r for r in t2.collect()}
    assert by[("r2", 0)].expirationDate == 20240209
    assert by[("r2", 1)].Name == "beta2"
    assert by[("r3", 1)].Status == "fixed"          # NULL→value detected
    assert by[("r4", 1)].effectiveDate == 20240210
    assert t2.filter(F.col("ResourceId") == "r1").count() == 1  # no-op

    # drift batch: new column arrives; ALTER-ADD analog fills old rows
    b3 = spark.createDataFrame(
        [("r1", "alpha", "ok", _ts("2024-03-05"), "tag-1")],
        SCHEMA + ", NewAttr string",
    )
    M.apply_changeset_path(spark, path, b3, ["ResourceId"], "PreciseTimeStamp")
    t3 = spark.read.parquet(path)
    validate_scd2(t3, ["ResourceId"])
    assert "NewAttr" in t3.columns
    r1 = {r.currentVersion: r for r in t3.filter(F.col("ResourceId") == "r1").collect()}
    assert r1[1].NewAttr == "tag-1" and r1[0].NewAttr is None
    # untouched keys got the drifted column as NULL, kept their state
    assert t3.filter((F.col("ResourceId") == "r4") & (F.col("currentVersion") == 1)).collect()[0].NewAttr is None


def test_parquet_merge_skip_predicate(spark, batches, tmp_path):
    """A sound data-skipping predicate (covers every possibly-matching
    row) must not change the result; rows it excludes bypass the merge
    untouched — including predicate-NULL rows."""
    b1, b2 = batches
    plain = str(tmp_path / "plain")
    skipped = str(tmp_path / "skipped")
    init = M.initial_load(b1, ["ResourceId"], "PreciseTimeStamp")
    init.write.parquet(plain)
    init.write.parquet(skipped)

    M.apply_changeset_path(spark, plain, b2, ["ResourceId"], "PreciseTimeStamp")
    # every b2 key starts with 'r' -> predicate is sound for this batch
    M.apply_changeset_path(
        spark, skipped, b2, ["ResourceId"], "PreciseTimeStamp",
        skip_predicate="ResourceId >= 'r'",
    )
    a = sorted(map(repr, spark.read.parquet(plain).collect()))
    b = sorted(map(repr, spark.read.parquet(skipped).collect()))
    assert a == b

    # UNSOUND predicate (excludes a matching row): the emulation
    # reproduces Delta's real failure mode — the excluded current row is
    # never expired while the incoming change still inserts, leaving TWO
    # current rows. Soundness is the caller's contract (the reference
    # derives the predicate from the changeset's min watermark,
    # merge_generator.py:68-78); validate_scd2 catches the corruption.
    excl = str(tmp_path / "excl")
    init.write.parquet(excl)
    M.apply_changeset_path(
        spark, excl, b2, ["ResourceId"], "PreciseTimeStamp",
        skip_predicate="ResourceId <> 'r2'",
    )
    r2 = spark.read.parquet(excl).filter(F.col("ResourceId") == "r2").collect()
    assert len(r2) == 2 and all(r.currentVersion == 1 for r in r2)
    with pytest.raises(AssertionError, match="exactly one current"):
        validate_scd2(spark.read.parquet(excl), ["ResourceId"])
