"""Table CHECK constraints — the Delta ADD CONSTRAINT enforcement model.

A constraint is a table property riding the manifest/pointer record:
added only if existing data passes (one validating scan), enforced on
every Spark-side write path against the commit's OWN staged bytes
(cost ∝ commit, never the table), refused before any manifest publishes.
SQL CHECK semantics: NULL passes, only FALSE violates. Tombstones are
exempt (a delete event legitimately carries NULL payload).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.streaming._protocol import (
    ConstraintViolation,
)
from tabular_cdc_bootstrapper_spark.streaming.state_table import (
    ParquetStateTable,
)
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)

TARGET = CdcTarget(source_uri="s3://x/t", key_column="id", ts_column="ts")


def _frame(spark, n=200):
    return spark.range(0, n).select(
        "id",
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 1.5).alias("val"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.col("id") % 3)
        .alias("opt"),
    )


@pytest.fixture()
def mirror(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=8, key_col="id", keep_versions=10
    )
    m.initialize(_frame(spark))
    return m


def _batch(spark, val, op="U", n=10):
    return spark.range(0, n).select(
        "id",
        (F.col("id") % 7).alias("grp"),
        F.lit(float(val)).alias("val"),
        F.lit(None).cast("int").alias("opt"),
        F.lit(op).alias("op"),
        F.lit(2).cast("long").alias("ts"),
    )


def test_add_requires_existing_data_to_pass(spark, mirror):
    mirror.add_constraint(spark, "val_nonneg", "val >= 0")
    assert mirror.constraints() == {"val_nonneg": "val >= 0"}
    with pytest.raises(ConstraintViolation, match="val_small"):
        mirror.add_constraint(spark, "val_small", "val < 100")
    with pytest.raises(ValueError, match="already exists"):
        mirror.add_constraint(spark, "val_nonneg", "val >= 1")


def test_null_passes_check(spark, mirror):
    # `opt` is NULL on id%13==0 rows: SQL CHECK passes NULL
    mirror.add_constraint(spark, "opt_small", "opt < 3")
    assert "opt_small" in mirror.constraints()


def test_dml_and_merge_enforcement_cow(spark, mirror):
    mirror.add_constraint(spark, "val_nonneg", "val >= 0")
    head = mirror.current()["version"]
    with pytest.raises(ConstraintViolation, match="val_nonneg"):
        mirror.update_where(spark, "grp = 2", {"val": "-5.0"})
    with pytest.raises(ConstraintViolation):
        mirror.merge_batch(_batch(spark, -1.0), TARGET)
    # nothing published, no violating rows visible
    assert mirror.current()["version"] == head
    assert mirror.read(spark).filter("val < 0").count() == 0
    # valid writes pass and the property carries
    rec = mirror.update_where(spark, "grp = 2", {"val": "val + 1"})
    assert rec["rows_updated"] > 0
    assert mirror.current()["constraints"] == {"val_nonneg": "val >= 0"}


def test_merge_on_read_enforcement_and_tombstone_exemption(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "mor"),
        n_buckets=8,
        key_col="id",
        keep_versions=10,
        merge_on_read=True,
    )
    m.initialize(_frame(spark))
    m.add_constraint(spark, "val_nonneg", "val >= 0")
    with pytest.raises(ConstraintViolation):
        m.merge_batch(_batch(spark, -1.0), TARGET)
    assert m.read(spark).filter("val < 0").count() == 0
    # a pure-delete batch with NULL payload is NOT a violation: delete
    # events carry tombstone envelopes, not servable rows
    deletes = spark.range(0, 5).select(
        "id",
        F.lit(None).cast("bigint").alias("grp"),
        F.lit(None).cast("double").alias("val"),
        F.lit(None).cast("int").alias("opt"),
        F.lit("D").alias("op"),
        F.lit(3).cast("long").alias("ts"),
    )
    m.merge_batch(deletes, TARGET)
    assert m.read(spark).count() == 195


def test_ddl_guard_and_lifecycle(spark, mirror):
    mirror.add_constraint(spark, "val_nonneg", "val >= 0")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        mirror.alter_schema(rename={"val": "price"})
    with pytest.raises(ValueError, match="referenced by CHECK"):
        mirror.alter_schema(drop=["val"])
    # unrelated DDL passes and the constraint carries through it
    mirror.alter_schema(add={"note": "string"})
    assert mirror.constraints() == {"val_nonneg": "val >= 0"}
    # compaction and rollback carry it too; a constrained rollback
    # validates the restored data (spark= required — the constraint may
    # postdate the target snapshot)
    mirror.rewrite_data_files(spark, min_files=1, materialize=True)
    assert mirror.constraints() == {"val_nonneg": "val >= 0"}
    with pytest.raises(ValueError, match="pass spark="):
        mirror.rollback(mirror.history()[0]["version"])
    rec = mirror.rollback(mirror.history()[0]["version"], spark=spark)
    assert rec["constraints"] == {"val_nonneg": "val >= 0"}
    mirror.drop_constraint("val_nonneg")
    assert mirror.constraints() == {}
    with pytest.raises(ValueError, match="no constraint"):
        mirror.drop_constraint("val_nonneg")
    # renaming works once the constraint is gone
    mirror.alter_schema(rename={"val": "price"})


def test_prestaged_commit_requires_constraint_attestation(spark, mirror):
    """r13: a constrained table accepts externally staged deltas ONLY
    from a writer that attests to having enforced the exact current
    constraint set executor-side (the state_table sink does); a
    non-attesting or stale-set commit is refused."""
    mirror.add_constraint(spark, "val_nonneg", "val >= 0")
    fold = {"key": "id", "ts": ["ts"], "op": "op", "delete_op": "D"}
    schema = mirror.read(spark).schema
    with pytest.raises(ValueError, match="did not attest"):
        mirror.commit_prestaged_delta({0: []}, fold=fold, schema=schema)
    with pytest.raises(ValueError, match="did not attest"):
        mirror.commit_prestaged_delta(
            {0: []}, fold=fold, schema=schema,
            constraints_checked={"val_nonneg": "val >= 1"},  # stale set
        )


def test_plain_layout_symmetry(spark, tmp_path):
    p = ParquetStateTable(str(tmp_path / "p"), keep_versions=10)
    p.commit(_frame(spark))
    p.add_constraint(spark, "grp_range", "grp BETWEEN 0 AND 6")
    head = p.current()["version"]
    with pytest.raises(ConstraintViolation, match="grp_range"):
        p.update_where(spark, "id = 3", {"grp": "99"})
    assert p.current()["version"] == head
    rec = p.delete_where(spark, "grp = 5")  # deletes can't violate
    assert rec["rows_deleted"] > 0
    assert p.current()["constraints"] == {"grp_range": "grp BETWEEN 0 AND 6"}
    # rollback keeps the property (pointer-move semantics) and
    # validates the restored data
    assert "constraints" in p.rollback(0, spark=spark)
    with pytest.raises(ValueError, match="referenced by CHECK"):
        p.alter_schema(rename={"grp": "g"}, spark=spark)
    p.drop_constraint("grp_range")
    assert p.constraints() == {}


def test_sql_constraint_verbs(spark, mirror):
    from tabular_cdc_bootstrapper_spark.sql import TableSql

    t = TableSql(spark, {"m": mirror})
    r = t.sql("ALTER TABLE m ADD CONSTRAINT val_nonneg CHECK (val >= 0)")
    assert r["constraints"] == {"val_nonneg": "val >= 0"}
    with pytest.raises(ConstraintViolation):
        t.sql("UPDATE m SET val = -1 WHERE grp = 0")
    r = t.sql("ALTER TABLE m DROP CONSTRAINT val_nonneg")
    assert not r.get("constraints")
    t.sql("UPDATE m SET val = -1 WHERE grp = 0")  # now passes


def test_rollback_to_violating_snapshot_refused(spark, tmp_path):
    # the constraint postdates v0, whose data violates it: a restore
    # must not publish violating rows under the carried constraint
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=8, key_col="id", keep_versions=10
    )
    dirty = spark.range(0, 50).select(
        "id", (F.col("id") * 1.0 - 10).alias("val")
    )
    m.initialize(dirty)  # v0 holds val < 0 rows
    m.delete_where(spark, "val < 0")
    m.add_constraint(spark, "val_nonneg", "val >= 0")  # head is clean
    with pytest.raises(ConstraintViolation, match="val_nonneg"):
        m.rollback(m.history()[0]["version"], spark=spark)
    # plain layout twin
    p = ParquetStateTable(str(tmp_path / "p"), keep_versions=10)
    p.commit(dirty)
    p.delete_where(spark, "val < 0")
    p.add_constraint(spark, "val_nonneg", "val >= 0")
    with pytest.raises(ConstraintViolation, match="val_nonneg"):
        p.rollback(0, spark=spark)


def test_concurrent_add_constraint_vs_blind_commit(spark, tmp_path):
    # TOCTOU (review r12): a constraint added between a blind commit's
    # validation read and its publish must neither be dropped from the
    # head nor let unvalidated rows through — the per-attempt CAS forces
    # a reconcile that re-validates the written bytes
    root = str(tmp_path / "p")
    p = ParquetStateTable(root, keep_versions=10)
    p.commit(_frame(spark))
    other = ParquetStateTable(root, keep_versions=10)

    orig = ParquetStateTable._publish
    fired = []

    def race(self, record, keep, expected_head=None):
        if not fired and record.get("operation") != "set_properties":
            fired.append(True)
            other.add_constraint(spark, "val_nonneg", "val >= 0")
        return orig(self, record, keep, expected_head=expected_head)

    try:
        ParquetStateTable._publish = race
        rec = p.commit(_frame(spark))  # clean data: reconciles + carries
    finally:
        ParquetStateTable._publish = orig
    assert rec["constraints"] == {"val_nonneg": "val >= 0"}
    assert p.constraints() == {"val_nonneg": "val >= 0"}
    # and a violating blind commit racing the same way is REFUSED
    fired.clear()
    other.drop_constraint("val_nonneg")
    bad = _frame(spark).withColumn(
        "val", F.col("val") * 0 - 5
    )

    def race2(self, record, keep, expected_head=None):
        if not fired and record.get("operation") != "set_properties":
            fired.append(True)
            other.add_constraint(spark, "val_nonneg", "val >= 0")
        return orig(self, record, keep, expected_head=expected_head)

    try:
        ParquetStateTable._publish = race2
        with pytest.raises(ConstraintViolation):
            p.commit(bad)
    finally:
        ParquetStateTable._publish = orig
    assert p.read(spark).filter("val < 0").count() == 0


def _handle(layout, root):
    if layout == "snapshot":
        return ParquetStateTable(root, keep_versions=10)
    return VersionedBucketMirror(
        root, n_buckets=8, key_col="id", keep_versions=10
    )


def _table(layout, root, df):
    t = _handle(layout, root)
    if layout == "snapshot":
        t.commit(df)
    else:
        t.initialize(df)
    return t


@pytest.mark.parametrize("layout", ["snapshot", "bucketed"])
def test_wap_enforces_and_carries_constraints(spark, tmp_path, layout):
    # write-audit-publish answers to the head's CHECK constraints like
    # every other commit path: violating staged bytes are refused with
    # the head and the constraint untouched, and a clean publish keeps
    # the constraint on the table
    t = _table(layout, str(tmp_path / "t"), _frame(spark))
    t.add_constraint(spark, "val_nonneg", "val >= 0")
    head = t.current()["version"]
    bad = _frame(spark).withColumn("val", F.col("val") * 0 - 5)
    with pytest.raises(ConstraintViolation, match="val_nonneg"):
        t.write_audit_publish(spark, bad, rules=())
    assert t.current()["version"] == head
    assert t.constraints() == {"val_nonneg": "val >= 0"}
    assert t.read(spark).filter("val < 0").count() == 0
    assert not [d for d in os.listdir(t.root) if d.startswith("wap-")]
    out = t.write_audit_publish(spark, _frame(spark, n=50), rules=())
    assert out["published"] is True
    assert t.constraints() == {"val_nonneg": "val >= 0"}
    assert t.read(spark).count() == 50


@pytest.mark.parametrize("layout", ["snapshot", "bucketed"])
def test_concurrent_add_constraint_vs_rollback(
    spark, tmp_path, monkeypatch, layout
):
    # a constraint added between a rollback's constraint check and its
    # publish must neither be dropped from the head nor let the restored
    # rows skip it: the rollback CASes on the head it checked, and its
    # rebase validates the restored snapshot against the new constraint
    root = str(tmp_path / "t")
    t = _table(layout, root, _frame(spark).withColumn("val", F.col("val") - 10))
    dirty = t.current()["version"]  # holds val < 0 rows
    t.delete_where(spark, "val < 0")
    clean = t.current()["version"]
    other = _handle(layout, root)
    orig = type(t)._publish_commit
    fired = []

    def race(self, record, expected_head=None):
        if not fired and record.get("operation") != "set_properties":
            fired.append(True)
            other.add_constraint(spark, "val_nonneg", "val >= 0")
        return orig(self, record, expected_head=expected_head)

    monkeypatch.setattr(type(t), "_publish_commit", race)
    with pytest.raises(ConstraintViolation, match="val_nonneg"):
        t.rollback(dirty, spark=spark)
    assert fired
    assert t.constraints() == {"val_nonneg": "val >= 0"}
    assert t.read(spark).filter("val < 0").count() == 0
    # a rollback whose restored rows pass carries the racing constraint
    other.drop_constraint("val_nonneg")
    fired.clear()
    rec = t.rollback(clean, spark=spark)
    assert fired
    assert rec["constraints"] == {"val_nonneg": "val >= 0"}
    assert t.constraints() == {"val_nonneg": "val >= 0"}
