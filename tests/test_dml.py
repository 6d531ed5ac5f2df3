"""Row-level DML — DELETE WHERE / UPDATE WHERE on both snapshot layouts.

The Iceberg copy-on-write DELETE/UPDATE semantics (the reference's tables
take DML through the Iceberg surface, tabular.py:8): predicate TRUE rows
are deleted/updated, NULL-condition rows are kept/unchanged, assignments
are simultaneous and cast to the existing column type, and on the
bucketed layout only match-holding buckets are rewritten — everything
else carries forward dir-shared, under the CAS basis contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.streaming._protocol import CommitConflict
from tabular_cdc_bootstrapper_spark.streaming.state_table import (
    ParquetStateTable,
)
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)


def _frame(spark, n=600):
    return spark.range(0, n).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 1.5).alias("val"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.col("id") % 3 == 0)
        .alias("flag"),
    )


@pytest.fixture()
def mirror(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"),
        n_buckets=8,
        key_col="id",
        keep_versions=10,
        stats_cols=["grp"],
    )
    m.initialize(_frame(spark))
    return m


def test_delete_where_basic_and_time_travel(spark, mirror):
    rec = mirror.delete_where(spark, "grp = 5 AND val > 600")
    exp = _frame(spark).filter("NOT (grp = 5 AND val > 600)")
    assert mirror.read(spark).count() == exp.count()
    assert rec["rows_deleted"] == 600 - exp.count()
    assert mirror.read(spark).filter("grp = 5 AND val > 600").count() == 0
    # pre-delete snapshot is intact (copy-on-write, not in-place)
    assert mirror.read_version(spark, rec["version"] - 1).count() == 600


def test_delete_where_null_condition_keeps_rows(spark, mirror):
    # SQL DELETE semantics: only TRUE deletes; flag IS NULL rows survive
    rec = mirror.delete_where(spark, F.col("flag"))
    got = mirror.read(spark)
    assert got.filter("flag IS NULL").count() == _frame(spark).filter(
        "flag IS NULL"
    ).count()
    assert got.filter("flag = true").count() == 0
    assert rec["rows_deleted"] == _frame(spark).filter("flag = true").count()


def test_delete_where_noop_publishes_nothing(spark, mirror):
    before = mirror.current()["version"]
    rec = mirror.delete_where(spark, "grp = 999")
    assert rec["rows_deleted"] == 0
    assert rec["matched_buckets"] == []
    assert mirror.current()["version"] == before


def test_delete_where_untouched_buckets_carry_forward(spark, mirror):
    # a single-key predicate touches exactly one bucket; the other
    # buckets' dirs must be SHARED with the previous manifest, not
    # rewritten (write amplification ∝ matched buckets)
    before = dict(mirror.current()["buckets"])
    rec = mirror.delete_where(spark, "id = 17")
    assert rec["rows_deleted"] == 1
    assert len(rec["matched_buckets"]) == 1
    after = dict(mirror.current()["buckets"])
    (hit_b,) = [str(b) for b in rec["matched_buckets"]]
    for b, d in after.items():
        if b == hit_b:
            assert d != before[b]
        else:
            assert d == before[b]


def test_delete_where_prune_hint_skips_planning_read(spark, mirror):
    # stats say grp ∈ [0, 6] everywhere: an out-of-range prune hint
    # empties the candidate set before any data is read
    before = mirror.current()["version"]
    rec = mirror.delete_where(spark, "grp = 12", prune=("grp", 12, 12))
    assert rec["rows_deleted"] == 0
    assert rec["matched_buckets"] == []
    assert mirror.current()["version"] == before


def test_update_where_simultaneous_assignment(spark, mirror):
    # SET grp = val, val = grp must SWAP (both right-hand sides read
    # pre-update values), with each value cast to the column's type
    pre = {
        r["id"]: (r["grp"], r["val"])
        for r in mirror.read(spark).filter("id < 21").collect()
    }
    rec = mirror.update_where(
        spark, "id < 21", {"grp": "val", "val": "grp"}
    )
    assert rec["rows_updated"] == 21
    post = {
        r["id"]: (r["grp"], r["val"])
        for r in mirror.read(spark).filter("id < 21").collect()
    }
    for i, (g, v) in pre.items():
        ng, nv = post[i]
        assert ng == int(v)  # cast to grp's bigint
        assert nv == float(g)  # cast to val's double


def test_update_where_null_condition_unchanged(spark, mirror):
    rec = mirror.update_where(spark, F.col("flag"), {"val": "0.0"})
    got = mirror.read(spark)
    # NULL-flag rows keep their original val; TRUE-flag rows were zeroed
    assert (
        got.filter("flag IS NULL AND val != id * 1.5").count() == 0
    )
    assert got.filter("flag = true AND val != 0.0").count() == 0
    assert rec["rows_updated"] == _frame(spark).filter("flag = true").count()


def test_update_where_guards(spark, mirror):
    with pytest.raises(ValueError, match="key column"):
        mirror.update_where(spark, "grp = 2", {"id": "id + 1"})
    with pytest.raises(ValueError, match="unknown column"):
        mirror.update_where(spark, "grp = 2", {"nope": "1"})
    with pytest.raises(ValueError, match="at least one assignment"):
        mirror.update_where(spark, "grp = 2", {})


def test_delete_where_conflict_on_overlapping_commit(spark, tmp_path):
    # a concurrent merge landing on a MATCHED bucket between the DML's
    # planning read and its publish must CommitConflict (lost-update
    # guard), while a DISJOINT concurrent commit rebases and both land
    root = str(tmp_path / "c")
    m = VersionedBucketMirror(
        root, n_buckets=8, key_col="id", keep_versions=10
    )
    m.initialize(_frame(spark))
    other = VersionedBucketMirror(
        root, n_buckets=8, key_col="id", keep_versions=10
    )

    planned = VersionedBucketMirror._dml_scope
    fired = []

    def race(self, spk, cur, hit, prune):
        matched, n = planned(self, spk, cur, hit, prune)
        if not fired:  # the inner delete_where re-enters this patch
            fired.append(True)
            # concurrent writer rewrites one of OUR matched buckets
            other.delete_where(spk, f"id = {victim_id}")
        return matched, n

    # find a key sharing bucket with id=17 but a different key
    b17 = spark.range(0, 600).select(
        F.pmod(F.xxhash64("id"), F.lit(8)).cast("int").alias("b"), "id"
    )
    rows = {r["id"]: r["b"] for r in b17.collect()}
    victim_id = next(i for i in rows if i != 17 and rows[i] == rows[17])
    try:
        VersionedBucketMirror._dml_scope = race
        with pytest.raises(CommitConflict):
            m.delete_where(spark, "id = 17")
    finally:
        VersionedBucketMirror._dml_scope = planned
    # re-run against the new head succeeds and both deletes are in effect
    rec = m.delete_where(spark, "id = 17")
    assert rec["rows_deleted"] == 1
    got = m.read(spark)
    assert got.filter(f"id IN (17, {victim_id})").count() == 0
    assert got.count() == 598


def test_delete_where_disjoint_concurrent_commit_rebases(spark, tmp_path):
    root = str(tmp_path / "d")
    m = VersionedBucketMirror(
        root, n_buckets=8, key_col="id", keep_versions=10
    )
    m.initialize(_frame(spark))
    other = VersionedBucketMirror(
        root, n_buckets=8, key_col="id", keep_versions=10
    )
    b = spark.range(0, 600).select(
        F.pmod(F.xxhash64("id"), F.lit(8)).cast("int").alias("b"), "id"
    )
    rows = {r["id"]: r["b"] for r in b.collect()}
    disjoint_id = next(i for i in rows if rows[i] != rows[17])

    planned = VersionedBucketMirror._dml_scope
    fired = []

    def race(self, spk, cur, hit, prune):
        matched, n = planned(self, spk, cur, hit, prune)
        if not fired:  # the inner delete_where re-enters this patch
            fired.append(True)
            other.delete_where(spk, f"id = {disjoint_id}")
        return matched, n

    try:
        VersionedBucketMirror._dml_scope = race
        rec = m.delete_where(spark, "id = 17")
    finally:
        VersionedBucketMirror._dml_scope = planned
    assert rec["rows_deleted"] == 1
    got = m.read(spark)
    assert got.filter(f"id IN (17, {disjoint_id})").count() == 0
    assert got.count() == 598


def test_delete_where_folds_mor_delta_chain(spark, tmp_path):
    # on a merge-on-read table the DML rewrite is copy-on-write by
    # design: matched buckets' delta chains fold into the staged full
    # state; untouched buckets keep their chains
    from tabular_cdc_bootstrapper_spark.config import CdcTarget

    m = VersionedBucketMirror(
        str(tmp_path / "mor"),
        n_buckets=8,
        key_col="id",
        keep_versions=10,
        merge_on_read=True,
    )
    m.initialize(_frame(spark))
    batch = spark.range(0, 50).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.lit(-1.0).alias("val"),
        F.lit(True).alias("flag"),
        F.lit("U").alias("op"),
        F.lit(2).alias("transact_seq"),
    )
    m.merge_batch(batch, CdcTarget(source_uri="s3://x/t", key_column="id"))
    assert m.current().get("deltas")  # chains exist pre-DML
    rec = m.delete_where(spark, "val = -1.0 AND id < 10")
    got = m.read(spark)
    assert got.filter("id < 10").count() == 0
    assert got.filter("val = -1.0").count() == 40
    assert rec["rows_deleted"] == 10
    deltas = m.current().get("deltas") or {}
    for b in rec["matched_buckets"]:
        assert str(b) not in deltas  # folded by the rewrite


def test_plain_layout_dml_symmetry(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_frame(spark))
    rd = t.delete_where(spark, "grp = 5")
    assert rd["rows_deleted"] == _frame(spark).filter("grp = 5").count()
    assert t.read(spark).filter("grp = 5").count() == 0
    ru = t.update_where(spark, "grp = 2", {"val": "val * 0 - 1"})
    got = t.read(spark)
    assert got.filter("grp = 2 AND val != -1.0").count() == 0
    assert ru["rows_updated"] == got.filter("grp = 2").count()
    # no-op publishes nothing
    before = t.current()["version"]
    assert t.delete_where(spark, "grp = 99")["rows_deleted"] == 0
    assert t.update_where(spark, "grp = 99", {"val": "0"})[
        "rows_updated"
    ] == 0
    assert t.current()["version"] == before
    with pytest.raises(ValueError, match="unknown column"):
        t.update_where(spark, "grp = 2", {"nope": "1"})
    # time travel: pre-DML snapshot intact
    assert t.read_version(spark, rd["version"] - 1).count() == 600


def test_plain_layout_delete_conflicts_when_a_purge_removes_its_basis(
    spark, tmp_path, monkeypatch
):
    """A purge landing between the DELETE's match count and its write
    removes the dir the rewrite reads: the statement must surface as
    CommitConflict (re-run against the purged head), not a raw Spark
    read error."""
    root = str(tmp_path / "t")
    t = ParquetStateTable(root, keep_versions=10)
    t.commit(_frame(spark))
    other = ParquetStateTable(root, keep_versions=10)
    real_commit = ParquetStateTable.commit
    fired = []

    def commit(self, *args, **kwargs):
        if not fired:
            fired.append(True)
            other.purge_keys(
                spark, spark.createDataFrame([(7,)], "id long"), "id"
            )
        return real_commit(self, *args, **kwargs)

    monkeypatch.setattr(ParquetStateTable, "commit", commit)
    with pytest.raises(CommitConflict):
        t.delete_where(spark, "grp = 5")
    assert fired
    monkeypatch.setattr(ParquetStateTable, "commit", real_commit)
    rec = t.delete_where(spark, "grp = 5")
    assert rec["rows_deleted"] == _frame(spark).filter("grp = 5").count()
    assert t.read(spark).count() == 600 - rec["rows_deleted"] - 1


def test_mirror_insert_refuses_an_unknown_column(spark, mirror):
    """The mirror refuses a column its schema lacks, like the snapshot
    table: the insert publishes nothing and the schema is unchanged."""
    before = mirror.current()
    rows = spark.createDataFrame(
        [(10_000, 1, 1.0, True, "x")],
        "id long, grp long, val double, flag boolean, extra string",
    )
    with pytest.raises(ValueError, match="unknown column"):
        mirror.insert_rows(spark, rows)
    assert mirror.current() == before
    assert "extra" not in mirror.read(spark).columns
