"""Bucket-count (partition-spec) evolution laws (r11, VERDICT task 4):
``VersionedBucketMirror.rebucket(new_n)`` is ONE manifest commit that
rewrites the current state under the new hash spec — history intact,
subsequent merges and key lookups bind to the new spec (the spec rides
the manifest, so stale handles re-sync), merge-on-read chains fold
through, and golden CDC state survives the boundary."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)

TARGET = CdcTarget(source_uri="file:///tmp/x", key_column="id", ts_column="ts")


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, ts long, op string")


def _state(spark, m, version=None):
    df = m.read(spark, version=version)
    if df is None:
        return {}
    return {r["id"]: r["name"] for r in df.select("id", "name").collect()}


@pytest.mark.parametrize("mor", [False, True])
def test_rebucket_preserves_state_and_history(spark, tmp_path, mor):
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=4, key_col="id", keep_versions=10,
        merge_on_read=mor,
    )
    m.initialize(_batch(spark, [(i, f"v0-{i}", 0, "I") for i in range(32)]))
    m.merge_batch(_batch(spark, [(0, "x", 1, "U"), (5, None, 1, "D")]), TARGET)
    pre = _state(spark, m)
    pre_version = m.current()["version"]
    rec = m.rebucket(spark, 16)
    assert m.n_buckets == 16
    assert rec["n_buckets"] == 16 and rec["operation"] == "rebucket"
    assert len(rec["buckets"]) > 4  # the data actually spread out
    assert not rec.get("deltas")  # MoR chains folded by the rewrite
    assert _state(spark, m) == pre  # state invariant
    # history intact: the pre-rebucket snapshot still reads
    assert _state(spark, m, version=pre_version) == pre
    # merges after the boundary land under the new spec
    m.merge_batch(_batch(spark, [(7, "post", 2, "U")]), TARGET)
    st = _state(spark, m)
    assert st[7] == "post" and st[0] == "x" and 5 not in st
    # a key lookup prunes correctly under the new spec
    b = (
        spark.createDataFrame([(7,)], "id long")
        .select(m._bucket(F.col("id")).alias("b"))
        .collect()[0]["b"]
    )
    got = m.read_buckets(spark, [b]).filter(F.col("id") == 7).collect()
    assert len(got) == 1 and got[0]["name"] == "post"


def test_fresh_and_stale_handles_bind_to_manifest_spec(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=4, key_col="id", keep_versions=10
    )
    m.initialize(_batch(spark, [(i, f"v0-{i}", 0, "I") for i in range(16)]))
    stale = VersionedBucketMirror(  # opened BEFORE the rebucket
        str(tmp_path / "m"), n_buckets=4, key_col="id", keep_versions=10
    )
    m.rebucket(spark, 8)
    # a fresh handle with the old ctor default binds to the manifest
    fresh = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=4, key_col="id", keep_versions=10
    )
    assert fresh.n_buckets == 8
    # the stale handle re-syncs at its next write and merges correctly
    stale.merge_batch(_batch(spark, [(3, "via-stale", 1, "U")]), TARGET)
    assert stale.n_buckets == 8
    assert _state(spark, m)[3] == "via-stale"


def test_rebucket_requires_snapshot_and_noops_on_same_spec(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=4, key_col="id", keep_versions=10
    )
    with pytest.raises(ValueError, match="no snapshot"):
        m.rebucket(spark, 8)
    m.initialize(_batch(spark, [(0, "a", 0, "I")]))
    v = m.current()["version"]
    rec = m.rebucket(spark, 4)  # same spec: no-op, no new commit
    assert rec["version"] == v
    assert m.current()["version"] == v


@pytest.mark.parametrize(
    "evolve, harness",
    [
        ("rebucket", "mirror_rebucket_roundtrip"),
        ("regrain", "mirror_regrain_roundtrip"),
    ],
)
def test_history_probe_fails_on_damaged_history(
    spark, sf_dir, monkeypatch, evolve, harness
):
    """The spec-evolution harnesses' ``history_intact`` probe must be able
    to fail: drop one row from a pre-evolution data file right after the
    spec change, and the probe reports 0, not 1."""
    import os

    import pyarrow.parquet as pq

    from tabular_cdc_bootstrapper_spark.queries import cdc_state

    orig = getattr(VersionedBucketMirror, evolve)

    def evolve_then_damage(self, *args, **kwargs):
        pre = self.current()
        out = orig(self, *args, **kwargs)
        path = next(
            os.path.join(d, f)
            for d in sorted(self._entry_dirs(pre))
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
            and pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        )
        damaged = pq.read_table(path).slice(1)
        pq.write_table(damaged, os.path.join(os.path.dirname(path), "x.parquet"))
        os.remove(path)
        return out

    monkeypatch.setattr(VersionedBucketMirror, evolve, evolve_then_damage)
    got = {
        r["item"]: r["value"]
        for r in getattr(cdc_state, harness)(spark, sf_dir).collect()
    }
    assert got["history_intact"] == 0
