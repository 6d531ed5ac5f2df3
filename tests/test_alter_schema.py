"""Metadata-only ALTER TABLE on the versioned bucket mirror (r11):
rename records a physical-name mapping in the manifest (reads fold
coalesce(new, old…) — zero data movement), drop removes the column from
the logical schema (bytes stay until the next compaction materializes
the logical names and retires the mapping), history reads under each
snapshot's own schema, and the guard rails (bucket key, live delta fold
params, name collisions, legacy manifests) raise instead of corrupting."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.streaming.state_table import (
    ParquetStateTable,
)
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)

TARGET = CdcTarget(source_uri="file:///tmp/x", key_column="id", ts_column="ts")


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, ts long, op string")


@pytest.fixture
def mirror(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=8, key_col="id", keep_versions=10
    )
    m.initialize(_batch(spark, [(i, f"v0-{i}", 0, "I") for i in range(8)]))
    return m


def _raw_cols(spark, dirs):
    cols = set()
    for d in dirs:
        cols.update(spark.read.parquet(d).columns)
    return cols


def test_rename_reads_old_and_new_dirs_uniformly(spark, mirror):
    pre_version = mirror.current()["version"]
    rec = mirror.alter_schema(rename={"name": "label"})
    assert rec["operation"] == "alter_schema"
    assert rec["renames"] == {"label": ["name"]}
    out = mirror.read(spark)
    assert "label" in out.columns and "name" not in out.columns
    assert {r.id: r.label for r in out.collect()}[3] == "v0-3"
    # a merge under the NEW name mixes new-physical and old-physical dirs
    mirror.merge_batch(
        spark.createDataFrame(
            [(0, "renamed", 1, "U")],
            "id long, label string, ts long, op string",
        ),
        TARGET,
    )
    got = {r.id: r.label for r in mirror.read(spark).collect()}
    assert got[0] == "renamed" and got[5] == "v0-5" and len(got) == 8
    # time travel: the pre-alter snapshot reads under ITS schema
    old = mirror.read(spark, version=pre_version)
    assert "name" in old.columns and "label" not in old.columns


def test_drop_is_metadata_only_until_compaction(spark, mirror):
    mirror.alter_schema(drop=["op"])
    out = mirror.read(spark)
    assert "op" not in out.columns
    # the bytes are still in the old physical files (Iceberg drop)
    assert "op" in _raw_cols(spark, mirror.current()["buckets"].values())
    # compaction materializes the logical schema and reclaims them
    res = mirror.rewrite_data_files(spark, materialize=True)
    assert res["buckets_compacted"] > 0
    head = mirror.current()
    assert "op" not in _raw_cols(spark, head["buckets"].values())
    assert len(mirror.read(spark).collect()) == 8


def test_chained_rename_folds_all_historical_names(spark, mirror):
    mirror.alter_schema(rename={"name": "label"})
    mirror.merge_batch(
        spark.createDataFrame(
            [(9, "mid", 1, "I")], "id long, label string, ts long, op string"
        ),
        TARGET,
    )
    mirror.alter_schema(rename={"label": "tag"})
    assert mirror.current()["renames"] == {"tag": ["label", "name"]}
    got = {r.id: r.tag for r in mirror.read(spark).collect()}
    # v0 dirs (physical 'name'), merged dir (physical 'label'), all fold
    assert got[2] == "v0-2" and got[9] == "mid" and len(got) == 9
    # a full compaction retires the whole mapping
    mirror.rewrite_data_files(spark)
    assert "renames" not in mirror.current()
    assert "tag" in _raw_cols(spark, mirror.current()["buckets"].values())


def test_rename_then_drop_retires_mapping_and_tombstones_history(
    spark, mirror
):
    """Dropping a previously-renamed column must pop its rename mapping
    (ADVICE r12: a 'renames' entry for a name absent from the logical
    schema KeyError'd every subsequent read — a bricked table head) and
    tombstone its historical physical names; re-adding either name is a
    NEW field (r12 field IDs) whose previous generation's bytes stay
    masked."""
    mirror.alter_schema(rename={"name": "label"})
    # a merge under the new name leaves MIXED physical dirs behind
    mirror.merge_batch(
        spark.createDataFrame(
            [(0, "renamed", 1, "U")],
            "id long, label string, ts long, op string",
        ),
        TARGET,
    )
    rec = mirror.alter_schema(drop=["label"])
    # the mapping is gone with its column; both generations tombstoned
    assert "renames" not in rec
    assert set(rec["dropped"]) == {"label", "name"}
    # the head READS (pre-fix: KeyError on types['label'])
    out = mirror.read(spark)
    assert set(out.columns) == {"id", "ts", "op"}
    assert out.count() == 8
    # re-adding the dropped name works IMMEDIATELY (field IDs): the new
    # field reads NULL everywhere — both generations' bytes (physical
    # 'name' in the init dirs, physical 'label' in the merged dir) stay
    # invisible even though the files were never rewritten
    rec2 = mirror.alter_schema(add={"label": "string"})
    assert rec2["shadowed"] == {"label": rec2["version"]}
    assert all(r.label is None for r in mirror.read(spark).collect())
    # materializing compaction reclaims the bytes and clears the masks
    mirror.rewrite_data_files(spark, materialize=True)
    head = mirror.current()
    assert "dropped" not in head and "shadowed" not in head
    assert all(r.label is None for r in mirror.read(spark).collect())


def test_alter_guard_rails(spark, mirror):
    with pytest.raises(ValueError, match="bucket key"):
        mirror.alter_schema(rename={"id": "key"})
    with pytest.raises(ValueError, match="bucket key"):
        mirror.alter_schema(drop=["id"])
    with pytest.raises(ValueError, match="no column"):
        mirror.alter_schema(drop=["ghost"])
    mirror.alter_schema(rename={"name": "label"})
    with pytest.raises(ValueError, match="collides"):
        mirror.alter_schema(rename={"ts": "name"})  # historical name
    with pytest.raises(ValueError, match="collides"):
        mirror.alter_schema(rename={"ts": "label"})  # live name
    with pytest.raises(ValueError, match="nothing to do"):
        mirror.alter_schema()


def test_alter_on_mor_respects_fold_params(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=8, key_col="id", keep_versions=10,
        merge_on_read=True,
    )
    m.initialize(_batch(spark, [(i, f"v0-{i}", 0, "I") for i in range(8)]))
    m.merge_batch(_batch(spark, [(0, "x", 1, "U")]), TARGET)
    # ts/op are live fold params of the delta chain — refuse
    with pytest.raises(ValueError, match="delta specs"):
        m.alter_schema(rename={"ts": "event_ts"})
    # a non-fold column renames fine; the fold reads through the mapping
    m.alter_schema(rename={"name": "label"})
    got = {r.id: r.label for r in m.read(spark).collect()}
    assert got[0] == "x" and got[4] == "v0-4"
    # after folding, the fold params are free to alter
    m.rewrite_data_files(spark)
    m.alter_schema(rename={"ts": "event_ts"})
    assert "event_ts" in m.read(spark).columns


def test_rename_fold_preserves_column_pruning(spark, mirror):
    """The rename fold is pure plan work: selecting columns away from
    the renamed one keeps the scan's ReadSchema pruned to what the
    query needs — the coalesce projection must not force reading every
    historical column at 100 TB."""
    mirror.alter_schema(rename={"name": "label"})

    def read_schema(df) -> str:
        plan = df._jdf.queryExecution().executedPlan().toString()
        frags = [
            l.split("ReadSchema:")[1]
            for l in plan.splitlines()
            if "ReadSchema:" in l
        ]
        assert frags
        return frags[0]

    rs = read_schema(mirror.read(spark).select("id", "ts"))
    assert "label" not in rs and "name" not in rs
    # and when the renamed column IS selected, only it + its historical
    # alias reach the scan
    rs2 = read_schema(mirror.read(spark).select("label"))
    assert "label" in rs2 and "ts" not in rs2


def test_add_column_nullable_and_regeneration(spark, mirror):
    """ADD COLUMN is metadata-only: old files read NULL through the
    manifest schema. Re-adding a DROPPED name works immediately (r12
    field IDs): the new field is generation-masked, so the previous
    generation's bytes — still physically present in un-rewritten files
    — can never resurrect; a later merge writes real gen-2 values and
    they coexist with masked gen-1 dirs."""
    rec = mirror.alter_schema(add={"tier": "string"})
    assert rec["altered"]["add"] == ["tier"]
    out = mirror.read(spark)
    assert dict(out.dtypes)["tier"] == "string"
    assert all(r.tier is None for r in out.collect())
    # merge a batch carrying the new column — gen-1 values
    mirror.merge_batch(
        spark.createDataFrame(
            [(0, "x", 1, "U", "gold")],
            "id long, name string, ts long, op string, tier string",
        ),
        TARGET,
    )
    got = {r.id: r.tier for r in mirror.read(spark).collect()}
    assert got[0] == "gold" and got[3] is None
    # drop it: the name frees immediately; bytes linger tombstoned
    mirror.alter_schema(drop=["tier"])
    assert "tier" in mirror.current()["dropped"]
    # re-add WITHOUT compaction: a NEW field — gen-1 'gold' stays masked
    rec2 = mirror.alter_schema(add={"tier": "string"})
    assert mirror.current()["shadowed"] == {"tier": rec2["version"]}
    assert all(r.tier is None for r in mirror.read(spark).collect())
    # gen-2 values land and read beside masked gen-1 dirs
    mirror.merge_batch(
        spark.createDataFrame(
            [(1, "y", 2, "U", "silver")],
            "id long, name string, ts long, op string, tier string",
        ),
        TARGET,
    )
    got = {r.id: r.tier for r in mirror.read(spark).collect()}
    assert got[1] == "silver" and got[0] is None and got[3] is None
    # materializing compaction reclaims gen-1 bytes, clears the masks,
    # and PRESERVES gen-2 values
    mirror.rewrite_data_files(spark, materialize=True)
    head = mirror.current()
    assert "dropped" not in head and "shadowed" not in head
    got = {r.id: r.tier for r in mirror.read(spark).collect()}
    assert got[1] == "silver" and got[0] is None
    # raw files no longer hold gen-1 'gold' anywhere
    assert "gold" not in {
        r.tier
        for d in head["buckets"].values()
        for r in spark.read.parquet(d).collect()
    }
    # invalid type strings fail loudly
    with pytest.raises(Exception):
        mirror.alter_schema(add={"zz": "not_a_type"})


def test_shadowed_column_rename_refused_until_materialize(spark, mirror):
    """Renaming a re-added (generation-masked) column would let the
    rename fold resurrect the old label's previous-generation bytes —
    refuse until a materializing rewrite reclaims them."""
    mirror.merge_batch(
        spark.createDataFrame(
            [(0, "x", 1, "U")], "id long, name string, ts long, op string"
        ),
        TARGET,
    )
    mirror.alter_schema(drop=["name"])
    mirror.alter_schema(add={"name": "string"})
    with pytest.raises(ValueError, match="re-added after a drop"):
        mirror.alter_schema(rename={"name": "label"})
    mirror.rewrite_data_files(spark, materialize=True)
    mirror.alter_schema(rename={"name": "label"})
    assert "label" in mirror.read(spark).columns


def test_field_ids_allocated_and_stable(spark, mirror):
    """Field IDs (r12): allocated lazily at first DDL, preserved across
    rename (label change, same fid) and merges (via _widen_struct), and
    a re-added name gets a FRESH fid — the Iceberg column-identity
    rule."""
    from pyspark.sql import types as T

    mirror.alter_schema(rename={"name": "label"})
    sch = T.StructType.fromJson(mirror.current()["schema"])
    fids = {f.name: f.metadata.get("fid") for f in sch.fields}
    assert sorted(fids.values()) == [1, 2, 3, 4]
    label_fid = fids["label"]
    # a merge must not disturb identity metadata
    mirror.merge_batch(
        spark.createDataFrame(
            [(0, "x", 1, "U")], "id long, label string, ts long, op string"
        ),
        TARGET,
    )
    sch = T.StructType.fromJson(mirror.current()["schema"])
    assert {
        f.name: f.metadata.get("fid") for f in sch.fields
    }["label"] == label_fid
    # drop frees the name; re-add allocates a NEW fid
    mirror.alter_schema(drop=["label"])
    rec = mirror.alter_schema(add={"label": "string"})
    sch = T.StructType.fromJson(rec["schema"])
    new = {f.name: dict(f.metadata) for f in sch.fields}["label"]
    assert new["fid"] != label_fid and new["fid"] == rec["next_fid"] - 1
    assert new["added_v"] == rec["version"]


def test_widen_type_is_metadata_only(spark, tmp_path):
    """ALTER COLUMN TYPE (widen) is one manifest commit: old int32 files
    read as bigint through the parquet widening promotions; merges then
    land values beyond 2^31; lossless-only and the bucket key refuses."""
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=8, key_col="id", keep_versions=10
    )
    m.initialize(
        spark.createDataFrame(
            [(i, i * 10, 0, "I") for i in range(8)],
            "id long, v long, ts long, op string",
        ).withColumn("v", F.col("v").cast("int"))
    )
    base_dirs = dict(m.current()["buckets"])
    rec = m.alter_schema(widen={"v": "bigint"})
    assert rec["buckets"] == base_dirs  # zero data movement
    assert rec["altered"]["widen"] == {"v": "bigint"}
    out = m.read(spark)
    assert dict(out.dtypes)["v"] == "bigint"
    assert {r.id: r.v for r in out.collect()}[3] == 30
    big = 2**35
    m.merge_batch(
        spark.createDataFrame(
            [(0, big, 1, "U")], "id long, v long, ts long, op string"
        ),
        TARGET,
    )
    got = {r.id: r.v for r in m.read(spark).collect()}
    assert got[0] == big and got[5] == 50
    with pytest.raises(ValueError, match="not lossless"):
        m.alter_schema(widen={"v": "int"})
    with pytest.raises(ValueError, match="bucket key"):
        m.alter_schema(widen={"id": "bigint"})


@pytest.mark.parametrize("layout", ["snapshot", "bucketed"])
def test_ddl_surface_symmetric_across_layouts(spark, tmp_path, layout):
    """Both snapshot layouts expose the same metadata-only DDL surface
    (r12, VERDICT task 2): rename folds values, widen is lossless-only
    metadata, drop frees the name, re-add-after-drop masks the previous
    generation, and time travel reads every version under its own
    schema."""
    df = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(6)],
        "id long, name string, v long",
    ).withColumn("v", F.col("v").cast("int"))
    if layout == "snapshot":
        t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
        t.commit(df)

        def alter(**kw):
            return t.alter_schema(spark=spark, **kw)

    else:
        t = VersionedBucketMirror(
            str(tmp_path / "t"), n_buckets=4, key_col="id", keep_versions=10
        )
        t.initialize(df)
        alter = t.alter_schema
    v0 = t.current()["version"]
    # rename: pure metadata, values fold through the historical name
    alter(rename={"name": "label"})
    out = t.read(spark)
    assert "label" in out.columns and "name" not in out.columns
    assert {r.id: r.label for r in out.collect()}[3] == "v3"
    # widen: metadata-only type change, values intact
    alter(widen={"v": "bigint"})
    out = t.read(spark)
    assert dict(out.dtypes)["v"] == "bigint"
    assert {r.id: r.v for r in out.collect()}[4] == 40
    with pytest.raises(ValueError, match="not lossless"):
        alter(widen={"v": "int"})
    # drop frees the name immediately; re-add is a new masked field
    alter(drop=["label"])
    assert set(t.read(spark).columns) == {"id", "v"}
    rec = alter(add={"label": "string"})
    assert rec["shadowed"] == {"label": rec["version"]}
    out = t.read(spark)
    assert all(r.label is None for r in out.collect())
    assert out.count() == 6
    # time travel: every version reads under its own schema
    assert "name" in t.read_version(spark, v0).columns
    # guard rails shared across layouts
    with pytest.raises(ValueError, match="no column"):
        alter(drop=["ghost"])
    with pytest.raises(ValueError, match="nothing to do"):
        alter()
