"""Snapshot-log checkpoint compaction (r11 — the Delta _delta_log
checkpoint idea): once ``checkpoint_interval`` per-commit JSON files
accumulate, publish folds the committed ref-less history into one
``ckpt-<v>.checkpoint`` and deletes the files it covers, so log reads
cost O(commits since checkpoint) instead of O(all history). Laws:

- reads (entries/committed/history/time travel/rollback/tags) are
  bit-identical before and after compaction;
- branch staging and crash orphans are NEVER checkpointed (orphan GC
  and fast-forward always see per-version files);
- GDPR purge rewrites compacted metadata too — a checkpoint cannot
  resurrect purged data paths."""

from __future__ import annotations

import json
import os

import pytest

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.streaming.state_table import (
    ParquetStateTable,
)
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)


def _df(spark, tag, n=4):
    return spark.createDataFrame(
        [(i, f"{tag}-{i}") for i in range(n)], "id long, name string"
    )


def _ckpts(t):
    return [
        n
        for n in os.listdir(t._log.log_dir)
        if n.startswith("ckpt-") and n.endswith(".checkpoint")
    ]


def _vfiles(t):
    return [
        n
        for n in os.listdir(t._log.log_dir)
        if n.startswith("v-") and n.endswith(".json")
    ]


def test_checkpoint_folds_history_reads_identical(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=20)
    t._log.checkpoint_interval = 5
    for i in range(12):
        t.commit(_df(spark, f"v{i}"))
    assert len(_ckpts(t)) == 1  # superseded checkpoints GC'd
    assert len(_vfiles(t)) < 5  # covered files deleted
    hist = t.history()
    assert [e["version"] for e in hist] == list(range(12))
    assert all(e["readable"] for e in hist)
    # time travel into the checkpointed span
    assert {r.name for r in t.read_version(spark, 1).collect()} == {
        f"v1-{i}" for i in range(4)
    }
    # rollback to a checkpointed snapshot
    t.rollback(2)
    assert {r.name for r in t.read(spark).collect()} == {
        f"v2-{i}" for i in range(4)
    }
    # tags resolve against the merged view
    t.tag("old", version=3)
    assert {r.name for r in t.read_tag(spark, "old").collect()} == {
        f"v3-{i}" for i in range(4)
    }


def test_branch_staging_never_checkpointed(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=20)
    t._log.checkpoint_interval = 4
    t.commit(_df(spark, "v0"))
    t.branch("b")
    staged = t.commit(_df(spark, "b1"), branch="b")
    for i in range(6):  # main advances... wait, that would diverge
        pass
    # drive checkpointing via branch-invisible main state: fast-forward
    # first, then pile on commits
    head = t.fast_forward("b")
    assert head["version"] == staged["version"]
    for i in range(6):
        t.commit(_df(spark, f"m{i}"))
    assert len(_ckpts(t)) == 1
    # the whole lineage (incl. the fast-forwarded branch commit) reads
    assert [e["version"] for e in t.history()] == list(range(8))
    assert {r.name for r in t.read_version(spark, 1).collect()} == {
        f"b1-{i}" for i in range(4)
    }
    # a NEW branch staged after checkpointing stays a per-version file
    t.branch("c")
    staged2 = t.commit(_df(spark, "c1"), branch="c")
    fname = f"v-{staged2['version']:08d}.json"
    assert fname in _vfiles(t)
    with open(os.path.join(t._log.log_dir, _ckpts(t)[0])) as fh:
        ckpt_versions = {
            e["version"] for e in json.load(fh)["entries"]
        }
    assert staged2["version"] not in ckpt_versions
    assert t.fast_forward("c")["version"] == staged2["version"]


def test_purge_reaches_checkpointed_entries(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=20)
    t._log.checkpoint_interval = 4
    for i in range(8):
        t.commit(_df(spark, f"v{i}"))
    assert _ckpts(t)
    keys = spark.createDataFrame([(1,)], "id long")
    t.purge_keys(spark, keys, key_cols="id")
    # every retained snapshot — checkpointed span included — lost id=1
    for e in t.history():
        if e["readable"]:
            ids = {r.id for r in t.read_version(spark, e["version"]).collect()}
            assert 1 not in ids
    # and the checkpoint's compacted records point at the purged dirs
    with open(os.path.join(t._log.log_dir, _ckpts(t)[0])) as fh:
        for e in json.load(fh)["entries"]:
            assert "purge" in os.path.basename(e["dir"]) or e.get("purged_ts")


def test_mirror_checkpoint_roundtrip_and_purge(spark, tmp_path):
    target = CdcTarget(
        source_uri="file:///x", key_column="id", ts_column="ts"
    )

    def b(rows):
        return spark.createDataFrame(
            rows, "id long, name string, ts long, op string"
        )

    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=4, key_col="id", keep_versions=20
    )
    m._log.checkpoint_interval = 4
    m.initialize(b([(i, f"v0-{i}", 0, "I") for i in range(8)]))
    for i in range(1, 8):
        m.merge_batch(b([(i % 8, f"u{i}", i, "U")]), target)
    assert _ckpts(m) and len(_vfiles(m)) < 4
    assert [e["version"] for e in m.history()] == list(range(8))
    # time travel into the compacted span
    st3 = {r.id: r.name for r in m.read(spark, version=3).collect()}
    assert st3[3] == "u3" and st3[7] == "v0-7"
    # purge reaches checkpointed manifests
    m.purge_keys(spark, spark.createDataFrame([(2,)], "id long"))
    for e in m.history():
        if e["readable"]:
            ids = {r.id for r in m.read(spark, version=e["version"]).collect()}
            assert 2 not in ids
