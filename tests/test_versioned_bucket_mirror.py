"""Laws for VersionedBucketMirror (streaming/pipeline.py): the bucketed
CDC merge under Iceberg-manifest commits — immutable bucket-version dirs
plus a per-commit manifest, giving delta-proportional merges AND
mirror-wide time travel. The golden pipeline tests
(test_cdc_pipeline.py, parameterized over all three layouts) pin
end-to-end CDC correctness and exactly-once replay; these pin the
manifest mechanics: dir sharing across commits, version/timestamp
resolution, append-only rollback, retention GC with shared-dir
survival, and crash-staged orphan collection.
"""

from __future__ import annotations

import os

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


@pytest.fixture
def mirror(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=8, key_col="id", keep_versions=10
    )
    m.initialize(
        _batch(spark, [(i, f"v0-{i}", 0, "I") for i in range(16)])
    )
    return m


def test_merge_shares_untouched_bucket_dirs(spark, mirror):
    before = dict(mirror.current()["buckets"])
    # touch exactly the buckets of keys {0, 1}
    touched = {
        r["b"]
        for r in _batch(spark, [(0, "x", 1, "U"), (1, "y", 1, "U")])
        .select(mirror._bucket(F.col("id")).alias("b"))
        .distinct()
        .collect()
    }
    rec = mirror.merge_batch(
        _batch(spark, [(0, "x", 1, "U"), (1, "y", 1, "U")]), TARGET
    )
    after = rec["buckets"]
    assert set(rec["touched_buckets"]) == touched
    for b, d in before.items():
        if int(b) in touched:
            assert after[b] != d  # new immutable version dir
            assert os.path.isdir(d)  # ...and the old one still exists
        else:
            assert after[b] == d  # carried forward, byte-identical path


def test_version_and_timestamp_resolution(spark, mirror):
    mirror.merge_batch(_batch(spark, [(0, "x", 1, "U")]), TARGET)
    rec2 = mirror.merge_batch(_batch(spark, [(5, "D", 2, "D")]), TARGET)
    s0, s1, s2 = (_state(spark, mirror, v) for v in (0, 1, 2))
    assert s0[0] == "v0-0" and 5 in s0
    assert s1[0] == "x" and 5 in s1
    assert s2[0] == "x" and 5 not in s2
    assert _state(spark, mirror) == s2
    # as-of strictly before the head commit resolves to the previous one
    hist = mirror.history()
    mid = (hist[1]["ts"] + hist[2]["ts"]) / 2
    assert {r["id"] for r in mirror.read_as_of(spark, mid).collect()} == set(
        s1
    )
    with pytest.raises(ValueError, match="at or before"):
        mirror.read_as_of(spark, hist[0]["ts"] - 1)
    with pytest.raises(ValueError, match="no snapshot 9"):
        mirror.read_version(spark, 9)
    assert rec2["version"] == 2


def test_rollback_is_append_only_and_shares_dirs(spark, mirror):
    mirror.merge_batch(_batch(spark, [(0, "x", 1, "U")]), TARGET)
    rec = mirror.rollback(0)
    assert rec["version"] == 2 and rec["rollback_of"] == 0
    assert _state(spark, mirror)[0] == "v0-0"
    hist = mirror.history()
    assert [e["version"] for e in hist] == [0, 1, 2]
    assert hist[2]["buckets"] == hist[0]["buckets"]  # shared, not copied
    # the skipped snapshot remains readable
    assert _state(spark, mirror, 1)[0] == "x"


def test_retention_gc_keeps_shared_dirs_alive(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=4, key_col="id", keep_versions=2
    )
    m.initialize(_batch(spark, [(i, f"v0-{i}", 0, "I") for i in range(8)]))
    v0_dirs = set(m.current()["buckets"].values())
    # three single-key merges: each rewrites ONE bucket, others shared
    for i, ts in ((0, 1), (0, 2), (0, 3)):
        m.merge_batch(_batch(spark, [(i, f"u{ts}", ts, "U")]), TARGET)
    # v0 and v1 are out of retention (keep 2: v2, v3)
    hist = m.history()
    assert [e["readable"] for e in hist] == [False, False, True, True]
    with pytest.raises(ValueError, match="expired"):
        m.read_version(spark, 0)
    # but v0 dirs for NEVER-touched buckets are still on disk — they are
    # shared by the retained manifests
    retained = set(hist[2]["buckets"].values()) | set(hist[3]["buckets"].values())
    for d in v0_dirs & retained:
        assert os.path.isdir(d)
    # while bucket-0's superseded exclusive versions are gone
    gone = v0_dirs - retained
    assert gone and all(not os.path.isdir(d) for d in gone)
    # current state is fully readable
    assert _state(spark, m)[0] == "u3"


def test_crash_staged_orphan_dirs_are_collected(spark, mirror):
    # simulate a crash after install-moves but before manifest publish:
    # a version dir exists that no manifest references
    borphan = os.path.join(mirror.data_dir, "bucket=0", "v-00000099-dead")
    os.makedirs(borphan)
    with open(os.path.join(borphan, "junk.parquet"), "w") as fh:
        fh.write("not really parquet")
    # age it past the in-flight grace (r11: a FRESH unreferenced dir is
    # presumed a concurrent writer's not-yet-published staging) — after
    # the file write, which refreshes the dir mtime
    os.utime(borphan, (0, 0))
    mirror.merge_batch(_batch(spark, [(0, "x", 1, "U")]), TARGET)
    assert not os.path.isdir(borphan)  # GC'd by the next publish
    assert _state(spark, mirror)[0] == "x"  # state unaffected


def test_full_delete_drops_bucket_from_manifest(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=2, key_col="id", keep_versions=10
    )
    m.initialize(_batch(spark, [(0, "a", 0, "I"), (1, "b", 0, "I")]))
    # delete every key of one bucket
    bucket_of = {
        r["id"]: r["b"]
        for r in _batch(spark, [(0, "a", 0, "I"), (1, "b", 0, "I")])
        .select("id", m._bucket(F.col("id")).alias("b"))
        .collect()
    }
    victims = [k for k, b in bucket_of.items() if b == bucket_of[0]]
    m.merge_batch(
        _batch(spark, [(k, "x", 1, "D") for k in victims]), TARGET
    )
    assert str(bucket_of[0]) not in m.current()["buckets"]
    survivors = _state(spark, m)
    assert set(survivors) == {k for k in (0, 1) if k not in victims}
    # time travel still sees the pre-delete bucket
    assert set(_state(spark, m, 0)) == {0, 1}


# --- GDPR purge on the bucketed layout (r9) ---------------------------------


def test_purge_keys_touches_only_key_buckets(spark, mirror):
    """Purge must rewrite ONLY the buckets the purge keys hash to; every
    other bucket dir must be byte-identical (same path) afterwards —
    the bucketed purge's scale property."""
    mirror.merge_batch(_batch(spark, [(0, "x", 1, "U")]), TARGET)
    before = dict(mirror.current()["buckets"])
    keys = spark.createDataFrame([(3,), (7,)], "id long")
    touched = {
        str(r["b"])
        for r in keys.select(mirror._bucket(F.col("id")).alias("b"))
        .distinct()
        .collect()
    }
    out = mirror.purge_keys(spark, keys)
    assert sorted(int(b) for b in touched) == out["touched_buckets"]
    after = dict(mirror.current()["buckets"])
    for b, d in before.items():
        if b in touched:
            # rewritten under a new dir, or dropped if the purge emptied it
            assert after.get(b) != d, f"touched bucket {b} not rewritten"
        else:
            assert after[b] == d, f"untouched bucket {b} was rewritten"
    # keys gone from CURRENT and from every retained version
    for v in (0, 1):
        state = _state(spark, mirror, version=v)
        assert 3 not in state and 7 not in state, v
    assert 0 in _state(spark, mirror)  # everything else intact


def test_purge_keys_empties_bucket_and_preserves_history(spark, tmp_path):
    """Purging every key of a bucket drops it from all manifests (the
    fully-deleted-bucket rule); versions and rollback targets survive."""
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=4, key_col="id", keep_versions=10
    )
    m.initialize(_batch(spark, [(i, f"v0-{i}", 0, "I") for i in range(12)]))
    m.merge_batch(_batch(spark, [(0, "x", 1, "U")]), TARGET)
    m.rollback(0)
    # find every key living in key 5's bucket and purge them all
    b5 = [r["b"] for r in
          spark.createDataFrame([(5,)], "id long")
          .select(m._bucket(F.col("id")).alias("b")).collect()][0]
    all_keys = spark.range(12).select(F.col("id"))
    bucket_keys = all_keys.filter(m._bucket(F.col("id")) == b5)
    doomed = {r["id"] for r in bucket_keys.collect()}
    out = m.purge_keys(spark, bucket_keys)
    assert out["manifests_rewritten"] == 3
    h = m.history()
    assert [e["version"] for e in h] == [0, 1, 2]
    assert all(str(b5) not in e["buckets"] for e in h)
    assert all("purged_ts" in e for e in h)
    for v in (0, 1, 2):
        state = _state(spark, m, version=v)
        assert not (doomed & set(state)), v
    assert 0 in _state(spark, m)  # rollback state (v0 names) still reads


def test_purge_keys_is_idempotent(spark, mirror):
    keys = spark.createDataFrame([(2,)], "id long")
    mirror.purge_keys(spark, keys)
    state1 = _state(spark, mirror)
    mirror.purge_keys(spark, keys)  # converges: same state, key still gone
    assert _state(spark, mirror) == state1
    assert 2 not in state1


def test_retention_tells_buckets_apart(tmp_path):
    """Dir names repeat across buckets up to their 32-bit uuid suffix,
    so retention must match a dir by its bucket too: an aged unlogged
    dir in bucket 1 is reclaimed even when a retained dir in bucket 0
    carries the same name. No Spark — dirs and log written by hand."""
    import json

    m = VersionedBucketMirror(str(tmp_path / "m"), n_buckets=2, key_col="k")
    os.makedirs(m._log.log_dir)
    name = "v-00000000-0000abcd"
    rec = {
        "version": 0,
        "ts": 0.0,
        "n_buckets": 2,
        "buckets": {
            "0": os.path.join(m.data_dir, "bucket=0", name),
            "1": os.path.join(m.data_dir, "bucket=1", "v-00000000-0000beef"),
        },
    }
    for d in rec["buckets"].values():
        os.makedirs(d)
    with open(m._log._entry_path(0), "w") as fh:
        json.dump(rec, fh)
    with open(m._log.pointer_path, "w") as fh:
        json.dump(rec, fh)
    orphan = os.path.join(m.data_dir, "bucket=1", name)
    os.makedirs(orphan)
    aged = 1.0  # far past the conflict grace
    os.utime(orphan, (aged, aged))
    m._expire(rec)
    assert not os.path.isdir(orphan)
    assert all(os.path.isdir(d) for d in rec["buckets"].values())


def test_purge_keys_on_a_multi_column_key(spark, mirror):
    """A purge key of several columns removes only rows matching all of
    them, and still touches only the hash buckets of the bucket key."""
    keys = spark.createDataFrame(
        [(3, "v0-3"), (4, "not-a-name")], "id long, name string"
    )
    out = mirror.purge_keys(spark, keys, ["id", "name"])
    state = _state(spark, mirror)
    assert 3 not in state and state[4] == "v0-4" and len(state) == 15
    assert out["touched_buckets"] == sorted(
        r["b"]
        for r in keys.select(mirror._bucket(F.col("id")).alias("b"))
        .distinct()
        .collect()
    )


def test_expire_snapshots_reclaims_only_superseded_bucket_dirs(spark, mirror):
    """Expiring old manifests reclaims exactly the bucket versions that
    later merges rewrote; shared (untouched) bucket dirs survive."""
    m0 = dict(mirror.current()["buckets"])
    rec = mirror.merge_batch(_batch(spark, [(0, "x", 1, "U")]), TARGET)
    touched = {str(b) for b in rec["touched_buckets"]}
    out = mirror.expire_snapshots(keep_last=1)
    assert out["expired_versions"] == [0]
    # only the superseded (since-rewritten) bucket dirs were removed
    assert out["dirs_removed"] == len(touched)
    for b, d in m0.items():
        assert os.path.isdir(d) == (b not in touched), b
    h = mirror.history()
    assert [e["readable"] for e in h] == [False, True]
    assert _state(spark, mirror)[0] == "x"  # current intact


def test_tag_keeps_manifest_alive_on_bucketed_mirror(spark, tmp_path):
    """Tags on the bucketed mirror: a tagged manifest's bucket dirs
    survive per-commit retention AND expire_snapshots until the tag is
    deleted — including dirs later merges superseded."""
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=4, key_col="id", keep_versions=2
    )
    m.initialize(_batch(spark, [(i, f"v0-{i}", 0, "I") for i in range(8)]))
    m.tag("training-run")  # defaults to current (v0)
    for ts in (1, 2, 3):
        m.merge_batch(_batch(spark, [(0, f"u{ts}", ts, "U")]), TARGET)
    # v0 is outside keep_versions=2 but tagged → fully readable
    assert _state(spark, m, version=0)[0] == "v0-0"
    assert {r["id"] for r in m.read_tag(spark, "training-run").collect()} == set(range(8))
    out = m.expire_snapshots(keep_last=1)
    assert 0 not in out["expired_versions"]
    assert _state(spark, m, version=0)[0] == "v0-0"
    m.delete_tag("training-run")
    out = m.expire_snapshots(keep_last=1)
    assert 0 in out["expired_versions"]
    with pytest.raises(ValueError, match="expired"):
        m.read_version(spark, 0)
    assert _state(spark, m)[0] == "u3"  # current untouched


# --- write-audit-publish on the bucketed layout (r10) -------------------------


def test_wap_bucketed_failing_audit_never_publishes(spark, mirror):
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        not_null,
        row_count_within,
    )

    v_before = mirror.current()["version"]
    state_before = _state(spark, mirror)
    bad = _batch(spark, [(i, f"v1-{i}", 1, "I") for i in range(3)])  # -81%
    out = mirror.write_audit_publish(
        spark, bad, [not_null("id"), row_count_within(10, 100)]
    )
    assert out["published"] is False and out["version"] is None
    failed = {r["rule"] for r in out["report"] if not r["passed"]}
    assert failed == {"row_count_within(10/100)"}
    anomaly = [r for r in out["report"] if "row_count" in r["rule"]][0]
    assert anomaly["baseline"] == 16 and anomaly["observed"] == 3
    assert mirror.current()["version"] == v_before
    assert _state(spark, mirror) == state_before
    assert not [d for d in os.listdir(mirror.root) if d.startswith("wap-")]


def test_wap_bucketed_passing_audit_publishes_one_manifest(spark, mirror):
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        not_null,
        row_count_within,
    )

    good = _batch(spark, [(i, f"v1-{i}", 1, "I") for i in range(15)])
    out = mirror.write_audit_publish(
        spark,
        good,
        [not_null("id"), row_count_within(10, 100)],
        meta={"job": "nightly"},
    )
    assert out["published"] is True
    head = mirror.current()
    assert head["audited"] is True and head["job"] == "nightly"
    assert _state(spark, mirror) == {i: f"v1-{i}" for i in range(15)}
    # full-state semantics: the manifest maps exactly the staged buckets
    assert set(head["buckets"]) == {
        str(r["b"])
        for r in good.select(mirror._bucket(F.col("id")).alias("b"))
        .distinct()
        .collect()
    }
    # old snapshot stays time-travelable
    assert _state(spark, mirror, version=0) == {
        i: f"v0-{i}" for i in range(16)
    }


def test_wap_bucketed_stale_staging_gc_spares_fresh(spark, mirror):
    import time as _time

    from tabular_cdc_bootstrapper_spark.functions.constraints import not_null

    stale = os.path.join(mirror.root, "wap-deadbeef")
    fresh = os.path.join(mirror.root, "wap-cafebabe")
    os.makedirs(stale)
    os.makedirs(fresh)
    old = _time.time() - 7200
    os.utime(stale, (old, old))
    mirror.write_audit_publish(
        spark,
        _batch(spark, [(1, "x", 1, "I")]),
        [not_null("id")],
    )
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)


def test_wap_bucketed_anomaly_needs_baseline(spark, tmp_path):
    import pytest as _pytest

    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        row_count_within,
    )

    m = VersionedBucketMirror(
        str(tmp_path / "m2"), n_buckets=4, key_col="id", keep_versions=5
    )
    with _pytest.raises(ValueError, match="no committed snapshot"):
        m.write_audit_publish(
            spark,
            _batch(spark, [(1, "a", 0, "I")]),
            [row_count_within(5, 100)],
        )


# --- rewrite_data_files: manifest-aware small-file compaction (r10) -----------


def test_rewrite_data_files_compacts_and_preserves_history(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=4, key_col="id", keep_versions=10
    )
    rows = [(i, f"v0-{i}", 0, "I") for i in range(64)]
    # ~16 rows/bucket at 5 rows/file -> 4 files per bucket dir
    m.initialize(_batch(spark, rows), max_records_per_file=5)

    def nfiles(d):
        return sum(1 for n in os.listdir(d) if n.endswith(".parquet"))

    before = dict(m.current()["buckets"])
    assert any(nfiles(d) >= 2 for d in before.values())  # genuinely fragmented
    state_before = _state(spark, m)
    out = m.rewrite_data_files(spark)
    assert out["buckets_compacted"] >= 1
    assert out["files_after"] < out["files_before"]
    head = m.current()
    assert head["operation"] == "rewrite_data_files"
    # data identical, one file per compacted bucket dir
    assert _state(spark, m) == state_before
    for b, d in head["buckets"].items():
        if nfiles(before[b]) >= 2:
            assert d != before[b] and nfiles(d) == 1
    # history untouched: v0 still readable through its own (fragmented) dirs
    assert _state(spark, m, version=0) == state_before
    for d in before.values():
        assert os.path.isdir(d)
    # idempotent: nothing left to compact
    again = m.rewrite_data_files(spark)
    assert again["buckets_compacted"] == 0 and again["version"] is None


def test_rewrite_data_files_skips_tight_dirs(spark, mirror):
    # default layout writes one file per bucket: compaction is a no-op
    out = mirror.rewrite_data_files(spark)
    assert out["buckets_compacted"] == 0
    assert out["version"] is None


# --- writable branches on the bucketed layout (r10, shared TableOps) ---------


def test_mirror_branch_merge_invisible_until_fast_forward(spark, mirror):
    """Stage a CDC merge on a branch: main reads/history untouched, the
    branch head serves the merged state (touched-bucket cost, carry from
    the BRANCH head), fast-forward publishes atomically."""
    mirror.branch("risky")
    rec = mirror.merge_batch(
        _batch(spark, [(0, "b1-0", 1, "U"), (99, "b1-99", 1, "I")]),
        TARGET,
        branch="risky",
    )
    assert rec["ref"] == "risky" and rec["touched_buckets"]
    # main untouched
    assert _state(spark, mirror) == {i: f"v0-{i}" for i in range(16)}
    assert [e["version"] for e in mirror.history()] == [0]
    # branch sees the merge; second branch merge carries from branch head
    got = {
        r["id"]: r["name"]
        for r in mirror.read_branch(spark, "risky").collect()
    }
    assert got[0] == "b1-0" and got[99] == "b1-99" and got[5] == "v0-5"
    mirror.merge_batch(
        _batch(spark, [(99, "b2-99", 2, "U")]), TARGET, branch="risky"
    )
    got = {
        r["id"]: r["name"]
        for r in mirror.read_branch(spark, "risky").collect()
    }
    assert got[99] == "b2-99" and got[0] == "b1-0"
    hist = mirror.branch_history("risky")
    assert [e["version"] for e in hist] == [0, 1, 2]
    head = mirror.fast_forward("risky")
    assert head["version"] == 2 and "ref" not in head
    final = _state(spark, mirror)
    assert final[0] == "b1-0" and final[99] == "b2-99"
    assert [e["version"] for e in mirror.history()] == [0, 1, 2]


def test_mirror_branch_staging_survives_main_merge_gc(spark, mirror):
    """A staged branch manifest + its bucket dirs must survive a main
    merge's publish-time orphan GC and retention pass; divergence then
    blocks fast-forward."""
    import pytest as _pytest

    mirror.branch("b")
    staged = mirror.merge_batch(
        _batch(spark, [(0, "br", 1, "U")]), TARGET, branch="b"
    )
    staged_dirs = [
        d for d in staged["buckets"].values() if "v-00000001" in d
    ]
    assert staged_dirs
    mirror.merge_batch(_batch(spark, [(1, "m", 1, "U")]), TARGET)  # main
    for d in staged_dirs:
        assert os.path.isdir(d)
    assert {
        r["id"]: r["name"]
        for r in mirror.read_branch(spark, "b").collect()
    }[0] == "br"
    with _pytest.raises(ValueError, match="diverged"):
        mirror.fast_forward("b")
    # deleting the branch releases its staging to the next publish's GC
    # (once aged past the r11 in-flight grace — backdate to simulate)
    mirror.delete_branch("b")
    for d in staged_dirs:
        os.utime(d, (0, 0))
    os.utime(mirror._log._entry_path(staged["version"]), (0, 0))
    mirror.merge_batch(_batch(spark, [(2, "m2", 2, "U")]), TARGET)
    for d in staged_dirs:
        assert not os.path.isdir(d)


def test_mirror_wap_on_branch_then_fast_forward(spark, mirror):
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        not_null,
        row_count_within,
    )

    mirror.branch("etl")
    good = _batch(spark, [(i, f"w-{i}", 1, "I") for i in range(15)])
    out = mirror.write_audit_publish(
        spark,
        good,
        [not_null("id"), row_count_within(10, 100)],
        branch="etl",
    )
    assert out["published"] is True and out["ref"] == "etl"
    assert _state(spark, mirror) == {i: f"v0-{i}" for i in range(16)}
    # audit2 baseline is the BRANCH head (15 rows), not main (16)
    bad = mirror.write_audit_publish(
        spark,
        _batch(spark, [(1, "x", 2, "I")]),
        [row_count_within(10, 100)],
        branch="etl",
    )
    assert bad["published"] is False
    mirror.fast_forward("etl")
    assert _state(spark, mirror) == {i: f"w-{i}" for i in range(15)}


def test_mirror_purge_reaches_staged_branch_buckets(spark, mirror):
    mirror.branch("b")
    mirror.merge_batch(
        _batch(spark, [(3, "secret", 1, "U")]), TARGET, branch="b"
    )
    out = mirror.purge_keys(
        spark, spark.createDataFrame([(3,)], "id long"), "id"
    )
    assert out["bucket_dirs_rewritten"] >= 2  # main dir AND staged dir
    assert 3 not in _state(spark, mirror)
    assert 3 not in {
        r["id"] for r in mirror.read_branch(spark, "b").collect()
    }
    assert mirror.fast_forward("b")["version"] == 1


# --- clone on the bucketed layout (r10) ----------------------------------------


def test_mirror_shallow_clone_is_isolated(spark, mirror, tmp_path):
    mirror.merge_batch(_batch(spark, [(0, "v1-0", 1, "U")]), TARGET)
    clone = mirror.clone_to(str(tmp_path / "clone"), mode="shallow")
    assert _state(spark, clone) == _state(spark, mirror)
    assert _state(spark, clone, version=0) == {
        i: f"v0-{i}" for i in range(16)
    }
    # clone-side purge never touches source bytes
    clone.purge_keys(spark, spark.createDataFrame([(5,)], "id long"), "id")
    assert 5 not in _state(spark, clone)
    assert 5 not in _state(spark, clone, version=0)
    assert _state(spark, mirror)[5] == "v0-5"
    assert _state(spark, mirror, version=0)[5] == "v0-5"
    # clone evolves independently under its own root
    clone.merge_batch(_batch(spark, [(7, "c", 2, "U")]), TARGET)
    assert _state(spark, clone)[7] == "c" and _state(spark, mirror)[7] == "v0-7"


def test_mirror_deep_clone_survives_source_deletion(spark, mirror, tmp_path):
    import shutil as _shutil

    clone = mirror.clone_to(str(tmp_path / "deep"), mode="deep")
    _shutil.rmtree(mirror.root)
    assert _state(spark, clone) == {i: f"v0-{i}" for i in range(16)}


def test_mirror_clone_version_and_mode_validation(spark, mirror, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown clone mode"):
        mirror.clone_to(str(tmp_path / "x"), mode="sideways")
    with _pytest.raises(ValueError, match="no readable snapshot 9"):
        mirror.clone_to(str(tmp_path / "x"), version=9)


# --- manifest column stats + data-skipping reads (r10) -------------------------


def _stats_mirror(spark, tmp_path, rows):
    m = VersionedBucketMirror(
        str(tmp_path / "sm"),
        n_buckets=4,
        key_col="id",
        keep_versions=10,
        stats_cols=["ts", "name"],
    )
    m.initialize(_batch(spark, rows))
    return m


def test_manifest_records_per_bucket_stats(spark, tmp_path):
    rows = [(i, f"n{i:02d}", i * 10, "I") for i in range(16)]
    m = _stats_mirror(spark, tmp_path, rows)
    stats = m.current()["stats"]
    assert set(stats) == set(m.current()["buckets"])
    # bounds are genuine min/max per bucket
    from pyspark.sql import functions as F2

    for b, st in stats.items():
        got = (
            m.read_buckets(spark, [int(b)])
            .agg(F2.min("ts"), F2.max("ts"), F2.min("name"), F2.max("name"))
            .collect()[0]
        )
        assert st["ts"] == [got[0], got[1]] and st["name"] == [got[2], got[3]]


def test_read_pruned_skips_disjoint_buckets_exactly(spark, tmp_path):
    rows = [(i, f"n{i:02d}", i * 10, "I") for i in range(16)]
    m = _stats_mirror(spark, tmp_path, rows)
    full = {r["id"] for r in m.read(spark).collect()}
    # a range covering only some ts values: result exact, listing pruned
    kept, total = m._pruned_buckets("ts", 0, 30)
    assert total == len(m.current()["buckets"])
    expect_ids = {i for i in range(16) if 0 <= i * 10 <= 30}
    got = {r["id"] for r in m.read_pruned(spark, "ts", 0, 30).collect()}
    assert got == expect_ids and got < full
    # the kept listing must cover exactly the buckets holding those rows
    import pyspark.sql.functions as F2

    needed = {
        str(r["b"])
        for r in _batch(spark, [(i, "x", i * 10, "I") for i in expect_ids])
        .select(m._bucket(F2.col("id")).alias("b"))
        .distinct()
        .collect()
    }
    assert needed <= set(kept)
    # a fully-disjoint range prunes EVERY bucket
    kept2, _ = m._pruned_buckets("ts", 10_000, 20_000)
    assert kept2 == []
    assert m.read_pruned(spark, "ts", 10_000, 20_000) is None


def test_merge_updates_touched_stats_and_carries_rest(spark, tmp_path):
    rows = [(i, f"n{i:02d}", i * 10, "I") for i in range(16)]
    m = _stats_mirror(spark, tmp_path, rows)
    before = m.current()["stats"]
    import pyspark.sql.functions as F2

    touched = {
        str(r["b"])
        for r in _batch(spark, [(0, "zz", 999, "U")])
        .select(m._bucket(F2.col("id")).alias("b"))
        .collect()
    }
    m.merge_batch(_batch(spark, [(0, "zz", 999, "U")]), TARGET)
    after = m.current()["stats"]
    for b in after:
        if b in touched:
            assert after[b]["ts"][1] == 999  # fresh bound
        else:
            assert after[b] == before[b]  # carried, not recomputed
    # stale-but-safe after purge: bounds unchanged, result still exact
    m.purge_keys(spark, spark.createDataFrame([(0,)], "id long"), "id")
    assert m.read_pruned(spark, "ts", 500, 2000).count() == 0
    kept, _ = m._pruned_buckets("ts", 500, 2000)
    assert set(kept) == touched  # stats still claim the range (safe)


def test_stats_survive_rollback_and_missing_stats_read_safe(spark, tmp_path):
    rows = [(i, f"n{i:02d}", i * 10, "I") for i in range(8)]
    m = _stats_mirror(spark, tmp_path, rows)
    m.merge_batch(_batch(spark, [(0, "u", 777, "U")]), TARGET)
    rec = m.rollback(0)
    assert rec["stats"] == m.history()[0]["stats"]
    # a mirror WITHOUT stats_cols reads everything through read_pruned
    m2 = VersionedBucketMirror(
        str(tmp_path / "nostats"), n_buckets=4, key_col="id", keep_versions=5
    )
    m2.initialize(_batch(spark, rows))
    assert m2.read_pruned(spark, "ts", 0, 20).count() == 3
    kept, total = m2._pruned_buckets("ts", 0, 20)
    assert len(kept) == total  # nothing pruned, nothing lost


def test_sort_cols_gives_tight_per_file_stats(spark, tmp_path):
    """sort_cols (Iceberg WRITE ORDERED BY): with rows sorted inside each
    bucket's files, the files' own parquet stats are tight/disjoint —
    the native data-skipping layout for mid-domain range scans that
    bucket-level manifest stats cannot prune (hash spread)."""
    import glob

    import pyarrow.parquet as pq

    m = VersionedBucketMirror(
        str(tmp_path / "sorted"),
        n_buckets=2,
        key_col="id",
        keep_versions=5,
        sort_cols=["ts"],
    )
    rows = [(i, f"n{i}", (i * 37) % 1000, "I") for i in range(400)]
    m.initialize(_batch(spark, rows), max_records_per_file=50)
    for d in m.current()["buckets"].values():
        ranges = []
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == "ts":
                        mins.append(col.statistics.min)
                        maxs.append(col.statistics.max)
            ranges.append((min(mins), max(maxs)))
        assert len(ranges) >= 2  # genuinely split into several files
        # sorted writes -> file ranges are non-overlapping when ordered
        ordered = sorted(ranges)
        for (a_lo, a_hi), (b_lo, b_hi) in zip(ordered, ordered[1:]):
            assert a_hi <= b_lo
    # data unchanged by the sort
    assert {r["id"] for r in m.read(spark).collect()} == set(range(400))


def test_zorder_compaction_clusters_within_buckets(spark, tmp_path):
    """rewrite_data_files(zorder_cols=...) — OPTIMIZE ... ZORDER BY on
    the mirror (r11): state roundtrips exactly, and rows inside each
    rewritten bucket file are Morton-ordered over the given dimensions
    (verified by recomputing the z-key with the same global min/max and
    asserting per-file monotonicity)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.functions.layout import (
        with_zorder_key,
    )

    n = 32
    grid = spark.range(n * n).select(
        F.col("id"),
        (F.col("id") % n).alias("x"),
        (F.col("id") / n).cast("long").alias("y"),
    )
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=4, key_col="id", keep_versions=5
    )
    m.initialize(grid, max_records_per_file=64)  # fragmented layout
    pre = {(r.id, r.x, r.y) for r in m.read(spark).collect()}
    out = m.rewrite_data_files(spark, zorder_cols=["x", "y"])
    assert out["buckets_compacted"] == 4
    assert {(r.id, r.x, r.y) for r in m.read(spark).collect()} == pre
    # per-file monotone z-key (global min/max 0..n-1 on both dims, so
    # recomputation over the full read matches the staged scaling)
    raw = m.read(spark).withColumn("f", F.input_file_name())
    keyed = with_zorder_key(raw, ["x", "y"], out_col="zv").toPandas()
    for _f, g in keyed.groupby("f", sort=False):
        zv = g["zv"].to_list()
        assert zv == sorted(zv)


def test_date_column_stats_serialize_and_prune(spark, tmp_path):
    """r14: DATE columns in stats_cols — bounds land in the manifest as
    ISO strings (JSON-safe; lexicographic == temporal order), a
    beyond-range ISO-string predicate prunes every bucket, an in-range
    one stays exact, and the SQL front-end derives the prune from a
    DATE-literal WHERE."""
    from pyspark.sql import functions as F2

    from tabular_cdc_bootstrapper_spark.sql import TableSql

    m = VersionedBucketMirror(
        str(tmp_path / "ds"),
        n_buckets=4,
        key_col="id",
        keep_versions=10,
        stats_cols=["d"],
    )
    df = spark.range(0, 40).select(
        "id",
        F2.date_add(
            F2.to_date(F2.lit("2024-01-01")), F2.col("id").cast("int")
        ).alias("d"),
    )
    m.initialize(df)
    stats = m.current()["stats"]
    assert stats and all(
        isinstance(st["d"][0], str) and isinstance(st["d"][1], str)
        for st in stats.values()
    )
    # manifest round-trips through JSON (a raw datetime.date would crash)
    import json as _json

    _json.dumps(m.current())
    # beyond-range prune: every bucket dropped
    kept, _ = m._pruned_buckets("d", "2025-01-01", "2025-12-31")
    assert kept == []
    # in-range: exact rows
    got = {
        r["id"]
        for r in m.read_pruned(
            spark, "d", "2024-01-05", "2024-01-09"
        ).collect()
    }
    assert got == set(range(4, 9))
    # SQL derives the same prune from a DATE literal (hash spec: stats
    # can only prove beyond-range disjoint, so assert the zero case)
    t = TableSql(spark, {"ds": m})
    n = t.sql(
        "SELECT COUNT(*) AS n FROM ds WHERE d >= DATE '2025-06-01'"
    ).collect()[0]["n"]
    assert n == 0
    assert t._derive_prune(m, "d >= DATE '2025-06-01'") is not None


def test_timestamp_stats_keep_midnight_rows_on_date_grain_bounds(
    spark, tmp_path
):
    """r15 review: timestamp stats serialize as ISO DATETIME strings
    ('D 00:00:00') while a DATE-literal predicate contributes the
    10-char date string 'D' — a plain string compare would prove
    `mn > upper` for a bucket whose min is midnight of the bound's own
    day and wrongly prune its matching rows. The date-grain-truncating
    compare keeps it; genuinely disjoint buckets still prune."""
    from pyspark.sql import functions as F2

    m = VersionedBucketMirror(
        str(tmp_path / "ts"),
        n_buckets=1,  # one bucket => its stats ARE the row range
        key_col="id",
        keep_versions=10,
        stats_cols=["t"],
    )
    df = spark.range(0, 5).select(
        "id",
        F2.timestamp_seconds(
            F2.lit(1706659200) + F2.col("id") * 86400  # 2024-01-31 00:00 UTC
        ).cast("timestamp_ntz").alias("t"),
    )
    m.initialize(df)
    (st,) = m.current()["stats"].values()
    assert st["t"][0].startswith("2024-01-31 00:00")
    # upper bound = the min's own calendar day, date-only: MUST keep
    kept, _ = m._pruned_buckets("t", None, "2024-01-31")
    assert kept == ["0"]
    got = m.read_pruned(spark, "t", "2024-01-01", "2024-01-31")
    assert got is not None and got.count() == 1  # the midnight row
    # a day strictly before every row still prunes
    kept, _ = m._pruned_buckets("t", None, "2024-01-30")
    assert kept == []
    # and a point set on the boundary day keeps too (IN-list path)
    kept, _ = m._pruned_buckets("t", points=["2024-01-31"])
    assert kept == ["0"]


# --- staged write shape: one sizing rule (streaming/_sizing.py) --------------


def _result_stage_tasks(spark, fn) -> list[int]:
    """Run ``fn`` under a fresh job group and return the task count of
    the result stage of every job it ran that read a shuffle — the
    staged bucket write (exchange + ``partitionBy`` write) is one."""
    import uuid

    sc = spark.sparkContext
    group = f"write-shape-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    out = []
    for jid in tracker.getJobIdsForGroup(group):
        stages = sorted(tracker.getJobInfo(jid).stageIds)
        if len(stages) > 1:
            out.append(tracker.getStageInfo(stages[-1]).numTasks)
    return out


def _one_parquet_file(d: str) -> bool:
    return sum(n.endswith(".parquet") for n in os.listdir(d)) == 1


@pytest.mark.parametrize("op", ["initialize", "cow_merge", "mor_merge"])
def test_staged_write_runs_at_most_slot_count_tasks(spark, tmp_path, op):
    """A write into all 64 buckets of a mirror runs at most
    ``defaultParallelism`` tasks (not one per bucket dir), and every
    installed bucket dir still holds exactly one file: the exchange
    hashes on the bucket, so each bucket lands in one task."""
    m = VersionedBucketMirror(
        str(tmp_path / "m"),
        n_buckets=64,
        key_col="id",
        keep_versions=10,
        merge_on_read=op == "mor_merge",
    )
    rows = [(i, f"v0-{i}", 0, "I") for i in range(1024)]
    if op == "initialize":
        tasks = _result_stage_tasks(
            spark, lambda: m.initialize(_batch(spark, rows))
        )
        rec = m.current()
    else:
        m.initialize(_batch(spark, rows))
        # every bucket touched; the deletes give the merge-on-read
        # commit its keys-only delete slice as a second staged write
        batch = _batch(
            spark,
            [(i, f"v1-{i}", 1, "D" if i % 2 else "U") for i in range(1024)],
        )
        got = {}
        tasks = _result_stage_tasks(
            spark, lambda: got.update(m.merge_batch(batch, TARGET))
        )
        rec = got
        assert len(rec["touched_buckets"]) == 64
    assert tasks, "no shuffle-reading job ran"
    assert max(tasks) <= spark.sparkContext.defaultParallelism, tasks
    if op == "mor_merge":
        assert len(rec["deltas"]) == 64
        dirs = [s["dir"] for specs in rec["deltas"].values() for s in specs]
    else:
        dirs = list(rec["buckets"].values())
        assert len(dirs) == 64
    assert all(_one_parquet_file(d) for d in dirs)


def test_write_tasks_goes_one_per_dir_only_for_byte_heavy_inputs(tmp_path):
    """``write_tasks`` is slot-sized unless the frame being written scans
    ``ONE_TASK_PER_DIR_BYTES`` or more per output dir; rows from no file
    count 0. Spark-free: the session and frame are stand-ins."""
    from types import SimpleNamespace

    from tabular_cdc_bootstrapper_spark.streaming import _sizing

    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=4)
    )
    per_dir = _sizing.ONE_TASK_PER_DIR_BYTES
    files = []
    for i in range(2):
        p = tmp_path / f"part {i}.parquet"  # the URI quotes the space
        with open(p, "wb") as fh:
            fh.truncate(16 * per_dir)
        files.append(p.as_uri())

    def frame(uris):
        return SimpleNamespace(inputFiles=lambda: list(uris))

    assert _sizing.write_tasks(spark, None) == 4
    assert _sizing.write_tasks(spark, 3) == 3
    assert _sizing.write_tasks(spark, 64) == 4
    assert _sizing.write_tasks(spark, 64, frame([])) == 4
    # 32 x the threshold: one task per dir up to 32 dirs, slots above
    assert _sizing.write_tasks(spark, 32, frame(files)) == 32
    assert _sizing.write_tasks(spark, 33, frame(files)) == 4
    # a vanished file and a remote file count 0
    gone = (tmp_path / "gone.parquet").as_uri()
    assert _sizing.write_tasks(spark, 32, frame([files[0], gone])) == 4
    assert _sizing.write_tasks(
        spark, 16, frame(["s3a://bucket/x.parquet", files[0]])
    ) == 16
    assert _sizing.write_tasks(
        spark, 64, frame(["s3a://bucket/x.parquet"] + files)
    ) == 4


def test_byte_heavy_rewrite_runs_one_task_per_dir(spark, tmp_path, monkeypatch):
    """A copy-on-write merge whose touched buckets hold
    ``ONE_TASK_PER_DIR_BYTES`` or more per dir writes one task per
    bucket dir, so the scheduler balances uneven dirs; the layout is the
    same (one file per dir). An initial load from a driver-side list
    reads no file and stays slot-sized. The threshold is lowered to 1
    byte so the fixture stays small."""
    from tabular_cdc_bootstrapper_spark.streaming import _sizing

    monkeypatch.setattr(_sizing, "ONE_TASK_PER_DIR_BYTES", 1)
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=64, key_col="id", keep_versions=10
    )
    rows = [(i, f"v0-{i}", 0, "I") for i in range(1024)]
    slots = spark.sparkContext.defaultParallelism
    tasks = _result_stage_tasks(
        spark, lambda: m.initialize(_batch(spark, rows))
    )
    assert tasks and max(tasks) <= slots, tasks
    batch = _batch(spark, [(i, f"v1-{i}", 1, "U") for i in range(1024)])
    got = {}
    tasks = _result_stage_tasks(
        spark, lambda: got.update(m.merge_batch(batch, TARGET))
    )
    assert len(got["touched_buckets"]) == 64
    assert 64 in tasks, tasks
    dirs = list(got["buckets"].values())
    assert len(dirs) == 64 and all(_one_parquet_file(d) for d in dirs)
    assert _state(spark, m) == {i: f"v1-{i}" for i in range(1024)}
