"""A bucketed mirror created without a count sizes it by bytes
(``streaming/_sizing.py`` ``bucket_count``/``split_count``): the initial
load picks the smallest power of two that keeps each bucket at or below
``BUCKET_BYTES`` (the cap, 64, when its size is unknown), and a merge
that leaves the base buckets past twice that doubles the count through
``rebucket``. An explicit count never moves, and neither does a table
whose manifests record none.
Also pinned here: a merge's bucket ids and its basis manifest share one
spec even when a ``rebucket`` lands mid-merge, a purge reaches the
versions retained from before a ``rebucket``, and every CDC merge commit
is named ``cdc_merge``."""

from __future__ import annotations

import os
import random

import pytest

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.streaming import _sizing
from tabular_cdc_bootstrapper_spark.streaming._protocol import CommitConflict
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)
from tests.dms_scenario import generate
from tests.test_cdc_pipeline import DMS_SCHEMA, _mirror_dict

TARGET = CdcTarget(source_uri="file:///tmp/x", key_column="id", ts_column="ts")


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, ts long, op string")


def _state(spark, m, version=None) -> dict:
    df = m.read(spark, version=version)
    if df is None:
        return {}
    return {r["id"]: r["name"] for r in df.select("id", "name").collect()}


def _ops(m) -> list[str]:
    return [e.get("operation") for e in m.history()]


def test_bucket_count_rule():
    bb = _sizing.BUCKET_BYTES
    assert _sizing.bucket_count(0) == 1
    assert _sizing.bucket_count(bb) == 1
    assert _sizing.bucket_count(bb + 1) == 2
    assert _sizing.bucket_count(5 * bb) == 8
    assert _sizing.bucket_count(10**15) == _sizing.MAX_BUCKETS == 64
    assert _sizing.bucket_count(None) == 64  # size unknown: the cap
    assert _sizing.split_count(1, lambda limit: 2 * bb) is None
    assert _sizing.split_count(1, lambda limit: 2 * bb + 1) == 2
    assert _sizing.split_count(8, lambda limit: 17 * bb) == 16

    def unmeasured(limit):
        raise AssertionError("a table at the cap is not measured")

    assert _sizing.split_count(64, unmeasured) is None


class _Files:
    """A frame stand-in: ``input_bytes`` reads only ``inputFiles()``."""

    def __init__(self, *uris):
        self.uris = list(uris)

    def inputFiles(self):
        return self.uris


def test_load_bucket_count_sizes_local_files_only(tmp_path):
    """Local files are sized, and counting stops at the cap's bytes; a
    load with a file that is not local has no known size, so it takes
    the cap instead of 1."""
    bb = _sizing.BUCKET_BYTES
    f = tmp_path / "part.parquet"
    f.write_bytes(b"x" * (3 * bb))
    local = _Files(f"file://{f}")
    assert _sizing.input_bytes(local) == 3 * bb
    assert _sizing.load_bucket_count(local) == 4
    assert _sizing.input_bytes(_Files(*[f"file://{f}"] * 100), 5 * bb) == 6 * bb
    remote = _Files("s3a://bucket/load/LOAD0001.parquet", f"file://{f}")
    for src in (remote, _Files("hdfs://nn/load/LOAD0001.parquet")):
        assert _sizing.input_bytes(src, strict=True) is None
        assert _sizing.load_bucket_count(src) == 64
    assert _sizing.input_bytes(remote) == 3 * bb  # a staged write's count


def test_sized_mirror_over_remote_load_takes_the_cap(
    spark, tmp_path, monkeypatch
):
    """A sized mirror whose initial load reads a file that is not local
    starts at 64 buckets, not at the 1 bucket an unknown size would
    give, and its manifest still records the sizing policy."""
    load = _batch(spark, [(k, f"v0-{k}", 0, "I") for k in range(20)])
    monkeypatch.setattr(
        type(load), "inputFiles",
        lambda self: ["s3a://bucket/load/LOAD0001.parquet"],
    )
    m = VersionedBucketMirror(str(tmp_path / "m"), n_buckets=None, key_col="id")
    m.initialize(load)
    head = m.current()
    assert head["n_buckets"] == m.n_buckets == 64
    assert head["bucket_sizing"] == "bytes"
    assert _state(spark, m) == {k: f"v0-{k}" for k in range(20)}


@pytest.mark.parametrize(
    "layout", ["snapshot", "bucketed_versioned", "bucketed_versioned_mor"]
)
def test_default_pipeline_sizes_bucket_count(spark, tmp_path, layout):
    """``run_cdc_pipeline_available_now`` with no count: a 100-row source
    (a few kB) makes a 1-bucket mirror that records its sizing policy,
    and every merge commit is named ``cdc_merge`` on every layout."""
    from tabular_cdc_bootstrapper_spark.streaming.pipeline import (
        run_cdc_pipeline_available_now,
    )

    src = str(tmp_path / "src")
    expected = generate(src, seed=42)
    target = CdcTarget(source_uri=src, key_column="id", ts_column="ts")
    out = run_cdc_pipeline_available_now(
        spark, src, DMS_SCHEMA, str(tmp_path / "work"), target,
        mirror_layout=layout,
    )
    m = out["mirror"]
    assert _mirror_dict(m.read(spark)) == expected
    ops = _ops(m)
    assert ops[0] is None and set(ops[1:]) == {"cdc_merge"}
    if layout == "snapshot":
        return
    head = m.current()
    assert head["n_buckets"] == m.n_buckets == 1
    assert head["bucket_sizing"] == "bytes"
    assert list(head["buckets"]) == ["0"]


def _grow(spark, m, start: int, n: int, ts: int, width: int = 400):
    """Insert keys ``start``..``start+n-1`` with incompressible names."""
    rng = random.Random(start)
    rows = [
        (k, "%0*x" % (width, rng.getrandbits(4 * width)), ts, "I")
        for k in range(start, start + n)
    ]
    return m.merge_batch(_batch(spark, rows), TARGET), {r[0]: r[1] for r in rows}


@pytest.mark.parametrize("mor", [False, True])
def test_sized_mirror_splits_once_per_doubling(
    spark, tmp_path, monkeypatch, mor
):
    """Each merge that leaves the base past twice the constant per
    bucket doubles the count once. On merge-on-read the inserts sit in
    deltas until ``rewrite_data_files`` folds them, so each round
    compacts first and the merge splits on the folded base."""
    monkeypatch.setattr(_sizing, "BUCKET_BYTES", 16 << 10)
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=None, key_col="id", keep_versions=50,
        merge_on_read=mor,
    )
    m.initialize(_batch(spark, [(k, f"v0-{k}", 0, "I") for k in range(20)]))
    assert m.current()["n_buckets"] == 1  # rows from no file: 0 bytes
    oracle = {k: f"v0-{k}" for k in range(20)}
    snapshots: dict[int, dict] = {}
    counts = [1]
    for i in range(7):
        if mor:
            m.rewrite_data_files(spark)
        n_before = m.n_buckets
        rec, rows = _grow(spark, m, 1000 * (i + 1), 60, ts=i + 1)
        oracle.update(rows)
        assert rec["operation"] == "cdc_merge"
        snapshots[rec["version"]] = dict(oracle)
        want = _sizing.split_count(n_before, lambda _: m._base_bytes(rec))
        assert m.n_buckets == (want or n_before)
        head = m.current()
        assert head["n_buckets"] == m.n_buckets
        if want:
            assert head["operation"] == "rebucket"
            assert head["version"] == rec["version"] + 1
            assert head["bucket_sizing"] == "bytes"
            counts.append(want)
        assert all(int(b) < m.n_buckets for b in head["buckets"])
        assert _state(spark, m) == oracle
    # one rebucket per doubling, each exactly doubling
    assert len(counts) >= 3
    assert counts == [2**i for i in range(len(counts))]
    assert _ops(m).count("rebucket") == len(counts) - 1
    # a key lookup prunes under the current spec and stays exact
    keys = [3, 1001, 4059, 6030, 10**9]
    got = {
        r["id"]: r["name"]
        for r in m.read_pruned(spark, "id", keys).select("id", "name").collect()
    }
    assert got == {k: oracle[k] for k in keys if k in oracle}
    # every pre-split version still reads exactly
    for v, want_state in snapshots.items():
        assert _state(spark, m, version=v) == want_state


def test_mor_updates_to_the_same_keys_never_split(spark, tmp_path, monkeypatch):
    """Merge-on-read deltas of updates to the same keys are superseded
    rows, not live data: however many pile up, the table keeps its
    count, and after compaction its live bytes stay below a split."""
    monkeypatch.setattr(_sizing, "BUCKET_BYTES", 16 << 10)
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=None, key_col="id", keep_versions=5,
        merge_on_read=True,
    )
    m.initialize(_batch(spark, [(k, f"v0-{k}", 0, "I") for k in range(20)]))
    rng = random.Random(7)
    oracle = {}
    for i in range(8):
        rows = [
            (k, "%0400x" % rng.getrandbits(1600), i + 1, "U")
            for k in range(40)
        ]
        m.merge_batch(_batch(spark, rows), TARGET)
        oracle = {r[0]: r[1] for r in rows}
    head = m.current()
    assert m.n_buckets == head["n_buckets"] == 1
    assert "rebucket" not in _ops(m)
    # eight rounds of 40 incompressible 400-byte names: the deltas hold
    # far more than twice the constant, the live rows far less
    assert m._base_bytes(head) < 2 * _sizing.BUCKET_BYTES
    assert sum(
        os.path.getsize(os.path.join(s["dir"], f))
        for specs in head["deltas"].values()
        for s in specs
        for f in os.listdir(s["dir"])
        if f.endswith(".parquet")
    ) > 2 * _sizing.BUCKET_BYTES
    assert _state(spark, m) == oracle
    m.rewrite_data_files(spark)
    m.merge_batch(_batch(spark, [(0, oracle[0], 99, "U")]), TARGET)
    assert m.n_buckets == 1 and "rebucket" not in _ops(m)


def test_explicit_count_never_changes(spark, tmp_path, monkeypatch):
    """An int count is fixed, and a table created with one keeps it
    under a handle opened without a count: no split, no shrink."""
    monkeypatch.setattr(_sizing, "BUCKET_BYTES", 1 << 10)
    root = str(tmp_path / "m")
    m = VersionedBucketMirror(root, n_buckets=4, key_col="id")
    m.initialize(_batch(spark, [(k, f"v0-{k}", 0, "I") for k in range(20)]))
    reopened = VersionedBucketMirror(root, n_buckets=None, key_col="id")
    assert reopened.n_buckets == 4 and not reopened.sized
    for i, h in enumerate((m, reopened, m)):
        _grow(spark, h, 1000 * (i + 1), 40, ts=i + 1)
    assert "rebucket" not in _ops(m)
    assert all(e["n_buckets"] == 4 for e in m.history())
    assert all("bucket_sizing" not in e for e in m.history())
    # a 64-bucket table (the pre-sizing pipeline default) stays at 64
    big = str(tmp_path / "big")
    VersionedBucketMirror(big, n_buckets=64, key_col="id").initialize(
        _batch(spark, [(k, "x", 0, "I") for k in range(20)])
    )
    h = VersionedBucketMirror(big, n_buckets=None, key_col="id")
    _grow(spark, h, 100, 40, ts=1)
    assert h.current()["n_buckets"] == 64 and "rebucket" not in _ops(h)


def test_handle_without_count_keeps_a_table_that_records_none(spark, tmp_path):
    """Manifests written before the bucket count was recorded carry no
    ``n_buckets``; those tables were all written under the old default
    of 64. A handle opened without a count must hash under 64 too, or a
    merge reads one bucket and leaves the key's old row live in
    another."""
    import json

    root = tmp_path / "legacy"
    VersionedBucketMirror(str(root), n_buckets=64, key_col="id").initialize(
        _batch(spark, [(k, f"v0-{k}", 0, "I") for k in range(100)])
    )
    for f in [root / "_CURRENT", *(root / "_log").glob("v-*.json")]:
        rec = json.loads(f.read_text())
        rec.pop("n_buckets")
        f.write_text(json.dumps(rec))
    m = VersionedBucketMirror(str(root), n_buckets=None, key_col="id")
    assert m.n_buckets == 64
    m.merge_batch(_batch(spark, [(k, "new", 1, "U") for k in (5, 63)]), TARGET)
    want = {k: f"v0-{k}" for k in range(100)}
    want.update({5: "new", 63: "new"})
    rows = m.read(spark).select("id", "name").collect()
    assert len(rows) == 100
    assert {r["id"]: r["name"] for r in rows} == want
    assert "rebucket" not in _ops(m)


def test_split_conflict_keeps_merge_and_retries(spark, tmp_path, monkeypatch):
    """A commit that lands while the split publishes makes the split
    CommitConflict: the merge stays committed, the split is skipped, and
    the next merge splits."""
    monkeypatch.setattr(_sizing, "BUCKET_BYTES", 4 << 10)
    root = str(tmp_path / "m")
    m = VersionedBucketMirror(root, n_buckets=None, key_col="id", keep_versions=20)
    m.initialize(_batch(spark, [(k, f"v0-{k}", 0, "I") for k in range(20)]))
    other = VersionedBucketMirror(root, n_buckets=None, key_col="id")
    orig = VersionedBucketMirror._publish_commit
    injected = []

    def racing(self, record, expected_head=None):
        if record.get("operation") == "rebucket" and not injected:
            injected.append(1)
            other.insert_rows(spark, _batch(spark, [(777, "raced", 9, "I")]))
        return orig(self, record, expected_head)

    monkeypatch.setattr(VersionedBucketMirror, "_publish_commit", racing)
    rec, rows = _grow(spark, m, 1000, 60, ts=1)
    assert injected
    assert m.n_buckets == 1 and "rebucket" not in _ops(m)
    assert _ops(m)[-2:] == ["cdc_merge", "insert_into"]
    assert m.history()[-2]["version"] == rec["version"]
    oracle = {k: f"v0-{k}" for k in range(20)}
    oracle.update(rows)
    oracle[777] = "raced"
    assert _state(spark, m) == oracle
    # the next merge retries the split
    _, more = _grow(spark, m, 2000, 5, ts=2)
    oracle.update(more)
    assert m.n_buckets == 2 and _ops(m)[-1] == "rebucket"
    assert _state(spark, m) == oracle


def test_split_dropped_when_a_purge_races_its_read(
    spark, tmp_path, monkeypatch
):
    """A purge that deletes the dirs the split is reading drops the
    split like a lost CAS: the merge stays committed, ``merge_batch``
    returns, the purge holds, and the next merge splits."""
    monkeypatch.setattr(_sizing, "BUCKET_BYTES", 4 << 10)
    root = str(tmp_path / "m")
    m = VersionedBucketMirror(root, n_buckets=None, key_col="id", keep_versions=20)
    m.initialize(_batch(spark, [(k, f"v0-{k}", 0, "I") for k in range(20)]))
    other = VersionedBucketMirror(root, n_buckets=None, key_col="id")
    orig = VersionedBucketMirror._commit_staged
    purged = []

    def racing(self, df, touched, *args, **kwargs):
        if (kwargs.get("meta") or {}).get("operation") == "rebucket" and not purged:
            purged.append(1)  # the split's read is planned, not yet run
            other.purge_keys(spark, spark.createDataFrame([(3,)], "id long"))
        return orig(self, df, touched, *args, **kwargs)

    monkeypatch.setattr(VersionedBucketMirror, "_commit_staged", racing)
    rec, rows = _grow(spark, m, 1000, 60, ts=1)
    assert purged
    assert m.n_buckets == 1 and "rebucket" not in _ops(m)
    # the purge rewrote the merge's record in place
    head = m.current()
    assert head["version"] == rec["version"] and head.get("purged_ts")
    assert not [d for d in os.listdir(root) if d.startswith("staging-")]
    oracle = {k: f"v0-{k}" for k in range(20) if k != 3}
    oracle.update(rows)
    assert _state(spark, m) == oracle
    _, more = _grow(spark, m, 2000, 5, ts=2)
    oracle.update(more)
    assert m.n_buckets == 2 and _ops(m)[-1] == "rebucket"
    assert _state(spark, m) == oracle


@pytest.mark.parametrize("mor", [False, True])
def test_rebucket_during_merge_never_mixes_specs(
    spark, tmp_path, monkeypatch, mor
):
    """A ``rebucket`` from another handle lands after the merge computed
    its touched buckets: the merge must not read the new head's buckets
    by ids of the old spec, nor publish a manifest mixing both. It
    raises CommitConflict, and its re-run lands under the new spec."""
    root = str(tmp_path / "m")
    m = VersionedBucketMirror(
        root, n_buckets=8, key_col="id", keep_versions=10, merge_on_read=mor
    )
    m.initialize(_batch(spark, [(k, f"v0-{k}", 0, "I") for k in range(100)]))
    other = VersionedBucketMirror(
        root, n_buckets=8, key_col="id", keep_versions=10, merge_on_read=mor
    )
    orig = VersionedBucketMirror._partition_for
    fired = []

    def racing(self, key, df=None):
        col = orig(self, key, df)
        if self is m and not fired:
            fired.append(1)  # the touched-bucket aggregate is planned
            other.rebucket(spark, 2)
        return col

    monkeypatch.setattr(VersionedBucketMirror, "_partition_for", racing)
    batch = _batch(spark, [(5, "new", 1, "U")])
    try:
        m.merge_batch(batch, TARGET)
    except CommitConflict:
        m.merge_batch(batch, TARGET)  # the streaming replay
    assert fired
    head = m.current()
    assert head["n_buckets"] == 2
    assert all(int(b) < 2 for b in head["buckets"])
    assert all(int(b) < 2 for b in head.get("deltas") or {})
    want = {k: f"v0-{k}" for k in range(100)}
    want[5] = "new"
    assert _state(spark, m) == want


def test_purge_after_rebucket_reaches_pre_rebucket_versions(spark, tmp_path):
    """A purge hashes its keys under the head's spec; a retained version
    from before a ``rebucket`` holds them under other bucket ids, so all
    of its dirs are candidates and no purged key survives in history."""
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=8, key_col="id", keep_versions=10
    )
    m.initialize(_batch(spark, [(k, f"v0-{k}", 0, "I") for k in range(100)]))
    v0 = m.current()["version"]
    m.rebucket(spark, 2)
    gone = list(range(0, 100, 7))
    m.purge_keys(spark, spark.createDataFrame([(k,) for k in gone], "id long"))
    for v in (v0, None):
        state = _state(spark, m, version=v)
        assert sorted(state) == [k for k in range(100) if k not in gone]


def test_cli_registration_follows_a_split(tmp_path, monkeypatch):
    """The CLI's bucketed registration names the head's partitions; after
    a poll whose merge splits the mirror, it shows the new ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    expected = generate(src, seed=42)
    fqn = "cdc_bootstrap.sized_table"
    monkeypatch.setenv("TABULAR_BUCKET_NAME", "local-bucket")
    monkeypatch.setenv("TABULAR_BUCKET_MONITOR_PATH", "cdc/sized_table")
    monkeypatch.setenv("TABULAR_CDC_ID_FIELD", "id")
    monkeypatch.setenv("TABULAR_CDC_TIMESTAMP_FIELD", "ts")
    monkeypatch.setenv("SPARK_CDC_SOURCE_DIR", src)
    monkeypatch.setenv("SPARK_CDC_WORK_DIR", str(tmp_path / "work"))
    monkeypatch.setenv("SPARK_CDC_MIRROR_LAYOUT", "bucketed_versioned")

    from tabular_cdc_bootstrapper_spark.__main__ import main
    from tabular_cdc_bootstrapper_spark.session import get_spark

    assert main() == 0
    spark = get_spark()
    head = VersionedBucketMirror(
        str(tmp_path / "work" / "sized_table" / "mirror")
    )
    assert head.n_buckets == 1
    assert spark.sql(f"SHOW PARTITIONS {fqn}").count() == 1

    # the next poll's merge leaves its one bucket past the threshold
    monkeypatch.setattr(_sizing, "BUCKET_BYTES", 1)
    pq.write_table(
        pa.table({
            "id": [10_001], "name": ["polled"],
            "modification_date": ["2024-01-02T00:00:01"],
            "table": ["test_table"], "op": ["I"],
            "ts": ["2024-01-02T00:00:01"],
        }),
        os.path.join(src, "2024-01-02T00-00-01.parquet"),
    )
    expected[10_001] = {
        "id": 10_001, "name": "polled",
        "modification_date": "2024-01-02T00:00:01",
    }
    assert main() == 0
    cur = head.current()
    assert cur["operation"] == "rebucket" and cur["n_buckets"] == 2
    parts = {
        r[0] for r in spark.sql(f"SHOW PARTITIONS {fqn}").collect()
    }
    assert parts == {f"bucket={b}" for b in cur["buckets"]}
    assert _mirror_dict(spark.table(fqn)) == expected
