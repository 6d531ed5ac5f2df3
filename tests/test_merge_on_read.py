"""Merge-on-read laws for VersionedBucketMirror (r11, VERDICT task 2 —
the Iceberg v2 delete-file / Delta deletion-vector cost model):

- a CDC merge APPENDS one delta dir per touched bucket (the batch's
  latest-per-key slice, tombstones retained) — base dirs never move;
- reads fold base + delta chain per bucket, bit-identical to the
  copy-on-write result (including late out-of-order events: the fold is
  ts-ordered, exactly ``apply_changelog`` iterated per commit);
- ``rewrite_data_files`` is the fold point: deltas collapse into a new
  base, the PRE-fold snapshot still folds its chain (history intact);
- GDPR purge reaches delta upserts AND key-bearing tombstones;
- rollback restores a delta'd manifest chain.

The golden end-to-end CDC tests (test_cdc_pipeline.py) run the full
streaming pipeline over the ``bucketed_versioned_mor`` layout too.
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
def mor(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"),
        n_buckets=8,
        key_col="id",
        keep_versions=10,
        merge_on_read=True,
    )
    m.initialize(_batch(spark, [(i, f"v0-{i}", 0, "I") for i in range(16)]))
    return m


def test_mor_merge_appends_delta_base_untouched(spark, mor):
    base_dirs = dict(mor.current()["buckets"])
    batch = _batch(spark, [(0, "x", 1, "U"), (3, "y", 1, "U")])
    touched = {
        str(r["b"])
        for r in batch.select(mor._bucket(F.col("id")).alias("b"))
        .distinct()
        .collect()
    }
    rec = mor.merge_batch(batch, TARGET)
    # every base dir carried forward byte-identically
    assert rec["buckets"] == base_dirs
    # exactly the touched buckets grew a one-entry delta chain
    assert set(rec["deltas"]) == touched
    for b, specs in rec["deltas"].items():
        assert len(specs) == 1 and "-delta-" in specs[0]["dir"]
        assert specs[0]["key"] == "id" and specs[0]["delete_op"] == "D"
    # the fold reads the merged state
    st = _state(spark, mor)
    assert st[0] == "x" and st[3] == "y" and st[5] == "v0-5"
    assert len(st) == 16


def test_mor_delete_masks_base_and_time_travel(spark, mor):
    mor.merge_batch(_batch(spark, [(2, None, 1, "D")]), TARGET)
    mor.merge_batch(_batch(spark, [(2, "back", 2, "I")]), TARGET)
    assert 2 not in _state(spark, mor, version=1)  # tombstone masks base
    assert _state(spark, mor, version=2)[2] == "back"  # later delta wins
    assert _state(spark, mor, version=0)[2] == "v0-2"  # pre-delta snapshot
    assert len(_state(spark, mor)) == 16


def test_mor_fold_matches_cow_exactly(spark, tmp_path):
    """Same batches through a CoW mirror and a MoR mirror give identical
    state — including a late event OLDER than an applied delete (the
    CoW iterated semantics: resolution is ts-based per batch, so the
    resurrected row stands; a naive one-shot global fold would differ)."""
    batches = [
        [(1, "b1", 5, "U"), (2, "n2", 5, "U")],
        [(1, None, 9, "D")],
        [(1, "late", 7, "U")],  # older ts than the delete, later batch
    ]
    states = []
    for mode in (False, True):
        m = VersionedBucketMirror(
            str(tmp_path / f"m-{mode}"),
            n_buckets=8,
            key_col="id",
            keep_versions=10,
            merge_on_read=mode,
        )
        m.initialize(_batch(spark, [(i, f"v0-{i}", 0, "I") for i in range(4)]))
        for rows in batches:
            m.merge_batch(_batch(spark, rows), TARGET)
        states.append(_state(spark, m))
    assert states[0] == states[1]
    assert states[0][1] == "late"  # pins the iterated (per-batch) law


def test_mor_compaction_folds_chain_history_intact(spark, mor):
    mor.merge_batch(_batch(spark, [(0, "x", 1, "U")]), TARGET)
    mor.merge_batch(
        _batch(spark, [(0, "x2", 2, "U"), (7, None, 2, "D")]), TARGET
    )
    pre = _state(spark, mor)
    pre_version = mor.current()["version"]
    out = mor.rewrite_data_files(spark)
    assert out["buckets_compacted"] >= 1
    head = mor.current()
    assert head.get("operation") == "rewrite_data_files"
    assert not head.get("deltas")  # chain folded away
    assert _state(spark, mor) == pre  # state identical post-fold
    # the PRE-fold snapshot still reads through its delta chain
    assert _state(spark, mor, version=pre_version) == pre
    # and a fold with nothing to fold is a no-op
    out2 = mor.rewrite_data_files(spark)
    assert out2["buckets_compacted"] == 0


def test_mor_write_amplification_is_delta_sized(spark, mor):
    """The commit writes the batch slice, never the bucket: the new
    delta dir holds exactly the batch's latest-per-key rows."""
    batch = _batch(
        spark, [(0, "a", 1, "U"), (0, "b", 2, "U"), (8, "c", 1, "U")]
    )
    rec = mor.merge_batch(batch, TARGET)
    delta_rows = 0
    for specs in rec["deltas"].values():
        for s in specs:
            delta_rows += spark.read.parquet(s["dir"]).count()
    assert delta_rows == 2  # latest-per-key of 3 events over 2 keys
    st = _state(spark, mor)
    assert st[0] == "b" and st[8] == "c"


def test_mor_purge_reaches_delta_upserts_and_tombstones(spark, mor):
    mor.merge_batch(_batch(spark, [(4, "pii", 1, "U")]), TARGET)
    mor.merge_batch(_batch(spark, [(4, None, 2, "D")]), TARGET)
    mor.merge_batch(_batch(spark, [(4, "pii2", 3, "I")]), TARGET)
    res = mor.purge_keys(spark, spark.createDataFrame([(4,)], "id long"))
    assert res["bucket_dirs_rewritten"] >= 1
    # no retained snapshot — current or historical — resurrects the key,
    # and no surviving delta dir carries it (tombstones included)
    for e in mor.history():
        if not e["readable"]:
            continue
        st = _state(spark, mor, version=e["version"])
        assert 4 not in st
        for specs in (e.get("deltas") or {}).values():
            for s in specs:
                got = spark.read.parquet(s["dir"])
                assert got.filter(F.col("id") == 4).count() == 0
    assert len(_state(spark, mor)) == 15


def test_mor_rollback_restores_chain(spark, mor):
    mor.merge_batch(_batch(spark, [(1, "x", 1, "U")]), TARGET)
    v1 = mor.current()["version"]
    mor.merge_batch(_batch(spark, [(1, "y", 2, "U")]), TARGET)
    rec = mor.rollback(v1)
    assert rec.get("deltas")  # the delta chain rides the rollback
    assert _state(spark, mor)[1] == "x"


def test_mor_schema_evolution_through_delta(spark, mor):
    """A delta batch carrying a NEW column evolves the manifest schema;
    base rows read NULL for it through the fold."""
    evolved = spark.createDataFrame(
        [(0, "x", 1, "U", "gold")],
        "id long, name string, ts long, op string, tier string",
    )
    mor.merge_batch(evolved, TARGET)
    out = mor.read(spark)
    assert "tier" in out.columns
    got = {r["id"]: r["tier"] for r in out.select("id", "tier").collect()}
    assert got[0] == "gold" and got[1] is None


def test_mor_delete_tier_is_keys_only(spark, mor):
    """r12 (VERDICT task 6, the Iceberg v2 equality-delete split): a
    batch's delete rows land in a separate keys-only dir (fold envelope
    only — no payload columns), a PURE-delete batch writes ONLY that
    tier, and the fold stays bit-identical to copy-on-write."""
    # mixed batch: upsert + delete split into two dirs at one version
    rec = mor.merge_batch(
        _batch(spark, [(0, "x", 1, "U"), (1, None, 1, "D")]), TARGET
    )
    specs = [
        s
        for ss in mor.current()["deltas"].values()
        for s in ss
        if s["version"] == rec["version"]
    ]
    kinds = {os.path.basename(s["dir"]).split("-")[2] for s in specs}
    assert kinds == {"delta", "del"}
    for s in specs:
        cols = set(spark.read.parquet(s["dir"]).columns)
        if "-del-" in os.path.basename(s["dir"]):
            assert cols == {"id", "ts", "op"}  # envelope, no payload
        else:
            assert "name" in cols
    # pure-delete batch (the GDPR stream shape): keys-only tier only
    rec2 = mor.merge_batch(
        _batch(spark, [(2, None, 2, "D"), (3, None, 2, "D")]), TARGET
    )
    specs2 = [
        s
        for ss in mor.current()["deltas"].values()
        for s in ss
        if s["version"] == rec2["version"]
    ]
    assert specs2, "pure-delete batch must append delete specs"
    for s in specs2:
        assert "-del-" in os.path.basename(s["dir"])
        assert set(spark.read.parquet(s["dir"]).columns) == {
            "id", "ts", "op",
        }
    # fold parity: deletes applied, upsert applied, rest intact
    got = _state(spark, mor)
    assert got[0] == "x" and 1 not in got and 2 not in got and 3 not in got
    assert got[5] == "v0-5" and len(got) == 13
    # the fold point collapses both tiers
    mor.rewrite_data_files(spark)
    assert "deltas" not in mor.current()
    assert _state(spark, mor) == got


def test_mor_delete_tier_write_amplification(spark, tmp_path):
    """The point of the split: a delete batch's bytes scale with KEYS,
    not full-width rows — measured against the same batch's pre-split
    cost (its full-width latest-per-key slice)."""
    wide = ", ".join(f"c{i} string" for i in range(12))
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=4, key_col="id", keep_versions=10,
        merge_on_read=True,
    )
    pad = "x" * 64
    m.initialize(
        spark.createDataFrame(
            [tuple([i] + [f"{pad}{i}-{j}" for j in range(12)] + [0, "I"])
             for i in range(400)],
            f"id long, {wide}, ts long, op string",
        )
    )
    rec = m.merge_batch(
        spark.createDataFrame(
            [tuple([i] + [None] * 12 + [1, "D"]) for i in range(200)],
            f"id long, {wide}, ts long, op string",
        ),
        TARGET,
    )

    def _bytes(dirs):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d in dirs
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    del_dirs = [
        s["dir"]
        for ss in m.current()["deltas"].values()
        for s in ss
        if s["version"] == rec["version"]
    ]
    base_bytes = _bytes(m.current()["buckets"].values())
    del_bytes = _bytes(del_dirs)
    # 200 tombstones must cost far less than the 400-row wide base —
    # and raw columns prove no payload was written at all
    assert del_bytes * 5 < base_bytes
    assert all(
        set(spark.read.parquet(d).columns) == {"id", "ts", "op"}
        for d in del_dirs
    )
    assert sorted(r.id for r in m.read(spark).collect()) == list(
        range(200, 400)
    )


# -- keys-only delete tier under TRANSFORM partition specs (r15, --------
# -- VERDICT r14 #2: previously transform-partitioned MoR mirrors fell --
# -- back to full-payload tombstones)                                  --

MONTHS_SCHEMA = "id long, name string, d date, ts long, op string"


def _dbatch(spark, rows):
    import datetime as dt

    return spark.createDataFrame(
        [
            (i, nm, dt.date.fromisoformat(d) if d else None, ts, op)
            for (i, nm, d, ts, op) in rows
        ],
        MONTHS_SCHEMA,
    )


@pytest.fixture
def mor_months(spark, tmp_path):
    """months(d)-partitioned MoR mirror; d is non-null and immutable per
    key (the transform-spec contract), spanning three partition months."""
    m = VersionedBucketMirror(
        str(tmp_path / "mm"),
        key_col="id",
        keep_versions=10,
        merge_on_read=True,
        partition_spec=("months", "d"),
    )
    m.initialize(
        _dbatch(
            spark,
            [
                (i, f"v0-{i}", f"1995-{(i % 3) + 1:02d}-15", 0, "I")
                for i in range(12)
            ],
        )
    )
    return m


def test_mor_transform_delete_tier_is_keys_only(spark, mor_months):
    """A delete batch on a months()-partitioned MoR mirror lands in the
    keys-only tier: envelope + the transform SOURCE column (needed to
    route each tombstone to its partition dir), NO payload columns."""
    m = mor_months
    # mixed batch: upsert in month-id 300 (1995-01), deletes in 301/302
    rec = m.merge_batch(
        _dbatch(
            spark,
            [
                (0, "x", "1995-01-15", 1, "U"),
                (1, None, "1995-02-15", 1, "D"),
                (2, None, "1995-03-15", 1, "D"),
            ],
        ),
        TARGET,
    )
    specs = [
        (b, s)
        for b, ss in m.current()["deltas"].items()
        for s in ss
        if s["version"] == rec["version"]
    ]
    kinds = {os.path.basename(s["dir"]).split("-")[2] for _b, s in specs}
    assert kinds == {"delta", "del"}
    # months(d) partition ids: (1995-1970)*12 + month-1
    month_id = lambda mo: (1995 - 1970) * 12 + mo - 1  # noqa: E731
    del_specs = [(b, s) for b, s in specs if "-del-" in os.path.basename(s["dir"])]
    assert sorted(int(b) for b, _s in del_specs) == [month_id(2), month_id(3)]
    for _b, s in del_specs:
        cols = set(spark.read.parquet(s["dir"]).columns)
        assert cols == {"id", "ts", "op", "d"}  # envelope + source, no payload
    # each tombstone's d routed it to its OWN month partition
    for b, s in del_specs:
        got = spark.read.parquet(s["dir"]).select("d").collect()
        assert all(
            month_id(r["d"].month) == int(b) for r in got
        )
    # fold parity: the tombstones delete through the read fold
    got = _state(spark, m)
    assert got[0] == "x" and 1 not in got and 2 not in got
    assert len(got) == 10
    # pure-delete batch: ONLY keys-only dirs at that version
    rec2 = m.merge_batch(
        _dbatch(spark, [(3, None, "1995-01-15", 2, "D")]), TARGET
    )
    specs2 = [
        s
        for ss in m.current()["deltas"].values()
        for s in ss
        if s["version"] == rec2["version"]
    ]
    assert specs2 and all(
        "-del-" in os.path.basename(s["dir"]) for s in specs2
    )
    # the fold point collapses both tiers; state unchanged
    pre = _state(spark, m)
    m.rewrite_data_files(spark)
    assert "deltas" not in m.current()
    assert _state(spark, m) == pre


def test_mor_transform_golden_matches_cow(spark, tmp_path):
    """Golden-parity law (r15): the months()-partitioned MoR mirror's
    final state after a mixed insert/update/delete history equals the
    copy-on-write mirror's on the same batches — the keys-only tier is
    invisible to readers."""
    batches = [
        [(i, f"v0-{i}", f"1995-{(i % 4) + 1:02d}-10", 0, "I") for i in range(20)],
        [(i, f"v1-{i}", f"1995-{(i % 4) + 1:02d}-10", 1, "U") for i in range(0, 20, 3)],
        [(i, None, f"1995-{(i % 4) + 1:02d}-10", 2, "D") for i in range(0, 20, 5)],
        [(i, f"v3-{i}", f"1995-{(i % 4) + 1:02d}-10", 3, "U") for i in range(0, 20, 10)],
    ]
    states = []
    for mor_flag in (True, False):
        m = VersionedBucketMirror(
            str(tmp_path / f"g-{mor_flag}"),
            key_col="id",
            keep_versions=10,
            merge_on_read=mor_flag,
            partition_spec=("months", "d"),
        )
        m.initialize(_dbatch(spark, batches[0]))
        for b in batches[1:]:
            m.merge_batch(_dbatch(spark, b), TARGET)
        states.append(
            sorted(
                (r["id"], r["name"], str(r["d"]))
                for r in m.read(spark).collect()
            )
        )
    assert states[0] == states[1]
    # and the expected survivors: deletes at ts=2 beaten back only by ts=3
    ids = {i for i, _n, _d in states[0]}
    assert ids == (set(range(20)) - {0, 5, 15}) | {0, 10}
