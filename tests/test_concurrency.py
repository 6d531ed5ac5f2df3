"""Optimistic concurrency on snapshot commits (r11, VERDICT task 1).

The reference's tables are Iceberg, whose commit protocol is an
optimistic compare-and-swap with conflict retry (reference
batch-bootstrapper/tabular.py:69-70 ``transaction()``); before r11 both
snapshot-log layouts published by pointer rename with no conflict
check, so CDC merge + compaction + purge racing on one table silently
last-write-won. Laws pinned here:

- the log entry create is EXCLUSIVE: two writers allocating the same
  version cannot both win (the Delta/Iceberg put-if-absent commit);
- a based commit (expected_version / merge) raises CommitConflict when
  the table advanced past its basis — unless the concurrent commits
  provably touched DISJOINT buckets, in which case the bucketed layout
  rebases and both land (one linear history, no lost update);
- blind full-state commits retry internally and serialize;
- a fresh above-pointer entry is an in-flight commit (conflict), an
  aged one is a crash orphan (GC'd) — the grace window that separates
  the two;
- WAP re-audits against the NEW head when a commit lands between its
  baseline read and its publish (VERDICT r11 task 8);
- purge_keys refuses to delete bytes a mid-purge commit carried
  forward;
- fast_forward never publishes a foreign unpublished commit that a
  branch window swallowed (ADVICE r10).
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.streaming._protocol import CommitConflict
from tabular_cdc_bootstrapper_spark.streaming.state_table import (
    ParquetStateTable,
)
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)


def _df(spark, tag, n=6):
    return spark.createDataFrame(
        [(i, tag) for i in range(n)], "k long, v string"
    )


def _rows(spark, t):
    out = t.read(spark)
    return sorted((r.k, r.v) for r in out.collect()) if out is not None else []


# ---------------------------------------------------------------- log level


def test_log_entry_create_is_exclusive(spark, tmp_path):
    """Two publishes of the same version: the second raises instead of
    overwriting the first's log entry (ADVICE r10: os.replace silently
    erased the loser's commit from history)."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    rec = dict(t.current())
    rec["version"] = t._next_version()
    rec["ts"] = 0.0
    t._log.publish(rec, protected=t._branch_covers)
    dup = dict(rec)
    with pytest.raises(CommitConflict, match="already has a log entry"):
        t._log.publish(dup, protected=t._branch_covers)
    # the winner's entry survives intact
    with open(t._log._entry_path(rec["version"])) as fh:
        assert json.load(fh)["ts"] == 0.0


def test_fresh_orphan_blocks_then_ages_out(spark, tmp_path):
    """A fresh ref-less above-pointer entry is treated as an in-flight
    concurrent commit (CommitConflict); once older than the grace it is
    a crash orphan — GC'd and the publish proceeds."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    lpath = t._log._entry_path(1)
    with open(lpath, "w") as fh:
        json.dump({"version": 1, "dir": "/nonexistent", "ts": 0.0}, fh)
    rec = {"version": 2, "dir": t.current()["dir"], "ts": 0.0}
    with pytest.raises(CommitConflict, match="in-flight"):
        t._log.publish(rec, protected=t._branch_covers)
    os.utime(lpath, (0, 0))  # age past the grace: now a crash orphan
    t._log.publish(rec, protected=t._branch_covers)
    assert not os.path.exists(lpath)  # orphan GC'd
    assert t.current()["version"] == 2


# ------------------------------------------------------- snapshot table


def test_based_snapshot_commit_conflicts_on_stale_basis(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    basis = t.current()["version"]
    t.commit(_df(spark, "concurrent"))  # another writer lands
    n_dirs = len([d for d in os.listdir(t.root) if d.startswith("v-")])
    with pytest.raises(CommitConflict, match="advanced"):
        t.commit(_df(spark, "stale"), expected_version=basis)
    # the conflicted commit's staged dir was cleaned up
    assert (
        len([d for d in os.listdir(t.root) if d.startswith("v-")]) == n_dirs
    )
    assert _rows(spark, t) == sorted((i, "concurrent") for i in range(6))


def test_blind_commits_from_threads_serialize(spark, tmp_path):
    """N racing blind commits all land: linear history, distinct
    versions, no lost entry, pointer at the max version."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=20)
    t.commit(_df(spark, "v0"))
    errs = []

    def w(tag):
        try:
            ParquetStateTable(t.root, keep_versions=20).commit(
                _df(spark, tag)
            )
        except Exception as exc:  # pragma: no cover - diagnostic
            errs.append(exc)

    threads = [
        threading.Thread(target=w, args=(f"w{i}",)) for i in range(4)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []
    versions = [e["version"] for e in t.history()]
    assert len(versions) == 5 and versions == sorted(set(versions))
    assert t.current()["version"] == max(versions)
    # every committed snapshot's data dir exists
    assert all(e["readable"] for e in t.history())


# ------------------------------------------------------- bucketed mirror


def _mirror(spark, tmp_path, n=64):
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=16, key_col="k", keep_versions=10
    )
    m.initialize(
        spark.createDataFrame([(i, 0) for i in range(n)], "k long, v long")
    )
    return m


def _split_disjoint_buckets(spark, m, keys):
    """Partition ``keys`` into two groups with provably disjoint bucket
    sets under the mirror's hash spec."""
    rows = (
        spark.createDataFrame([(k,) for k in keys], "k long")
        .select("k", m._bucket(F.col("k")).alias("b"))
        .collect()
    )
    buckets = sorted({r.b for r in rows})
    half = set(buckets[: len(buckets) // 2])
    a = [r.k for r in rows if r.b in half]
    bks_a = {r.b for r in rows if r.b in half}
    b = [r.k for r in rows if r.b not in half]
    bks_b = {r.b for r in rows if r.b not in half}
    assert a and b and not (bks_a & bks_b)
    return (a, sorted(bks_a)), (b, sorted(bks_b))


def test_disjoint_bucket_merges_both_land(spark, tmp_path):
    """Writer A commits; writer B, prepared on the PRE-A head, touches
    only disjoint buckets — B's commit validates, rebases onto A's
    manifest, and both updates land in one linear history."""
    m = _mirror(spark, tmp_path)
    v0 = m.current()["version"]
    (keys_a, bks_a), (keys_b, bks_b) = _split_disjoint_buckets(
        spark, m, list(range(64))
    )
    # writer A (normal commit)
    m.commit_merged(
        spark.createDataFrame([(k, 1) for k in keys_a], "k long, v long"),
        touched=bks_a,
        expected_version=v0,
    )
    # writer B: basis is STILL v0 (it read before A landed)
    rec = m.commit_merged(
        spark.createDataFrame([(k, 2) for k in keys_b], "k long, v long"),
        touched=bks_b,
        expected_version=v0,
    )
    assert rec["version"] == v0 + 2
    state = {(r.k, r.v) for r in m.read(spark).collect()}
    assert state == {(k, 1) for k in keys_a} | {(k, 2) for k in keys_b}
    assert [e["version"] for e in m.history()] == [v0, v0 + 1, v0 + 2]
    # B's manifest carries A's bucket dirs forward (rebased, not lost)
    head = m.current()["buckets"]
    a_head = m.history()[-2]["buckets"]
    assert all(head[str(b)] == a_head[str(b)] for b in bks_a)


def test_overlapping_bucket_merges_conflict(spark, tmp_path):
    """Writer B prepared on a stale basis whose buckets writer A also
    modified: rebasing would lose A's rows, so it must raise."""
    m = _mirror(spark, tmp_path)
    v0 = m.current()["version"]
    src = spark.createDataFrame([(0, 1)], "k long, v long")
    touched = [
        r.b for r in src.select(m._bucket(F.col("k")).alias("b")).collect()
    ]
    m.commit_merged(src, touched=touched, expected_version=v0)
    with pytest.raises(CommitConflict, match="modified by a concurrent"):
        m.commit_merged(
            spark.createDataFrame([(0, 2)], "k long, v long"),
            touched=touched,
            expected_version=v0,
        )
    # A's update intact
    assert {(r.k, r.v) for r in m.read(spark).collect() if r.k == 0} == {
        (0, 1)
    }


def test_rebucket_conflicts_on_concurrent_commit(spark, tmp_path):
    """A commit landing between rebucket's state read and its publish
    must raise CommitConflict, not be silently overwritten with
    pre-read state (ADVICE r12: touched=None used to rebase the
    full-state replace onto the new head — a lost update)."""
    m = _mirror(spark, tmp_path, n=32)
    other = VersionedBucketMirror(
        m.root, n_buckets=16, key_col="k", keep_versions=10
    )
    real_read = VersionedBucketMirror._read_entry
    fired = []

    def sneaky(self, spk, e, buckets=None):
        df = real_read(self, spk, e, buckets)
        if self is m and not fired:
            fired.append(True)
            # concurrent writer lands AFTER rebucket read its basis
            other.commit_merged(
                spark.createDataFrame([(0, 99)], "k long, v long"),
                touched=[
                    r.b
                    for r in spark.createDataFrame([(0,)], "k long")
                    .select(other._bucket(F.col("k")).alias("b"))
                    .collect()
                ],
            )
        return df

    VersionedBucketMirror._read_entry = sneaky
    try:
        with pytest.raises(CommitConflict):
            m.rebucket(spark, 32)
    finally:
        VersionedBucketMirror._read_entry = real_read
    # spec rolled back, the concurrent update survived (not lost)
    assert m.n_buckets == 16
    assert {(r.k, r.v) for r in m.read(spark).collect() if r.k == 0} == {
        (0, 99)
    }
    # re-run against the new head: succeeds and carries the update
    rec = m.rebucket(spark, 32)
    assert rec["n_buckets"] == 32 and m.n_buckets == 32
    assert {(r.k, r.v) for r in m.read(spark).collect() if r.k == 0} == {
        (0, 99)
    }


def test_stalled_writer_cannot_regress_pointer(spark, tmp_path):
    """A writer stalled past the conflict grace has its entry GC'd and a
    concurrent winner advances the pointer; on resume the stalled
    writer's pointer swap must CommitConflict — the pointer may never
    regress to a version whose staged data was reclaimed (ADVICE r12)."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.commit(_df(spark, "v1"))
    t.commit(_df(spark, "v2"))  # pointer at v2
    head = dict(t.current())
    assert head["version"] == 2
    # simulate the stalled writer's world: it allocated v1 long ago, its
    # entry was GC'd as a crash orphan (file absent), and it resumes the
    # publish — the exclusive create succeeds, the pointer check must not
    stale = {"version": 1, "dir": head["dir"], "ts": 0.0}
    os.remove(t._log._entry_path(1))
    with pytest.raises(CommitConflict, match="stalled writer"):
        t._log.publish(stale, protected=t._branch_covers)
    # pointer untouched, the retried entry retracted
    assert t.current()["version"] == 2
    assert not os.path.exists(t._log._entry_path(1))
    # same for a re-publish AT the pointer version
    os.remove(t._log._entry_path(2))
    with pytest.raises(CommitConflict, match="stalled writer"):
        t._log.publish(
            {"version": 2, "dir": head["dir"], "ts": 0.0},
            protected=t._branch_covers,
        )
    assert t.current()["version"] == 2


def test_purge_converges_past_mid_purge_commit(spark, tmp_path):
    """A commit landing between purge start and pointer rewrite used to
    abort the purge (r11: CommitConflict on any head movement) — under
    sustained traffic that STARVED purges entirely (r12,
    probe_concurrent_stress.py). The purge now CHASES the head: a
    catch-up round re-scans only what the concurrent commit added, the
    commit's rows survive (never clobbered), rows it carried for purged
    keys are purged too, and a head that outruns every round is still a
    caller-visible CommitConflict (bounded give-up)."""
    m = _mirror(spark, tmp_path, n=16)
    real_current = m.current
    stale = real_current()
    # another writer advances the table AFTER the purge captured its
    # view — and its batch carries a row for a PURGED key (the hard
    # case: the catch-up round must reach it)
    m2 = VersionedBucketMirror(
        m.root, n_buckets=16, key_col="k", keep_versions=10
    )
    m2.commit_merged(
        spark.createDataFrame([(99, 9), (1, 111)], "k long, v long"),
        touched=[
            r.b
            for r in spark.createDataFrame([(99,), (1,)], "k long")
            .select(m2._bucket(F.col("k")).alias("b"))
            .distinct()
            .collect()
        ],
    )
    calls = {"n": 0}

    def stale_then_real():
        # purge reads current() twice up front (_sync_spec + its basis
        # capture) — keep both on the stale view, so the simulated
        # concurrent commit lands "between" basis capture and the
        # first round's pointer check
        calls["n"] += 1
        return stale if calls["n"] <= 2 else real_current()

    m.current = stale_then_real
    keys = spark.createDataFrame([(1,)], "k long")
    rec = m.purge_keys(spark, keys, key_col="k")
    m.current = real_current
    assert rec["catchup_rounds"] >= 2  # it chased the moved head
    state = {(r.k, r.v) for r in m.read(spark).collect()}
    # the mid-purge commit's row is fully readable (never clobbered)...
    assert (99, 9) in state
    # ...and the purged key is gone EVERYWHERE, including the row the
    # concurrent commit carried and every retained historical snapshot
    assert not {kv for kv in state if kv[0] == 1}
    for e in m.history():
        if e["readable"]:
            assert 1 not in {
                r.k for r in m.read_version(spark, e["version"]).collect()
            }
    # bounded give-up: a head that outruns EVERY catch-up round is a
    # caller-visible conflict, not an infinite chase
    m3 = _mirror(spark, tmp_path / "m3", n=16)
    real3 = m3.current
    calls3 = {"n": 0}

    def always_moving():
        calls3["n"] += 1
        if calls3["n"] <= 2:
            return real3()
        e = dict(real3())
        e["version"] = e["version"] + calls3["n"]  # head keeps advancing
        return e

    m3.current = always_moving
    with pytest.raises(CommitConflict, match="kept advancing"):
        m3.purge_keys(
            spark, spark.createDataFrame([(1,)], "k long"), key_col="k"
        )

# ------------------------------------------------------------------ WAP


@pytest.mark.parametrize("layout", ["snapshot", "bucketed_versioned"])
def test_wap_reaudits_against_concurrent_commit(spark, tmp_path, layout):
    """VERDICT r11 task 8: writer A commits while writer B's WAP is
    between baseline read and publish. B's publish conflicts, the
    anomaly audit re-runs with A's commit as its baseline, and B lands
    on top — deterministic, no lost update, audit relative to the state
    actually published onto."""
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        row_count_within,
    )

    if layout == "snapshot":
        t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
        t.commit(_df(spark, "base", n=4))
        t2 = ParquetStateTable(t.root, keep_versions=10)
    else:
        t = VersionedBucketMirror(
            str(tmp_path / "t"), n_buckets=8, key_col="k", keep_versions=10
        )
        t.initialize(_df(spark, "base", n=4))
        t2 = VersionedBucketMirror(
            t.root, n_buckets=8, key_col="k", keep_versions=10
        )

    orig_publish = t._log.publish
    state = {"fired": False}

    def publish_with_ambush(record, **kw):
        if not state["fired"]:
            state["fired"] = True
            if layout == "snapshot":
                t2.commit(_df(spark, "A", n=8))  # writer A lands first
            else:
                t2.initialize(_df(spark, "A", n=8))
        return orig_publish(record, **kw)

    t._log.publish = publish_with_ambush
    res = t.write_audit_publish(
        spark,
        _df(spark, "B", n=7),
        rules=[row_count_within(2, 1)],  # within 200% of baseline
    )
    assert res["published"] is True
    # the audit that gated the publish used A's 8-row commit as its
    # baseline (re-audit), not the original 4-row snapshot
    anomaly = [r for r in res["report"] if "row_count" in r["rule"]][-1]
    assert anomaly["baseline"] == 8
    assert _rows(spark, t) == sorted((i, "B") for i in range(7))
    versions = [e["version"] for e in t.history()]
    assert versions == sorted(set(versions)) and len(versions) == 3


# --------------------------------------------------------- fast-forward


def test_fast_forward_rejects_foreign_unpublished_commit(spark, tmp_path):
    """ADVICE r10: a crashed main commit's ref-less entry pulled into a
    branch window must never be published by fast_forward — fresh it is
    a conflict; aged it is GC'd and the branch publishes around it."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    # crashed main commit: entry v1 written, pointer never swapped
    orphan_dir = os.path.join(t.root, "v-00000001-deadbeef")
    os.makedirs(orphan_dir)
    lpath = t._log._entry_path(1)
    with open(lpath, "w") as fh:
        json.dump({"version": 1, "dir": orphan_dir, "ts": 0.0}, fh)
    t.branch("b")
    staged = t.commit(_df(spark, "b1"), branch="b")  # allocates v2
    assert staged["version"] == 2  # the orphan sits inside (0, 2]
    with pytest.raises(CommitConflict, match="never staged"):
        t.fast_forward("b")
    # main untouched, the unaudited commit never leaked
    assert [e["version"] for e in t.history()] == [0]
    os.utime(lpath, (0, 0))  # age the orphan out
    head = t.fast_forward("b")
    assert head["version"] == 2
    assert [e["version"] for e in t.history()] == [0, 2]  # v1 never joins
    assert not os.path.exists(lpath)
    assert _rows(spark, t) == sorted((i, "b1") for i in range(6))


def test_overlapping_writer_retry_converges(spark, tmp_path):
    """The full Iceberg retry loop: the loser of an overlapping-bucket
    race catches CommitConflict and RE-RUNS its merge — merge_batch
    re-reads the new head, so the re-run folds both updates and the
    merged history is linear with no lost update (VERDICT r11 task 1's
    'overlapping: one retries' law)."""
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.config import CdcTarget

    target = CdcTarget(
        source_uri="file:///x", key_column="k", ts_column="ts"
    )

    def batch(rows):
        return spark.createDataFrame(rows, "k long, v long, ts long, op string")

    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=8, key_col="k", keep_versions=10
    )
    m.initialize(batch([(i, 0, 0, "I") for i in range(16)]))
    v0 = m.current()["version"]
    # writer B prepares a merged slice against v0's bucket contents...
    key0_bucket = [
        r.b
        for r in spark.createDataFrame([(0,)], "k long")
        .select(m._bucket(F.col("k")).alias("b"))
        .collect()
    ]
    b_slice = m.read_buckets(spark, key0_bucket).withColumn(
        "v", F.when(F.col("k") == 0, F.lit(200)).otherwise(F.col("v"))
    )
    # ...then writer A lands first on the same bucket (sets k=1's v=100,
    # k=1 hashes wherever — force same bucket by updating k=0 too? No:
    # A updates a DIFFERENT key that shares k=0's bucket if any, else
    # k=0 itself with an older value that B's re-run must preserve)
    m.merge_batch(batch([(0, 100, 1, "U")]), target)
    with pytest.raises(CommitConflict):
        m.commit_merged(b_slice, touched=key0_bucket, expected_version=v0)
    # the retry: re-run the merge against the NEW head (merge_batch
    # re-reads and its ts=2 event supersedes A's ts=1 for k=0)
    m.merge_batch(batch([(0, 200, 2, "U")]), target)
    state = {r.k: r.v for r in m.read(spark).collect()}
    assert state[0] == 200  # B's retried update landed on top of A's
    versions = [e["version"] for e in m.history()]
    assert versions == sorted(set(versions)) and len(versions) == 3


def test_threaded_merge_compaction_purge_race(spark, tmp_path):
    """The motivating 100 TB scenario end-to-end (VERDICT r10: 'CDC
    merge + compaction + purge are separate pipelines racing on one
    table'): three threads hammer ONE mirror through separate handles —
    a CDC merger (6 batches), a compactor (rewrite_data_files ×3), and
    a GDPR purger — every writer retrying on CommitConflict. Invariants:
    no thread errors out, the final state is exactly 'all merges applied
    minus the purged keys' regardless of interleaving, history is
    linear with unique versions, and the head snapshot is readable."""
    import time as _time

    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.config import CdcTarget

    target = CdcTarget(source_uri="file:///x", key_column="k", ts_column="ts")

    def batch(rows):
        return spark.createDataFrame(
            rows, "k long, v long, ts long, op string"
        )

    root = str(tmp_path / "m")
    m = VersionedBucketMirror(root, n_buckets=8, key_col="k", keep_versions=30)
    m.initialize(batch([(i, 0, 0, "I") for i in range(32)]))
    purge_keys = [30, 31]  # disjoint from every merge's keys
    errs = []

    def with_retry(fn, attempts=10):
        for i in range(attempts):
            try:
                return fn()
            except CommitConflict:
                _time.sleep(0.1 * (i + 1))
        raise RuntimeError("retries exhausted")

    def merger():
        h = VersionedBucketMirror(root, n_buckets=8, key_col="k", keep_versions=30)
        try:
            for i in range(6):
                # merge_batch re-reads the head internally, so the retry
                # is simply calling it again
                with_retry(
                    lambda i=i: h.merge_batch(
                        batch([(i, 100 + i, i + 1, "U")]), target
                    )
                )
        except Exception as exc:  # pragma: no cover - diagnostic
            errs.append(("merger", exc))

    def compactor():
        h = VersionedBucketMirror(root, n_buckets=8, key_col="k", keep_versions=30)
        try:
            for _ in range(3):
                with_retry(lambda: h.rewrite_data_files(spark, min_files=2))
                _time.sleep(0.2)
        except Exception as exc:  # pragma: no cover - diagnostic
            errs.append(("compactor", exc))

    def purger():
        h = VersionedBucketMirror(root, n_buckets=8, key_col="k", keep_versions=30)
        try:
            _time.sleep(0.3)
            with_retry(
                lambda: h.purge_keys(
                    spark,
                    spark.createDataFrame([(k,) for k in purge_keys], "k long"),
                )
            )
        except Exception as exc:  # pragma: no cover - diagnostic
            errs.append(("purger", exc))

    threads = [
        threading.Thread(target=f) for f in (merger, compactor, purger)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    state = {r.k: r.v for r in m.read(spark).collect()}
    # all merges applied, purged keys gone, everything else untouched
    assert all(state[i] == 100 + i for i in range(6))
    assert all(k not in state for k in purge_keys)
    assert all(state[i] == 0 for i in range(6, 30))
    versions = [e["version"] for e in m.history()]
    assert versions == sorted(set(versions))
    assert m.history()[-1]["readable"]


def test_partial_progress_compaction_under_writer_traffic(spark, tmp_path):
    """Partial-progress compaction (r12 — the Iceberg partial-progress
    mode, the starvation fix motivated by probe_concurrent_stress.py): a
    merge landing while a compaction is staging invalidates ONLY the
    buckets it touched; with partial_progress=True the compaction drops
    those from its commit (their staged fold is stale — the winner's
    delta arrived after it was derived) and lands the rest, instead of
    conflicting and restaging the world. No lost update: the concurrent
    merge's rows survive, and the dropped bucket folds on the next
    quiet-time pass."""
    from tabular_cdc_bootstrapper_spark.config import CdcTarget

    target = CdcTarget(
        source_uri="file:///x", key_column="k", ts_column="ts"
    )
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=16, key_col="k", keep_versions=10,
        merge_on_read=True,
    )
    m.initialize(
        spark.createDataFrame(
            [(i, 0, 0, "I") for i in range(64)],
            "k long, v long, ts long, op string",
        )
    )
    # delta chains on every bucket: compaction (the fold point) wants all
    for tag in (1, 2):
        m.merge_batch(
            spark.createDataFrame(
                [(i, tag, tag, "U") for i in range(64)],
                "k long, v long, ts long, op string",
            ),
            target,
        )
    n_delta = len(m.current()["deltas"])  # 64 keys may leave a bucket empty
    assert n_delta >= 15
    other = VersionedBucketMirror(
        m.root, n_buckets=16, key_col="k", keep_versions=10,
        merge_on_read=True,
    )
    real_read = VersionedBucketMirror._read_entry
    fired = []

    def sneaky(self, spk, e, buckets=None):
        df = real_read(self, spk, e, buckets)
        if self is m and not fired:
            fired.append(True)
            # concurrent merge lands AFTER compaction read its basis
            other.merge_batch(
                spark.createDataFrame(
                    [(0, 99, 9, "U")], "k long, v long, ts long, op string"
                ),
                target,
            )
        return df

    VersionedBucketMirror._read_entry = sneaky
    try:
        rec = m.rewrite_data_files(spark, partial_progress=True)
    finally:
        VersionedBucketMirror._read_entry = real_read
    hot = str(
        [
            r.b
            for r in spark.createDataFrame([(0,)], "k long")
            .select(other._bucket(F.col("k")).alias("b"))
            .collect()
        ][0]
    )
    # the merged bucket was dropped, every other bucket folded
    assert rec["buckets_dropped"] == 1
    assert rec["buckets_compacted"] == n_delta - 1
    cur = m.current()
    assert set(cur.get("deltas") or {}) == {hot}
    # no lost update: the concurrent merge's row survives the compaction
    got = {r.k: (r.v, r.ts) for r in m.read(spark).collect()}
    assert got[0] == (99, 9)
    assert got[1] == (2, 2) and len(got) == 64
    # the next quiet-time pass folds the dropped bucket
    rec2 = m.rewrite_data_files(spark, partial_progress=True)
    assert rec2["buckets_dropped"] == 0 and rec2["buckets_compacted"] == 1
    assert "deltas" not in m.current()
    got2 = {r.k: (r.v, r.ts) for r in m.read(spark).collect()}
    assert got2 == got
    # without partial progress the same race is a caller-visible conflict
    m.merge_batch(
        spark.createDataFrame(
            [(i, 5, 11, "U") for i in range(64)],
            "k long, v long, ts long, op string",
        ),
        target,
    )
    fired.clear()
    VersionedBucketMirror._read_entry = sneaky
    try:
        with pytest.raises(CommitConflict):
            m.rewrite_data_files(spark)
    finally:
        VersionedBucketMirror._read_entry = real_read


def test_purge_lock_serializes_concurrent_purges(spark, tmp_path):
    """Purge-vs-purge (r12, found by probe_concurrent_stress.py): purges
    rewrite retained manifests IN PLACE at unchanged versions, so the
    version-based CAS cannot see two purges racing — without the purge
    lock, last-write-wins manifest edits silently resurrect the losing
    purge's keys in history. The lock turns the race into a
    caller-visible CommitConflict; a stale (crashed-holder) lock is
    taken over."""
    import time as _time

    from tabular_cdc_bootstrapper_spark.streaming._protocol import _purge_lock

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(8)], "k long, v string"
        )
    )
    keys = spark.createDataFrame([(1,)], "k long")
    # a live lock (another purge in flight) → CommitConflict, not a wait
    with _purge_lock(t.root):
        with pytest.raises(CommitConflict, match="purge lock"):
            t.purge_keys(spark, keys, "k")
    # lock released → the purge lands
    t.purge_keys(spark, keys, "k")
    assert sorted(r.k for r in t.read(spark).collect()) == [
        0, 2, 3, 4, 5, 6, 7,
    ]
    # a stale lock (crashed holder) is taken over
    lock = os.path.join(t.root, "_purge.lock")
    with open(lock, "w") as fh:
        fh.write("{}")
    os.utime(lock, (1, 1))  # ancient mtime: well past the grace
    t.purge_keys(spark, spark.createDataFrame([(2,)], "k long"), "k")
    assert sorted(r.k for r in t.read(spark).collect()) == [
        0, 3, 4, 5, 6, 7,
    ]
    assert not os.path.exists(lock)
    _ = _time  # (kept for symmetry with other timing-sensitive tests)


def _purge_table(spark, tmp_path, layout):
    """A table of ``layout`` with two committed versions, key 1 in
    both, and its ``purge_keys`` bound to key column ``k``."""
    from tabular_cdc_bootstrapper_spark.config import CdcTarget

    schema = "k long, v long, ts long, op string"
    base = spark.createDataFrame([(i, 0, 0, "I") for i in range(16)], schema)
    change = spark.createDataFrame([(1, 7, 1, "U")], schema)
    if layout == "snapshot":
        t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
        t.commit(base)
        t.commit(base.unionByName(change).filter("v = 7 OR k <> 1"))
        return t, lambda keys: t.purge_keys(spark, keys, "k")
    t = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=4, key_col="k", keep_versions=10
    )
    t.initialize(base)
    target = CdcTarget(source_uri="file:///x", key_column="k", ts_column="ts")
    t.merge_batch(change, target)
    return t, lambda keys: t.purge_keys(spark, keys)


@pytest.mark.parametrize("layout", ["bucketed_versioned", "snapshot"])
def test_purge_skips_dir_expired_mid_scan(spark, tmp_path, layout):
    """Reader-vs-retention TOCTOU (r12, found by
    probe_concurrent_stress.py): a concurrent commit's retention pass
    may delete a historical dir between purge's isdir check and its
    scan. The purge must skip it (nothing left to purge there), not
    crash mid-run with a FileNotFound from the scan."""
    t, purge = _purge_table(spark, tmp_path, layout)
    # simulate retention racing the purge: the v0 dir holding key 1
    # vanishes after the purge listed its entries but before the scan
    hot = None  # key 1's bucket on the mirror
    if layout != "snapshot":
        hot = str(
            spark.createDataFrame([(1,)], "k long")
            .select(t._bucket(F.col("k")).alias("b"))
            .first()
            .b
        )
    v0 = t._log.committed()[0]
    v0_dir = v0["dir"] if hot is None else v0["buckets"][hot]
    real_read = type(spark.read).parquet
    state = {"armed": True}

    def racy(self, *paths):
        if state["armed"] and v0_dir in paths:
            state["armed"] = False
            import shutil as _sh

            _sh.rmtree(v0_dir, ignore_errors=True)
        return real_read(self, *paths)

    type(spark.read).parquet = racy
    try:
        rec = purge(spark.createDataFrame([(1,)], "k long"))
    finally:
        type(spark.read).parquet = real_read
    assert not state["armed"]  # the race fired
    # the purge completed and the HEAD no longer holds key 1
    assert 1 not in {r.k for r in t.read(spark).collect()}
    if hot is None:
        assert rec == {"versions_rewritten": 1, "dirs_rewritten": 1}
    else:
        assert rec["touched_buckets"] == [int(hot)]


@pytest.mark.parametrize("layout", ["bucketed_versioned", "snapshot"])
def test_purge_keeps_its_progress_when_dirs_vanish_at_every_scan(
    spark, tmp_path, layout, monkeypatch
):
    """Retention that deletes a pending dir during every fused scan
    (commits landing faster than the scan) must not cost a catch-up
    round per vanished dir: the round drops what vanished and rescans
    the rest, so the purge converges within the round budget."""
    import shutil as _sh

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming import _protocol

    monkeypatch.setattr(_protocol, "_PURGE_CATCHUP_ROUNDS", 2)
    t, purge = _purge_table(spark, tmp_path, layout)
    schema = "k long, v long, ts long, op string"
    target = CdcTarget(source_uri="file:///x", key_column="k", ts_column="ts")
    for i in range(2, 5):  # three more versions, each rewriting key 1
        change = spark.createDataFrame([(1, 7 + i, i, "U")], schema)
        if layout == "snapshot":
            head = t.read(spark).filter("k <> 1")
            t.commit(head.unionByName(change))
        else:
            t.merge_batch(change, target)
    head_dirs = set(t._entry_dirs(t.current()))
    real_read = type(spark.read).parquet
    vanished: list[str] = []

    def racy(self, *paths):
        old = [p for p in paths if p not in head_dirs and os.path.isdir(p)]
        if old and len(vanished) < 3:
            vanished.append(old[0])
            _sh.rmtree(old[0], ignore_errors=True)
        return real_read(self, *paths)

    type(spark.read).parquet = racy
    try:
        rec = purge(spark.createDataFrame([(1,)], "k long"))
    finally:
        type(spark.read).parquet = real_read
    assert len(vanished) == 3  # more vanished dirs than catch-up rounds
    assert 1 not in {r.k for r in t.read(spark).collect()}
    assert len(t.read(spark).collect()) == 15
    if layout != "snapshot":
        assert rec["catchup_rounds"] == 1


def test_snapshot_purge_gives_up_when_the_head_keeps_advancing(
    spark, tmp_path
):
    """The snapshot table chases a moving head with the same bounded
    catch-up rounds as the mirror: a head that outruns every round is
    a caller-visible CommitConflict, not an infinite chase."""
    t, purge = _purge_table(spark, tmp_path, "snapshot")
    real = t.current
    calls = {"n": 0}

    def always_moving():
        calls["n"] += 1
        if calls["n"] <= 1:
            return real()
        e = dict(real())
        e["version"] = e["version"] + calls["n"]  # head keeps advancing
        return e

    t.current = always_moving
    with pytest.raises(CommitConflict, match="kept advancing"):
        purge(spark.createDataFrame([(1,)], "k long"))


@pytest.mark.parametrize("layout", ["bucketed_versioned", "snapshot"])
def test_purge_rerun_repairs_a_stale_pointer(spark, tmp_path, layout):
    """A purge that crashed after rewriting the log but before the
    pointer leaves CURRENT on the pre-purge dirs. A re-run must scan the
    pointer's own dirs too — the log alone no longer names them — so
    the current snapshot loses the key and the old dirs go."""
    import shutil as _sh

    t, purge = _purge_table(spark, tmp_path, layout)
    with open(t._log.pointer_path) as fh:
        stale = fh.read()
    old_dirs = t._entry_dirs(t.current())
    backup = tmp_path / "backup"
    for i, d in enumerate(old_dirs):
        _sh.copytree(d, backup / str(i))
    keys = spark.createDataFrame([(1,)], "k long")
    purge(keys)
    # the crash state: log entries purged, pointer and old dirs not
    for i, d in enumerate(old_dirs):
        if not os.path.isdir(d):
            _sh.copytree(backup / str(i), d)
    with open(t._log.pointer_path, "w") as fh:
        fh.write(stale)
    assert 1 in {r.k for r in t.read(spark).collect()}
    purge(keys)
    assert 1 not in {r.k for r in t.read(spark).collect()}
    assert len(t.read(spark).collect()) == 15
    assert any(not os.path.isdir(d) for d in old_dirs)
