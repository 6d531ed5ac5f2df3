"""Snapshot time travel on ParquetStateTable (VERDICT r7 "What's missing"
#2): the Iceberg-table semantics the reference inherits from its format
(reference tabular.py:8,92 — pyiceberg tables carry snapshot history,
VERSION AS OF, rollback), reproduced natively by the append-only snapshot
log in streaming/pipeline.py. These pin the laws the registry entry
(queries.cdc_mirror_time_travel) relies on: history append-only, version
and timestamp resolution, rollback-as-new-commit, retention keeping
rollback targets alive, crash-orphan supersession, and pre-log
backward compatibility.
"""

from __future__ import annotations

import json
import os

import pytest

from tabular_cdc_bootstrapper_spark.streaming.state_table import (
    ParquetStateTable,
)


def _df(spark, tag: str, n: int = 3):
    return spark.range(n).selectExpr("id", f"'{tag}' AS tag")


def _tags(spark, table: ParquetStateTable, version: int | None = None):
    df = (
        table.read(spark)
        if version is None
        else table.read_version(spark, version)
    )
    return sorted((r.id, r.tag) for r in df.collect())


def test_history_grows_append_only_and_marks_current(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    assert t.history() == []
    for i in range(3):
        rec = t.commit(_df(spark, f"v{i}"))
        assert rec["version"] == i
        assert rec["ts"] > 0
    h = t.history()
    assert [e["version"] for e in h] == [0, 1, 2]
    assert [e["is_current"] for e in h] == [False, False, True]
    assert all(e["readable"] for e in h)


def test_read_version_returns_each_snapshot_exactly(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    for i in range(3):
        t.commit(_df(spark, f"v{i}", n=i + 1))
    for i in range(3):
        assert _tags(spark, t, i) == [(j, f"v{i}") for j in range(i + 1)]
    with pytest.raises(ValueError, match="no snapshot 9"):
        t.read_version(spark, 9)


def test_read_as_of_resolves_latest_at_or_before(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    recs = [t.commit(_df(spark, f"v{i}")) for i in range(3)]
    # exactly AT a commit ts -> that commit (inclusive boundary)
    at = t.read_as_of(spark, recs[1]["ts"])
    assert at.select("tag").distinct().collect()[0].tag == "v1"
    # strictly between v1 and v2 -> v1
    mid = (recs[1]["ts"] + recs[2]["ts"]) / 2
    assert t.read_as_of(spark, mid).select("tag").first().tag == "v1"
    # after the head -> head
    assert t.read_as_of(spark, recs[2]["ts"] + 1).select("tag").first().tag == "v2"
    # before the first commit -> error
    with pytest.raises(ValueError, match="at or before"):
        t.read_as_of(spark, recs[0]["ts"] - 1)


def test_rollback_is_a_new_commit_history_untouched(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    for i in range(3):
        t.commit(_df(spark, f"v{i}"))
    rec = t.rollback(1)
    assert rec["version"] == 3
    assert rec["rollback_of"] == 1
    # CURRENT now serves v1's data (same dir, not a copy)
    assert _tags(spark, t) == _tags(spark, t, 1)
    h = t.history()
    assert [e["version"] for e in h] == [0, 1, 2, 3]
    assert h[3]["dir"] == h[1]["dir"]
    # the skipped-past snapshot v2 is still readable history
    assert _tags(spark, t, 2) == [(j, "v2") for j in range(3)]
    with pytest.raises(ValueError, match="no snapshot 7"):
        t.rollback(7)


def test_retention_expires_old_data_but_keeps_log(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=2)
    for i in range(4):
        t.commit(_df(spark, f"v{i}"))
    h = t.history()
    assert [e["readable"] for e in h] == [False, False, True, True]
    with pytest.raises(ValueError, match="expired"):
        t.read_version(spark, 0)
    assert _tags(spark, t, 2) == [(j, "v2") for j in range(3)]
    with pytest.raises(ValueError, match="expired"):
        t.rollback(0)


def test_retention_keeps_rollback_target_dir_alive(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=3)
    for i in range(4):
        t.commit(_df(spark, f"v{i}"))
    # v0 expired, v1..v3 retained; rollback to the oldest retained
    t.rollback(1)  # v4 -> dir of v1
    t.commit(_df(spark, "v5"))
    # retained log entries are now {3, 4(->d1), 5}: v1's dir must survive
    # even though by pure version order it would have aged out
    assert _tags(spark, t, 4) == [(j, "v1") for j in range(3)]
    assert t.read_version(spark, 4) is not None
    assert _tags(spark, t) == [(j, "v5") for j in range(3)]


def test_crash_orphan_log_entry_is_superseded(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    # simulate a crash between log append and pointer swap: a log entry
    # exists for v1 but CURRENT still points at v0
    orphan_dir = os.path.join(t.root, "v-00000001-deadbeef")
    with open(os.path.join(t._log_dir, "v-00000001.json"), "w") as fh:
        json.dump({"version": 1, "dir": orphan_dir, "ts": 0.0}, fh)
    # age the orphan past the in-flight conflict grace (r11: a FRESH
    # ref-less above-pointer entry is presumed a concurrent commit)
    os.utime(os.path.join(t._log_dir, "v-00000001.json"), (0, 0))
    # history hides the unpublished snapshot
    assert [e["version"] for e in t.history()] == [0]
    # the next commit supersedes the orphan version, never reuses it
    rec = t.commit(_df(spark, "v2"))
    assert rec["version"] == 2
    assert [e["version"] for e in t.history()] == [0, 2]
    assert _tags(spark, t) == [(j, "v2") for j in range(3)]


def test_crashed_rollback_orphan_gc_spares_committed_dir(spark, tmp_path):
    """ADVICE r8 (medium): a rollback log entry SHARES its dir with the
    older committed snapshot it re-points at. If the crash window between
    log append and pointer swap hits, the orphan's dir must NOT be
    GC'd by the next commit — it still holds a retained committed
    snapshot's data."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.commit(_df(spark, "v1"))
    v0_dir = t.history()[0]["dir"]
    # simulate rollback(0) crashing between log append and pointer swap:
    # log entry v2 exists, referencing v0's dir, but CURRENT still at v1
    with open(os.path.join(t._log_dir, "v-00000002.json"), "w") as fh:
        json.dump(
            {"version": 2, "dir": v0_dir, "ts": 0.0, "rollback_of": 0}, fh
        )
    os.utime(os.path.join(t._log_dir, "v-00000002.json"), (0, 0))  # aged
    rec = t.commit(_df(spark, "v3"))  # triggers orphan GC of entry v2
    assert rec["version"] == 3
    # the committed v0 snapshot survives the orphan GC and stays readable
    assert os.path.isdir(v0_dir)
    assert _tags(spark, t, 0) == [(j, "v0") for j in range(3)]
    assert [e["version"] for e in t.history()] == [0, 1, 3]


def test_pre_log_table_stays_readable_and_upgrades(spark, tmp_path):
    # a table written before the snapshot log existed: data dir + pointer,
    # no _log
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    import shutil

    shutil.rmtree(t._log_dir)
    assert t.history() == []
    assert _tags(spark, t) == [(j, "v0") for j in range(3)]
    rec = t.commit(_df(spark, "v1"))
    assert rec["version"] == 1  # continues the pointer's numbering
    assert [e["version"] for e in t.history()] == [1]
    assert _tags(spark, t) == [(j, "v1") for j in range(3)]


def _named(spark, pairs):
    return spark.createDataFrame(pairs, "id long, name string")


def test_table_changes_between_snapshots(spark, tmp_path):
    """Change data feed (Delta CDF / Iceberg CHANGES parity): the minimal
    I/U/D changelog between two snapshots, resolved through the log."""
    from tabular_cdc_bootstrapper_spark.operators.cdc import apply_changelog
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )
    from tabular_cdc_bootstrapper_spark.streaming.feeds import table_changes

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_named(spark, [(0, "a"), (1, "b"), (4, "e")]))
    t.commit(_named(spark, [(0, "A"), (1, "b"), (5, "f")]))
    ch = table_changes(spark, t, 0, 1, key_cols="id")
    got = {(r.id, r.op): r.name for r in ch.collect()}
    # minimal: unchanged id=1 emits nothing; delete carries only its key
    assert got == {(0, "U"): "A", (4, "D"): None, (5, "I"): "f"}
    # round-trip law: fold the feed onto v0 -> v1 exactly
    v0_as_log = t.read_version(spark, 0).selectExpr(
        "id", "name", "'I' AS op", "0 AS seq"
    )
    folded = apply_changelog(
        v0_as_log.unionByName(ch.selectExpr("id", "name", "op", "1 AS seq")),
        key_cols="id",
        ts_cols="seq",
        drop_envelope=["op", "seq"],
    )
    assert {(r.id, r.name) for r in folded.collect()} == {
        (0, "A"), (1, "b"), (5, "f"),
    }
    # direction inverts: I <-> D, U carries the other side's payload
    rev = {(r.id, r.op): r.name for r in
           table_changes(spark, t, 1, 0, key_cols="id").collect()}
    assert rev == {(0, "U"): "a", (4, "I"): "e", (5, "D"): None}


def test_table_changes_cross_layout_agreement(spark, tmp_path):
    """The feed computed on the versioned BUCKETED mirror equals the one
    computed on the snapshot layout for the same logical history."""
    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )
    from tabular_cdc_bootstrapper_spark.streaming.feeds import table_changes

    target = CdcTarget(source_uri="file:///x", key_column="id", ts_column="ts")
    b0 = spark.createDataFrame(
        [(i, f"n{i}", 0, "I") for i in range(8)],
        "id long, name string, ts long, op string",
    )
    b1 = spark.createDataFrame(
        [(0, "N0", 1, "U"), (7, "x", 1, "D"), (8, "n8", 1, "I")],
        "id long, name string, ts long, op string",
    )
    vm = VersionedBucketMirror(
        str(tmp_path / "vm"), n_buckets=4, key_col="id", keep_versions=10
    )
    vm.initialize(b0)
    vm.merge_batch(b1, target)
    st = ParquetStateTable(str(tmp_path / "st"), keep_versions=10)
    st.commit(b0)
    from tabular_cdc_bootstrapper_spark.operators.cdc import apply_changelog

    st.commit(
        apply_changelog(
            st.read(spark).drop("op", "ts").selectExpr(
                "id", "name", "'I' AS op", "0 AS ts"
            ).unionByName(b1),
            key_cols="id",
            ts_cols="ts",
        )
    )

    def feed(tbl):
        # the mirrors retain their changelog envelope (op/ts): per-event
        # provenance, not state — excluded from the comparison
        return {
            (r.id, r.op, r.name)
            for r in table_changes(
                spark, tbl, 0, 1, key_cols="id", drop_cols=("op", "ts")
            )
            .select("id", "op", "name")
            .collect()
        }

    assert feed(vm) == feed(st) == {
        (0, "U", "N0"), (7, "D", None), (8, "I", "n8"),
    }


# --- GDPR purge (r9): history-rewriting hard delete ------------------------


def test_purge_keys_removes_from_all_retained_versions(spark, tmp_path):
    """After purge, the keys are gone from CURRENT and from every
    VERSION AS OF read; versions, order, and metadata survive."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    for i in range(3):
        t.commit(_df(spark, f"v{i}", n=6), meta={"batch": i})
    keys = spark.createDataFrame([(1,), (4,)], "id long")
    out = t.purge_keys(spark, keys, "id")
    assert out["versions_rewritten"] == 3 and out["dirs_rewritten"] == 3
    h = t.history()
    assert [e["version"] for e in h] == [0, 1, 2]
    assert all(e["readable"] for e in h)
    assert all("purged_ts" in e for e in h)
    assert h[1]["batch"] == 1  # metadata preserved
    for v in range(3):
        ids = {i for i, _ in _tags(spark, t, version=v)}
        assert ids == {0, 2, 3, 5}, v
    assert {i for i, _ in _tags(spark, t)} == {0, 2, 3, 5}


def test_purge_keys_handles_rollback_shared_dirs(spark, tmp_path):
    """A rollback entry shares its data dir with the original snapshot:
    purge must rewrite the dir ONCE and re-point both entries at it."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0", n=4))
    t.commit(_df(spark, "v1", n=4))
    t.rollback(0)  # version 2 shares version 0's dir
    out = t.purge_keys(spark, spark.createDataFrame([(0,)], "id long"), "id")
    assert out["versions_rewritten"] == 3
    assert out["dirs_rewritten"] == 2  # v0+v2 share one dir
    h = t.history()
    assert h[0]["dir"] == h[2]["dir"]  # still shared after rewrite
    for v in range(3):
        assert 0 not in {i for i, _ in _tags(spark, t, version=v)}


def test_purge_keys_is_idempotent_and_feed_safe(spark, tmp_path):
    """Re-running the same purge converges (no-op rewrite), and the
    change feed between snapshots never resurrects a purged key."""
    from tabular_cdc_bootstrapper_spark.streaming.feeds import table_changes

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0", n=5))
    t.commit(_df(spark, "v1", n=5))
    keys = spark.createDataFrame([(2,), (3,)], "id long")
    t.purge_keys(spark, keys, "id")
    again = t.purge_keys(spark, keys, "id")
    # a re-run is a TRUE no-op (r12): the semi-join probe finds no dir
    # holding the keys, so nothing is rewritten
    assert again["versions_rewritten"] == 0 and again["dirs_rewritten"] == 0
    feed = table_changes(spark, t, 0, 1, key_cols="id")
    assert {r.id for r in feed.collect()} & {2, 3} == set()
    assert {i for i, _ in _tags(spark, t)} == {0, 1, 4}


def test_purge_keys_empty_table_is_noop(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"))
    out = t.purge_keys(spark, spark.createDataFrame([(1,)], "id long"), "id")
    assert out == {"versions_rewritten": 0, "dirs_rewritten": 0}


# --- explicit snapshot expiry (r9) ------------------------------------------


def test_expire_snapshots_keep_last(spark, tmp_path):
    """keep_last=N reclaims older snapshots' data, keeps their log entries
    (readable=false), and never touches CURRENT or shared rollback dirs."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    for i in range(4):
        t.commit(_df(spark, f"v{i}"))
    out = t.expire_snapshots(keep_last=2)
    assert out["expired_versions"] == [0, 1]
    assert out["dirs_removed"] == 2
    h = t.history()
    assert [e["version"] for e in h] == [0, 1, 2, 3]  # log intact
    assert [e["readable"] for e in h] == [False, False, True, True]
    assert _tags(spark, t, version=3)  # current still reads
    with pytest.raises(ValueError, match="expired"):
        t.read_version(spark, 0)


def test_expire_snapshots_spares_rollback_shared_dir(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.commit(_df(spark, "v1"))
    t.rollback(0)  # v2 shares v0's dir
    out = t.expire_snapshots(keep_last=1)
    assert out["expired_versions"] == [0, 1]
    assert out["dirs_removed"] == 1  # only v1's dir: v0's is shared by head
    assert _tags(spark, t, version=0)  # still readable via the shared dir
    assert _tags(spark, t, version=2)


def test_expire_snapshots_older_than_and_no_criterion(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.commit(_df(spark, "v1"))
    assert t.expire_snapshots() == {"expired_versions": [], "dirs_removed": 0}
    cutoff = t.history()[1]["ts"]  # strictly-older semantics
    out = t.expire_snapshots(older_than_ts=cutoff)
    assert out["expired_versions"] == [0]
    assert t.history()[0]["readable"] is False


# --- write-audit-publish (r9) ------------------------------------------------


def test_wap_failing_audit_never_publishes(spark, tmp_path):
    """A batch violating the rule suite must not become a readable
    version: history unchanged, current state unchanged, staging dir
    cleaned, and the report names the failing rules."""
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        in_range,
        not_null,
    )

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    bad = spark.createDataFrame(
        [(1, "ok"), (None, "bad")], "id long, tag string"
    )
    out = t.write_audit_publish(
        spark, bad, [not_null("id"), in_range("id", 0, 100)]
    )
    assert out["published"] is False and out["version"] is None
    failed = {r["rule"] for r in out["report"] if not r["passed"]}
    assert "not_null(id)" in failed or any("id" in f for f in failed)
    assert [e["version"] for e in t.history()] == [0]
    assert _tags(spark, t) == _tags(spark, t, version=0)
    assert not [d for d in os.listdir(t.root) if d.startswith("wap-")]


def test_wap_passing_audit_publishes_atomically(spark, tmp_path):
    from tabular_cdc_bootstrapper_spark.functions.constraints import not_null

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    good = spark.createDataFrame([(7, "g")], "id long, tag string")
    out = t.write_audit_publish(spark, good, [not_null("id")], meta={"b": 1})
    assert out["published"] is True and out["version"] == 1
    assert all(r["passed"] for r in out["report"])
    h = t.history()
    assert [e["version"] for e in h] == [0, 1]
    assert h[1]["audited"] is True and h[1]["b"] == 1
    assert _tags(spark, t) == [(7, "g")]
    assert _tags(spark, t, version=0)  # old snapshot intact


def test_wap_gc_collects_crashed_audit_staging(spark, tmp_path):
    """Only STALE wap-* staging is garbage-collected (ADVICE r9): a dir
    older than the grace period is a crashed audit and dies; a FRESH one
    may be a concurrent writer's audit-in-flight and must survive."""
    import time as _time

    from tabular_cdc_bootstrapper_spark.functions.constraints import not_null

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    stale = os.path.join(t.root, "wap-deadbeef")
    fresh = os.path.join(t.root, "wap-cafebabe")
    os.makedirs(stale)
    os.makedirs(fresh)
    old = _time.time() - 7200
    os.utime(stale, (old, old))
    t.write_audit_publish(
        spark, _df(spark, "v0"), [not_null("id")]
    )
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh)  # peer's in-flight staging untouched
    assert _tags(spark, t)


def test_wap_anomaly_rules_gate_the_publish(spark, tmp_path):
    """AnomalyRules participate in the WAP gate (VERDICT r10 task 1):
    baseline = the previous committed snapshot. An in-band batch
    publishes; an out-of-band one is rejected with the anomaly report;
    a table with no baseline snapshot raises."""
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        not_null,
        row_count_within,
    )

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    with pytest.raises(ValueError, match="no committed snapshot"):
        t.write_audit_publish(
            spark, spark.range(10), [row_count_within(10, 100)]
        )
    t.commit(spark.range(100))
    ok = t.write_audit_publish(
        spark,
        spark.range(95),
        [not_null("id"), row_count_within(10, 100)],
    )
    assert ok["published"] is True
    assert {r["rule"] for r in ok["report"]} == {
        "not_null(id)",
        "row_count_within(10/100)",
    }
    anomaly_row = [r for r in ok["report"] if "row_count" in r["rule"]][0]
    assert anomaly_row["baseline"] == 100 and anomaly_row["observed"] == 95
    # vs the NEW baseline (95), a 50-row batch is far out of band
    bad = t.write_audit_publish(
        spark,
        spark.range(50),
        [not_null("id"), row_count_within(10, 100)],
    )
    assert bad["published"] is False
    failed = {r["rule"] for r in bad["report"] if not r["passed"]}
    assert failed == {"row_count_within(10/100)"}
    assert [e["version"] for e in t.history()] == [0, 1]


# --- tags: named immutable refs (r9) ------------------------------------------


def test_tag_keeps_snapshot_alive_through_retention(spark, tmp_path):
    """A tagged snapshot's data survives per-commit retention AND explicit
    expire_snapshots for as long as the tag exists (Iceberg ref rule);
    deleting the tag releases it."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=2)
    t.commit(_df(spark, "v0"))
    t.tag("training-run", 0)
    for i in range(1, 5):
        t.commit(_df(spark, f"v{i}"))
    # v0 is far outside keep_versions=2 but tagged → still readable
    assert _tags(spark, t, version=0) == [(i, "v0") for i in range(3)]
    assert {r[1] for r in _tags(spark, t)} == {"v4"}
    assert t.read_tag(spark, "training-run").collect()
    out = t.expire_snapshots(keep_last=1)
    assert 0 not in out["expired_versions"]  # tagged: never expired
    assert _tags(spark, t, version=0)
    t.delete_tag("training-run")
    out = t.expire_snapshots(keep_last=1)
    assert 0 in out["expired_versions"]
    with pytest.raises(ValueError, match="expired"):
        t.read_version(spark, 0)


def test_tag_validation_and_listing(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    with pytest.raises(ValueError, match="no snapshot to tag"):
        t.tag("x")
    t.commit(_df(spark, "v0"))
    t.commit(_df(spark, "v1"))
    t.tag("prod")  # defaults to current
    t.tag("audit", 0)
    assert [(x["name"], x["version"]) for x in t.tags()] == [
        ("audit", 0), ("prod", 1)
    ]
    with pytest.raises(ValueError, match="no snapshot 9"):
        t.tag("nope", 9)
    with pytest.raises(ValueError, match="invalid tag name"):
        t.tag("../evil", 0)
    with pytest.raises(ValueError, match="no tag"):
        t.read_tag(spark, "ghost")
    with pytest.raises(ValueError, match="no tag"):
        t.delete_tag("ghost")
    # moving a tag re-points it
    t.tag("prod", 0)
    assert {r[1] for r in
            {(x[0], x[1]) for x in _tags(spark, t)}} == {"v1"}
    assert {x[1] for x in _tags(spark, t, version=0)} == {"v0"}
    assert t.read_tag(spark, "prod").collect()[0]["tag"] == "v0"


# --- CLONE: shallow/deep table branches (r9) ----------------------------------


def test_shallow_clone_reads_and_diverges(spark, tmp_path):
    """A shallow clone reads every cloned version zero-copy; its commits
    diverge without touching the source, and the source's later commits
    don't appear in the clone."""
    src = ParquetStateTable(str(tmp_path / "src"), keep_versions=10)
    src.commit(_df(spark, "v0"))
    src.commit(_df(spark, "v1"))
    clone = src.clone_to(str(tmp_path / "dev"), mode="shallow")
    assert _tags(spark, clone) == _tags(spark, src)
    assert _tags(spark, clone, version=0) == _tags(spark, src, version=0)
    assert clone.history()[-1]["cloned_from"] == src.root
    clone.commit(_df(spark, "dev2"))
    src.commit(_df(spark, "src2"))
    assert {r[1] for r in _tags(spark, clone)} == {"dev2"}
    assert {r[1] for r in _tags(spark, src)} == {"src2"}
    # both heads are version 2, but they are DIFFERENT snapshots
    assert clone.history()[-1]["dir"] != src.history()[-1]["dir"]


def test_shallow_clone_destructive_ops_spare_source_bytes(spark, tmp_path):
    """Purge and expiry on a shallow clone must never delete the source's
    data dirs: the clone re-points/drops references only."""
    src = ParquetStateTable(str(tmp_path / "src"), keep_versions=10)
    src.commit(_df(spark, "v0", n=6))
    src.commit(_df(spark, "v1", n=6))
    src_dirs = [e["dir"] for e in src.history()]
    clone = src.clone_to(str(tmp_path / "dev"), mode="shallow")
    out = clone.purge_keys(
        spark, spark.createDataFrame([(1,)], "id long"), "id"
    )
    assert out["versions_rewritten"] == 2
    # clone no longer shows key 1 anywhere...
    for v in (0, 1):
        assert 1 not in {i for i, _ in _tags(spark, clone, version=v)}
    # ...but the source is byte-for-byte intact
    assert all(os.path.isdir(d) for d in src_dirs)
    assert 1 in {i for i, _ in _tags(spark, src)}
    clone.commit(_df(spark, "dev", n=2))
    out = clone.expire_snapshots(keep_last=1)
    assert 0 in out["expired_versions"]
    assert all(os.path.isdir(d) for d in src_dirs)  # still intact
    assert _tags(spark, src, version=0)  # source history fully readable


def test_deep_clone_is_fully_independent(spark, tmp_path):
    import shutil

    src = ParquetStateTable(str(tmp_path / "src"), keep_versions=10)
    src.commit(_df(spark, "v0"))
    src.commit(_df(spark, "v1"))
    clone = src.clone_to(str(tmp_path / "deep"), mode="deep")
    assert _tags(spark, clone) == _tags(spark, src)
    # destroying the source leaves the deep clone fully readable
    shutil.rmtree(src.root)
    assert _tags(spark, clone, version=0) and _tags(spark, clone, version=1)


def test_clone_validation(spark, tmp_path):
    src = ParquetStateTable(str(tmp_path / "src"), keep_versions=10)
    with pytest.raises(ValueError, match="no snapshot to clone"):
        src.clone_to(str(tmp_path / "x"))
    src.commit(_df(spark, "v0"))
    with pytest.raises(ValueError, match="unknown clone mode"):
        src.clone_to(str(tmp_path / "x"), mode="sideways")
    with pytest.raises(ValueError, match="no readable snapshot 7"):
        src.clone_to(str(tmp_path / "x"), version=7)
    # clone at an old version: head is that version
    src.commit(_df(spark, "v1"))
    old = src.clone_to(str(tmp_path / "old"), version=0)
    assert {r[1] for r in _tags(spark, old)} == {"v0"}
    assert len(old.history()) == 1


def test_table_changes_is_bucket_pruned_on_manifests(spark, tmp_path):
    """r11: on the versioned mirror the CDF reads ONLY the buckets whose
    manifest state changed between the two snapshots — equal output to
    the naive full diff, at changed-bucket cost; a metadata-only
    alter_schema yields an empty (no data moved) feed."""
    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.operators.diff import table_diff
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )
    from tabular_cdc_bootstrapper_spark.streaming.feeds import table_changes

    target = CdcTarget(source_uri="file:///x", key_column="id", ts_column="ts")

    def b(rows):
        return spark.createDataFrame(
            rows, "id long, name string, ts long, op string"
        )

    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=16, key_col="id", keep_versions=10
    )
    m.initialize(b([(i, f"v0-{i}", 0, "I") for i in range(64)]))
    m.merge_batch(
        b([(0, "X", 1, "U"), (1, None, 1, "D"), (99, "new", 1, "I")]), target
    )
    # record which buckets the pruned path actually reads
    asked = []
    orig = m._read_entry

    def spy(spark_, e, buckets=None):
        asked.append(sorted(buckets) if buckets is not None else None)
        return orig(spark_, e, buckets=buckets)

    m._read_entry = spy
    drop = ("op", "ts")
    feed = {
        (r.id, r.op): r.name
        for r in table_changes(
            spark, m, 0, 1, key_cols="id", drop_cols=drop
        ).collect()
    }
    assert feed == {(0, "U"): "X", (1, "D"): None, (99, "I"): "new"}
    # both reads were pruned to the (at most 3) touched buckets
    assert all(a is not None and len(a) <= 3 for a in asked)
    m._read_entry = orig
    # equivalence with the naive full diff
    naive = table_diff(
        m.read(spark, version=0).drop(*drop),
        m.read(spark, version=1).drop(*drop),
        "id",
    )
    assert {(r.id, r.op): r.name for r in naive.collect()} == feed
    # a metadata-only alter yields an EMPTY typed feed
    m.alter_schema(rename={"name": "label"})
    v = m.current()["version"]
    empty = table_changes(spark, m, v - 1, v, key_cols="id", drop_cols=drop)
    assert empty.count() == 0 and "label" in empty.columns


# --- commit_many (r16: one staged write job for N consecutive versions) ---


def test_commit_many_equals_serial_commits(spark, tmp_path):
    """History, data, pointer, and recorded schema must be byte-
    equivalent to N serial commit() calls — only the job count differs."""
    a = ParquetStateTable(str(tmp_path / "a"), keep_versions=10)
    b = ParquetStateTable(str(tmp_path / "b"), keep_versions=10)
    frames = [_df(spark, f"v{i}", n=i + 1) for i in range(3)]
    recs = a.commit_many(frames, metas=[None, {"note": "x"}, None])
    for f, m in zip(frames, [None, {"note": "x"}, None]):
        b.commit(f, meta=m)
    assert [r["version"] for r in recs] == [0, 1, 2]
    assert [e["version"] for e in a.history()] == [0, 1, 2]
    assert a.history()[1].get("note") == "x"
    assert a.current()["version"] == 2
    for v in range(3):
        assert _tags(spark, a, v) == _tags(spark, b, v)
        ea, eb = a.history()[v], b.history()[v]
        assert ea["data_schema"] == eb["data_schema"]
    # no staging residue under the root
    assert not [d for d in os.listdir(a.root) if d.startswith("commit-stg")]


def test_commit_many_empty_frame_stays_readable(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    frames = [_df(spark, "v0"), _df(spark, "v1").filter("id < 0")]
    t.commit_many(frames)
    assert _tags(spark, t, 0) == [(i, "v0") for i in range(3)]
    assert t.read_version(spark, 1).count() == 0
    assert t.read_version(spark, 1).columns == ["id", "tag"]


def test_commit_many_falls_back_on_mixed_schemas_and_constraints(
    spark, tmp_path
):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    # mixed schemas: serial path, both versions still commit correctly
    t.commit_many(
        [_df(spark, "v0"), _df(spark, "v1").selectExpr("id", "tag", "1 AS z")]
    )
    assert t.read_version(spark, 1).columns == ["id", "tag", "z"]
    # an active CHECK constraint routes through commit() (per-version
    # validation of written bytes) and still rejects violations
    t2 = ParquetStateTable(str(tmp_path / "t2"), keep_versions=10)
    t2.commit(_df(spark, "v0"))
    t2.add_constraint(spark, "ids_small", "id < 100")
    from tabular_cdc_bootstrapper_spark.streaming._protocol import (
        ConstraintViolation,
    )

    ok = spark.range(2).selectExpr("id", "'v1' AS tag")
    bad = spark.range(200).selectExpr("id", "'v2' AS tag")
    t2.commit_many([ok])
    head_before = t2.current()["version"]
    with pytest.raises(ConstraintViolation):
        t2.commit_many([ok, bad])
    # the serial fallback landed the ok frame; the bad one never published
    assert t2.current()["version"] == head_before + 1
    assert t2.read(spark).count() == 2
