"""Writable branches on ParquetStateTable (VERDICT r10 task 3): named
MUTABLE refs in the SAME snapshot log — `branch(name)` forks at a
committed version, `commit(df, branch=name)` advances only the branch
pointer (invisible to main readers), `fast_forward(name)` publishes the
staged chain to main atomically. The laws pinned here:

- staged branch commits are invisible to every main read path;
- fast-forward is atomic, requires main to still be at the fork point
  (divergence errors, never a silent merge), and rejects interleaved
  foreign-branch version windows;
- a crash between a branch commit and fast-forward never loses
  published state: staged entries survive main publishes (orphan-GC
  protection window), and a mid-fast-forward crash converges on re-run;
- retention/expiry keep branch-referenced dirs (the ref-keeps-snapshot
  rule, same as tags); deleting the branch releases them;
- GDPR purge reaches staged branch snapshots (no PII leak via a branch);
- write_audit_publish(branch=...) composes into multi-batch WAP.

Iceberg analog: branch/fast_forward in the snapshot-ref model the
reference's table format implies (reference tabular.py:8,92).
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


def _tags(spark, df):
    return sorted((r.id, r.tag) for r in df.collect())


def test_branch_commits_invisible_to_main(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.branch("audit")
    rec = t.commit(_df(spark, "b1"), branch="audit")
    assert rec["version"] == 1 and rec["ref"] == "audit"
    # every main read path still serves v0
    assert _tags(spark, t.read(spark)) == _tags(spark, _df(spark, "v0"))
    assert [e["version"] for e in t.history()] == [0]
    with pytest.raises(ValueError, match="no snapshot 1"):
        t.read_version(spark, 1)
    # the branch sees its staged commit
    assert _tags(spark, t.read_branch(spark, "audit")) == _tags(
        spark, _df(spark, "b1")
    )
    hist = t.branch_history("audit")
    assert [e["version"] for e in hist] == [0, 1]
    assert hist[1]["ref"] == "audit" and hist[1]["is_current"]


def test_branch_from_empty_or_unknown_version_raises(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    with pytest.raises(ValueError, match="no snapshot to branch"):
        t.branch("b")
    t.commit(_df(spark, "v0"))
    with pytest.raises(ValueError, match="no snapshot 9"):
        t.branch("b", from_version=9)
    t.branch("b")
    with pytest.raises(ValueError, match="already exists"):
        t.branch("b")
    with pytest.raises(ValueError, match="no branch"):
        t.commit(_df(spark, "x"), branch="nope")


def test_fast_forward_publishes_staged_chain(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.branch("staging")
    t.commit(_df(spark, "b1"), branch="staging")
    t.commit(_df(spark, "b2"), branch="staging")
    head = t.fast_forward("staging")
    assert head["version"] == 2 and "ref" not in head
    # main now serves the branch head; the whole chain is main history
    assert _tags(spark, t.read(spark)) == _tags(spark, _df(spark, "b2"))
    h = t.history()
    assert [e["version"] for e in h] == [0, 1, 2]
    assert _tags(spark, t.read_version(spark, 1)) == _tags(
        spark, _df(spark, "b1")
    )
    # idempotent once published: branch head == main head -> no-op
    assert t.fast_forward("staging")["version"] == 2


def test_fast_forward_rejects_divergence(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.branch("b")
    t.commit(_df(spark, "b1"), branch="b")
    t.commit(_df(spark, "v2"))  # main advances past the fork point
    with pytest.raises(ValueError, match="diverged"):
        t.fast_forward("b")
    # the diverged branch is still readable at its own head
    assert _tags(spark, t.read_branch(spark, "b")) == _tags(
        spark, _df(spark, "b1")
    )


def test_fast_forward_rejects_interleaved_foreign_branch(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.branch("a")
    t.branch("b")
    t.commit(_df(spark, "a1"), branch="a")  # v1 on a
    t.commit(_df(spark, "b1"), branch="b")  # v2 on b
    t.commit(_df(spark, "a2"), branch="a")  # v3 on a
    # a's window (0, 3] contains b's v2 -> not a linear chain
    with pytest.raises(ValueError, match="interleaved"):
        t.fast_forward("a")
    # b's window (0, 2] contains a's v1 -> same
    with pytest.raises(ValueError, match="interleaved"):
        t.fast_forward("b")


def test_staged_branch_survives_main_publish_gc(spark, tmp_path):
    """Crash-window law: a staged branch commit sits above the main
    pointer exactly like a crash orphan — the publish-time orphan GC
    must spare it (log entry AND data dir)."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.branch("b")
    staged = t.commit(_df(spark, "b1"), branch="b")
    t.commit(_df(spark, "v2"))  # main publish runs orphan GC
    assert os.path.isdir(staged["dir"])
    assert os.path.exists(
        os.path.join(t._log_dir, f"v-{staged['version']:08d}.json")
    )
    assert _tags(spark, t.read_branch(spark, "b")) == _tags(
        spark, _df(spark, "b1")
    )


def test_deleted_branch_releases_staged_commits(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.branch("b")
    staged = t.commit(_df(spark, "b1"), branch="b")
    t.delete_branch("b")
    with pytest.raises(ValueError, match="no branch"):
        t.read_branch(spark, "b")
    # age the released entry past the in-flight grace (r11: a fresh
    # above-pointer ref'd entry could be a concurrent branch commit)
    os.utime(
        os.path.join(t._log_dir, f"v-{staged['version']:08d}.json"), (0, 0)
    )
    t.commit(_df(spark, "v2"))  # next main publish GCs the orphaned stage
    assert not os.path.isdir(staged["dir"])
    assert not os.path.exists(
        os.path.join(t._log_dir, f"v-{staged['version']:08d}.json")
    )


def test_crashed_branch_commit_is_garbage_collected(spark, tmp_path):
    """A crash BETWEEN the branch log append and the branch-pointer
    advance leaves an entry above the branch head — outside the
    protection window, so the next main publish reclaims it and the
    branch stays consistent at its old head."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.branch("b")
    t.commit(_df(spark, "b1"), branch="b")  # head -> 1
    # simulate the crashed second branch commit: entry v2 written with
    # ref=b, but the branch pointer never advanced
    orphan_dir = os.path.join(t.root, "v-00000002-deadbeef")
    os.makedirs(orphan_dir)
    with open(os.path.join(t._log_dir, "v-00000002.json"), "w") as fh:
        json.dump(
            {"version": 2, "dir": orphan_dir, "ts": 0.0, "ref": "b"}, fh
        )
    os.utime(os.path.join(t._log_dir, "v-00000002.json"), (0, 0))  # aged
    t.commit(_df(spark, "v3"))
    assert not os.path.isdir(orphan_dir)
    assert _tags(spark, t.read_branch(spark, "b")) == _tags(
        spark, _df(spark, "b1")
    )


def test_mid_fast_forward_crash_converges_on_rerun(spark, tmp_path):
    """Crash between the ref strips and the pointer swap: stripped
    entries stay protected by the branch window, and re-running
    fast_forward completes the publish."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.branch("b")
    t.commit(_df(spark, "b1"), branch="b")
    t.commit(_df(spark, "b2"), branch="b")
    # simulate the partial strip (v1 stripped, pointer not swapped) —
    # including the in-progress marker the crashed run wrote (r11: a
    # ref-less window entry is accepted ONLY under a matching marker)
    os.makedirs(os.path.join(t.root, "_ff"), exist_ok=True)
    with open(os.path.join(t.root, "_ff", "b.json"), "w") as fh:
        json.dump({"name": "b", "base": 0, "head": 2, "ts": 0.0}, fh)
    lpath = os.path.join(t._log_dir, "v-00000001.json")
    with open(lpath) as fh:
        e = json.load(fh)
    del e["ref"]
    with open(lpath, "w") as fh:
        json.dump(e, fh)
    assert [x["version"] for x in t.history()] == [0]  # still unpublished
    head = t.fast_forward("b")
    assert head["version"] == 2
    assert [x["version"] for x in t.history()] == [0, 1, 2]
    assert _tags(spark, t.read(spark)) == _tags(spark, _df(spark, "b2"))


def test_retention_and_expiry_keep_branch_dirs(spark, tmp_path):
    """Ref-keeps-snapshot for branches: staged dirs AND the fork-point
    dir survive per-commit retention and explicit expire_snapshots
    while the branch lives."""
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=2)
    t.commit(_df(spark, "v0"))
    t.branch("b")
    staged = t.commit(_df(spark, "b1"), branch="b")
    for i in range(2, 6):
        t.commit(_df(spark, f"v{i}"))
    # v0 (fork point) and the staged dir outlive keep_versions=2
    assert os.path.isdir(staged["dir"])
    assert _tags(spark, t.read_version(spark, 0)) == _tags(
        spark, _df(spark, "v0")
    )
    out = t.expire_snapshots(keep_last=1)
    assert 0 not in out["expired_versions"]
    assert os.path.isdir(staged["dir"])
    assert _tags(spark, t.read_branch(spark, "b")) == _tags(
        spark, _df(spark, "b1")
    )


def test_purge_keys_reaches_staged_branch_snapshots(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0", n=5))
    t.branch("b")
    t.commit(_df(spark, "b1", n=5), branch="b")
    purge = spark.createDataFrame([(3,)], "id long")
    out = t.purge_keys(spark, purge, "id")
    assert out["dirs_rewritten"] == 2  # main v0 AND the staged branch dir
    assert 3 not in {r.id for r in t.read(spark).collect()}
    assert 3 not in {r.id for r in t.read_branch(spark, "b").collect()}
    # branch still fast-forwardable after the rewrite
    head = t.fast_forward("b")
    assert head["version"] == 1


def test_wap_on_branch_multi_batch_then_fast_forward(spark, tmp_path):
    """The multi-batch WAP flow branches exist for: audit each batch
    onto the branch (anomaly baseline = previous branch head), then one
    fast-forward publishes the whole audited chain to main."""
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        not_null,
        row_count_within,
    )

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(spark.range(100))
    t.branch("etl")
    r1 = t.write_audit_publish(
        spark,
        spark.range(95),
        [not_null("id"), row_count_within(10, 100)],
        branch="etl",
    )
    assert r1["published"] is True and r1["ref"] == "etl"
    # second batch audits against the BRANCH head (95), not main (100)
    r2 = t.write_audit_publish(
        spark,
        spark.range(30),
        [row_count_within(10, 100)],
        branch="etl",
    )
    assert r2["published"] is False  # 30 vs 95 is out of band
    r3 = t.write_audit_publish(
        spark, spark.range(90), [row_count_within(10, 100)], branch="etl"
    )
    assert r3["published"] is True
    assert [e["version"] for e in t.history()] == [0]  # main untouched
    head = t.fast_forward("etl")
    assert head["audited"] is True
    assert t.read(spark).count() == 90
    assert [e["version"] for e in t.history()] == [0, 1, 2]


def test_diverged_branch_entries_never_leak_into_main_history(spark, tmp_path):
    """Once main advances PAST a staged branch's version numbers, the
    ref-marked entries sit below the pointer — they must stay invisible
    to main history/time travel (they were never published), and after
    the branch is deleted the next publish reclaims entry AND data."""
    import os as _os

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(_df(spark, "v0"))
    t.branch("b")
    staged = t.commit(_df(spark, "b1"), branch="b")  # v1 on the branch
    t.commit(_df(spark, "v2"))  # main advances past v1
    assert [e["version"] for e in t.history()] == [0, 2]
    with pytest.raises(ValueError, match="no snapshot 1"):
        t.read_version(spark, 1)
    # the diverged branch stays readable on its own ref
    assert _tags(spark, t.read_branch(spark, "b")) == _tags(
        spark, _df(spark, "b1")
    )
    t.delete_branch("b")
    t.commit(_df(spark, "v3"))  # publish reclaims the dead staging
    assert not _os.path.isdir(staged["dir"])
    assert not _os.path.exists(
        _os.path.join(t._log_dir, f"v-{staged['version']:08d}.json")
    )
    assert [e["version"] for e in t.history()] == [0, 2, 3]
