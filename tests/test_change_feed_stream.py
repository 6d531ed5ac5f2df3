"""ChangeFeedStream laws (r11, VERDICT task 3 — the Delta-CDF
``readStream`` analog): checkpointed per-commit CDF delivery with
exactly-once semantics across restarts, the fold law (applying every
delivered diff onto the first snapshot reproduces the head, and equals
the consolidated ``table_changes``), and the wiring into a maintained
view with the ``to_version``-as-batch-id idempotence fence."""

from __future__ import annotations

import os

import pytest

from tabular_cdc_bootstrapper_spark.operators.cdc import apply_changelog
from tabular_cdc_bootstrapper_spark.streaming.feeds import (
    ChangeFeedStream,
    MaintainedAggView,
    table_changes,
)
from tabular_cdc_bootstrapper_spark.streaming.state_table import (
    ParquetStateTable,
)
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)


def _named(spark, pairs):
    return spark.createDataFrame(pairs, "id long, name string")


def _make(spark, tmp_path, layout):
    if layout == "snapshot":
        t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
        t.commit(_named(spark, [(0, "a"), (1, "b"), (2, "c")]))
        t.commit(_named(spark, [(0, "A"), (1, "b"), (3, "d")]))
        t.commit(_named(spark, [(1, "B"), (3, "d"), (4, "e")]))
    else:
        from tabular_cdc_bootstrapper_spark.config import CdcTarget

        def b(rows):
            return spark.createDataFrame(
                rows, "id long, name string, ts long, op string"
            )

        target = CdcTarget(
            source_uri="file:///x", key_column="id", ts_column="ts"
        )
        t = VersionedBucketMirror(
            str(tmp_path / "t"), n_buckets=4, key_col="id", keep_versions=10
        )
        t.initialize(b([(0, "a", 0, "I"), (1, "b", 0, "I"), (2, "c", 0, "I")]))
        t.merge_batch(
            b([(0, "A", 1, "U"), (2, "c", 1, "D"), (3, "d", 1, "I")]), target
        )
        t.merge_batch(
            b([(0, "A", 2, "D"), (1, "B", 2, "U"), (4, "e", 2, "I")]), target
        )
    return t


def _fold(spark, state_df, diff):
    log = state_df.selectExpr("id", "name", "'I' AS op", "0 AS seq")
    return apply_changelog(
        log.unionByName(diff.selectExpr("id", "name", "op", "1 AS seq")),
        key_cols="id",
        ts_cols="seq",
        drop_envelope=["op", "seq"],
    )


def _pairs(df):
    return {(r.id, r.name) for r in df.select("id", "name").collect()}


@pytest.mark.parametrize("layout", ["snapshot", "bucketed_versioned"])
def test_per_commit_delivery_and_fold_law(spark, tmp_path, layout):
    t = _make(spark, tmp_path, layout)
    drop = () if layout == "snapshot" else ("op", "ts", "_src_file")
    feed = ChangeFeedStream(
        t, key_cols="id", checkpoint_path=str(tmp_path / "ckpt.json"),
        drop_cols=drop,
    )
    state = t.read_version(spark, 0).select("id", "name")
    windows = []

    def apply(diff, f, to):
        nonlocal state
        windows.append((f, to))
        state = _fold(spark, state, diff)

    done = feed.process_available(spark, apply)
    versions = [e["version"] for e in t._log.committed()]
    assert done == windows == list(zip(versions[:-1], versions[1:]))
    # fold law: per-commit diffs compose to the head state...
    head = t.read(spark).select("id", "name")
    assert _pairs(state) == _pairs(head)
    # ...and to the consolidated table_changes applied in one step
    one = table_changes(
        spark, t, versions[0], versions[-1], key_cols="id", drop_cols=drop
    )
    assert _pairs(
        _fold(spark, t.read_version(spark, 0).select("id", "name"), one)
    ) == _pairs(head)
    # caught up: nothing pending until the next commit
    assert feed.pending(spark) is None


def test_restart_semantics_exactly_once(spark, tmp_path):
    t = _make(spark, tmp_path, "snapshot")
    ckpt = str(tmp_path / "ckpt.json")
    feed = ChangeFeedStream(t, key_cols="id", checkpoint_path=ckpt)
    diff, f, to = feed.pending(spark)
    got1 = {(r.id, r.op) for r in diff.collect()}
    # crash BEFORE ack: a fresh consumer on the same checkpoint
    # redelivers the identical window
    feed2 = ChangeFeedStream(t, key_cols="id", checkpoint_path=ckpt)
    diff2, f2, to2 = feed2.pending(spark)
    assert (f2, to2) == (f, to)
    assert {(r.id, r.op) for r in diff2.collect()} == got1
    # ack: the window is never redelivered, the next one surfaces
    feed2.ack(to2)
    diff3, f3, to3 = ChangeFeedStream(
        t, key_cols="id", checkpoint_path=ckpt
    ).pending(spark)
    assert f3 == to2 and to3 > to2


def test_consolidated_catchup_is_one_window(spark, tmp_path):
    t = _make(spark, tmp_path, "snapshot")
    feed = ChangeFeedStream(
        t, key_cols="id", checkpoint_path=str(tmp_path / "c.json")
    )
    versions = [e["version"] for e in t._log.committed()]
    done = feed.process_available(spark, lambda *a: None, consolidate=True)
    assert done == [(versions[0], versions[-1])]


def test_from_version_tails_new_changes_only(spark, tmp_path):
    t = _make(spark, tmp_path, "snapshot")
    head = t.current()["version"]
    feed = ChangeFeedStream(
        t,
        key_cols="id",
        checkpoint_path=str(tmp_path / "c.json"),
        from_version=head,
    )
    assert feed.pending(spark) is None
    t.commit(_named(spark, [(1, "B"), (9, "z")]))
    diff, f, to = feed.pending(spark)
    assert (f, to) == (head, head + 1)
    assert {(r.id, r.op) for r in diff.collect()} == {
        (3, "D"), (4, "D"), (9, "I"),
    }


def test_wired_maintained_view_with_replay_fence(spark, tmp_path):
    """The change feed drives a MaintainedAggView: ``to_version`` is the
    batch id, so a redelivered window (crash before ack) is skipped by
    the view's fence and the view still equals the direct aggregate of
    the head — end-to-end exactly-once effects."""
    t = _make(spark, tmp_path, "snapshot")
    ckpt = str(tmp_path / "ckpt.json")
    view = MaintainedAggView(
        str(tmp_path / "view"),
        group_cols="name",
        key_col="id",
        ts_col="seq",
        sum_cols={},
        count_col="n",
    )
    feed = ChangeFeedStream(t, key_cols="id", checkpoint_path=ckpt)

    def apply(diff, f, to):
        view.apply_batch(
            spark,
            diff.selectExpr("id", "name", "op", "1 AS seq"),
            batch_id=to,
            mirror_before=t.read_version(spark, f).select("id", "name"),
        )

    done = feed.process_available(spark, apply)
    assert len(done) == 2
    # simulate a crash before the LAST ack: rewind the checkpoint and
    # re-drain — the view skips the replayed batch id
    feed.ack(done[-1][0])
    redone = feed.process_available(spark, apply)
    assert redone == [done[-1]]
    expected = {
        (r.name, r.n)
        for r in t.read(spark).groupBy("name").count()
        .withColumnRenamed("count", "n").collect()
    }
    got = {(r.name, r.n) for r in view.read(spark).collect()}
    assert got == expected


def test_consolidated_window_spans_ddl_commits(spark, tmp_path):
    """A consolidated catch-up whose window contains alter_schema
    commits (ADVICE r12): the old snapshot is projected through each
    DDL commit (rename fold, drop projection, add via typed-NULL
    alignment) before diffing — previously the schema mismatch failed
    the diff (or mis-classified every untouched row as an update)."""
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.config import CdcTarget

    target = CdcTarget(
        source_uri="file:///x", key_column="id", ts_column="ts"
    )
    t = VersionedBucketMirror(
        str(tmp_path / "t"), n_buckets=4, key_col="id", keep_versions=10
    )
    t.initialize(
        spark.createDataFrame(
            [(i, f"n{i}", f"x{i}", 0, "I") for i in range(6)],
            "id long, name string, extra string, ts long, op string",
        )
    )  # v0
    t.merge_batch(
        spark.createDataFrame(
            [(0, "A", "x0", 1, "U")],
            "id long, name string, extra string, ts long, op string",
        ),
        target,
    )  # v1
    t.alter_schema(rename={"name": "label"})  # v2 (DDL)
    t.merge_batch(
        spark.createDataFrame(
            [(1, "B", "x1", 2, "U")],
            "id long, label string, extra string, ts long, op string",
        ),
        target,
    )  # v3
    t.alter_schema(drop=["extra"], add={"tier": "string"})  # v4 (DDL)
    t.merge_batch(
        spark.createDataFrame(
            [(6, "f", 3, "I", "gold")],
            "id long, label string, ts long, op string, tier string",
        ),
        target,
    )  # v5
    feed = ChangeFeedStream(
        t,
        key_cols="id",
        checkpoint_path=str(tmp_path / "c.json"),
        drop_cols=("op", "ts", "_src_file"),
    )
    diff, from_v, to_v = feed.pending(spark, consolidate=True)
    assert (from_v, to_v) == (0, 5)
    got = {(r.id, r["op"]) for r in diff.collect()}
    # ONLY the data changes — no spurious updates from the rename (every
    # row's label would read NULL->value) or the drop (extra value->NULL)
    assert got == {(0, "U"), (1, "U"), (6, "I")}
    # fold law across the DDL window: old snapshot projected to the new
    # logical schema + the consolidated diff reproduces the head
    state = (
        t.read_version(spark, 0)
        .select("id", F.col("name").alias("label"))
        .withColumn("tier", F.lit(None).cast("string"))
    )
    folded = apply_changelog(
        state.selectExpr("id", "label", "tier", "'I' AS op", "0 AS seq")
        .unionByName(
            diff.selectExpr("id", "label", "tier", "op", "1 AS seq")
        ),
        key_cols="id",
        ts_cols="seq",
        drop_envelope=["op", "seq"],
    )
    head = t.read(spark).select("id", "label", "tier")
    assert {tuple(r) for r in folded.collect()} == {
        tuple(r) for r in head.collect()
    }


def test_join_feed_driver_end_to_end(spark, tmp_path):
    """MaintainedJoinView fed end-to-end through the AvailableNow feed
    driver (r12, VERDICT task 1): rate-limited triggers, exactly-once
    across a crash-before-ack restart, and the fold law — after draining,
    the view equals a from-scratch join of both table heads."""
    from tabular_cdc_bootstrapper_spark.streaming.feeds import (
        MaintainedJoinFeedDriver,
        MaintainedJoinView,
    )

    fact = ParquetStateTable(str(tmp_path / "fact"), keep_versions=10)
    dim = ParquetStateTable(str(tmp_path / "dim"), keep_versions=10)
    fschema = "fid long, dref long, fval string"
    dschema = "did long, dval string"
    fact.commit(
        spark.createDataFrame(
            [(k, k % 3, f"f{k}") for k in range(8)], fschema
        )
    )  # v0
    fact.commit(
        spark.createDataFrame(
            [(k, k % 3, f"f{k}") for k in range(2, 8)]
            + [(0, 2, "f0-new"), (9, 1, "f9")],
            fschema,
        )
    )  # v1: update 0, delete 1, insert 9
    fact.commit(
        spark.createDataFrame(
            [(k, k % 3, f"f{k}") for k in range(2, 8)]
            + [(0, 2, "f0-new"), (9, 0, "f9-moved")],
            fschema,
        )
    )  # v2: fk move of 9
    dim.commit(
        spark.createDataFrame([(d, f"d{d}") for d in range(2)], dschema)
    )  # v0: dim 2 missing
    dim.commit(
        spark.createDataFrame([(d, f"d{d}") for d in range(3)], dschema)
    )  # v1: dim 2 appears -> dref=2 rows gain matches
    view = MaintainedJoinView(
        str(tmp_path / "jv"), fact_keys="fid", dim_keys="did",
        fk_cols="dref", ts_col="ts",
    )
    driver = MaintainedJoinFeedDriver(
        view,
        fact,
        dim,
        ChangeFeedStream(
            fact, key_cols="fid", checkpoint_path=str(tmp_path / "cf.json")
        ),
        ChangeFeedStream(
            dim, key_cols="did", checkpoint_path=str(tmp_path / "cd.json")
        ),
    )
    done = driver.run_available(spark, max_commits_per_trigger=1)
    # rate limiting: fact needed two windows (v0->1, v1->2), dim one
    assert [d["fact_window"] for d in done] == [(0, 1), (1, 2)]
    assert [d["dim_window"] for d in done] == [(0, 1), (1, 1)]

    def join_state(df):
        return {
            (r.fid, r.did, r.fval, r.dval) for r in df.collect()
        }

    f1, d1 = fact.read(spark), dim.read(spark)
    expect = join_state(f1.join(d1, f1["dref"] == d1["did"]))
    assert join_state(view.read(spark)) == expect
    # crash BEFORE the last ack: rewind the fact feed and re-drain —
    # the view's batch-id fence skips the replayed window
    driver.fact_feed.ack(done[-1]["fact_window"][0])
    redone = driver.run_available(spark, max_commits_per_trigger=1)
    assert len(redone) == 1
    assert redone[0]["batch_id"] == done[-1]["batch_id"]
    assert join_state(view.read(spark)) == expect
    # caught up: the next drain is a no-op
    assert driver.run_available(spark) == []
