"""The ``table_changes`` Python streaming data source (r12 — the full
``spark.readStream`` integration of VERDICT r11 #1, beyond the
AvailableNow driver loop): offsets are snapshot versions, partitions are
the manifest-pruned changed buckets, and each partition's keyed diff
runs on executors via pyarrow/pandas with NO nested Spark.

Laws pinned here:

- parity: the source's microbatch output set-equals the in-engine
  ``table_changes`` CDF for the same window, on BOTH snapshot layouts,
  including merge-on-read delta chains and the keys-only delete tier;
- exactly-once restart: a second run from the same checkpoint delivers
  only commits that landed after the first;
- DDL guard: a window spanning an alter_schema commit fails with a
  caller-visible error instead of a wrong diff.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.streaming.datasource import (
    ChangeFeedDataSource,
)
from tabular_cdc_bootstrapper_spark.streaming.state_table import (
    ParquetStateTable,
)
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)
from tabular_cdc_bootstrapper_spark.streaming.feeds import table_changes

TARGET = CdcTarget(source_uri="file:///x", key_column="id", ts_column="ts")


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from tabular_cdc_bootstrapper_spark.streaming.datasource import (
        register_stream_sources,
    )

    register_stream_sources(spark)


def _mirror(spark, root, mor=False):
    m = VersionedBucketMirror(
        str(root), n_buckets=4, key_col="id", keep_versions=10,
        merge_on_read=mor,
    )
    m.initialize(
        spark.createDataFrame(
            [(i, f"v{i}", 0, "I") for i in range(10)],
            "id long, name string, ts long, op string",
        )
    )
    m.merge_batch(
        spark.createDataFrame(
            [(0, "A", 1, "U"), (1, None, 1, "D"), (10, "new", 1, "I")],
            "id long, name string, ts long, op string",
        ),
        TARGET,
    )
    m.merge_batch(
        spark.createDataFrame(
            [(2, "B", 2, "U"), (3, None, 2, "D")],
            "id long, name string, ts long, op string",
        ),
        TARGET,
    )
    return m


def _drain(spark, path, ckpt, **opts):
    reader = (
        spark.readStream.format("table_changes")
        .option("path", path)
        .option("keyCols", "id")
    )
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    batches = []
    q = (
        reader.load()
        .writeStream.foreachBatch(
            lambda df, bid: batches.append((bid, df.collect()))
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return batches


@pytest.mark.parametrize("mor", [False, True], ids=["cow", "mor"])
def test_parity_with_in_engine_cdf_bucketed(spark, tmp_path, mor):
    m = _mirror(spark, tmp_path / "m", mor=mor)
    got = _drain(
        spark, m.root, str(tmp_path / "ck"), startingVersion=0
    )
    rows = {(r.id, r.name, r.op) for _, b in got for r in b}
    expect = {
        (r.id, r.name, r.op)
        for r in table_changes(
            spark, m, 0, m.current()["version"], key_cols="id",
            drop_cols=("op", "ts", "_src_file"),
        ).collect()
    }
    assert rows == expect
    assert rows == {
        (0, "A", "U"), (1, None, "D"), (10, "new", "I"),
        (2, "B", "U"), (3, None, "D"),
    }


def test_parity_plain_snapshot_layout(spark, tmp_path):
    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "id long, name string"
        )
    )
    t.commit(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(2, 6)]
            + [(0, "A"), (9, "new")],
            "id long, name string",
        )
    )
    got = _drain(
        spark, t.root, str(tmp_path / "ck"), startingVersion=0
    )
    rows = {(r.id, r.name, r.op) for _, b in got for r in b}
    assert rows == {(0, "A", "U"), (1, None, "D"), (9, "new", "I")}


def test_exactly_once_restart(spark, tmp_path):
    m = _mirror(spark, tmp_path / "m")
    ckpt = str(tmp_path / "ck")
    # one consolidated window up to the head (Python sources run ONE
    # microbatch per start(): Spark falls back from availableNow to
    # single-batch execution)
    got1 = _drain(spark, m.root, ckpt, startingVersion=0)
    nonempty = [b for _, b in got1 if b]
    assert len(nonempty) == 1
    assert {(r.id, r.op) for r in nonempty[0]} == {
        (0, "U"), (1, "D"), (10, "I"), (2, "U"), (3, "D"),
    }
    # caught up: a restart from the same checkpoint delivers nothing
    assert not [b for _, b in _drain(spark, m.root, ckpt) if b]
    # a new commit after the restart delivers exactly its own window
    m.merge_batch(
        spark.createDataFrame(
            [(4, "C", 3, "U")], "id long, name string, ts long, op string"
        ),
        TARGET,
    )
    got2 = _drain(spark, m.root, ckpt)
    assert {(r.id, r.op) for _, b in got2 for r in b} == {(4, "U")}


def test_default_start_tails_only_new_commits(spark, tmp_path):
    m = _mirror(spark, tmp_path / "m")
    ckpt = str(tmp_path / "ck")
    assert not [b for _, b in _drain(spark, m.root, ckpt) if b]
    m.merge_batch(
        spark.createDataFrame(
            [(5, "tail", 3, "U")],
            "id long, name string, ts long, op string",
        ),
        TARGET,
    )
    got = _drain(spark, m.root, ckpt)
    assert {(r.id, r.op) for _, b in got for r in b} == {(5, "U")}


def test_ddl_window_is_refused(spark, tmp_path):
    m = _mirror(spark, tmp_path / "m")
    m.alter_schema(add={"tier": "string"})
    m.rewrite_data_files(spark, materialize=True)
    m.merge_batch(
        spark.createDataFrame(
            [(6, "after-ddl", 3, "U", "gold")],
            "id long, name string, ts long, op string, tier string",
        ),
        TARGET,
    )
    with pytest.raises(Exception, match="alter_schema"):
        _drain(
            spark, m.root, str(tmp_path / "ck"), startingVersion=0
        )
    # a window that STARTS after the DDL commit works (new schema)
    head = m.current()["version"]
    got = _drain(
        spark, m.root, str(tmp_path / "ck2"), startingVersion=head - 1
    )
    rows = {(r.id, r.name, r.tier, r.op) for _, b in got for r in b}
    assert rows == {(6, "after-ddl", "gold", "U")}


def test_readstream_drives_maintained_agg_view(spark, tmp_path):
    """The full composition: the streaming source feeds a
    MaintainedAggView through foreachBatch — Spark's checkpoint carries
    the offsets, the view's batch-id fence carries the effects, and
    after draining the view equals the direct aggregate of the head."""
    from tabular_cdc_bootstrapper_spark.streaming.feeds import (
        MaintainedAggView,
    )

    m = _mirror(spark, tmp_path / "m")
    view = MaintainedAggView(
        str(tmp_path / "view"),
        group_cols="name",
        key_col="id",
        ts_col="seq",
        sum_cols={},
        count_col="n",
    )

    def apply(df, batch_id):
        if df.isEmpty():
            return
        view.apply_batch(
            spark,
            df.selectExpr("id", "name", "op", "1 AS seq"),
            batch_id=batch_id,
            # v0 state: the source's startingVersion=0 window diffs
            # against the initial snapshot
            mirror_before=m.read(spark, version=0).select("id", "name"),
        )

    q = (
        spark.readStream.format("table_changes")
        .option("path", m.root)
        .option("keyCols", "id")
        .option("startingVersion", "0")
        .load()
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    expected = {
        (r.name, r.n)
        for r in m.read(spark)
        .groupBy("name")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    got = {(r.name, r.n) for r in view.read(spark).collect()}
    assert got == expected
