"""Declarative maintained aggregate view (r13, VERDICT r12 #7): ONE
``readStream.format("table_changes") … writeStream.format("state_table")``
statement maintains a GROUP aggregate of a versioned table — no
foreachBatch. Machinery under test: ``emitPreimage`` (the change feed as
a signed retraction stream), the sink's ``mode=additive`` (executor-side
partial aggregates, sum-fold deltas), the additive read fold (union +
groupBy-SUM, zero-count groups vanish), compaction folding the chain,
the durable manifest replay fence, and parity with the foreachBatch twin
(``MaintainedAggView``).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.streaming.datasource import (
    register_stream_sources,
)
from tabular_cdc_bootstrapper_spark.streaming.feeds import MaintainedAggView
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)


def _source(spark, root, n=200):
    a = VersionedBucketMirror(root, n_buckets=8, key_col="id", keep_versions=10)
    a.initialize(
        spark.range(0, n).select(
            "id", (F.col("id") % 5).alias("g"), (F.col("id") * 1.0).alias("v")
        )
    )
    return a


def _view_for(spark, a, root):
    view = VersionedBucketMirror(
        root, n_buckets=8, key_col="g", keep_versions=10, merge_on_read=True
    )
    view.initialize(
        a.read(spark)
        .groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("v").cast("double").alias("sum_v"),
        )
    )
    return view


def _drain(spark, a, view, ckpt, from_version):
    q = (
        spark.readStream.format("table_changes")
        .option("path", a.root)
        .option("keyCols", "id")
        .option("startingVersion", str(from_version))
        .option("emitPreimage", "true")
        .load()
        .writeStream.format("state_table")
        .option("path", view.root)
        .option("mode", "additive")
        .option("groupCols", "g")
        .option("sumCols", "sum_v=v")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _agg_of(spark, a):
    return {
        r["g"]: (r["n_rows"], round(r["sum_v"], 6))
        for r in a.read(spark)
        .groupBy("g")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("v").cast("double").alias("sum_v"),
        )
        .collect()
    }


def _view_state(spark, view):
    return {
        r["g"]: (r["n_rows"], round(r["sum_v"], 6))
        for r in view.read(spark).collect()
    }


def test_declarative_agg_view_tracks_source(spark, tmp_path):
    register_stream_sources(spark)
    work = str(tmp_path)
    a = _source(spark, f"{work}/a")
    v0 = a.history()[0]["version"]
    view = _view_for(spark, a, f"{work}/view")
    a.delete_where(spark, "g = 2")  # a whole group vanishes
    a.update_where(spark, "g = 1", {"v": "v + 1000"})
    _drain(spark, a, view, f"{work}/ckpt", v0)
    assert _view_state(spark, view) == _agg_of(spark, a)
    assert 2 not in _view_state(spark, view)  # zero-count group dropped

    # incremental: more commits, same checkpoint — only deltas apply
    a.update_where(spark, "g = 0", {"v": "v * 2"})
    a.delete_where(spark, "g = 3 AND id < 50")
    _drain(spark, a, view, f"{work}/ckpt", v0)
    assert _view_state(spark, view) == _agg_of(spark, a)

    # while sum-fold deltas are live, the view's own change feed is
    # refused (additive chains are not latest-per-key diffable)
    with pytest.raises(Exception, match="additive"):
        (
            spark.readStream.format("table_changes")
            .option("path", view.root)
            .option("keyCols", "g")
            .option("startingVersion", "0")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", f"{work}/ckpt-feed")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )
    # compaction folds the sum-fold chain; the result is unchanged (and
    # the compacted view is then a plain keyed table — feed-able again)
    view.rewrite_data_files(spark, min_files=1, materialize=True)
    assert _view_state(spark, view) == _agg_of(spark, a)


def test_parity_with_foreachbatch_twin(spark, tmp_path):
    """The one-statement view and the foreachBatch ``MaintainedAggView``
    twin, fed the same changelog, land the same state."""
    register_stream_sources(spark)
    work = str(tmp_path)
    a = _source(spark, f"{work}/a")
    v0 = a.history()[0]["version"]
    view = _view_for(spark, a, f"{work}/view")
    twin = MaintainedAggView(
        f"{work}/twin",
        group_cols="g",
        key_col="id",
        ts_col="ts",
        sum_cols={"sum_v": "v"},
    )
    mirror_before = a.read(spark).cache()
    mirror_before.count()
    # the same mutation reaches both: declarative via the change feed,
    # the twin via an equivalent changelog batch over mirror_before
    a.update_where(spark, "g = 4", {"v": "v + 7"})
    a.delete_where(spark, "id % 10 = 9")
    _drain(spark, a, view, f"{work}/ckpt", v0)
    batch = (
        mirror_before.filter("g = 4")
        .withColumn("v", F.col("v") + 7)
        .withColumns({"op": F.lit("U"), "ts": F.lit(1).cast("long")})
        .unionByName(
            mirror_before.filter("id % 10 = 9").withColumns(
                {"op": F.lit("D"), "ts": F.lit(2).cast("long")}
            )
        )
    )
    twin.apply_batch(spark, batch, batch_id=0, mirror_before=mirror_before)
    got_view = _view_state(spark, view)
    got_twin = {
        r["g"]: (r["n_rows"], round(r["sum_v"], 6))
        for r in twin.read(spark).collect()
        if r["n_rows"] > 0
    }
    assert got_view == got_twin == _agg_of(spark, a)
    mirror_before.unpersist()


def test_additive_durable_replay_fence(spark, tmp_path):
    """A checkpoint-restart replay re-delivers an already-published batch
    id under a FRESH writer nonce; for additive deltas re-application
    would double-count, so the manifest fence (sink_id + batch id) must
    drop it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import types as T

    from tabular_cdc_bootstrapper_spark.streaming.datasource import (
        StateTableStreamWriter,
        _SinkBatchMessage,
    )

    register_stream_sources(spark)
    work = str(tmp_path)
    a = _source(spark, f"{work}/a", n=50)
    view = _view_for(spark, a, f"{work}/view")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("g", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("op", T.StringType()),
        ]
    )
    opts = {
        "path": view.root,
        "mode": "additive",
        "groupCols": "g",
        "sumCols": "sum_v=v",
        "sinkId": "fence-test",
    }

    def staged_msg():
        d = os.path.join(view.root, "_sink", "staging")
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f"b0-{os.urandom(4).hex()}.parquet")
        pq.write_table(
            pa.table(
                {"g": [0], "n_rows": [1], "sum_v": [5.0]},
                schema=pa.schema(
                    [("g", pa.int64()), ("n_rows", pa.int64()), ("sum_v", pa.float64())]
                ),
            ),
            p,
        )
        return _SinkBatchMessage({0: [p]}, 1, {})

    before = _view_state(spark, view)
    w1 = StateTableStreamWriter(schema, dict(opts))
    w1.commit([staged_msg()], batchId=3)
    after_once = _view_state(spark, view)
    assert after_once[0][0] == before[0][0] + 1
    # fresh writer = fresh nonce (the restart); same batch id replays
    w2 = StateTableStreamWriter(schema, dict(opts))
    w2.commit([staged_msg()], batchId=3)
    assert _view_state(spark, view) == after_once  # dropped, not doubled
    # the NEXT batch id still applies
    w3 = StateTableStreamWriter(schema, dict(opts))
    w3.commit([staged_msg()], batchId=4)
    assert _view_state(spark, view)[0][0] == after_once[0][0] + 1


def test_declarative_join_view_one_statement(spark, tmp_path):
    """Maintained JOIN view as ONE statement (r13): the change feed
    stream-static-joins a dimension frame in the stream graph and lands
    in a latest-mode sink — Catalyst broadcasts the dim into each
    micro-batch, delete rows pass through (NULL payload → left join →
    op=D reaches the sink), and after each drain the view equals the
    from-scratch join of the source's head with the dim."""
    register_stream_sources(spark)
    work = str(tmp_path)
    a = _source(spark, f"{work}/a")
    v0 = a.history()[0]["version"]
    dim = spark.createDataFrame(
        [(g, f"seg-{g % 2}") for g in range(5)], "g long, segment string"
    )
    view = VersionedBucketMirror(
        f"{work}/jview", n_buckets=8, key_col="id", keep_versions=10,
        merge_on_read=True,
    )
    view.initialize(a.read(spark).join(dim, "g", "left"))

    def drain(epoch):
        q = (
            spark.readStream.format("table_changes")
            .option("path", a.root)
            .option("keyCols", "id")
            .option("startingVersion", str(v0))
            .load()
            .join(dim, "g", "left")
            .withColumn("ts", F.lit(epoch).cast("long"))
            .writeStream.format("state_table")
            .option("path", view.root)
            .option("keyCol", "id")
            .option("tsCols", "ts")
            .option("checkpointLocation", f"{work}/jckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def expected():
        return {
            r["id"]: (r["g"], r["v"], r["segment"])
            for r in a.read(spark).join(dim, "g", "left").collect()
        }

    def got():
        return {
            r["id"]: (r["g"], r["v"], r["segment"])
            for r in view.read(spark)
            .select("id", "g", "v", "segment")
            .collect()
        }

    a.update_where(spark, "g = 1", {"v": "v + 500"})
    a.delete_where(spark, "g = 3")
    drain(1)
    assert got() == expected()
    a.delete_where(spark, "id % 7 = 0")
    a.update_where(spark, "g = 0", {"v": "v - 1"})
    drain(2)
    assert got() == expected()


def test_additive_view_with_null_group(spark, tmp_path):
    """r13 review: NULL is a legal GROUP BY value — the additive view
    must maintain the NULL group (it hashes to pmod(xxhash64(NULL)=42,
    n), bit-identical on both write paths), not fail the stream."""
    register_stream_sources(spark)
    work = str(tmp_path)
    a = VersionedBucketMirror(
        f"{work}/a", n_buckets=8, key_col="id", keep_versions=10
    )
    a.initialize(
        spark.range(0, 100).select(
            "id",
            F.when(F.col("id") % 10 == 0, None)
            .otherwise(F.col("id") % 3)
            .alias("g"),
            (F.col("id") * 1.0).alias("v"),
        )
    )
    v0 = a.history()[0]["version"]
    view = _view_for(spark, a, f"{work}/view")
    assert None in _view_state(spark, view)  # initialized with it
    a.update_where(spark, "g IS NULL", {"v": "v + 100"})
    a.delete_where(spark, "g = 2")
    _drain(spark, a, view, f"{work}/ckpt", v0)
    got, exp = _view_state(spark, view), _agg_of(spark, a)
    assert got == exp and None in got


def test_alter_refused_on_live_additive_chain(spark, tmp_path):
    register_stream_sources(spark)
    work = str(tmp_path)
    a = _source(spark, f"{work}/a", n=50)
    v0 = a.history()[0]["version"]
    view = _view_for(spark, a, f"{work}/view")
    a.update_where(spark, "g = 1", {"v": "v + 1"})
    _drain(spark, a, view, f"{work}/ckpt", v0)
    with pytest.raises(ValueError, match="additive"):
        view.alter_schema(add={"note": "string"})
    # compaction folds the chain; ALTER then proceeds
    view.rewrite_data_files(spark, min_files=1, materialize=True)
    view.alter_schema(add={"note": "string"})
