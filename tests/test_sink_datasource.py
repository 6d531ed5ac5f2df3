"""The ``state_table`` streaming SINK data source + xxhash64 parity.

``spark.writeStream.format("state_table")`` commits CDC micro-batches
into a ``VersionedBucketMirror`` as merge-on-read delta appends: bucket
assignment happens on executor Python workers via ``functions/xxhash.py``
(must be bit-identical to the JVM ``F.xxhash64`` the table partitions
by), the driver-side commit is pure metadata, and a per-sink fence file
makes replayed batch ids free.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.functions.xxhash import (
    spark_buckets,
    xxhash64_bytes,
    xxhash64_longs,
)
from tabular_cdc_bootstrapper_spark.streaming.datasource import (
    register_stream_sources,
)
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)


# ---------------------------------------------------------------------------
# xxhash64 parity — the correctness foundation of the sink's bucketing
# ---------------------------------------------------------------------------


def test_xxhash64_long_parity_with_spark(spark):
    ids = [
        0, 1, -1, 42, -42, 17, 2**62, -(2**62), 2**63 - 1, -(2**63),
        1234567890123456789, -987654321098765432,
    ]
    rng = np.random.default_rng(7)
    ids += [int(x) for x in rng.integers(-(2**63), 2**63 - 1, 50)]
    expected = [
        r[0]
        for r in spark.createDataFrame([(i,) for i in ids], "id long")
        .select(F.xxhash64("id"))
        .collect()
    ]
    got = list(xxhash64_longs(ids))
    assert got == expected


def test_xxhash64_string_parity_with_spark(spark):
    strs = [
        "", "a", "ab", "abc", "abcd", "hello", "hello world!",
        "x" * 31, "y" * 32, "z" * 33, "stripe" * 40,
        "ünïcødé-ключ-鍵", "s3://bucket/prefix/part-00001.parquet",
    ]
    expected = [
        r[0]
        for r in spark.createDataFrame([(s,) for s in strs], "s string")
        .select(F.xxhash64("s"))
        .collect()
    ]
    got = [xxhash64_bytes(s.encode("utf-8")) for s in strs]
    assert got == expected


def test_spark_buckets_matches_mirror_bucket(spark, tmp_path):
    import pandas as pd

    m = VersionedBucketMirror(str(tmp_path / "m"), n_buckets=13, key_col="k")
    ids = list(range(-50, 50)) + [2**62, -(2**62)]
    sdf = spark.createDataFrame([(i,) for i in ids], "k long").select(
        "k", m._bucket(F.col("k")).alias("b")
    )
    expected = {r["k"]: r["b"] for r in sdf.collect()}
    got = spark_buckets(pd.Series(ids, dtype="int64"), 13)
    assert {i: int(b) for i, b in zip(ids, got)} == expected


# ---------------------------------------------------------------------------
# sink end-to-end
# ---------------------------------------------------------------------------


def _init_mirror(spark, root, n=300, mor=True, key="id"):
    base = spark.range(0, n).select(
        F.col("id").alias(key) if key != "id" else F.col("id"),
        (F.col("id") * 1.0).alias("v"),
    )
    m = VersionedBucketMirror(
        root, n_buckets=8, key_col=key, keep_versions=10, merge_on_read=mor
    )
    m.initialize(base)
    return m


def _run_sink(spark, srcdir, m, ckpt, key="id"):
    register_stream_sources(spark)
    q = (
        spark.readStream.schema(f"{key} long, v double, op string, ts long")
        .parquet(f"{srcdir}/*.parquet")
        .writeStream.format("state_table")
        .option("path", m.root)
        .option("keyCol", key)
        .option("tsCols", "ts")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_sink_availablenow_and_incremental_restart(spark, tmp_path):
    work = str(tmp_path)
    m = _init_mirror(spark, f"{work}/m")
    srcdir = f"{work}/src"
    os.makedirs(srcdir)
    spark.range(0, 50).select(
        F.col("id"),
        F.lit(-5.0).alias("v"),
        F.when(F.col("id") % 10 == 0, "D").otherwise("U").alias("op"),
        F.lit(1).cast("long").alias("ts"),
    ).write.parquet(f"{srcdir}/f1.parquet")
    _run_sink(spark, srcdir, m, f"{work}/ckpt")
    got = m.read(spark)
    assert got.count() == 295  # ids 0,10,20,30,40 deleted
    assert got.filter("v = -5.0").count() == 45
    cur = m.current()
    assert cur["operation"] == "sink_commit"
    assert cur["sink_batch_id"] == 0
    # second trigger from the SAME checkpoint picks up only the new file
    spark.range(40, 80).select(
        F.col("id"),
        F.lit(7.5).alias("v"),
        F.lit("U").alias("op"),
        F.lit(2).cast("long").alias("ts"),
    ).write.parquet(f"{srcdir}/f2.parquet")
    _run_sink(spark, srcdir, m, f"{work}/ckpt")
    got2 = m.read(spark)
    assert got2.filter("v = 7.5").count() == 40
    assert got2.count() == 296  # deleted id 40 re-inserted by ts=2 upsert
    assert m.current()["sink_batch_id"] == 1


def _writer_schema():
    from pyspark.sql import types as T

    return T.StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "v", "type": "double", "nullable": True, "metadata": {}},
                {"name": "op", "type": "string", "nullable": True, "metadata": {}},
                {"name": "ts", "type": "long", "nullable": True, "metadata": {}},
            ],
        }
    )


def test_sink_fence_same_run_and_checkpoint_reset(spark, tmp_path):
    # same-run retry (commit called again with an already-published id)
    # must no-op and clean the restage; a NEW run replaying the id (fresh
    # nonce — restart or checkpoint reset) re-applies instead, because a
    # reset checkpoint restarts batch ids at 0 with NEW data and a
    # number-only fence would silently swallow it
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tabular_cdc_bootstrapper_spark.streaming.datasource import (
        StateTableStreamWriter,
        _SinkBatchMessage,
    )

    work = str(tmp_path)
    m = _init_mirror(spark, f"{work}/m")
    w = StateTableStreamWriter(
        _writer_schema(), {"path": m.root, "keyCol": "id", "tsCols": "ts"}
    )

    def stage(val):
        p = os.path.join(m.root, "_sink", "staging", f"s{val}.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(
            pa.table(
                {"id": [3], "v": [float(val)], "op": ["U"], "ts": [9]}
            ),
            p,
        )
        return p

    p1 = stage(-777)
    w.commit([_SinkBatchMessage({3: [p1]}, 1, {})], batchId=0)
    v1 = m.current()["version"]
    assert m.read(spark).filter("v = -777.0").count() == 1
    # same-run retry of batch 0: fenced, restage cleaned, no publish
    p2 = stage(-888)
    w.commit([_SinkBatchMessage({3: [p2]}, 1, {})], batchId=0)
    assert m.current()["version"] == v1
    assert not os.path.exists(p2)
    assert m.read(spark).filter("v = -888.0").count() == 0
    # NEW run (fresh nonce) with restarted batch ids: NEW data lands
    w2 = StateTableStreamWriter(
        _writer_schema(), {"path": m.root, "keyCol": "id", "tsCols": "ts"}
    )
    p3 = stage(-999)
    w2.commit([_SinkBatchMessage({3: [p3]}, 1, {})], batchId=0)
    assert m.current()["version"] > v1
    assert m.read(spark).filter("v = -999.0").count() == 1

def test_sink_onto_copy_on_write_table(spark, tmp_path):
    # delta specs fold on read regardless of the table's own merge mode;
    # rewrite_data_files later folds them into the base
    work = str(tmp_path)
    m = _init_mirror(spark, f"{work}/m", mor=False)
    srcdir = f"{work}/src"
    os.makedirs(srcdir)
    spark.range(0, 30).select(
        F.col("id"),
        F.lit(-2.0).alias("v"),
        F.lit("U").alias("op"),
        F.lit(1).cast("long").alias("ts"),
    ).write.parquet(f"{srcdir}/f1.parquet")
    _run_sink(spark, srcdir, m, f"{work}/ckpt")
    assert m.read(spark).filter("v = -2.0").count() == 30
    m.rewrite_data_files(spark)
    assert not (m.current().get("deltas") or {})
    assert m.read(spark).filter("v = -2.0").count() == 30


def test_sink_string_keys(spark, tmp_path):
    work = str(tmp_path)
    base = spark.range(0, 100).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k"),
        (F.col("id") * 1.0).alias("v"),
    )
    m = VersionedBucketMirror(
        f"{work}/m", n_buckets=8, key_col="k", keep_versions=10,
        merge_on_read=True,
    )
    m.initialize(base)
    srcdir = f"{work}/src"
    os.makedirs(srcdir)
    spark.range(0, 40).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k"),
        F.lit(-3.0).alias("v"),
        F.when(F.col("id") % 4 == 0, "D").otherwise("U").alias("op"),
        F.lit(1).cast("long").alias("ts"),
    ).write.parquet(f"{srcdir}/f1.parquet")
    register_stream_sources(spark)
    q = (
        spark.readStream.schema("k string, v double, op string, ts long")
        .parquet(f"{srcdir}/*.parquet")
        .writeStream.format("state_table")
        .option("path", m.root)
        .option("keyCol", "k")
        .option("tsCols", "ts")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = m.read(spark)
    assert got.count() == 90  # 10 deletes (id%4==0 of 0..39)
    assert got.filter("v = -3.0").count() == 30


def test_sink_option_and_state_guards(spark, tmp_path):
    register_stream_sources(spark)
    from tabular_cdc_bootstrapper_spark.streaming.datasource import (
        StateTableStreamWriter,
    )
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True, "metadata": {}},
                {"name": "op", "type": "string", "nullable": True, "metadata": {}},
                {"name": "ts", "type": "long", "nullable": True, "metadata": {}},
            ],
        }
    )
    # uninitialized table refused
    with pytest.raises(ValueError, match="not an initialized"):
        StateTableStreamWriter(
            schema,
            {"path": str(tmp_path / "nope"), "keyCol": "id", "tsCols": "ts"},
        )
    m = _init_mirror(spark, str(tmp_path / "m"))
    # composite keys refused (the mirror buckets by ONE key)
    with pytest.raises(ValueError, match="ONE key"):
        StateTableStreamWriter(
            schema, {"path": m.root, "keyCol": "a,b", "tsCols": "ts"}
        )
    # missing envelope column refused
    with pytest.raises(ValueError, match="missing from the"):
        StateTableStreamWriter(
            schema, {"path": m.root, "keyCol": "nope", "tsCols": "ts"}
        )


def test_table_to_table_streaming_composition(spark, tmp_path):
    """readStream.format('table_changes') → writeStream.format(
    'state_table'): table A's commits stream into table B entirely under
    Spark's checkpoint machinery; after the drain B's head equals A's."""
    work = str(tmp_path)
    register_stream_sources(spark)
    a = VersionedBucketMirror(
        f"{work}/a", n_buckets=8, key_col="id", keep_versions=10
    )
    base = spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 9).alias("g"), (F.col("id") * 1.0).alias("v")
    )
    a.initialize(base)
    # two committed mutations on A
    a.delete_where(spark, "g = 4")
    a.update_where(spark, "g = 2", {"v": "v + 1000"})
    b = VersionedBucketMirror(
        f"{work}/b", n_buckets=8, key_col="id", keep_versions=10,
        merge_on_read=True,
    )
    b.initialize(base)
    feed = (
        spark.readStream.format("table_changes")
        .option("path", a.root)
        .option("keyCols", "id")
        .option("startingVersion", str(a.history()[0]["version"]))
        .option("dropCols", "")
        .load()
    )
    # the change feed's op column IS the sink's op column; a synthetic
    # monotonic ts orders replays (I/U/D diffs of consecutive snapshots
    # are already latest-per-key per window)
    q = (
        feed.withColumn("ts", F.lit(1).cast("long"))
        .writeStream.format("state_table")
        .option("path", b.root)
        .option("keyCol", "id")
        .option("tsCols", "ts")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = b.read(spark).select("id", "g", "v")
    exp = a.read(spark).select("id", "g", "v")
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_xxhash64_int32_parity_with_spark(spark):
    from tabular_cdc_bootstrapper_spark.functions.xxhash import (
        xxhash64_ints,
    )

    ids = [0, 1, -1, 42, -42, 2**31 - 1, -(2**31), 123456789, -987654321]
    expected = [
        r[0]
        for r in spark.createDataFrame([(i,) for i in ids], "id int")
        .select(F.xxhash64("id"))
        .collect()
    ]
    assert list(xxhash64_ints(ids)) == expected


def test_spark_buckets_type_guards():
    import pandas as pd

    with pytest.raises(ValueError, match="unsupported key type"):
        spark_buckets(pd.Series([1.5, 2.5]), 8, "double")
    with pytest.raises(ValueError, match="numeric"):
        spark_buckets(pd.Series([1, 2], dtype="int64"), 8, "string")


def test_sink_refuses_non_hashable_key_type(spark, tmp_path):
    from pyspark.sql import types as T

    from tabular_cdc_bootstrapper_spark.streaming.datasource import (
        StateTableStreamWriter,
    )

    m = _init_mirror(spark, str(tmp_path / "m"))
    schema = T.StructType(
        [
            T.StructField("id", T.DoubleType()),
            T.StructField("op", T.StringType()),
            T.StructField("ts", T.LongType()),
        ]
    )
    with pytest.raises(ValueError, match="only long/integer/string"):
        StateTableStreamWriter(
            schema, {"path": m.root, "keyCol": "id", "tsCols": "ts"}
        )


def test_sink_commit_refuses_mid_stream_rebucket_and_ddl(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tabular_cdc_bootstrapper_spark.streaming.datasource import (
        StateTableStreamWriter,
        _SinkBatchMessage,
    )

    work = str(tmp_path)
    m = _init_mirror(spark, f"{work}/m")
    w = StateTableStreamWriter(
        _writer_schema(), {"path": m.root, "keyCol": "id", "tsCols": "ts"}
    )

    def stage(name):
        p = os.path.join(m.root, "_sink", "staging", f"{name}.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pq.write_table(
            pa.table({"id": [3], "v": [-1.0], "op": ["U"], "ts": [9]}), p
        )
        return p

    # rebucket lands between micro-batches: the writer's partitioning
    # (bound at query start) is stale — committing would mis-bucket
    m.rebucket(spark, 16)
    with pytest.raises(ValueError, match="rebucketed mid-stream"):
        w.commit([_SinkBatchMessage({3: [stage("a")]}, 1, {})], batchId=0)
    # fresh writer binds the new spec; a mid-stream ALTER TABLE then
    # trips the DDL-metadata refusal (old names must not union-widen
    # back into a rename-folded manifest)
    w2 = StateTableStreamWriter(
        _writer_schema(), {"path": m.root, "keyCol": "id", "tsCols": "ts"}
    )
    m.alter_schema(rename={"v": "w"})
    with pytest.raises(ValueError, match="rename-fold"):
        w2.commit([_SinkBatchMessage({3: [stage("b")]}, 1, {})], batchId=0)


def test_sink_preserves_and_merges_manifest_stats(spark, tmp_path):
    # a stats-carrying table keeps its stats through sink commits, and
    # .option('statsCols') bounds are widen-merged into the manifest
    work = str(tmp_path)
    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 50).alias("v").cast("double"),
        F.date_add(
            F.to_date(F.lit("2024-01-01")), F.col("id").cast("int")
        ).alias("d"),
    )
    m = VersionedBucketMirror(
        f"{work}/m", n_buckets=8, key_col="id", keep_versions=10,
        merge_on_read=True, stats_cols=["v", "d"],
    )
    m.initialize(base)
    assert m.current().get("stats")
    assert m.current().get("stats_cols") == ["v", "d"]
    srcdir = f"{work}/src"
    os.makedirs(srcdir)
    spark.range(0, 10).select(
        F.col("id"),
        F.lit(500.0).alias("v"),
        F.to_date(F.lit("2025-06-01")).alias("d"),
        F.lit("U").alias("op"),
        F.lit(1).cast("long").alias("ts"),
    ).write.parquet(f"{srcdir}/f1.parquet")
    register_stream_sources(spark)
    q = (
        spark.readStream.schema(
            "id long, v double, d date, op string, ts long"
        )
        .parquet(f"{srcdir}/*.parquet")
        .writeStream.format("state_table")
        .option("path", m.root)
        .option("keyCol", "id")
        .option("tsCols", "ts")
        .option("statsCols", "v,d")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    cur = m.current()
    assert cur["operation"] == "sink_commit"
    stats = cur.get("stats") or {}
    assert stats, "sink commit dropped the table's manifest stats"
    # the touched buckets' v bounds must have widened to include 500
    assert any(
        st.get("v") and st["v"][1] is not None and st["v"][1] >= 500.0
        for st in stats.values()
    )
    # DATE bounds ride the sink's executor-side stats as ISO strings
    # (r14) — JSON-safe, widened past the drift batch's 2025 date
    import json as _json

    _json.dumps(cur)
    assert any(
        st.get("d") and isinstance(st["d"][1], str) and st["d"][1] >= "2025-06-01"
        for st in stats.values()
    )


def test_stats_survive_commits_from_stats_less_handles(spark, tmp_path):
    # review r12: a handle constructed WITHOUT stats_cols on a stats-
    # carrying table adopts them from the manifest (_sync_spec), so its
    # commits recompute fresh bounds instead of dropping or staling them
    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 50).cast("double").alias("v")
    )
    root = str(tmp_path / "m")
    m = VersionedBucketMirror(
        root, n_buckets=8, key_col="id", keep_versions=10,
        stats_cols=["v"],
    )
    m.initialize(base)
    fresh = VersionedBucketMirror(root, n_buckets=8, key_col="id")
    assert fresh.stats_cols == ["v"]  # adopted from the manifest
    # an update through the stats-less handle moves values OUTSIDE the
    # old bounds; the recomputed stats must cover them (stale-narrow
    # bounds would prune wrongly)
    rec = fresh.update_where(spark, "id < 10", {"v": "9999.0"})
    stats = fresh.current()["stats"]
    assert fresh.current().get("stats_cols") == ["v"]
    for b in rec["matched_buckets"]:
        assert stats[str(b)]["v"][1] >= 9999.0
    hot = fresh.read_pruned(spark, "v", lower=9000.0)
    assert hot.count() == 10


def test_update_where_unknown_column_raises_even_with_zero_matches(
    spark, tmp_path
):
    m = _init_mirror(spark, str(tmp_path / "m"))
    with pytest.raises(ValueError, match="unknown column"):
        m.update_where(spark, "id = -12345", {"nope": "1"})


def test_sink_enforces_check_constraints(spark, tmp_path):
    """r13 (VERDICT r12 #6): the Spark-less sink ENFORCES CHECK
    constraints instead of refusing constrained tables — each executor
    task validates its staged arrow slice (DuckDB over the batch, the
    same ANSI exprs), a violating micro-batch fails the query with
    nothing committed, and a clean batch lands normally. Tombstones are
    exempt (delete events carry NULL payload by design)."""
    work = str(tmp_path)
    m = _init_mirror(spark, f"{work}/m")
    m.add_constraint(spark, "v_nonneg", "v >= 0")
    head = m.current()["version"]
    srcdir = f"{work}/src"
    os.makedirs(srcdir)
    # violating batch: one negative v on a live (non-delete) row
    spark.range(0, 10).select(
        F.col("id"),
        F.when(F.col("id") == 3, -1.0).otherwise(2.0).alias("v"),
        F.lit("U").alias("op"),
        F.lit(1).cast("long").alias("ts"),
    ).write.parquet(f"{srcdir}/bad.parquet")
    with pytest.raises(Exception, match="v_nonneg"):
        _run_sink(spark, srcdir, m, f"{work}/ckpt-bad")
    assert m.current()["version"] == head  # nothing committed
    assert m.read(spark).filter("v < 0").count() == 0

    # valid batch (same constraint set) passes the gate; a NULL-payload
    # DELETE rides along without tripping it
    srcdir2 = f"{work}/src2"
    os.makedirs(srcdir2)
    ups = spark.range(0, 10).select(
        F.col("id"),
        F.lit(5.0).alias("v"),
        F.lit("U").alias("op"),
        F.lit(2).cast("long").alias("ts"),
    )
    dels = spark.createDataFrame(
        [(299, None, "D", 2)], "id long, v double, op string, ts long"
    )
    ups.unionByName(dels).write.parquet(f"{srcdir2}/good.parquet")
    _run_sink(spark, srcdir2, m, f"{work}/ckpt-good")
    got = m.read(spark)
    assert got.filter("v = 5.0").count() == 10
    assert got.filter("id = 299").count() == 0
    assert m.current()["operation"] == "sink_commit"


def test_sink_refuses_nonportable_constraint_expr(spark, tmp_path):
    """A CHECK expression the sink's executor-side evaluator cannot
    parse is refused AT SINK CREATION (loud), never skipped."""
    work = str(tmp_path)
    m = _init_mirror(spark, f"{work}/m")
    m.add_constraint(spark, "sparky", "xxhash64(v) != 42")
    srcdir = f"{work}/src"
    os.makedirs(srcdir)
    spark.range(0, 5).select(
        F.col("id"), F.lit(1.0).alias("v"),
        F.lit("U").alias("op"), F.lit(1).cast("long").alias("ts"),
    ).write.parquet(f"{srcdir}/f.parquet")
    with pytest.raises(Exception, match="not expressible"):
        _run_sink(spark, srcdir, m, f"{work}/ckpt")
