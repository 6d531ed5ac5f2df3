"""Streaming funnel (stateful.running_funnel) must match the batch
event_funnel state machine exactly, even when files arrive fully
out-of-order — the watermark buffer replays events in event-time order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.streaming.stateful import running_funnel
from tabular_cdc_bootstrapper_spark.streaming.windows import (
    EVENTS_STREAM_SCHEMA,
    run_stream_to_memory,
)
SENTINEL_USER = -1  # matches conftest.SENTINEL_USER (funnel_dir fixture)


def _expected_flags(spark, funnel_dir):
    """Brute-force per-user funnel over the real events, replayed in
    (ts, event_id) order — an oracle independent of both implementations."""
    pdf = (
        spark.read.schema(EVENTS_STREAM_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(funnel_dir)
        .filter(F.col("user_id") != SENTINEL_USER)
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
    )
    flags: dict[int, list[int]] = {}
    counts: dict[int, int] = {}
    for _, row in pdf.sort_values(["ts", "event_id"]).iterrows():
        u = int(row["user_id"])
        r = flags.setdefault(u, [0, 0, 0])
        counts[u] = counts.get(u, 0) + 1
        et = row["event_type"]
        if et == "view" and not r[0]:
            r[0] = 1
        elif et == "click" and r[0] and not r[1]:
            r[1] = 1
        elif et == "purchase" and r[1] and not r[2]:
            r[2] = 1
    return flags, counts


def test_streaming_funnel_matches_batch(spark, funnel_dir):
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(funnel_dir)
        .withWatermark("ts", "30 minutes")
    )
    run_stream_to_memory(running_funnel(stream), "funnel_updates", "update")
    got_pdf = spark.sql("SELECT * FROM funnel_updates").toPandas()
    assert len(got_pdf), "stream emitted nothing"

    # latest state per user = the row with the highest n_processed
    latest = (
        got_pdf[got_pdf["user_id"] != SENTINEL_USER]
        .sort_values("n_processed")
        .groupby("user_id")
        .tail(1)
        .set_index("user_id")
    )
    expected_flags, expected_counts = _expected_flags(spark, funnel_dir)

    # the sentinel watermark passed every real event: all buffers flushed
    got_counts = latest["n_processed"].astype(int).to_dict()
    assert got_counts == expected_counts

    got_flags = {
        int(u): [int(r["reached_1"]), int(r["reached_2"]), int(r["reached_3"])]
        for u, r in latest.iterrows()
    }
    assert got_flags == expected_flags


def test_streaming_funnel_totals_match_batch_query(spark, sf_dir, funnel_dir):
    """Funnel totals from the streaming operator == the batch event_funnel
    registry query over the same fixture."""
    from tabular_cdc_bootstrapper_spark.queries._registry import QUERIES

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(funnel_dir)
        .withWatermark("ts", "30 minutes")
    )
    run_stream_to_memory(running_funnel(stream), "funnel_updates2", "update")
    got = spark.sql("SELECT * FROM funnel_updates2").toPandas()
    latest = (
        got[got["user_id"] != SENTINEL_USER]
        .sort_values("n_processed")
        .groupby("user_id")
        .tail(1)
    )
    batch = QUERIES["event_funnel"](spark, sf_dir).collect()[0]
    assert len(latest) == batch["n_users"]
    assert int(latest["reached_1"].sum()) == batch["reached_view"]
    assert int(latest["reached_2"].sum()) == batch["reached_view_click"]
    assert int(latest["reached_3"].sum()) == batch["reached_full"]


def test_streaming_funnel_recovers_from_restart(spark, sf_dir, tmp_path):
    """Kill the stream between file batches and restart from the
    checkpoint: per-user state (flags + watermark buffer) must survive,
    and no event may be processed twice — final n_processed equals each
    user's true event count exactly.

    The split is BY TIME, not by id: on restart the engine restores the
    watermark and (correctly) drops input older than it as late data —
    data arriving after a downtime must respect the watermark contract,
    so the second tranche holds the time-later half. Out-of-order arrival
    within a single run is covered by the interleaved-file tests above;
    this test is about state surviving the restart."""
    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    e = _load_events(spark, f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    data_dir, ckpt = str(tmp_path / "data"), str(tmp_path / "ckpt")
    t_mid = e.agg(
        F.expr("percentile_approx(ts, 0.5)").alias("m")
    ).collect()[0]["m"]
    e.filter(F.col("ts") < t_mid).coalesce(1).write.parquet(f"{data_dir}/f1")

    # memory sink can't recover from a checkpoint; foreachBatch can
    collected: list = []

    def run():
        stream = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(data_dir)
            .withWatermark("ts", "30 minutes")
        )
        q = (
            running_funnel(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: collected.append(df.toPandas())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()  # processes f1, then stops (availableNow)

    # the time-later half + sentinels arrive while the stream is DOWN
    e.filter(F.col("ts") >= t_mid).coalesce(1).write.parquet(f"{data_dir}/f2")
    far = e.agg((F.max("ts") + F.expr("INTERVAL 10 HOURS")).alias("ts"))
    for i, name in enumerate(["f3_sentinel", "f4_sentinel"]):
        far.select(
            F.lit(10_000_000 + i).cast("long").alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {i} HOURS")).alias("ts"),
            F.lit(SENTINEL_USER).cast("long").alias("user_id"),
            F.lit("noop").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        ).coalesce(1).write.parquet(f"{data_dir}/{name}")
    run()  # resumes from checkpoint, drains the rest

    import pandas as pd

    both = pd.concat([p for p in collected if len(p)], ignore_index=True)
    latest = (
        both[both["user_id"] != SENTINEL_USER]
        .sort_values("n_processed")
        .groupby("user_id")
        .tail(1)
        .set_index("user_id")
    )
    expected_flags, expected_counts = _expected_flags(spark, data_dir)
    assert latest["n_processed"].astype(int).to_dict() == expected_counts
    got_flags = {
        int(u): [int(r["reached_1"]), int(r["reached_2"]), int(r["reached_3"])]
        for u, r in latest.iterrows()
    }
    assert got_flags == expected_flags
