"""Streaming window tests: the streaming results must agree with their
batch twins (same logical op, different execution), including with
out-of-order input, and watermarks must actually drop too-late rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.streaming.windows import (
    EVENTS_STREAM_SCHEMA,
    run_stream_to_memory,
    session_counts,
    sliding_counts,
    tumbling_counts,
    with_ingest_metrics,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events fixture re-written as multiple parquet files with TimestampType
    (µs) so the streaming file source can read it, deliberately NOT ordered
    by time (files are split by event_id ranges interleaved)."""
    out = tmp_path_factory.mktemp("events_stream")
    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    e = _load_events(spark, f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    # interleave: odd ids then even ids → per-file time ranges overlap fully
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(out / "f1"))
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(out / "f2"))
    return str(out)


def _stream(spark, events_dir):
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(events_dir)
    )


def _batch(spark, events_dir):
    return (
        spark.read.schema(EVENTS_STREAM_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(events_dir)
    )


def _final_watermark(spark, events_dir, delay_minutes=30):
    """Append-mode streams only emit windows whose END precedes the final
    watermark (global max event time - delay); later windows stay in state.
    The batch expectation must apply the same cutoff."""
    from datetime import timedelta

    mx = _batch(spark, events_dir).agg(F.max("ts")).collect()[0][0]
    return mx - timedelta(minutes=delay_minutes)


def test_tumbling_stream_matches_batch(spark, events_dir):
    from datetime import timedelta

    q = run_stream_to_memory(
        tumbling_counts(_stream(spark, events_dir)), "tumbling_out"
    )
    wm = _final_watermark(spark, events_dir)
    got = {
        (r["bucket_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in spark.table("tumbling_out").collect()
    }
    exp = {
        (r["bucket_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in tumbling_counts(_batch(spark, events_dir)).collect()
        if r["bucket_start"] + timedelta(minutes=10) <= wm
    }
    assert got == exp and len(got) > 0
    q.stop()


def test_sliding_stream_matches_batch(spark, events_dir):
    from datetime import timedelta

    q = run_stream_to_memory(sliding_counts(_stream(spark, events_dir)), "sliding_out")
    wm = _final_watermark(spark, events_dir)
    got = {tuple(r) for r in spark.table("sliding_out").collect()}
    exp = {
        tuple(r)
        for r in sliding_counts(_batch(spark, events_dir)).collect()
        if r["bucket_start"] + timedelta(minutes=10) <= wm
    }
    assert got == exp and len(got) > 0
    q.stop()


def test_session_stream_produces_sessions(spark, events_dir):
    q = run_stream_to_memory(session_counts(_stream(spark, events_dir)), "session_out")
    rows = spark.table("session_out").collect()
    wm = _final_watermark(spark, events_dir, 60)
    assert len(rows) > 0
    for r in rows:
        assert r["session_end"] > r["session_start"]
        assert r["n_events"] >= 1
    # emitted sessions must exactly match the batch session_window twin,
    # up to the final watermark (later sessions remain unfinalized)
    exp = {
        (r["session_start"], r["session_end"], r["user_id"], r["n_events"])
        for r in session_counts(_batch(spark, events_dir)).collect()
        if r["session_end"] <= wm
    }
    got = {
        (r["session_start"], r["session_end"], r["user_id"], r["n_events"])
        for r in rows
    }
    assert got == exp
    q.stop()


def test_observe_metrics_reported(spark, events_dir):
    stream = with_ingest_metrics(_stream(spark, events_dir))
    # pass-through observation: write raw rows, metrics ride on progress
    q = (
        stream.writeStream.format("memory")
        .queryName("observed_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p["observedMetrics"].get("ingest")]
    assert progress, "no observed metrics in any micro-batch"
    total_rows = sum(p["observedMetrics"]["ingest"]["rows"] for p in progress)
    assert total_rows == _batch(spark, events_dir).count()
    q.stop()


def test_stream_stream_interval_join_matches_batch(spark, events_dir, tmp_path):
    """Stream-stream inner join with watermarks + time-bound condition:
    every pair the batch twin produces must appear in the streaming result
    (append mode emits once both watermarks pass the pair's window; with
    availableNow the final watermark may hold back the newest pairs, so
    streaming ⊆ batch and must cover all but the trailing region)."""
    from datetime import timedelta

    from tabular_cdc_bootstrapper_spark.streaming.joins import interval_join

    signups_b = _batch(spark, events_dir).filter(F.col("event_type") == "signup")
    errors_b = _batch(spark, events_dir).filter(F.col("event_type") == "error")
    batch_pairs = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in interval_join(signups_b, errors_b).collect()
    }
    assert batch_pairs, "fixture must produce at least one joined pair"

    out = interval_join(
        _stream(spark, events_dir).filter(F.col("event_type") == "signup"),
        _stream(spark, events_dir).filter(F.col("event_type") == "error"),
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_pairs = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in spark.table("ssj_out").collect()
    }
    assert stream_pairs <= batch_pairs
    # all pairs fully earlier than (max event time - watermark - lag) must
    # have been emitted
    cutoff = _final_watermark(spark, events_dir, delay_minutes=120) - timedelta(hours=1)
    must_emit = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in interval_join(signups_b, errors_b)
        .filter(F.col("r_ts") < F.lit(cutoff))
        .collect()
    }
    assert must_emit <= stream_pairs


def test_streaming_dedup_dedups_across_microbatches(spark, sf_dir, tmp_path):
    """streaming_exact_dedup must drop a duplicate that arrives in a LATER
    micro-batch than its original (seen-digest state persists across
    batches). Two files, forced into separate batches via
    maxFilesPerTrigger=1; file 2 re-sends five file-1 documents under new
    ids."""
    from tabular_cdc_bootstrapper_spark.functions.dedup import (
        streaming_exact_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = tmp_path / "docs_stream"
    first = docs.filter(F.col("doc_id") < 250)
    second = docs.filter(F.col("doc_id") >= 250).unionByName(
        docs.filter(F.col("doc_id") < 5).withColumn(
            "doc_id", F.col("doc_id") + 5_000_000
        )
    )
    first.coalesce(1).write.parquet(str(out / "f1"))
    second.coalesce(1).write.parquet(str(out / "f2"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out))
    )
    q = run_stream_to_memory(streaming_exact_dedup(stream), "dedup_out")
    got = spark.table("dedup_out").collect()
    q.stop()

    n_distinct = docs.select(
        F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    ).distinct().count()
    assert len(got) == n_distinct  # every copy dropped, every original kept
    assert len({r["digest"] for r in got}) == len(got)
    # no re-sent id survived: first-seen (lower id) wins across batches…
    # unless both files landed in one batch — maxFilesPerTrigger pins 2
    assert all(r["doc_id"] < 5_000_000 for r in got)


def test_interval_join_equals_banded_range_join(spark, events_dir):
    """Batch/streaming twin unification (VERDICT r5 #5): the streaming
    interval_join (key match, r_ts in (l_ts, l_ts + 1h]) and the batch
    banded_range_join must produce the SAME pair set on the same events
    data. banded_range_join's window is closed on both ends, so the
    streaming operator's open lower bound is expressed as lower_s = 1 µs
    — exact at the engine's microsecond timestamp resolution."""
    from tabular_cdc_bootstrapper_spark.operators.rangejoin import (
        banded_range_join,
    )
    from tabular_cdc_bootstrapper_spark.streaming.joins import interval_join

    signups = _batch(spark, events_dir).filter(F.col("event_type") == "signup")
    errors = _batch(spark, events_dir).filter(F.col("event_type") == "error")

    via_interval = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in interval_join(signups, errors, max_lag="1 hour").collect()
    }
    assert via_interval, "fixture must produce at least one joined pair"

    banded = banded_range_join(
        signups.select("user_id", "ts", F.col("event_id").alias("l_event_id")),
        errors.select("user_id", "ts", "event_id"),
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        lower_s=0.000001,  # (l_ts, ...] at µs resolution
        upper_s=3600.0,
        right_payload=["event_id"],
    )
    via_banded = {
        (r["user_id"], r["l_event_id"], r["event_id_r"])
        for r in banded.collect()
    }
    assert via_banded == via_interval


def test_streaming_minhash_twin_matches_batch_candidates(spark, sf_dir, tmp_path):
    """Batch/streaming near-dup twin: on the same corpus (split across two
    micro-batches, with a near-duplicate PAIR split across the batch
    boundary) the streaming LSH candidate set must equal the batch
    minhash_candidates pair set — same signatures, same band hashes, same
    cap. The cross-batch planted pair is the part a per-batch re-run of the
    batch operator would miss."""
    from tabular_cdc_bootstrapper_spark.functions.dedup import minhash_candidates
    from tabular_cdc_bootstrapper_spark.streaming.stateful import (
        streaming_minhash_candidates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # near-dup of doc 7 lands in batch 2 while doc 7 is in batch 1
    twin = docs.filter(F.col("doc_id") == 7).withColumn(
        "doc_id", F.lit(9_000_007)
    ).withColumn("text", F.concat(F.lit("zzz "), F.expr("substring(text, 5, length(text))")))
    out = tmp_path / "minhash_stream"
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(str(out / "f1"))
    docs.filter(F.col("doc_id") >= 250).unionByName(twin).coalesce(1).write.parquet(
        str(out / "f2")
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out))
    )
    from tabular_cdc_bootstrapper_spark.streaming.windows import run_stream_to_memory

    q = run_stream_to_memory(streaming_minhash_candidates(stream), "minhash_cand_out")
    streamed = {
        (r["id_a"], r["id_b"]) for r in spark.table("minhash_cand_out").collect()
    }
    q.stop()

    full = docs.unionByName(twin)
    batch = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidates(full).collect()
    }
    assert streamed == batch
    assert (7, 9_000_007) in streamed  # the cross-batch pair was found


def test_streaming_span_duplicates_twin_matches_batch(spark, sf_dir, tmp_path):
    """Batch/streaming span-dedup twin: grouped by fingerprint, the
    streaming detector's emitted doc sets must equal the batch winnowed
    span-dedup membership (docs per span_hash with >= 2 docs) on the same
    corpus — including a duplicated-span pair SPLIT across the micro-batch
    boundary, which re-running the batch operator per batch would miss."""
    from tabular_cdc_bootstrapper_spark.functions.dedup import span_fingerprints_df
    from tabular_cdc_bootstrapper_spark.streaming.stateful import (
        streaming_span_duplicates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # doc 11's text re-appears (prefix-shifted, > w+s-1 shared run) in batch 2
    twin = docs.filter(F.col("doc_id") == 11).select(
        F.lit(9_000_011).alias("doc_id"),
        F.concat(F.lit("PREFIXPAD "), F.col("text")).alias("text"),
    )
    out = tmp_path / "span_stream"
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(str(out / "f1"))
    docs.filter(F.col("doc_id") >= 250).unionByName(twin).coalesce(1).write.parquet(
        str(out / "f2")
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out))
    )
    from tabular_cdc_bootstrapper_spark.streaming.windows import run_stream_to_memory

    q = run_stream_to_memory(streaming_span_duplicates(stream), "span_dup_out")
    streamed: dict[str, set] = {}
    for r in spark.table("span_dup_out").collect():
        streamed.setdefault(r["span_hash"], set()).add(r["doc_id"])
    q.stop()

    full = docs.unionByName(twin)
    batch: dict[str, set] = {}
    for r in span_fingerprints_df(full).collect():
        batch.setdefault(r["span_hash"], set()).add(r["id"])
    batch = {h: ids for h, ids in batch.items() if len(ids) >= 2}
    assert streamed == batch
    # the cross-batch planted pair was caught
    assert any({11, 9_000_011} <= ids for ids in streamed.values())


def test_stream_static_topk_matches_batch_cosine(spark, sf_dir, tmp_path):
    """Stream-static serving twin: query vectors arriving as a 2-batch
    stream, scored against the static embeddings corpus, must produce
    exactly the batch cosine_topk neighbor lists (ids AND rounded sims,
    in rank order) for every query."""
    from tabular_cdc_bootstrapper_spark.functions.similarity import cosine_topk
    from tabular_cdc_bootstrapper_spark.streaming.serving import stream_static_topk
    from tabular_cdc_bootstrapper_spark.streaming.windows import run_stream_to_memory

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = tmp_path / "query_stream"
    queries.filter(F.col("qid") < 3).coalesce(1).write.parquet(str(out / "f1"))
    queries.filter(F.col("qid") >= 3).coalesce(1).write.parquet(str(out / "f2"))
    stream = (
        spark.readStream.schema("qid long, embedding array<float>")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out))
    )
    q = run_stream_to_memory(
        stream_static_topk(stream, emb, k=10),
        "serving_out",
        output_mode="update",
    )
    got = {
        r["qid"]: [(n["vec_id"], n["sim"]) for n in r["neighbors"]]
        for r in spark.table("serving_out").collect()
    }
    q.stop()

    batch = cosine_topk(emb, queries, k=10).collect()
    expect: dict[int, list] = {}
    for r in sorted(batch, key=lambda r: (r["qid"], r["rn"])):
        expect.setdefault(r["qid"], []).append((r["vec_id"], r["cos_sim"]))
    assert got == expect


def test_streaming_mg_heavy_hitters_twin_covers_batch_exact(spark, sf_dir, tmp_path):
    """Batch/streaming frequency-sketch twin: after streaming the corpus
    across two micro-batches, the final MG shard summaries must contain
    EVERY term the batch two-pass operator proves heavy (the mergeable-
    summaries guarantee, which sharding by term hash only tightens), with
    lower bounds that never exceed exact counts and <= k counters per
    shard. A planted hot term is split across the batch boundary so that
    neither batch alone crosses the threshold — the cross-batch carry a
    per-batch re-run would miss."""
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.functions.heavyhitters import (
        heavy_hitters_exact,
    )
    from tabular_cdc_bootstrapper_spark.streaming.stateful import (
        streaming_mg_heavy_hitters,
    )

    k = 64
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    n_corpus_tokens = docs.filter(F.length(F.trim("text")) > 0).select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    ).count()
    # plant "qqhot" heavy: > 1/(k+1) of the final corpus, half per batch
    per_half = (n_corpus_tokens // k) // 2 + 50
    hot_doc = " ".join(["qqhot"] * per_half)
    plant1 = spark.createDataFrame([(9_000_001, hot_doc)], "doc_id long, text string")
    plant2 = spark.createDataFrame([(9_000_002, hot_doc)], "doc_id long, text string")

    out = tmp_path / "mg_stream"
    docs.filter(F.col("doc_id") < 250).unionByName(plant1).coalesce(1).write.parquet(
        str(out / "f1")
    )
    docs.filter(F.col("doc_id") >= 250).unionByName(plant2).coalesce(1).write.parquet(
        str(out / "f2")
    )

    stream_tokens = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out))
        .filter(F.length(F.trim("text")) > 0)
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("term"))
    )
    from tabular_cdc_bootstrapper_spark.streaming.windows import run_stream_to_memory

    q = run_stream_to_memory(
        streaming_mg_heavy_hitters(stream_tokens, k=k), "mg_hh_out"
    )
    rows = spark.table("mg_hh_out").collect()
    q.stop()

    # final summary per shard = rows tagged with that shard's max n_shard;
    # the NULL-term row is the version/accounting marker, not a counter
    final_n = {}
    for r in rows:
        final_n[r["shard"]] = max(final_n.get(r["shard"], 0), r["n_shard"])
    final_all = [r for r in rows if r["n_shard"] == final_n[r["shard"]]]
    # every versioned emission carries its NULL accounting row; the
    # marker's mg_lower is NULL (n_shard is the count column — summing
    # mg_lower without a term-IS-NULL filter must not inflate)
    null_rows = {r["shard"]: r for r in final_all if r["term"] is None}
    assert set(null_rows) == set(final_n)
    assert all(null_rows[s]["mg_lower"] is None for s in final_n)
    assert all(null_rows[s]["n_shard"] == final_n[s] for s in final_n)
    final = [r for r in final_all if r["term"] is not None]
    streamed_terms = {r["term"] for r in final}
    per_shard = {}
    for r in final:
        per_shard.setdefault(r["shard"], []).append(r)
    for shard, srows in per_shard.items():
        assert len(srows) <= k, f"shard {shard} exceeded k counters"

    full = docs.unionByName(plant1).unionByName(plant2)
    tokens = full.filter(F.length(F.trim("text")) > 0).select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    exact = {r["term"]: r["cnt"] for r in heavy_hitters_exact(tokens, k=k).collect()}
    assert exact, "fixture produced no exact heavy hitters"
    assert "qqhot" in exact  # the planted cross-batch term IS heavy
    # the MG law: every exact heavy hitter survives in the stream state
    assert set(exact) <= streamed_terms
    # lower bounds never exceed exact counts (undercount-only guarantee)
    exact_all = {
        r["term"]: r["cnt"]
        for r in tokens.groupBy("term").agg(F.count("*").alias("cnt")).collect()
    }
    for r in final:
        assert r["mg_lower"] <= exact_all[r["term"]]
    # total tokens accounted across shards == corpus tokens
    assert sum(final_n.values()) == tokens.count()


def test_streaming_event_mix_drift_twin_matches_batch(spark, sf_dir, tmp_path):
    """Batch/streaming drift twin: after streaming the events fixture
    across two micro-batches, the final (max-version) emission must equal
    queries.event_mix_drift run as a batch over the same data — the state
    holds exact (week, event_type) counts, so the law is bit-identity,
    not approximation. Mid-stream emissions exist too (the always-on
    alerting surface) and carry strictly increasing versions."""
    from tabular_cdc_bootstrapper_spark.queries._registry import (
        QUERIES,
        _load_events,
    )
    from tabular_cdc_bootstrapper_spark.streaming.stateful import (
        streaming_event_mix_drift,
    )

    e = _load_events(spark, f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = tmp_path / "mix_stream"
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(out / "f1"))
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(out / "f2"))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out))
    )
    from tabular_cdc_bootstrapper_spark.streaming.windows import run_stream_to_memory

    q = run_stream_to_memory(streaming_event_mix_drift(stream), "mix_drift_out")
    rows = spark.table("mix_drift_out").collect()
    q.stop()

    versions = sorted({r["version"] for r in rows})
    assert len(versions) == 2  # one emission per micro-batch
    final = {
        r["week"]: (r["n_events"], r["tv_ppm"])
        for r in rows
        if r["version"] == versions[-1]
    }
    batch = {
        r["week"]: (r["n_events"], r["tv_ppm"])
        for r in QUERIES["event_mix_drift"](spark, sf_dir).collect()
    }
    spark.catalog.clearCache()
    assert final == batch
    # version = cumulative event count; the last one covers everything
    assert versions[-1] == sum(n for n, _ in batch.values())


def test_maintained_cluster_view_tracks_batch(spark, sf_dir, tmp_path):
    """End-to-end streaming wiring for incremental clustering (VERDICT r6
    #6): docs stream in two micro-batches → streaming_minhash_candidates
    emits each batch's new pairs → foreachBatch folds them into a
    MaintainedClusterView. The final mapping must equal batch
    connected_components over the batch operator's full candidate set —
    including a component formed by a cross-batch planted pair. A
    replayed batch id must be a no-op."""
    from tabular_cdc_bootstrapper_spark.functions.dedup import minhash_candidates
    from tabular_cdc_bootstrapper_spark.functions.graph import connected_components
    from tabular_cdc_bootstrapper_spark.streaming.feeds import (
        MaintainedClusterView,
    )
    from tabular_cdc_bootstrapper_spark.streaming.stateful import (
        streaming_minhash_candidates,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    twin = docs.filter(F.col("doc_id") == 7).withColumn(
        "doc_id", F.lit(9_000_007)
    ).withColumn(
        "text", F.concat(F.lit("zzz "), F.expr("substring(text, 5, length(text))"))
    )
    out = tmp_path / "mcv_stream"
    docs.filter(F.col("doc_id") < 250).coalesce(1).write.parquet(str(out / "f1"))
    docs.filter(F.col("doc_id") >= 250).unionByName(twin).coalesce(1).write.parquet(
        str(out / "f2")
    )

    view = MaintainedClusterView(str(tmp_path / "cluster_view"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out))
    )
    q = (
        streaming_minhash_candidates(stream)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "mcv_ckpt"))
        .foreachBatch(lambda df, bid: view.apply_batch(spark, df, bid))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {r["id"]: r["component_id"] for r in view.read(spark).collect()}
    full = docs.unionByName(twin)
    want = {
        r["id"]: r["component_id"]
        for r in connected_components(minhash_candidates(full)).collect()
    }
    assert got == want and len(want) > 0
    assert got.get(9_000_007) == want[9_000_007]  # cross-batch pair clustered
    # replay fence: re-applying the last batch id is a skip, state unchanged
    last = view.state.current()["last_batch_id"]
    res = view.apply_batch(
        spark,
        spark.createDataFrame([(7, 9_000_007)], "id_a long, id_b long"),
        last,
    )
    assert res.get("skipped_replay") is True
    assert {r["id"]: r["component_id"] for r in view.read(spark).collect()} == want
