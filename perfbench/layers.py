"""Per-layer metrics of a traced run.

Layers are named after the engine modules the spans sit around:

=============  ===============================================================
span           engine call
=============  ===============================================================
session.*      ``session.get_spark``, ``shipping.ensure_self_on_workers``
cli            ``__main__.main``
catalog.*      ``catalog.discover_targets`` / ``bootstrap_targets`` /
               ``point_table_to[_partitioned]``
pipeline.call  ``streaming.pipeline.run_cdc_pipeline_available_now``
ingest         ``streaming.runner.start_changelog_ingest`` until its query ends
merge          ``state_table.cdc_merge_batch`` / ``bucket_ops.merge_batch``
commit         ``_protocol.SnapshotLog.publish``
read.plan      mirror ``read`` / ``read_pruned`` / ``read_version``, catalog table
read.exec      the action on the returned DataFrame
compact        ``bucket_ops.rewrite_data_files``
expire         ``bucket_ops.expire_snapshots``
mix.<query>    one ``__spark_entry__.queries()`` entry, materialised
=============  ===============================================================

Times are per loop cycle (one batch, poll or pass) unless a name says
otherwise; only spans and Spark jobs inside the measured loop count.
"""

from __future__ import annotations

from datetime import datetime

import spans as tr

MIX_QUERIES = (
    "mor_merge_fold_roundtrip", "table_sql_lifecycle", "sql_optimize_zorder", "mirror_dml_delete_update",
    "q1_pricing_summary", "q6_forecast_revenue", "minhash_near_duplicates",
)

L, H = "lower", "higher"
#: (name, unit, better) of the per-layer metrics every workload reports
#: with ``--trace 1``; mor_reads adds MAINTENANCE, registry_mix adds MIX
PER_LAYER = [
    ("session.start_s", "s", L), ("session.ship_s", "s", L),
    ("catalog.discover_s", "s", L), ("catalog.bootstrap_s", "s", L), ("catalog.repoint_s", "s", L),
    ("catalog.jobs", "count", L), ("cli.self_s", "s", L),
    ("pipeline.self_s", "s", L),
    ("ingest.s", "s", L), ("ingest.latest_offset_ms", "ms", L), ("ingest.add_batch_ms", "ms", L),
    ("ingest.commit_ms", "ms", L), ("ingest.jobs", "count", L),
    ("merge.s", "s", L), ("merge.trigger_overhead_s", "s", L), ("merge.jobs", "count", L),
    ("merge.tasks", "count", L), ("merge.shuffle_mb", "MB", L), ("merge.touched_buckets", "count", L),
    ("merge.bytes_written", "bytes", L), ("merge.scans_per_row", "ratio", L),
    ("commit.s", "s", L), ("commit.count", "count", L), ("commit.cas_retries", "count", L),
    ("read.plan_s", "s", L), ("read.exec_s", "s", L), ("read.dirs", "count", L), ("read.jobs", "count", L),
    ("exec.task_s", "s", L), ("exec.gc_s", "s", L),
    ("storage.write_amp", "ratio", L), ("storage.space_amp", "ratio", L),
    ("bench.self_s", "s", L), ("loop.cycle_wall_s", "s", L),
]
MAINTENANCE = [
    ("compact.s", "s", L), ("compact.bytes_rewritten", "bytes", L),
    ("expire.s", "s", L), ("expire.bytes_freed", "bytes", H),
]
MIX = [
    *[(f"mix.{q}_s", "s", L) for q in MIX_QUERIES],
    ("mix.jobs", "count", L), ("mix.job_s", "s", L), ("mix.driver_gap_s", "s", L),
]


def metric_list(workload: str) -> list[tuple[str, str, str]]:
    extra = {"mor_reads": MAINTENANCE, "registry_mix": MIX}.get(workload, [])
    return PER_LAYER + extra


def install(tracer: tr.Tracer) -> None:
    """Wrap the engine's public functions for the traced run."""
    from tabular_cdc_bootstrapper_spark import catalog
    from tabular_cdc_bootstrapper_spark.streaming import _protocol, bucket_ops, pipeline, runner

    def touched(rec, attrs):
        attrs["touched"] = len((rec or {}).get("touched_buckets") or [])

    tracer.wrap(catalog, "discover_targets", "catalog.discover")
    tracer.wrap(catalog, "bootstrap_targets", "catalog.bootstrap")
    tracer.wrap(catalog, "point_table_to", "catalog.repoint")
    tracer.wrap(catalog, "point_table_to_partitioned", "catalog.repoint")
    tracer.wrap(pipeline, "run_cdc_pipeline_available_now", "pipeline.call")
    # the ingest query runs asynchronously; the runner waits for it right
    # after, so waiting inside the span moves no work
    tracer.wrap(runner, "start_changelog_ingest", "ingest", after=lambda q, _a: q.awaitTermination())
    tracer.wrap(runner, "cdc_merge_batch", "merge")
    tracer.wrap(bucket_ops.VersionedBucketMirrorOps, "merge_batch", "merge", after=touched)
    tracer.wrap(_protocol.SnapshotLog, "publish", "commit")


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _rows(progress: dict) -> int:
    return sum(src.get("numInputRows", 0) for src in progress.get("sources", []))


def per_layer(run, loop_t: list[float], cycles: list[float]) -> dict:
    lo, hi = loop_t
    n = max(len(cycles), 1)
    roots = tr.build_tree([s for s in run.tracer.spans if lo <= s.t0 and s.t1 <= hi])
    log = tr.read_event_log(run.dirs["events"])
    jobs = [j for j in log.jobs if lo <= j["t0"] <= hi]
    loose = tr.attribute_jobs(roots, jobs)
    spans = list(tr.walk(roots))
    by: dict[str, list[tr.Span]] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)

    def total(name: str) -> float:
        return sum(s.dur for s in by.get(name, []))

    def self_total(name: str) -> float:
        return sum(s.self_s() for s in by.get(name, []))

    def jobs_of(*names: str) -> list[dict]:
        return [j for nm in names for s in by.get(nm, []) for j in tr.subtree_jobs(s)]

    def mean(x: float, k: int) -> float:
        return x / k if k else 0.0

    # streaming progress: a trigger that starts inside an ingest span is
    # the ingest query's; any other inside a pipeline call is the merge's
    ingest_iv = [(s.t0, s.t1) for s in by.get("ingest", [])]
    call_iv = [(s.t0, s.t1) for s in by.get("pipeline.call", [])]
    ingest_p, merge_p = [], []
    for p in log.progress:
        t = _ts(p["timestamp"])
        if not _rows(p):
            continue
        if any(a <= t <= b for a, b in ingest_iv):
            ingest_p.append(p)
        elif any(a <= t <= b for a, b in call_iv):
            merge_p.append(p)

    def dur_ms(ps, *keys) -> float:
        return mean(sum(p["durationMs"].get(k, 0) for p in ps for k in keys), len(ps))

    merges = by.get("merge", [])
    merge_jobs = jobs_of("merge")
    commits = by.get("commit", [])
    reads = by.get("read", [])
    read_jobs = jobs_of("read")
    mix_spans = [s for s in spans if s.name.startswith("mix.")]
    mix_jobs = [j for s in mix_spans for j in tr.subtree_jobs(s)]
    mix_wall = sum(s.dur for s in mix_spans)
    ref_ids = {id(j) for j in jobs_of("reference")}
    engine_jobs = [j for j in jobs if id(j) not in ref_ids]
    c = run.counts
    wall = hi - lo
    m = {
        "session.start_s": run.once["session.start_s"],
        "session.ship_s": run.once["session.ship_s"],
        "catalog.discover_s": mean(total("catalog.discover"), n),
        "catalog.bootstrap_s": mean(total("catalog.bootstrap"), n),
        "catalog.repoint_s": mean(total("catalog.repoint"), n),
        "catalog.jobs": mean(len(jobs_of("catalog.discover", "catalog.bootstrap", "catalog.repoint")), n),
        "cli.self_s": mean(self_total("cli"), n),
        "pipeline.self_s": mean(self_total("pipeline.call"), n),
        "ingest.s": mean(total("ingest"), n),
        "ingest.latest_offset_ms": dur_ms(ingest_p, "latestOffset"),
        "ingest.add_batch_ms": dur_ms(ingest_p, "addBatch"),
        "ingest.commit_ms": dur_ms(ingest_p, "walCommit", "commitOffsets"),
        "ingest.jobs": mean(len(jobs_of("ingest")), n),
        "merge.s": mean(total("merge"), n),
        "merge.trigger_overhead_s": mean(
            sum(p["durationMs"].get("triggerExecution", 0) for p in merge_p) / 1000.0
            - sum(s.dur for s in merges if any(a <= s.t0 <= b for a, b in call_iv)), n,
        ) if merge_p else 0.0,
        "merge.jobs": mean(len(merge_jobs), n),
        "merge.tasks": mean(sum(j["tasks"] for j in merge_jobs), n),
        "merge.shuffle_mb": mean(sum(j["shuffle_bytes"] for j in merge_jobs) / 2**20, n),
        "merge.touched_buckets": mean(sum(s.attrs.get("touched", 0) for s in merges), len(merges)),
        "merge.bytes_written": mean(c["merge_bytes"], n),
        "merge.scans_per_row": mean(sum(_rows(p) for p in merge_p), int(c["change_rows"])),
        "commit.s": mean(total("commit"), n),
        "commit.count": mean(len(commits), n),
        "commit.cas_retries": sum(1 for s in commits if s.attrs.get("error") == "CommitConflict"),
        "read.plan_s": mean(total("read.plan"), len(reads)),
        "read.exec_s": mean(total("read.exec"), len(reads)),
        "read.dirs": mean(c["read_dirs"], int(c["scans"])),
        "read.jobs": mean(len(read_jobs), len(reads)),
        "compact.s": mean(total("compact"), len(by.get("compact", []))),
        "compact.bytes_rewritten": mean(c["compact_bytes"], len(by.get("compact", []))),
        "expire.s": mean(total("expire"), len(by.get("expire", []))),
        "expire.bytes_freed": mean(c["expire_freed"], len(by.get("expire", []))),
        **{f"mix.{q}_s": mean(total(f"mix.{q}"), n) for q in MIX_QUERIES},
        "mix.jobs": mean(len(mix_jobs), n),
        "mix.job_s": mean(tr.job_union_s(mix_jobs), n),
        "mix.driver_gap_s": mean(mix_wall - tr.job_union_s(mix_jobs), n),
        "exec.task_s": mean(sum(j["task_s"] for j in engine_jobs), n),
        "exec.gc_s": mean(sum(j["gc_s"] for j in engine_jobs), n),
        "storage.write_amp": mean(c["written_bytes"], int(c["change_bytes"])),
        "storage.space_amp": c.get("space_amp", 0.0),
        "bench.self_s": mean(wall - tr.union([(s.t0, s.t1) for s in roots]), n),
        "loop.cycle_wall_s": mean(wall, n),
    }
    run.once["trace.loose_jobs"] = len(loose)
    names = sorted({s.name for s in spans})
    run.once["trace.self_s"] = {nm: mean(self_total(nm), n) for nm in names}
    return {name: {"value": m[name], "unit": unit} for name, unit, _ in metric_list(run.args.workload)}
