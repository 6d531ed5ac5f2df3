#!/usr/bin/env python
"""Per-job profile of one or more registry queries (optimization r15).

Runs each named query with the Spark event log enabled, then parses the
log to attribute wall-clock to individual Spark jobs (description, run
time, task count, shuffle bytes). This is the guide-§1 "empirical" loop
for a 160-query surface where the Spark UI is disabled.

Usage:
    python scripts/profile_query.py <query> [<query> ...] [--runs N]

Prints, per query: total wall (median of runs); then one line per job in
submission order: job_id, seconds, driver gap, #tasks, shuffle read/write
MB, the job description / callsite; then jobs, tasks and summed job
seconds per query run. Each run sets the job description
``<query>#r<n>``, which pooled harness jobs inherit, so the per-run
totals come from one session; jobs outside every run (the warm-up) are
counted under ``(untagged)``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

EVDIR = Path("/tmp/spark_graft_events")


def _read_log_text(path: Path) -> str:
    if path.name.endswith(".zstd"):
        import shutil

        if shutil.which("zstd"):
            import subprocess

            return subprocess.run(
                ["zstd", "-dc", str(path)], capture_output=True, check=True
            ).stdout.decode()
        # no zstd binary on this box: pyarrow ships a streaming decoder
        import pyarrow as pa

        with pa.CompressedInputStream(pa.OSFile(str(path)), "zstd") as f:
            return f.read().decode()
    return path.read_text()


def _parse_eventlog(path: Path) -> list[dict]:
    jobs: dict[int, dict] = {}
    stage_metrics: dict[int, dict] = {}
    stage_to_job: dict[int, int] = {}
    for line in _read_log_text(path).splitlines():
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "id": jid,
                "t0": ev["Submission Time"],
                "group": props.get("spark.job.description") or "",
                "desc": props.get("spark.job.description")
                or props.get("callSite.short", ""),
                "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
            }
            for s in ev.get("Stage Infos", []):
                stage_to_job[s["Stage ID"]] = jid
        elif e == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["t1"] = ev["Completion Time"]
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
            stage_metrics[sid] = {
                "tasks": si.get("Number of Tasks", 0),
                "sr": int(acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0) or 0)
                + int(acc.get("internal.metrics.shuffle.read.localBytesRead", 0) or 0),
                "sw": int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0) or 0),
                "name": si.get("Stage Name", ""),
            }
    out = []
    for jid, j in sorted(jobs.items()):
        dur = (j.get("t1", j["t0"]) - j["t0"]) / 1000.0
        tasks = sum(stage_metrics.get(s, {}).get("tasks", 0) for s in j["stages"])
        sr = sum(stage_metrics.get(s, {}).get("sr", 0) for s in j["stages"])
        sw = sum(stage_metrics.get(s, {}).get("sw", 0) for s in j["stages"])
        names = [
            stage_metrics.get(s, {}).get("name", "") for s in j["stages"]
        ]
        name = names[-1] if names else ""
        out.append(
            {"id": jid, "sec": dur, "tasks": tasks, "sr_mb": sr / 1e6,
             "sw_mb": sw / 1e6, "desc": (j["desc"] or "")[:40],
             "group": j["group"],
             "t0": j["t0"], "name": (name or "")[:60]}
        )
    return out


def main() -> None:
    runs = 2
    argv = sys.argv[1:]
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    names = [a for a in argv if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    EVDIR.mkdir(exist_ok=True)

    from tabular_cdc_bootstrapper_spark.session import get_spark
    from tabular_cdc_bootstrapper_spark import queries as q

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    spark = get_spark(
        "profile",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(EVDIR),
        },
    )
    from tabular_cdc_bootstrapper_spark.shipping import ensure_self_on_workers

    ensure_self_on_workers(spark)
    # same warmup as bench.py
    for t in (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split():
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()

    app_id = spark.sparkContext.applicationId
    for name in names:
        fn = q.QUERIES[name]
        walls = []
        for i in range(runs):
            spark.sparkContext.setJobDescription(f"{name}#r{i}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            walls.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)
        med = statistics.median(walls)
        print(f"\n=== {name}: wall runs={['%.3f' % w for w in walls]} "
              f"median={med:.3f}s ===")
    spark.stop()
    # parse the single event log; jobs appear in submission order, so the
    # per-query job ranges are contiguous — print everything with timings
    logf = EVDIR / app_id
    if not logf.exists():
        cands = sorted(EVDIR.glob(f"*{app_id}*"))
        if cands:
            logf = cands[0]
    if logf.is_dir():  # Spark 4 rolling event log: a dir of events_* parts
        parts = sorted(p for p in logf.iterdir() if p.name.startswith("events"))
        jobs = []
        for p in parts:
            jobs.extend(_parse_eventlog(p))
    else:
        jobs = _parse_eventlog(logf)
    total = sum(j["sec"] for j in jobs)
    print(f"\n--- {len(jobs)} jobs, {total:.2f}s summed job time ---")
    prev_end = None
    for j in jobs:
        # gap = driver-side time between the previous job's end and this
        # job's submission (planning, py4j, metadata IO)
        gap = (j["t0"] - prev_end) / 1000.0 if prev_end is not None else 0.0
        prev_end = j["t0"] + j["sec"] * 1000.0
        print(f"  job {j['id']:>4} {j['sec']:7.3f}s gap={gap:6.3f}s "
              f"tasks={j['tasks']:<4} sr={j['sr_mb']:7.1f}MB "
              f"sw={j['sw_mb']:7.1f}MB {j['desc']:<42} {j['name']}")
    tags = [f"{name}#r{i}" for name in names for i in range(runs)]
    per_tag: dict[str, list[dict]] = {t: [] for t in tags + ["(untagged)"]}
    for j in jobs:
        per_tag[j["group"] if j["group"] in per_tag else "(untagged)"].append(j)
    print("\n--- per query run ---")
    for tag, tjobs in per_tag.items():
        print(f"  {tag:<48} jobs={len(tjobs):<4} "
              f"tasks={sum(j['tasks'] for j in tjobs):<6} "
              f"job_s={sum(j['sec'] for j in tjobs):7.2f}")


if __name__ == "__main__":
    main()
