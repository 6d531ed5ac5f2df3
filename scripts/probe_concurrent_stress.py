#!/usr/bin/env python
"""Concurrent-writer stress probe (r12, VERDICT r11 #7).

``tests/test_concurrency.py`` proves pairwise interleavings with
surgical injection points; this probe is the brute-force complement:
N=8 threads hammer ONE merge-on-read ``VersionedBucketMirror`` root
(each through its own instance, as independent processes would) with a
mixed op stream — CDC merges (75% bucket-disjoint, 25% hot full-range),
partial-progress compaction (the merge-on-read fold point), GDPR key
purges, and branch → commit → fast_forward publishes — until the table
has absorbed ~100 commits. Asserted invariants:

- **linear history**: committed versions are strictly increasing and
  unique; every entry at or below CURRENT parses.
- **no lost update**: a global monotonic ts is issued per successful
  merge; the final mirror state must equal latest-ts-per-key over
  exactly the merges whose commit SUCCEEDED (a lost update would
  surface as a key reading an older ts; a phantom as a key reading a
  ts from a failed commit).
- **bounded retries / liveness**: every merge completes within
  MAX_ATTEMPTS caller-level retries on CommitConflict; compaction uses
  partial_progress=True (the r12 starvation fix THIS PROBE found:
  full-restage-on-conflict compaction starves under sustained writer
  traffic — see test_partial_progress_compaction_under_writer_traffic);
  fast_forward divergence under traffic is EXPECTED (true-FF is
  advisory) and counted, not fatal.

Pass criteria: all three invariants hold and max_retries <= 25.
"""
from __future__ import annotations

import json
import os
import random
import shutil
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

N_THREADS = 8
MERGES_PER_THREAD = 9
MAX_ATTEMPTS = 50
KEYSPACE = 4000  # hot merges draw from all 4k keys
PURGE_BASE = 1_000_000  # reserved: purged keys are never merged
BRANCH_BASE = 2_000_000  # reserved per thread
N_BUCKETS = 16


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming._protocol import (
        CommitConflict,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        # deep merge-on-read delta chains (dozens of specs between fold
        # points) push catalyst analysis recursion past the default
        # ~1MB py4j-thread stack — a JVM knob, not a plan rewrite
        .config("spark.driver.extraJavaOptions", "-Xss16m")
        # 8 writer threads submit jobs concurrently: FAIR scheduling
        # keeps one thread's compaction from starving the others
        .config("spark.scheduler.mode", "FAIR")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile_dir = __import__("tempfile").mkdtemp(
        prefix="probe-stress-"
    )
    root = os.path.join(work, "mirror")
    target = CdcTarget(
        source_uri="file:///x", key_column="id", ts_column="ts"
    )

    init = VersionedBucketMirror(
        root,
        n_buckets=N_BUCKETS,
        key_col="id",
        keep_versions=20,
        merge_on_read=True,
    )
    init.initialize(
        spark.range(KEYSPACE)
        .selectExpr("id", "'init' AS v", "0L AS ts", "'I' AS op")
        .unionByName(
            spark.range(PURGE_BASE, PURGE_BASE + 200).selectExpr(
                "id", "'purgeme' AS v", "0L AS ts", "'I' AS op"
            )
        )
    )
    # key → bucket map (one bounded job): disjoint merges pick whole
    # buckets so concurrent commits exercise the disjoint-rebase path
    by_bucket: dict[int, list[int]] = {}
    for r in (
        spark.range(KEYSPACE)
        .select("id", init._bucket(F.col("id")).alias("b"))
        .collect()
    ):
        by_bucket.setdefault(int(r["b"]), []).append(int(r["id"]))

    ts_lock = threading.Lock()
    ts_counter = [0]

    def next_ts() -> int:
        with ts_lock:
            ts_counter[0] += 1
            return ts_counter[0]

    applied_lock = threading.Lock()
    applied: list[tuple[int, list[int], str]] = []  # (ts, keys, value)
    purged: set[int] = set()
    branch_rows: list[tuple[int, str, int]] = []  # (key, value, ts)
    stats = {
        "merges_ok": 0,
        "compactions_ok": 0,
        "buckets_dropped_total": 0,
        "purges_ok": 0,
        "purge_lock_waits": 0,
        "ff_ok": 0,
        "ff_diverged": 0,
        "max_retries": 0,
        "errors": [],
    }
    stats_lock = threading.Lock()

    def bump(key: str, n: int = 1) -> None:
        with stats_lock:
            stats[key] += n

    def track_retries(attempts: int) -> None:
        with stats_lock:
            stats["max_retries"] = max(stats["max_retries"], attempts)

    def writer(tid: int) -> None:
        rng = random.Random(1000 + tid)
        m = VersionedBucketMirror(
            root,
            n_buckets=N_BUCKETS,
            key_col="id",
            keep_versions=20,
            merge_on_read=True,
        )
        for i in range(MERGES_PER_THREAD):
            # --- merge: 75% whole-bucket-disjoint-ish, 25% hot range
            if i % 4 != 3:
                b = rng.randrange(N_BUCKETS)
                keys = sorted(rng.sample(by_bucket[b], 40))
            else:
                keys = sorted(rng.sample(range(KEYSPACE), 50))
            value = f"t{tid}i{i}"
            for attempt in range(MAX_ATTEMPTS):
                # fresh ts per attempt; the fold resolves by ts (T4
                # out-of-order handling), so commit order never matters
                ts = next_ts()
                batch = spark.createDataFrame(
                    [(k, value, ts, "U") for k in keys],
                    "id long, v string, ts long, op string",
                )
                try:
                    m.merge_batch(batch, target)
                except CommitConflict:
                    time.sleep(rng.uniform(0.01, 0.1))
                    continue
                with applied_lock:
                    applied.append((ts, keys, value))
                bump("merges_ok")
                track_retries(attempt)
                break
            else:
                with stats_lock:
                    stats["errors"].append(f"t{tid} merge {i} starved")
                return
            # --- interleave maintenance ops between merges
            if i in (3, 7):
                # the merge-on-read fold point, under live traffic:
                # partial progress drops conflicted buckets instead of
                # restaging the world (never starves, never loses data)
                for attempt in range(MAX_ATTEMPTS):
                    try:
                        rec = m.rewrite_data_files(
                            spark, min_files=2, partial_progress=True
                        )
                        bump("compactions_ok")
                        bump(
                            "buckets_dropped_total",
                            rec.get("buckets_dropped", 0),
                        )
                        track_retries(attempt)
                        break
                    except CommitConflict:
                        time.sleep(rng.uniform(0.01, 0.1))
                else:
                    with stats_lock:
                        stats["errors"].append(f"t{tid} compact starved")
            if i == 5 and tid < 4:
                # purges are SERIALIZED by the r12 purge lock (each run
                # rewrites retained history in place) — keep each one
                # small (5 keys -> few touched buckets) and give the
                # wait loop the lock-holder's timescale
                pk = [PURGE_BASE + tid * 25 + j for j in range(5)]
                for attempt in range(MAX_ATTEMPTS):
                    try:
                        m.purge_keys(
                            spark,
                            spark.createDataFrame(
                                [(k,) for k in pk], "id long"
                            ),
                        )
                        with applied_lock:
                            purged.update(pk)
                        bump("purges_ok")
                        # lock waits are expected (purges serialize on
                        # the r12 purge lock, one holder at a time) —
                        # tracked separately from CAS retry health
                        bump("purge_lock_waits", attempt)
                        break
                    except CommitConflict:
                        # purge runs are serialized by the purge lock
                        # (r12): a conflict usually means another purge
                        # holds it — back off on its timescale
                        time.sleep(rng.uniform(2.0, 5.0))
                else:
                    with stats_lock:
                        stats["errors"].append(f"t{tid} purge starved")
            if i == 8 and tid < 4:
                # branch → commit → fast_forward: true-FF only, so a
                # main that advanced under us is an EXPECTED divergence
                # (counted, re-branched); reserved keys isolate effects
                bname = f"wap-{tid}"
                for attempt in range(12):
                    bk = BRANCH_BASE + tid * 1000 + attempt
                    bts = next_ts()
                    try:
                        m.branch(bname)
                        m.merge_batch(
                            spark.createDataFrame(
                                [(bk, f"branch-t{tid}", bts, "I")],
                                "id long, v string, ts long, op string",
                            ),
                            target,
                            branch=bname,
                        )
                        m.fast_forward(bname)
                        m.delete_branch(bname)
                        with applied_lock:
                            branch_rows.append((bk, f"branch-t{tid}", bts))
                        bump("ff_ok")
                        break
                    except (CommitConflict, ValueError):
                        bump("ff_diverged")
                        try:
                            m.delete_branch(bname)
                        except Exception:
                            pass
                        time.sleep(rng.uniform(0.01, 0.1))
                # a starved FF is fine — divergence is caller-visible by
                # design; the probe only requires no corruption

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(N_THREADS)
    ]
    t0 = time.time()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = round(time.time() - t0, 1)

    final = VersionedBucketMirror(
        root,
        n_buckets=N_BUCKETS,
        key_col="id",
        keep_versions=20,
        merge_on_read=True,
    )
    # --- invariant 1: linear, unique history
    entries = final._log.committed()
    versions = [e["version"] for e in entries]
    linear = versions == sorted(versions) and len(set(versions)) == len(
        versions
    )
    # --- invariant 2: no lost update — fold the SUCCESSFUL merges
    expect: dict[int, tuple[int, str]] = {
        k: (0, "init") for k in range(KEYSPACE)
    }
    for ts, keys, value in sorted(applied):
        for k in keys:
            if ts > expect[k][0]:
                expect[k] = (ts, value)
    for k in range(PURGE_BASE, PURGE_BASE + 200):
        if k not in purged:
            expect[k] = (0, "purgeme")
    for bk, bv, bts in branch_rows:
        expect[bk] = (bts, bv)
    got = {
        r["id"]: (r["ts"], r["v"])
        for r in final.read(spark).select("id", "ts", "v").collect()
    }
    lost = {
        k: (expect[k], got.get(k))
        for k in expect
        if got.get(k) != expect[k]
    }
    phantom = {k: got[k] for k in got if k not in expect}
    out = {
        "threads": N_THREADS,
        "commits": len(entries),
        "wall_s": wall,
        "commits_per_s": round(len(entries) / wall, 2),
        **{k: v for k, v in stats.items() if k != "errors"},
        "errors": stats["errors"],
        "history_linear": linear,
        "lost_updates": len(lost),
        "phantom_keys": len(phantom),
        "keys_checked": len(expect),
    }
    out["pass"] = bool(
        linear
        and not lost
        and not phantom
        and not stats["errors"]
        and stats["max_retries"] <= 25
        and stats["merges_ok"] == N_THREADS * MERGES_PER_THREAD
    )
    if lost:
        out["lost_sample"] = {
            str(k): v for k, v in list(lost.items())[:5]
        }
    print(json.dumps(out))
    shutil.rmtree(tempfile_dir, ignore_errors=True)
    spark.stop()
    sys.exit(0 if out["pass"] else 1)


if __name__ == "__main__":
    main()
