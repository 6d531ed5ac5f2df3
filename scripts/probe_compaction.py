#!/usr/bin/env python
"""Read-amplification probe for VersionedBucketMirror.rewrite_data_files
(VERDICT r10 task 4): build a deliberately fragmented mirror at 1x and
10x row counts (~64 files per bucket via maxRecordsPerFile), time a
full-mirror aggregate read BEFORE and AFTER compaction, and report file
counts + read times. The claim under test: fragmentation inflates read
cost via per-file open/footer overhead, and compaction recovers it with
ONE manifest commit while history stays readable.

Median-of-3 per read; serialized (no concurrent Spark work), same
discipline as BASELINE.md rows.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.session import get_spark
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    spark = get_spark("probe-compaction", shuffle_partitions=32)

    def med_read(m) -> float:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            m.read(spark).agg(F.sum("v"), F.count("*")).collect()
            runs.append(time.perf_counter() - t0)
        return round(statistics.median(runs), 3)

    n_buckets = 16
    for scale, n in (("1x", 200_000), ("10x", 2_000_000)):
        root = tempfile.mkdtemp(prefix=f"probe_compact_{scale}_")
        m = VersionedBucketMirror(
            root, n_buckets=n_buckets, key_col="k", keep_versions=4
        )
        df = spark.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") * 3).alias("v"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )
        # ~64 files per bucket
        m.initialize(df, max_records_per_file=max(1, n // n_buckets // 64))

        def nfiles(mm) -> int:
            return sum(
                sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
                for d in mm.current()["buckets"].values()
            )

        before_files = nfiles(m)
        before_read = med_read(m)
        t0 = time.perf_counter()
        rec = m.rewrite_data_files(spark)
        compact_s = round(time.perf_counter() - t0, 3)
        after_files = nfiles(m)
        after_read = med_read(m)
        print(
            json.dumps(
                {
                    "scale": scale,
                    "rows": n,
                    "files_before": before_files,
                    "files_after": after_files,
                    "read_before_s": before_read,
                    "read_after_s": after_read,
                    "recovery_ratio": round(before_read / after_read, 2),
                    "compact_s": compact_s,
                    "buckets_compacted": rec["buckets_compacted"],
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
