#!/usr/bin/env python
"""Write-amplification probe for merge-on-read (r11, VERDICT task 2).

Same 64-bucket mirror, same 5k-row CDC batch, at 600k and 6M base rows:

- copy-on-write ``merge_batch`` rewrites every touched bucket in full —
  bytes written per commit ∝ |touched buckets| × bucket size ∝ STATE;
- merge-on-read ``merge_batch`` appends one delta dir per touched
  bucket holding only the batch slice — bytes written ∝ BATCH, flat
  across the 10× state step.

Also measures the read-side fold tax (MoR read vs CoW read) and the
``rewrite_data_files`` fold that erases it — the documented trade.
Pass criteria: MoR bytes-written per merge are >10× smaller than CoW at
6M rows and ~flat across the state step; post-fold read time returns to
the CoW read's ballpark.
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _tree_bytes(d: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> None:
    import tempfile

    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.session import get_spark
    from tabular_cdc_bootstrapper_spark.shipping import ensure_self_on_workers
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    spark = get_spark("probe-mor", shuffle_partitions=32)
    ensure_self_on_workers(spark)
    target = CdcTarget(
        source_uri="file:///tmp/x", key_column="id", ts_column="ts"
    )
    out = {}
    for n in (600_000, 6_000_000):
        base = spark.range(n).select(
            "id",
            F.concat(F.lit("name-"), F.col("id").cast("string")).alias(
                "name"
            ),
            F.lit(0).cast("long").alias("ts"),
            F.lit("I").alias("op"),
        )
        batch = spark.range(5_000).select(
            (F.col("id") * 97).alias("id"),
            F.lit("upd").alias("name"),
            F.lit(1).cast("long").alias("ts"),
            F.lit("U").alias("op"),
        )
        row = {}
        for mode in ("cow", "mor"):
            root = tempfile.mkdtemp(prefix=f"probe_mor_{mode}_{n}_")
            m = VersionedBucketMirror(
                root,
                n_buckets=64,
                key_col="id",
                keep_versions=2,
                merge_on_read=(mode == "mor"),
            )
            m.initialize(base)
            before = _tree_bytes(m.data_dir)
            t0 = time.time()
            m.merge_batch(batch, target)
            merge_s = time.time() - t0
            written = _tree_bytes(m.data_dir) - before
            t0 = time.time()
            m.read(spark).agg(F.sum("id")).collect()
            read_s = time.time() - t0
            row[mode] = {
                "merge_s": round(merge_s, 2),
                "bytes_written": written,
                "read_s": round(read_s, 2),
            }
            if mode == "mor":
                t0 = time.time()
                fold = m.rewrite_data_files(spark)
                row["fold_s"] = round(time.time() - t0, 2)
                row["folded_buckets"] = fold["buckets_compacted"]
                t0 = time.time()
                m.read(spark).agg(F.sum("id")).collect()
                row["postfold_read_s"] = round(time.time() - t0, 2)
        row["amp_ratio_cow_over_mor"] = round(
            row["cow"]["bytes_written"] / max(row["mor"]["bytes_written"], 1),
            1,
        )
        out[str(n)] = row
        print(json.dumps({n: row}), flush=True)
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
