#!/usr/bin/env python
"""Write-amplification probe for the merge-on-read DELETE TIER (r12,
VERDICT task 6 — the Iceberg v2 equality-delete split).

A wide mirror (96 string payload columns, ~1.6 KB/row) takes a
pure-delete CDC batch (the GDPR right-to-be-forgotten stream shape).
Before r12 the delta dir held FULL-WIDTH tombstone rows (every payload
column NULL-encoded but the row still carries the schema's width in
dictionary/offset overhead); r12 stages delete rows as a keys-only
slice — key + ts + op, nothing else.

Measured: bytes appended per delete commit (keys-only tier) vs the same
batch written full-width (the pre-r12 shape, reproduced by writing the
unsplit slice directly), plus fold parity — the mirror state after the
keys-only deletes is identical to copy-on-write.

Pass criteria: keys-only delta ≥3× smaller than the full-width
tombstone delta on the wide schema; state parity exact.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _tree_bytes(d: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


def main() -> None:
    from pyspark.sql import SparkSession

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        # the copy-on-write parity leg rewrites the full 96-col wide
        # table in one commit — the default 1g local heap OOMs on it
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="probe-del-tier-")
    n_cols, n_rows, n_del = 96, 60_000, 20_000
    wide = ", ".join(f"c{i} string" for i in range(n_cols))
    schema = f"id long, {wide}, ts long, op string"
    target = CdcTarget(
        source_uri="file:///x", key_column="id", ts_column="ts"
    )
    base = spark.range(n_rows).selectExpr(
        "id",
        *[
            f"repeat(concat('v', cast(id as string), '-'), 8) AS c{i}"
            for i in range(n_cols)
        ],
        "0L AS ts",
        "'I' AS op",
    )
    dels = spark.range(n_del).selectExpr(
        "id",
        *[f"CAST(NULL AS string) AS c{i}" for i in range(n_cols)],
        "1L AS ts",
        "'D' AS op",
    )
    out: dict = {"n_rows": n_rows, "n_deletes": n_del, "payload_cols": n_cols}

    # --- r12 keys-only tier (the shipped merge_batch path) ---
    m = VersionedBucketMirror(
        os.path.join(work, "mor"), n_buckets=16, key_col="id",
        keep_versions=10, merge_on_read=True,
    )
    m.initialize(base)
    t0 = time.time()
    rec = m.merge_batch(dels, target)
    out["keys_only_commit_s"] = round(time.time() - t0, 3)
    del_dirs = [
        s["dir"]
        for ss in m.current()["deltas"].values()
        for s in ss
        if s["version"] == rec["version"]
    ]
    out["keys_only_bytes"] = sum(_tree_bytes(d) for d in del_dirs)
    out["keys_only_cols"] = sorted(
        spark.read.parquet(del_dirs[0]).columns
    )

    # --- the pre-r12 shape: the same slice written FULL-WIDTH ---
    full_dir = os.path.join(work, "fullwidth")
    from pyspark.sql import functions as F

    dels.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("id")), F.lit(16))
    ).repartition("bucket").write.partitionBy("bucket").parquet(full_dir)
    out["full_width_bytes"] = _tree_bytes(full_dir)
    out["bytes_ratio"] = round(
        out["full_width_bytes"] / max(out["keys_only_bytes"], 1), 2
    )
    out["keys_only_bytes_per_delete"] = round(
        out["keys_only_bytes"] / n_del, 2
    )
    out["full_width_bytes_per_delete"] = round(
        out["full_width_bytes"] / n_del, 2
    )

    # --- fold parity vs copy-on-write ---
    cow = VersionedBucketMirror(
        os.path.join(work, "cow"), n_buckets=16, key_col="id",
        keep_versions=10,
    )
    cow.initialize(base)
    cow.merge_batch(dels, target)
    a = m.read(spark).selectExpr("id", "c0").orderBy("id").collect()
    b = cow.read(spark).selectExpr("id", "c0").orderBy("id").collect()
    out["fold_parity"] = a == b and len(a) == n_rows - n_del
    out["pass"] = bool(
        out["fold_parity"]
        and out["bytes_ratio"] >= 3.0
        and out["keys_only_cols"] == ["id", "op", "ts"]
    )

    # --- r15 (VERDICT r14 #2): the same shape under a months() TRANSFORM
    # spec — the keys-only slice now carries the transform source column
    # (one date col) so tombstones route to their partition; write amp
    # must stay ∝ keys, not ∝ payload, on temporal-partitioned mirrors
    base_d = base.withColumn(
        "d",
        F.to_date(
            F.concat(
                F.lit("1995-"),
                F.lpad((F.pmod(F.col("id"), F.lit(6)) + 1).cast("string"), 2, "0"),
                F.lit("-15"),
            )
        ),
    )
    dels_d = dels.withColumn(
        "d",
        F.to_date(
            F.concat(
                F.lit("1995-"),
                F.lpad((F.pmod(F.col("id"), F.lit(6)) + 1).cast("string"), 2, "0"),
                F.lit("-15"),
            )
        ),
    )
    mt = VersionedBucketMirror(
        os.path.join(work, "mor_months"), key_col="id",
        keep_versions=10, merge_on_read=True,
        partition_spec=("months", "d"),
    )
    mt.initialize(base_d)
    t0 = time.time()
    rec_t = mt.merge_batch(dels_d, target)
    out["transform_keys_only_commit_s"] = round(time.time() - t0, 3)
    del_dirs_t = [
        s["dir"]
        for ss in mt.current()["deltas"].values()
        for s in ss
        if s["version"] == rec_t["version"]
    ]
    out["transform_keys_only_bytes"] = sum(_tree_bytes(d) for d in del_dirs_t)
    out["transform_keys_only_cols"] = sorted(
        spark.read.parquet(del_dirs_t[0]).columns
    )
    full_dir_t = os.path.join(work, "fullwidth_months")
    dels_d.withColumn(
        "bucket",
        (F.year("d") - F.lit(1970)) * F.lit(12) + F.month("d") - F.lit(1),
    ).repartition("bucket").write.partitionBy("bucket").parquet(full_dir_t)
    out["transform_full_width_bytes"] = _tree_bytes(full_dir_t)
    out["transform_bytes_ratio"] = round(
        out["transform_full_width_bytes"]
        / max(out["transform_keys_only_bytes"], 1),
        2,
    )
    out["transform_keys_only_bytes_per_delete"] = round(
        out["transform_keys_only_bytes"] / n_del, 2
    )
    survivors_t = sorted(
        r["id"] for r in mt.read(spark).select("id").collect()
    )
    out["transform_fold_parity"] = survivors_t == sorted(
        r["id"] for r in cow.read(spark).select("id").collect()
    )
    # transform criteria: parity + envelope shape + tombstones stay a
    # few bytes each (the ratio vs full-width is lower than the hash
    # leg's only because 6 month partitions compress the full-width
    # comparison better than 16 hash buckets do — bytes/delete is the
    # scale-invariant number)
    out["pass"] = bool(
        out["pass"]
        and out["transform_fold_parity"]
        and out["transform_bytes_ratio"] >= 2.0
        and out["transform_keys_only_bytes_per_delete"] <= 10.0
        and out["transform_keys_only_cols"] == ["d", "id", "op", "ts"]
    )
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
