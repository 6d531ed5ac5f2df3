#!/usr/bin/env python
"""Bucket-count sweep of the bucketed mirror: what a CDC merge, a full
scan and a 5-key lookup cost at each bucket count, by table size and
batch size, on copy-on-write and merge-on-read.

Grid: mirror rows (``--rows``, default 12k / 120k / 1.2M) × batch size
(``--batch-pct``, default 0.1 / 1 / 10 % of the mirror) × bucket count
(``--buckets``, default 1-64 in powers of two) × layout (``--modes``,
``cow``/``mor``). Rows are orders-shaped (the benchmark's ``cow_merge``
row: key, customer, status, price, date, priority plus the DMS
envelope); a batch updates uniformly drawn live keys. For every cell it
reports the median over ``--merges`` merges of the merge wall time and
the bytes the merge wrote, then the median of ``--reads`` full scans
(count + sum) and 5-key ``read_pruned`` lookups. Merge-on-read mirrors
are compacted (``rewrite_data_files``, untimed) before each batch size,
so every batch size starts from folded buckets.

It also prints the count ``_sizing.bucket_count`` picks for each table
from its load file's bytes, which is how the pipeline sizes a new mirror.
This is a measurement tool, not a gated benchmark: nothing here is
compared against a bound. The table it prints fixes
``_sizing.BUCKET_BYTES`` (SCALING.md, "Bucket count follows bytes").

    python scripts/bucket_sweep.py --rows 12000 120000 --out sweep.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _orders(rng: np.random.Generator, ids: np.ndarray, seq0: int, op: str) -> pa.Table:
    n = len(ids)
    days = rng.integers(0, 2400, n)
    seqs = np.arange(seq0, seq0 + n)
    return pa.table({
        "id": ids.astype(np.int64),
        "o_custkey": rng.integers(1, 15_000, n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n), 2),
        "o_orderdate": np.datetime64("1995-01-01", "us") + days.astype("timedelta64[D]"),
        "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
        "op": np.full(n, op),
        "transact_seq": np.array([str(s).zfill(20) for s in seqs]),
    })


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def sweep_table(spark, work: str, rows: int, args, report: bool = True) -> list[dict]:
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming._sizing import bucket_count
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    target = CdcTarget(source_uri=work, key_column="id", ts_column="transact_seq")
    rng = np.random.default_rng([args.seed, rows])
    load = os.path.join(work, f"load-{rows}.parquet")
    pq.write_table(_orders(rng, np.arange(1, rows + 1), 0, "I"), load)
    load_bytes = os.path.getsize(load)
    batches = {}
    seq = rows
    for pct in args.batch_pct:
        n = max(1, int(rows * pct / 100))
        for i in range(args.merges):
            path = os.path.join(work, f"batch-{rows}-{pct}-{i}.parquet")
            ids = rng.integers(1, rows + 1, n)
            pq.write_table(_orders(rng, ids, seq, "U"), path)
            seq += n
            batches.setdefault(pct, []).append(path)
    if report:
        print(
            f"# rows={rows} load={load_bytes / 2**20:.2f} MiB "
            f"sized count={bucket_count(load_bytes)}",
            flush=True,
        )
    out = []
    for mode in args.modes:
        for nb in args.buckets:
            root = os.path.join(work, f"m-{rows}-{mode}-{nb}")
            m = VersionedBucketMirror(
                root, n_buckets=nb, key_col="id", keep_versions=2,
                merge_on_read=mode == "mor",
            )
            init_s = _timed(lambda: m.initialize(spark.read.parquet(load)))
            for pct in args.batch_pct:
                if mode == "mor":
                    m.rewrite_data_files(spark)
                merge_s, wrote = [], []
                for path in batches[pct]:
                    before = _tree_files(root)
                    merge_s.append(_timed(lambda: m.merge_batch(spark.read.parquet(path), target)))
                    after = _tree_files(root)
                    wrote.append(sum(v for p, v in after.items() if p not in before))
                scan_s = [
                    _timed(lambda: m.read(spark).agg(F.count(F.lit(1)), F.sum("o_totalprice")).collect())
                    for _ in range(args.reads)
                ]
                keys = [int(k) for k in rng.integers(1, rows + 1, 5)]
                lookup_s = [
                    _timed(lambda: m.read_pruned(spark, "id", keys).collect())
                    for _ in range(args.reads)
                ]
                cell = {
                    "rows": rows, "mode": mode, "buckets": nb, "batch_pct": pct,
                    "load_mib": round(load_bytes / 2**20, 2),
                    "init_s": round(init_s, 3),
                    "merge_s": round(statistics.median(merge_s), 3),
                    "merge_bytes": int(statistics.median(wrote)),
                    "scan_s": round(statistics.median(scan_s), 3),
                    "lookup_s": round(statistics.median(lookup_s), 3),
                }
                out.append(cell)
                if report:
                    print(json.dumps(cell), flush=True)
            shutil.rmtree(root, ignore_errors=True)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, nargs="+", default=[12_000, 120_000, 1_200_000])
    ap.add_argument("--batch-pct", type=float, nargs="+", default=[0.1, 1.0, 10.0])
    ap.add_argument("--buckets", type=int, nargs="+", default=[1, 2, 4, 8, 16, 32, 64])
    ap.add_argument("--modes", nargs="+", default=["cow", "mor"], choices=["cow", "mor"])
    ap.add_argument("--merges", type=int, default=3, help="merges per cell")
    ap.add_argument("--reads", type=int, default=3, help="scans and lookups per cell")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--out", help="write every cell as a JSON list here")
    args = ap.parse_args(argv)

    from tabular_cdc_bootstrapper_spark.session import get_spark

    spark = get_spark(
        "bucket-sweep",
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="bucket_sweep_")
    cells = []
    try:
        # warm the JIT and the Python workers on a throwaway table, so the
        # first measured cell is not the coldest
        warm = argparse.Namespace(**{**vars(args), "modes": ["cow", "mor"], "buckets": [4],
                                     "batch_pct": [1.0], "merges": 1, "reads": 1})
        sweep_table(spark, work, 2_000, warm, report=False)
        for rows in args.rows:
            cells += sweep_table(spark, work, rows, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(cells, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
