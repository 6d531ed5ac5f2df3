#!/usr/bin/env python
"""Metadata-plane probe of snapshot-log checkpointing (r11): per-commit
JSON files make every log read O(all history) file opens; the Delta-
style checkpoint bounds it at O(commits since checkpoint).

250 one-row commits on a ParquetStateTable with checkpointing disabled
vs interval=50, measuring (a) total commit wall time (each publish runs
an orphan-GC scan over entries()), (b) a cold entries() read at the
end, (c) the number of log files left on disk. Pass criterion: with
checkpointing, end-state log files stay bounded (~interval) and the
entries() read does not grow with history, while reads remain
bit-identical (asserted)."""
from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    import os
    import tempfile

    from tabular_cdc_bootstrapper_spark.session import get_spark
    from tabular_cdc_bootstrapper_spark.shipping import ensure_self_on_workers
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    spark = get_spark("probe-logckpt", shuffle_partitions=4)
    ensure_self_on_workers(spark)
    df = spark.createDataFrame([(1, "x")], "id long, name string")
    df.collect()  # warm
    out = {}
    histories = {}
    for label, interval in (("no_checkpoint", 0), ("interval_50", 50)):
        t = ParquetStateTable(
            tempfile.mkdtemp(prefix=f"probe_ckpt_{label}_"),
            keep_versions=300,
        )
        t._log.checkpoint_interval = interval
        t0 = time.time()
        for _ in range(250):
            t.commit(df)
        commit_wall = time.time() - t0
        t0 = time.time()
        for _ in range(20):
            n = len(t._log.entries())
        read_s = (time.time() - t0) / 20
        files = len(os.listdir(t._log.log_dir))
        histories[label] = [
            (e["version"], e["readable"]) for e in t.history()
        ]
        out[label] = {
            "commits": 250,
            "commit_wall_s": round(commit_wall, 2),
            "entries_read_ms": round(read_s * 1000, 2),
            "log_files": files,
            "entries_seen": n,
        }
        print(json.dumps({label: out[label]}), flush=True)
    assert histories["no_checkpoint"] == histories["interval_50"]
    out["reads_identical"] = True
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
