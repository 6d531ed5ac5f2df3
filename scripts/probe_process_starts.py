#!/usr/bin/env python
"""Count the OS processes the Spark driver JVM starts per CDC pipeline call.

Runs ``--calls`` copy-on-write pipeline calls (``bucketed_versioned``
mirror, ``--buckets`` buckets, ``--rows`` initial rows, ``--changes``
Zipf-keyed changes per call) in a fresh ``get_spark`` session recorded by
JDK Flight Recorder, then prints one JSON object: ``jdk.ProcessStart``
events by command and by the first engine-side frame that started them,
for the session start-up and for the pipeline calls.

    python scripts/probe_process_starts.py --calls 14

Without native libhadoop, stock Hadoop forks ``chmod`` per created file and
dir and ``readlink`` per FileContext rename; the fork-free local file
system ``session.get_spark`` installs removes both (SCALING.md, "Local file
I/O without process forks").
"""
from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# frames that only carry the fork itself; the first frame below them names
# the caller
_PLUMBING = ("java.lang.", "org.apache.hadoop.util.Shell", "org.apache.hadoop.fs.FileUtil.")


def _call_site(frames: list[dict]) -> str:
    """``<forking method> <- <first caller outside Hadoop's fs package>``."""
    names = [f"{f['method']['type']['name']}.{f['method']['name']}".replace("/", ".") for f in frames]
    forker = next((n for n in names if not n.startswith(_PLUMBING)), "?")
    caller = next((n for n in names if not n.startswith((*_PLUMBING, "org.apache.hadoop.fs."))), "?")
    return f"{forker} <- {caller}"


def _starts(jfr_file: str, split_at: float) -> dict:
    raw = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "24", "--events", "jdk.ProcessStart", jfr_file],
        check=True, capture_output=True, text=True,
    ).stdout
    out = {p: {"total": 0, "command": collections.Counter(), "site": collections.Counter()}
           for p in ("startup", "calls")}
    for ev in json.loads(raw)["recording"]["events"]:
        v = ev["values"]
        phase = "calls" if _epoch_s(v["startTime"]) >= split_at else "startup"
        out[phase]["total"] += 1
        out[phase]["command"][os.path.basename(v["command"].split()[0])] += 1
        out[phase]["site"][_call_site(v["stackTrace"]["frames"] if v["stackTrace"] else [])] += 1
    return {p: {"total": d["total"], "command": dict(d["command"].most_common()),
                "site": dict(d["site"].most_common(8))} for p, d in out.items()}


def _epoch_s(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--calls", type=int, default=14)
    ap.add_argument("--rows", type=int, default=12_000)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--changes", type=int, default=1_500)
    ap.add_argument("--seed", type=int, default=41)
    args = ap.parse_args()

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    work = Path(tempfile.mkdtemp(prefix="probe-forks-"))
    jfr_file = str(work / "session.jfr")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -XX:StartFlightRecording=filename={jfr_file},"
        "settings=default,dumponexit=true pyspark-shell"
    )
    from pyspark.sql import types as T

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.session import get_spark
    from tabular_cdc_bootstrapper_spark.streaming.pipeline import run_cdc_pipeline_available_now

    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("val", T.LongType()),
        T.StructField("op", T.StringType()), T.StructField("ts", T.LongType()),
    ])
    src = work / "src"
    src.mkdir()
    rng = np.random.default_rng(args.seed)

    def land(name: str, ids, ops, ts0: int) -> None:
        n = len(ids)
        pq.write_table(pa.table({
            "id": pa.array(ids, pa.int64()), "val": pa.array(rng.integers(0, 1 << 30, n), pa.int64()),
            "op": pa.array(ops), "ts": pa.array(np.arange(ts0, ts0 + n), pa.int64()),
        }), str(src / name))

    land("LOAD00000001.parquet", np.arange(args.rows), ["I"] * args.rows, 0)
    spark = get_spark("probe-process-starts")
    target = CdcTarget(source_uri=f"file://{src}", key_column="id", ts_column="ts")
    split_at = time.time()
    walls = []
    for call in range(args.calls):
        if call:  # call 0 is the initial load
            ids = np.minimum(rng.zipf(1.3, args.changes) - 1, args.rows - 1)
            ops = rng.choice(["U", "D", "I"], args.changes, p=[0.8, 0.1, 0.1]).tolist()
            land(f"2024-01-01T00-{call // 60:02d}-{call % 60:02d}.parquet", ids, ops,
                 args.rows + call * args.changes)
        t0 = time.perf_counter()
        run_cdc_pipeline_available_now(
            spark, str(src), schema, str(work / "wk"), target,
            mirror_layout="bucketed_versioned", n_buckets=args.buckets,
        )
        walls.append(round(time.perf_counter() - t0, 3))
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF and writes the recording
    gateway.proc.wait(timeout=120)
    starts = _starts(jfr_file, split_at)
    shutil.rmtree(work)
    print(json.dumps({"calls": args.calls, "call_wall_s": walls, **starts}))


if __name__ == "__main__":
    main()
