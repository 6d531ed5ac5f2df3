#!/usr/bin/env python3
"""CDC pipeline benchmark for tabular_cdc_bootstrapper_spark.

Run from the repository root:

    python3 perfbench/run.py --workload cow_merge --seed 1 --seconds 20 --trace 0

Workloads: cli_poll, cow_merge, mor_reads, registry_mix (see
perfbench/README.md). One closed-loop client in this process drives a
``local[nproc]`` Spark session. Every write of the run (Spark local and
warehouse dirs, temp files, change files, mirrors) lands under
``.perfbench_work/`` in the repository root, which is removed at exit.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run records spans
and the Spark event log and reports the per-layer ones instead. The line
before it carries every other figure the run measured. The exit code is 0
only when every operation succeeded and matched the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

T_PROCESS = time.time()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("cli_poll", "cow_merge", "mor_reads", "registry_mix")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="multiplies every table and batch size (tests use a small value)",
    )
    return p.parse_args(argv)


def isolate(work: Path) -> dict[str, str]:
    """Point every engine and Spark write location under ``work``.
    Must run before pyspark is imported."""
    dirs = {k: work / k for k in ("tmp", "local", "warehouse", "events", "data")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        TMPDIR=str(dirs["tmp"]),
        SPARK_LOCAL_DIRS=str(dirs["local"]),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_MASTER=f"local[{cpus}]",
        SPARK_DRIVER_MEMORY="3g",
        ENGINE_WAREHOUSE_DIR=str(dirs["warehouse"]),
        SPARK_CDC_WORK_DIR=str(dirs["data"] / "cli_work"),
        PYTHONDONTWRITEBYTECODE="1",
    )
    tempfile.tempdir = str(dirs["tmp"])
    sys.dont_write_bytecode = True
    return {k: str(v) for k, v in dirs.items()}


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "tabular_cdc_bootstrapper_spark" / "__init__.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    dirs = isolate(work)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import workloads  # noqa: E402 — after isolate(): imports pyspark

    try:
        result, detail = workloads.run(args, dirs, T_PROCESS)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps(result))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
