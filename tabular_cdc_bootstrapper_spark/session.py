"""SparkSession factory with scale-aware defaults.

Local test surface is local[N] single-JVM; the config block is written for a
real multi-executor cluster (AQE, skew-join handling, dynamic partition
overwrite) and degrades gracefully to local mode.
"""

from __future__ import annotations

import os
import re
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# In-process replacements for the local FileSystem/AbstractFileSystem
# (sources and rebuild: jvm/src, `make jvm`). Without native libhadoop, stock
# Hadoop forks `chmod` for every file and dir it creates and `readlink` for
# every FileContext rename; these do the same work through java.nio.file.
FORK_FREE_JAR = str(Path(__file__).with_name("jvm") / "forkfree-localfs.jar")
FORK_FREE_FS = {
    "spark.hadoop.fs.file.impl": "tabularcdc.fs.ForkFreeLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "tabularcdc.fs.ForkFreeLocalFs",
}


# PYSPARK_SUBMIT_ARGS follows get_spark's --conf pairs on the spark-submit
# line, so any of these there can replace the driver classpath (or master)
# the shim needs; such a launch keeps stock Hadoop
_SUBMIT_ARGS_OVERRIDES = (
    "--driver-class-path",
    "spark.driver.extraClassPath",
    "--properties-file",
    "--master",
    "spark.master",
)


def _defaults_driver_classpath() -> str | None:
    """``spark.driver.extraClassPath`` from the spark-defaults.conf that
    spark-submit reads ($SPARK_CONF_DIR, else $SPARK_HOME/conf). A --conf
    value replaces it, so the shim's value must carry it along."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        lines = Path(conf_dir, "spark-defaults.conf").read_text().splitlines()
    except OSError:
        return None
    cp = None
    for line in lines:  # java.util.Properties: `key value`, `key=value`, `key: value`
        m = re.match(r"\s*spark\.driver\.extraClassPath\s*[=:\s]\s*(.*)", line)
        if m:
            cp = m.group(1).strip()
    return cp


def _with_fork_free_fs(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` plus the fork-free FS keys and their jar on the driver
    classpath, appended to the caller's value or else spark-defaults.conf's.
    Only for a JVM this call launches with a local master: an existing JVM
    cannot gain the jar, and a cluster's executors never see the driver
    classpath."""
    cp = conf.get("spark.driver.extraClassPath", _defaults_driver_classpath())
    out = {**FORK_FREE_FS, **conf}
    out["spark.driver.extraClassPath"] = os.pathsep.join(filter(None, [cp, FORK_FREE_JAR]))
    return out


def get_spark(
    app_name: str = "tabular_cdc_bootstrapper_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults chosen for the 100 TB design point:

    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
      and runtime join-strategy demotion — the big-cluster safety net.
    - ``partitionOverwriteMode=dynamic``: the CDC mirror overwrite only
      rewrites partitions that received changes (operators/cdc.py).
    - Arrow enabled: pandas-UDF paths (multimodal, similarity fallback) move
      batches, not rows.
    - shuffle partitions sized to local cores for tests; a cluster deployment
      overrides via ``spark.sql.shuffle.partitions`` (AQE coalesces down, so
      erring high is safe at scale).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        # ns-precision parquet (events fixture) read as raw ns-since-epoch;
        # set once at build so scans don't mutate shared session conf
        # (queries._t still sets it defensively for driver-owned sessions)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r15: manifest reads pass explicit dir lists (often > 32 for
        # transform-partitioned mirrors); below this threshold the driver
        # lists serially (~µs/dir on a filesystem) instead of launching a
        # distributed listing JOB per read (~0.2-0.5 s of scheduling).
        # Scale knob, not a constant: on object stores, where each LIST
        # is a ~30 ms round trip, deployments set SPARK_GRAFT_LIST_PAR
        # back to Spark's default 32 so big dir sets keep listing in
        # parallel (OPTIMIZATION_r15.md)
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LIST_PAR", "1024"),
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # NOTE: driver.memory (like master) only takes effect when this call
        # actually CREATES the JVM; on a reused/active session getOrCreate
        # silently keeps the existing driver size — intentional, configs
        # that require a fresh JVM can't be retrofitted
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    conf = dict(extra_conf or {})
    if not SparkSession.getActiveSession():
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
        builder = builder.master(master)
        master = conf.get("spark.master", master)
        launches_jvm = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
        submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
        if (
            launches_jvm
            and (master == "local" or master.startswith("local["))
            and not any(a in submit_args for a in _SUBMIT_ARGS_OVERRIDES)
        ):
            conf = _with_fork_free_fs(conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
