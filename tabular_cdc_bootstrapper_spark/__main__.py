"""Runnable entry point: ``python -m tabular_cdc_bootstrapper_spark``.

The Spark-native equivalent of the reference's container entry point
(reference batch_bootstrapper.py:33-94 ``main()``; Dockerfile:19 runs it):
read env config → bootstrap each target's (changelog, mirror) table pair
with per-target error isolation → run the CDC data plane the reference
delegates to a SaaS, here as a one-shot Structured Streaming pass
(``Trigger.AvailableNow``) that is incremental across invocations via the
checkpoint — i.e. re-running this command is the reference's "detect new
s3 files" poll loop (reference README.md:7,37-40), minus the 24 h
inventory lag.

Env contract (reference README.md:48-58):
  TABULAR_BUCKET_NAME / TABULAR_BUCKET_MONITOR_PATH  → monitored prefix
  TABULAR_CDC_ID_FIELD / TABULAR_CDC_TIMESTAMP_FIELD → CDC key/ordering
Engine extensions:
  SPARK_CDC_SOURCE_DIR  local/posix dir of change files (overrides s3 URI
                        for environments without object-store credentials)
  SPARK_CDC_WORK_DIR    checkpoint + mirror state root (default /tmp/...)
  SPARK_CDC_RUN_PIPELINE=0  bootstrap only, skip the data plane
  SPARK_CDC_AUTO_DISCOVER=1 treat the monitored path as a ROOT of
                        per-table folders: each first-level folder
                        becomes its own (changelog, mirror) pair
                        (reference README.md:8 "will create tables in
                        Iceberg when new folder paths are detected");
                        re-running picks up folders created since
  SPARK_CDC_PARTITION_SPEC  Iceberg transform for versioned mirror
                        layouts: "months:o_orderdate", "days:ts",
                        "years:d", "truncate:id:1000", "identity:col"
                        (default: hash buckets on the key column)
  SPARK_CDC_MIRROR_LAYOUT   "snapshot" (default; atomic pointer swap),
                        "bucketed_versioned" (VersionedBucketMirror —
                        per-batch merges rewrite only touched key
                        buckets; the 100 TB shape; registered as a
                        partitioned table, one partition per bucket of
                        the head manifest; a new mirror sizes its
                        bucket count by bytes, 1 bucket per 4 MiB of
                        initial load up to 64 (64 for a source that
                        is not local), and doubles it after a
                        poll whose merge outgrows that, so a later poll
                        registers the new partitions), "bucketed" (alias of
                        "bucketed_versioned"), or "bucketed_versioned_mor"
                        (rejected here with exit 2: reading a
                        merge-on-read mirror folds delta files, which a
                        catalog table cannot express)
"""

from __future__ import annotations

import logging
import os
import sys

log = logging.getLogger("tabular_cdc_bootstrapper_spark")


def main() -> int:
    logging.basicConfig(
        level=logging.INFO, format="%(asctime)s %(name)s %(levelname)s %(message)s"
    )
    from tabular_cdc_bootstrapper_spark.catalog import bootstrap_all
    from tabular_cdc_bootstrapper_spark.config import EngineConfig
    from tabular_cdc_bootstrapper_spark.session import get_spark

    cfg = EngineConfig.from_env()
    auto_discover = os.environ.get("SPARK_CDC_AUTO_DISCOVER", "0") == "1"
    source_dir_env = os.environ.get("SPARK_CDC_SOURCE_DIR")
    if not cfg.targets and not (auto_discover and source_dir_env):
        log.error(
            "no targets configured: set TABULAR_BUCKET_NAME and "
            "TABULAR_BUCKET_MONITOR_PATH (reference README.md:48-58), "
            "or SPARK_CDC_AUTO_DISCOVER=1 with SPARK_CDC_SOURCE_DIR"
        )
        return 2
    mirror_layout = os.environ.get("SPARK_CDC_MIRROR_LAYOUT", "snapshot")
    if mirror_layout == "bucketed_versioned_mor":
        log.error(
            "SPARK_CDC_MIRROR_LAYOUT=bucketed_versioned_mor is not "
            "supported by the CLI: reading a merge-on-read mirror folds "
            "its delta files, which the registered catalog table cannot "
            "express; use bucketed_versioned"
        )
        return 2

    spark = get_spark("cdc-bootstrapper")
    if auto_discover:
        # reference README.md:8: every first-level folder under the
        # monitored root is its own table pair; the monitor root itself
        # is the configured URI (or the local stand-in dir)
        from dataclasses import replace

        from tabular_cdc_bootstrapper_spark.catalog import (
            bootstrap_targets,
            discover_targets,
            discovered_and_configured,
        )

        from tabular_cdc_bootstrapper_spark.config import CdcTarget

        monitor_root = source_dir_env or cfg.targets[0].source_uri
        if cfg.targets:
            template = replace(cfg.targets[0], source_uri="")
        else:
            # no configured target to copy wiring from — the env CDC
            # fields still apply to every discovered folder (reference
            # README.md:52-53 documents them as global)
            template = CdcTarget(
                source_uri="",
                key_column=os.environ.get("TABULAR_CDC_ID_FIELD", "id"),
                ts_column=os.environ.get(
                    "TABULAR_CDC_TIMESTAMP_FIELD", "transact_seq"
                ),
            )
        cfg = replace(cfg, targets=())  # the root is not itself a table
        # ONE listing decides both the bootstrap set and the pipeline
        # set (r13 review: a folder appearing between two listings
        # would reach the pipeline loop un-bootstrapped and KeyError)
        targets = discovered_and_configured(
            cfg, discover_targets(spark, monitor_root, template)
        )
        schemas: dict = {}  # each folder's own schema, inferred once by the bootstrap
        results = bootstrap_targets(spark, cfg, targets, schemas=schemas)
        cfg = replace(cfg, targets=targets)
        schema = None
    else:
        # schema discovery mirrors the reference's file-loader behavior
        # (new tables infer their schema from the first files, SURVEY.md
        # §1.3): infer from the monitored dir when we can see it, else
        # bootstrap with no schema (table created on first load)
        schema = None
        if source_dir_env:
            schema = (
                spark.read.option("recursiveFileLookup", "true")
                .option("mergeSchema", "true")  # drift-safe union (r14)
                .parquet(source_dir_env)
                .schema
            )
        results = bootstrap_all(spark, cfg, schema=schema)
    failed = {u: r for u, r in results.items() if isinstance(r, Exception)}
    for uri, r in results.items():
        if isinstance(r, Exception):
            log.error("bootstrap FAILED %s: %s", uri, r)
        else:
            log.info("bootstrapped %s -> changelog=%s mirror=%s", uri, *r)

    if os.environ.get("SPARK_CDC_RUN_PIPELINE", "1") != "1":
        return 1 if failed else 0

    work_root = os.environ.get(
        "SPARK_CDC_WORK_DIR", "/tmp/tabular_cdc_bootstrapper_spark/work"
    )
    if not source_dir_env or (schema is None and not auto_discover):
        log.info("no SPARK_CDC_SOURCE_DIR; bootstrap-only run complete")
        return 1 if failed else 0

    from tabular_cdc_bootstrapper_spark.streaming.pipeline import (
        run_cdc_pipeline_available_now,
    )

    from tabular_cdc_bootstrapper_spark.catalog import (
        point_table_to,
        point_table_to_partitioned,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    spec_env = os.environ.get("SPARK_CDC_PARTITION_SPEC", "")
    partition_spec = None
    if spec_env:
        parts = spec_env.split(":")
        partition_spec = tuple(
            int(x) if x.isdigit() else x for x in parts
        )
    for target in cfg.targets:
        if isinstance(results.get(target.source_uri), Exception):
            continue
        # auto-discovered targets read from their own folder with their
        # own inferred schema; configured ones share the monitored dir
        src = target.source_uri if auto_discover else source_dir_env
        tgt_schema = schemas[src] if auto_discover else schema
        if tgt_schema is None:  # still-empty folder: bootstrapped, no data yet
            log.info("no data yet under %s; skipping pipeline", src)
            continue
        out = run_cdc_pipeline_available_now(
            spark,
            src,
            tgt_schema,
            os.path.join(work_root, target.table_name),
            target,
            mirror_layout=mirror_layout,
            partition_spec=partition_spec,
        )
        head = out["mirror"].current() or {}
        log.info(
            "pipeline complete for %s: mirror version=%s",
            target.table_name,
            head.get("version"),
        )
        # wire the control plane to the data plane: the bootstrap registered
        # the tables, the pipeline wrote the data — point each table at the
        # actual storage so `SELECT * FROM <mirror>` sees the run's output
        changelog_fqn, mirror_fqn = results[target.source_uri]
        try:
            point_table_to(spark, changelog_fqn, out["changelog_dir"])
            m = out["mirror"]
            if isinstance(m, VersionedBucketMirror):
                # bucketed mirror: its head manifest names one version dir
                # per bucket, which an unpartitioned table registration
                # would silently see as zero files — register partitioned,
                # one partition per manifest entry
                point_table_to_partitioned(
                    spark, mirror_fqn, m.data_dir, m.current()
                )
            else:
                mirror_loc = (m.current() or {}).get("dir")
                if mirror_loc:
                    point_table_to(spark, mirror_fqn, mirror_loc)
        except Exception as exc:  # noqa: BLE001 — wiring is best-effort
            log.error("table re-point failed for %s: %s", target.table_name, exc)

    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
