"""The end-to-end CDC pipeline runner: changelog ingest plus a one-shot
AvailableNow merge run into the mirror. ``streaming/pipeline.py`` is the
entry point's import path for ``run_cdc_pipeline_available_now``.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.sources.files import exclude_glob_filter
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)
from tabular_cdc_bootstrapper_spark.streaming.state_table import (
    ParquetStateTable,
    cdc_merge_batch,
)

#: ``mirror_layout`` values served by ``VersionedBucketMirror`` → their
#: constructor options. ``"bucketed"`` is an alias of the copy-on-write
#: layout.
_VERSIONED_LAYOUTS = {
    "bucketed": {},
    "bucketed_versioned": {},
    "bucketed_versioned_mor": {"merge_on_read": True},
}


def start_changelog_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    changelog_dir: str,
    checkpoint_dir: str,
    exclude_glob: str | None = None,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """File-arrival detection → append-only changelog (SURVEY.md S1-S4).

    The checkpointed file-source offset log IS the "detect new s3 files"
    feature (reference README.md:7) — each file ingested exactly once,
    freshness = trigger interval. ``AvailableNow`` drains the backlog then
    stops (batch-ish runs); omit for continuous tailing.
    """
    reader = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(source_dir)
    if exclude_glob:
        stream = stream.filter(exclude_glob_filter(exclude_glob))
    stream = stream.withColumn("_src_file", F.input_file_name())
    writer = (
        stream.writeStream.format("parquet")
        .option("path", changelog_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_cdc_pipeline_available_now(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    work_dir: str,
    target: CdcTarget,
    mirror_layout: str = "snapshot",
    n_buckets: int | None = None,
    partition_spec: "Sequence | None" = None,
) -> dict:
    """End-to-end one-shot CDC run over whatever files currently exist.

    1. initial load → mirror state (files NOT matching the incremental
       pattern; reference batch_bootstrapper.py:85 excludes ``**/*-*``)
    2. stream incrementals → changelog (excluding ``**/LOAD*``,
       reference batch_bootstrapper.py:69), then
    3. foreachBatch merge into the mirror.

    ``mirror_layout``: ``"snapshot"`` (ParquetStateTable — atomic pointer
    swap, full-state rewrite per batch, simple and crash-safe),
    ``"bucketed_versioned"`` (VersionedBucketMirror — merges rewrite only
    the key buckets the batch touches, under Iceberg-manifest commits:
    immutable bucket-version dirs + a snapshot manifest per batch, giving
    delta-proportional merges AND mirror-wide time travel; the 100 TB
    shape), ``"bucketed"`` (alias of ``"bucketed_versioned"``), or
    ``"bucketed_versioned_mor"`` (the same mirror in merge-on-read mode:
    merges append delta files, reads fold them, ``rewrite_data_files``
    folds them back — the write-amplification-minimal CDC shape).

    ``n_buckets`` (versioned layouts, hash spec): the mirror's bucket
    count when it is created. ``None`` (the default) creates a table
    that sizes its own count by bytes — the smallest power of two that
    keeps the initial load at or below ``_sizing.BUCKET_BYTES`` per
    bucket, up to ``MAX_BUCKETS`` (64; also the count when
    ``source_dir``'s files are not local and so are not sized), doubled
    by an automatic ``rebucket`` after a merge once its base buckets
    average twice that. An int stays fixed. An existing mirror keeps
    its own policy and count.

    ``partition_spec`` (r13, versioned layouts only): an Iceberg
    transform — ``("months", col)`` etc. — instead of the key hash; the
    operator-facing knob is ``SPARK_CDC_PARTITION_SPEC`` in
    ``__main__`` (``"months:o_orderdate"`` form).

    Returns {"mirror": <state table>, "changelog_dir": ...}. Re-running
    with the same work_dir is incremental: the checkpoint skips
    already-ingested files (T2 exactly-once).
    """
    changelog_dir = os.path.join(work_dir, "changelog")
    checkpoint = os.path.join(work_dir, "_checkpoint")
    root = os.path.join(work_dir, "mirror")
    if mirror_layout in _VERSIONED_LAYOUTS:
        mirror = VersionedBucketMirror(
            root,
            n_buckets=n_buckets,
            key_col=target.key_column,
            partition_spec=partition_spec,
            **_VERSIONED_LAYOUTS[mirror_layout],
        )
    elif mirror_layout == "snapshot":
        if partition_spec:
            raise ValueError(
                "partition_spec applies to the versioned layouts, not "
                "'snapshot' — silently ignoring a configured transform "
                "would be a misconfiguration trap"
            )
        mirror = ParquetStateTable(root)
    else:
        raise ValueError(f"unknown mirror_layout {mirror_layout!r}")
    versioned = isinstance(mirror, VersionedBucketMirror)

    if not mirror.exists():
        initial = (
            spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(source_dir)
            .filter(exclude_glob_filter(target.initial_load_exclude_glob))
            .withColumn("_src_file", F.input_file_name())
        )
        if versioned:
            mirror.initialize(initial)
        else:
            mirror.commit(initial)

    def _merge(batch_df: DataFrame, _epoch: int) -> None:
        if versioned:
            mirror.merge_batch(batch_df, target, tiebreak_cols=("_src_file",))
        else:
            cdc_merge_batch(
                batch_df.sparkSession, batch_df, mirror, target,
                tiebreak_cols=("_src_file",),
            )

    reader = (
        spark.readStream.format("parquet")
        .schema(T.StructType(list(schema.fields) + [T.StructField("_src_file", T.StringType())]))
    )
    # ingest stage writes _src_file; merge stream reads the changelog dir
    ingest = start_changelog_ingest(
        spark, source_dir, schema, changelog_dir, checkpoint + "-ingest",
        exclude_glob=target.changelog_exclude_glob,
    )
    ingest.awaitTermination()

    os.makedirs(changelog_dir, exist_ok=True)  # zero-incremental runs
    merge_stream = reader.load(changelog_dir)
    q = (
        merge_stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint + "-merge")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {"mirror": mirror, "changelog_dir": changelog_dir}

