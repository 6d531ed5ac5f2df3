"""Streaming CDC pipeline: the reference's delegated data plane, natively.

The reference configures a SaaS to (a) detect new S3 files — by polling a
24 h-refresh inventory table (reference README.md:37-40) — (b) append them
to the changelog table, and (c) CDC-merge into the mirror (reference
tabular.py:58-62). Here:

- (a)+(b): Structured Streaming file source — checkpointed incremental
  listing gives exactly-once per-file ingest (SURVEY.md §2.9 T1-T2) at
  trigger-interval freshness instead of ≤24 h (README.md:38).
- (c): ``foreachBatch`` merge — each micro-batch reduces to latest-per-key
  (map-side partial agg, one shuffle) and upserts into the mirror.

The runner lives in ``runner.py``; this module is the entry point's one
stable import path for it (``__main__`` resolves the name here at call
time). Every other streaming name is imported from its defining module:

- ``_protocol.py``     errors, locks, SnapshotLog, tags/branches, schema evo
- ``state_table.py``   ParquetStateTable + cdc_merge_batch
- ``bucket_mirror.py`` VersionedBucketMirror core (manifests, commits, reads)
- ``bucket_ops.py``    VersionedBucketMirror DML/maintenance mixin
- ``feeds.py``         change feeds + maintained views
- ``runner.py``        start_changelog_ingest + run_cdc_pipeline_available_now
"""

from tabular_cdc_bootstrapper_spark.streaming.runner import (
    run_cdc_pipeline_available_now,
)

__all__ = ["run_cdc_pipeline_available_now"]
