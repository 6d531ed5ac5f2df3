"""tabular_cdc_bootstrapper_spark — a PySpark-native analytics engine.

A ground-up, Spark-first rebuild of the capabilities of
tabular-io/tabular-cdc-bootstrapper (reference at /root/reference, read-only).
The reference is a CDC pipeline *bootstrapper*: it creates Iceberg
changelog/mirror table pairs and sets table properties that delegate the
actual data plane (new-file detection, parquet file loading, DMS-format CDC
merge) to a managed SaaS (reference README.md:6-10, tabular.py:58-62).

This engine implements BOTH layers natively on Spark:

- control plane  : catalog.py   (idempotent bootstrap, table properties,
                                 dependency DAG — reference tabular.py:77-143)
- CDC data plane : operators/cdc.py + streaming/runner.py
                   (Structured Streaming file source replaces S3 inventory
                   polling; max_by/window dedup merge replaces managed CDC)
                   into a ParquetStateTable or VersionedBucketMirror
- analytics      : queries.py registry (joins/aggs/windows/set-ops over
                   the star schema — DuckDB-oracle checked)
- LLM-pipeline   : functions/{text,dedup,similarity,multimodal}.py
                   (dedup, ANN search, text analysis, binary columns)

Design point: 100 TB on a 1000-executor cluster. Every operator is expressed
declaratively (DataFrame/SQL) so Catalyst handles pushdown/pruning/join
strategy; Python UDFs appear only where semantics require them and always as
Arrow-batched pandas UDFs.
"""

__version__ = "0.1.0"

from tabular_cdc_bootstrapper_spark.session import get_spark  # noqa: F401
