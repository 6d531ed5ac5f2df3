"""Regression tests for the round-5 control-plane/storage review findings:
empty-mirror resurrection, schema-less bootstrap, quoted-name probes,
property refresh, glob segment boundaries, and compaction crash safety."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.sources.files import _glob_match
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)

TARGET = CdcTarget(source_uri="s3://b/t", key_column="id", ts_column="ts")


def test_fully_emptied_mirror_stays_initialized(spark, tmp_path):
    """A changelog that deletes EVERY key empties the mirror; that must
    read as 'initialized and empty', NOT 'never initialized' — the latter
    re-runs the initial load and resurrects rows whose delete events the
    checkpoint already consumed."""
    m = VersionedBucketMirror(str(tmp_path / "m"), n_buckets=4, key_col="id")
    m.initialize(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    )
    wipe = spark.createDataFrame(
        [(1, None, "D", 1), (2, None, "D", 1)],
        "id long, name string, op string, ts long",
    )
    m.merge_batch(wipe, TARGET)
    assert m.exists(), "emptied mirror must still count as initialized"
    assert m.read(spark) is None  # empty, not an inference crash
    # and a later re-insert works against the empty-but-initialized state
    reinsert = spark.createDataFrame(
        [(2, "b2", "I", 2)], "id long, name string, op string, ts long"
    )
    m.merge_batch(reinsert, TARGET)
    got = {r["id"]: r["name"] for r in m.read(spark).collect()}
    assert got == {2: "b2"}


def test_bootstrap_handles_dashed_source_prefixes(spark, tmp_path):
    """S3 prefixes routinely end in dash-bearing segments. Spark's session
    catalog allows only [A-Za-z0-9_] in table names, so the derived name
    is sanitized (customer-data → customer_data) and the probe must not
    choke even when handed a name that would need quoting."""
    from tabular_cdc_bootstrapper_spark.catalog import (
        bootstrap_table,
        ensure_database,
        table_exists,
    )
    import pyspark.sql.types as T

    t = CdcTarget(
        source_uri="s3://bkt/cdc/app/customer-data", key_column="id", ts_column="ts"
    )
    assert t.table_name == "customer_data"
    assert t.changelog_table_name == "customer_data_changelog"

    db = "cdc_hardening_test"
    ensure_database(spark, db)
    schema = T.StructType([T.StructField("id", T.LongType())])
    try:
        # the probe itself survives an unsanitized (quoting-hostile) name
        assert not table_exists(spark, db, "customer-data")
        created = bootstrap_table(
            spark, db, t.table_name,
            location=str(tmp_path / "cd"), schema=schema,
        )
        assert created
        assert table_exists(spark, db, t.table_name)
        assert bootstrap_table(spark, db, t.table_name) is False
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")


def test_schema_less_bootstrap_defers_instead_of_crashing(spark, tmp_path):
    """The documented bootstrap-only mode passes schema=None; with an
    empty location that must defer registration (the loader's lazy
    behavior), not raise UNABLE_TO_INFER_SCHEMA. Once data exists at the
    location, the same call creates the table by inference."""
    from tabular_cdc_bootstrapper_spark.catalog import (
        bootstrap_table,
        ensure_database,
        table_exists,
    )

    db = "cdc_hardening_test2"
    loc = str(tmp_path / "lazy_tbl")
    ensure_database(spark, db)
    try:
        assert bootstrap_table(spark, db, "lazy_tbl", location=loc) is False
        assert not table_exists(spark, db, "lazy_tbl")
        spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(loc)
        assert bootstrap_table(spark, db, "lazy_tbl", location=loc) is True
        assert {f.name for f in spark.table(f"{db}.lazy_tbl").schema.fields} == {
            "id", "name",
        }
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")


def test_rebootstrap_refreshes_properties(spark, tmp_path):
    """Fixing a misconfigured CDC column and re-running bootstrap must
    propagate the corrected wiring to the existing table, not silently
    drop it."""
    from tabular_cdc_bootstrapper_spark.catalog import (
        bootstrap_table,
        ensure_database,
        get_table_properties,
    )
    import pyspark.sql.types as T

    db = "cdc_hardening_test3"
    ensure_database(spark, db)
    schema = T.StructType([T.StructField("id", T.LongType())])
    try:
        bootstrap_table(
            spark, db, "t", location=str(tmp_path / "t"), schema=schema,
            properties={"cdc.ts-column": "wrong_col"},
        )
        bootstrap_table(
            spark, db, "t", properties={"cdc.ts-column": "ts"},
        )
        assert get_table_properties(spark, f"{db}.t")["cdc.ts-column"] == "ts"
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")


def test_glob_segment_boundaries():
    """'**/' must match zero-or-more COMPLETE segments: a configured
    exclusion like 'data/**/LOAD*' must not swallow incremental files
    whose names merely contain LOAD."""
    assert _glob_match("x/**/LOAD*", "x/y/LOAD1")
    assert _glob_match("x/**/LOAD*", "x/LOAD1")
    assert not _glob_match("x/**/LOAD*", "x/yLOAD1")
    assert _glob_match("a/**/b", "a/b")
    assert not _glob_match("a/**/b", "a/xb")
    assert _glob_match("**", "any/path/at/all")
    assert not _glob_match("**/*-*", "plain.parquet")


def test_compact_refuses_streaming_sink_dir(spark, tmp_path):
    from tabular_cdc_bootstrapper_spark.sources.sinks import compact_small_files

    d = tmp_path / "sinkdir"
    spark.range(10).coalesce(2).write.parquet(str(d))
    os.makedirs(d / "_spark_metadata")
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_small_files(spark, str(d))


def test_compact_recovers_interrupted_swap(spark, tmp_path):
    """A crash between the two swap renames leaves only the .compact.old
    backup; the next invocation must restore it and complete."""
    from tabular_cdc_bootstrapper_spark.sources.sinks import compact_small_files

    d = str(tmp_path / "data")
    spark.range(100).repartition(8).write.parquet(d)
    # simulate the crash window: live dir renamed aside, new dir not yet in
    os.rename(d, d + ".compact.old")
    assert not os.path.isdir(d)
    n = compact_small_files(spark, d)
    assert n >= 1
    assert {r["id"] for r in spark.read.parquet(d).collect()} == set(range(100))
    assert not os.path.isdir(d + ".compact.old")


def test_table_exists_mixed_case_names(spark, tmp_path):
    """Spark lowercases catalog identifiers, so a mixed-case name (e.g.
    from an S3 segment 'CustomerData') comes back from SHOW TABLES as
    'customerdata'. The probe must compare case-insensitively or every
    bootstrap re-takes the create path and misreports created=True
    (ADVICE r5 #1)."""
    import pyspark.sql.types as T

    from tabular_cdc_bootstrapper_spark.catalog import (
        bootstrap_table,
        ensure_database,
        table_exists,
    )

    db = "cdc_case_test"
    ensure_database(spark, db)
    schema = T.StructType([T.StructField("id", T.LongType())])
    try:
        assert not table_exists(spark, db, "CustomerData")
        assert bootstrap_table(
            spark, db, "CustomerData", location=str(tmp_path / "cd"), schema=schema
        )
        # probe sees it under ANY casing; second bootstrap is a no-op
        assert table_exists(spark, db, "CustomerData")
        assert table_exists(spark, db, "customerdata")
        assert bootstrap_table(spark, db, "CustomerData") is False
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")


def test_load_events_nested_and_empty_dirs(spark, tmp_path):
    """_load_events' footer probe must find parquet files one level down
    (partitioned/recursive layouts) deterministically, and raise a clear
    error — not a read_schema crash on a directory path — when a dir has
    no parquet at all (ADVICE r5 #3)."""
    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    src = spark.range(5).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.col("id") * 1000000).cast("timestamp_ntz").alias("ts"),
    )
    nested = tmp_path / "events_nested" / "day=1"
    nested.parent.mkdir()
    src.coalesce(1).write.parquet(str(nested))
    # the footer PROBE must find the nested file (recursive glob) and pick
    # the right dtype branch instead of crashing on the directory path;
    # the data read itself goes through partition discovery
    got = _load_events(spark, str(nested.parent))
    assert got.count() == 5
    assert str(got.schema["ts"].dataType) == "TimestampNTZType()"

    empty = tmp_path / "events_empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="no parquet files"):
        _load_events(spark, str(empty))
