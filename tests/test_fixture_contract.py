"""Pin the driver-fixture data contract (FIXTURES.md §B).

Round 4 lesson: the fixtures' ``events.ts`` storage dtype silently changed
(int64-ns → timestamp[us]) and the hard-coded loader assumption broke 8
queries, pytest, and the bench at once. These tests make the next
fixture-regeneration fail ONE loud schema assertion instead, and prove the
events loader handles BOTH storage contracts it has ever seen.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

# dtype families the loaders + DuckDB oracles rely on. Exact storage width
# matters only where arithmetic does (ts, keys); timestamps may be us or ms
# (both read back as TIMESTAMP in Spark and DuckDB), but NOT int64 — the
# loader handles that via its legacy branch, which we pin separately below.
_EXPECTED = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "int",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "float",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "int",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "float",
    },
    "part": {
        "p_partkey": "int",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "float",
    },
    "orders": {
        "o_orderkey": "int",
        "o_custkey": "int",
        "o_orderstatus": "string",
        "o_totalprice": "float",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "int",
        "l_partkey": "int",
        "l_suppkey": "int",
        "l_linenumber": "int",
        "l_quantity": "float",
        "l_extendedprice": "float",
        "l_discount": "float",
        "l_tax": "float",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "int",
        "ts": "timestamp|int",  # both contracts loadable; see loader tests
        "user_id": "int",
        "event_type": "string",
        "value": "float",
        "props": "string",
    },
    "documents": {
        "doc_id": "int",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "int",
    },
    "embeddings": {"vec_id": "int", "embedding": "list", "label": "int"},
}


def _family(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list"
    return str(t)


@pytest.mark.parametrize("table", sorted(_EXPECTED))
def test_fixture_schema_matches_contract(sf_dir, table):
    schema = pq.read_schema(f"{sf_dir}/{table}.parquet")
    got = {f.name: _family(f.type) for f in schema}
    want = _EXPECTED[table]
    assert set(got) == set(want), (
        f"{table}: columns drifted — got {sorted(got)}, contract {sorted(want)}"
    )
    for col, fam in want.items():
        assert got[col] in fam.split("|"), (
            f"{table}.{col}: dtype family {got[col]!r} not in contract {fam!r} "
            f"— update the loader AND FIXTURES.md together"
        )


def _write_events(tmp_path, name, ts_array):
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 10], pa.int64()),
            "event_type": pa.array(["click", "view"]),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(['{"k":1}', '{"k":2}']),
        }
    )
    path = str(tmp_path / name)
    pq.write_table(tbl, path)
    return path


_US = [1_700_000_000_000_000, 1_700_000_123_456_789]  # µs since epoch


def test_events_loader_handles_us_timestamp(spark, tmp_path):
    """Current contract: ts stored as parquet timestamp[us]."""
    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    path = _write_events(
        tmp_path, "us.parquet", pa.array(_US, pa.timestamp("us"))
    )
    df = _load_events(spark, path)
    assert str(df.schema["ts"].dataType) == "TimestampNTZType()"
    got_us = {r["event_id"]: _to_us(r["ts"]) for r in df.collect()}
    assert got_us == {1: _US[0], 2: _US[1]}


def test_events_loader_handles_ns_int64(spark, tmp_path):
    """Legacy variant: ts stored as raw int64 nanoseconds-since-epoch.
    Loader must truncate to µs — identical values to the µs contract."""
    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    ns = [v * 1000 + 999 for v in _US]  # sub-µs residue must truncate away
    path = _write_events(tmp_path, "ns.parquet", pa.array(ns, pa.int64()))
    rows = {r["event_id"]: r["ts"] for r in _load_events(spark, path).collect()}
    got_us = {k: _to_us(v) for k, v in rows.items()}
    assert got_us == {1: _US[0], 2: _US[1]}


def test_events_loader_handles_ns_timestamp(spark, tmp_path):
    """THE actual pre-round-4 contract: parquet TIMESTAMP(NANOS), which
    Spark 4 refuses to read as a timestamp — the loader must take the
    nanosAsLong legacy path (footer says 'timestamp[ns]', NOT int64) and
    still produce the same µs-truncated TIMESTAMP_NTZ values."""
    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    ns = [v * 1000 + 999 for v in _US]
    path = _write_events(tmp_path, "tns.parquet", pa.array(ns, pa.timestamp("ns")))
    assert str(pq.read_schema(path).field("ts").type) == "timestamp[ns]"
    df = _load_events(spark, path)
    assert str(df.schema["ts"].dataType) == "TimestampNTZType()"
    got_us = {r["event_id"]: _to_us(r["ts"]) for r in df.collect()}
    assert got_us == {1: _US[0], 2: _US[1]}


def test_events_loader_contracts_agree(spark, tmp_path):
    """The two storage contracts for identical instants load identically —
    dtype is a generator detail, never a semantic one."""
    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    p_us = _write_events(tmp_path, "a.parquet", pa.array(_US, pa.timestamp("us")))
    p_ns = _write_events(
        tmp_path, "b.parquet", pa.array([v * 1000 for v in _US], pa.int64())
    )
    a = sorted(map(tuple, _load_events(spark, p_us).collect()))
    b = sorted(map(tuple, _load_events(spark, p_ns).collect()))
    assert a == b
    assert str(_load_events(spark, p_us).schema["ts"].dataType) == str(
        _load_events(spark, p_ns).schema["ts"].dataType
    )


def _to_us(dt) -> int:
    """Naive datetime → µs since epoch, timezone-free (ts is TIMESTAMP_NTZ)."""
    import datetime as _dt

    return int(
        (dt - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    )


def test_events_loader_handles_directory_input(spark, tmp_path):
    """Multi-file events datasets (a directory of parts) probe ONE part's
    footer for the dtype branch and load all parts."""
    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    d = tmp_path / "events_dir"
    d.mkdir()
    _write_events(d, "part-0.parquet", pa.array(_US[:1] * 2, pa.timestamp("us")))
    _write_events(d, "part-1.parquet", pa.array(_US[1:] * 2, pa.timestamp("us")))
    df = _load_events(spark, str(d))
    assert df.count() == 4
    assert str(df.schema["ts"].dataType) == "TimestampNTZType()"


def test_events_loader_handles_int96_timestamp(spark, tmp_path):
    """Legacy Spark/Hive INT96 output (spark.sql.parquet.outputTimestampType
    = INT96, the pre-Spark-3 default): Arrow reports the LOGICAL type as
    'timestamp[ns]' — identical to TIMESTAMP(NANOS), which Spark cannot
    read natively — but the PHYSICAL type is INT96, which Spark reads
    fine and the nanosAsLong path would crash on (the column arrives as a
    timestamp, not a long). The loader must branch on the physical type.
    Regression: writing an events fixture with plain Spark defaults used
    to route into the ns branch and fail analysis with
    DATATYPE_MISMATCH on `ts div 1000`."""
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-08 11:30:00")],
        "event_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = str(tmp_path / "int96.parquet")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        df.coalesce(1).write.parquet(out)
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    import glob

    (part,) = glob.glob(f"{out}/part-*.parquet")
    assert str(pq.read_schema(part).field("ts").type).startswith("timestamp[ns")
    loaded = _load_events(spark, out)
    assert str(loaded.schema["ts"].dataType) == "TimestampNTZType()"
    got = {r["event_id"]: str(r["ts"]) for r in loaded.collect()}
    assert got == {1: "2024-01-01 10:00:00", 2: "2024-01-08 11:30:00"}


def test_events_loader_probes_schema_and_physical_from_same_file(spark, tmp_path):
    """ADVICE r6: the logical-dtype probe and the INT96 physical-type
    probe must inspect the SAME footer. With a 0-row first part, both
    probes must skip to the first part that has row groups — a split
    probe (schema from parts[0], physical from parts[1]) would here read
    a µs schema but an INT96 physical type and could mis-branch."""
    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    d = tmp_path / "events_dir"
    d.mkdir()
    # part-0: ZERO rows, ns-typed schema (no row groups to probe)
    empty = pa.table(
        {
            "event_id": pa.array([], pa.int64()),
            "ts": pa.array([], pa.timestamp("ns")),
            "user_id": pa.array([], pa.int64()),
            "event_type": pa.array([], pa.string()),
            "value": pa.array([], pa.float64()),
            "props": pa.array([], pa.string()),
        }
    )
    pq.write_table(empty, str(d / "part-0.parquet"))
    # part-1: TIMESTAMP(NANOS) with data — same logical dtype, and the
    # physical probe must land on THIS file (the one whose schema governs)
    ns = [v * 1000 + 999 for v in _US]
    _write_events(d, "part-1.parquet", pa.array(ns, pa.timestamp("ns")))
    df = _load_events(spark, str(d))
    got_us = {r["event_id"]: _to_us(r["ts"]) for r in df.collect()}
    assert got_us == {1: _US[0], 2: _US[1]}


def test_events_loader_rejects_mixed_dtype_directory(spark, tmp_path):
    """A mid-regeneration directory mixing ts storage dtypes must raise,
    not silently pick whichever contract the probe file happens to use."""
    import pytest as _pytest

    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    d = tmp_path / "events_dir"
    d.mkdir()
    # sorted order puts the 0-row ns file first, so the probe scans past
    # it and must notice the µs file disagrees
    empty = pa.table(
        {
            "event_id": pa.array([], pa.int64()),
            "ts": pa.array([], pa.timestamp("ns")),
            "user_id": pa.array([], pa.int64()),
            "event_type": pa.array([], pa.string()),
            "value": pa.array([], pa.float64()),
            "props": pa.array([], pa.string()),
        }
    )
    pq.write_table(empty, str(d / "part-0.parquet"))
    _write_events(d, "part-1.parquet", pa.array(_US, pa.timestamp("us")))
    with _pytest.raises(ValueError, match="mixed ts storage dtypes"):
        _load_events(spark, str(d))


def test_events_loader_empty_dataset_defaults_native(spark, tmp_path):
    """An all-empty ns-typed dataset takes the native branch (INT96 is
    what Spark itself writes; a 0-row TIMESTAMP(NANOS) dataset has no
    values for the branches to disagree on) and loads 0 rows."""
    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    d = tmp_path / "events_dir"
    d.mkdir()
    empty = pa.table(
        {
            "event_id": pa.array([], pa.int64()),
            "ts": pa.array([], pa.timestamp("us")),
            "user_id": pa.array([], pa.int64()),
            "event_type": pa.array([], pa.string()),
            "value": pa.array([], pa.float64()),
            "props": pa.array([], pa.string()),
        }
    )
    pq.write_table(empty, str(d / "part-0.parquet"))
    assert _load_events(spark, str(d)).count() == 0


def test_parquet_rows_matches_scan_count(spark, sf_dir, tmp_path):
    """_parquet_rows (r16: the footer-metadata row count behind
    bucket_compaction_roundtrip's file sizing and
    ann_index_maintained_topk's 70% split) equals a real count() scan —
    on a single-file fixture table AND on a multi-file directory (the
    rglob branch), including an empty part file."""
    from tabular_cdc_bootstrapper_spark.queries._registry import (
        _parquet_rows,
        _t,
    )

    for name in ("orders", "embeddings"):
        assert _parquet_rows(sf_dir, name) == _t(spark, sf_dir, name).count()

    d = tmp_path / "multi.parquet"
    d.mkdir()
    t1 = pa.table({"id": pa.array([1, 2, 3], pa.int64())})
    t2 = pa.table({"id": pa.array([4, 5], pa.int64())})
    empty = pa.table({"id": pa.array([], pa.int64())})
    pq.write_table(t1, str(d / "part-0.parquet"))
    pq.write_table(t2, str(d / "sub.parquet"))
    pq.write_table(empty, str(d / "part-1.parquet"))
    assert _parquet_rows(str(tmp_path), "multi") == 5
    assert spark.read.parquet(str(d)).count() == 5


def test_parquet_rows_skips_hidden_files_like_spark(spark, tmp_path):
    """_parquet_rows ignores the files Spark's reader ignores: a
    ``_``- or ``.``-prefixed file (or dir) in a dataset dir is a sidecar,
    not data, so the footer count must equal the scan count."""
    from tabular_cdc_bootstrapper_spark.queries._registry import _parquet_rows

    d = tmp_path / "ds.parquet"
    (d / ".hidden").mkdir(parents=True)
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3], pa.int64())}),
        str(d / "part-0.parquet"),
    )
    side = pa.table({"id": pa.array([7, 8], pa.int64())})
    pq.write_table(side, str(d / "_sidecar.parquet"))
    pq.write_table(side, str(d / ".part-1.parquet"))
    pq.write_table(side, str(d / ".hidden" / "part-2.parquet"))
    assert spark.read.parquet(str(d)).count() == 3
    assert _parquet_rows(str(tmp_path), "ds") == 3
