"""Golden end-to-end CDC tests (SURVEY.md §5): the deterministic DMS
scenario must replay to the expected final state through both the batch
recompute path and the streaming (checkpointed file source + foreachBatch)
path, and replaying must be idempotent."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.operators.cdc import apply_changelog, latest_by_key
from tabular_cdc_bootstrapper_spark.sources.files import (
    exclude_glob_filter,
    list_files,
    read_with_exclusion,
)
from tabular_cdc_bootstrapper_spark.streaming.pipeline import (
    run_cdc_pipeline_available_now,
)
from tests.dms_scenario import generate

DMS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("modification_date", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("ts", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def scenario(tmp_path_factory):
    src = tmp_path_factory.mktemp("dms_src")
    expected = generate(str(src), seed=42)
    return str(src), expected


def _mirror_dict(df) -> dict[int, dict]:
    rows = df.select("id", "name", "modification_date").collect()
    return {r["id"]: {"id": r["id"], "name": r["name"], "modification_date": r["modification_date"]} for r in rows}


def test_batch_recompute_matches_golden(spark, scenario):
    src, expected = scenario
    events = read_with_exclusion(spark, src, schema=DMS_SCHEMA, with_source_file=True)
    mirror = apply_changelog(
        events, key_cols="id", ts_cols="ts", tiebreak_cols=("_src_file",),
        drop_envelope=("table", "op", "ts", "_src_file"),
    )
    assert _mirror_dict(mirror) == expected


def test_batch_recompute_window_strategy_agrees(spark, scenario):
    src, expected = scenario
    events = read_with_exclusion(spark, src, schema=DMS_SCHEMA, with_source_file=True)
    mirror = apply_changelog(
        events, key_cols="id", ts_cols="ts", tiebreak_cols=("_src_file",),
        strategy="window", drop_envelope=("table", "op", "ts", "_src_file"),
    )
    assert _mirror_dict(mirror) == expected


@pytest.mark.parametrize(
    "layout",
    ["snapshot", "bucketed_versioned", "bucketed_versioned_mor"],
)
def test_streaming_pipeline_matches_golden(spark, scenario, tmp_path, layout):
    src, expected = scenario
    target = CdcTarget(source_uri=f"file://{src}", key_column="id", ts_column="ts")
    wk = str(tmp_path / f"wk-{layout}")
    res = run_cdc_pipeline_available_now(
        spark, src, DMS_SCHEMA, wk, target, mirror_layout=layout, n_buckets=8
    )
    mirror = res["mirror"].read(spark)
    assert _mirror_dict(mirror) == expected
    # idempotency: re-running consumes nothing new, state unchanged (T2)
    res2 = run_cdc_pipeline_available_now(
        spark, src, DMS_SCHEMA, wk, target, mirror_layout=layout, n_buckets=8
    )
    assert _mirror_dict(res2["mirror"].read(spark)) == expected


@pytest.mark.parametrize(
    "layout",
    ["snapshot", "bucketed_versioned", "bucketed_versioned_mor"],
)
def test_streaming_schema_evolution_mid_stream(spark, tmp_path, layout):
    """VERDICT r7 #5 — a NEW column arriving in later changelog files
    mid-stream. The evolution contract (FIXTURES.md A4): Structured
    Streaming file sources pin their schema at start, so a schema change
    is a RESTART event — re-run the pipeline with the evolved schema on
    the same work_dir. The checkpoint keeps already-ingested files
    ingested (no double-apply), new files read with the new column, old
    changelog/mirror rows surface NULL for it (union semantics, the
    test_schema_evolution_both_directions law), and the golden final
    state — including per-row status from each key's LATEST event —
    matches exactly on both mirror layouts."""
    from tests.dms_scenario import generate_two_phase

    src = str(tmp_path / "src")
    write_phase2, expected = generate_two_phase(src, seed=7)
    evolved_schema = T.StructType(
        list(DMS_SCHEMA.fields) + [T.StructField("status", T.StringType())]
    )
    target = CdcTarget(source_uri=f"file://{src}", key_column="id", ts_column="ts")
    wk = str(tmp_path / f"wk-{layout}")

    # phase 1: original wire format, batches 0-2
    res1 = run_cdc_pipeline_available_now(
        spark, src, DMS_SCHEMA, wk, target, mirror_layout=layout, n_buckets=8
    )
    m1 = res1["mirror"].read(spark)
    assert "status" not in m1.columns
    n_phase1 = m1.count()
    assert n_phase1 > 0

    # phase 2: evolved files land; restart with the evolved schema
    write_phase2()
    res2 = run_cdc_pipeline_available_now(
        spark, src, evolved_schema, wk, target, mirror_layout=layout, n_buckets=8
    )
    mirror = res2["mirror"].read(spark)
    assert "status" in mirror.columns
    got = {
        r["id"]: {
            "id": r["id"],
            "name": r["name"],
            "modification_date": r["modification_date"],
            "status": r["status"],
        }
        for r in mirror.select("id", "name", "modification_date", "status").collect()
    }
    assert got == expected
    assert any(v["status"] is not None for v in got.values())  # evolution took
    assert any(v["status"] is None for v in got.values())  # old rows untouched

    # replaying the evolved run consumes nothing new (T2 exactly-once)
    res3 = run_cdc_pipeline_available_now(
        spark, src, evolved_schema, wk, target, mirror_layout=layout, n_buckets=8
    )
    got3 = {
        r["id"]: r["status"]
        for r in res3["mirror"].read(spark).select("id", "status").collect()
    }
    assert got3 == {k: v["status"] for k, v in expected.items()}


def test_exclusion_glob_routing(spark, scenario):
    """LOAD* files feed the mirror initial load; incrementals feed the
    changelog (reference batch_bootstrapper.py:69,85)."""
    src, _ = scenario
    all_files = list_files(src)
    incr = list_files(src, exclude_glob="**/LOAD*")
    load = list_files(src, exclude_glob="**/*-*")
    assert set(incr) | set(load) == set(all_files)
    assert set(incr).isdisjoint(load)
    assert all("LOAD" not in f.rsplit("/", 1)[-1] for f in incr)

    df = read_with_exclusion(spark, src, schema=DMS_SCHEMA, exclude_glob="**/LOAD*")
    assert df.select(F.input_file_name()).distinct().count() == len(incr)


def test_latest_by_key_tiebreak_deterministic(spark):
    """Same (key, ts) from two files → the tie-break column decides."""
    rows = [(1, "a", "2024", "f1"), (1, "b", "2024", "f2")]
    df = spark.createDataFrame(rows, "id long, name string, ts string, src string")
    for strategy in ("max_by", "window"):
        out = latest_by_key(df, "id", "ts", tiebreak_cols=("src",), strategy=strategy)
        assert out.collect()[0]["name"] == "b", strategy


def test_delete_then_reinsert_resolves_by_ts(spark):
    """SURVEY.md §7 watch list: D then I inside one batch → row lives."""
    rows = [
        (1, "x", "t1", "I"),
        (1, "x", "t2", "D"),
        (1, "back", "t3", "I"),
        (2, "y", "t1", "I"),
        (2, "y", "t2", "D"),
    ]
    df = spark.createDataFrame(rows, "id long, name string, ts string, op string")
    out = apply_changelog(df, "id", "ts", drop_envelope=("ts", "op"))
    got = {r["id"]: r["name"] for r in out.collect()}
    assert got == {1: "back"}


def test_schema_evolution_both_directions(spark):
    """Changelog files can GROW columns (new field appears) and old-format
    batches can LACK columns the mirror already has; the merged schema is
    the column union and no state is erased."""
    mirror = spark.createDataFrame(
        [(1, "a", "a@x"), (2, "b", "b@x")], "id long, name string, email string"
    )
    # new batch: no email column (old format), but adds a phone column
    batch = spark.createDataFrame(
        [(1, "a2", "555", "U", 10), (3, "c", None, "I", 10)],
        "id long, name string, phone string, op string, ts long",
    )
    out = apply_changelog(
        batch, "id", "ts", mirror=mirror, mirror_ts=F.lit(0),
        drop_envelope=("op", "ts"),
    )
    rows = {r["id"]: (r["name"], r["email"], r["phone"]) for r in out.collect()}
    assert set(out.columns) == {"id", "name", "email", "phone"}
    assert rows[1] == ("a2", None, "555")   # updated by the new batch
    assert rows[2] == ("b", "b@x", None)    # untouched key keeps email
    assert rows[3] == ("c", None, None)     # insert with null phone payload


def test_main_entry_end_to_end(scenario, tmp_path, monkeypatch):
    """`python -m tabular_cdc_bootstrapper_spark` equivalent: env config →
    bootstrap → one-shot streaming CDC run → mirror matches the golden
    state (the reference's full container lifecycle, natively)."""
    src, expected = scenario
    monkeypatch.setenv("TABULAR_BUCKET_NAME", "local-bucket")
    monkeypatch.setenv("TABULAR_BUCKET_MONITOR_PATH", "cdc/test_table")
    monkeypatch.setenv("TABULAR_CDC_ID_FIELD", "id")
    monkeypatch.setenv("TABULAR_CDC_TIMESTAMP_FIELD", "ts")
    monkeypatch.setenv("SPARK_CDC_SOURCE_DIR", src)
    monkeypatch.setenv("SPARK_CDC_WORK_DIR", str(tmp_path / "work"))

    from tabular_cdc_bootstrapper_spark.__main__ import main
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    assert main() == 0

    spark = __import__("tabular_cdc_bootstrapper_spark.session", fromlist=["get_spark"]).get_spark()
    mirror = ParquetStateTable(str(tmp_path / "work" / "test_table" / "mirror"))
    got = _mirror_dict(mirror.read(spark))
    assert got == expected
    # table pair registered by the bootstrap step
    assert spark.catalog.tableExists("cdc_bootstrap.test_table")
    assert spark.catalog.tableExists("cdc_bootstrap.test_table_changelog")
    # control plane wired to the data plane: the registered mirror table
    # must SELECT the pipeline's actual output, not an empty warehouse dir
    assert _mirror_dict(spark.table("cdc_bootstrap.test_table")) == expected
    assert spark.table("cdc_bootstrap.test_table_changelog").count() > 0
    # second invocation: checkpointed = no new files = same state
    assert main() == 0
    assert _mirror_dict(mirror.read(spark)) == expected


@pytest.mark.parametrize("layout", ["bucketed", "bucketed_versioned"])
def test_main_entry_bucketed_mirror_registered_partitioned(
    tmp_path, monkeypatch, layout
):
    """SPARK_CDC_MIRROR_LAYOUT=bucketed (an alias) or bucketed_versioned:
    the mirror lives under bucket=N/v-*/ version dirs named by the head
    manifest, so the catalog registration must be a PARTITIONED table
    with one partition per manifest entry — an unpartitioned table
    pointed at that layout SELECTs zero rows (ADVICE r5 #4). A later poll
    that lands a change file must re-register the NEW head."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    src = str(tmp_path / "src")
    expected = generate(src, seed=42)
    fqn = f"cdc_bootstrap.{layout}_table"
    monkeypatch.setenv("TABULAR_BUCKET_NAME", "local-bucket")
    monkeypatch.setenv("TABULAR_BUCKET_MONITOR_PATH", f"cdc/{layout}_table")
    monkeypatch.setenv("TABULAR_CDC_ID_FIELD", "id")
    monkeypatch.setenv("TABULAR_CDC_TIMESTAMP_FIELD", "ts")
    monkeypatch.setenv("SPARK_CDC_SOURCE_DIR", src)
    monkeypatch.setenv("SPARK_CDC_WORK_DIR", str(tmp_path / "work"))
    monkeypatch.setenv("SPARK_CDC_MIRROR_LAYOUT", layout)

    from tabular_cdc_bootstrapper_spark.__main__ import main

    assert main() == 0

    spark = __import__(
        "tabular_cdc_bootstrapper_spark.session", fromlist=["get_spark"]
    ).get_spark()
    # the registered table SELECTs the pipeline's output through the
    # partitioned layout (zero rows would mean no partition registered)
    assert _mirror_dict(spark.table(fqn)) == expected

    # a second poll lands one more change file: update, delete, insert
    upd, gone = sorted(expected)[:2]
    rows = [
        (upd, "polled_again", "2024-01-02T00:00:01", "U"),
        (gone, expected[gone]["name"], "2024-01-02T00:00:02", "D"),
        (10_001, "new_key", "2024-01-02T00:00:03", "I"),
    ]
    pq.write_table(
        pa.table({
            "id": [r[0] for r in rows],
            "name": [r[1] for r in rows],
            "modification_date": [r[2] for r in rows],
            "table": ["test_table"] * len(rows),
            "op": [r[3] for r in rows],
            "ts": [r[2] for r in rows],
        }),
        f"{src}/2024-01-02T00-00-01.parquet",
    )
    expected[upd] = {
        "id": upd, "name": "polled_again",
        "modification_date": "2024-01-02T00:00:01",
    }
    del expected[gone]
    expected[10_001] = {
        "id": 10_001, "name": "new_key",
        "modification_date": "2024-01-02T00:00:03",
    }
    assert main() == 0
    head = VersionedBucketMirror(
        str(tmp_path / "work" / f"{layout}_table" / "mirror")
    )
    assert _mirror_dict(head.read(spark)) == expected
    assert _mirror_dict(spark.table(fqn)) == expected
    # and it actually is a partitioned registration, not a flat re-point
    ddl = spark.sql(f"SHOW CREATE TABLE {fqn}").collect()[0][0]
    assert "PARTITIONED BY" in ddl and "bucket" in ddl


def test_main_entry_rejects_merge_on_read_layout(tmp_path, monkeypatch):
    """A merge-on-read mirror is read by folding its delta files, which a
    catalog table cannot express: the CLI refuses the layout at start-up
    (exit 2) instead of registering a table that SELECTs stale rows."""
    monkeypatch.setenv("TABULAR_BUCKET_NAME", "local-bucket")
    monkeypatch.setenv("TABULAR_BUCKET_MONITOR_PATH", "cdc/mor_table")
    monkeypatch.setenv("SPARK_CDC_SOURCE_DIR", str(tmp_path / "src"))
    monkeypatch.setenv("SPARK_CDC_WORK_DIR", str(tmp_path / "work"))
    monkeypatch.setenv("SPARK_CDC_MIRROR_LAYOUT", "bucketed_versioned_mor")

    from tabular_cdc_bootstrapper_spark.__main__ import main

    assert main() == 2
    assert not (tmp_path / "work").exists()


@pytest.mark.parametrize("fold", ["deltas", "renames", "shadowed"])
def test_partitioned_registration_refuses_read_time_folds(spark, fold):
    """A head manifest whose read folds delta files (merge-on-read),
    renamed columns or masked column generations cannot be expressed as
    a partitioned catalog table: registration refuses it rather than
    publishing a table that SELECTs stale or mis-named rows."""
    from tabular_cdc_bootstrapper_spark.catalog import (
        point_table_to_partitioned,
    )

    manifest = {"version": 1, "buckets": {"0": "/nowhere/v-1"}, fold: {"x": 1}}
    with pytest.raises(ValueError, match=fold):
        point_table_to_partitioned(spark, "db.t", "/nowhere", manifest)


def test_bucket_partitioned_mirror_merges_incrementally(spark, tmp_path):
    """The 100 TB merge shape: a micro-batch rewrites ONLY the key-buckets
    it touches; untouched buckets keep their manifest dir unchanged; a
    bucket fully emptied by deletes drops out of the manifest; final
    state == full recompute."""
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    target = CdcTarget(source_uri="s3://b/t", key_column="id", ts_column="ts")
    m = VersionedBucketMirror(
        str(tmp_path / "mirror"), n_buckets=8, key_col="id"
    )
    base = spark.createDataFrame(
        [(i, f"n{i}", "I", 0) for i in range(100)],
        "id long, name string, op string, ts long",
    )
    m.initialize(base.drop("op", "ts"))

    before = dict(m.current()["buckets"])
    # batch touches keys 3 and 7 (update + delete)
    batch = spark.createDataFrame(
        [(3, "n3v2", "U", 1), (7, None, "D", 1)],
        "id long, name string, op string, ts long",
    )
    res = m.merge_batch(batch, target)
    after = m.current()["buckets"]

    touched = {str(b) for b in res["touched_buckets"]}
    assert touched, "batch must touch at least one bucket"
    for b, d in before.items():
        if b in touched:
            assert after[b] != d, f"touched bucket {b} was not rewritten"
        else:
            assert after[b] == d, f"untouched bucket {b} was rewritten"

    state = {r["id"]: r["name"] for r in m.read(spark).collect()}
    assert state[3] == "n3v2"
    assert 7 not in state
    assert len(state) == 99

    # empty out every key of one bucket → it must leave the manifest
    victims = [
        r["id"]
        for r in m.read(spark)
        .withColumn("b", (F.pmod(F.xxhash64("id"), F.lit(8))).cast("int"))
        .filter(F.col("b") == res["touched_buckets"][0])
        .collect()
    ]
    wipe = spark.createDataFrame(
        [(i, None, "D", 2) for i in victims],
        "id long, name string, op string, ts long",
    )
    m.merge_batch(wipe, target)
    assert str(res["touched_buckets"][0]) not in m.current()["buckets"]
    assert len({r["id"] for r in m.read(spark).collect()}) == 99 - len(victims)


@pytest.mark.parametrize("layout", ["bucketed", "bucketed_versioned"])
def test_logless_bucketed_work_dir_is_refused(spark, tmp_path, layout):
    """A work dir whose mirror was written by the retired logless
    ``bucketed`` layout has no snapshot log. Opened as a versioned mirror
    it would look uninitialized, re-run the initial load, and lose the
    changes the checkpoint already consumed — so opening it must raise
    and say to rebuild the work dir, for either layout value."""
    src = str(tmp_path / "src")
    generate(src, seed=42)
    target = CdcTarget(source_uri=f"file://{src}", key_column="id", ts_column="ts")
    marker_wk, files_wk = tmp_path / "wk-marker", tmp_path / "wk-files"
    (marker_wk / "mirror" / "data").mkdir(parents=True)
    (marker_wk / "mirror" / "_INITIALIZED").write_text("1")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        str(files_wk / "mirror" / "data" / "bucket=3")
    )
    for wk in (marker_wk, files_wk):
        with pytest.raises(ValueError, match="logless 'bucketed' layout.*rebuild"):
            run_cdc_pipeline_available_now(
                spark, src, DMS_SCHEMA, str(wk), target,
                mirror_layout=layout, n_buckets=8,
            )
        assert not (wk / "_checkpoint-ingest").exists()


def test_null_op_rows_are_not_deleted(spark):
    """AWS DMS full-load files carry no op column; read with the changelog
    schema they surface op=NULL. NULL op must mean insert/live — the first
    incremental merge must NOT delete every initial-load key."""
    initial = spark.createDataFrame(
        [(1, "a", "t0", None), (2, "b", "t0", None), (3, "c", "t0", None)],
        "id long, name string, ts string, op string",
    )
    batch = spark.createDataFrame(
        [(2, "b2", "t1", "U"), (3, None, "t1", "D")],
        "id long, name string, ts string, op string",
    )
    out = apply_changelog(
        batch, "id", "ts", mirror=initial, drop_envelope=("op", "ts")
    )
    got = {r["id"]: r["name"] for r in out.collect()}
    assert got == {1: "a", 2: "b2"}  # key 1 (null op, untouched) survives


def test_bare_glob_exclusion(spark, tmp_path):
    """A bare `LOAD*` exclusion glob (no `**/` prefix) must match the last
    path segment at any depth — against both the in-plan filter (full
    file:// URI) and the explicit listing."""
    d = tmp_path / "src" / "sub"
    d.mkdir(parents=True)
    spark.range(3).write.parquet(str(tmp_path / "src" / "LOAD00000001.parquet"))
    spark.range(3).write.parquet(str(d / "LOAD00000002.parquet"))
    spark.range(3).write.parquet(str(d / "2024-01-01-1200.parquet"))
    root = str(tmp_path / "src")

    kept = list_files(root, exclude_glob="LOAD*")
    assert kept and all("LOAD" not in f.rsplit("/", 1)[-1] for f in kept)

    df = read_with_exclusion(spark, root, exclude_glob="LOAD*")
    files = [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
    assert files and all("LOAD" not in f.rsplit("/", 1)[-1] for f in files)


def test_bucket_mirror_mixed_schema_read(spark, tmp_path):
    """A column-adding batch rewrites only touched buckets; read() must
    still surface the evolved column, null for untouched buckets."""
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    m = VersionedBucketMirror(str(tmp_path / "m"), n_buckets=4, key_col="id")
    m.initialize(
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(16)], "id long, name string"
        )
    )
    target = CdcTarget(source_uri="file:///x", key_column="id", ts_column="ts")
    batch = spark.createDataFrame(
        [(0, "n0b", "555", "U", 1)],
        "id long, name string, phone string, op string, ts long",
    )
    m.merge_batch(batch, target)
    out = m.read(spark)
    assert "phone" in out.columns
    rows = {r["id"]: r["phone"] for r in out.select("id", "phone").collect()}
    assert rows[0] == "555"
    assert rows[1] is None  # untouched bucket, evolved column visible as null
    assert out.count() == 16


def test_scd2_history_semantics(spark):
    """SCD2 versions: I/U open versions, the next event (any op) closes the
    prior one, deletes emit no row, a deleted key has no current version."""
    from tabular_cdc_bootstrapper_spark.operators.cdc import scd2_history

    ch = spark.createDataFrame(
        [
            (1, "a", "I", 0), (1, "a2", "U", 5), (1, None, "D", 9),
            (2, "b", "I", 0), (2, "b2", "U", 3),
            (3, "c", "I", 1),
        ],
        "id long, name string, op string, ts long",
    )
    rows = sorted(
        scd2_history(ch, "id", "ts").collect(),
        key=lambda r: (r["id"], r["valid_from"]),
    )
    got = [
        (r["id"], r["name"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in rows
    ]
    assert got == [
        (1, "a", 0, 5, False),
        (1, "a2", 5, 9, False),  # closed by the delete, no current version
        (2, "b", 0, 3, False),
        (2, "b2", 3, None, True),
        (3, "c", 1, None, True),
    ]


def test_scd2_current_agrees_with_mirror(spark):
    """The SCD2 current snapshot and apply_changelog must be the same
    state — two consumers of one changelog cannot disagree."""
    from tabular_cdc_bootstrapper_spark.operators.cdc import scd2_history

    events = [
        (k, f"v{k}-{t}", op, t)
        for k in range(40)
        for t, op in enumerate(
            ["I"] + (["U"] * (k % 3)) + (["D"] if k % 5 == 0 else [])
        )
    ]
    ch = spark.createDataFrame(events, "id long, name string, op string, ts long")
    mirror = {
        (r["id"], r["name"])
        for r in apply_changelog(ch, "id", "ts", drop_envelope=("op", "ts")).collect()
    }
    current = {
        (r["id"], r["name"])
        for r in scd2_history(ch, "id", "ts").filter("is_current").collect()
    }
    assert current == mirror


def test_scd2_intervals_tile_without_gaps(spark):
    """Per key, version intervals must chain: each valid_to equals the next
    valid_from, exactly one open (or zero after a terminal delete)."""
    from tabular_cdc_bootstrapper_spark.operators.cdc import scd2_history

    ch = spark.createDataFrame(
        [(k, f"n{t}", "U" if t else "I", t) for k in range(20) for t in range(k % 4 + 1)],
        "id long, name string, op string, ts long",
    )
    hist = scd2_history(ch, "id", "ts").collect()
    by_key: dict[int, list] = {}
    for r in hist:
        by_key.setdefault(r["id"], []).append(r)
    for k, rows in by_key.items():
        rows.sort(key=lambda r: r["valid_from"])
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"], (k, a, b)
        assert sum(r["is_current"] for r in rows) == 1
        assert rows[-1]["valid_to"] is None


def test_maintain_agg_equals_recompute(spark):
    """Incremental aggregate maintenance over two sequential batches must
    equal a from-scratch aggregate of the final mirror — inserts, value
    updates, group-moving updates, and deletes all exercised."""
    from tabular_cdc_bootstrapper_spark.operators.incremental import maintain_agg

    mirror0 = spark.createDataFrame(
        [(k, f"g{k % 3}", float(k * 10)) for k in range(60)],
        "id long, grp string, val double",
    )
    agg0 = mirror0.groupBy("grp").agg(
        F.count("*").alias("n_rows"), F.sum("val").alias("val_sum")
    )
    # batch 1: move 0%4 keys to group gX, re-value 1%4 keys, delete 2%4&<20
    b1 = spark.createDataFrame(
        [(k, "gX", float(k * 10), "U", 1) for k in range(0, 60, 4)]
        + [(k, f"g{k % 3}", 7.0, "U", 1) for k in range(1, 60, 4)]
        + [(k, None, None, "D", 2) for k in range(2, 20, 4)],
        "id long, grp string, val double, op string, ts long",
    )
    agg1 = maintain_agg(
        agg0, mirror0, b1, "grp", "id", "ts", {"val_sum": "val"}, count_col="n_rows"
    )
    mirror1 = apply_changelog(
        b1, "id", "ts", mirror=mirror0, mirror_ts=F.lit(0), drop_envelope=("op", "ts")
    )
    # batch 2: reinsert a deleted key into a brand-new group, delete all gX
    gx_ids = [r["id"] for r in mirror1.filter("grp = 'gX'").collect()]
    b2 = spark.createDataFrame(
        [(2, "gNEW", 100.0, "I", 3)]
        + [(k, None, None, "D", 3) for k in gx_ids],
        "id long, grp string, val double, op string, ts long",
    )
    agg2 = maintain_agg(
        agg1, mirror1, b2, "grp", "id", "ts", {"val_sum": "val"}, count_col="n_rows"
    )
    mirror2 = apply_changelog(
        b2, "id", "ts", mirror=mirror1, mirror_ts=F.lit(0), drop_envelope=("op", "ts")
    )
    expect = {
        r["grp"]: (r["n"], round(r["s"], 6))
        for r in mirror2.groupBy("grp")
        .agg(F.count("*").alias("n"), F.sum("val").alias("s"))
        .collect()
    }
    got = {
        r["grp"]: (r["n_rows"], round(r["val_sum"], 6)) for r in agg2.collect()
    }
    assert got == expect
    assert "gX" not in got  # fully-deleted group dropped, not zero-row
    assert got["gNEW"] == (1, 100.0)


def _join_state(df):
    return {tuple(r) for r in df.collect()}


def test_maintain_join_equals_recompute(spark):
    """Incremental join-view maintenance over two sequential two-sided
    batches must equal a from-scratch inner join of the post-batch mirrors —
    fact inserts / payload updates / re-points / deletes, dim payload
    updates / deletes, and the hard case: a dim INSERT that makes
    previously-unmatched fact rows join."""
    from tabular_cdc_bootstrapper_spark.operators.incremental import maintain_join

    fact0 = spark.createDataFrame(
        [(k, k % 7, f"f{k}") for k in range(40)],
        "fid long, dref long, fval string",
    )
    # dim keys 0..4 only: fact rows referencing 5/6 start unmatched
    dim0 = spark.createDataFrame(
        [(d, f"d{d}") for d in range(5)], "did long, dval string"
    )
    view0 = fact0.join(dim0, fact0["dref"] == dim0["did"])

    # batch 1: fact re-point + payload update + delete + insert;
    # dim payload update + delete + insert-gains-match (key 5)
    fb1 = spark.createDataFrame(
        [(0, 3, "f0-new", "U", 1), (1, 1, "f1-new", "U", 1),
         (2, None, None, "D", 2), (100, 5, "f100", "I", 1)],
        "fid long, dref long, fval string, op string, ts long",
    )
    db1 = spark.createDataFrame(
        [(3, "d3-new", "U", 1), (4, None, "D", 2), (5, "d5", "I", 1)],
        "did long, dval string, op string, ts long",
    )
    view1 = maintain_join(
        view0, fact0, dim0, fb1, db1, "fid", "did", "dref", "ts"
    )
    fact1 = apply_changelog(
        fb1, "fid", "ts", mirror=fact0, drop_envelope=("op", "ts")
    )
    dim1 = apply_changelog(
        db1, "did", "ts", mirror=dim0, drop_envelope=("op", "ts")
    )
    expect1 = fact1.join(dim1, fact1["dref"] == dim1["did"])
    assert _join_state(view1) == _join_state(expect1)
    # the gains-match case actually fired: key-5 fact rows are now in view
    assert any(r[1] == 5 for r in _join_state(view1))

    # batch 2 folds on batch 1: delete the just-inserted dim row, re-point
    # a fact row onto a dim deleted in batch 1 (must drop), reinsert fact 2
    fb2 = spark.createDataFrame(
        [(3, 4, "f3-new", "U", 3), (2, 0, "f2-back", "I", 3)],
        "fid long, dref long, fval string, op string, ts long",
    )
    db2 = spark.createDataFrame(
        [(5, None, "D", 3)], "did long, dval string, op string, ts long"
    )
    view2 = maintain_join(
        view1, fact1, dim1, fb2, db2, "fid", "did", "dref", "ts"
    )
    fact2 = apply_changelog(
        fb2, "fid", "ts", mirror=fact1, drop_envelope=("op", "ts")
    )
    dim2 = apply_changelog(
        db2, "did", "ts", mirror=dim1, drop_envelope=("op", "ts")
    )
    expect2 = fact2.join(dim2, fact2["dref"] == dim2["did"])
    assert _join_state(view2) == _join_state(expect2)
    s2 = _join_state(view2)
    assert not any(r[1] == 5 for r in s2)  # dim 5 deleted again
    assert not any(r[0] == 3 for r in s2)  # re-point onto deleted dim drops
    assert any(r[0] == 2 for r in s2)  # reinserted fact row joined


def test_maintain_join_one_sided_batches(spark):
    """A None changelog on either side must behave as an empty batch."""
    from tabular_cdc_bootstrapper_spark.operators.incremental import maintain_join

    fact0 = spark.createDataFrame(
        [(k, k % 3, f"f{k}") for k in range(12)],
        "fid long, dref long, fval string",
    )
    dim0 = spark.createDataFrame(
        [(d, f"d{d}") for d in range(3)], "did long, dval string"
    )
    view0 = fact0.join(dim0, fact0["dref"] == dim0["did"])

    fb = spark.createDataFrame(
        [(0, 2, "f0-new", "U", 1), (1, None, None, "D", 1)],
        "fid long, dref long, fval string, op string, ts long",
    )
    out_f = maintain_join(
        view0, fact0, dim0, fb, None, "fid", "did", "dref", "ts"
    )
    fact1 = apply_changelog(fb, "fid", "ts", mirror=fact0, drop_envelope=("op", "ts"))
    assert _join_state(out_f) == _join_state(
        fact1.join(dim0, fact1["dref"] == dim0["did"])
    )

    db = spark.createDataFrame(
        [(0, "d0-new", "U", 1), (2, None, "D", 1)],
        "did long, dval string, op string, ts long",
    )
    out_d = maintain_join(
        view0, fact0, dim0, None, db, "fid", "did", "dref", "ts"
    )
    dim1 = apply_changelog(db, "did", "ts", mirror=dim0, drop_envelope=("op", "ts"))
    assert _join_state(out_d) == _join_state(
        fact0.join(dim1, fact0["dref"] == dim1["did"])
    )


def test_maintain_join_rejects_overlapping_columns(spark):
    from tabular_cdc_bootstrapper_spark.operators.incremental import maintain_join

    fact = spark.createDataFrame([(1, 1, "x")], "fid long, dref long, val string")
    dim = spark.createDataFrame([(1, "y")], "did long, val string")
    view = fact.join(dim, fact["dref"] == dim["did"]).select("fid", "did", "dref")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        maintain_join(view, fact, dim, None, None, "fid", "did", "dref", "ts")


def _mk_view(tmp_path, name="v"):
    from tabular_cdc_bootstrapper_spark.streaming.feeds import (
        MaintainedAggView,
    )

    return MaintainedAggView(
        str(tmp_path / name),
        group_cols="grp",
        key_col="id",
        ts_col="ts",
        sum_cols={"val_sum": "val"},
    )


def test_maintained_agg_view_tracks_mirror(spark, tmp_path):
    """Three micro-batches through view + mirror: after each, the view must
    equal a recompute over the mirror — including a group-moving update and
    a group emptied by deletes."""
    from tabular_cdc_bootstrapper_spark.operators.cdc import apply_changelog
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    view = _mk_view(tmp_path)
    mirror = ParquetStateTable(str(tmp_path / "m"))
    schema = "id long, grp string, val double, op string, ts long"
    batches = [
        [(k, f"g{k % 2}", float(k), "I", 0) for k in range(10)],
        [(0, "gX", 99.0, "U", 1), (1, None, None, "D", 1), (10, "g0", 5.0, "I", 1)],
        [(0, None, None, "D", 2)],  # empties gX
    ]
    for bid, rows in enumerate(batches):
        batch = spark.createDataFrame(rows, schema)
        before = mirror.read(spark)
        view.apply_batch(spark, batch, bid, before)
        new_state = apply_changelog(
            batch, "id", "ts", mirror=before, mirror_ts=F.lit(-1),
            drop_envelope=("op", "ts"),
        )
        mirror.commit(new_state)
        expect = {
            r["grp"]: (r["n"], r["s"])
            for r in mirror.read(spark)
            .groupBy("grp")
            .agg(F.count("*").alias("n"), F.sum("val").alias("s"))
            .collect()
        }
        got = {
            r["grp"]: (r["n_rows"], r["val_sum"])
            for r in view.read(spark).collect()
        }
        assert got == expect, f"batch {bid}: {got} != {expect}"
    assert "gX" not in got


def test_maintained_join_view_tracks_mirrors(spark, tmp_path):
    """Three micro-batches through view + both mirrors: after each, the
    view must equal a from-scratch join of the post-batch mirrors —
    bootstrap from empty mirrors, a two-sided batch, and a dim-only
    batch (fact_batch=None) all exercised."""
    from tabular_cdc_bootstrapper_spark.operators.cdc import apply_changelog
    from tabular_cdc_bootstrapper_spark.streaming.feeds import (
        MaintainedJoinView,
    )
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    view = MaintainedJoinView(
        str(tmp_path / "jv"), fact_keys="fid", dim_keys="did",
        fk_cols="dref", ts_col="ts",
    )
    fmirror = ParquetStateTable(str(tmp_path / "fm"))
    dmirror = ParquetStateTable(str(tmp_path / "dm"))
    fschema = "fid long, dref long, fval string, op string, ts long"
    dschema = "did long, dval string, op string, ts long"
    batches = [
        (
            [(k, k % 3, f"f{k}", "I", 0) for k in range(8)],
            [(d, f"d{d}", "I", 0) for d in range(2)],  # dim 2 missing
        ),
        (
            [(0, 2, "f0-new", "U", 1), (1, None, None, "D", 1)],
            [(2, "d2", "I", 1)],  # gains matches for dref=2 rows
        ),
        (None, [(0, None, "D", 2)]),  # dim-only batch
    ]
    for bid, (frows, drows) in enumerate(batches):
        fb = spark.createDataFrame(frows, fschema) if frows else None
        db = spark.createDataFrame(drows, dschema) if drows else None
        f_before, d_before = fmirror.read(spark), dmirror.read(spark)
        view.apply_batch(spark, bid, f_before, d_before, fb, db)
        if fb is not None:
            fmirror.commit(apply_changelog(
                fb, "fid", "ts", mirror=f_before, drop_envelope=("op", "ts")
            ))
        if db is not None:
            dmirror.commit(apply_changelog(
                db, "did", "ts", mirror=d_before, drop_envelope=("op", "ts")
            ))
        f1, d1 = fmirror.read(spark), dmirror.read(spark)
        expect = _join_state(f1.join(d1, f1["dref"] == d1["did"]))
        got = _join_state(view.read(spark))
        assert got == expect, f"batch {bid}"
    assert not any(r[1] == 0 for r in got)  # dim 0 deleted in batch 3
    assert any(r[1] == 2 for r in got)  # batch-2 dim insert gained matches


def test_maintained_join_view_replay_is_noop(spark, tmp_path):
    """Checkpoint replay delivers the same batch id twice; the second
    apply must skip (the delta update is not idempotent)."""
    from tabular_cdc_bootstrapper_spark.streaming.feeds import (
        MaintainedJoinView,
    )

    view = MaintainedJoinView(
        str(tmp_path / "jv"), fact_keys="fid", dim_keys="did",
        fk_cols="dref", ts_col="ts",
    )
    fb = spark.createDataFrame(
        [(1, 0, "f1", "I", 0)], "fid long, dref long, fval string, op string, ts long"
    )
    db = spark.createDataFrame(
        [(0, "d0", "I", 0)], "did long, dval string, op string, ts long"
    )
    view.apply_batch(spark, 0, None, None, fb, db)
    out = view.apply_batch(spark, 0, None, None, fb, db)
    assert out.get("skipped_replay")
    assert view.read(spark).count() == 1


def test_maintained_agg_view_replay_is_noop(spark, tmp_path):
    """Checkpoint replay delivers the same batch id twice; the second
    apply must not double-count (pointer carries last_batch_id)."""
    view = _mk_view(tmp_path)
    schema = "id long, grp string, val double, op string, ts long"
    b0 = spark.createDataFrame([(1, "g", 10.0, "I", 0)], schema)
    view.apply_batch(spark, b0, 0, None)
    out = view.apply_batch(spark, b0, 0, view.read(spark))
    assert out.get("skipped_replay")
    rows = view.read(spark).collect()
    assert len(rows) == 1 and rows[0]["n_rows"] == 1 and rows[0]["val_sum"] == 10.0


def test_maintained_agg_view_crash_between_commits(spark, tmp_path):
    """Crash AFTER the view commit but BEFORE the mirror commit: the
    foreachBatch replay re-applies the batch — view skips by id, mirror
    merges idempotently, and the two agree afterwards."""
    from tabular_cdc_bootstrapper_spark.operators.cdc import apply_changelog
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    view = _mk_view(tmp_path)
    mirror = ParquetStateTable(str(tmp_path / "m"))
    schema = "id long, grp string, val double, op string, ts long"
    b0 = spark.createDataFrame([(k, "g", 1.0, "I", 0) for k in range(5)], schema)
    before = mirror.read(spark)
    view.apply_batch(spark, b0, 0, before)
    # crash here: mirror.commit never ran; streaming replays batch 0
    before = mirror.read(spark)  # still None
    view.apply_batch(spark, b0, 0, before)  # skipped
    mirror.commit(
        apply_changelog(b0, "id", "ts", mirror=before, mirror_ts=F.lit(-1),
                        drop_envelope=("op", "ts"))
    )
    expect = mirror.read(spark).groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("val").alias("s")
    ).collect()[0]
    got = view.read(spark).collect()[0]
    assert (got["n_rows"], got["val_sum"]) == (expect["n"], expect["s"])


def test_main_entry_auto_discover(tmp_path, monkeypatch):
    """SPARK_CDC_AUTO_DISCOVER=1 (reference README.md:8): the monitored
    dir is a ROOT of per-table folders. Run 1 sees two folders → two
    (changelog, mirror) pairs, each replayed to its own golden state.
    A third folder appears → run 2 bootstraps and loads it without
    touching the first two (their checkpoints consume nothing new)."""
    root = tmp_path / "staged"
    exp = {}
    for i, name in enumerate(["home_api", "work_api"]):
        exp[name] = generate(str(root / name), seed=100 + i)

    monkeypatch.setenv("SPARK_CDC_AUTO_DISCOVER", "1")
    monkeypatch.setenv("TABULAR_CDC_ID_FIELD", "id")
    monkeypatch.setenv("TABULAR_CDC_TIMESTAMP_FIELD", "ts")
    monkeypatch.setenv("SPARK_CDC_SOURCE_DIR", str(root))
    monkeypatch.setenv("SPARK_CDC_WORK_DIR", str(tmp_path / "work"))
    monkeypatch.delenv("TABULAR_BUCKET_NAME", raising=False)
    monkeypatch.delenv("TABULAR_BUCKET_MONITOR_PATH", raising=False)

    from tabular_cdc_bootstrapper_spark.__main__ import main

    assert main() == 0
    spark = __import__(
        "tabular_cdc_bootstrapper_spark.session", fromlist=["get_spark"]
    ).get_spark()
    for name in ("home_api", "work_api"):
        assert spark.catalog.tableExists(f"cdc_bootstrap.{name}")
        assert spark.catalog.tableExists(f"cdc_bootstrap.{name}_changelog")
        assert _mirror_dict(spark.table(f"cdc_bootstrap.{name}")) == exp[name]

    # a new folder path is detected on the next run
    exp["crm_api"] = generate(str(root / "crm_api"), seed=300)
    assert main() == 0
    assert _mirror_dict(spark.table("cdc_bootstrap.crm_api")) == exp["crm_api"]
    for name in ("home_api", "work_api"):  # untouched pairs stay correct
        assert _mirror_dict(spark.table(f"cdc_bootstrap.{name}")) == exp[name]


def test_main_poll_infers_each_schema_once_and_reads_no_mirror(
    tmp_path, monkeypatch, caplog
):
    """One auto-discover poll runs one schema-inference footer job per
    folder (the bootstrap's, reused by the pipeline loop) and no Spark job
    just to log the mirror: the log line carries the head version. A
    folder that holds no data yet is bootstrapped and its pipeline
    skipped."""
    import logging
    import re

    from pyspark.sql.readwriter import DataFrameReader

    from tabular_cdc_bootstrapper_spark.__main__ import main
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    root = tmp_path / "staged"
    expected = generate(str(root / "orders_api"), seed=5)
    (root / "empty_api").mkdir()
    monkeypatch.setenv("SPARK_CDC_AUTO_DISCOVER", "1")
    monkeypatch.setenv("TABULAR_CDC_ID_FIELD", "id")
    monkeypatch.setenv("TABULAR_CDC_TIMESTAMP_FIELD", "ts")
    monkeypatch.setenv("SPARK_CDC_SOURCE_DIR", str(root))
    monkeypatch.setenv("SPARK_CDC_WORK_DIR", str(tmp_path / "work"))
    monkeypatch.delenv("TABULAR_BUCKET_NAME", raising=False)
    monkeypatch.delenv("TABULAR_BUCKET_MONITOR_PATH", raising=False)
    monkeypatch.delenv("SPARK_CDC_MIRROR_LAYOUT", raising=False)
    assert main() == 0  # bootstrap + initial load

    inferred: list[str] = []
    mirror_reads: list[str] = []
    parquet, read = DataFrameReader.parquet, ParquetStateTable.read

    def counting_parquet(self, *paths, **kw):
        inferred.extend(
            os.path.basename(p) for p in map(str, paths) if os.path.dirname(p).endswith(str(root))
        )
        return parquet(self, *paths, **kw)

    def counting_read(self, *a, **kw):
        mirror_reads.append(self.root)
        return read(self, *a, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    monkeypatch.setattr(ParquetStateTable, "read", counting_read)
    caplog.set_level(logging.INFO)
    assert main() == 0  # a poll with nothing new
    assert sorted(inferred) == ["empty_api", "orders_api"]
    assert mirror_reads == []
    assert re.search(r"pipeline complete for orders_api: mirror version=\d+", caplog.text)
    assert "no data yet under" in caplog.text
    assert not (tmp_path / "work" / "empty_api").exists()
    monkeypatch.undo()
    spark = __import__(
        "tabular_cdc_bootstrapper_spark.session", fromlist=["get_spark"]
    ).get_spark()
    assert _mirror_dict(spark.table("cdc_bootstrap.orders_api")) == expected
