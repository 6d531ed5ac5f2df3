"""General MERGE INTO (operators/merge.py): action precedence, conditional
updates, insert gating, null-safe keys, schema preservation. Oracle parity
at fixture scale: test_oracle_parity (merge_orders_corrections)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.operators.merge import merge_into, src


def _t(spark, rows):
    return spark.createDataFrame(rows, "k long, v long")


def _s(spark, rows):
    return spark.createDataFrame(rows, "k long, v long, op string")


def test_merge_update_delete_insert_in_one_pass(spark):
    target = _t(spark, [(1, 10), (2, 20), (3, 30)])
    source = _s(spark, [(1, 11, "U"), (2, 0, "D"), (9, 90, "I")])
    out = merge_into(
        target,
        source,
        on=["k"],
        update_cond=src("op") == "U",
        update_set={"v": src("v")},
        delete_cond=src("op") == "D",
        insert_cond=src("op") == "I",
    )
    assert {(r.k, r.v) for r in out.collect()} == {(1, 11), (3, 30), (9, 90)}
    assert out.columns == target.columns  # exactly the target schema


def test_merge_delete_takes_precedence_over_update(spark):
    """A matched row satisfying both conditions must be DELETED (standard
    MERGE precedence), never updated."""
    target = _t(spark, [(1, 10)])
    source = _s(spark, [(1, 99, "D")])
    out = merge_into(
        target,
        source,
        on=["k"],
        update_cond=F.lit(True),
        update_set={"v": src("v")},
        delete_cond=src("op") == "D",
    )
    assert out.count() == 0


def test_merge_conditional_update_keeps_nonqualifying_rows(spark):
    target = _t(spark, [(1, 10), (2, 20)])
    source = _s(spark, [(1, 11, "U"), (2, 22, "X")])
    out = merge_into(
        target,
        source,
        on=["k"],
        update_cond=src("op") == "U",
        update_set={"v": src("v")},
        insert_cond=F.lit(False),
    )
    assert {(r.k, r.v) for r in out.collect()} == {(1, 11), (2, 20)}


def test_merge_insert_gate_blocks_unqualified_source_rows(spark):
    target = _t(spark, [(1, 10)])
    source = _s(spark, [(8, 80, "I"), (9, 90, "X")])
    out = merge_into(
        target, source, on=["k"], insert_cond=src("op") == "I"
    )
    assert {(r.k, r.v) for r in out.collect()} == {(1, 10), (8, 80)}


def test_merge_update_can_reference_both_sides(spark):
    target = _t(spark, [(1, 10)])
    source = _s(spark, [(1, 5, "U")])
    out = merge_into(
        target,
        source,
        on=["k"],
        update_set={"v": F.col("v") + src("v")},
    )
    assert [(r.k, r.v) for r in out.collect()] == [(1, 15)]


def test_merge_null_keys_match_null_safely(spark):
    """eqNullSafe join keys: a NULL target key matches a NULL source key
    (one matched pair), not the cartesian of nothing."""
    target = spark.createDataFrame([(None, 10), (2, 20)], "k long, v long")
    source = spark.createDataFrame(
        [(None, 99, "U")], "k long, v long, op string"
    )
    out = merge_into(
        target,
        source,
        on=["k"],
        update_set={"v": src("v")},
        insert_cond=F.lit(False),
    )
    assert {(r.k, r.v) for r in out.collect()} == {(None, 99), (2, 20)}


def test_merge_single_shuffle_plan(spark):
    """The merge is one full-outer join: exactly one exchange pair, no
    cartesian/nested-loop fallback."""
    from tabular_cdc_bootstrapper_spark.plans.inspect import physical_plan

    target = _t(spark, [(1, 10)])
    source = _s(spark, [(1, 11, "U")])
    out = merge_into(target, source, on=["k"], update_set={"v": src("v")})
    plan = physical_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_merge_null_condition_acts_as_false(spark):
    """A WHEN condition evaluating to NULL must behave as FALSE (standard
    MERGE), not drop the row through three-valued logic."""
    target = _t(spark, [(1, 10)])
    source = spark.createDataFrame([(1, 11, None)], "k long, v long, op string")
    out = merge_into(
        target,
        source,
        on=["k"],
        update_cond=src("op") == "U",
        update_set={"v": src("v")},
        delete_cond=src("op") == "D",  # NULL op → NULL cond → keep
    )
    assert [(r.k, r.v) for r in out.collect()] == [(1, 10)]


def test_merge_rejects_multiple_source_rows_per_key(spark):
    """Iceberg/Delta MERGE semantics: two source rows matching one target
    key is an error, not silent duplication."""
    import pytest

    target = _t(spark, [(1, 10)])
    source = _s(spark, [(1, 11, "U"), (1, 12, "U")])
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_into(target, source, on=["k"], update_set={"v": src("v")})
    # opt-out for sources known-unique upstream skips the validation scan
    out = merge_into(
        target,
        _s(spark, [(1, 11, "U")]),
        on=["k"],
        update_set={"v": src("v")},
        validate_unique_source=False,
    )
    assert [(r.k, r.v) for r in out.collect()] == [(1, 11)]


# --- merge_into_table: committed MERGE with snapshot semantics (r9) ---


def _make_table(kind, root, key="k"):
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    if kind == "snapshot":
        return ParquetStateTable(str(root), keep_versions=10)
    # "bucketed" is an alias of the "bucketed_versioned" layout
    return VersionedBucketMirror(
        str(root), n_buckets=8, key_col=key, keep_versions=10
    )


import pytest as _pytest


@_pytest.mark.parametrize(
    "layout", ["snapshot", "bucketed_versioned"]
)
def test_merge_into_table_commits_across_layouts(spark, tmp_path, layout):
    """VERDICT r8 task 4: a general MERGE lands as ONE commit on every
    storage layout, with identical post-merge state."""
    from tabular_cdc_bootstrapper_spark.operators.merge import (
        merge_into_table,
        src,
    )

    t = _make_table(layout, tmp_path / layout)
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "k long, v long"
    )
    if layout == "snapshot":
        t.commit(base)
    else:
        t.initialize(base)
    source = spark.createDataFrame(
        [(1, 111, "U"), (2, 0, "D"), (99, 990, "I")], "k long, v long, op string"
    )
    rec = merge_into_table(
        spark,
        t,
        source,
        on=["k"],
        update_cond=src("op") == "U",
        update_set={"v": src("v")},
        delete_cond=src("op") == "D",
        insert_cond=src("op") == "I",
    )
    got = {(r.k, r.v) for r in t.read(spark).drop("bucket").collect()}
    expect = {(i, i * 10) for i in range(20) if i != 2}
    expect.discard((1, 10))
    expect |= {(1, 111), (99, 990)}
    assert got == expect
    if layout != "snapshot":
        assert "touched_buckets" in rec and rec["touched_buckets"]


@_pytest.mark.parametrize(
    "layout", ["snapshot", "bucketed_versioned"]
)
def test_merge_into_table_schema_evolution(spark, tmp_path, layout):
    """MERGE with evolve_schema: a source-only column joins the target
    schema; untouched rows read NULL, matched rows update from source,
    inserted rows carry it — on both layouts (the bucketed mirror
    rewrites only touched buckets; mergeSchema reads span versions)."""
    from tabular_cdc_bootstrapper_spark.operators.merge import (
        merge_into_table,
        src,
    )

    t = _make_table(layout, tmp_path / layout)
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "k long, v long"
    )
    if layout == "snapshot":
        t.commit(base)
    else:
        t.initialize(base)
    source = spark.createDataFrame(
        [(1, 111, "gold"), (99, 990, "new")], "k long, v long, tier string"
    )
    merge_into_table(
        spark, t, source, on=["k"],
        update_set={"v": src("v")},
        evolve_schema=True,
    )
    out = t.read(spark)
    assert "tier" in out.columns
    got = {(r.k, r.v, r.tier) for r in out.drop("bucket").collect()}
    assert (1, 111, "gold") in got
    assert (99, 990, "new") in got
    assert (5, 50, None) in got  # untouched row reads NULL
    assert len(got) == 21


@_pytest.mark.parametrize("layout", ["snapshot", "bucketed_versioned"])
def test_merge_into_table_is_time_travelable(spark, tmp_path, layout):
    """On snapshot-logged tables a merge shows in history(), the
    pre-merge state stays readable, and table_changes(pre, post) is
    exactly the merge's effect — including across a schema-evolution
    boundary (pre-evolution side aligns as typed NULL, Delta CDF
    behavior)."""
    from tabular_cdc_bootstrapper_spark.operators.merge import (
        merge_into_table,
        src,
    )
    from tabular_cdc_bootstrapper_spark.streaming.feeds import table_changes

    t = _make_table(layout, tmp_path / layout)
    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "k long, v long"
    )
    if layout == "snapshot":
        t.commit(base)
    else:
        t.initialize(base)
    v0 = t.current()["version"]
    merge_into_table(
        spark, t, source=spark.createDataFrame(
            [(1, 111, "x"), (2, 0, "y"), (9, 90, "z")],
            "k long, v long, tag string",
        ),
        on=["k"],
        update_cond=src("v") > 100,
        update_set={"v": src("v")},
        delete_cond=src("v") == 0,
        evolve_schema=True,
    )
    v1 = t.current()["version"]
    hist = [e["version"] for e in t.history()]
    assert v0 in hist and v1 in hist and v1 > v0
    # pre-merge state intact
    pre = {(r.k, r.v) for r in t.read_version(spark, v0).drop("bucket").collect()}
    assert pre == {(1, 10), (2, 20), (3, 30)}
    # CDF across the evolution boundary
    feed = {
        (r.k, r.op, r.v, r.tag)
        for r in table_changes(
            spark, t, v0, v1, key_cols="k", drop_cols=("bucket",)
        ).collect()
    }
    # k=3 is untouched: its evolved column reads NULL on both sides, so
    # the minimal feed must NOT re-emit it
    assert feed == {
        (1, "U", 111, "x"),
        (2, "D", None, None),
        (9, "I", 90, "z"),
    }


def test_merge_into_table_first_merge_bootstraps_empty_table(spark, tmp_path):
    from tabular_cdc_bootstrapper_spark.operators.merge import merge_into_table
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=5)
    src_df = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    merge_into_table(spark, t, src_df, on=["k"])
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {(1, 10), (2, 20)}


def test_merge_meta_recorded_on_versioned_bucket_mirror(spark, tmp_path):
    """ADVICE r9: merge provenance must be layout-consistent — the
    versioned mirror's manifest records the same 'operation: merge'
    marker (plus caller meta) the snapshot table's pointer does."""
    from tabular_cdc_bootstrapper_spark.operators.merge import merge_into_table
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    t = VersionedBucketMirror(
        str(tmp_path / "t"), n_buckets=8, key_col="k", keep_versions=10
    )
    t.initialize(spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"))
    merge_into_table(
        spark,
        t,
        spark.createDataFrame([(2, 22)], "k long, v long"),
        on=["k"],
        meta={"job": "corrections"},
    )
    head = t.history()[-1]
    assert head["operation"] == "merge" and head["job"] == "corrections"
    assert "operation" not in t.history()[0]  # CDC/init commits unmarked


@_pytest.mark.parametrize(
    "layout", ["snapshot", "bucketed_versioned"]
)
def test_merge_into_table_type_widening(spark, tmp_path, layout):
    """widen_types=True (VERDICT r10 task 9): an int target column whose
    source grew to bigint (value beyond 2^31 proves the need) widens
    losslessly on merge, on both layouts; pre-merge snapshots
    keep the narrow type and the CDF reads through the boundary."""
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.operators.merge import (
        merge_into_table,
        src,
    )
    from tabular_cdc_bootstrapper_spark.streaming.feeds import table_changes

    t = _make_table(layout, tmp_path / layout)
    init = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long").select(
        "k", F.col("v").cast("int").alias("v"), F.lit(1.5).cast("float").alias("w")
    )
    if layout == "snapshot":
        t.commit(init)
    else:
        t.initialize(init)
    big = 2**35
    source = spark.createDataFrame(
        [(2, big, 2.5), (9, big + 1, 3.5)], "k long, v long, w double"
    )
    merge_into_table(
        spark,
        t,
        source,
        on=["k"],
        update_set={"v": src("v"), "w": src("w")},
        widen_types=True,
    )
    out = t.read(spark)
    if "bucket" in out.columns:
        out = out.drop("bucket")
    types = dict(out.dtypes)
    assert types["v"] == "bigint" and types["w"] == "double"
    assert {(r.k, r.v) for r in out.collect()} == {
        (1, 10),
        (2, big),
        (9, big + 1),
    }
    # every layout keeps history: the CDF reads through the boundary
    pre = t.read_version(spark, 0)
    if "bucket" in pre.columns:
        pre = pre.drop("bucket")
    assert dict(pre.dtypes)["v"] == "int"  # old snapshot keeps narrow type
    feed = {
        (r.k, r.op, r.v)
        for r in table_changes(
            spark, t, 0, 1, key_cols="k", drop_cols=("bucket",)
        ).collect()
    }
    assert feed == {(2, "U", big), (9, "I", big + 1)}


def test_merge_widening_rejects_lossy_and_leaves_unrelated(spark, tmp_path):
    """long->int (narrowing) and long->double (lossy past 2^53) must NOT
    rewrite the target schema even with widen_types=True."""
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.operators.merge import (
        merge_into_table,
        src,
    )
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=5)
    t.commit(
        spark.createDataFrame([(1, 10)], "k long, v long").select(
            "k", F.col("v").cast("long").alias("v")
        )
    )
    source = spark.createDataFrame([(1, 11), (2, 22)], "k long, v long").select(
        "k", F.col("v").cast("int").alias("v")
    )
    merge_into_table(
        spark, t, source, on=["k"], update_set={"v": src("v")},
        widen_types=True,
    )
    out = t.read(spark)
    assert dict(out.dtypes)["v"] == "bigint"  # narrowing never applied
    assert {(r.k, r.v) for r in out.collect()} == {(1, 11), (2, 22)}


def test_merge_evolve_plus_widen_on_plain_bucketed_mirror(spark, tmp_path):
    """evolve_schema=True + widen_types=True on the copy-on-write bucketed
    mirror (ADVICE r10): widening touches the source's buckets only, yet
    the evolved column and its source values must land and every
    untouched row must read through the manifest schema."""
    from tabular_cdc_bootstrapper_spark.operators.merge import (
        merge_into_table,
        src,
    )

    t = _make_table("bucketed", tmp_path / "t")
    t.initialize(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long").select(
            "k", F.col("v").cast("int").alias("v")
        )
    )
    big = 2**35
    source = spark.createDataFrame(
        [(2, big, "fresh"), (9, big + 1, "new")], "k long, v long, note string"
    )
    merge_into_table(
        spark,
        t,
        source,
        on=["k"],
        update_set={"v": src("v")},
        evolve_schema=True,
        widen_types=True,
    )
    out = t.read(spark)
    types = dict(out.dtypes)
    assert types["v"] == "bigint" and types["note"] == "string"
    assert {(r.k, r.v, r.note) for r in out.collect()} == {
        (1, 10, None),
        (2, big, "fresh"),
        (9, big + 1, "new"),
    }


def test_merge_widen_on_legacy_schemaless_versioned_mirror(spark, tmp_path):
    """widen_types on a VersionedBucketMirror whose current manifest has
    no recorded schema (pre-r10 table) must full-rewrite instead of
    widening only touched buckets (ADVICE r10: a touched-only widen
    leaves mixed int/bigint dirs the mergeSchema fallback read cannot
    reconcile) — and the rewrite upgrades the table to a schema'd
    manifest."""
    import json
    import os

    from tabular_cdc_bootstrapper_spark.operators.merge import (
        merge_into_table,
        src,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    t = VersionedBucketMirror(
        str(tmp_path / "t"), n_buckets=8, key_col="k", keep_versions=10
    )
    t.initialize(
        spark.createDataFrame(
            [(i, i * 10) for i in range(12)], "k long, v long"
        ).select("k", F.col("v").cast("int").alias("v"))
    )
    # simulate a pre-r10 table: strip the recorded schema from the
    # manifest log entry and the CURRENT pointer
    for p in (
        os.path.join(t.root, "_log", "v-00000000.json"),
        t._log.pointer_path,
    ):
        with open(p) as fh:
            rec = json.load(fh)
        rec.pop("schema", None)
        with open(p, "w") as fh:
            json.dump(rec, fh)
    assert "schema" not in t.current()
    big = 2**35
    source = spark.createDataFrame([(1, big)], "k long, v long")
    merge_into_table(
        spark, t, source, on=["k"], update_set={"v": src("v")},
        widen_types=True,
    )
    # the new snapshot must be readable (the bug left mixed-type dirs
    # that failed to read) with the widened type everywhere
    out = t.read(spark)
    types = dict(out.dtypes)
    assert types["v"] == "bigint"
    rows = {(r.k, r.v) for r in out.collect()}
    assert (1, big) in rows and len(rows) == 12
    # and the commit recorded a schema: the table is upgraded off the
    # legacy mergeSchema path
    assert "schema" in t.current()
