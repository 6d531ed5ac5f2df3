"""Tests of the benchmark itself. From the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start one benchmark process per workload at a small
scale (about a minute each); the pipeline-semantics test runs Spark in
this process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(ROOT))

import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _stream(folder: Path, seed: int) -> list[str]:
    st = gen.TableStream(str(folder), "orders", seed, 400, gen.ChangeMix(rows=120, zipf=1.3))
    st.write_load()
    for _ in range(3):
        st.write_batch()
    return sorted(os.listdir(folder))


def test_same_seed_gives_byte_identical_files(tmp_path):
    names = _stream(tmp_path / "a", 7)
    assert names == _stream(tmp_path / "b", 7)
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes()
    fa = gen.write_fixtures(str(tmp_path / "fa"), 7, 300)
    fb = gen.write_fixtures(str(tmp_path / "fb"), 7, 300)
    for t in fa:
        assert Path(fa[t]).read_bytes() == Path(fb[t]).read_bytes()


def test_other_seed_gives_other_files(tmp_path):
    _stream(tmp_path / "a", 7)
    _stream(tmp_path / "b", 8)
    n = gen.batch_file(2)
    assert (tmp_path / "a" / n).read_bytes() != (tmp_path / "b" / n).read_bytes()


def test_batches_carry_the_change_mix(tmp_path):
    st = gen.TableStream(str(tmp_path), "orders", 3, 2_000, gen.ChangeMix(rows=1_000))
    st.write_load()
    first = pq.read_table(st.write_batch()[0]).to_pandas()
    second = pq.read_table(st.write_batch()[0]).to_pandas()
    assert set(first["op"]) == {"I", "U", "D"}
    # late events carry a sequence number older than the batch they land in
    assert (second["transact_seq"] < str(2 * gen.SEQ_SPAN).zfill(gen.SEQ_WIDTH)).sum() >= 30
    # redelivered events are exact copies of events of the previous file
    dup = second.merge(first, how="inner")
    assert len(dup) >= 30


def test_oracle_fold_matches_the_golden_scenario(tmp_path):
    sys.path.insert(0, str(ROOT / "tests"))
    import dms_scenario

    expected = dms_scenario.generate(str(tmp_path), seed=42)
    state = gen.fold([str(p) for p in tmp_path.glob("*.parquet")], ts="ts")
    got = {
        int(r["id"]): {"id": int(r["id"]), "name": r["name"], "modification_date": r["modification_date"]}
        for r in state.to_dict("records")
    }
    assert got == expected


def _rows(ids, ops, seqs, names):
    return pa.table({"id": ids, "op": ops, "transact_seq": seqs, "name": names})


def _per_batch_scenario(folder: Path) -> None:
    """Each rule of the per-batch law on three keys."""
    folder.mkdir(exist_ok=True)
    pq.write_table(_rows([1, 2, 3], ["I", "I", "I"], ["01", "02", "03"], ["a", "b", "c"]), folder / gen.LOAD_FILE)
    # key 1 updated then deleted in one file; key 2 updated
    pq.write_table(_rows([1, 1, 2], ["U", "D", "U"], ["10", "11", "12"], ["a1", "a1", "b2"]),
                   folder / gen.batch_file(1))
    # key 1: an update older than its delete, redelivered in a later file;
    # key 2: a redelivery with an equal sequence number; key 3: a delete
    # older than the row it would remove
    pq.write_table(_rows([1, 2, 3], ["U", "U", "D"], ["10", "12", "00"], ["a1", "b2", "c"]),
                   folder / gen.batch_file(2))


def test_oracle_folds_file_by_file_without_tombstones(tmp_path):
    _per_batch_scenario(tmp_path)
    state = gen.fold([str(p) for p in tmp_path.glob("*.parquet")])
    rows = {r["id"]: (r["name"], r["transact_seq"], r["_src_file"]) for r in state.to_dict("records")}
    assert rows == {
        # no tombstone survives batch 1, so the older update brings key 1 back
        1: ("a1", "10", gen.batch_file(2)),
        # equal sequence numbers: the later file wins
        2: ("b2", "12", gen.batch_file(2)),
        # a delete older than the row loses to it
        3: ("c", "03", gen.LOAD_FILE),
    }


def test_checksum_is_order_independent():
    df = pd.DataFrame({"id": [1, 2, 3], "x": ["a", "b", "c"], "_src_file": ["file:///p/f1", "/q/f2", "f3"]})
    shuffled = df.iloc[[2, 0, 1]].assign(_src_file=["f3", "f1", "f2"])
    assert gen.checksum(df) == gen.checksum(shuffled)
    assert gen.checksum(df) != gen.checksum(df.assign(x=["a", "b", "d"]))


def test_tail_needs_ten_samples_beyond_it():
    assert workloads.tail([1.0] * 10)[0] is None
    v, pct, n = workloads.tail([float(i) for i in range(1, 21)])
    assert (v, n) == (10.0, 20) and pct == 50.0


def test_benchmark_json_matches_the_code():
    e2e = [(m["name"], m["unit"], m["better"]) for m in SPEC["end_to_end"]]
    assert e2e == [(n, u, b) for n, u, b in workloads.E2E]
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == layers.PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} <= set(workloads.SIZES)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def _run(workload: str, trace: int, tmp_path: Path) -> tuple[dict, dict, int]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "0", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert len(lines) >= 2, proc.stderr[-3000:]
    return json.loads(lines[-2])["detail"], json.loads(lines[-1]), proc.returncode


@pytest.mark.parametrize("workload", ["cli_poll", "cow_merge", "mor_reads", "registry_mix"])
def test_smoke_prints_every_end_to_end_metric(workload, tmp_path):
    detail, result, rc = _run(workload, 0, tmp_path)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1 and rc == (0 if result["correct"] else 1)
    want = workloads.MIX_E2E if workload == "registry_mix" else workloads.E2E
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {n: u for n, u, _ in want}
    for n, _, _ in want:
        assert result["metrics"][n]["value"] > 0, n
    for name in ("visible_p50_s", "visible_tail_s", "scan_p50_s", "scan_tail_s", "lookup_p50_s",
                 "change_rows_per_s", "write_amp", "space_amp", "mix_pass_s", "ops_failed_ratio",
                 "peak_rss_mb", "reference_p50_s"):
        assert name in detail


@pytest.mark.parametrize("workload", ["cli_poll", "cow_merge"])
def test_traced_run_prints_every_per_layer_metric(workload, tmp_path):
    detail, result, _ = _run(workload, 1, tmp_path)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {n: u for n, u, _ in layers.metric_list(workload)}
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["ingest.jobs"] > 0 and m["merge.jobs"] > 0 and m["commit.count"] > 0
    assert detail["trace.loose_jobs"] == 0
    # self times of every span plus the benchmark's own account for the loop
    selfs = detail["trace.self_s"]
    assert abs(sum(selfs.values()) + m["bench.self_s"] - m["loop.cycle_wall_s"]) < 0.01 * m["loop.cycle_wall_s"]


def test_fails_fast_without_the_engine(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in BENCH.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_bytes(f.read_bytes())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cow_merge", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_MASTER", "local[2]")
    from tabular_cdc_bootstrapper_spark.session import get_spark

    return get_spark("perfbench-tests", shuffle_partitions=2, extra_conf={"spark.ui.showConsoleProgress": "false"})


@pytest.mark.parametrize("layout", ["snapshot", "bucketed_versioned", "bucketed_versioned_mor"])
def test_oracle_matches_the_engine_file_by_file(spark, layout, tmp_path):
    """The oracle and the engine agree on the per-batch law, landing one
    file per pipeline call as the benchmark does."""
    from pyspark.sql.pandas.types import from_arrow_schema

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming import pipeline

    staged, src = tmp_path / "staged", tmp_path / "src"
    _per_batch_scenario(staged)
    src.mkdir()
    schema = from_arrow_schema(pq.read_schema(staged / gen.LOAD_FILE))
    oracle = gen.Oracle()
    for name in sorted(os.listdir(staged)):
        (src / name).write_bytes((staged / name).read_bytes())
        oracle.add_file(str(src / name))
        mirror = pipeline.run_cdc_pipeline_available_now(
            spark, str(src), schema, str(tmp_path / "work"), CdcTarget(source_uri=str(src)), mirror_layout=layout
        )["mirror"]
        df = mirror.read(spark)
        assert workloads.frame_checksum(df) == workloads.state_checksum(oracle.state(), df), name
    assert sorted(oracle.state()["id"]) == [1, 2, 3]
