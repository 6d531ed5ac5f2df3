"""The four workloads, their set-up, and the end-to-end figures.

Every workload is one closed-loop client: the next change file lands
only after the previous pipeline call returned. A run is

1. session start (once per process) and package shipping;
2. ``SETUP_REPEATS`` set-ups, each in a fresh directory with the same
   seed (inputs plus the initial load or catalog bootstrap), reported as
   their median; the last one's state carries on into
3. warm-up cycles (a batch with its reads, or one pass of the query mix),
   where a workload has them;
4. the measured loop: a fixed number of whole periods,
   ``round(--seconds / nominal period time)`` and at least one, so the
   batches, counters and oracle checks depend only on the code, the seed
   and ``--seconds``, not on the host's speed. After every measured
   cycle, the reference query runs ``REFERENCE_RUNS`` times;
5. the oracle check of the final state.

``setup_s`` = session start (from process start) + shipping + the
median set-up + warm-up.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
from collections import defaultdict

import numpy as np
import pandas as pd

import gen
import layers
from spans import Tracer

#: A gated run is one process; a full gate run makes 4 + 22 of them per
#: gated workload and must fit 3,420 s, on a host whose speed drifts up to
#: 3x. Two set-ups, no warm-up cycle and these sizes keep a gated process
#: near 35 s on a calm 4-core host and about 65 s on a slow one.
SETUP_REPEATS = 2
REFERENCE_RUNS = 4  # reference queries after every measured cycle
ORDERS = "orders"

#: workload → sizes at ``--scale 1``; rows are change events per file.
#: ``period_s`` is the nominal time of one period (a cycle, or two for
#: mor_reads) on a calm 4-core host; the loop runs
#: ``round(--seconds / period_s)`` periods.
SIZES = {
    "cli_poll": {"initial": 6_000, "batch": 300, "warmup": 0, "scans": 2, "lookups": 2, "period_s": 2.6},
    "cow_merge": {"initial": 12_000, "batch": 1_500, "zipf": 1.3, "warmup": 0, "scans": 2, "lookups": 2,
                  "period_s": 3.0},
    "mor_reads": {"initial": 12_000, "batch": 500, "warmup": 2, "scans": 1, "lookups": 1,
                  "compact_every": 2, "expire_every": 4, "period_s": 9.0},
    "registry_mix": {"orders": 5_000, "warmup": 1, "period_s": 20.0},
}
MIX_DML = ("mor_merge_fold_roundtrip", "table_sql_lifecycle", "sql_optimize_zorder", "mirror_dml_delete_update")
MIX_READ = ("q1_pricing_summary", "q6_forecast_revenue", "minhash_near_duplicates")
LOOKUP_KEYS = 5


def scaled(n: int, scale: float) -> int:
    return max(int(n * scale), 10)


def tail(values: list[float]) -> tuple[float | None, float | None, int]:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, sample count); None when n < 11."""
    n = len(values)
    if n < 11:
        return None, None, n
    v = sorted(values)
    return v[n - 11], round(100.0 * (n - 10) / n, 1), n


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def created_bytes(before: dict, after: dict) -> int:
    return sum(sz for p, (sz, m) in after.items() if before.get(p) != (sz, m))


def removed_bytes(before: dict, after: dict) -> int:
    return sum(sz for p, (sz, _) in before.items() if p not in after)


def dir_bytes(root: str) -> int:
    return sum(sz for sz, _ in dir_files(root).values())


def agg_row(df) -> tuple:
    """The scan aggregate every pipeline workload checks (payload columns
    only, so it also holds for a catalog table that hides the envelope)."""
    from pyspark.sql import functions as F

    r = df.agg(F.count("*"), F.sum("id"), F.sum("o_custkey")).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def oracle_agg(state: pd.DataFrame) -> tuple:
    return len(state), int(state["id"].sum()), int(state["o_custkey"].sum())


def frame_checksum(df) -> tuple[int, int]:
    return gen.checksum(df.toPandas())


def state_checksum(state: pd.DataFrame, df) -> tuple[int, int]:
    """Oracle checksum over the columns ``df`` exposes."""
    return gen.checksum(state[list(df.columns)])


class Run:
    """State of one benchmark process: session, tracer, samples, counts."""

    def __init__(self, args, dirs: dict[str, str], t_process: float) -> None:
        self.args = args
        self.dirs = dirs
        self.t_process = t_process
        self.tracer = Tracer(args.trace == 1)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.once: dict = {}  # figures measured once per run
        self.spark = None
        self.jvm = None

    # -- session ---------------------------------------------------------
    def start(self) -> None:
        from tabular_cdc_bootstrapper_spark.session import get_spark
        from tabular_cdc_bootstrapper_spark.shipping import ensure_self_on_workers

        conf = {
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
            "spark.local.dir": self.dirs["local"],
            # -UsePerfData: the JVM would otherwise write hsperfdata under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dirs['tmp']} -XX:-UsePerfData",
            "spark.eventLog.enabled": "true" if self.tracer.enabled else "false",
            "spark.eventLog.dir": "file://" + self.dirs["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        t0 = time.time()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", extra_conf=conf)
        t1 = time.time()
        with self.tracer.span("session.ship"):
            ensure_self_on_workers(self.spark)
        t2 = time.time()
        self.once["session.start_s"] = t1 - self.t_process
        self.once["session.ship_s"] = t2 - t1
        self.once["session.jvm_s"] = t1 - t0
        from pyspark import SparkContext

        self.jvm = getattr(SparkContext._gateway, "proc", None)

    def peak_rss_mb(self) -> float:
        pids = [os.getpid()] + ([self.jvm.pid] if self.jvm else [])
        kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as fh:
                kb += next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
        return kb / 1024.0

    def stop(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for all."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = descendants(self.jvm.pid) if self.jvm else []
        try:
            self.spark.stop()
        finally:
            self.spark = None
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
            if self.jvm is not None:
                self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    self.jvm.wait(60)
                except subprocess.TimeoutExpired:
                    self.jvm.kill()
                    self.jvm.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            deadline = time.time() + 20
            while kids and time.time() < deadline:
                kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
                time.sleep(0.05)
            for p in kids:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass

    # -- operations ------------------------------------------------------
    def op(self, kind: str, span: str | None, fn, check=None):
        """Run one timed operation, inside a span unless ``span`` is None
        (the engine call is already wrapped). ``check(result)`` returns
        an error string or None; a raise or a failed check counts as
        failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if span is None:
                out = fn()
            else:
                with self.tracer.span(span):
                    out = fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is a measured outcome
            self.fail(f"{kind}: {type(exc).__name__}: {exc}")
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        self.samples[kind].append(dt)
        err = check(out) if check else None
        if err:
            self.fail(f"{kind}: {err}")
        return out, dt

    def read(self, kind: str, plan, execute, want) -> float:
        """One read operation: planned (the engine call that returns a
        DataFrame, span ``read.plan``), then executed (span
        ``read.exec``); ``execute(df)`` must equal ``want``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("read", kind=kind):
                with self.tracer.span("read.plan"):
                    df = plan()
                with self.tracer.span("read.exec"):
                    got = execute(df)
        except Exception as exc:  # noqa: BLE001 — a failed op is a measured outcome
            self.fail(f"{kind}: {type(exc).__name__}: {exc}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        self.samples[kind].append(dt)
        if got != want:
            self.fail(f"{kind}: got {got}, want {want}")
        return dt

    def reference(self) -> None:
        """Time one fixed Spark query that runs no engine code: planning, a
        4-partition scan, a shuffle and a collect — the kinds of fixed cost
        that dominate the engine's small operations. It runs between the
        cycles, in the same minutes as the engine, so a host that slows
        down slows both."""
        t0 = time.perf_counter()
        with self.tracer.span("reference"):
            self.spark.range(0, 200_000, 1, 4).selectExpr("id % 16 AS k").groupBy("k").count().collect()
        self.samples["reference"].append(time.perf_counter() - t0)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg[:500])


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids[ppid].append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.extend(kids[p])
        todo.extend(kids[p])
    return out


# ---------------------------------------------------------------------------
# pipeline workloads: cow_merge, mor_reads
# ---------------------------------------------------------------------------


class MirrorLoop:
    """``run_cdc_pipeline_available_now`` on one orders-derived folder."""

    def __init__(self, run: Run, layout: str, size: dict) -> None:
        self.run = run
        self.layout = layout
        self.size = size
        #: maintenance runs once a period, so the loop stops on whole periods
        self.period = size.get("compact_every") or 1

    def setup(self, root: str) -> None:
        from tabular_cdc_bootstrapper_spark.config import CdcTarget

        s, sc = self.size, self.run.args.scale
        self.src = os.path.join(root, "src", ORDERS)
        self.work = os.path.join(root, "work")
        self.stream = gen.TableStream(
            self.src, ORDERS, self.run.args.seed, scaled(s["initial"], sc),
            gen.ChangeMix(rows=scaled(s["batch"], sc), zipf=s.get("zipf", 0.0)),
        )
        self.oracle = gen.Oracle()
        self.target = CdcTarget(source_uri=self.src)
        path, _, _ = self.stream.write_load()
        self.oracle.add_file(path)
        self.schema = None
        self.mirror = self.call()  # initial load
        self.versions: dict[int, tuple] = {}

    def call(self):
        from tabular_cdc_bootstrapper_spark.streaming import pipeline

        if self.schema is None:
            import pyarrow.parquet as pq

            from pyspark.sql.pandas.types import from_arrow_schema

            self.schema = from_arrow_schema(pq.read_schema(os.path.join(self.src, gen.LOAD_FILE)))
        out = pipeline.run_cdc_pipeline_available_now(
            self.run.spark, self.src, self.schema, self.work, self.target, mirror_layout=self.layout,
        )
        return out["mirror"]

    def land(self) -> tuple[int, int]:
        path, rows, nbytes = self.stream.write_batch()
        self.oracle.add_file(path)
        return rows, nbytes

    def cycle(self, b: int) -> float:
        run, s = self.run, self.size
        rows, nbytes = self.land()
        expect = oracle_agg(self.oracle.state())
        before_v = self.mirror.current()["version"]
        mirror_dir = os.path.join(self.work, "mirror")
        files0 = dir_files(self.work)
        mirror0 = {p: v for p, v in files0.items() if p.startswith(mirror_dir)}

        def visible(m) -> str | None:
            v = m.current()["version"]
            return None if v > before_v else f"mirror version stayed at {v}"

        m, dt_vis = run.op("visible", None, self.call, visible)
        total = dt_vis
        if m is None:
            return total
        self.mirror = m
        files1 = dir_files(self.work)
        run.counts["change_rows"] += rows
        run.counts["change_bytes"] += nbytes
        run.counts["pipeline_s"] += dt_vis
        run.counts["written_bytes"] += created_bytes(
            files0, {p: v for p, v in files1.items() if "/_checkpoint" not in p}
        )
        run.counts["merge_bytes"] += created_bytes(
            mirror0, {p: v for p, v in files1.items() if p.startswith(mirror_dir)}
        )
        cur = m.current()
        self.versions[cur["version"]] = expect
        total += self.reads(expect, b)
        if s.get("compact_every") and b % s["compact_every"] == 0:
            total += self.compact(expect)
        if s.get("expire_every") and b % s["expire_every"] == 0:
            total += self.expire()
        return total

    def reads(self, expect: tuple, b: int) -> float:
        run, s, spark = self.run, self.size, self.run.spark
        total = 0.0
        run.counts["read_dirs"] += read_dirs(self.mirror.current()) * s["scans"]
        run.counts["scans"] += s["scans"]
        for _ in range(s["scans"]):
            total += run.read("scan", lambda: self.mirror.read(spark), agg_row, expect)
        state = self.oracle.state()
        rng = np.random.default_rng([self.run.args.seed, 99, b])
        ids = state["id"].to_numpy()
        for _ in range(s["lookups"]):
            keys = [int(k) for k in rng.choice(ids, LOOKUP_KEYS, replace=False)]
            keys.append(int(ids.max()) + 1_000_000)  # an absent key
            want = gen.checksum(state[state["id"].isin(keys)])
            total += run.read("lookup", lambda: self.mirror.read_pruned(spark, "id", keys), frame_checksum, want)
        if self.layout.endswith("mor") and b % self.period == 0:
            v = self.mirror.current()["version"] - 1
            if v in self.versions:
                total += run.read("version", lambda: self.mirror.read_version(spark, v), agg_row, self.versions[v])
        return total

    def compact(self, expect: tuple) -> float:
        run = self.run
        f0 = dir_files(self.work)
        _, dt = run.op("compact", "compact", lambda: self.mirror.rewrite_data_files(run.spark))
        run.counts["compact_bytes"] += created_bytes(f0, dir_files(self.work))
        self.versions[self.mirror.current()["version"]] = expect
        return dt

    def expire(self) -> float:
        run = self.run
        f0 = dir_files(self.work)
        _, dt = run.op("expire", "expire", lambda: self.mirror.expire_snapshots(keep_last=2))
        run.counts["expire_freed"] += removed_bytes(f0, dir_files(self.work))
        return dt

    def finish(self) -> None:
        """Full-state oracle check plus the space figure."""
        run = self.run
        state = self.oracle.state()
        got, _ = run.op(
            "final_check", "final", lambda: frame_checksum(self.mirror.read(run.spark)),
            lambda g: None if g == gen.checksum(state) else f"final state {g} != oracle {gen.checksum(state)}",
        )
        run.counts["space_amp"] = dir_bytes(os.path.join(self.work, "mirror")) / expected_bytes(
            state, self.src, run.dirs["tmp"]
        )


def read_dirs(entry: dict) -> int:
    """Base plus merge-on-read delta dirs a full read of ``entry`` lists."""
    return len(entry.get("buckets") or {}) + sum(len(v) for v in (entry.get("deltas") or {}).values())


def expected_bytes(state: pd.DataFrame, src: str, tmp: str) -> int:
    """Bytes of the expected final state written once, zstd like the mirror."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    df = state.assign(_src_file="file://" + os.path.abspath(src) + "/" + state["_src_file"])
    path = os.path.join(tmp, "expected.parquet")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path, compression="zstd")
    n = os.path.getsize(path)
    os.remove(path)
    return n


# ---------------------------------------------------------------------------
# cli_poll
# ---------------------------------------------------------------------------


class CliPoll:
    """``__main__.main()`` in auto-discover mode over one orders folder."""

    def __init__(self, run: Run, size: dict) -> None:
        self.run = run
        self.size = size
        self.period = 1
        self.n_setup = 0

    def setup(self, root: str) -> None:
        run, s, sc = self.run, self.size, self.run.args.scale
        self.n_setup += 1
        self.root = os.path.join(root, "src")
        self.work = os.path.join(root, "work")
        self.db = f"bench{self.n_setup}"
        self.stream = gen.TableStream(
            os.path.join(self.root, ORDERS), ORDERS, run.args.seed, scaled(s["initial"], sc),
            gen.ChangeMix(rows=scaled(s["batch"], sc)),
        )
        self.oracle = gen.Oracle()
        self.oracle.add_file(self.stream.write_load()[0])
        os.environ.update(
            SPARK_CDC_AUTO_DISCOVER="1",
            SPARK_CDC_SOURCE_DIR=self.root,
            SPARK_CDC_WORK_DIR=self.work,
            TABULAR_TARGET_DATABASE=self.db,
            TABULAR_CDC_ID_FIELD="id",
            TABULAR_CDC_TIMESTAMP_FIELD="transact_seq",
        )
        for k in ("TABULAR_BUCKET_NAME", "TABULAR_BUCKET_MONITOR_PATH", "SPARK_CDC_MIRROR_LAYOUT",
                  "SPARK_CDC_PARTITION_SPEC", "SPARK_CDC_RUN_PIPELINE"):
            os.environ.pop(k, None)
        self.poll()  # bootstrap + initial load

    def poll(self) -> int:
        from tabular_cdc_bootstrapper_spark.__main__ import main

        with self.run.tracer.span("cli"):
            return main()

    def land(self) -> tuple[int, int]:
        path, rows, nbytes = self.stream.write_batch()
        self.oracle.add_file(path)
        return rows, nbytes

    def table(self):
        return self.run.spark.table(f"{self.db}.{ORDERS}")

    def cycle(self, b: int) -> float:
        from pyspark.sql import functions as F

        run = self.run
        rows, nbytes = self.land()
        files0 = dir_files(self.work)
        _, dt = run.op("visible", None, self.poll, lambda rc: None if rc == 0 else f"main() returned {rc}")
        files1 = dir_files(self.work)
        run.counts["change_rows"] += rows
        run.counts["change_bytes"] += nbytes
        run.counts["pipeline_s"] += dt
        keep = {p: v for p, v in files1.items() if "/_checkpoint" not in p}
        run.counts["written_bytes"] += created_bytes(files0, keep)
        run.counts["merge_bytes"] += created_bytes(
            files0, {p: v for p, v in keep.items() if "/mirror/" in p}
        )
        state = self.oracle.state()
        total = dt
        for _ in range(self.size["scans"]):
            run.counts["read_dirs"] += 1  # the snapshot table's current dir
            run.counts["scans"] += 1
            total += run.read("scan", lambda: self.table(), agg_row, oracle_agg(state))
        rng = np.random.default_rng([run.args.seed, 99, b])
        ids = state["id"].to_numpy()
        for _ in range(self.size["lookups"]):
            keys = [int(k) for k in rng.choice(ids, LOOKUP_KEYS, replace=False)]
            want = state_checksum(state[state["id"].isin(keys)], self.table())
            total += run.read(
                "lookup", lambda: self.table().where(F.col("id").isin(keys)), frame_checksum, want
            )
        return total

    def finish(self) -> None:
        run = self.run
        state = self.oracle.state()
        want = state_checksum(state, self.table())
        run.op(
            "final_check", "final", lambda: frame_checksum(self.table()),
            lambda g: None if g == want else f"final state {g} != oracle {want}",
        )
        run.counts["space_amp"] = dir_bytes(os.path.join(self.work, ORDERS, "mirror")) / expected_bytes(
            state, os.path.join(self.root, ORDERS), run.dirs["tmp"]
        )


# ---------------------------------------------------------------------------
# registry_mix
# ---------------------------------------------------------------------------


class RegistryMix:
    """A fixed pass over seven registry queries, checked against DuckDB."""

    def __init__(self, run: Run, size: dict) -> None:
        self.run = run
        self.size = size
        self.period = 1

    def setup(self, root: str) -> None:
        import duckdb

        import __spark_entry__ as entry

        run = self.run
        self.sf_dir = os.path.join(root, "sf")
        paths = gen.write_fixtures(self.sf_dir, run.args.seed, scaled(self.size["orders"], run.args.scale))
        con = duckdb.connect()
        try:
            for t, p in paths.items():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            sql = entry.oracle_sql()
            self.want = {q: normalise(con.execute(sql[q]).df()) for q in MIX_DML + MIX_READ}
        finally:
            con.close()
        self.fns = entry.queries()

    def cycle(self, b: int) -> float:
        run = self.run
        total = 0.0
        for q in MIX_DML + MIX_READ:
            kind = "visible" if q in MIX_DML else "scan"

            def execute(q=q):
                return normalise(self.fns[q](run.spark, self.sf_dir).toPandas())

            def check(got, q=q):
                return None if got.equals(self.want[q]) else f"{q}: {len(got)} rows differ from oracle ({len(self.want[q])})"

            _, dt = run.op(kind, f"mix.{q}", execute, check)
            run.samples[f"mix.{q}"].append(dt)
            run.spark.catalog.clearCache()
            total += dt
        return total

    def finish(self) -> None:
        pass


def normalise(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    return df[cols].astype(str).sort_values(cols).reset_index(drop=True)


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


def make(run: Run):
    w = run.args.workload
    if w == "cow_merge":
        return MirrorLoop(run, "bucketed_versioned", SIZES[w])
    if w == "mor_reads":
        return MirrorLoop(run, "bucketed_versioned_mor", SIZES[w])
    if w == "cli_poll":
        return CliPoll(run, SIZES[w])
    return RegistryMix(run, SIZES[w])


def run(args, dirs: dict[str, str], t_process: float) -> tuple[dict, dict]:
    r = Run(args, dirs, t_process)
    wl = make(r)
    loop_t = [0.0, 0.0]
    cycles: list[float] = []
    try:
        r.start()
        if r.tracer.enabled:
            layers.install(r.tracer)
        setups = []
        for i in range(SETUP_REPEATS):
            t0 = time.time()
            with r.tracer.span("setup"):
                wl.setup(os.path.join(dirs["data"], f"s{i}"))
            setups.append(time.time() - t0)
        r.once["setup_rep_s"] = statistics.median(setups)
        # warm-up: whole cycles (batch, reads, maintenance) so that the
        # loop's first cycle finds the JIT and worker caches filled; their
        # failures count, their timings do not
        size = SIZES[args.workload]
        warm = size["warmup"]
        t0 = time.time()
        with r.tracer.span("warmup"):
            for b in range(1, warm + 1):
                wl.cycle(b)
        r.once["warmup_s"] = time.time() - t0
        r.samples.clear()
        r.counts.clear()
        periods = max(1, round(args.seconds / size["period_s"]))
        loop_t[0] = time.time()
        for b in range(warm + 1, warm + 1 + periods * wl.period):
            cycles.append(wl.cycle(b))
            for _ in range(REFERENCE_RUNS):
                r.reference()
        loop_t[1] = time.time()
        wl.finish()
        rss = r.peak_rss_mb()
    finally:
        r.tracer.restore()
        r.stop()
    return report(r, wl, cycles, loop_t, rss, setups)


def period_means(cycles: list[float], period: int) -> list[float]:
    """Mean cycle time of each whole period (maintenance runs once a period)."""
    return [sum(cycles[i:i + period]) / period for i in range(0, len(cycles) - period + 1, period)]


def med(v: list[float]) -> float:
    return statistics.median(v) if v else 0.0


#: (name, unit, better) of the end-to-end metrics a pipeline workload
#: reports with ``--trace 0``; none of them can be 0 on a run that did work.
#: Latencies are gated as multiples of the reference query's lower-quartile
#: time in the same process (``*_rel``): on a shared 4-core VM whose speed
#: drifted by up to 3x within an hour, the seconds spread 20-40 % across
#: seeds. The seconds, ``change_rows_per_s`` (batch rows over ``visible``)
#: and ``peak_rss_mb`` (JVM heap growth varies with GC timing) go to the
#: detail line.
E2E = [
    ("setup_s", "s", "lower"),
    ("visible_rel", "ratio", "lower"),
    ("scan_rel", "ratio", "lower"),
    ("lookup_rel", "ratio", "lower"),
    ("cycle_rel", "ratio", "lower"),
    ("write_amp", "ratio", "lower"),
    ("space_amp", "ratio", "lower"),
]
#: registry_mix has no change files, mirror or lookups; it reports these
MIX_E2E = [
    ("setup_s", "s", "lower"),
    ("mix_pass_s", "s", "lower"),
    ("visible_p50_s", "s", "lower"),
    ("scan_p50_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]


def report(r: Run, wl, cycles, loop_t, rss, setups) -> tuple[dict, dict]:
    s, c = r.samples, r.counts
    setup_s = r.once["session.start_s"] + r.once["session.ship_s"] + med(setups) + r.once["warmup_s"]
    mix = r.args.workload == "registry_mix"
    values = {
        "setup_s": setup_s,
        "visible_p50_s": med(s["visible"]),
        "change_rows_per_s": c["change_rows"] / c["pipeline_s"] if c["pipeline_s"] else 0.0,
        "scan_p50_s": med(s["scan"]),
        "lookup_p50_s": med(s["lookup"]),
        "cycle_s": med(period_means(cycles, wl.period)),
        "mix_pass_s": med(cycles),
        "write_amp": c["written_bytes"] / c["change_bytes"] if c["change_bytes"] else 0.0,
        "space_amp": c.get("space_amp", 0.0),
        "peak_rss_mb": rss,
        "ops_failed_ratio": r.failed / max(r.attempted, 1),
        "reference_p50_s": med(s["reference"]),
        # the lower quartile: a reference run that lands on a GC pause, or
        # on clean-up that the cycle before it left running, reads high
        "reference_p25_s": statistics.quantiles(s["reference"], n=4)[0] if len(s["reference"]) > 1 else 0.0,
    }
    ref = values["reference_p25_s"]
    for name, secs in (("visible", "visible_p50_s"), ("scan", "scan_p50_s"), ("lookup", "lookup_p50_s"),
                       ("cycle", "cycle_s")):
        values[f"{name}_rel"] = values[secs] / ref if ref else 0.0
    units = {n: u for n, u, _ in E2E + MIX_E2E}
    for name, samples in (("visible", s["visible"]), ("scan", s["scan"])):
        v, pct, n = tail(samples)
        values.update({f"{name}_tail_s": v, f"{name}_tail_pct": pct, f"{name}_n": n})
    if r.tracer.enabled:
        metrics = layers.per_layer(r, loop_t, cycles)
    else:
        metrics = {n: {"value": values[n], "unit": units[n]} for n, _, _ in (MIX_E2E if mix else E2E)}
    detail = {
        "workload": r.args.workload,
        "seed": r.args.seed,
        "trace": r.args.trace,
        "cycles": len(cycles),
        "cycle_times_s": cycles,
        "loop_s": loop_t[1] - loop_t[0],
        "batch_rows": c["change_rows"] / len(cycles) if cycles and not mix else None,
        "setup_reps_s": setups,
        "reference_samples_s": s["reference"],
        "errors": r.errors,
        **r.once,
        **values,
        **{f"{q}_s": med(v) for q, v in s.items() if q.startswith("mix.")},
    }
    result = {"correct": r.failed == 0, "attempted": max(r.attempted, 1), "failed": r.failed, "metrics": metrics}
    return result, detail
