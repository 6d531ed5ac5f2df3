"""The fork-free local file system that ``session.get_spark`` installs.

Without native libhadoop, stock Hadoop forks ``chmod`` for every local file
and dir it creates and ``readlink`` for every FileContext rename. The shim
(``tabular_cdc_bootstrapper_spark/jvm``) does the same work in-process; these
tests pin that it forks nothing on the pipeline path, that what it writes is
indistinguishable from stock Hadoop's output, that no driver classpath
from the caller, the deployment or the submit line can unload it, and that the committed jar is built from the
committed sources.
"""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import zipfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from tabular_cdc_bootstrapper_spark import session

REPO = Path(__file__).resolve().parent.parent
JVM_DIR = REPO / "tabular_cdc_bootstrapper_spark" / "jvm"
SHIM_FS = "tabularcdc.fs.ForkFreeLocalFileSystem"
SHIM_AFS = "tabularcdc.fs.ForkFreeLocalFs"

DMS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("ts", T.StringType()),
    ]
)

# one fresh-JVM get_spark session per run: truncates the fork log once the
# session is up, so only what the pipeline and its read fork is counted
_PIPELINE_SCRIPT = """
import json, sys
from pyspark.sql import types as T
from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.session import get_spark
from tabular_cdc_bootstrapper_spark.streaming.pipeline import run_cdc_pipeline_available_now

src, wk, log, schema = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4]
spark = get_spark("fork-count", shuffle_partitions=2)
open(log, "w").close()
res = run_cdc_pipeline_available_now(
    spark, src, T.StructType.fromJson(json.loads(schema)), wk,
    CdcTarget(source_uri="file://" + src, key_column="id", ts_column="ts"),
    mirror_layout="bucketed_versioned", n_buckets=8,
)
rows = sorted([r["id"], r["name"]] for r in res["mirror"].read(spark).collect())
forks = open(log).read().splitlines()
print(json.dumps({"rows": rows, "forks": forks}))
"""

_CLASSPATH_SCRIPT = """
import json, sys
from tabular_cdc_bootstrapper_spark.session import get_spark

extra, out = sys.argv[1], sys.argv[2]
spark = get_spark("classpath", extra_conf={"spark.driver.extraClassPath": extra} if extra else None)
jvm = spark._jvm
fs = jvm.org.apache.hadoop.fs.FileSystem.get(
    jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
)
spark.range(5).write.parquet(out)
print(json.dumps({
    "classpath": spark.sparkContext.getConf().get("spark.driver.extraClassPath"),
    "fs": fs.getClass().getName(),
    "rows": spark.read.parquet(out).count(),
}))
"""


def _run_session_script(
    script: str, args: list[str], tmp_path: Path, path_prefix: str = "", **env_vars: str
) -> dict:
    env = dict(os.environ)
    env.update(
        PYTHONPATH=str(REPO),
        SPARK_MASTER="local[2]",
        SPARK_DRIVER_MEMORY="1g",
        PATH=path_prefix + env["PATH"],
        **env_vars,
    )
    done = subprocess.run(
        [sys.executable, "-c", script, *args],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


def _counting_wrappers(bin_dir: Path, log: Path) -> str:
    """``chmod``/``readlink`` that log each call, then run the real tool."""
    bin_dir.mkdir()
    for tool in ("chmod", "readlink"):
        real = shutil.which(tool)
        assert real, tool
        w = bin_dir / tool
        w.write_text(f'#!/bin/sh\necho "{tool} $*" >> "{log}"\nexec "{real}" "$@"\n')
        w.chmod(0o755)
    return str(bin_dir) + os.pathsep


def _write_dms(path: Path, rows: list[tuple]) -> None:
    cols = {f.name: [r[i] for r in rows] for i, f in enumerate(DMS_SCHEMA.fields)}
    pq.write_table(pa.table(cols), str(path))


def test_pipeline_call_forks_no_chmod_or_readlink(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    load = [(i, f"name{i}", "I", f"2024-01-01T00:00:{i:02d}") for i in range(1, 41)]
    _write_dms(src / "LOAD00000001.parquet", load)
    batch = [
        (3, "renamed3", "U", "2024-01-01T00:01:00"),
        (7, "name7", "D", "2024-01-01T00:01:01"),
        (41, "name41", "I", "2024-01-01T00:01:02"),
    ]
    _write_dms(src / "2024-01-01T00-00-01.parquet", batch)
    expected = {i: f"name{i}" for i in range(1, 42) if i != 7}
    expected[3] = "renamed3"

    log = tmp_path / "forks.log"
    prefix = _counting_wrappers(tmp_path / "bin", log)
    out = _run_session_script(
        _PIPELINE_SCRIPT,
        [str(src), str(tmp_path / "wk"), str(log), DMS_SCHEMA.json()],
        tmp_path,
        path_prefix=prefix,
    )
    assert {i: name for i, name in out["rows"]} == expected
    assert out["forks"] == []


@pytest.mark.parametrize("source", ["extra_conf", "spark-defaults.conf", "PYSPARK_SUBMIT_ARGS"])
def test_caller_driver_classpath_keeps_the_shim_loadable(tmp_path, source):
    """A driver classpath from the caller or the deployment's defaults is
    kept and the shim joins it; one on the submit line, which would
    replace the shim's, leaves the session on stock Hadoop."""
    extra = tmp_path / "extra-jars"
    extra.mkdir()
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    env = {"SPARK_CONF_DIR": str(conf_dir), "PYSPARK_SUBMIT_ARGS": "pyspark-shell"}
    if source == "spark-defaults.conf":
        (conf_dir / "spark-defaults.conf").write_text(f"spark.driver.extraClassPath  {extra}\n")
    if source == "PYSPARK_SUBMIT_ARGS":
        env["PYSPARK_SUBMIT_ARGS"] = f"--driver-class-path {extra} pyspark-shell"
    out = _run_session_script(
        _CLASSPATH_SCRIPT,
        [str(extra) if source == "extra_conf" else "", str(tmp_path / "out")],
        tmp_path,
        **env,
    )
    if source == "PYSPARK_SUBMIT_ARGS":
        assert out["classpath"] == str(extra)
        assert not out["fs"].startswith("tabularcdc.")
    else:
        assert out["classpath"].split(os.pathsep) == [str(extra), session.FORK_FREE_JAR]
        assert out["fs"] == SHIM_FS
    assert out["rows"] == 5


class _Built:
    """What a patched ``getOrCreate`` returns: the builder's options."""

    def __init__(self, options: dict) -> None:
        self.options, self.sparkContext = options, self

    def setLogLevel(self, _level: str) -> None:
        pass


@pytest.mark.parametrize(
    "case, installed",
    [
        ("local master, new JVM", True),
        ("classpath from spark-defaults.conf only", True),
        ("JVM already running", False),
        ("cluster master", False),
        ("caller's local-cluster master", False),
        ("driver classpath in PYSPARK_SUBMIT_ARGS", False),
        ("master in PYSPARK_SUBMIT_ARGS", False),
    ],
)
def test_fork_free_fs_only_on_a_local_jvm_this_call_launches(monkeypatch, tmp_path, case, installed):
    """The FS keys name classes only the driver classpath holds, so they
    go in only with the jar, and only when this call starts the JVM with
    a master whose executors share it and a driver classpath nothing later
    on the submit line replaces. The jar joins the caller's classpath, or
    else the one spark-defaults.conf sets (a --conf value replaces it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: _Built(dict(self._options)))
    monkeypatch.setattr(SparkSession, "getActiveSession", classmethod(lambda cls: None))
    monkeypatch.setattr(SparkContext, "_gateway", object() if case == "JVM already running" else None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("SPARK_MASTER", "spark://head:7077" if case == "cluster master" else "local[2]")
    (tmp_path / "spark-defaults.conf").write_text(
        "# deployment defaults\nspark.driver.extraClassPath = /opt/defaults.jar\n"
    )
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    submit_args = {
        "driver classpath in PYSPARK_SUBMIT_ARGS": "--driver-class-path /opt/b.jar pyspark-shell",
        "master in PYSPARK_SUBMIT_ARGS": "--master spark://head:7077 pyspark-shell",
    }
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", submit_args.get(case, "pyspark-shell"))
    extra = {"spark.driver.extraClassPath": "/opt/a.jar"}
    if case == "classpath from spark-defaults.conf only":
        extra = {}
    if case == "caller's local-cluster master":
        extra["spark.master"] = "local-cluster[2,1,1024]"

    opts = session.get_spark("guard", extra_conf=extra).options
    fs_keys = {k: opts[k] for k in session.FORK_FREE_FS if k in opts}
    if installed:
        assert fs_keys == session.FORK_FREE_FS
        cp = extra.get("spark.driver.extraClassPath", "/opt/defaults.jar")
        assert opts["spark.driver.extraClassPath"] == os.pathsep.join([cp, session.FORK_FREE_JAR])
    else:
        assert fs_keys == {}
        assert opts.get("spark.driver.extraClassPath") == extra.get("spark.driver.extraClassPath")


def _mode(p: Path) -> int:
    return stat.S_IMODE(os.lstat(p).st_mode)


def test_fork_free_fs_matches_stock_hadoop(spark, tmp_path):
    """Modes, checksum sidecars, checksum verification, no-overwrite
    FileContext renames and symlink reporting are those of stock Hadoop."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    hfs = jvm.org.apache.hadoop.fs
    HPath = hfs.Path
    uri = jvm.java.net.URI("file:///")
    conf = spark._jsc.hadoopConfiguration()
    assert conf.get("fs.permissions.umask-mode", "022") == "022"
    stock_conf = jvm.org.apache.hadoop.conf.Configuration(conf)
    stock_conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    stock_fs = hfs.LocalFileSystem()
    stock_fs.initialize(uri, stock_conf)
    shim_fs = hfs.FileSystem.get(uri, conf)
    assert shim_fs.getClass().getName() == SHIM_FS
    fcs = {
        "stock": hfs.FileContext.getFileContext(uri, stock_conf),
        "shim": hfs.FileContext.getFileContext(uri, conf),
    }
    assert fcs["shim"].getDefaultFileSystem().getClass().getName() == SHIM_AFS
    fss = {"stock": stock_fs, "shim": shim_fs}

    create_flags = jvm.java.util.EnumSet.of(hfs.CreateFlag.CREATE)
    no_opts = gw.new_array(hfs.Options.CreateOpts, 0)
    rename_none = gw.new_array(hfs.Options.Rename, 1)
    rename_none[0] = hfs.Options.Rename.NONE

    seen = {}
    for name in ("stock", "shim"):
        root = tmp_path / name
        fs, fc = fss[name], fcs[name]
        out = fs.create(HPath(str(root / "a" / "data.bin")))
        out.write(bytearray(b"0123456789" * 100))
        out.close()
        fc.mkdir(HPath(str(root / "ckpt")), hfs.permission.FsPermission.getDirDefault(), True)
        for f in ("0.tmp", "0", "1.tmp"):
            fc.create(HPath(str(root / "ckpt" / f)), create_flags, no_opts).close()
        fc.rename(HPath(str(root / "ckpt" / "1.tmp")), HPath(str(root / "ckpt" / "1")), rename_none)
        with pytest.raises(Exception, match="FileAlreadyExistsException"):
            fc.rename(HPath(str(root / "ckpt" / "0.tmp")), HPath(str(root / "ckpt" / "0")), rename_none)
        seen[name] = {
            str(p.relative_to(root)): (p.is_dir(), _mode(p)) for p in sorted(root.rglob("*"))
        }
    assert seen["shim"] == seen["stock"]
    modes = seen["shim"]
    assert modes["a/data.bin"] == modes["a/.data.bin.crc"] == (False, 0o644)
    assert modes["ckpt"] == (True, 0o755)
    assert {k for k in modes if k.startswith("ckpt/")} == {
        "ckpt/0", "ckpt/.0.crc", "ckpt/0.tmp", "ckpt/.0.tmp.crc", "ckpt/1", "ckpt/.1.crc",
    }
    assert all(mode == (False, 0o644) for k, mode in modes.items() if k.startswith("ckpt/"))

    # the .crc sidecar is still verified on read
    data = tmp_path / "shim" / "a" / "data.bin"
    raw = bytearray(data.read_bytes())
    raw[5] ^= 0xFF
    data.write_bytes(bytes(raw))
    with pytest.raises(Exception, match="ChecksumException"):
        shim_fs.open(HPath(str(data))).read(gw.new_array(gw.jvm.byte, 1000))

    # symlinks: the same isSymlink() answer as stock for every path form
    links = tmp_path / "links"
    links.mkdir()
    (links / "file").write_text("x")
    (links / "dir").mkdir()
    (links / "link").symlink_to(links / "file")
    (links / "dangling").symlink_to(links / "missing")
    stock_raw, shim_raw = stock_fs.getRawFileSystem(), shim_fs.getRawFileSystem()

    def link_status(raw, form):
        try:
            st = raw.getFileLinkStatus(HPath(form))
        except Exception as e:
            assert "FileNotFoundException" in str(e), e
            return "missing"
        return st.isSymlink(), st.isDirectory(), st.getLen()

    for leaf in ("file", "dir", "link", "dangling", "missing"):
        for form in (str(links / leaf), "file:" + str(links / leaf)):
            assert link_status(shim_raw, form) == link_status(stock_raw, form), form
    assert link_status(shim_raw, str(links / "link"))[0] is True
    assert link_status(shim_raw, str(links / "dangling"))[0] is True
    assert link_status(shim_raw, str(links / "file"))[0] is False


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK")
def test_committed_jar_is_built_from_the_sources(tmp_path):
    """`make jvm` output: compiling the committed sources gives the exact
    class bytes the committed jar holds."""
    jars = Path(__import__("pyspark").__file__).parent / "jars"
    (api,) = jars.glob("hadoop-client-api-*.jar")
    sources = sorted(str(p) for p in (JVM_DIR / "src").rglob("*.java"))
    subprocess.run(
        ["javac", "--release", "17", "-cp", str(api), "-d", str(tmp_path), *sources],
        check=True,
    )
    built = {
        str(p.relative_to(tmp_path)): p.read_bytes() for p in tmp_path.rglob("*.class")
    }
    with zipfile.ZipFile(session.FORK_FREE_JAR) as jar:
        shipped = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert sorted(shipped) == sorted(built)
    assert shipped == built
