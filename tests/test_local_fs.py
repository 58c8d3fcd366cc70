"""The in-JVM local file system `get_spark` binds to ``file:``
(``etl_acordos_spark/jvm/InJvmLocalFileSystem.java``): a lake write
starts no process, what it leaves on disk is what stock Hadoop leaves,
the committed jar is built from the committed source, and the binding
is made only where the JVM can load it."""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from etl_acordos_spark import session
from etl_acordos_spark.session import LOCAL_FS_JAR, get_spark
from etl_acordos_spark.sources.parquet_io import _hadoop_fs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE = os.path.join(REPO, "etl_acordos_spark", "jvm", "InJvmLocalFileSystem.java")
BINDING_KEYS = ("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl")
#: what Hadoop's local file system forks without a native libhadoop
SHIMMED = ("chmod", "readlink", "ls", "stat")

LAKE_WRITES = """
import json, os, sys
sys.path.insert(0, {repo!r})
from etl_acordos_spark.session import get_spark
from etl_acordos_spark.sources.parquet_io import write_parquet_layer
from etl_acordos_spark.streaming.events import incremental_upsert_run
tmp = {tmp!r}
# a caller's class path: the jar must be appended to it, not replace it
spark = get_spark(app_name="no-spawn", master="local[2]",
                  extra_conf={{"spark.driver.extraClassPath": tmp}})
spark.sparkContext.setLogLevel("ERROR")
spark.range(1).collect()
open({log!r}, "w").close()
df = spark.range(2000).selectExpr("id", "id % 5 AS k")
write_parquet_layer(df, tmp, "bronze", "t")
df.write.mode("overwrite").partitionBy("k").parquet(os.path.join(tmp, "by_k"))
events = spark.range(200).selectExpr(
    "id AS event_id", "id % 17 AS user_id",
    "timestamp_seconds(1700000000 + id) AS ts", "cast(id AS double) AS value")
n = incremental_upsert_run(spark, events, tmp, n_batches=2).count()
with open({log!r}) as f:
    spawned = f.read().splitlines()
print(json.dumps({{"spawned": spawned, "users": n,
                  "impl": spark.sparkContext.getConf().get("spark.hadoop.fs.file.impl")}}))
spark.stop()
"""


def test_a_lake_write_starts_no_process(tmp_path):
    """With logging ``chmod``/``readlink``/``ls``/``stat`` shims first on
    PATH, a Parquet layer write, a ``partitionBy`` write and a two-batch
    streaming upsert in a fresh `get_spark` session run none of them.
    Stock Hadoop forks a ``chmod`` per file and directory it creates
    and a ``readlink`` per checkpoint rename."""
    shims = tmp_path / "shims"
    shims.mkdir()
    log = tmp_path / "spawned.log"
    for name in SHIMMED:
        shim = shims / name
        shim.write_text(
            f'#!/bin/sh\necho "{name} $*" >> {log}\nexec {shutil.which(name)} "$@"\n'
        )
        shim.chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{shims}{os.pathsep}{os.environ['PATH']}",
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_CPUS="2",
    )
    lake = tmp_path / "lake"
    lake.mkdir()
    script = LAKE_WRITES.format(repo=REPO, tmp=str(lake), log=str(log))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["users"] == 17
    assert out["spawned"] == []
    assert out["impl"] == "etl_acordos_spark.jvm.InJvmLocalFileSystem"


def _status(st) -> dict:
    out = {
        "path": st.getPath().toString(),
        "dir": st.isDirectory(),
        "symlink": st.isSymlink(),
        "len": st.getLen(),
        "mtime": st.getModificationTime(),
        "perm": st.getPermission().toString(),
        "owner": st.getOwner(),
        "group": st.getGroup(),
    }
    if st.isSymlink():
        out["target"] = st.getSymlink().toString()
    return out


def _link_status(fs, path):
    try:
        return _status(fs.getFileLinkStatus(path))
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()


@pytest.fixture
def raw_pair(spark, tmp_path):
    """(the session's raw file system, a stock ``RawLocalFileSystem``
    set up the same way)."""
    fs, _ = _hadoop_fs(spark, str(tmp_path))
    ours = fs.getRawFileSystem()
    assert ours.getClass().getName() == "etl_acordos_spark.jvm.InJvmLocalFileSystem$Raw"
    stock = ours.getClass().getSuperclass().newInstance()
    assert stock.getClass().getName() == "org.apache.hadoop.fs.RawLocalFileSystem"
    stock.initialize(fs.getUri(), fs.getConf())
    return ours, stock


def test_link_status_matches_stock_hadoop(spark, tmp_path, raw_pair):
    """`getFileLinkStatus` through the in-JVM file system equals stock
    Hadoop's on a file, a directory, absolute, relative and dangling
    symlinks and a missing path, by plain and by qualified path."""
    ours, stock = raw_pair
    (tmp_path / "f").write_text("abc")
    (tmp_path / "d").mkdir()
    os.symlink(tmp_path / "f", tmp_path / "abs_link")
    os.symlink("f", tmp_path / "rel_link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    for name in ("f", "d", "abs_link", "rel_link", "dangling", "missing"):
        _, path = _hadoop_fs(spark, str(tmp_path / name))
        for p in (path, ours.makeQualified(path)):
            assert _link_status(ours, p) == _link_status(stock, p), (name, p.toString())
    _, path = _hadoop_fs(spark, str(tmp_path / "rel_link"))
    assert _link_status(ours, path)["target"] == f"file:{tmp_path}/f"
    _, path = _hadoop_fs(spark, str(tmp_path / "missing"))
    assert _link_status(ours, path) == "java.io.FileNotFoundException"


def test_set_permission_matches_stock_hadoop(spark, tmp_path, raw_pair):
    """`setPermission` leaves the same ``os.stat`` mode as stock Hadoop's
    shell ``chmod``, for files and directories, including the sticky
    bit NIO cannot set and a directory's setgid bit, which a 4-digit
    ``chmod`` keeps and chmod(2) clears."""
    ours, stock = raw_pair
    perm = ours.getFileStatus(_hadoop_fs(spark, str(tmp_path))[1]).getPermission()
    for kind in ("file", "dir", "setgid_dir"):
        for mode in (0o644, 0o755, 0o600, 0o1777):
            modes = []
            for side, fs in (("ours", ours), ("stock", stock)):
                target = tmp_path / f"{kind}_{mode:o}_{side}"
                if kind == "file":
                    target.write_text("x")
                else:
                    target.mkdir()
                if kind == "setgid_dir":
                    os.chmod(target, 0o2700)
                fs.setPermission(
                    _hadoop_fs(spark, str(target))[1], perm.createImmutable(mode)
                )
                modes.append(stat.S_IMODE(os.stat(target).st_mode))
            assert modes[0] == modes[1], (kind, oct(mode), [oct(m) for m in modes])


def _modes(root: str) -> list[tuple[str, int]]:
    """Every entry under *root* with its mode; part-file job ids masked."""
    out = []
    for base, dirs, files in os.walk(root):
        for name in dirs + files:
            path = os.path.join(base, name)
            rel = re.sub(r"part-(\d+)-[0-9a-f-]+", r"part-\1", os.path.relpath(path, root))
            out.append((rel, stat.S_IMODE(os.stat(path).st_mode)))
    return sorted(out)


def test_parquet_write_modes_match_stock_hadoop(spark, tmp_path):
    """A partitioned Parquet write leaves the same files, ``.crc``s and
    modes as one made through Hadoop's stock local file system."""
    df = spark.range(300).selectExpr("id", "id % 3 AS k").coalesce(2)
    df.write.partitionBy("k").parquet(str(tmp_path / "ours"))
    (
        df.write.option("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
        .option("fs.file.impl.disable.cache", "true")
        .partitionBy("k")
        .parquet(str(tmp_path / "stock"))
    )
    ours, stock = _modes(str(tmp_path / "ours")), _modes(str(tmp_path / "stock"))
    assert ours == stock
    assert any(rel.endswith(".crc") for rel, _ in ours)
    assert ("_SUCCESS", 0o644) in ours


def test_committed_jar_is_built_from_the_committed_source():
    """The jar's manifest names the sha256 of the source it was built
    from (``tools/build_jvm.py``); an edited source needs a rebuilt jar."""
    with open(SOURCE, "rb") as f:
        want = hashlib.sha256(f.read()).hexdigest()
    with zipfile.ZipFile(LOCAL_FS_JAR) as jar:
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
        classes = jar.namelist()
    assert f"Source-SHA256: {want}" in manifest.splitlines()
    assert "etl_acordos_spark/jvm/InJvmLocalFileSystem$Fs.class" in classes


@pytest.fixture
def built_conf(monkeypatch):
    """What `get_spark` hands the session builder, with no session made."""
    seen: dict[str, str] = {}

    class Session:
        class sparkContext:
            @staticmethod
            def setLogLevel(level):
                pass

    def config(self, key=None, value=None, **kwargs):
        seen[key] = value
        return self

    monkeypatch.setattr(SparkSession.Builder, "config", config)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: Session())
    monkeypatch.setattr(session, "_jvm_gets_jar", lambda: True)
    # get_spark records the gateway it bound; put the real one back after
    monkeypatch.setattr(session, "_jar_gateway", session._jar_gateway)
    return seen


def test_get_spark_appends_the_jar_to_a_callers_class_path(built_conf):
    """The caller's entries stay and the jar follows them."""
    get_spark(master="local[2]", extra_conf={"spark.driver.extraClassPath": "lib/a.jar"})
    assert built_conf["spark.driver.extraClassPath"] == f"lib/a.jar{os.pathsep}{LOCAL_FS_JAR}"
    assert built_conf["spark.hadoop.fs.file.impl"] == "etl_acordos_spark.jvm.InJvmLocalFileSystem"
    built_conf.clear()
    get_spark(master="local")
    assert built_conf["spark.driver.extraClassPath"] == LOCAL_FS_JAR


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "local-cluster[2,1,1024]", "yarn"]
)
def test_get_spark_binds_no_file_system_off_local(built_conf, master):
    """A cluster's executors would not have the jar."""
    get_spark(master=master)
    assert built_conf["spark.master"] == master
    assert not set(built_conf) & {"spark.driver.extraClassPath", *BINDING_KEYS}


BARE_JVM_FIRST = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from etl_acordos_spark.session import get_spark
SparkSession.builder.master("local[1]").getOrCreate().stop()
spark = get_spark(master="local[1]")
spark.sparkContext.setLogLevel("ERROR")
spark.range(10).write.parquet({out!r})
print(spark.read.parquet({out!r}).count(),
      spark.sparkContext.getConf().get("spark.hadoop.fs.file.impl", "stock"))
spark.stop()
"""


def test_get_spark_keeps_stock_hadoop_in_a_jvm_started_without_the_jar(tmp_path):
    """A JVM an earlier bare session started keeps its class path; a
    `get_spark` session in it binds nothing, so ``file:`` still works."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    script = BARE_JVM_FIRST.format(repo=REPO, out=str(tmp_path / "out"))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "10 stock"
