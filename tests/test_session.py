"""The session factory and `scoped_conf`: one place builds sessions, one
place scopes runtime conf changes, and both put the session back the way
they found it."""

from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os
import re
from pathlib import Path

import pytest

from etl_acordos_spark.session import scoped_conf

REPO_ROOT = Path(__file__).resolve().parent.parent
#: set on the test session by get_spark
SET_KEY = "spark.sql.shuffle.partitions"
#: never set anywhere
UNSET_KEY = "spark.graft.test.scopedConf"
#: scripts that deliberately simulate a bare external driver, which
#: builds its own session without the engine's factory
BARE_DRIVERS = {"tests/test_foreign_cwd.py", ".claude/skills/verify/driver_sim.py"}
#: a bare session that starts the JVM before `get_spark` does, on purpose
BARE_DRIVERS.add("tests/test_local_fs.py")


def _assert_restored(spark, before: str) -> None:
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None


def test_scoped_conf_restores_set_and_unset_keys(spark):
    before = spark.conf.get(SET_KEY)
    assert spark.conf.get(UNSET_KEY, None) is None
    conf = {SET_KEY: "3", UNSET_KEY: "on"}
    with scoped_conf(spark, conf):
        assert spark.conf.get(SET_KEY) == "3"
        assert spark.conf.get(UNSET_KEY) == "on"
    _assert_restored(spark, before)

    with pytest.raises(RuntimeError, match="body failed"):
        with scoped_conf(spark, conf):
            assert spark.conf.get(UNSET_KEY) == "on"
            raise RuntimeError("body failed")
    _assert_restored(spark, before)


def _py_files(root: Path):
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [
            d for d in dirnames
            if d == ".claude" or not (d.startswith(".") or d == "__pycache__")
        ]
        for name in filenames:
            if name.endswith(".py"):
                path = Path(dirpath, name)
                yield path.relative_to(REPO_ROOT).as_posix(), path.read_text()


def test_sessions_and_conf_saves_have_one_home():
    """Every session comes from `get_spark` and every temporary conf
    change goes through `scoped_conf`: no hand-built session and no
    hand-rolled shuffle-partitions save/restore outside session.py."""
    builders = sorted(
        rel
        for rel, text in _py_files(REPO_ROOT)
        if re.search(r"SparkSession\.builder", text)
        and rel not in BARE_DRIVERS | {"etl_acordos_spark/session.py"}
    )
    assert builders == [], builders
    saves = sorted(
        rel
        for rel, text in _py_files(REPO_ROOT / "etl_acordos_spark")
        if re.search(r'conf\.get\(\s*"spark\.sql\.shuffle\.partitions"', text)
        and rel != "etl_acordos_spark/session.py"
    )
    assert saves == [], saves


def test_foreach_batch_has_one_home():
    """Every foreachBatch pipeline goes through `run_microbatches`: no
    package module but the runner's starts a foreachBatch stream or
    sets a checkpoint location of its own."""
    runner = "etl_acordos_spark/streaming/microbatch.py"
    copies = sorted(
        rel
        for rel, text in _py_files(REPO_ROOT / "etl_acordos_spark")
        if re.search(r"foreachBatch\(|checkpointLocation", text)
        and rel != runner
    )
    assert copies == [], copies


def _package_names(tree: ast.AST) -> dict:
    """Local name -> object for every `etl_acordos_spark` import in
    *tree*, function-level imports included."""
    names = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (
            node.module or ""
        ).startswith("etl_acordos_spark"):
            for a in node.names:
                try:
                    obj = importlib.import_module(f"{node.module}.{a.name}")
                except ModuleNotFoundError:
                    obj = getattr(importlib.import_module(node.module), a.name)
                names[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("etl_acordos_spark") and a.asname:
                    names[a.asname] = importlib.import_module(a.name)
    return names


def test_tools_pass_only_keywords_their_callees_take():
    """Nothing runs `tools/*.py` or `bench.py` in the suite, so a keyword
    an operator no longer takes would only fail at 100x: every keyword a
    call into an imported `etl_acordos_spark` name passes must be a
    parameter of the callee."""
    stale = []
    scripts = sorted((REPO_ROOT / "tools").glob("*.py"))
    for path in scripts + [REPO_ROOT / "bench.py"]:
        tree = ast.parse(path.read_text())
        names = _package_names(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or not node.keywords:
                continue
            func = node.func
            if isinstance(func, ast.Name):
                callee = names.get(func.id)
            elif isinstance(func, ast.Attribute) and isinstance(
                func.value, ast.Name
            ) and inspect.ismodule(names.get(func.value.id)):
                callee = getattr(names[func.value.id], func.attr, None)
            else:
                continue
            if not callable(callee):
                continue
            params = inspect.signature(callee).parameters
            if any(p.kind is p.VAR_KEYWORD for p in params.values()):
                continue
            stale += [
                f"{path.name}:{node.lineno} {kw.arg}"
                for kw in node.keywords
                if kw.arg is not None and kw.arg not in params
            ]
    assert stale == [], stale


def _jvm_wchar() -> int:
    from pyspark import SparkContext

    # the gateway process is the JVM (spark-class execs java)
    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/io") as io:
        return next(int(ln.split()[1]) for ln in io if ln.startswith("wchar:"))


def _shuffle_data_files(spark) -> dict[str, int]:
    """The ``shuffle_*.data`` files in the block-manager directories
    under the session's local dirs, resolved in Spark's order:
    ``$SPARK_LOCAL_DIRS``, then ``spark.local.dir``, then /tmp."""
    local = (
        os.environ.get("SPARK_LOCAL_DIRS")
        or spark.conf.get("spark.local.dir", None)
        or "/tmp"
    )
    return {
        path: os.path.getsize(path)
        for d in local.split(",")
        for path in glob.glob(os.path.join(d, "blockmgr-*", "*", "shuffle_*.data"))
    }


@pytest.mark.skipif(
    not os.path.exists("/proc/self/io"), reason="needs Linux /proc/<pid>/io"
)
def test_get_spark_writes_each_shuffle_byte_once(spark):
    """A `get_spark` session writes a shuffle's map output to disk once:
    the JVM's write() bytes over a ~10 MB ``repartition(4)`` job stay
    near the size of the shuffle data files it leaves. Spark's bypass
    writer (a file per reduce partition, then a copy into the map
    output) reads 2.0x here. The payload is raw SHA-256 digests, which
    no shuffle codec can shrink, so the files keep their size under
    lz4 and zstd alike."""
    df = spark.range(0, 300_000, numPartitions=4).selectExpr(
        "id", "unhex(sha2(cast(id AS string), 256)) AS h"
    )
    before = _shuffle_data_files(spark)
    wchar = _jvm_wchar()
    df.repartition(4).write.format("noop").mode("overwrite").save()
    wrote = _jvm_wchar() - wchar
    shuffle_bytes = sum(
        n for p, n in _shuffle_data_files(spark).items() if p not in before
    )
    assert shuffle_bytes > 8_000_000, shuffle_bytes
    assert wrote < 1.3 * shuffle_bytes, (wrote, shuffle_bytes)


def _zstd_rows(spark):
    """~8 MB as Arrow of a compressible string column, with NULLs."""
    return spark.range(0, 110_000, numPartitions=4).selectExpr(
        "id",
        "CASE WHEN id % 101 = 0 THEN NULL ELSE concat(repeat('acordo"
        " coletivo ', 4), cast(id % 997 AS string)) END AS s",
    )


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_get_spark_writes_parquet_with_zstd(spark, tmp_path):
    """Every lake layer `write_parquet_layer` writes is zstd Parquet."""
    import pyarrow.parquet as pq

    from etl_acordos_spark.sources.parquet_io import write_parquet_layer

    path = write_parquet_layer(
        _zstd_rows(spark).limit(1000), str(tmp_path), "bronze", "t"
    )
    parts = glob.glob(os.path.join(path, "*.parquet"))
    assert parts
    for part in parts:
        meta = pq.ParquetFile(part).metadata
        codecs = {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        assert codecs == {"ZSTD"}, (part, codecs)


@pytest.mark.skipif(
    not os.path.exists("/proc/self/io"), reason="needs Linux /proc/<pid>/io"
)
def test_get_spark_compresses_the_arrow_stream_to_python(spark):
    """The JVM writes the Arrow IPC stream it feeds Python workers
    zstd-compressed: over a ``mapInArrow`` pass of ~8 MB of Arrow (a
    compressible string column), the JVM's write() bytes stay under
    half the Arrow size the workers receive. Uncompressed, they read
    above it. The rows come back unchanged from that pass and from a
    ``toPandas`` and an ``applyInPandas`` round trip."""
    import pyarrow as pa

    df = _zstd_rows(spark)

    def sizes(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"n": [b.num_rows], "nbytes": [b.nbytes]}
            )

    wchar = _jvm_wchar()
    got = df.mapInArrow(sizes, "n long, nbytes long").collect()
    wrote = _jvm_wchar() - wchar
    arrow_bytes = sum(r["nbytes"] for r in got)
    assert sum(r["n"] for r in got) == 110_000
    assert arrow_bytes > 8_000_000, arrow_bytes
    assert wrote < 0.5 * arrow_bytes, (wrote, arrow_bytes)

    assert _same_rows(df.mapInArrow(lambda bs: bs, df.schema), df)
    pdf = df.toPandas()
    assert _same_rows(spark.createDataFrame(pdf, df.schema), df)
    back = df.groupBy((df.id % 4).alias("g")).applyInPandas(
        lambda p: p, df.schema
    )
    assert _same_rows(back, df)
