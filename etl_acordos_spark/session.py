"""SparkSession factory and session-conf scoping.

The reference runs each pipeline step as a single-threaded pandas process
under Airflow's LocalExecutor (reference docker-compose.yml:68,
tasks/bronze.py:43). Here one Spark application owns the whole dataflow:
the driver plans, executors run partitioned tasks, and all intra-layer
ordering falls out of lazy evaluation. `get_spark` is the one place a
session is built — tests, ``bench.py``, ``perfbench`` and every
``tools/*.py`` go through it, so what is timed is what is verified; a
tool that needs a different shape (``tools/graph_100x.py``'s spill dir
and 256 partitions) passes it as ``extra_conf``.

Defaults are chosen for correctness-at-scale first:
  - AQE on (runtime partition coalescing, skew-join splitting, join
    re-planning) — at 100 TB the static plan is always wrong somewhere.
  - UTC session timezone so timestamp semantics are stable across the
    cluster and reproducible against external oracles.
  - Arrow enabled for the Python boundary (Pandas UDFs, toPandas).
  - master ``local[$SPARK_GRAFT_CPUS]`` (default 32) with as many
    shuffle partitions; a real cluster deployment overrides via
    `extra_conf` (rule of thumb: 2-3x total executor cores, with AQE
    coalescing the tail).
  - an 8 GiB driver heap (``$SPARK_GRAFT_DRIVER_MEM`` overrides).
  - one shuffle file write per map task
    (``spark.shuffle.sort.bypassMergeThreshold=0``, which turns off the
    bypass-merge writer; the comment at the setting says why).
  - zstd for every byte stream the JVM writes: the Arrow IPC stream to
    Python workers, shuffle and broadcast blocks, and Parquet files
    (the comments at the settings give the measured reasons).
  - on ``local`` masters only, the ``file:`` scheme bound to
    ``jvm/InJvmLocalFileSystem.java`` (the committed
    ``jvm/in-jvm-local-fs.jar`` on the driver class path) for both the
    FileSystem and the FileContext APIs: Hadoop's checksummed local
    file system, except that without a native libhadoop it no longer
    forks a ``chmod`` per file or directory it creates and a
    ``readlink`` per FileContext rename. Results, ``.crc`` files,
    ``_SUCCESS`` markers and file modes are unchanged. A cluster's
    executors would not have the jar, so other masters keep stock
    Hadoop.

Operators that need a different runtime conf for one phase (the one-shot
streaming runs' narrow shuffle width, `one_shot_stream_conf`; a
partition-overwrite mode) wrap it in `scoped_conf`, which puts the
session back exactly as it found it.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import SparkSession

#: built from ``jvm/InJvmLocalFileSystem.java`` by ``tools/build_jvm.py``
LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "in-jvm-local-fs.jar"
)
_LOCAL_FS = "etl_acordos_spark.jvm.InJvmLocalFileSystem"
#: the py4j gateway of a JVM this module started with the jar
_jar_gateway = None


def get_spark(
    app_name: str = "etl_acordos_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default tuning."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {
        "spark.sql.shuffle.partitions": cpus,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # Files >128MB split into tasks; at 100 TB this keeps scan tasks
        # memory-bounded regardless of file layout.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # No bypass-merge shuffle writer. Spark takes it for any shuffle
        # with at most this many reduce partitions and no map-side
        # combine (every SQL shuffle under local[n]); it writes one file
        # per reduce partition and then copies them all into the map
        # output, so every shuffle byte reaches disk twice. At 0 every
        # SQL shuffle takes the serialized writer, which sorts record
        # pointers in memory and writes (or renames) one file per map
        # task.
        "spark.shuffle.sort.bypassMergeThreshold": "0",
        # zstd on the Arrow IPC stream the JVM writes to Python workers
        # (mapInArrow, mapInPandas, applyInPandas, toPandas); pyarrow
        # decompresses it on read. Uncompressed, the four perfbench gold
        # tables cross to the DBAPI sink's worker as 2.9 MB of Arrow;
        # zstd sends 0.66 MB in the same time. lz4 sends 0.80 MB and
        # makes the sink four times slower.
        "spark.sql.execution.arrow.compression.codec": "zstd",
        # zstd for shuffle and broadcast blocks: a lake_writes pass
        # shuffles 1.1 MB where lz4 shuffled 2.3 MB, and the ~98 GiB raw
        # wedge shuffle of tools/graph_100x.py roughly halves on disk.
        "spark.io.compression.codec": "zstd",
        # zstd for every Parquet file: a lake_writes pass writes 0.79 MB
        # of layers where snappy wrote 1.08 MB.
        "spark.sql.parquet.compression.codec": "zstd",
        # Managed (e.g. bucketed) tables land in scratch, not the repo.
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    bind = (master == "local" or master.startswith("local[")) and _jvm_gets_jar()
    if bind:
        _bind_local_fs(conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if bind:
        global _jar_gateway
        _jar_gateway = SparkContext._gateway
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _jvm_gets_jar() -> bool:
    """Whether the session's JVM will have the jar on its class path:
    it does when this call starts the JVM, or when an earlier call here
    started it. A JVM that is already up (an earlier bare session in
    this process, or ``spark-submit``'s, reached through
    ``PYSPARK_GATEWAY_PORT``) keeps the class path it started with, and
    a ``file:`` binding to a class it cannot load fails every file
    access."""
    gateway = SparkContext._gateway
    if gateway is None:
        return "PYSPARK_GATEWAY_PORT" not in os.environ
    return gateway is _jar_gateway


def _bind_local_fs(conf: dict[str, str]) -> None:
    """Point ``file:`` at the in-JVM local file system. The jar is
    appended to a caller's driver class path: the caller's path alone
    would leave it out and fail every ``file:`` access, the jar alone
    would drop the caller's entries. It must be on the class path when
    the JVM starts: ``spark.jars`` is loaded too late, after ``file:``
    is first resolved."""
    cp = conf.get("spark.driver.extraClassPath")
    conf["spark.driver.extraClassPath"] = (
        f"{cp}{os.pathsep}{LOCAL_FS_JAR}" if cp else LOCAL_FS_JAR
    )
    conf.setdefault("spark.hadoop.fs.file.impl", _LOCAL_FS)
    conf.setdefault(
        "spark.hadoop.fs.AbstractFileSystem.file.impl", f"{_LOCAL_FS}$Fs"
    )


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set runtime *conf* for the body, then put every key back as it
    was — re-set if it had a value, unset if it had none — also when
    the body raises, so no operator leaks a setting into later work on
    the same long-lived session."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def one_shot_stream_conf(spark: SparkSession) -> dict[str, str]:
    """`scoped_conf` settings for a one-shot (``availableNow``)
    streaming run: at most 4 shuffle partitions.

    State-store parallelism = shuffle partitions, fixed at the query's
    first start, and every state partition pays a per-microbatch commit
    (checkpoint file write), so for a run over already-present input the
    partition count is almost pure overhead: measured at sf0.1, 8
    partitions halved the wall time of 32 and 4 shaved another ~20% (2
    was flat vs 4 — state-store open cost dominates below that). Those
    figures were taken while every state-store file forked a ``chmod``
    and every checkpoint rename a ``readlink``; with the in-JVM local
    file system (sf0.1, warm, median of 4 runs over 2 sessions), 8
    partitions read the same as 4 on the windowed, session, dedup and
    stream-static join keys, and ``applyInPandasWithState`` is still
    16% faster at 4. A long-running production stream would instead
    size this once for its key cardinality / throughput and keep it for
    the checkpoint's lifetime."""
    return {
        "spark.sql.shuffle.partitions": str(
            min(4, spark.sparkContext.defaultParallelism)
        )
    }
