"""Parquet layer IO — the lake side of the medallion architecture.

The reference stores one Parquet object per table per layer in MinIO with
a ``brz_/slv_/gld_`` prefix convention (reference tasks/bronze.py:79-82,
tasks/silver.py:77-90, tasks/gold.py:53-68) and does a list-bucket
existence check before each read (tasks/silver.py:25-30,
tasks/gold.py:25-30).

Spark-first re-expression: `spark.read.parquet` / `df.write.parquet` —
predicate pushdown, column pruning, and partition pruning come from
Catalyst for free. Layer naming stays a path convention; on a cluster the
same paths are `s3a://` URIs (hadoop-aws), nothing here changes.
"""

from __future__ import annotations

import copy
import os
import threading

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

LAYER_PREFIXES = {"bronze": "brz", "silver": "slv", "gold": "gld"}


def layer_key(layer: str, name: str) -> str:
    """``('silver', 'acordos') -> 'silver/slv_acordos'`` — the reference's
    object-key convention (tasks/bronze.py:82, tasks/silver.py:84-89)."""
    prefix = LAYER_PREFIXES[layer]
    return f"{layer}/{prefix}_{name}"


# Session confs that change what Parquet schema inference returns: the
# footer-to-Spark type mapping, which files the inference touches and
# merges, and how partition directories become columns.
SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
)
SCHEMA_MEMO_SIZE = 256
_schemas: dict[tuple, StructType] = {}
_schemas_lock = threading.Lock()


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for *path* through the session's Hadoop conf,
    so local paths and ``s3a://`` URIs take the same route."""
    sc = spark.sparkContext
    hadoop_path = sc._jvm.org.apache.hadoop.fs.Path(path)  # type: ignore[union-attr]
    fs = hadoop_path.getFileSystem(sc._jsc.hadoopConfiguration())  # type: ignore[union-attr]
    return fs, hadoop_path


def _file_signature(spark: SparkSession, path: str) -> tuple | None:
    """Every file under *path* as (path, length, mtime), listed on the
    driver (no Spark job); ``None`` when the path cannot be listed.
    ``listStatus``, not ``listFiles``: the located statuses of the
    latter make the local file system fork a process per file to read
    its permissions."""
    fs, hadoop_path = _hadoop_fs(spark, path)
    sig, dirs = [], [hadoop_path]
    try:
        while dirs:
            for st in fs.listStatus(dirs.pop()):
                if st.isDirectory():
                    dirs.append(st.getPath())
                else:
                    sig.append(
                        (st.getPath().toString(), st.getLen(),
                         st.getModificationTime())
                    )
    except Py4JJavaError:
        return None
    return tuple(sorted(sig))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a Parquet table (reference tasks/silver.py:32-34). Lazy —
    filters/projections applied later are pushed into this scan.

    Schema inference is a Spark job of its own (a footer read, 60-90 ms
    per table on a 4-core host), so the inferred ``StructType`` is
    memoized and handed back through ``spark.read.schema(...)``, which
    launches no job. The memo key is the file signature of *path* —
    every file's path, length and modification time, listed on the
    driver through the Hadoop FileSystem — plus the value of each conf
    in ``SCHEMA_CONFS``. Inference reads nothing but those files'
    footers, the partition directory names and those confs, so a hit
    returns exactly the schema a fresh inference would: a rewrite
    (Spark names new part files on every write), an append, a deleted
    file or a flipped conf changes the key and infers afresh, and what
    a read returns never depends on what was read before. The one
    change the signature cannot see is a file rewritten in place at the
    same length within the file system's mtime granularity. A path that
    cannot be listed (missing, or a glob) is read without the memo. At
    most ``SCHEMA_MEMO_SIZE`` schemas are kept; the oldest goes first.

    The signature costs one ``listStatus`` per directory, made one after
    another on the driver on every read, hits included, and Spark lists
    the same files again. That cost was measured only on a local file
    system, where it is far below the inference job it saves. On an
    object store (``s3a://``) each directory is a LIST round trip, so a
    partitioned table may pay more in listing than the memo saves; no
    such run has been measured.
    """
    sig = _file_signature(spark, path)
    if sig is None:
        return spark.read.parquet(path)
    key = (sig, tuple(spark.conf.get(k) for k in SCHEMA_CONFS))
    schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        if len(_schemas) >= SCHEMA_MEMO_SIZE:
            del _schemas[next(iter(_schemas))]
        # a copy: ``df.schema`` is the caller's object, and
        # ``StructType.add`` mutates in place
        _schemas[key] = copy.deepcopy(df.schema)
    return df


def parquet_exists(spark: SparkSession, path: str) -> bool:
    """Existence check before read (reference tasks/silver.py:25-30).

    Uses the Hadoop FileSystem API so it works identically for local
    paths and object stores — no data read, metadata only.
    """
    fs, hadoop_path = _hadoop_fs(spark, path)
    return bool(fs.exists(hadoop_path))


def write_bucketed_table(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int,
    path: str,
    fingerprint: str | None = None,
) -> DataFrame:
    """Write *df* as a bucketed + sorted Parquet table and return the
    catalog-backed read of it.

    Bucketing is the co-located-join layout for 100 TB facts: both sides
    of a recurring equi-join are written hash-bucketed by the join key
    with the same bucket count, so every subsequent join between them is
    exchange-free — the scan itself satisfies the join's distribution
    requirement. The `repartition(buckets, key)` before the write aligns
    write-partitions with buckets (repartition and the bucket spec use
    the same murmur3 pmod), yielding exactly one file per bucket.

    Pass *fingerprint* (any string identifying the source data + bucket
    spec) to get the pay-once-reuse contract bucketing exists for: when
    the catalog already holds *table* and the marker written alongside
    the buckets matches, the write is skipped and the existing layout is
    served. A changed source (new mtime/size) changes the fingerprint
    and forces a rewrite — stale buckets are never silently reused.
    """
    spark = df.sparkSession
    marker = os.path.join(path, "_BUCKET_FINGERPRINT")
    if fingerprint is not None and spark.catalog.tableExists(table):
        try:
            with open(marker, encoding="utf-8") as fh:
                if fh.read() == fingerprint:
                    return spark.table(table)
        except OSError:
            pass
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        df.repartition(buckets, F.col(key))
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )
    if fingerprint is not None:
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write(fingerprint)
    return spark.table(table)


def write_parquet_layer(
    df: DataFrame,
    base_dir: str,
    layer: str,
    name: str,
    partition_by: list[str] | None = None,
) -> str:
    """Write a DataFrame as a medallion-layer Parquet table.

    Reference writes a single whole-table object (tasks/silver.py:77-90);
    here the write is partitioned (directory of part-files, optionally
    hive-partitioned by e.g. a year column) so downstream scans prune and
    parallelize — the 100 TB-safe layout.
    """
    path = os.path.join(base_dir, layer_key(layer, name))
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path
