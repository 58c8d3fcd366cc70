"""`read_parquet`'s schema memo: a repeated read of unchanged files
skips the inference job, and nothing else changes what it returns."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_acordos_spark.session import scoped_conf
from etl_acordos_spark.sources.parquet_io import read_parquet
from tests.oracle_utils import TABLES, count_jobs

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def test_repeat_read_runs_no_job_and_matches_plain_read(spark, sf_oracle):
    """Every testdata table: the second read of unchanged files launches
    no job and yields exactly the schema (and rows) of a plain read."""
    with scoped_conf(spark, {NANOS: "true"}):
        for name in TABLES:
            path = os.path.join(sf_oracle, f"{name}.parquet")
            read_parquet(spark, path)
            got = []
            assert count_jobs(
                spark, lambda: got.append(read_parquet(spark, path).schema)
            ) == 0, name
            assert got[0] == spark.read.parquet(path).schema, name
    region = os.path.join(sf_oracle, "region.parquet")
    assert sorted(read_parquet(spark, region).collect()) == sorted(
        spark.read.parquet(region).collect()
    )


def test_partitioned_table_schema_matches_plain_read(spark, tmp_path):
    """Partition columns come back with the same types and in the same
    place as inference puts them."""
    path = str(tmp_path / "by_year")
    spark.range(20).select(
        "id", (F.col("id") % 3).alias("ano"), F.col("id").cast("string").alias("s")
    ).write.partitionBy("ano").parquet(path)
    read_parquet(spark, path)
    memo = read_parquet(spark, path)
    plain = spark.read.parquet(path)
    assert memo.schema == plain.schema
    assert sorted(memo.collect()) == sorted(plain.collect())


def test_rewritten_path_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).select(
        F.col("id").cast("string").alias("id"), F.lit(1.5).alias("x")
    ).write.mode("overwrite").parquet(path)
    got = read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert dict(got.dtypes) == {"id": "string", "x": "double"}


def test_flipped_schema_conf_returns_new_schema(spark, tmp_path):
    """`nanosAsLong` decides how TIMESTAMP(NANOS) surfaces; flipping it
    is a memo miss, so each read behaves as a plain read under the conf
    in force: bigint with it, Spark's refusal of the type without it."""
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), path
    )
    with scoped_conf(spark, {NANOS: "true"}):
        assert dict(read_parquet(spark, path).dtypes) == {"ts": "bigint"}
    with scoped_conf(spark, {NANOS: "false"}):
        with pytest.raises(Exception, match="NANOS") as plain:
            spark.read.parquet(path)
        with pytest.raises(type(plain.value), match="NANOS"):
            read_parquet(spark, path)
    with scoped_conf(spark, {NANOS: "true"}):
        assert dict(read_parquet(spark, path).dtypes) == {"ts": "bigint"}
