"""Degenerate-input fixtures: the full TESTDATA table set at 0 rows
and at 1 row.

Robustness envelope for the registry (r10 VERDICT item 1): every key
must either evaluate cleanly on these (returning its declared schema,
usually empty) or raise a documented ``ValueError`` — never an
AnalysisException leak, a ``rows[0]`` IndexError, or a NaN-poisoned
aggregate. The fixtures are derived from the REAL sf0.001 parquet
(``limit 0`` / ``limit 1``), so column names, types, and the events
table's nano-timestamp encoding (bigint after ``nanosAsLong``) match
the driver's tables exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from etl_acordos_spark.session import scoped_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SOURCE_SF = "/root/testdata/sf0.001"


def build_fixture(spark: SparkSession, out_dir: str, n_rows: int) -> str:
    """Write every TESTDATA table truncated to *n_rows* under
    ``out_dir`` (idempotent via a marker file). Returns ``out_dir``."""
    marker = os.path.join(out_dir, "_FIXTURE_OK")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    # events ships TIMESTAMP(NANOS); read it the way the queries do
    # (raw int64 nanos) so the fixture preserves the bigint-ts shape
    # that read_events() normalizes. The writes run inside the scope:
    # Spark reads the conf again when the copy executes.
    with scoped_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}):
        for name in TABLES:
            df = spark.read.parquet(os.path.join(SOURCE_SF, f"{name}.parquet"))
            df.limit(n_rows).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"{name}.parquet")
            )
    with open(marker, "w") as fh:
        fh.write(f"rows={n_rows}\n")
    return out_dir


def empty_fixture(spark: SparkSession) -> str:
    return build_fixture(spark, "/tmp/spark_graft_degenerate/empty", 0)


def onerow_fixture(spark: SparkSession) -> str:
    return build_fixture(spark, "/tmp/spark_graft_degenerate/onerow", 1)
