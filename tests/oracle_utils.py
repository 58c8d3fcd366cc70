"""Differential comparison of a Spark result vs a DuckDB oracle result.

Mimics the driver's check: row count + column names + order-insensitive
value comparison with columns sorted by name. Values are canonicalized
(dates/timestamps → ISO strings, floats compared with a tight tolerance
since both engines compute IEEE doubles but may differ in the last ulp
for reassociated aggregates — declared queries round explicitly, so any
real divergence still fails).
"""

from __future__ import annotations

import datetime as dt
import math
import os
from decimal import Decimal

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    conn = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            conn.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return conn


def _canon(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bool):
        return v
    return v


def _row_key(row: tuple) -> tuple:
    return tuple(
        (f"{v:.9e}" if isinstance(v, float) and not math.isnan(v) else repr(v))
        for v in row
    )


_SPARK_INT_TYPES = {"tinyint", "smallint", "int", "bigint"}


def _assert_dtype_parity(spark_df, duck_cols, duck_types) -> None:
    """Driver-hash seam guard: the driver materializes the DuckDB result
    via pandas, where HUGEINT (the default type of ``sum(INTEGER)``)
    becomes float64 while Spark returns bigint — identical values then
    hash as ``4931.0`` vs ``4931``. ``fetchall()`` hides this (HUGEINT →
    Python int), so check declared types, not fetched values: any
    HUGEINT output column, or a float-typed oracle column paired with an
    integer-typed Spark column, is a latent driver mismatch even when
    the value comparison below passes.
    """
    spark_types = dict(spark_df.dtypes)
    for col, dtype in zip(duck_cols, duck_types):
        duck_t = str(dtype).upper()
        stype = spark_types.get(col)
        if stype in _SPARK_INT_TYPES:
            assert duck_t not in ("HUGEINT", "UHUGEINT"), (
                f"oracle column {col!r} is {duck_t} (pandas float64) but "
                f"Spark returns {stype}: add CAST(... AS BIGINT) to the oracle"
            )
            assert duck_t not in ("FLOAT", "DOUBLE"), (
                f"oracle column {col!r} is {duck_t} but Spark returns "
                f"{stype}: align the types on both sides"
            )


def assert_matches_oracle(spark_df, oracle_sql: str, sf_dir: str) -> None:
    conn = duckdb_conn(sf_dir)
    try:
        rel = conn.sql(oracle_sql)
        duck_cols = list(rel.columns)
        duck_types = list(rel.types)
        duck_rows = rel.fetchall()
    finally:
        conn.close()

    spark_cols = spark_df.columns
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    _assert_dtype_parity(spark_df, duck_cols, duck_types)

    order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    duck_sorted = [tuple(_canon(r[i]) for i in order) for r in duck_rows]

    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    spark_rows = [
        tuple(_canon(r[spark_cols[i]]) for i in s_order) for r in spark_df.collect()
    ]

    assert len(spark_rows) == len(duck_sorted), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_sorted)}"
    )

    spark_sorted = sorted(spark_rows, key=_row_key)
    duck_sorted = sorted(duck_sorted, key=_row_key)
    mismatches = []
    for i, (srow, drow) in enumerate(zip(spark_sorted, duck_sorted)):
        for sv, dv in zip(srow, drow):
            if isinstance(sv, float) and isinstance(dv, float):
                if math.isnan(sv) and math.isnan(dv):
                    continue
                if not math.isclose(sv, dv, rel_tol=1e-9, abs_tol=1e-9):
                    mismatches.append((i, srow, drow))
                    break
            elif sv != dv:
                mismatches.append((i, srow, drow))
                break
    assert not mismatches, f"{len(mismatches)} row mismatches; first 3: {mismatches[:3]}"


def explain_str(df, mode: str = "simple") -> str:
    """Plan text via the PUBLIC ``DataFrame.explain`` (stdout capture)
    instead of the private ``_jdf.queryExecution()`` JVM handle — the
    public API exists under both classic and Spark Connect sessions,
    so plan pins survive a runtime migration (r9/r10 ADVICE). ``mode``
    is any explain mode name ("simple", "extended", "formatted",
    "cost", "codegen"); "extended" includes the analyzed logical plan,
    "simple"/"formatted" the physical plan (with PartitionFilters /
    PushedFilters on the scan nodes).
    """
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def count_jobs(spark, fn) -> int:
    """Run *fn* under a fresh job group and return how many Spark jobs
    it launched, as the status tracker records them."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
