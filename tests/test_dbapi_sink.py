"""The DBAPI sink's worker side: the values it binds, and the driver
adapters it relies on.

Rows reach ``executemany`` through Arrow batches; what SQLite stores must
be what a ``Row`` of the same frame would have bound, for every type the
sink maps to SQL and for NULLs.
"""

from __future__ import annotations

import datetime
import decimal
import os
import sqlite3
import subprocess
import sys

import pytest

from etl_acordos_spark.sources.dbapi_sink import (
    _SQL_TYPES,
    write_dbapi_append,
    write_dbapi_upsert,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = (
    "k int, s string, l bigint, sh smallint, d double, f float, b boolean,"
    " dt date, ts timestamp, tsn timestamp_ntz, dec decimal(10,2), bin binary"
)
#: what the row-at-a-time sink stored for `_frame` — a tz-aware
#: timestamp would store with a "+00:00" suffix, a dropped NULL row
#: would leave one row
STORED = [
    (1, "ação ünï 日本", 7, 3, 1.5, 2.25, 1, "2020-01-02",
     "2021-03-04 05:06:07.123456", "2022-05-06 07:08:09.500000", "12.34",
     b"\x00\xff\x10"),
    (2, None, None, None, None, None, None, None, None, None, None, None),
]
STORED_TYPES = [
    ("integer", "text", "integer", "integer", "real", "real", "integer",
     "text", "text", "text", "text", "blob"),
    ("integer",) + ("null",) * 11,
]


@pytest.fixture
def decimal_adapter_removed():
    """The DECIMAL adapter the factory registers also lands in the driver
    process (the sink runs its DDL there); take it out again."""
    yield
    sqlite3.adapters.pop((decimal.Decimal, sqlite3.PrepareProtocol), None)


def _frame(spark):
    return spark.createDataFrame(
        [
            (1, "ação ünï 日本", 7, 3, 1.5, 2.25, True,
             datetime.date(2020, 1, 2),
             datetime.datetime(2021, 3, 4, 5, 6, 7, 123456),
             datetime.datetime(2022, 5, 6, 7, 8, 9, 500000),
             decimal.Decimal("12.34"), b"\x00\xff\x10"),
            (2,) + (None,) * 11,
        ],
        SCHEMA,
    )


def test_sink_binds_the_values_a_row_carries(
    spark, tmp_path, decimal_adapter_removed
):
    df = _frame(spark)
    mapped = {type(f.dataType) for f in df.schema.fields}
    assert set(_SQL_TYPES) <= mapped

    def factory(db):
        def connect():
            import sqlite3

            # SQLite has no DECIMAL binding; a driver that does takes
            # the Decimal as is
            sqlite3.register_adapter(decimal.Decimal, str)
            return sqlite3.connect(db)

        return connect

    cols = ", ".join(f'"{c}"' for c in df.columns)
    types = ", ".join(f'typeof("{c}")' for c in df.columns)
    for mode in ("append", "upsert"):
        db = str(tmp_path / f"{mode}.db")
        if mode == "append":
            write_dbapi_append(df, "t", factory(db), writer_partitions=1)
        else:
            write_dbapi_upsert(df, "t", factory(db), "k", writer_partitions=1)
        with sqlite3.connect(db) as conn:
            got = conn.execute(f"SELECT {cols} FROM t ORDER BY k").fetchall()
            got_types = conn.execute(
                f"SELECT {types} FROM t ORDER BY k"
            ).fetchall()
        assert got == STORED, mode
        assert got_types == STORED_TYPES, mode


def test_sink_runs_its_statements_on_a_cursor(spark, tmp_path):
    """PEP 249 puts ``execute`` and ``executemany`` on cursors; sqlite3
    and DuckDB add connection shortcuts, PyMySQL does not. A connection
    with only ``cursor``/``commit``/``close`` must still take the DDL
    and the rows."""
    db = str(tmp_path / "cursor_only.db")

    def connect():
        import sqlite3
        import types

        conn = sqlite3.connect(db)
        return types.SimpleNamespace(
            cursor=conn.cursor, commit=conn.commit, close=conn.close
        )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    write_dbapi_upsert(df, "t", connect, "k", writer_partitions=1)
    with sqlite3.connect(db) as conn:
        got = conn.execute("SELECT k, v FROM t ORDER BY k").fetchall()
    assert got == [(1, "a"), (2, "b")]


FRESH_WORKER = """
import functools, os, sqlite3, sys
sys.path.insert(0, {repo!r})
from etl_acordos_spark.session import get_spark
from etl_acordos_spark.sources.dbapi_sink import write_dbapi_append
spark = get_spark(app_name="dbapi-fresh-worker", master="local[1]")
spark.sparkContext.setLogLevel("ERROR")
db = os.path.join({tmp!r}, "fresh.db")
# pickles as _sqlite3.connect: the worker never imports sqlite3 for it
connect = functools.partial(sqlite3.connect, db)
write_dbapi_append(
    spark.sql("SELECT 1 AS k, DATE'2020-01-02' AS d,"
              " TIMESTAMP'2021-03-04 05:06:07' AS ts"),
    "t", connect, writer_partitions=1, dialect="sqlite",
)
print(sqlite3.connect(db).execute("SELECT k, d, ts FROM t").fetchall())
spark.stop()
"""


def test_sink_binds_dates_in_a_worker_that_never_imported_its_driver(
    tmp_path,
):
    """A fresh Python worker with a factory that unpickles as
    ``_sqlite3.connect`` still has SQLite's date/datetime adapters: the
    sink imports the connection's driver module before its first bind.
    Needs its own session, so its workers have run nothing before."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    script = FRESH_WORKER.format(repo=REPO, tmp=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == (
        "[(1, '2020-01-02', '2021-03-04 05:06:07')]"
    )
