"""Warehouse sink: typed DDL generation + batched DBAPI upsert/append.

The reference dual-writes every layer to MariaDB with name-based DDL
typing and a two-statements-per-row upsert loop (reference
tasks/bronze.py:94-121, tasks/silver.py:95-139, tasks/gold.py:74-193).

Spark-first re-expression:
  - DDL comes from the DataFrame's *typed* schema (StructType → SQL
    types), replacing the reference's name-based map (bronze.py:96).
  - The upsert is a `mapInArrow` sink: each executor partition opens
    ONE connection, receives its rows as Arrow record batches and issues
    batched ``executemany`` statements — O(partitions) round-trips
    instead of O(rows) — then commits once and returns its row count.
    Arrow batches are columnar and cross the JVM → Python-worker socket
    unpickled and zstd-compressed (`session.get_spark` sets the Arrow
    codec), so the transport writes fewer bytes (the four perfbench gold
    tables: 2.9 MB as Arrow, 0.66 MB on the socket) and the worker
    builds each row tuple with one ``zip`` instead of unpickling a
    ``Row`` object per row. The values reaching ``executemany`` are the
    ones a ``Row`` would have carried: ``TimestampType`` is turned back into
    the naive worker-local datetime ``Row`` gives. On a 1000-executor
    cluster, `coalesce` the frame to the number of writer connections
    the database can take.
  - Divergence (bug fix): sink errors propagate — the reference swallows
    bronze DB errors (tasks/bronze.py:123-124).

The connection factory is any zero-arg callable returning a DBAPI
connection (sqlite3, mysql/mariadb driver, psycopg...), so the sink is
testable without a database server. For plain replace/append semantics on
a real JDBC database, prefer Spark's built-in ``df.write.jdbc`` — this
custom sink exists because Spark has no native MERGE for JDBC.
"""

from __future__ import annotations

import importlib
import sys
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_SQL_TYPES: dict[type, str] = {
    T.StringType: "TEXT",
    T.IntegerType: "INTEGER",
    T.LongType: "BIGINT",
    T.ShortType: "SMALLINT",
    T.DoubleType: "DOUBLE PRECISION",
    T.FloatType: "REAL",
    T.BooleanType: "BOOLEAN",
    T.DateType: "DATE",
    T.TimestampType: "TIMESTAMP",
    T.TimestampNTZType: "TIMESTAMP",
}

_TS = T.TimestampType()
#: rows bound per ``executemany`` call
_EXECUTEMANY_ROWS = 1000


# Dialect table: identifier quote char, DBAPI placeholder (paramstyle),
# upsert conflict clause family, and the spelling of an auto-increment
# integer surrogate key — the reference's tables all carry one
# (reference tasks/silver.py:97-113, tasks/gold.py:76-126 use MariaDB
# `id INT AUTO_INCREMENT PRIMARY KEY`).
#   - "ansi"    : sqlite3 / DuckDB / Postgres-family (qmark, ON CONFLICT)
#   - "sqlite"  : ansi quoting with sqlite's AUTOINCREMENT spelling
#   - "mariadb" : MariaDB Connector/Python (qmark, backticks, ON
#                 DUPLICATE KEY UPDATE)
#   - "mysql"   : PyMySQL-style drivers (format/%s placeholders)
_DIALECTS: dict[str, dict[str, str]] = {
    "ansi": {
        "quote": '"',
        "placeholder": "?",
        "conflict": "excluded",
        "autoinc": "INTEGER GENERATED BY DEFAULT AS IDENTITY PRIMARY KEY",
    },
    "sqlite": {
        "quote": '"',
        "placeholder": "?",
        "conflict": "excluded",
        "autoinc": "INTEGER PRIMARY KEY AUTOINCREMENT",
    },
    "mariadb": {
        "quote": "`",
        "placeholder": "?",
        "conflict": "values",
        "autoinc": "INTEGER AUTO_INCREMENT PRIMARY KEY",
    },
    "mysql": {
        "quote": "`",
        "placeholder": "%s",
        "conflict": "values",
        "autoinc": "INTEGER AUTO_INCREMENT PRIMARY KEY",
    },
}


def _dialect(name: str) -> dict[str, str]:
    try:
        return _DIALECTS[name]
    except KeyError:
        raise ValueError(
            f"unknown dialect {name!r}; expected one of {sorted(_DIALECTS)}"
        ) from None


def ddl_from_schema(
    table: str,
    schema: T.StructType,
    primary_key: str | None = None,
    auto_increment_pk: str | None = None,
    dialect: str = "ansi",
) -> str:
    """``CREATE TABLE IF NOT EXISTS`` DDL from a typed Spark schema.

    Replaces the reference's column-NAME-based type map
    (tasks/bronze.py:94-99) with type-based mapping — Spark schemas are
    typed, so no inference leak.

    *primary_key* marks an EXISTING schema column as the PK (the upsert
    sinks use this for their conflict target). *auto_increment_pk*
    instead PREPENDS a database-assigned integer surrogate key named
    after it — the reference's MariaDB table shape (tasks/silver.py:
    97-113); *dialect* picks the spelling (mariadb/mysql, sqlite, ansi
    identity). The two options are mutually exclusive: a table has one
    primary key.
    """
    d = _dialect(dialect)
    q = d["quote"]
    if auto_increment_pk is not None:
        if primary_key is not None:
            raise ValueError(
                "primary_key and auto_increment_pk are mutually exclusive"
            )
        if any(f.name == auto_increment_pk for f in schema.fields):
            raise ValueError(
                f"auto_increment_pk {auto_increment_pk!r} collides with a "
                "schema column — surrogate keys are database-assigned"
            )
    cols = []
    if auto_increment_pk is not None:
        cols.append(f"{q}{auto_increment_pk}{q} {d['autoinc']}")
    for f in schema.fields:
        sql_t = _SQL_TYPES.get(type(f.dataType), "TEXT")
        pk = " PRIMARY KEY" if primary_key == f.name else ""
        cols.append(f"{q}{f.name}{q} {sql_t}{pk}")
    return f"CREATE TABLE IF NOT EXISTS {q}{table}{q} ({', '.join(cols)})"


def _insert_sql(
    table: str,
    columns: list[str],
    upsert_key: str | None,
    dialect: str = "ansi",
) -> str:
    d = _dialect(dialect)
    q, ph = d["quote"], d["placeholder"]
    collist = ", ".join(f"{q}{c}{q}" for c in columns)
    qs = ", ".join(ph for _ in columns)
    sql = f"INSERT INTO {q}{table}{q} ({collist}) VALUES ({qs})"
    if upsert_key:
        others = [c for c in columns if c != upsert_key]
        if d["conflict"] == "values":
            # MariaDB/MySQL upsert (reference tasks/bronze.py:102-121's
            # target database)
            sets = ", ".join(f"{q}{c}{q} = VALUES({q}{c}{q})" for c in others)
            sql += f" ON DUPLICATE KEY UPDATE {sets}"
        else:
            sets = ", ".join(f"{q}{c}{q} = excluded.{q}{c}{q}" for c in others)
            sql += f" ON CONFLICT ({q}{upsert_key}{q}) DO UPDATE SET {sets}"
    return sql


def write_dbapi_upsert(
    df: DataFrame,
    table: str,
    connection_factory: Callable[[], Any],
    upsert_key: str,
    writer_partitions: int | None = None,
    dialect: str = "ansi",
) -> None:
    """Batched upsert keyed on *upsert_key* (reference tasks/bronze.py:102-121,
    which does per-row UPDATE+INSERT; here ``executemany`` over batches).
    Pass ``dialect="mariadb"`` against the reference's actual warehouse
    (backtick quoting + ON DUPLICATE KEY UPDATE).
    """
    _write_dbapi(
        df, table, connection_factory, upsert_key, writer_partitions, dialect
    )


def write_dbapi_append(
    df: DataFrame,
    table: str,
    connection_factory: Callable[[], Any],
    writer_partitions: int | None = None,
    dialect: str = "ansi",
) -> None:
    """Batched append (reference tasks/silver.py:95-139 insert loops)."""
    _write_dbapi(
        df, table, connection_factory, None, writer_partitions, dialect
    )


def _write_dbapi(
    df: DataFrame,
    table: str,
    connection_factory: Callable[[], Any],
    upsert_key: str | None,
    writer_partitions: int | None,
    dialect: str = "ansi",
) -> None:
    columns = df.columns
    sql = _insert_sql(table, columns, upsert_key, dialect)
    # TimestampType is tz-aware (session zone) in Arrow; a Row gives the
    # naive worker-local datetime of its epoch microseconds
    # (TimestampType.fromInternal), which is what executemany binds.
    local_ts = {
        i for i, f in enumerate(df.schema.fields)
        if isinstance(f.dataType, T.TimestampType)
    }

    # DDL once, driver-side, inside the same transaction discipline.
    ddl = ddl_from_schema(
        table, df.schema, primary_key=upsert_key, dialect=dialect
    )
    conn = connection_factory()
    try:
        conn.cursor().execute(ddl)
        conn.commit()
    finally:
        conn.close()

    def sink_batches(batches):
        import pyarrow as pa

        conn = connection_factory()
        n = 0
        try:
            # A driver registers its type adapters when its module is
            # imported, and a pickled factory need not import it
            # (functools.partial(sqlite3.connect, ...) unpickles as
            # _sqlite3.connect, leaving DATE and TIMESTAMP unbindable).
            driver = type(conn).__module__
            if driver not in sys.modules:
                importlib.import_module(driver)
            cur = conn.cursor()
            for batch in batches:
                cols = [
                    [_TS.fromInternal(us) for us in c.cast(pa.int64()).to_pylist()]
                    if i in local_ts
                    else c.to_pylist()
                    for i, c in enumerate(batch.columns)
                ]
                rows = list(zip(*cols))
                for lo in range(0, len(rows), _EXECUTEMANY_ROWS):
                    cur.executemany(sql, rows[lo:lo + _EXECUTEMANY_ROWS])
                n += len(rows)
            conn.commit()
        finally:
            # Fail loudly: exceptions propagate and fail the Spark task
            # (divergence from reference tasks/bronze.py:123-124 swallow).
            conn.close()
        yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})

    out = df
    if writer_partitions:
        out = out.coalesce(writer_partitions)
    out.mapInArrow(sink_batches, "n long").collect()
