"""Write-path performance envelope (round-10 VERDICT item 5).

The sink keys (`snk_parquet`, `snk_partitioned`, `snk_dbapi_*`,
`ext_zorder`, `ext_compaction`) are bench-excluded — their registered
queries verify CORRECTNESS on dimension-sized inputs, so no recorded
number would catch a write-path throughput regression. This tool
measures the underlying write paths on real volume (fact tables at
sf0.1, and the 10x tile when present) and prints one JSON line per
path: rows written, wall seconds, rows/s, files written. Results are
recorded as the "write-path anchors" table in BASELINE.md.

Usage::

    python tools/write_bench.py                    # sf0.1
    SPARK_GRAFT_SF_DIR=/tmp/spark_graft_sf1 \
        python tools/write_bench.py                # the 10x tile

Method: min-of-RUNS wall time per path (RUNS via
SPARK_GRAFT_BENCH_RUNS, default 2), fresh target dir per run; file
counts from the final run. DBAPI paths write to SQLite with one writer
partition (single-writer database — a server DB takes N partitions),
so their rows/s anchor the PER-WRITER executemany throughput.
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
OUT_BASE = os.environ.get(
    "SPARK_GRAFT_WRITE_BENCH_DIR", "/tmp/spark_graft_write_bench"
)


def main() -> None:
    from pyspark.sql import functions as F

    from etl_acordos_spark.session import get_spark

    spark = get_spark(app_name="write-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from etl_acordos_spark.operators.layout import (
        compact_parquet,
        zorder_write,
    )
    from etl_acordos_spark.sources.dbapi_sink import (
        write_dbapi_append,
        write_dbapi_upsert,
    )
    from etl_acordos_spark.sources.parquet_io import write_parquet_layer

    shutil.rmtree(OUT_BASE, ignore_errors=True)
    os.makedirs(OUT_BASE, exist_ok=True)

    lineitem = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    # cache inputs so the WRITE is what's timed, not the source scan
    lineitem = lineitem.localCheckpoint(eager=True)
    orders = orders.localCheckpoint(eager=True)
    n_li = lineitem.count()
    n_ord = orders.count()

    def files_under(path: str) -> int:
        total = 0
        for _, _, names in os.walk(path):
            total += sum(1 for n in names if n.endswith(".parquet"))
        return total

    results = {}

    def record(name: str, rows: int, secs: float, files: int | None) -> None:
        results[name] = {
            "rows": rows,
            "sec": round(secs, 4),
            "rows_per_sec": int(rows / secs) if secs else None,
            "files": files,
        }

    # -------- plain parquet layer write (snk_parquet shape, fact-sized)
    def parquet_plain() -> tuple[float, int]:
        tgt = os.path.join(OUT_BASE, "layer")
        best = float("inf")
        for _ in range(RUNS):
            shutil.rmtree(tgt, ignore_errors=True)
            t0 = time.perf_counter()
            path = write_parquet_layer(lineitem, tgt, "gold", "lineitem")
            best = min(best, time.perf_counter() - t0)
        return best, files_under(path)

    secs, files = parquet_plain()
    record("snk_parquet", n_li, secs, files)

    # -------- hive-partitioned write (snk_partitioned shape)
    def parquet_partitioned() -> tuple[float, int]:
        tgt = os.path.join(OUT_BASE, "layer_part")
        src = orders.withColumn("ano", F.year("o_orderdate"))
        best = float("inf")
        for _ in range(RUNS):
            shutil.rmtree(tgt, ignore_errors=True)
            t0 = time.perf_counter()
            path = write_parquet_layer(
                src, tgt, "gold", "orders_by_year", partition_by=["ano"]
            )
            best = min(best, time.perf_counter() - t0)
        return best, files_under(path)

    secs, files = parquet_partitioned()
    record("snk_partitioned", n_ord, secs, files)

    # -------- z-order clustered write (ext_zorder shape)
    def zorder() -> tuple[float, int]:
        tgt = os.path.join(OUT_BASE, "orders_z")
        dia = F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        src = orders.select(
            "o_orderkey", "o_custkey", dia.alias("dia"), "o_totalprice"
        )
        best = float("inf")
        for _ in range(RUNS):
            shutil.rmtree(tgt, ignore_errors=True)
            t0 = time.perf_counter()
            path = zorder_write(src, "o_custkey", "dia", tgt)
            best = min(best, time.perf_counter() - t0)
        return best, files_under(path)

    secs, files = zorder()
    record("ext_zorder", n_ord, secs, files)

    # -------- small-file compaction (ext_compaction shape)
    frag = os.path.join(OUT_BASE, "frag")
    lineitem.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    ).repartition(64).write.mode("overwrite").parquet(frag)

    def compaction() -> tuple[float, int]:
        tgt = os.path.join(OUT_BASE, "compacted")
        best = float("inf")
        for _ in range(RUNS):
            shutil.rmtree(tgt, ignore_errors=True)
            t0 = time.perf_counter()
            compact_parquet(
                spark, frag, tgt, target_file_bytes=64 * 1024 * 1024
            )
            best = min(best, time.perf_counter() - t0)
        return best, files_under(tgt)

    secs, files = compaction()
    record("ext_compaction", n_li, secs, files)

    # -------- DBAPI append / upsert (snk_dbapi_* shape, one writer)
    db = os.path.join(OUT_BASE, "sink.sqlite")

    def dbapi(mode: str) -> float:
        best = float("inf")
        for _ in range(RUNS):
            if os.path.exists(db):
                os.remove(db)
            conn_factory = lambda: sqlite3.connect(db)  # noqa: E731
            t0 = time.perf_counter()
            if mode == "append":
                write_dbapi_append(
                    orders, "orders_sink", conn_factory, writer_partitions=1
                )
            else:
                write_dbapi_upsert(
                    orders,
                    "orders_sink",
                    conn_factory,
                    "o_orderkey",
                    writer_partitions=1,
                )
            best = min(best, time.perf_counter() - t0)
        return best

    record("snk_dbapi_append", n_ord, dbapi("append"), None)
    record("snk_dbapi_upsert", n_ord, dbapi("upsert"), None)

    print(
        json.dumps(
            {"sf_dir": SF_DIR, "runs": RUNS, "paths": results},
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
