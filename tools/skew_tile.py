"""Zipf skew stress tile + measurement (r10 VERDICT item 2).

Every scale tile so far grows the data as INDEPENDENT copies (uniform
keys); a real 100 TB fact table has a mega-key. This tool derives a
skewed twin of sf0.1 — same row counts, same schemas — where one key
owns ~30% of the rows, then times the shuffle-bearing relational core
on both and reports the skew ratio (skewed / uniform wall time at
EQUAL volume; a skew-robust plan stays near 1).

Skew injected (HOT_FRAC of rows, deterministic id-keyed choice):
- ``lineitem.l_orderkey``  → the hottest existing orderkey
  (stresses `ext_join_star`'s lineitem⋈orders shuffle join);
- ``lineitem.l_suppkey``   → one hot suppkey (stresses
  `ext_salted_join` and its plain-join twin);
- ``orders.o_custkey``     → one hot custkey (stresses `ext_topk`'s
  per-customer aggregate);
- ``documents.text``       → one mega near-dup cluster: hot docs take
  copy 0's text with a per-doc unique first token, so each stays a
  NEAR-dup (Jaccard >> band threshold) of the cluster — the LSH
  mega-bucket case `ext_dedup_star`'s O(docs·bands) claim covers.

Other tables are copied verbatim. Results go in BASELINE.md's skew
table.

Usage::

    python tools/skew_tile.py build        # write the tile
    python tools/skew_tile.py measure      # time keys on both dirs
    python tools/skew_tile.py salted       # salted vs plain join twin
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SRC_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.environ.get("SPARK_GRAFT_SKEW_DIR", "/tmp/spark_graft_skew")
HOT_FRAC = 0.30
RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))

KEYS = [
    "ext_join_star",
    "ext_groupby_agg",
    "ext_topk",
    "ext_salted_join",
    "ext_dedup_star",
]

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _spark():
    from etl_acordos_spark.session import get_spark

    return get_spark(app_name="skew_tile")


def build(spark) -> None:
    from pyspark.sql import functions as F

    from etl_acordos_spark.session import scoped_conf

    marker = os.path.join(OUT_DIR, "_SKEW_OK")
    if os.path.exists(marker):
        print(f"reusing {OUT_DIR}")
        return
    shutil.rmtree(OUT_DIR, ignore_errors=True)
    os.makedirs(OUT_DIR, exist_ok=True)

    def rd(name):
        return spark.read.parquet(os.path.join(SRC_DIR, f"{name}.parquet"))

    def wr(df, name):
        df.write.mode("overwrite").parquet(
            os.path.join(OUT_DIR, f"{name}.parquet")
        )

    # hot = deterministic id-hash choice, so the hot rows are spread
    # across input files (a contiguous hot range would confound file
    # locality with key skew)
    def hot(id_col):
        return F.xxhash64(F.col(id_col)) % 100 < int(HOT_FRAC * 100)

    orders = rd("orders")
    hot_orderkey = orders.agg(F.max("o_orderkey")).head()[0]
    hot_custkey = rd("customer").agg(F.max("c_custkey")).head()[0]
    hot_suppkey = rd("supplier").agg(F.max("s_suppkey")).head()[0]

    li = rd("lineitem")
    wr(
        li.withColumn(
            "l_orderkey",
            F.when(hot("l_orderkey"), F.lit(hot_orderkey)).otherwise(
                F.col("l_orderkey")
            ),
        ).withColumn(
            "l_suppkey",
            F.when(hot("l_suppkey"), F.lit(hot_suppkey)).otherwise(
                F.col("l_suppkey")
            ),
        ),
        "lineitem",
    )
    wr(
        orders.withColumn(
            "o_custkey",
            F.when(hot("o_custkey"), F.lit(hot_custkey)).otherwise(
                F.col("o_custkey")
            ),
        ),
        "orders",
    )
    docs = rd("documents")
    seed_text = docs.orderBy("doc_id").select("text").head()[0]
    wr(
        docs.withColumn(
            "text",
            F.when(
                hot("doc_id"),
                F.concat(
                    F.format_string("hot%d ", F.col("doc_id")),
                    F.lit(seed_text),
                ),
            ).otherwise(F.col("text")),
        ),
        "documents",
    )
    # events may ship TIMESTAMP(NANOS): copy it as raw int64 nanos. The
    # writes run inside the scope: Spark reads the conf again when the
    # copy executes.
    with scoped_conf(spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}):
        for name in TABLES:
            if name in ("lineitem", "orders", "documents"):
                continue
            wr(rd(name), name)
    with open(marker, "w") as fh:
        fh.write(f"hot_frac={HOT_FRAC}\n")
    print(f"wrote {OUT_DIR}")


def _time_key(fn, spark, sf_dir) -> float:
    best = float("inf")
    for _ in range(RUNS):
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    return best


def measure(spark) -> None:
    import __spark_entry__ as entry

    regs = entry.queries()
    out = {}
    for key in KEYS:
        t_uni = _time_key(regs[key], spark, SRC_DIR)
        t_skew = _time_key(regs[key], spark, OUT_DIR)
        out[key] = {
            "uniform_s": round(t_uni, 3),
            "skewed_s": round(t_skew, 3),
            "ratio": round(t_skew / t_uni, 3),
        }
        print(key, json.dumps(out[key]), flush=True)
    print(json.dumps(out, indent=1))


def salted(spark) -> None:
    """Salted vs plain lineitem⋈supplier on the skewed tile — the same
    aggregate, measured both ways."""
    from pyspark.sql import functions as F

    from etl_acordos_spark.operators.relational import salted_join
    from etl_acordos_spark.queries.base import t

    def plain(spark, sf_dir):
        lineitem = t(spark, sf_dir, "lineitem")
        dim = t(spark, sf_dir, "supplier").select(
            F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
        )
        return (
            lineitem.join(dim, "l_suppkey")
            .groupBy("s_nationkey")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    2,
                ).alias("receita"),
                F.count(F.lit(1)).alias("n_itens"),
            )
        )

    def salted_q(spark, sf_dir):
        lineitem = t(spark, sf_dir, "lineitem")
        dim = t(spark, sf_dir, "supplier").select(
            F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
        )
        return (
            salted_join(lineitem, dim, "l_suppkey", salt_buckets=8)
            .groupBy("s_nationkey")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    2,
                ).alias("receita"),
                F.count(F.lit(1)).alias("n_itens"),
            )
        )

    # salting targets the NON-broadcastable regime (a 100 TB fact with
    # a dim too large to broadcast) — disable auto-broadcast so both
    # paths shuffle, as they would at scale
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = {}
        for name, fn in (("plain", plain), ("salted", salted_q)):
            out[name] = {
                "uniform_s": round(_time_key(fn, spark, SRC_DIR), 3),
                "skewed_s": round(_time_key(fn, spark, OUT_DIR), 3),
            }
            print(name, json.dumps(out[name]), flush=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "measure"
    s = _spark()
    if mode == "build":
        build(s)
    elif mode == "salted":
        build(s)
        salted(s)
    else:
        build(s)
        measure(s)
