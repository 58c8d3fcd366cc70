"""sf1 scale smoke: measure the scaling exponent of the most expensive
registry keys at 10x the bench volume (round-6 VERDICT item 2).

The driver only ever benches at sf0.1, so a super-linear plan could
hide behind a healthy-looking single-point number. This tool tiles the
sf0.1 tables 10x into an sf1-equivalent directory and times a key set
at both scales:

- every fact-table KEY COLUMN is offset per copy (``key + copy *
  (max_key + 1)``), so the 10 copies behave as independent shards —
  exactly how TPC-H scale factors grow (more orders/customers, not
  hotter keys);
- the fixed dimensions (region, nation) are NOT tiled, matching TPC-H
  (25 nations at every sf) and keeping broadcast-side semantics;
- documents/embeddings get the same id-offset treatment; embedding
  copies take a deterministic (id, copy, pos)-keyed jitter so
  near-duplicate structure is preserved but copies aren't bit-equal
  (the tests/test_scale_paths.py `_embeddings_20x` convention).

Scaling exponent: ``alpha = log(t_sf1 / t_sf01) / log(10)`` —
alpha <= ~1.15 reads as O(n)–O(n log n); >= ~1.5 flags super-linear
growth worth a plan audit. Results are recorded in BASELINE.md.

Usage::

    python tools/scale_smoke.py                  # default top-10 keys
    python tools/scale_smoke.py key1 key2 ...    # explicit keys

Writes the tiled tables to $SPARK_GRAFT_SCALE_DIR (default
/tmp/spark_graft_sf1) once; reruns reuse them.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SRC_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_sf1")
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))
RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))

#: the top-10 most expensive keys by the round-6 bench (VERDICT item 2)
DEFAULT_KEYS = [
    "ext_triangle_count",
    "ext_pagerank",
    "ext_bpe_train",
    "ext_bpe_apply",
    "ext_assoc_rules",
    "ext_rfm",
    "ext_bloom_join",
    "ext_hierarchy",
    "ext_cms_sketch",
    "ext_lm_bigram",
]

#: per-table key columns to offset per copy, each mapped to the KEY
#: FAMILY whose stride it must share. Foreign keys take the REFERENCED
#: table's PK stride — offsetting o_custkey by max(o_custkey)+1 while
#: c_custkey uses max(c_custkey)+1 would mis-join every copy whenever a
#: dimension's max key goes unreferenced by the fact (spec TPC-H: every
#: third custkey places no orders, so the two maxes differ by 1 and
#: copy>=1 orders join the WRONG customer). region/nation are fixed
#: dims, copied verbatim (not tiled).
KEYED = {
    "customer": {"c_custkey": "custkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "part": {"p_partkey": "partkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "events": {"event_id": "eventkey", "user_id": "userkey"},
    "documents": {"doc_id": "dockey"},
    "embeddings": {"vec_id": "veckey"},
}
#: key family -> (owning table, PK column) the stride is computed from
FAMILY_PK = {
    "custkey": ("customer", "c_custkey"),
    "orderkey": ("orders", "o_orderkey"),
    "partkey": ("part", "p_partkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "eventkey": ("events", "event_id"),
    "userkey": ("events", "user_id"),
    "dockey": ("documents", "doc_id"),
    "veckey": ("embeddings", "vec_id"),
}
FIXED_DIMS = ["region", "nation"]


def build_scaled_dir(spark) -> None:
    from pyspark.sql import functions as F

    os.makedirs(OUT_DIR, exist_ok=True)
    # v2: FK offsets share the referenced PK's stride (a v1 dir built
    # with per-table maxes would mis-join if dimension maxes were
    # unreferenced by the fact; this repo's testdata happens to align,
    # so the recorded v1 exponents stand)
    # v3: copy-0 embeddings pass through unjittered (tiling convention
    # fix) — bump forces a rebuild of any v2 tile dir
    stamp = os.path.join(OUT_DIR, f"_built_{COPIES}x_v3")
    if os.path.exists(stamp):
        return
    copies = spark.range(COPIES).select(F.col("id").alias("_copy"))
    for name in FIXED_DIMS:
        spark.read.parquet(os.path.join(SRC_DIR, f"{name}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(OUT_DIR, f"{name}.parquet"))
    strides = {}
    for family, (owner, pk) in FAMILY_PK.items():
        df = spark.read.parquet(os.path.join(SRC_DIR, f"{owner}.parquet"))
        strides[family] = int(df.agg(F.max(pk)).head()[0]) + 1
    for name, keys in KEYED.items():
        df = spark.read.parquet(os.path.join(SRC_DIR, f"{name}.parquet"))
        tiled = df.crossJoin(F.broadcast(copies))
        for k, family in keys.items():
            tiled = tiled.withColumn(
                k, F.col(k) + F.col("_copy") * strides[family]
            )
        if name == "embeddings":
            # jittered copies: near but not bit-equal (test_scale_paths
            # convention) so ANN/dedup structure stays realistic; copy 0
            # passes through untouched (same convention as documents) so
            # the base corpus's exact-dup/ANN structure is preserved
            tiled = tiled.withColumn(
                "embedding",
                F.when(
                    F.col("_copy") == 0, F.col("embedding")
                ).otherwise(
                    F.expr(
                        "transform(cast(embedding as array<double>),"
                        " (x, p) -> x + 0.001 * double("
                        "   pmod(vec_id * 31 + _copy * 7 + p, 17) - 8))"
                    ).cast("array<float>")
                ),
            )
        if name == "documents":
            # vary copied text deterministically so cross-copy docs are
            # not exact duplicates (which would explode dedup clusters
            # beyond what a real 10x corpus shows): prefix a copy tag
            tiled = tiled.withColumn(
                "text",
                F.when(F.col("_copy") == 0, F.col("text")).otherwise(
                    F.concat(
                        F.lit("copy"),
                        F.col("_copy").cast("string"),
                        F.lit(" "),
                        F.col("text"),
                    )
                ),
            )
        tiled.drop("_copy").write.mode("overwrite").parquet(
            os.path.join(OUT_DIR, f"{name}.parquet")
        )
    with open(stamp, "w") as f:
        f.write("ok\n")


def main() -> None:
    from etl_acordos_spark.session import get_spark

    keys = sys.argv[1:] or DEFAULT_KEYS
    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    build_scaled_dir(spark)

    import __spark_entry__ as contract

    qs = contract.queries()

    def run(name: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run("ext_groupby_agg", SRC_DIR)  # warmup
    rows = []
    for name in keys:
        t1 = min(run(name, SRC_DIR) for _ in range(RUNS))
        t10 = min(run(name, OUT_DIR) for _ in range(RUNS))
        alpha = math.log(t10 / t1) / math.log(COPIES)
        rows.append(
            {
                "key": name,
                "t_sf01": round(t1, 3),
                "t_sf1": round(t10, 3),
                "alpha": round(alpha, 3),
            }
        )
        print(json.dumps(rows[-1]), flush=True)
    print(json.dumps({"copies": COPIES, "results": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
