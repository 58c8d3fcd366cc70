"""ext_dedup_prefix at 30x/100x on a jitter-DECORRELATED tile
(VERDICT r11 item 4).

The r10 30x measurement (alpha 0.96) was adjudicated as tile-minted
quadratic OUTPUT: the standard tile's "copyN " prefix leaves cross-copy
Jaccard ~0.875 >= the 0.8 threshold, so every doc pairs with its 29
copies and an EXACT join must emit that output. To measure the PLAN's
scaling — candidate generation + verify over a corpus whose duplicate
density does not grow with volume — this tool tiles documents with a
deterministic token jitter (the ann_store_100x embedding-jitter trick,
applied to text): in every non-zero copy, each ~4th token (position
phase keyed on (position, copy)) is rewritten to a copy-tagged variant,
so a 3-token shingle survives in two copies only when all three
positions dodge both copies' rewrites — cross-copy shingle Jaccard
lands ~0.1-0.25, far below 0.8, and cross-copy pairs are NOT pairs.
Within one copy the rewrite is a pure function of (word, position,
copy), so the base corpus's real near-dup structure IS preserved and
the true output grows ~linearly in copies — what a real 100x corpus
does.

Reported per scale (1x = sf0.1, 30x, 100x): min-of-2 wall time for the
full exact join (bench noop methodology), candidate-pair count
(`candidates_only=True` — the filter's selectivity), output-pair
count, and alpha vs 1x. Results go to BASELINE.md ("Round-12:
ext_dedup_prefix on a decorrelated tile").

Usage::

    python tools/dedup_prefix_100x.py          # 30x and 100x
    SPARK_GRAFT_PREFIX_COPIES=30 python tools/dedup_prefix_100x.py
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
BASE_OUT = os.environ.get(
    "SPARK_GRAFT_PREFIX_DIR", "/tmp/spark_graft_prefix_tiles"
)
COPIES = [
    int(c)
    for c in os.environ.get("SPARK_GRAFT_PREFIX_COPIES", "30,100").split(",")
]
RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
THRESHOLD = 0.8


def build_decorrelated_documents(spark, copies: int) -> str:
    """Tile sf0.1 documents *copies* times with id offsets and the
    token jitter; copy 0 passes through untouched (tiling convention —
    the base corpus's real near-dup pairs are preserved verbatim)."""
    from pyspark.sql import functions as F

    out = os.path.join(BASE_OUT, f"{copies}x")
    stamp = os.path.join(out, "_built_v1")
    if os.path.exists(stamp):
        return out
    os.makedirs(out, exist_ok=True)
    docs = spark.read.parquet(os.path.join(SRC_DIR, "documents.parquet"))
    stride = docs.agg(F.max("doc_id")).head()[0] + 1
    tiled = (
        docs.crossJoin(
            F.broadcast(
                spark.range(copies).select(F.col("id").alias("_copy"))
            )
        )
        .withColumn("doc_id", F.col("doc_id") + F.col("_copy") * stride)
        .withColumn(
            "text",
            F.when(F.col("_copy") == 0, F.col("text")).otherwise(
                F.array_join(
                    F.expr(
                        "transform(split(text, ' '), (w, p) -> "
                        " IF(pmod(p * 31 + _copy * 7, 4) = 0,"
                        "    concat(w, '~c', _copy), w))"
                    ),
                    " ",
                )
            ),
        )
        .drop("_copy")
    )
    tiled.write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    with open(stamp, "w") as f:
        f.write("ok\n")
    return out


def main() -> None:
    from pyspark.sql import functions as F

    from etl_acordos_spark.session import get_spark

    spark = get_spark(app_name="dedup-prefix-100x")
    spark.sparkContext.setLogLevel("ERROR")

    from etl_acordos_spark.operators.dedup import prefix_filter_pairs

    def read_docs(path: str):
        return spark.read.parquet(os.path.join(path, "documents.parquet"))

    def timed_join(docs) -> float:
        t0 = time.perf_counter()
        prefix_filter_pairs(
            docs, "text", "doc_id", THRESHOLD, use_shingles=True
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def counts(docs) -> tuple[int, int]:
        cand = prefix_filter_pairs(
            docs, "text", "doc_id", THRESHOLD, use_shingles=True,
            candidates_only=True,
        ).count()
        out = prefix_filter_pairs(
            docs, "text", "doc_id", THRESHOLD, use_shingles=True
        ).count()
        return cand, out

    results: dict[str, dict] = {}
    base_docs = read_docs(SRC_DIR)
    t1 = min(timed_join(base_docs) for _ in range(RUNS))
    c1, o1 = counts(base_docs)
    results["1x"] = {"t": round(t1, 3), "candidates": c1, "pairs": o1}
    print(json.dumps({"1x": results["1x"]}), flush=True)

    for n in COPIES:
        tile = build_decorrelated_documents(spark, n)
        docs = read_docs(tile)
        # decorrelation sanity: a doc vs its own copy-1 twin must be
        # BELOW threshold, or the tile re-mints the r10 artifact
        tn = min(timed_join(docs) for _ in range(RUNS))
        cn, on = counts(docs)
        alpha = math.log(tn / t1) / math.log(n)
        results[f"{n}x"] = {
            "t": round(tn, 3),
            "candidates": cn,
            "pairs": on,
            "alpha": round(alpha, 3),
            "pairs_per_copy": round(on / n, 1),
        }
        print(json.dumps({f"{n}x": results[f"{n}x"]}), flush=True)

    print(json.dumps({"summary": results}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
