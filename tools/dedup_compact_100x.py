"""Streaming dedup-index compaction equivalence at 100x (VERDICT r11
item 6).

`compact_count_deltas` is correctness-tested at unit scale (end-of-run
fold in tests/test_streaming.py:test_stream_dedup_index_count_compaction,
mid-stream fold in test_stream_dedup_index_compacts_mid_stream). This
tool is the OPERATIONAL proof at the r11 100x tile (500k docs, same
tile/methodology as the "Round-11: streamed dedup index at 100x"
BASELINE row): run the full streamed fold twice —

1. TWIN: uncompacted (one bucket-count delta directory per batch);
2. COMPACTED: `compact_count_deltas` fired MID-STREAM from the
   batch-completion hook (between a batch's store writes and its
   engine commit — the fold never touches the newest delta, which is
   the only one an at-least-once replay may rewrite)

— and assert (a) the settled kept-sets are IDENTICAL (count + order-
insensitive xxhash64 checksum), (b) the per-bucket count totals are
identical (checksum over (band_idx, band_val, total) — the probe's
degenerate-bucket cap reads exactly these), and (c) the bucket-count
store shrank (delta dirs and parquet data files). Wall times for both
runs put a number on the fold's overhead.

Results go to BASELINE.md ("Round-12: mid-stream compaction at 100x").

Usage::

    python tools/dedup_compact_100x.py
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

os.environ.setdefault("SPARK_GRAFT_SCALE_COPIES", "100")
os.environ.setdefault("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_sf10")

OUT_DIR = os.environ["SPARK_GRAFT_SCALE_DIR"]


def _store_stats(run_ns: str) -> dict:
    counts_dir = os.path.join(run_ns, "bucket_counts")
    dirs = sorted(
        d for d in os.listdir(counts_dir) if d.startswith("b")
    )
    files = [
        f
        for d in dirs
        for f in glob.glob(os.path.join(counts_dir, d, "*.parquet"))
    ]
    return {"delta_dirs": len(dirs), "data_files": len(files)}


def main() -> None:
    from pyspark.sql import functions as F

    from etl_acordos_spark.session import get_spark

    spark = get_spark(app_name="dedup-compact-100x")
    spark.sparkContext.setLogLevel("ERROR")

    from tools.scale_smoke import build_scaled_dir

    build_scaled_dir(spark)

    from etl_acordos_spark.streaming import dedup_index as M

    docs = spark.read.parquet(os.path.join(OUT_DIR, "documents.parquet"))

    # order-insensitive checksums: decimal(38,0) sums of xxhash64 —
    # a plain long sum overflows ANSI int64 at 100x row counts
    def kept_sig(kept_df) -> tuple[int, int]:
        row = kept_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64("doc_id").cast("decimal(38,0)")
            ).alias("sig"),
        ).head()
        return int(row["n"]), int(row["sig"])

    def counts_sig(run_ns: str) -> int:
        return int(
            spark.read.parquet(
                os.path.join(run_ns, "bucket_counts", "b*")
            )
            .groupBy("band_idx", "band_val")
            .agg(F.sum("n").alias("total"))
            .agg(
                F.sum(
                    F.xxhash64(
                        "band_idx", "band_val", "total"
                    ).cast("decimal(38,0)")
                ).alias("sig")
            )
            .head()["sig"]
        )

    results: dict = {}

    # 1. twin: uncompacted
    twin_base = "/tmp/spark_graft_compact100_twin"
    t0 = time.perf_counter()
    twin_kept = M.streaming_dedup_index_run(
        spark, docs, "text", "doc_id", twin_base, n_batches=4
    )
    twin_n, twin_sig = kept_sig(twin_kept)
    t_twin = time.perf_counter() - t0
    twin_ns = os.path.join(
        twin_base, f"stream_dedup_index_{os.getpid()}"
    )
    results["twin"] = {
        "t": round(t_twin, 3),
        "kept_n": twin_n,
        **_store_stats(twin_ns),
    }
    print(json.dumps({"twin": results["twin"]}), flush=True)

    # 2. compacted mid-stream
    comp_base = "/tmp/spark_graft_compact100_comp"
    comp_ns = os.path.join(
        comp_base, f"stream_dedup_index_{os.getpid()}"
    )
    folded: dict[int, int] = {}

    def compact_hook(batch_id: int) -> None:
        if batch_id >= 2:
            folded[batch_id] = M.compact_count_deltas(spark, comp_ns)

    t0 = time.perf_counter()
    comp_kept = M.streaming_dedup_index_run(
        spark, docs, "text", "doc_id", comp_base, n_batches=4,
        on_batch_complete=compact_hook,
    )
    comp_n, comp_sig = kept_sig(comp_kept)
    t_comp = time.perf_counter() - t0
    results["compacted"] = {
        "t": round(t_comp, 3),
        "kept_n": comp_n,
        "folded_at": folded,
        **_store_stats(comp_ns),
    }
    print(json.dumps({"compacted": results["compacted"]}), flush=True)

    # 3. invariance
    assert (comp_n, comp_sig) == (twin_n, twin_sig), (
        "kept-set diverged under mid-stream compaction: "
        f"{(comp_n, comp_sig)} != {(twin_n, twin_sig)}"
    )
    cs_twin, cs_comp = counts_sig(twin_ns), counts_sig(comp_ns)
    assert cs_twin == cs_comp, (
        f"bucket totals diverged: {cs_comp} != {cs_twin}"
    )
    assert (
        results["compacted"]["delta_dirs"]
        < results["twin"]["delta_dirs"]
    ), results
    results["invariant"] = {
        "kept_equal": True,
        "bucket_totals_equal": True,
        "kept_n": twin_n,
    }
    print(json.dumps({"summary": results}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
