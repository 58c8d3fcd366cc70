"""Streamed ANN store at 100x vector volume (VERDICT r10 item 8).

`ext_stream_ann_index` is pinned stream==batch at verification scale
only (tests/test_streaming.py). This tool re-runs the full streamed
ingest + partition-pruned probe at the 100x embeddings tile (500k
vectors, jittered copies — the same tile the r9 batch ANN family was
measured on) and:

1. times the registry callable at sf0.1 and at 100x (min-of-2, noop
   methodology) -> alpha_100 for the streamed store,
2. asserts the 100x streamed probe result row-equals batch
   `ivf_topk(quantize=2^20)` over the same 100x table — the
   stream==batch equality contract, now held two orders of magnitude
   above where the unit test pins it.

Results go to BASELINE.md ("Round-11 streamed ANN store at 100x").
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

os.environ.setdefault("SPARK_GRAFT_SCALE_COPIES", "100")
os.environ.setdefault("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_sf10")

SRC_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.environ["SPARK_GRAFT_SCALE_DIR"]
RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))


def main() -> None:
    import math

    from etl_acordos_spark.session import get_spark

    spark = get_spark(app_name="ann-store-100x")
    spark.sparkContext.setLogLevel("ERROR")

    from tools.scale_smoke import build_scaled_dir

    build_scaled_dir(spark)

    import __spark_entry__ as contract

    q = contract.queries()["ext_stream_ann_index"]

    def run(sf_dir: str) -> float:
        t0 = time.perf_counter()
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    t1 = min(run(SRC_DIR) for _ in range(RUNS))
    t100 = min(run(OUT_DIR) for _ in range(RUNS))
    alpha = math.log(t100 / t1) / math.log(100)
    print(json.dumps({
        "t_sf01": round(t1, 3),
        "t_100x": round(t100, 3),
        "alpha_100": round(alpha, 3),
    }), flush=True)

    # stream == batch at 100x: the streamed store's probe must equal
    # batch ivf_topk over the identical table (same frozen id-prefix
    # quantizer, same probe, same re-rank)
    from etl_acordos_spark.operators.simsearch import ivf_topk

    got = [(r[0], r[1]) for r in q(spark, OUT_DIR).collect()]
    emb = spark.read.parquet(os.path.join(OUT_DIR, "embeddings.parquet"))
    want = [
        (r[0], r[1])
        for r in ivf_topk(emb, query_id=0, k=10, quantize=1 << 20).collect()
    ]
    match = got == want
    print(json.dumps({"stream_eq_batch_100x": match, "rows": len(got)}),
          flush=True)
    if not match:
        print(json.dumps({"got": got, "want": want}))
        raise SystemExit("streamed store != batch ivf_topk at 100x")


if __name__ == "__main__":
    main()
