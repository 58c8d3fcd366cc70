"""Graph family at 100x with the auto-demotion live (VERDICT r10 item 3).

The r8 note measured `ext_triangle_count` at 30x (alpha_30 = 0.87 on the
auto-shuffled path, 24 GiB heap) and extrapolated 100x because the wedge
spill then exceeded the box's free disk. This tool runs BOTH graph keys
at the full 100x tile (119.6M co-purchase edges, 60M lineitem rows) with
a 24 GiB driver (0.75 GiB/core at local[32] — the honest stand-in for a
cluster's 4+ GiB/core, same rationale as the r8 30x run) and records:

- `ext_pagerank` — at 100x the graph holds ~2M vertices, BELOW the 20M
  rank-broadcast crossover, so the auto keeps the broadcast rank join
  (that IS the correct branch; the shuffled fallback is also timed so
  the fallback cost at this scale is on record, mirroring the r9 30x
  probe);
- `ext_triangle_count` — at 100x the oriented edge list holds ~119.6M
  edges, ABOVE the 20M broadcast crossover, so the auto MUST demote the
  wedge probes to shuffled joins. The demotion is asserted from the
  physical plan of the very DataFrame that is timed (ShuffledHashJoin
  wedge probes — NOT SortMergeJoin, whose wedge sort overran 79 GiB of
  spill disk at this scale — and no broadcast wedge side), not from a
  separate re-run.

Results go to BASELINE.md ("Round-11 graph family at 100x").

Usage::

    python tools/graph_100x.py             # both keys
    python tools/graph_100x.py pagerank    # subset
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from unittest import mock

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

os.environ.setdefault("SPARK_GRAFT_SCALE_COPIES", "100")
os.environ.setdefault("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_sf10")

SRC_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.environ["SPARK_GRAFT_SCALE_DIR"]
DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
# 256 shuffle partitions for the 100x wedge sort: at the bench's 32 the
# per-partition wedge slice (~2 GiB) spills far more than it sorts;
# a real cluster would run thousands of reducers here
SHUFFLE_PARTS = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS", "256")


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from etl_acordos_spark.session import get_spark

    which = set(sys.argv[1:]) or {"pagerank", "triangle"}
    spark = get_spark(
        app_name="graph-100x",
        extra_conf={
            "spark.driver.memory": DRIVER_MEM,
            "spark.sql.shuffle.partitions": SHUFFLE_PARTS,
            "spark.local.dir": "/tmp/spark_graft_spill_100x",
            # compressed checkpoints shrink the serialized edge pins
            "spark.checkpoint.compress": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    from tools.scale_smoke import build_scaled_dir

    build_scaled_dir(spark)

    from pyspark.sql import functions as F

    from etl_acordos_spark.operators import graph
    from etl_acordos_spark.operators.graph import co_occurrence_edges
    from etl_acordos_spark.queries.relational import (
        q_ext_pagerank,
        q_ext_triangle_count,
    )

    results = {}

    if "pagerank" in which:
        # auto branch (broadcast kept: ~2M vertices <= 20M crossover)
        t0 = time.perf_counter()
        df = q_ext_pagerank(spark, OUT_DIR)
        df.write.format("noop").mode("overwrite").save()
        t_auto = time.perf_counter() - t0
        plan = _plan(df)
        results["pagerank_auto"] = {
            "t_100x": round(t_auto, 3),
            "broadcast_in_plan": "BroadcastHashJoin" in plan,
        }
        print(json.dumps({"pagerank_auto": results["pagerank_auto"]}),
              flush=True)

        # forced shuffled fallback — the branch a >20M-vertex graph
        # would take; records the fallback premium at 100x
        li = spark.read.parquet(os.path.join(OUT_DIR, "lineitem.parquet"))
        edges = co_occurrence_edges(
            li, "l_orderkey", "l_partkey", max_group_size=1000
        )
        t0 = time.perf_counter()
        with mock.patch.object(graph, "BROADCAST_MAX_ROWS", 0):
            pr = graph.pagerank(
                edges, iterations=10, damping=0.85, k=20
            ).withColumnRenamed("vertex", "p_partkey")
            pr.write.format("noop").mode("overwrite").save()
        t_shuf = time.perf_counter() - t0
        results["pagerank_forced_shuffle"] = {"t_100x": round(t_shuf, 3)}
        print(json.dumps(
            {"pagerank_forced_shuffle": results["pagerank_forced_shuffle"]}
        ), flush=True)

    if "triangle" in which:
        t0 = time.perf_counter()
        df = q_ext_triangle_count(spark, OUT_DIR)
        built_s = time.perf_counter() - t0  # incl. the internal count probe
        plan = _plan(df)
        df.write.format("noop").mode("overwrite").save()
        t_total = time.perf_counter() - t0
        # the demotion contract (tests/test_plan_health.py, BASELINE
        # r11): ShuffledHashJoin wedge probes, no SortMergeJoin (its
        # wedge sort is the 79 GiB disk overrun), no broadcast wedge
        demoted = (
            "ShuffledHashJoin" in plan
            and "SortMergeJoin" not in plan
            and "BroadcastHashJoin" not in plan
        )
        results["triangle_auto"] = {
            "t_100x": round(t_total, 3),
            "plan_probe_s": round(built_s, 3),
            "demoted_to_shuffled": demoted,
            "shuffled_hash_in_plan": "ShuffledHashJoin" in plan,
            "sort_merge_in_plan": "SortMergeJoin" in plan,
            "broadcast_wedge_in_plan": "BroadcastHashJoin" in plan,
        }
        print(json.dumps({"triangle_auto": results["triangle_auto"]}),
              flush=True)
        if not demoted:
            raise SystemExit(
                "triangle_counts did NOT demote to SHUFFLE_HASH wedge "
                "joins at 100x (SortMergeJoin or broadcast wedge in "
                "plan) — crossover regression"
            )

    print(json.dumps({"done": results}))


if __name__ == "__main__":
    main()
