"""Round-12 plan audit: capture `explain("formatted")` for registry keys
and summarize plan smells (guide §1.1/§7.2).

Usage:
    python tools/plan_audit.py [--out plans/r12 --suffix _before] [key ...]

For each key the tool builds the query DataFrame against
$SPARK_GRAFT_SF_DIR (default sf0.1), captures the FORMATTED physical
plan to <out>/<key><suffix>.txt, and prints one summary line per key:

    key  exch=N  bhj=N shj=N smj=N nlj=N cart=N  pyeval=N  scans=N
         unpushed_scans=N

Smell flags scanned for (spark_optimization_guide.md):
  - Exchange count (shuffles — §2.4)
  - join strategy mix (§3.1) and CartesianProduct (§3)
  - BatchEvalPython (row-at-a-time Python — §4.1); ArrowEvalPython /
    MapInPandas / MapInArrow are reported separately (vectorized)
  - parquet scans whose PushedFilters is empty while the query filters
    that table (§6) — reported as a per-scan note, needs eyeballing

Queries that execute eagerly in their builder (streaming runs, iterative
graph/cluster loops) are still audited — the captured plan is the final
frame's; their cost shape lives in the builder and is reviewed by hand.

The session comes from the engine's factory (`get_spark`), the same one
bench.py times, so captured plans match what the bench runs.
Plans are captured BEFORE execution where the builder is lazy, i.e.
`isFinalPlan=false` AQE headers are expected.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (_REPO_ROOT, os.path.join(_REPO_ROOT, "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def explain_formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict:
    scans = re.findall(r"Scan parquet[^\n]*", plan)
    pushed_empty = len(re.findall(r"PushedFilters: \[\]", plan))
    return {
        "exch": plan.count("Exchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cart": plan.count("CartesianProduct"),
        "pyeval": plan.count("BatchEvalPython"),
        "arrow": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("MapInArrow")
        + plan.count("FlatMapGroupsInPandas"),
        "scans": len(scans),
        "nofilter": pushed_empty,
        "rowscan": plan.count("Scan ExistingRDD"),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(_REPO_ROOT, "plans/r12"))
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--no-write", action="store_true")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    from etl_acordos_spark.session import get_spark

    spark = get_spark(app_name="plan-audit-r12")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as contract

    qs = contract.queries()
    keys = args.keys or list(qs)
    unknown = [k for k in keys if k not in qs]
    if unknown:
        raise SystemExit(f"unknown keys: {unknown}")
    if not args.no_write:
        os.makedirs(args.out, exist_ok=True)

    hdr = (
        f"{'key':26s} {'s':>6s} exch bhj shj smj bnlj cart py arrow "
        "scans nopush rdd"
    )
    print(hdr)
    for k in keys:
        t0 = time.perf_counter()
        try:
            df = qs[k](spark, SF_DIR)
            plan = explain_formatted(df)
        except Exception as exc:  # noqa: BLE001 — audit must finish
            print(f"{k:26s} ERROR {type(exc).__name__}: {exc}")
            continue
        dt = time.perf_counter() - t0
        if not args.no_write:
            with open(
                os.path.join(args.out, f"{k}{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
        s = summarize(plan)
        print(
            f"{k:26s} {dt:6.2f} {s['exch']:4d} {s['bhj']:3d} {s['shj']:3d}"
            f" {s['smj']:3d} {s['bnlj']:4d} {s['cart']:4d} {s['pyeval']:2d}"
            f" {s['arrow']:5d} {s['scans']:5d} {s['nofilter']:6d}"
            f" {s['rowscan']:3d}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
