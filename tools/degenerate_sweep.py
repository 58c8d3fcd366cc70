"""Ad-hoc sweep: run every registry key against the empty and 1-row
fixtures and report the outcome per (key, fixture).

Usage::

    python tools/degenerate_sweep.py [--keys k1,k2] [--fixture empty|onerow]

Outcomes: ``ok:<rows>`` (collect succeeded), ``valueerror:<msg>``
(documented eager raise), ``FAIL:<exc-type>:<msg>`` (anything else —
the crash classes this sweep exists to find). NaN/inf in any
float-typed output column is also a FAIL (NaN-poisoned aggregate).
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import traceback
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from tools.degenerate_fixtures import empty_fixture, onerow_fixture  # noqa: E402


def _nan_cols(rows, schema) -> list[str]:
    bad = set()
    float_fields = [
        f.name
        for f in schema.fields
        if f.dataType.simpleString() in ("double", "float")
    ]
    for r in rows:
        for c in float_fields:
            v = r[c]
            if v is not None and (math.isnan(v) or math.isinf(v)):
                bad.add(c)
    return sorted(bad)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", default=None)
    ap.add_argument("--fixture", default=None, choices=["empty", "onerow"])
    args = ap.parse_args()

    from etl_acordos_spark.session import get_spark

    spark = get_spark(app_name="degenerate_sweep")
    import __spark_entry__ as entry_mod

    regs = entry_mod.queries()
    keys = args.keys.split(",") if args.keys else sorted(regs)
    fixtures = {}
    if args.fixture in (None, "empty"):
        fixtures["empty"] = empty_fixture(spark)
    if args.fixture in (None, "onerow"):
        fixtures["onerow"] = onerow_fixture(spark)

    report: dict[str, dict[str, str]] = {}
    n_fail = 0
    for key in keys:
        report[key] = {}
        for fname, fdir in fixtures.items():
            try:
                df = regs[key](spark, fdir)
                rows = df.limit(1000).collect()
                bad = _nan_cols(rows, df.schema)
                if bad:
                    out = f"FAIL:nan-in:{','.join(bad)}"
                    n_fail += 1
                else:
                    out = f"ok:{len(rows)}"
            except ValueError as exc:
                out = f"valueerror:{str(exc)[:120]}"
            except Exception as exc:  # noqa: BLE001 — triage tool
                out = f"FAIL:{type(exc).__name__}:{str(exc)[:200]}"
                n_fail += 1
                if "--trace" in sys.argv:
                    traceback.print_exc()
            report[key][fname] = out
            print(f"{key:32s} {fname:7s} {out}", flush=True)

    out_path = "/tmp/degenerate_sweep.json"
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(f"\nwrote {out_path}; failures={n_fail}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
