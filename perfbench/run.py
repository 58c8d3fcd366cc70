"""The repository benchmark: one workload, one seed, one closed-loop client.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload lake_writes --seed 1 --seconds 1 --trace 0

The run generates (or reuses) the workload's seeded inputs, builds the
session through ``etl_acordos_spark.session.get_spark`` on
``local[nproc]``, runs one cold pass and then steady passes for at least
``--seconds`` (at least one), checks the outputs, and prints one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
traced run (event log, job groups, streaming listener) and the tracing
overhead. A record with the environment, every span and the fold is
written to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

#: End-to-end metrics: name -> unit.
E2E = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}

MEDALLION_FIELDS = {
    "wall_s": "s", "driver_s": "s", "exec_cpu_s": "s", "gc_s": "s", "input_mb": "MB",
    "shuffle_write_mb": "MB", "output_mb": "MB", "rows_out": "count",
}
#: medallion span -> its fields; dbapi_sink writes SQLite from Python
#: workers, where Spark's output metrics do not see the rows
MEDALLION_SPANS = {
    "medallion.bronze": MEDALLION_FIELDS,
    "medallion.silver": MEDALLION_FIELDS,
    "medallion.gold": MEDALLION_FIELDS,
    "dbapi_sink.gold": {f: u for f, u in MEDALLION_FIELDS.items() if f not in ("output_mb", "rows_out")},
}
FAMILY_SPANS = (
    "flagship", "operators.relational", "operators.graph", "operators.text",
    "operators.dedup", "operators.simsearch",
)
FAMILY_FIELDS = {
    "wall_s": "s", "driver_s": "s", "jobs": "count", "exec_cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "python_s": "s",
}
STREAM_SPANS = ("streaming.events",)
STREAM_FIELDS = {
    "wall_s": "s", "microbatches": "count", "add_batch_s": "s", "commit_s": "s",
    "planning_s": "s", "exec_cpu_s": "s", "output_mb": "MB", "rewrite_ratio": "ratio",
}
WATCHDOG_S = 170
_MB = 1024.0 * 1024.0


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    from workloads import QUERY_KEYS

    units = {"session.start_s": "s", "session.ship_s": "s"}
    for span, fields in MEDALLION_SPANS.items():
        units.update({f"{span}.{f}": u for f, u in fields.items()})
    for span in FAMILY_SPANS:
        units.update({f"{span}.{f}": u for f, u in FAMILY_FIELDS.items()})
    units.update({f"query.{k}.p50_s": "s" for k in QUERY_KEYS})
    for span in STREAM_SPANS:
        units.update({f"{span}.{f}": u for f, u in STREAM_FIELDS.items()})
    units.update({"streaming.microbatch_p50_s": "s", "streaming.microbatch_p90_s": "s"})
    units.update({f"trace_overhead.{m}": u for m, u in E2E.items()})
    return units


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _pct(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs) - 1, int(math.ceil(q * len(xs))) - 1)])


def e2e_metrics(setup_s, passes, steady_ops, pass_bytes, wchar_delta, peak_rss) -> dict[str, float]:
    """*passes*: wall seconds per pass, cold first; *steady_ops*: op name
    -> list of steady wall seconds."""
    steady = passes[1:]
    return {
        "setup_s": setup_s,
        "cold_pass_s": passes[0],
        "pass_s": _median(steady),
        "op_geomean_s": math.exp(statistics.fmean(math.log(_median(v)) for v in steady_ops.values())),
        "write_amp": wchar_delta / (pass_bytes * len(steady)),
        "peak_rss_mb": peak_rss,
    }


def layer_metrics(steady, folded, setup, feed_bytes) -> dict[str, float]:
    """Per-layer values from the steady-pass spans *steady* and their
    *folded* metrics: per span name the median over passes; a query
    family sums its keys within a pass first. A layer the workload does
    not run reports 0."""
    from workloads import QUERY_KEYS

    out = {"session.start_s": setup["start_s"], "session.ship_s": setup["ship_s"]}
    by_name: dict[str, list[dict]] = {}
    for s in steady:
        by_name.setdefault(s.name, []).append(folded[s.id])
    for span, fields in MEDALLION_SPANS.items():
        for f in fields:
            out[f"{span}.{f}"] = _median(r[f] for r in by_name.get(span, []))
    passes = sorted({s.attrs["pass"] for s in steady})
    for fam in FAMILY_SPANS:
        names = {f"query.{k}" for k, (family, _) in QUERY_KEYS.items() if family == fam}
        ran = any(s.name in names for s in steady)
        for f in FAMILY_FIELDS:
            per_pass = [
                sum(folded[s.id][f] for s in steady if s.name in names and s.attrs["pass"] == p)
                for p in passes
            ]
            out[f"{fam}.{f}"] = _median(per_pass) if ran else 0.0
    for k in QUERY_KEYS:
        out[f"query.{k}.p50_s"] = _median(r["wall_s"] for r in by_name.get(f"query.{k}", []))
    batches: list[float] = []
    for span in STREAM_SPANS:
        recs = by_name.get(span, [])
        batches += [b for r in recs for b in r["batch_s"]]
        for f in STREAM_FIELDS:
            if f == "rewrite_ratio":
                vals = [r["output_mb"] * _MB / feed_bytes[span] for r in recs]
            else:
                vals = [r[f] for r in recs]
            out[f"{span}.{f}"] = _median(vals)
    out["streaming.microbatch_p50_s"] = _median(batches)
    out["streaming.microbatch_p90_s"] = _pct(batches, 0.9)
    return out


# ------------------------------------------------------------------ run


def _program_present(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "__spark_entry__.py")) and os.path.isfile(
        os.path.join(root, "etl_acordos_spark", "session.py")
    )


def code_fingerprint(root: str) -> str:
    """sha256 over the program's and the benchmark's files, so that a
    record stands only for runs of the same code."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for top in ("etl_acordos_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            paths += [os.path.join(d, f) for f in sorted(files)]
    for path in paths:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def matching_record(path: str, code: str, seconds: float) -> dict | None:
    """The record at *path* when it is of a run of the same code and
    seconds that failed nothing, else None."""
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        rec = json.load(fh)
    if rec.get("code") == code and rec["seconds"] == seconds and rec["failed"] == 0:
        return rec
    return None


def _untraced_reference(root: str, records: str, args, code: str) -> dict:
    """The record of an untraced run of the same code, workload, seed and
    seconds in this checkout. Without one, that run is made now; it
    shares this run's watchdog deadline."""
    import bench_env

    path = os.path.join(records, f"{args.workload}-s{args.seed}-t0.json")
    rec = matching_record(path, code, args.seconds)
    if rec is not None:
        return rec
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        cwd=root, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True,
        timeout=max(1.0, WATCHDOG_S - bench_env.process_age_s()),
    )
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


class _Timeout(BaseException):
    """Raised by the watchdog; a BaseException so that the per-operation
    ``except Exception`` does not count it as one failed operation and
    carry on."""


def _on_alarm(signum, frame):
    raise _Timeout(f"run exceeded {WATCHDOG_S} s")


def run(args) -> dict:
    import bench_env

    age0 = bench_env.process_age_s()
    root = os.getcwd()
    settings = bench_env.configure(root)
    work = os.path.join(root, bench_env.WORK_DIR)
    records = os.path.join(work, "records")
    run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(records, exist_ok=True)
    env = {"nproc": bench_env.nproc(), "ram_mb": bench_env.ram_mb(), "load0": bench_env.load_avg(), **settings}

    import duckdb

    import gen
    import spans
    from workloads import WORKLOADS, Inputs

    wl_cls = WORKLOADS[args.workload]
    t_gen = time.perf_counter()
    in_dir, manifest = gen.ensure_inputs(os.path.join(work, "inputs"), wl_cls.kind, args.seed)
    gen_s = time.perf_counter() - t_gen
    code = code_fingerprint(root)
    reference = _untraced_reference(root, records, args, code) if args.trace else None
    probe0 = bench_env.cpu_probe_s()

    spark_log = os.path.join(run_dir, "spark.log")
    saved_err = os.dup(2)
    spark = None
    attempted = failed = 0
    errors: list[str] = []
    try:
        with open(spark_log, "w", encoding="utf-8") as log:
            os.dup2(log.fileno(), 2)  # JVM and worker logs go to the run's log
            t_pre = time.perf_counter()
            event_log = os.path.join(run_dir, "eventlog") if args.trace else None
            spark, start_s, ship_s = bench_env.start_session(root, event_log)
            # process start to run() entry, plus the session build; the
            # input generation and the reference run in between are excluded
            setup = {"setup_s": age0 + (time.perf_counter() - t_pre), "start_s": start_s, "ship_s": ship_s}
            tracer = spans.Tracer(spark if args.trace else None)
            listener = None
            if args.trace:
                listener = spans.make_listener()
                spark.streams.addListener(listener)
            wl = wl_cls(spark, Inputs(in_dir, manifest), run_dir, args.seed)
            ops = wl.ops()
            jvm = bench_env.jvm_pid()

            def one_pass(idx: int) -> float:
                nonlocal attempted, failed
                wl.reset()
                with tracer.span("pass", index=idx) as ps:
                    for name, fn in ops:
                        attempted += 1
                        with tracer.span(name, **{"pass": idx}):
                            try:
                                fn()
                            except Exception:  # an operation that raises is a failed operation
                                failed += 1
                                errors.append(f"pass {idx} {name}: {traceback.format_exc(limit=3)}")
                return ps.wall_s

            passes = [one_pass(0)]
            w0 = bench_env.tree_wchar(jvm)
            # steady passes until --seconds have passed, at least one
            deadline = time.perf_counter() + args.seconds
            while len(passes) < 2 or time.perf_counter() < deadline:
                passes.append(one_pass(len(passes)))
            w1 = bench_env.tree_wchar(jvm)
            peak_rss = bench_env.vm_hwm_mb(jvm) + bench_env.self_maxrss_mb()
            progress = []
            if listener:
                # progress events reach the listener asynchronously
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                progress = listener.snapshot()

            # output checks, outside the timed region
            t_check = time.perf_counter()
            try:
                with duckdb.connect() as duck:
                    check_errors = wl.check(duck)
            except Exception:
                check_errors = {"check": traceback.format_exc(limit=5)}
            check_s = time.perf_counter() - t_check
            failed += len(check_errors)
            errors += [f"check {k}: {v}" for k, v in check_errors.items()]
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            bench_env.stop_session(spark)
        stop_s = time.perf_counter() - t_stop
        os.dup2(saved_err, 2)
        os.close(saved_err)

    steady_spans = [s for s in tracer.spans if s.name != "pass" and s.attrs["pass"] > 0]
    steady_ops: dict[str, list[float]] = {}
    for s in steady_spans:
        steady_ops.setdefault(s.name, []).append(s.wall_s)
    metrics = e2e_metrics(
        setup["setup_s"], passes, steady_ops, wl.pass_bytes(), w1 - w0, peak_rss,
    )
    with open(spark_log, encoding="utf-8", errors="replace") as fh:
        error_lines = [ln.rstrip() for ln in fh if " ERROR " in ln]
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "code": code,
        "env": {**env, "load": bench_env.load_avg(), "cpu_probe_s": [probe0, bench_env.cpu_probe_s()]},
        "inputs": {"dir": os.path.relpath(in_dir, root), "generate_s": gen_s, "tables": manifest},
        "setup": setup, "passes": passes, "check_s": check_s, "stop_s": stop_s,
        "op_medians_s": {k: _median(v) for k, v in steady_ops.items()},
        "op_walls_s": [[s.attrs["pass"], s.name, s.wall_s] for s in tracer.spans if s.name != "pass"],
        "attempted": attempted, "failed": failed, "errors": errors,
        "spark_error_lines": len(error_lines), "spark_error_sample": error_lines[:5],
        "metrics": metrics,
    }
    result_metrics = {k: {"value": v, "unit": E2E[k]} for k, v in metrics.items()}
    if args.trace:
        (log_file,) = os.listdir(event_log)
        with open(os.path.join(event_log, log_file), encoding="utf-8") as fh:
            jobs = spans.parse_event_log(fh)
        folded = spans.fold(tracer.spans, jobs, progress)
        layers = layer_metrics(steady_spans, folded, setup, wl.feed_bytes())
        layers.update({f"trace_overhead.{k}": metrics[k] - reference["metrics"][k] for k in E2E})
        result_metrics = {k: {"value": layers[k], "unit": u} for k, u in per_layer_units().items()}
        record.update({
            "spans": tracer.dump(), "fold": folded, "per_layer": layers,
            "reference": reference["metrics"],
        })
    with open(os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    for e in errors:
        print(e, file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": result_metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    from workloads import WORKLOADS

    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present(os.getcwd()):
        print("perfbench: run from the root of a checkout that holds the program "
              "(__spark_entry__.py and etl_acordos_spark/)", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(WATCHDOG_S)
    try:
        result = run(args)
    finally:
        signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
