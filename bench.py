"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], in the session
the engine's factory builds (`etl_acordos_spark.session.get_spark`, the
one the tests verify), and prints ONE JSON line:
{"metric", "value", "unit", "queries", "sf"}.

Each query is forced to full materialization with the noop sink (no
driver-side collect overhead, no result transfer skew). One warmup query
runs first so JVM/codegen startup isn't billed to the first headline.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: min-of-N runs per query (N>=2 amortizes JIT; bump for variance hunts)
RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
#: prior-round bench file to emit per-query ratios against (variance audit)
BASELINE_BENCH = os.environ.get("SPARK_GRAFT_BENCH_BASELINE", "BENCH_r01.json")
#: byte budget for the printed contract line. The driver's stdout capture
#: keeps only the LAST ~2000 bytes; r01/r02 parsed because the whole line
#: (plus ~150 bytes of spark progress noise ahead of it) fit the window,
#: r03-r05 recorded `parsed: null` because the 90-112-key line overflowed
#: it. Printing stays under the cap; FULL timings go to the sidecar.
LINE_BYTE_BUDGET = int(os.environ.get("SPARK_GRAFT_BENCH_LINE_BYTES", "1650"))

# Every registry key is either timed (HEADLINE below, or the
# auto-computed auxiliary tier — anything not named here) or excluded
# with a reason in EXCLUDED. tests/test_bench_contract.py pins that
# the three sets tile the registry exactly.
EXCLUDED: dict[str, str] = {
    # Exact all-pairs oracle baselines: verification-scale by design
    # (QUADRATIC_BY_DESIGN in tests/test_plan_health.py); their LSH /
    # candidate-generation scale paths are benched instead
    # (ext_dedup_near, ext_dedup_simhash, ext_simsearch_ann).
    "ext_dedup_jaccard": "all-pairs oracle baseline; LSH path benched",
    "ext_dedup_embed": "all-pairs oracle baseline; LSH path benched",
    "ext_dedup_ngram": "all-pairs oracle baseline; LSH path benched",
    "ext_dedup_contain": "all-pairs oracle baseline; LSH path benched",
    "ext_dedup_keep": "built on the exact-pair graph for oracle-ability",
    "ext_dup_cluster_stats": "built on the exact-pair graph",
    "ext_leakage_split": "built on the exact-pair graph",
    "ext_bitext_mine": "all-pairs margin baseline; ann path benched",
    # Write-bound layout/maintenance jobs: wall time measures the local
    # disk, not the engine; semantics oracle-/footer-stats-verified in
    # the test suite.
    "snk_parquet": "write-bound sink",
    "snk_dbapi_upsert": "write-bound sink",
    "snk_dbapi_append": "write-bound sink",
    "snk_partitioned": "write-bound partitioned rewrite of orders",
    "ext_zorder": "write-bound layout rewrite",
    "ext_compaction": "write-bound layout rewrite",
    "flow_dag": "writes three parquet layers; medallion transforms "
    "benched via flagship",
    # Streaming store maintenance: per-microbatch parquet commits +
    # stream checkpoints; semantics pinned by the sequential-fold /
    # batch-equality tests in tests/test_streaming.py. Batch twins
    # (ext_cms_sketch, ext_simsearch_ivf) are benched.
    "ext_stream_dedup_index": "store maintenance; batch dedup benched",
    "ext_stream_ann_index": "store maintenance; batch IVF benched",
    "ext_stream_cms": "store maintenance; batch CMS benched",
    "ext_stream_hll": "store maintenance; batch HLL (ext_hll_md5) benched",
}

# Always-printed core of the contract line: stable heavy/marquee keys,
# serialized into the stdout subset BEFORE the rotation fill so that
# consecutive rounds (and the driver's 32-core/8-core pair) share a
# comparable per-query set. VERDICT r12: full rotation printed disjoint
# subsets in r11/r12 and 32c/8c, so PERF computed n_common=0 and an
# empty scaling.per_query. Composition: the heaviest keys by the r12
# sidecar (graph, BPE, streaming, dedup) + the flagship + the standing
# hot-list keys; all are HEADLINE members (pinned by
# tests/test_bench_contract.py) so every run times them.
PINNED = [
    "ext_triangle_count",
    "ext_pagerank",
    "ext_bpe_apply",
    "ext_bpe_train",
    "ext_stream_upsert",
    "ext_stream_stateful",
    "ext_assoc_rules",
    "ext_rfm",
    "ext_bloom_decontam",
    "ext_kmeans",
    "ext_dedup_near",
    "flagship",
    "ext_percentiles",
    "ext_bloom_join",
    "ext_join_star",
    "ext_geo_join",
    "ext_mm_phash",
    "ext_lm_bigram",
    "ext_hierarchy",
]

# Heavy/representative subset of the §2 registry: star join, hash agg,
# window functions, time windows, JSON, set ops, the LLM-pipeline family
# (dedup, similarity search, text analysis). Keys in neither HEADLINE
# nor EXCLUDED (interchange sources, reference-parity scalar fns, the
# remaining compute keys) run as the auxiliary tier after HEADLINE —
# same timing protocol, same sidecar, so every key gets a recorded
# number; only the stdout `value` stays the HEADLINE total for
# round-over-round comparability.
HEADLINE = [
    "flagship",
    "ext_join_star",
    "ext_asof_join",
    "ext_range_join",
    "ext_groupby_agg",
    "ext_join_semi_anti",
    "ext_bloom_join",
    "ext_merge_upsert",
    "ext_salted_join",
    "ext_topk",
    "ext_window_running",
    "ext_window_ranking",
    "ext_percentiles",
    "ext_sessionize_batch",
    "ext_correlated_subquery",
    "ext_rollup",
    "ext_event_windows",
    "ext_funnel",
    "ext_funnel_latency",
    "ext_rfm",
    "ext_assoc_rules",
    "ext_geo_join",
    "ext_growth",
    "ext_active_users",
    "ext_calendar_dim",
    "ext_benford",
    "ext_outlier_iqr",
    "ext_retention",
    "ext_anomaly_zscore",
    "ext_transition_matrix",
    "ext_psi_drift",
    "ext_gini",
    "ext_gap_fill",
    "ext_quantile_sketch",
    "ext_changepoint",
    "ext_record_linkage",
    "ext_skyline",
    "ext_triangle_count",
    "ext_ab_test",
    "ext_ks_test",
    "ext_pagerank",
    "ext_hierarchy",
    "ext_sliding_windows",
    "ext_time_rollup",
    "ext_window_range_frame",
    "ext_json_extract",
    "ext_setops",
    "ext_agg_stats",
    "ext_approx",
    "ext_hll_sketch",
    "ext_hll_md5",
    "ext_cube",
    "ext_udf_scalar",
    "ext_udaf_grouped",
    "ext_salted_agg",
    "ext_stream_windows",
    "ext_stream_sessions",
    "ext_stream_stateful",
    "ext_stream_dedup",
    "ext_stream_join",
    "ext_stream_stream_join",
    "ext_stream_upsert",
    "ext_stream_anomaly",
    "ext_dedup_exact",
    "ext_dedup_url",
    "ext_dedup_near",
    "ext_dedup_star",
    "ext_dedup_para",
    "ext_passage_dedup",
    "ext_dedup_simhash",
    "ext_simsearch",
    "ext_simsearch_ann",
    "ext_simsearch_pq",
    "ext_simsearch_ivfpq",
    "ext_hybrid_rrf",
    "ext_quantize_embed",
    "ext_kmeans",
    "ext_semdedup",
    "ext_domain_cap",
    "ext_text_stats",
    "ext_token_count",
    "ext_quality_score",
    "ext_entropy",
    "ext_lm_score",
    "ext_lm_bigram",
    "ext_lang_id",
    "ext_fingerprint",
    "ext_pii_redact",
    "ext_tfidf",
    "ext_bm25",
    "ext_ngram_topk",
    "ext_pmi",
    "ext_weighted_sample",
    "ext_span_dedup",
    "ext_repetition",
    "ext_doc_chunk",
    "ext_stratified_sample",
    "ext_mixture_sample",
    "ext_corpus_pipeline",
    "ext_boilerplate",
    "ext_decontaminate",
    "ext_seq_pack",
    "ext_pack_bfd",
    "ext_cdc_diff",
    "ext_dq_checks",
    "ext_bucketed_join",
    "ext_unpivot",
    "ext_histogram",
    "ext_profile",
    "ext_schema_evolution",
    "ext_bloom_decontam",
    "ext_dedup_incremental",
    "ext_quality_filter",
    "ext_mm_decode",
    "ext_mm_audio",
    "ext_mm_phash",
    "ext_ppl_buckets",
    "ext_shuffle_shard",
    "ext_bpe_train",
    "ext_bpe_apply",
    "ext_dataset_card",
    "ext_heavy_hitters",
    "ext_cms_sketch",
]


def rotate_never_benched_first(keys: list[str]) -> list[str]:
    """Order *keys* so ones never seen in a driver-parsed BENCH_r*.json
    come first (in HEADLINE order), then already-benched keys by least-
    recently-benched round. Mirrors queries/base.py:rotate_unchecked_first
    for the correctness window: the printed subset is byte-capped, so the
    order IS the bench schedule — every key gets a driver-recorded timing
    within a couple of rounds with no manual curation. Rounds whose line
    overflowed (``parsed: null``) recorded nothing, so their keys stay
    "never benched" and re-front automatically.
    """
    last_round: dict[str, int] = {}
    for path in sorted(os.listdir(_REPO_ROOT)):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", path)
        if not m:
            continue
        try:
            with open(os.path.join(_REPO_ROOT, path)) as f:
                parsed = json.load(f).get("parsed") or {}
        except (OSError, ValueError):
            continue
        for k in parsed.get("queries") or {}:
            last_round[k] = max(last_round.get(k, 0), int(m.group(1)))
    idx = {k: i for i, k in enumerate(keys)}
    return sorted(keys, key=lambda k: (last_round.get(k, -1), idx[k]))


def env_snapshot() -> dict:
    """Machine context stamped into the bench artifacts so an elevated
    round is legible from the artifact alone (VERDICT r11 item 3: the
    r11 driver geomean 1.219 vs builder same-HEAD close 1.021 gap was
    pure machine state, proven by hand each round). Called once at
    process start (``load0`` — what the box looked like BEFORE this
    bench added its own load; the 15-min figure exposes a just-finished
    pytest/driver run) and once at line-print time (``load``)."""
    snap: dict = {}
    try:
        snap["load"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    try:
        with open("/proc/uptime") as f:
            snap["up_h"] = round(float(f.read().split()[0]) / 3600, 2)
    except (OSError, ValueError):
        pass
    return snap


def anchor_report(timings: dict[str, float]) -> dict:
    """Self-reported ratios vs the BASELINE.md anchor tables (the same
    parse the round-close analysis uses — tools/bench_close.load_anchors
    — so the driver artifact and the builder's close read one anchor
    set). Compact: geomean + the >=1.5x early-warning keys (top 8 by
    ratio; `hot_n` is the full count). Full ratio map goes to the
    sidecar, never this summary."""
    try:
        sys.path.insert(0, os.path.join(_REPO_ROOT, "tools"))
        from bench_close import load_anchors

        anchors = load_anchors()
    except Exception:  # malformed BASELINE.md must never kill a bench run
        return {}
    import math

    ratios = {
        k: v / anchors[k]
        for k, v in timings.items()
        if anchors.get(k)
    }
    if not ratios:
        return {}
    geo = math.exp(
        sum(math.log(r) for r in ratios.values()) / len(ratios)
    )
    hot = sorted(
        ((k, r) for k, r in ratios.items() if r >= 1.5),
        key=lambda kr: -kr[1],
    )
    rep = {
        "geo": round(geo, 3),
        "n": len(ratios),
        "hot_n": len(hot),
        "hot": {k: round(r, 2) for k, r in hot[:8]},
        "ratios": {k: round(r, 3) for k, r in ratios.items()},
    }
    return rep


def build_contract_line(
    timings: dict[str, float],
    sf: float | None,
    headline_total: float | None = None,
    extra: dict | None = None,
) -> str:
    """The driver-facing stdout line: the PINNED heavy-key core first
    (stable across rounds and core counts, so per-query round-over-round
    and scaling comparisons stay computable), then a never-benched-first
    rotated subset of the remaining *timings*, filled until the
    serialized line would exceed LINE_BYTE_BUDGET. `value` is
    *headline_total* (round-over-round comparable HEADLINE-only sum;
    defaults to the sum over all timings); `shown`/`ran` make the subset
    explicit. *extra* fields (env/anchor self-report) are serialized
    BEFORE the subset fills, so the byte cap accounts for them.
    Module-level so the contract tests exercise THIS code, not a
    replica."""
    pinned = [k for k in PINNED if k in timings]
    order = pinned + [
        k
        for k in rotate_never_benched_first(list(timings))
        if k not in set(pinned)
    ]
    shown: dict[str, float] = {}
    value = (
        headline_total
        if headline_total is not None
        else sum(timings.values())
    )

    def _line(qmap: dict[str, float]) -> str:
        payload = {
            "metric": "headline_total",
            "value": round(value, 4),
            "unit": "sec",
            "queries": qmap,
            "sf": sf,
            "shown": len(qmap),
            "ran": len(timings),
        }
        if extra:
            payload.update(extra)
        return json.dumps(payload, separators=(",", ":"))

    for k in order:
        candidate = dict(shown)
        candidate[k] = timings[k]
        if len(_line(candidate)) > LINE_BYTE_BUDGET:
            break
        shown = candidate
    return _line(shown)


def main() -> None:
    start_env = env_snapshot()

    from etl_acordos_spark.session import get_spark

    spark = get_spark(app_name="etl-acordos-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as contract

    qs = contract.queries()

    def run(name: str) -> float:
        # time the WHOLE query: some operators legitimately do driver-side
        # work in the builder (streaming runs execute on build; ANN/IVF
        # collect a query vector / centroids), so starting the clock after
        # the build would under-report them
        t0 = time.perf_counter()
        df = qs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run("ext_groupby_agg")  # warmup: JVM + codegen + parquet footer cache

    # Steady-state timing: best of two runs per query. The first run of a
    # plan pays one-off JVM codegen/compile for its operators — real at
    # single-digit-second scale, irrelevant amortized over a 100 TB job.
    # min-of-2 measures the engine's throughput, not the JIT.
    # optional per-key progress log (file path in env) — for attributing
    # a mid-run crash to its key; never stdout/stderr (capture contract)
    log_path = os.environ.get("SPARK_GRAFT_BENCH_LOG")
    timings: dict[str, float] = {}
    auxiliary = [
        k for k in qs if k not in set(HEADLINE) and k not in EXCLUDED
    ]
    order = HEADLINE + auxiliary
    # optional key subset (isolated re-anchor runs): `python bench.py
    # key1 key2 ...` times only those keys, same warmup + min-of-RUNS
    # conventions. The no-args contract path is untouched — the driver
    # always invokes bench.py bare.
    if len(sys.argv) > 1:
        unknown = [k for k in sys.argv[1:] if k not in qs]
        if unknown:
            raise SystemExit(f"unknown keys: {unknown}")
        order = [k for k in order if k in set(sys.argv[1:])]
    for name in order:
        if name not in qs:
            continue
        if log_path:
            with open(log_path, "a") as lf:
                lf.write(f"start {name}\n")
        timings[name] = round(min(run(name) for _ in range(RUNS)), 4)
        if log_path:
            with open(log_path, "a") as lf:
                lf.write(f"done {name} {timings[name]}\n")

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    headline_total = sum(
        v for k, v in timings.items() if k in set(HEADLINE)
    )
    # The contract line is stdout's FIRST AND ONLY line, compact, and
    # byte-capped: the driver keeps only the tail of stdout. Full
    # timings → sidecar. The line self-reports machine context and the
    # anchor-ratio summary so an elevated driver round is adjudicable
    # from the artifact alone.
    env = env_snapshot()
    if "load" in start_env:
        env["load0"] = start_env["load"]
    anc = anchor_report(timings)
    anc_summary = {k: v for k, v in anc.items() if k != "ratios"}
    extra = {}
    if env:
        extra["env"] = env
    if anc_summary:
        extra["anc"] = anc_summary
    sys.stdout.write(
        build_contract_line(timings, sf, headline_total, extra) + "\n"
    )
    sys.stdout.flush()

    # Sidecar file — ALWAYS written: since the stdout line is byte-
    # capped to a rotated subset, timings_all here is the only complete
    # per-key record of this run. Ratios vs a prior round's bench file
    # (run-to-run variance audit — VERDICT r2 item 5) attach when the
    # baseline file exists and parses; a missing/unparsed baseline must
    # not discard the timings. Never echoed to stdout OR stderr: the
    # driver merges streams and parses the LAST JSON line, so even a
    # stderr echo would displace the headline payload (r4 evidence).
    sidecar = {
        "timings_all": timings,
        "sf": sf,
        "headline_total": round(headline_total, 4),
        "excluded": EXCLUDED,
    }
    if env:
        sidecar["env"] = env
    if anc:
        sidecar["anchor_geomean"] = anc.get("geo")
        sidecar["ratios_vs_anchors"] = anc.get("ratios")
    base_path = os.path.join(_REPO_ROOT, BASELINE_BENCH)
    try:
        with open(base_path) as f:
            raw = json.load(f)
        # driver round files nest the printed line under "parsed"
        base = raw.get("queries") or (raw.get("parsed") or {}).get(
            "queries", {}
        )
        ratios = {
            k: round(v / base[k], 3)
            for k, v in timings.items()
            if base.get(k)
        }
        if ratios:
            sidecar["baseline_bench"] = os.path.basename(base_path)
            sidecar["ratios_vs_baseline"] = ratios
    except (OSError, ValueError, ZeroDivisionError):
        pass
    try:
        with open(
            os.path.join(_REPO_ROOT, "BENCH_ratios_local.json"), "w"
        ) as f:
            json.dump(sidecar, f, indent=1, sort_keys=True)
    except OSError:
        pass
    spark.stop()


if __name__ == "__main__":
    main()
