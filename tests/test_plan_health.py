"""Physical-plan health checks — the properties the 100 TB design
depends on, pinned so a refactor can't silently regress them:

- dimension joins stay broadcast (a small dim must never shuffle the
  fact table);
- scans are column-pruned and filters are pushed to the parquet reader;
- no query in the §2 registry falls back to a Cartesian product except
  the intentionally-quadratic exact verification baselines.

These assert against the optimizer's chosen plan (``explainString``),
not runtime timings, so they are stable at any test scale factor.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as contract


def plan_of(df) -> str:
    # public explain() capture, not the _jdf JVM handle — Connect-safe
    from oracle_utils import explain_str

    return explain_str(df, mode="formatted")


def plan_tree(plan: str) -> str:
    """The operator-tree section of a formatted explain (everything
    before the first blank line). Node-count pins must count HERE:
    the details section repeats every node name, so counting the raw
    string double-counts — and how many times the details name a node
    shifts across Spark versions independent of the tree shape
    (r12 ADVICE)."""
    return plan.split("\n\n", 1)[0]


def scan_schema(plan: str, table_file: str) -> str:
    """ReadSchema of the formatted-explain scan section for one file."""
    section = next(
        s for s in plan.split("\n\n")
        if table_file in s and "ReadSchema" in s
    )
    return re.search(r"ReadSchema: struct<([^>]*)>", section).group(1)


def test_flagship_broadcasts_small_dims_and_prunes_orders_scan(spark, sf_oracle):
    """nation/region must broadcast (forced hints — always tiny). The
    fact⋈dim join is deliberately NOT pinned to a strategy: dim derives
    from the full customer table, so its join is size-selected
    (broadcast at test scale, shuffle at 100×) — forcing the broadcast
    was flagged as a large-sf memory risk in VERDICT r3."""
    plan = plan_of(contract.queries()["flagship"](spark, sf_oracle))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    read_schema = scan_schema(plan, "orders.parquet")
    assert len(read_schema.split(",")) == 3, read_schema


def test_star_join_broadcasts_dims_and_pushes_filters(spark, sf_oracle):
    plan = plan_of(contract.queries()["ext_join_star"](spark, sf_oracle))
    # customer/nation/region broadcast; only lineitem⋈orders may shuffle
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert plan.count("SortMergeJoin") <= 1, plan
    # join-key null filters reach the parquet readers
    assert "PushedFilters: [IsNotNull" in plan, plan


def test_groupby_agg_pushes_predicate_and_partial_aggregates(spark, sf_oracle):
    plan = plan_of(contract.queries()["ext_groupby_agg"](spark, sf_oracle))
    assert re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", plan), plan
    # partial (map-side) + final hash aggregate around one exchange
    assert plan.count("HashAggregate") >= 2, plan
    read_schema = scan_schema(plan, "lineitem.parquet")
    assert len(read_schema.split(",")) == 7, read_schema


def test_rollup_joins_stay_broadcast_into_one_expand(spark, sf_oracle):
    """r12 adjudication pin (BASELINE.md "Round-12 adjudication
    anchors"): ext_rollup's plan is 3 broadcast star joins feeding a
    single rollup Expand aggregate. Two driver-bench flags (r9 1.51x,
    r11 2.15x) were both adjudicated environmental with this exact
    plan verified unchanged; pinning it makes any real plan drift fail
    here instead of surfacing as a bench-ratio argument."""
    plan = plan_of(contract.queries()["ext_rollup"](spark, sf_oracle))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # formatted explain lists each op in the tree and once in details
    assert plan.count("Expand") == 2, plan


#: exact all-pairs verification baselines — quadratic BY DESIGN
#: (SURVEY.md §2.6); every other registered query must avoid
#: nested-loop/cartesian execution.
QUADRATIC_BY_DESIGN = {
    "ext_dedup_jaccard",
    "ext_dedup_contain",
    "ext_dedup_embed",
    "ext_bitext_mine",  # exact all-pairs margin-mining baseline
    "ext_simsearch",  # exact top-k baseline: scan × 1 broadcast query row
    "ext_simsearch_ann",  # exact re-rank joins the 1-row query vector
    "ext_simsearch_ivf",
    "ext_approx",  # 1-row sketch-estimate broadcast join (rank-contract probe)
    "ext_tfidf",  # 1-row corpus-size broadcast join
    "ext_bm25",  # 1-row corpus-stats broadcast join
    "ext_hybrid_rrf",  # BM25 side carries the same 1-row stats join
    "ext_boilerplate",  # same 1-row corpus-size broadcast join
    "ext_mixture_sample",  # 1-row token-budget broadcast join
    "ext_corpus_pipeline",  # ends in the same 1-row budget join
    "ext_lm_score",  # 1-row vocab-total broadcast join
    "ext_lm_bigram",  # same 1-row corpus-total broadcast join (backoff)
    "ext_ppl_buckets",  # builds on lm_score's 1-row vocab-total join
    "ext_multimodal",  # binary payload demo joins a 1-row key
    "ext_dataset_card",  # 1-row × 1-row stats cross join
    "ext_heavy_hitters",  # 1-row corpus-total broadcast join
    "ext_psi_drift",  # 1-row global-bounds broadcast join
    "ext_quantile_sketch",  # 1-row global-bounds broadcast join
    # + a 3-row quantile-probe lateral explode (not a join)
    "ext_pmi",  # two 1-row corpus-total broadcast joins
    "ext_rfm",  # 1-row date-horizon broadcast join
    "ext_assoc_rules",  # 1-row basket-total broadcast join
    "ext_benford",  # 1-row digit-total broadcast join
    "ext_dedup_ngram",  # exact all-pairs shingle-Jaccard baseline
    "ext_leakage_split",  # built on the exact all-pairs dup graph
    "ext_bloom_decontam",  # 1-row bloom-bitset broadcast join
    "ext_quality_filter",  # 1-row quantile-thresholds broadcast join
    # sampled anchor-set broadcast × one corpus scan — the brute-force
    # mining regime (n·q by design; the IVF cell-routed probe is the
    # large-anchor-set path, see operators/simsearch.py:hard_negatives)
    "ext_hard_negatives",
}

#: keys whose build executes a full run (streams, sinks) or needs
#: scratch state — their returned plan is a store read, so plan text is
#: checked for the batch queries only. (ext_dedup_near/keep/incremental
#: are NOT here: they eagerly materialize a bounded candidate leaf at
#: build, but still return a real joinable plan worth checking.)
SKIP_PLAN_CHECK = {
    "snk_parquet", "snk_partitioned", "snk_dbapi_upsert", "snk_dbapi_append",
    "flow_dag", "flow_retry", "chk_exists", "ddl_infer",
    "ext_stream_windows", "ext_stream_sessions", "ext_stream_stateful",
    "ext_stream_dedup", "ext_stream_join", "ext_stream_upsert",
    # ext_stream_stream_join's registry callable RUNS the stream and
    # returns a read of the result table — its "plan" is a scan, so the
    # generic cartesian check on it was vacuous. The real streaming join
    # plan is pinned pre-start by
    # test_stream_stream_join_is_keyed_symmetric_hash below.
    "ext_stream_stream_join", "ext_stream_dedup_index",
    "ext_stream_ann_index", "ext_stream_anomaly",
    # ext_stream_cms's build runs a full foreachBatch ingest; its
    # report plan is the SAME shape ext_cms_sketch's generic check
    # already covers (broadcast cell-probe join)
    "ext_stream_cms",
}


def test_bucketed_join_has_no_shuffle_exchange(spark, sf_oracle):
    """Bucketed co-located join: the ONLY exchange allowed in the plan is
    the one feeding the final group-by aggregate — the join itself must
    run directly on the bucket-aligned scans (that's the entire point of
    paying the bucketing shuffle at write time)."""
    df = contract.queries()["ext_bucketed_join"](spark, sf_oracle)
    plan = plan_of(df)
    assert "SortMergeJoin" in plan, plan
    assert "Bucketed: true" in plan, plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 1, (
        "bucketed join shuffled one of its inputs:\n" + plan
    )


def test_corpus_pipeline_bodies_never_shuffle(spark, sf_oracle):
    """The one-plan corpus-prep capstone must join every stage's keep-set
    back broadcast (no sort-merge join) and no Exchange may carry the
    document text — the shuffles of a 100 TB corpus prep are ids,
    digests, and counts, never bodies."""
    df = contract.queries()["ext_corpus_pipeline"](spark, sf_oracle)
    plan = plan_of(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    for exch in re.findall(r"Exchange hashpartitioning\([^)]*\)", plan):
        assert "text" not in exch, f"document body shuffled: {exch}"


def test_passage_dedup_bodies_cross_wire_once(spark, sf_oracle):
    """Passage dedup: the first-occurrence decision must ride on
    xxhash64 digests — the only Exchange allowed to carry document/
    passage text is the single doc_id-keyed join that hands each doc
    its keep-set (text crosses the wire exactly once)."""
    df = contract.queries()["ext_passage_dedup"](spark, sf_oracle)
    plan = plan_of(df)
    carrying = [
        exch
        for exch in re.findall(r"Exchange hashpartitioning\([^)]*\)", plan)
        if "text" in exch or "passage" in exch or re.search(r"\bw\b", exch)
    ]
    assert len(carrying) <= 1, (
        "document bodies shuffled more than once:\n" + "\n".join(carrying)
    )


@pytest.mark.parametrize(
    "key",
    ["ext_dedup_near", "ext_dedup_simhash", "ext_passage_dedup",
     "ext_boilerplate", "ext_repetition"],
)
def test_generators_explode_materialized_arrays(spark, sf_oracle, key):
    """Explode-over-HOF pin: a Generate whose generator argument is an
    inline higher-order function re-evaluates the whole array per
    OUTPUT row (bands× the MinHash signature, passages× the chunk
    pipeline — see README). Every Generate in these plans must consume
    a plain attribute from a materialized (cached) projection."""
    df = contract.queries()[key](spark, sf_oracle)
    plan = plan_of(df)
    for section in plan.split("\n\n"):
        if ") Generate" not in section:
            continue
        arg_lines = [
            ln for ln in section.splitlines()
            if ln.startswith("Arguments")
        ]
        for ln in arg_lines:
            assert "transform(" not in ln and "aggregate(" not in ln, (
                f"{key}: Generate explodes an inline HOF "
                f"(per-output-row re-evaluation):\n{ln}"
            )


def test_minhash_banding_explode_is_materialized(spark, sf_oracle):
    """Direct pin on the banding subtree: the registry-level Generate
    scan above no longer sees it for the dedup keys (the checkpointed
    candidate leaf hides the upstream plan), so assert here that the
    posexplode consumes the materialized band-value attribute — never
    the inline HOF signature expression (bands× per-row re-evaluation
    otherwise), and that the band arrays are pinned before the explode.
    """
    from etl_acordos_spark.operators.dedup import minhash_bands
    from etl_acordos_spark.queries.base import t

    bandtab = minhash_bands(
        t(spark, sf_oracle, "documents"), "text", "doc_id"
    )
    plan = plan_of(bandtab)
    sections = [s for s in plan.split("\n\n") if ") Generate" in s]
    assert sections, "banding plan lost its Generate:\n" + plan
    for section in sections:
        for ln in section.splitlines():
            if ln.startswith("Arguments"):
                assert "transform(" not in ln and "aggregate(" not in ln, (
                    "banding Generate explodes an inline HOF:\n" + ln
                )
    assert "InMemoryTableScan" in plan, (
        "band arrays are not materialized before the explode:\n" + plan
    )


@pytest.mark.parametrize(
    "key",
    sorted(k for k in contract.queries() if k not in SKIP_PLAN_CHECK),
)
def test_no_unintended_cartesian(spark, sf_oracle, key):
    df = contract.queries()[key](spark, sf_oracle)
    plan = plan_of(df)
    quadratic = (
        "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan
    )
    if key in QUADRATIC_BY_DESIGN:
        return  # allowed (and some plan as broadcast-nested-loop of 1 row)
    assert not quadratic, f"{key} fell back to a cartesian/nested-loop join"


def test_triangle_count_wedge_joins_stay_broadcast(spark, sf_oracle):
    """The wedge-closing joins must be BroadcastHashJoins: a sort-merge
    fallback sorts the O(Σ outdeg²) wedge stream — measured 34× the
    edge count at sf0.1 — and GC-storms small heaps (the r5 bench
    crash). The pinned-leaf inputs make this explicit, not
    AQE-dependent, so a refactor can't silently regress it."""
    df = contract.queries()["ext_triangle_count"](spark, sf_oracle)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def _pagerank_iteration_frames(spark):
    """A production-shaped iteration input: all sides are RDD leaves
    (localCheckpoint), exactly what the loop feeds the iteration —
    the narrow symmetrized edge view, the rank table, and the
    vertex-sized degree table (r12 shape)."""
    sym = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)],
        "src long, dst long",
    ).localCheckpoint(eager=True)
    ranks = spark.createDataFrame(
        [(1, 0.4), (2, 0.3), (3, 0.3)], "v long, rank double"
    ).localCheckpoint(eager=True)
    deg = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 1)], "v long, _deg long"
    ).localCheckpoint(eager=True)
    return sym, ranks, deg


def test_pagerank_iterations_broadcast_the_rank_table(spark, sf_oracle):
    """Every power iteration must join the (tiny) rank table to the
    pinned edge list as a broadcast — a shuffled join would re-exchange
    the edge list all 10 rounds (checkpointed leaves carry no
    partitioning metadata). Checked on the ITERATION frame: pagerank's
    returned plan is a post-checkpoint leaf scan, where any join
    assertion passes vacuously."""
    from etl_acordos_spark.operators.graph import _pagerank_iteration

    sym, ranks, deg = _pagerank_iteration_frames(spark)
    plan = plan_of(_pagerank_iteration(sym, ranks, deg, 0.05, 0.85, True))
    # r12 shape: deg joins the rank table AND the per-vertex
    # contribution table joins the edge view — both must broadcast,
    # and nothing else may join at all (counted in the tree section
    # only: the details section's repeat count shifts across Spark
    # versions — r12 ADVICE)
    assert plan_tree(plan).count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_stream_stream_join_is_keyed_symmetric_hash(spark, sf_oracle):
    """The interval join's PRE-START physical plan (the registry
    callable runs the stream and returns a store read, so the generic
    check can't see this) must be a StreamingSymmetricHashJoin keyed on
    user_id — both streams exchange once with
    REQUIRED_BY_STATEFUL_OPERATOR — never a nested-loop over the pure
    time-range predicate (which would buffer every row against every
    row and have no state-eviction key)."""
    from pyspark.sql import functions as F

    from etl_acordos_spark.streaming.events import (
        interval_join_streams,
        stream_events,
    )

    ev = stream_events(spark, sf_oracle)
    j = interval_join_streams(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    plan = plan_of(j)
    assert "StreamingSymmetricHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("REQUIRED_BY_STATEFUL_OPERATOR") == 2, plan


def _graph_edges(spark, sf_oracle):
    from etl_acordos_spark.operators.graph import co_occurrence_edges
    from etl_acordos_spark.queries.base import t

    return co_occurrence_edges(
        t(spark, sf_oracle, "lineitem"), "l_orderkey", "l_partkey"
    )


def test_co_occurrence_edge_build_is_join_free(spark, sf_oracle):
    """r12 shape pin: the edge build is one collect_set aggregate +
    map-only HOF pair expansion + one distinct — NO join anywhere (the
    r11 shape's group-cap filter join and per-group self-join are what
    the rewrite removed; a regression would re-quadruple the exchange
    count and re-read the deduped table). Exactly two exchanges: the
    group aggregate and the final (src, dst) distinct."""
    from etl_acordos_spark.operators.graph import co_occurrence_edges
    from etl_acordos_spark.queries.base import t

    plan = plan_of(
        co_occurrence_edges(
            t(spark, sf_oracle, "lineitem"), "l_orderkey", "l_partkey",
            max_group_size=1000,
        )
    )
    assert "Join" not in plan, plan
    # two shuffles and not one more — counted in the tree section only
    # (the details section's repeat count is a Spark-version artifact,
    # r12 ADVICE)
    assert plan_tree(plan).count("Exchange") == 2, plan
    assert "array_sort" in plan or "sort_array" in plan, plan


def test_triangle_broadcast_branch_is_adjacency_intersection(
    spark, sf_oracle
):
    """r12 shape pin for the broadcast branch (the default
    `BROADCAST_MAX_ROWS` keeps it on this graph): wedges close via ONE
    broadcast of the per-vertex neighbor lists and an array_intersect
    per edge — never the materialized wedge stream (two broadcast edge
    maps), never a sorted or shuffled wedge join."""
    from etl_acordos_spark.operators.graph import triangle_counts

    plan = plan_of(triangle_counts(_graph_edges(spark, sf_oracle), k=20))
    assert "array_intersect" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_graph_edge_pins_are_serialized_and_spillable():
    """The O(edges) localCheckpoint pins must store SERIALIZED with
    disk spill: the deserialized JVM default retains ~60-70 B/row of
    live objects during the checkpoint copy and OOM'd a 24 GiB heap at
    the 100x tile's 239M out-edges (r11 measurement, BASELINE.md) —
    a revert to the bare `localCheckpoint(eager=True)` call would
    reintroduce that silently."""
    from etl_acordos_spark.operators.graph import _EDGE_PIN

    assert _EDGE_PIN.useDisk, _EDGE_PIN
    assert _EDGE_PIN.useMemory, _EDGE_PIN
    assert not _EDGE_PIN.deserialized, _EDGE_PIN


def test_triangle_count_fallback_plan_and_rows(
    spark, sf_oracle, monkeypatch
):
    """Past `BROADCAST_MAX_ROWS` oriented edges (r8 calibration: 119.6M
    edges OOM an 8 GiB heap, so the registry key cannot hard-code the
    broadcast hint) the count probe demotes the wedge joins to shuffled
    equi-joins on vertex ids — still NEVER a cartesian/nested-loop —
    and the result rows must be identical to the broadcast path's."""
    from etl_acordos_spark.operators import graph

    edges = _graph_edges(spark, sf_oracle)
    expected = sorted(map(tuple, graph.triangle_counts(edges, k=20).collect()))
    monkeypatch.setattr(graph, "BROADCAST_MAX_ROWS", 0)
    fb = graph.triangle_counts(edges, k=20)
    plan = plan_of(fb)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the demoted wedge probes must be shuffled HASH joins: a
    # sort-merge plan sorts the O(m^1.5) wedge stream the downstream
    # aggregate doesn't need ordered — its sort spill overran 79 GiB
    # of disk at the 100x tile (r11 measurement) where the hash plan
    # peaked at 41 GiB and finished
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert sorted(map(tuple, fb.collect())) == expected


def test_triangle_count_auto_demotes_past_edge_crossover(
    spark, sf_oracle, monkeypatch
):
    """The branch is picked by oriented-edge count against
    `BROADCAST_MAX_ROWS`, inclusive: a crossover equal to the edge
    count keeps the adjacency-intersection broadcast, one below it
    demotes to the shuffled wedge joins, and the rows of both match."""
    from etl_acordos_spark.operators import graph

    edges = _graph_edges(spark, sf_oracle)
    m = edges.count()
    assert m > 0
    monkeypatch.setattr(graph, "BROADCAST_MAX_ROWS", m)
    at = graph.triangle_counts(edges, k=20)
    plan = plan_of(at)
    assert "array_intersect" in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    monkeypatch.setattr(graph, "BROADCAST_MAX_ROWS", m - 1)
    past = graph.triangle_counts(edges, k=20)
    plan = plan_of(past)
    assert "ShuffledHashJoin" in plan, plan
    assert "array_intersect" not in plan, plan
    assert sorted(map(tuple, past.collect())) == sorted(
        map(tuple, at.collect())
    )


def test_pagerank_fallback_plan_and_rows(spark, sf_oracle, monkeypatch):
    """Past `BROADCAST_MAX_ROWS` vertices (the registry key cannot
    hard-code the broadcast hint past ~20M vertices) each iteration's
    rank join degrades to a shuffled equi-join — never cartesian — with
    rows identical to the broadcast path (the per-iteration grid-floor
    makes both bit-stable)."""
    from etl_acordos_spark.operators import graph

    sym, ranks, deg = _pagerank_iteration_frames(spark)
    plan = plan_of(
        graph._pagerank_iteration(sym, ranks, deg, 0.05, 0.85, False)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
    edges = _graph_edges(spark, sf_oracle)
    expected = sorted(
        map(tuple, graph.pagerank(edges, iterations=3, k=20).collect())
    )
    monkeypatch.setattr(graph, "BROADCAST_MAX_ROWS", 0)
    fb = graph.pagerank(edges, iterations=3, k=20)
    assert sorted(map(tuple, fb.collect())) == expected


def test_pagerank_auto_demotes_past_vertex_crossover(
    spark, sf_oracle, monkeypatch
):
    """The join strategy is picked by vertex count — the free probe off
    the teleport-term n — against `BROADCAST_MAX_ROWS`, inclusive: the
    default crossover and one equal to n keep every iteration
    broadcast, one below n demotes every iteration to the shuffled
    joins, and the rows match (per-iteration grid-floor keeps both
    bit-stable)."""
    from pyspark.sql import functions as F

    from etl_acordos_spark.operators import graph

    seen = []
    orig = graph._pagerank_iteration

    def spy(sym, ranks, deg, base, damping, broadcast):
        seen.append(broadcast)
        return orig(sym, ranks, deg, base, damping, broadcast)

    monkeypatch.setattr(graph, "_pagerank_iteration", spy)
    edges = _graph_edges(spark, sf_oracle)
    auto_big = sorted(
        map(tuple, graph.pagerank(edges, iterations=3, k=20).collect())
    )
    assert seen == [True, True, True], seen
    n = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
        .count()
    )
    seen.clear()
    monkeypatch.setattr(graph, "BROADCAST_MAX_ROWS", n)
    graph.pagerank(edges, iterations=3, k=20)
    assert seen == [True, True, True], seen
    seen.clear()
    monkeypatch.setattr(graph, "BROADCAST_MAX_ROWS", n - 1)
    auto_small = sorted(
        map(tuple, graph.pagerank(edges, iterations=3, k=20).collect())
    )
    assert seen == [False, False, False], seen
    assert auto_small == auto_big
