"""Structured-Streaming tests: watermarked windows, session windows,
custom stateful operator — each a real availableNow streaming run,
checked against the equivalent batch aggregate and for rerun stability.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_acordos_spark.queries.base import read_events
from etl_acordos_spark.session import scoped_conf
from etl_acordos_spark.streaming.events import (
    run_stream_to_table,
    session_stream_agg,
    stateful_user_totals,
    stream_events,
    windowed_stream_agg,
)


def _canon(rows):
    return sorted(tuple(map(repr, r)) for r in rows)


def test_stream_windows_equal_batch(spark, sf_smoke):
    got = run_stream_to_table(
        windowed_stream_agg(stream_events(spark, sf_smoke)), "t_sw"
    ).collect()
    want = (
        read_events(spark, sf_smoke)
        .select(F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    )
    assert len(got) > 0
    assert _canon(got) == _canon(want)


def test_stream_sessions_gap_semantics(spark, sf_smoke):
    got = run_stream_to_table(
        session_stream_agg(stream_events(spark, sf_smoke)), "t_ss"
    )
    # every user's event count is conserved across their sessions
    per_user = (
        got.groupBy("user_id")
        .agg(F.sum("n_events").alias("n"))
        .collect()
    )
    want = {
        r["user_id"]: r["n"]
        for r in read_events(spark, sf_smoke)
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert {r["user_id"]: r["n"] for r in per_user} == want


def test_stream_stateful_totals(spark, sf_smoke):
    got = run_stream_to_table(
        stateful_user_totals(stream_events(spark, sf_smoke)),
        "t_st",
        output_mode="update",
    ).collect()
    want = (
        read_events(spark, sf_smoke)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .collect()
    )
    assert _canon(got) == _canon(want)


def test_stream_rerun_stable(spark, sf_smoke):
    a = run_stream_to_table(
        windowed_stream_agg(stream_events(spark, sf_smoke)), "t_rr"
    ).collect()
    b = run_stream_to_table(
        windowed_stream_agg(stream_events(spark, sf_smoke)), "t_rr"
    ).collect()
    assert _canon(a) == _canon(b)


def test_watermark_in_plan(spark, sf_smoke):
    from oracle_utils import explain_str

    plan = explain_str(
        windowed_stream_agg(stream_events(spark, sf_smoke)),
        mode="extended",
    )
    assert "EventTimeWatermark" in plan


# ------------------------------------------- streaming dedup-index runs


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_stream_dedup_index_equals_sequential_fold(spark, sf_smoke):
    """The settled kept-set must equal folding incremental_minhash_dedup
    over the delivered batches in order — the correctness contract for
    this non-SQL-expressible pipeline (the stored band index + count
    table must behave exactly like recomputing the kept corpus's bands
    per batch)."""
    import os
    import tempfile

    from etl_acordos_spark.operators.dedup import incremental_minhash_dedup
    from etl_acordos_spark.queries.base import t
    from etl_acordos_spark.streaming.dedup_index import (
        streaming_dedup_index_run,
    )

    docs = t(spark, sf_smoke, "documents")
    base = tempfile.mkdtemp(prefix="sdi_fold_")
    got = sorted(
        r[0]
        for r in streaming_dedup_index_run(
            spark, docs, "text", "doc_id", base, n_batches=3
        ).collect()
    )

    # replay the exact delivered batches (the written source files, in
    # trigger order) through the batch-mode operator
    src = os.path.join(base, f"stream_dedup_index_{os.getpid()}", "src")
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert len(files) == 3
    corpus = None
    want: list[int] = []
    for f in files:
        batch = spark.read.parquet(os.path.join(src, f)).select(
            "doc_id", "text"
        )
        surv = incremental_minhash_dedup(
            corpus if corpus is not None else batch.limit(0),
            batch,
            "text",
            "doc_id",
        )
        want.extend(r[0] for r in surv.collect())
        kept_batch = batch.join(surv, ["doc_id"], "left_semi")
        corpus = (
            kept_batch
            if corpus is None
            else corpus.unionByName(kept_batch)
        ).localCheckpoint(eager=True)
    assert got == sorted(want)


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_stream_dedup_index_drops_cross_batch_dups(spark):
    """A later batch's near-copy of an already-kept doc must be dropped
    by the index probe; a same-batch exact copy must be dropped by the
    batch self-join; rerun must be byte-stable."""
    import tempfile

    from etl_acordos_spark.streaming.dedup_index import (
        streaming_dedup_index_run,
    )

    words = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four"
    )
    base_a = words
    near_a = words.replace("oscar", "OSCAR")  # 1 of 30 words changed
    base_b = " ".join(w[::-1] for w in words.split())
    uniq = {
        i: " ".join(f"w{i}x{j}" for j in range(30)) for i in (2, 3, 6, 8, 9)
    }
    rows = [
        (1, base_a),
        (2, uniq[2]),
        (3, uniq[3]),
        (4, base_b),
        (5, base_b),  # exact dup of 4, same batch
        (6, uniq[6]),
        (7, near_a),  # near dup of 1, later batch
        (8, uniq[8]),
        (9, uniq[9]),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = lambda d: sorted(  # noqa: E731
        r[0]
        for r in streaming_dedup_index_run(
            spark, docs, "text", "doc_id", d, n_batches=3
        ).collect()
    )
    a = kept(tempfile.mkdtemp(prefix="sdi_syn_"))
    assert a == [1, 2, 3, 4, 6, 8, 9]
    assert a == kept(tempfile.mkdtemp(prefix="sdi_syn_"))


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_stream_dedup_index_count_compaction(spark, monkeypatch):
    """compact_count_deltas folds all but the newest delta (the one a
    replayed batch may overwrite) into one snapshot without changing
    any bucket's total, and recovers losslessly from a crash between
    the staged-pending rename and the final move."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from etl_acordos_spark.streaming import dedup_index as M

    rows = [(i, " ".join(f"t{i}w{j}" for j in range(25))) for i in range(9)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    base = tempfile.mkdtemp(prefix="sdi_cmp_")
    M.streaming_dedup_index_run(
        spark, docs, "text", "doc_id", base, n_batches=4
    ).collect()
    run_ns = os.path.join(base, f"stream_dedup_index_{os.getpid()}")
    counts_dir = os.path.join(run_ns, "bucket_counts")
    counts_glob = os.path.join(counts_dir, "b*")

    def totals(counts=None):
        if counts is None:
            counts = spark.read.parquet(counts_glob)
        return {
            (r["band_idx"], r["band_val"]): r["total"]
            for r in counts.groupBy("band_idx", "band_val")
            .agg(F.sum("n").alias("total"))
            .collect()
        }

    before = totals()
    # crash simulation: the staged snapshot lands (first os.replace =
    # staging -> snap_pending) but the process dies before recovery
    # completes its final move
    real_replace = os.replace
    calls = {"n": 0}

    def crashing_replace(src, dst):
        real_replace(src, dst)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash after staging rename")

    monkeypatch.setattr(M.os, "replace", crashing_replace)
    try:
        M.compact_count_deltas(spark, run_ns)
    except RuntimeError:
        pass
    monkeypatch.setattr(M.os, "replace", real_replace)
    assert os.path.isdir(os.path.join(counts_dir, "snap_pending"))
    # retry recovers the pending snapshot, then has nothing new to fold
    M.compact_count_deltas(spark, run_ns)
    assert not os.path.isdir(os.path.join(counts_dir, "snap_pending"))
    dirs = [d for d in os.listdir(counts_dir) if d.startswith("b")]
    assert len(dirs) == 2  # snapshot + the newest (replayable) delta
    assert totals() == before
    # the probe reads the folded snapshot like any per-batch delta
    assert totals(M._load_store(spark, counts_dir, 99)) == before
    assert M.compact_count_deltas(spark, run_ns) == 0


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_stream_ann_index_matches_batch_ivf(spark, sf_smoke):
    """The streamed cell-partitioned store must answer the probe with
    EXACTLY the batch-mode ivf_topk result (same frozen quantizer, same
    assignment, same probe + re-rank contract), and the probe scan must
    prune on the cell partition column. The registry key runs the
    quantized family (hash-verified against _ivf_oracle), so the batch
    twin here is ivf_topk(quantize) — the float family's store
    equality is pinned separately below."""
    from pyspark.sql import functions as F

    from etl_acordos_spark.operators.simsearch import ivf_topk
    from etl_acordos_spark.queries.base import t
    from etl_acordos_spark.queries.streaming import q_ext_stream_ann_index

    got = q_ext_stream_ann_index(spark, sf_smoke)
    rows = [(r[0], r[1]) for r in got.collect()]
    emb = t(spark, sf_smoke, "embeddings")
    want = [
        (r[0], r[1])
        for r in ivf_topk(emb, query_id=0, k=10, quantize=1 << 20).collect()
    ]
    assert rows == want
    from oracle_utils import explain_str

    plan = explain_str(got)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "cell" in pf[0], (
        "probe scan does not prune on the cell partition:\n" + plan
    )
    # rerun-stable (fresh ingest, same result)
    again = [
        (r[0], r[1]) for r in q_ext_stream_ann_index(spark, sf_smoke).collect()
    ]
    assert again == rows


def test_stream_ann_index_float_family_matches_batch(spark, sf_smoke):
    """The float spherical store (the production default family) must
    still answer probes exactly like float batch ivf_topk — the
    registry key moving to the quantized family must not leave the
    float path untested."""
    import tempfile

    from pyspark.sql import functions as F

    from etl_acordos_spark.operators.simsearch import ivf_topk
    from etl_acordos_spark.queries.base import t
    from etl_acordos_spark.streaming.ann_index import (
        ann_index_topk,
        streaming_ann_index_run,
    )

    emb = t(spark, sf_smoke, "embeddings")
    run_ns = streaming_ann_index_run(
        spark, emb, "vec_id", "embedding",
        tempfile.mkdtemp(prefix="sai_float_"), n_batches=4,
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    got = [
        (r[0], r[1])
        for r in ann_index_topk(
            spark, run_ns, [float(x) for x in qvec], "vec_id",
            k=10, exclude_id=0,
        ).collect()
    ]
    want = [(r[0], r[1]) for r in ivf_topk(emb, query_id=0, k=10).collect()]
    assert got == want


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_stream_ann_index_replay_is_idempotent(spark):
    """Re-delivering a batch (the at-least-once contract) must leave the
    store unchanged: dynamic partition overwrite rewrites exactly the
    batch's own ingest_batch partitions."""
    import os
    import tempfile

    from etl_acordos_spark.streaming.ann_index import streaming_ann_index_run

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    base = tempfile.mkdtemp(prefix="sai_rep_")
    run_ns = streaming_ann_index_run(
        spark, vecs, "vec_id", "embedding", base, n_batches=2, n_lists=4
    )
    cells = os.path.join(run_ns, "cells")
    before = sorted(
        (r["vec_id"], r["ingest_batch"], r["cell"])
        for r in spark.read.parquet(cells).collect()
    )
    assert len(before) == 40
    # replay batch 1's file through the same writer path
    with scoped_conf(
        spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        import numpy as np

        from pyspark.sql import functions as F

        from etl_acordos_spark.operators.simsearch import assign_cell_udf

        C = np.stack(
            [
                np.asarray(r["centroid"])
                for r in spark.read.parquet(
                    os.path.join(run_ns, "centroids")
                )
                .orderBy("cell")
                .collect()
            ]
        )
        batch1 = spark.read.parquet(
            os.path.join(run_ns, "src", "batch_0001.parquet")
        )
        (
            batch1.select(
                "vec_id",
                F.col("embedding"),
                assign_cell_udf(C)(F.col("embedding")).alias("cell"),
            )
            .withColumn("ingest_batch", F.lit(1))
            .write.mode("overwrite")
            .partitionBy("ingest_batch", "cell")
            .parquet(cells)
        )
    after = sorted(
        (r["vec_id"], r["ingest_batch"], r["cell"])
        for r in spark.read.parquet(cells).collect()
    )
    assert after == before


def test_write_id_range_batches_empty_input(spark):
    """Zero input rows degrade to one empty batch file (percentile over
    zero rows is NULL), not a crash."""
    import os
    import tempfile

    from etl_acordos_spark.streaming.batching import write_id_range_batches

    run_ns = tempfile.mkdtemp(prefix="batch_empty_")
    src = os.path.join(run_ns, "src")
    empty = spark.createDataFrame([], "doc_id long, text string")
    write_id_range_batches(empty, "doc_id", ["doc_id", "text"], run_ns, src, 3)
    files = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert len(files) == 1
    assert spark.read.parquet(src).count() == 0


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_stream_dedup_index_probes_full_history(spark):
    """A later batch's copy of a doc is dropped however many batches
    back the original arrived: the probe reads every earlier batch."""
    import tempfile

    from etl_acordos_spark.streaming.dedup_index import (
        streaming_dedup_index_run,
    )

    text_a = " ".join(f"a{j}" for j in range(25))
    text_b = " ".join(f"b{j}" for j in range(25))
    uniq = {i: " ".join(f"u{i}x{j}" for j in range(25)) for i in (2, 3, 6, 9)}
    rows = [
        (1, text_a),
        (2, uniq[2]),
        (3, uniq[3]),
        (4, text_b),
        (5, uniq[2]),  # copy of doc 2 — one batch back
        (6, uniq[6]),
        (7, text_a),  # copy of doc 1 — two batches back
        (8, text_b),  # copy of doc 4 — one batch back
        (9, uniq[9]),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    kept = sorted(
        r[0]
        for r in streaming_dedup_index_run(
            spark,
            docs,
            "text",
            "doc_id",
            tempfile.mkdtemp(prefix="sdi_hist_"),
            n_batches=3,
        ).collect()
    )
    assert kept == [1, 2, 3, 4, 6, 9]  # 5, 7, 8 all dups


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_stream_dedup_index_replay_is_idempotent(spark):
    """Re-delivering a batch (the at-least-once contract) must leave the
    kept/index/count stores unchanged: the replay probes only stores
    with batch index below its own, so previously-kept docs never
    Jaccard-match their identical selves and get dropped."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from etl_acordos_spark.streaming.dedup_index import (
        _dedup_index_process_batch,
        streaming_dedup_index_run,
    )

    rows = [
        (i, " ".join(f"r{i}w{j}" for j in range(25))) for i in range(9)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    base = tempfile.mkdtemp(prefix="sdi_rep_")
    before = sorted(
        r[0]
        for r in streaming_dedup_index_run(
            spark, docs, "text", "doc_id", base, n_batches=3
        ).collect()
    )
    assert before == list(range(9))  # all unique, all kept

    run_ns = os.path.join(base, f"stream_dedup_index_{os.getpid()}")
    kept_glob = os.path.join(run_ns, "kept", "b*")
    counts_glob = os.path.join(run_ns, "bucket_counts", "b*")
    counts_before = {
        (r["band_idx"], r["band_val"]): r["total"]
        for r in spark.read.parquet(counts_glob)
        .groupBy("band_idx", "band_val")
        .agg(F.sum("n").alias("total"))
        .collect()
    }

    # replay batch 1's delivered file through the exact production path
    batch1 = spark.read.parquet(
        os.path.join(run_ns, "src", "batch_0001.parquet")
    )
    _dedup_index_process_batch(
        spark,
        batch1,
        1,
        text_col="text",
        id_col="doc_id",
        kept_dir=os.path.join(run_ns, "kept"),
        index_dir=os.path.join(run_ns, "band_index"),
        counts_dir=os.path.join(run_ns, "bucket_counts"),
        num_perm=64,
        bands=16,
        threshold=0.5,
        shingle_n=3,
        max_bucket_size=1000,
    )
    after = sorted(
        r[0] for r in spark.read.parquet(kept_glob).select("doc_id").collect()
    )
    assert after == before
    counts_after = {
        (r["band_idx"], r["band_val"]): r["total"]
        for r in spark.read.parquet(counts_glob)
        .groupBy("band_idx", "band_val")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    assert counts_after == counts_before


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_stream_ann_quantizer_freeze_is_crash_safe(spark, monkeypatch):
    """A crash between the staged centroid write and the atomic rename
    must leave NO centroids directory (exists() is the freeze key), so
    the retry retrains instead of loading a partial store."""
    import os
    import tempfile

    from etl_acordos_spark.streaming import ann_index as M

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    centroids_dir = os.path.join(
        tempfile.mkdtemp(prefix="sai_qcs_"), "centroids"
    )

    real_replace = os.replace

    def crashing_replace(src, dst):
        raise RuntimeError("simulated crash before rename")

    monkeypatch.setattr(M.os, "replace", crashing_replace)
    try:
        M._train_quantizer(
            spark, vecs, "vec_id", "embedding", 4, centroids_dir
        )
    except RuntimeError:
        pass
    assert not os.path.exists(centroids_dir)  # freeze key still unset
    monkeypatch.setattr(M.os, "replace", real_replace)
    assert M._train_quantizer(
        spark, vecs, "vec_id", "embedding", 4, centroids_dir
    )
    C, q_scale = M._load_centroids(spark, centroids_dir)
    assert C.shape == (4, 3) and q_scale == 0


def test_stream_cms_store_equals_batch_build_and_replay_idempotent(
    spark, sf_smoke
):
    """CMS additivity end-to-end: the cells store settled from 4
    microbatch deltas must equal the single-pass batch build
    cell-for-cell (the property that gives ext_stream_cms its full
    hash oracle), and a REPLAYED batch (at-least-once delivery:
    overwrite of its own delta dir) must leave the aggregate
    unchanged — a rolling-sum store would double-count it."""
    import os
    import tempfile

    from etl_acordos_spark.operators.relational import cms_cells
    from etl_acordos_spark.queries.base import t
    from etl_acordos_spark.streaming.events import streaming_cms_run

    vals = t(spark, sf_smoke, "documents").select(
        F.explode(F.split("text", " ")).alias("v")
    )
    base = tempfile.mkdtemp(prefix="scms_")
    streamed = streaming_cms_run(
        spark, vals, base, depth=2, width_hex=2, n_batches=4
    )
    batch = cms_cells(vals, depth=2, width_hex=2)
    a = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b and len(a) > 0
    # replay batch 0: rewrite its delta dir in place (the idempotent
    # OVERWRITE a re-executed foreachBatch performs)
    d0 = os.path.join(base, f"stream_cms_{os.getpid()}", "cells", "b00000")
    delta0 = spark.read.parquet(d0)
    rows0, schema0 = delta0.collect(), delta0.schema
    spark.createDataFrame(rows0, schema0).write.mode("overwrite").parquet(d0)
    assert sorted(map(tuple, streamed.collect())) == a


def test_stream_hll_registers_equal_batch_build(spark, sf_oracle, tmp_path):
    """Round-7 ext_stream_hll: HLL registers are max-mergeable, so the
    settled streaming store must equal the one-pass batch
    hll_md5_registers build EXACTLY (not approximately) no matter how
    rows were split across microbatches — the property that lets the
    streaming key carry the batch key's full hash oracle. Replay
    harmlessness is pinned by SIMULATING an at-least-once redelivery:
    max-merging the store with one delta dir counted again must be a
    no-op (the CMS twin's additive merge would double-count here; max
    is idempotent)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_acordos_spark.operators.relational import hll_md5_registers
    from etl_acordos_spark.queries.base import t
    from etl_acordos_spark.streaming.events import streaming_hll_run

    orders = t(spark, sf_oracle, "orders").select(
        F.year("o_orderdate").alias("ano"),
        F.month("o_orderdate").alias("mes"),
        "o_custkey",
    )
    settled = streaming_hll_run(
        spark, orders, ["ano", "mes"], "o_custkey", str(tmp_path)
    )
    streamed = {tuple(r) for r in settled.collect()}
    batch = {
        tuple(r)
        for r in hll_md5_registers(orders, ["ano", "mes"], "o_custkey").collect()
    }
    assert streamed == batch and streamed

    # simulate a replayed first batch: fold delta b00000 in a second
    # time and re-merge — the settled registers must not move
    deltas = sorted(
        glob.glob(os.path.join(str(tmp_path), "stream_hll_*", "regs", "b*"))
    )
    assert deltas, "expected per-batch delta dirs"
    replayed = {
        tuple(r)
        for r in (
            spark.read.parquet(os.path.join(os.path.dirname(deltas[0]), "b*"))
            .unionByName(spark.read.parquet(deltas[0]))
            .groupBy("ano", "mes", "bucket")
            .agg(F.max("mr").alias("mr"))
        ).collect()
    }
    assert replayed == batch


@pytest.mark.parametrize("pipeline", ["cms", "hll", "dedup_index", "ann_index"])
def test_resume_without_prior_run_raises(spark, tmp_path, pipeline):
    """``resume=True`` over a namespace no run has seeded is refused up
    front, naming the pipeline, before any store or checkpoint exists."""
    import os

    from etl_acordos_spark.streaming.ann_index import streaming_ann_index_run
    from etl_acordos_spark.streaming.dedup_index import (
        streaming_dedup_index_run,
    )
    from etl_acordos_spark.streaming.events import (
        streaming_cms_run,
        streaming_hll_run,
    )

    base = str(tmp_path)
    # 4 rows pass ann_index's eager training-size guard at n_lists=1
    df = spark.range(4).toDF("id")
    runs = {
        "cms": ("streaming_cms_run", lambda: streaming_cms_run(
            spark, df, base, resume=True
        )),
        "hll": ("streaming_hll_run", lambda: streaming_hll_run(
            spark, df, [], "id", base, resume=True
        )),
        "dedup_index": ("streaming_dedup_index_run", lambda: (
            streaming_dedup_index_run(spark, df, "id", "id", base, resume=True)
        )),
        "ann_index": ("streaming_ann_index_run", lambda: (
            streaming_ann_index_run(
                spark, df, "id", "id", base, n_lists=1, resume=True
            )
        )),
    }
    name, run = runs[pipeline]
    with pytest.raises(ValueError, match=f"{name}: resume=True but no prior run"):
        run()
    assert os.listdir(base) == []


def test_id_range_batch_boundaries_match_rank_rule(spark, sf_smoke):
    """The stream-dedup fold oracle replays write_id_range_batches'
    split as the value at 1-based rank ceil(k/n · count) — valid
    because percentile_approx(accuracy=10000) is EXACT for n <= 10000
    (rank error < 1). Pin the rule on the real documents table and on
    awkward synthetic id sets (gaps, non-multiples)."""
    import math

    from pyspark.sql import functions as F

    def cuts_of(df, col, n_batches=4):
        return df.select(
            F.percentile_approx(
                col, [i / n_batches for i in range(1, n_batches)], 10000
            )
        ).head()[0]

    def rank_rule(ids, n_batches=4):
        srt = sorted(ids)
        n = len(ids)
        return [
            srt[math.ceil(k / n_batches * n) - 1]
            for k in range(1, n_batches)
        ]

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    ids = [r[0] for r in docs.select("doc_id").collect()]
    assert list(cuts_of(docs, "doc_id")) == rank_rule(ids)

    for synth in (
        list(range(0, 994, 2)),
        [3, 7, 11, 20, 21, 22, 23, 500, 501, 502],
        list(range(997)),
    ):
        df = spark.createDataFrame([(i,) for i in synth], "id long")
        assert list(cuts_of(df, "id")) == rank_rule(synth), len(synth)


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_stream_dedup_index_null_text_docs_all_survive(spark, tmp_path):
    """The review-confirmed NULL seam: before the minhash_bands filter,
    two NULL-text docs collided in one degenerate '' bucket and
    'verified' at Jaccard 1.0 over [NULL] shingle sets — Spark dropped
    doc 3 while the oracle (whose unit CTE filters NOT NULL) kept it.
    NULL is unknown content, not identical content (the URL-dedup null
    -key contract): every NULL-text doc must survive, on both engines."""
    import duckdb

    from etl_acordos_spark.queries.llm import _stream_dedup_fold_oracle
    from etl_acordos_spark.streaming.dedup_index import (
        streaming_dedup_index_run,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, None),
        (3, None),
        (4, "totally different words entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        r[0]
        for r in streaming_dedup_index_run(
            spark, docs, "text", "doc_id", str(tmp_path), n_batches=2,
            hash_fn="md5",
        ).collect()
    )
    assert got == [1, 2, 3, 4]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES"
        " (1, 'alpha beta gamma delta'), (2, NULL), (3, NULL),"
        " (4, 'totally different words entirely')) t(doc_id, text)"
    )
    want = sorted(
        r[0]
        for r in con.execute(_stream_dedup_fold_oracle(n_batches=2)).fetchall()
    )
    assert got == want


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_stream_dedup_index_compacts_mid_stream(spark):
    """VERDICT r11 item 6 (unit form; the 100x operational proof is
    tools/dedup_compact_100x.py): compact_count_deltas called WHILE the
    stream is running — from the batch-completion hook, i.e. between a
    batch's store writes and its engine commit — must leave the settled
    kept-set identical to an uncompacted twin run and fold the delta
    directories down. Safe by construction: the fold never touches the
    newest delta, which is exactly the one an at-least-once replay may
    rewrite."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from etl_acordos_spark.streaming import dedup_index as M

    rows = [
        (i, " ".join(f"m{i}w{j}" for j in range(25))) for i in range(12)
    ]
    for i in range(3):  # cross-batch dups: history must survive the fold
        rows[9 + i] = (9 + i, rows[i][1])
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    twin_base = tempfile.mkdtemp(prefix="sdi_mid_twin_")
    want = sorted(
        r[0]
        for r in M.streaming_dedup_index_run(
            spark, docs, "text", "doc_id", twin_base, n_batches=4
        ).collect()
    )
    assert want == list(range(9))
    twin_ns = os.path.join(twin_base, f"stream_dedup_index_{os.getpid()}")
    twin_dirs = [
        d
        for d in os.listdir(os.path.join(twin_ns, "bucket_counts"))
        if d.startswith("b")
    ]
    assert len(twin_dirs) == 4  # one delta per batch, unfolded

    base = tempfile.mkdtemp(prefix="sdi_mid_")
    run_ns = os.path.join(base, f"stream_dedup_index_{os.getpid()}")
    folded_at: dict[int, int] = {}

    def compact_hook(batch_id: int) -> None:
        if batch_id >= 2:
            folded_at[batch_id] = M.compact_count_deltas(spark, run_ns)

    got = sorted(
        r[0]
        for r in M.streaming_dedup_index_run(
            spark, docs, "text", "doc_id", base, n_batches=4,
            on_batch_complete=compact_hook,
        ).collect()
    )
    assert got == want
    # batch 2's hook folds b0+b1 (b2 itself is the protected newest);
    # batch 3's folds that snapshot with b2
    assert folded_at == {2: 2, 3: 2}, folded_at
    counts_dir = os.path.join(run_ns, "bucket_counts")
    dirs = [d for d in os.listdir(counts_dir) if d.startswith("b")]
    assert len(dirs) == 2, dirs  # snapshot + newest delta
    # bucket totals identical to the uncompacted twin
    def totals(ns):
        return {
            (r["band_idx"], r["band_val"]): r["total"]
            for r in spark.read.parquet(
                os.path.join(ns, "bucket_counts", "b*")
            )
            .groupBy("band_idx", "band_val")
            .agg(F.sum("n").alias("total"))
            .collect()
        }

    assert totals(run_ns) == totals(twin_ns)


def test_upsert_delivers_batch_i_from_the_ith_part_file(spark, tmp_path):
    """The upsert's seed is one ``repartition(n)`` write whose part-files
    get near-equal mtimes; the runner pins the delivery order to file
    names, so on every run batch *i* is ``part-0000i`` (read back from
    the file source's log, ``ckpt/sources/0/<i>``)."""
    import json
    import os

    from etl_acordos_spark.streaming.events import incremental_upsert_run

    events = spark.range(400).selectExpr(
        "id AS event_id",
        "id % 37 AS user_id",
        "timestamp_seconds(1700000000 + id) AS ts",
        "cast(id AS double) AS value",
    )
    n = 4
    for _ in range(2):
        incremental_upsert_run(spark, events, str(tmp_path), n_batches=n)
        run_ns = os.path.join(str(tmp_path), f"stream_upsert_{os.getpid()}")
        parts = sorted(
            f for f in os.listdir(os.path.join(run_ns, "src"))
            if f.endswith(".parquet")
        )
        assert len(parts) == n
        for i in range(n):
            log = os.path.join(run_ns, "ckpt", "sources", "0", str(i))
            with open(log) as f:
                entries = [json.loads(ln) for ln in f.read().splitlines()[1:]]
            assert [os.path.basename(e["path"]) for e in entries] == [parts[i]]


@pytest.mark.parametrize("n", [4, 16])
def test_upsert_batch_stores_only_its_own_users(spark, tmp_path, n):
    """Batch *i* of the upsert stores one row per user of source
    part-file *i*, as its own delta ``deltas/b{i:05d}``, and nothing
    else; the settled ``lake`` holds, as flat part-files, exactly the
    latest row per user over the whole stream (``ts`` desc, then
    ``event_id`` desc, which breaks the ``ts`` ties the feed carries)."""
    import os

    from etl_acordos_spark.streaming.events import incremental_upsert_run

    events = spark.range(400).selectExpr(
        "id AS event_id",
        "id % 37 AS user_id",
        "timestamp_seconds(1700000000 + id * 7919 % 200) AS ts",
        "cast(id AS double) AS value",
    )
    incremental_upsert_run(spark, events, str(tmp_path), n_batches=n)
    run_ns = os.path.join(str(tmp_path), f"stream_upsert_{os.getpid()}")
    src = os.path.join(run_ns, "src")
    parts = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    assert len(parts) == n
    for i, part in enumerate(parts):
        users = spark.read.parquet(os.path.join(src, part)).select("user_id")
        delta = spark.read.parquet(os.path.join(run_ns, "deltas", f"b{i:05d}"))
        assert sorted(r.user_id for r in delta.collect()) == sorted(
            r.user_id for r in users.distinct().collect()
        ), f"batch {i}"
    want = {}
    for r in sorted(events.collect(), key=lambda r: (r.ts, r.event_id)):
        want[r.user_id] = r.asDict()
    got = spark.read.parquet(os.path.join(run_ns, "lake", "*.parquet")).collect()
    assert len(got) == len(want)
    assert {r.user_id: r.asDict() for r in got} == want
