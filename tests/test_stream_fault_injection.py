"""Streaming crash-recovery fault injection (r10 VERDICT item 7).

Each stateful streaming pipeline is killed by an injected failure
AFTER a batch's store/delta write completes but BEFORE the engine
commits the batch to its checkpoint — the exact at-least-once window
the stores' idempotent-overwrite protocols are designed for — then
restarted with ``resume=True`` against the same source, stores, and
checkpoint. The engine's own offset log redelivers the uncommitted
batch (asserted via a recording hook), and the settled store must
bit-equal the uninterrupted batch build. This upgrades the older
replay tests (which re-delivered a batch by hand) to driving the REAL
Structured Streaming restart path end-to-end.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import StreamingQueryException

from etl_acordos_spark.queries.base import t

# The streaming fault-injection tier: every case but the HLL crash
# recovery (~6 s, the default run's one streaming resume) is slow tier,
# excluded from the default run (pytest.ini addopts); run them with
# -m "" or -m slow.

CRASH_BATCH = 1


class _CrashOnce:
    """on_batch_complete hook: raise once on CRASH_BATCH — after the
    batch's writes, before the engine commit."""

    def __init__(self) -> None:
        self.fired = False

    def __call__(self, batch_id: int) -> None:
        if batch_id == CRASH_BATCH and not self.fired:
            self.fired = True
            raise RuntimeError(
                "injected crash between delta write and commit"
            )


class _Record:
    def __init__(self) -> None:
        self.batches: list[int] = []

    def __call__(self, batch_id: int) -> None:
        self.batches.append(batch_id)


def _crash_then_resume(run_fn, **kwargs):
    """Run *run_fn* with the crash hook (must die), then resume with a
    recording hook; returns (settled_result, redelivered_batches)."""
    crash = _CrashOnce()
    with pytest.raises(StreamingQueryException):
        run_fn(**kwargs, on_batch_complete=crash)
    assert crash.fired, "injected crash never fired"
    rec = _Record()
    settled = run_fn(**kwargs, resume=True, on_batch_complete=rec)
    # the crashed batch's foreachBatch completed its writes but the
    # commit never landed — the engine must redeliver it on restart
    assert CRASH_BATCH in rec.batches, rec.batches
    return settled, rec.batches


@pytest.mark.slow
def test_stream_cms_crash_recovery(spark, sf_smoke):
    from etl_acordos_spark.operators.relational import cms_cells
    from etl_acordos_spark.streaming.events import streaming_cms_run

    vals = t(spark, sf_smoke, "documents").select(
        F.explode(F.split("text", " ")).alias("v")
    )
    base = tempfile.mkdtemp(prefix="fi_cms_")
    settled, _ = _crash_then_resume(
        streaming_cms_run,
        spark=spark, vals=vals, base_dir=base, depth=2, width_hex=2,
        n_batches=4,
    )
    got = sorted(map(tuple, settled.collect()))
    want = sorted(map(tuple, cms_cells(vals, depth=2, width_hex=2).collect()))
    assert got == want and got


def test_stream_hll_crash_recovery(spark, sf_smoke):
    from etl_acordos_spark.operators.relational import hll_md5_registers
    from etl_acordos_spark.streaming.events import streaming_hll_run

    orders = t(spark, sf_smoke, "orders").select(
        F.year("o_orderdate").alias("ano"), "o_custkey"
    )
    base = tempfile.mkdtemp(prefix="fi_hll_")
    settled, _ = _crash_then_resume(
        streaming_hll_run,
        spark=spark, df=orders, group_cols=["ano"], value_col="o_custkey",
        base_dir=base, n_batches=4,
    )
    got = {tuple(r) for r in settled.collect()}
    want = {
        tuple(r)
        for r in hll_md5_registers(orders, ["ano"], "o_custkey").collect()
    }
    assert got == want and got


@pytest.mark.slow
def test_stream_dedup_index_crash_recovery(spark):
    """Settled kept-set after crash+resume equals the uninterrupted
    run's (crash window: all three stores written, commit missing —
    `_load_store`'s < batch_id cut keeps the replayed batch from
    matching its own prior attempt)."""
    from etl_acordos_spark.streaming.dedup_index import (
        streaming_dedup_index_run,
    )

    rows = [
        (i, " ".join(f"r{i}w{j}" for j in range(25))) for i in range(12)
    ]
    # docs 9..11 duplicate docs 0..2 across batch boundaries, so the
    # crashed/replayed history genuinely participates in dedup
    for i in range(3):
        rows[9 + i] = (9 + i, rows[i][1])
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    clean_base = tempfile.mkdtemp(prefix="fi_sdi_clean_")
    want = sorted(
        r[0]
        for r in streaming_dedup_index_run(
            spark, docs, "text", "doc_id", clean_base, n_batches=4
        ).collect()
    )
    assert want == list(range(9))  # keep-first drops the 3 copies

    base = tempfile.mkdtemp(prefix="fi_sdi_")
    settled, _ = _crash_then_resume(
        streaming_dedup_index_run,
        spark=spark, docs=docs, text_col="text", id_col="doc_id",
        base_dir=base, n_batches=4,
    )
    assert sorted(r[0] for r in settled.collect()) == want


@pytest.mark.slow
def test_stream_ann_index_crash_recovery(spark, sf_smoke):
    """Probe over the crash+resumed store equals batch `ivf_topk`
    (crash window: batch 1's (ingest_batch, cell) partitions written,
    commit missing — dynamic partition overwrite absorbs the replay;
    the quantizer was frozen by committed batch 0 and is reused)."""
    from etl_acordos_spark.operators.simsearch import ivf_topk, query_vector
    from etl_acordos_spark.streaming.ann_index import (
        ann_index_topk,
        streaming_ann_index_run,
    )

    emb = t(spark, sf_smoke, "embeddings")
    base = tempfile.mkdtemp(prefix="fi_ann_")
    run_ns, _ = _crash_then_resume(
        streaming_ann_index_run,
        spark=spark, vectors=emb, id_col="vec_id", vec_col="embedding",
        base_dir=base, n_batches=4, quantize=1 << 20,
    )
    got = [
        (r[0], r[1])
        for r in ann_index_topk(
            spark, run_ns, query_vector(emb, 0), "vec_id", k=10,
            exclude_id=0,
        ).collect()
    ]
    want = [
        (r[0], r[1])
        for r in ivf_topk(emb, query_id=0, k=10, quantize=1 << 20).collect()
    ]
    assert got == want and len(got) == 10
    assert os.path.isdir(os.path.join(run_ns, "centroids"))


def _resume_exhausted(run_fn, **kwargs):
    """VERDICT r11 item 8: the one untested corner of the restart path —
    a clean (uncrashed) run, then ``resume=True`` over the SAME source
    with every file already committed. The engine must settle without
    redelivering anything (no foreachBatch fires, so no batch-completion
    hook calls, no store rewrites) and the stores must read back
    identical. Returns (first_result, resumed_result, resumed_batches)."""
    first = run_fn(**kwargs)
    rec = _Record()
    resumed = run_fn(**kwargs, resume=True, on_batch_complete=rec)
    assert rec.batches == [], (
        "exhausted-source resume redelivered batches: " + str(rec.batches)
    )
    return first, resumed, rec.batches


@pytest.mark.slow
def test_stream_cms_resume_over_exhausted_source(spark, sf_smoke):
    from etl_acordos_spark.streaming.events import streaming_cms_run

    vals = t(spark, sf_smoke, "documents").select(
        F.explode(F.split("text", " ")).alias("v")
    )
    base = tempfile.mkdtemp(prefix="fi_cms_idle_")
    first, resumed, _ = _resume_exhausted(
        streaming_cms_run,
        spark=spark, vals=vals, base_dir=base, depth=2, width_hex=2,
        n_batches=3,
    )
    a = sorted(map(tuple, first.collect()))
    assert a and a == sorted(map(tuple, resumed.collect()))


@pytest.mark.slow
def test_stream_hll_resume_over_exhausted_source(spark, sf_smoke):
    from etl_acordos_spark.streaming.events import streaming_hll_run

    orders = t(spark, sf_smoke, "orders").select(
        F.year("o_orderdate").alias("ano"), "o_custkey"
    )
    base = tempfile.mkdtemp(prefix="fi_hll_idle_")
    first, resumed, _ = _resume_exhausted(
        streaming_hll_run,
        spark=spark, df=orders, group_cols=["ano"], value_col="o_custkey",
        base_dir=base, n_batches=3,
    )
    a = {tuple(r) for r in first.collect()}
    assert a and a == {tuple(r) for r in resumed.collect()}


@pytest.mark.slow
def test_stream_dedup_index_resume_over_exhausted_source(spark):
    from etl_acordos_spark.streaming.dedup_index import (
        streaming_dedup_index_run,
    )

    rows = [
        (i, " ".join(f"r{i}w{j}" for j in range(25))) for i in range(8)
    ]
    rows[7] = (7, rows[0][1])  # one cross-batch duplicate
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    base = tempfile.mkdtemp(prefix="fi_sdi_idle_")
    first, resumed, _ = _resume_exhausted(
        streaming_dedup_index_run,
        spark=spark, docs=docs, text_col="text", id_col="doc_id",
        base_dir=base, n_batches=3,
    )
    kept = sorted(r[0] for r in first.collect())
    assert kept == list(range(7))
    assert kept == sorted(r[0] for r in resumed.collect())


@pytest.mark.slow
def test_stream_ann_index_resume_over_exhausted_source(spark, sf_smoke):
    from etl_acordos_spark.operators.simsearch import query_vector
    from etl_acordos_spark.streaming.ann_index import (
        ann_index_topk,
        streaming_ann_index_run,
    )

    emb = t(spark, sf_smoke, "embeddings")
    base = tempfile.mkdtemp(prefix="fi_ann_idle_")
    run_ns, run_ns2, _ = _resume_exhausted(
        streaming_ann_index_run,
        spark=spark, vectors=emb, id_col="vec_id", vec_col="embedding",
        base_dir=base, n_batches=3, quantize=1 << 20,
    )
    assert run_ns == run_ns2  # same PID-scoped store namespace
    got = [
        (r[0], r[1])
        for r in ann_index_topk(
            spark, run_ns, query_vector(emb, 0), "vec_id", k=10,
            exclude_id=0,
        ).collect()
    ]
    assert len(got) == 10
