"""Streaming IVF index maintenance — continuous embedding ingest into
a cell-partitioned vector store with a partition-pruned probe.

The batch-mode `operators.simsearch.ivf_topk` demonstrates the IVF
search shape and notes "the cell id is a natural partition/bucket key
for the stored table" — this module is that stored table. Each
arriving microbatch of embeddings:

  1. loads the coarse centroids (k-means over the first batch's
     id-prefix sample, trained ONCE — the standard IVF contract: the
     quantizer is frozen so cell assignments stay comparable across
     the index's lifetime; retrain = rebuild),
  2. assigns every vector to its nearest centroid with one
     Arrow-batched numpy matmul (the pandas-UDF fast path),
  3. writes the batch into the store PARTITIONED BY (ingest_batch,
     cell) with dynamic partition overwrite — a replayed batch
     (foreachBatch is at-least-once) overwrites exactly its own
     ``ingest_batch=N`` partitions, never double-appending.

A query then reads the store with a ``cell IN (probe cells)`` filter:
Catalyst turns the partition column filter into directory pruning, so
the scan touches ~n_probe/n_lists of the corpus ON DISK — the entire
point of an IVF layout at 100 TB, where the probe set is a handful of
partitions out of thousands. The exact cosine re-rank runs only on the
pruned slice.

Correctness story: the registry key runs the quantized exact-integer
IVF family, so the stored index's probe hash-verifies against a DuckDB
oracle (cell assignment replayed as an integer argmin CTE); recall
against `exact_topk` plus the partition-pruning plan shape stay pinned
in tests/test_streaming.py.

No reference parity: the reference has neither vectors nor streaming;
SURVEY.md §2.6 extension surface.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_acordos_spark.operators.simsearch import (
    as_double,
    assign_cell_quantized_udf,
    assign_cell_udf,
    cosine,
    probe_cells,
    probe_cells_quantized,
    quantize_mat,
    train_coarse_centroids,
)
from etl_acordos_spark.session import one_shot_stream_conf, scoped_conf
from etl_acordos_spark.streaming.batching import write_id_range_batches

# The quantizer trains on the first TRAIN_FACTOR * n_lists vectors by id
# (`train_coarse_centroids`' id-prefix sample); the eager size guard in
# `streaming_ann_index_run` checks the same count.
TRAIN_FACTOR = 4


def _load_centroids(
    spark: SparkSession, centroids_dir: str
) -> tuple[np.ndarray, int]:
    """Load the frozen quantizer plus its family: returns (centroids,
    q_scale) where q_scale > 0 means the exact shifted-integer family
    (int64 centroids on the floor(x·Q+0.5)+Q grid) and 0 the float
    spherical family. The store PERSISTS the scale so probes derive
    the right path from the store itself — a float probe over shifted
    int64 centroids would silently pick near-arbitrary cells (after
    the +Q shift every centroid is nearly parallel to the all-ones
    direction), and the quantized probe needs Q to quantize the query
    onto the same grid."""
    df = spark.read.parquet(centroids_dir)
    rows = df.orderBy("cell").collect()
    q_scale = int(rows[0]["q_scale"]) if rows else 0
    dtype = np.int64 if q_scale else np.float64
    return (
        np.stack([np.asarray(r["centroid"], dtype=dtype) for r in rows]),
        q_scale,
    )


def _train_quantizer(
    spark: SparkSession,
    batch_df: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    centroids_dir: str,
    quantize: int | None = None,
) -> bool:
    """Freeze the coarse quantizer from the first batch: spherical
    k-means over the first ``TRAIN_FACTOR * n_lists`` vectors by id
    (`train_coarse_centroids` — the SAME training the batch-mode
    `ivf_topk` runs; delivery is ascending-id microbatches, so the
    first batch contains exactly the id-prefix sample and both sides
    produce bit-identical centroids). Returns False when the batch is
    empty (cannot train — wait for data).

    Crash safety: freezing keys on the directory's existence, so the
    store is staged and atomically renamed into place — a crash
    mid-write must not leave a partial directory that a retry would
    treat as a trained quantizer (exists() would short-circuit and
    `_load_centroids` would fail on the empty stack); same protocol as
    `dedup_index.compact_count_deltas`."""
    train_n = TRAIN_FACTOR * n_lists
    # ONE collect serves both the availability check and the k-means
    # training sample; orderBy(id) makes it exactly the id-prefix
    # sample batch-mode ivf_topk trains on. The orderBy plans as a
    # TakeOrdered over the batch's vector column — a full batch pass,
    # not an early-stop probe — but it replaces what used to be TWO
    # identical passes (id-count probe + train_coarse_centroids'
    # own collect), so first-batch latency still improves net
    rows = (
        batch_df.select(as_double(vec_col))
        .orderBy(id_col)
        .limit(train_n)
        .collect()
    )
    n_avail = len(rows)
    if n_avail == 0:
        return False
    if n_avail < train_n:
        # an under-trained quantizer would silently break the
        # unit-tested equality with batch ivf_topk (whose id-prefix
        # training sample spans the whole table) — fail loudly instead
        raise ValueError(
            f"streaming_ann_index_run: first batch has only "
            f"{n_avail} vectors < training sample {train_n} "
            f"({TRAIN_FACTOR} × n_lists={n_lists}); "
            f"lower n_lists or n_batches"
        )
    sample = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    C = train_coarse_centroids(
        batch_df, id_col, vec_col, n_lists, TRAIN_FACTOR,
        sample=sample, quantize=quantize,
    )
    staging = centroids_dir + "_staging"
    shutil.rmtree(staging, ignore_errors=True)
    qs = int(quantize or 0)
    if quantize:
        cent_rows = [
            (int(i), [int(x) for x in row], qs) for i, row in enumerate(C)
        ]
        cent_schema = "cell int, centroid array<bigint>, q_scale bigint"
    else:
        cent_rows = [
            (int(i), [float(x) for x in row], qs) for i, row in enumerate(C)
        ]
        cent_schema = "cell int, centroid array<double>, q_scale bigint"
    spark.createDataFrame(cent_rows, cent_schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    os.replace(staging, centroids_dir)
    return True


def streaming_ann_index_run(
    spark: SparkSession,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    base_dir: str,
    n_batches: int = 4,
    n_lists: int = 16,
    quantize: int | None = None,
    resume: bool = False,
    on_batch_complete=None,
) -> str:
    """Ingest *vectors* as *n_batches* ascending-id microbatches into a
    cell-partitioned IVF store under a PID-scoped namespace; returns
    the run namespace path (probe with `ann_index_topk`).

    ``resume=True`` restarts an interrupted run against its existing
    source, store, and checkpoint: the engine redelivers every batch
    whose foreachBatch ran without the commit landing; the dynamic
    partition overwrite rewrites exactly the replayed batch's
    (ingest_batch, cell) partitions and the staged-rename quantizer
    freeze is skipped once `centroids_dir` exists — the crash-recovery
    path the fault-injection tests drive. ``on_batch_complete(
    batch_id)`` runs after the batch's cell write, before the engine
    commit (telemetry / injected-crash point).

    Raises ``ValueError`` eagerly when *vectors* cannot train the
    quantizer at all (fewer rows than the TRAIN_FACTOR × n_lists
    training sample, including zero) — otherwise the same error would
    surface mid-run wrapped in an opaque ``StreamingQueryException``
    from foreachBatch (r10 VERDICT degenerate-input sweep). The count is one columnar
    metadata pass over a source the very next step rewrites in full.
    """
    n_total = vectors.count()
    train_n = TRAIN_FACTOR * n_lists
    if n_total < train_n:
        raise ValueError(
            f"streaming_ann_index_run: {n_total} vectors < training "
            f"sample {train_n} ({TRAIN_FACTOR} × n_lists={n_lists}); "
            "lower n_lists or supply more vectors"
        )
    run_ns = os.path.join(base_dir, f"stream_ann_index_{os.getpid()}")
    src = os.path.join(run_ns, "src")
    cells_dir = os.path.join(run_ns, "cells")
    centroids_dir = os.path.join(run_ns, "centroids")
    ckpt = os.path.join(run_ns, "ckpt")
    if resume:
        if not os.path.isdir(src):
            raise ValueError(
                "streaming_ann_index_run: resume=True but no prior "
                f"run at {run_ns}"
            )
    else:
        shutil.rmtree(run_ns, ignore_errors=True)
        os.makedirs(run_ns, exist_ok=True)

    # dynamic mode scopes mode("overwrite") to the partitions a write
    # actually touches — the idempotent-replay contract
    with scoped_conf(
        spark,
        {
            **one_shot_stream_conf(spark),
            "spark.sql.sources.partitionOverwriteMode": "dynamic",
        },
    ):
        if not resume:
            write_id_range_batches(
                vectors, id_col, [id_col, vec_col], run_ns, src, n_batches
            )
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        # the quantizer is immutable once frozen, so later batches reuse
        # the driver-side copy instead of re-reading + collecting it
        quantizer: dict[str, np.ndarray] = {}

        def process_batch(batch_df: DataFrame, batch_id: int) -> None:
            if not os.path.exists(centroids_dir):
                if not _train_quantizer(
                    spark, batch_df, id_col, vec_col, n_lists,
                    centroids_dir, quantize=quantize,
                ):
                    return  # empty batch cannot train — wait for data
            if "C" not in quantizer:
                C_loaded, q_stored = _load_centroids(spark, centroids_dir)
                if q_stored != int(quantize or 0):
                    raise ValueError(
                        "streaming_ann_index_run: store at "
                        f"{centroids_dir} was trained with q_scale="
                        f"{q_stored}, run asked for {quantize!r}"
                    )
                quantizer["C"] = C_loaded
            C = quantizer["C"]
            assign = (
                assign_cell_quantized_udf(C, quantize)
                if quantize
                else assign_cell_udf(C)
            )
            (
                batch_df.select(
                    F.col(id_col),
                    as_double(vec_col).alias(vec_col),
                    assign(as_double(vec_col)).alias("cell"),
                )
                .withColumn("ingest_batch", F.lit(batch_id))
                .write.mode("overwrite")
                .partitionBy("ingest_batch", "cell")
                .parquet(cells_dir)
            )
            if on_batch_complete is not None:
                on_batch_complete(batch_id)

        (
            stream.writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return run_ns


def ann_index_topk(
    spark: SparkSession,
    run_ns: str,
    query_vec: list[float],
    id_col: str,
    k: int = 10,
    n_probe: int = 4,
    exclude_id: int | None = None,
) -> DataFrame:
    """Probe the store built by `streaming_ann_index_run`: pick the
    *n_probe* cells nearest *query_vec* driver-side (centroids are
    k·dim — tiny), then scan ONLY those cells — the ``cell IN (...)``
    filter on the partition column prunes every other directory before
    a byte is read — and exact-cosine re-rank the slice."""
    C, q_scale = _load_centroids(spark, os.path.join(run_ns, "centroids"))
    q = np.asarray(query_vec, dtype=np.float64)
    # the store itself says which family it is — a caller cannot probe
    # a quantized store with the float path (or vice versa) by mistake
    probe = (
        probe_cells_quantized(C, quantize_mat(q, q_scale), n_probe)
        if q_scale
        else probe_cells(C, q, n_probe)
    )

    vec_col = next(
        f.name
        for f in spark.read.parquet(os.path.join(run_ns, "cells")).schema
        if f.name not in (id_col, "cell", "ingest_batch")
    )
    qcol = F.array(*[F.lit(float(x)) for x in q]).cast("array<double>")
    scan = spark.read.parquet(os.path.join(run_ns, "cells")).filter(
        F.col("cell").isin(probe)
    )
    if exclude_id is not None:
        scan = scan.filter(F.col(id_col) != exclude_id)
    return (
        scan.withColumn("q", qcol)
        .withColumn("cosine", F.round(cosine(vec_col, "q"), 6))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "cosine")
    )
