"""One runner for the engine's foreachBatch ingest pipelines.

`events.incremental_upsert_run`, `events.streaming_cms_run`,
`events.streaming_hll_run`, `dedup_index.streaming_dedup_index_run` and
`ann_index.streaming_ann_index_run` each feed a static table through a
Structured Streaming file source as a sequence of microbatches and fold
every batch into a store. They differ only in how the source is split
into batches and in what one batch does; `run_microbatches` is the rest.

Delivery contract, the same for every pipeline above:

  - Namespace: a run works in its PID-scoped directory
    (`run_namespace`): ``src`` holds the seeded source files, ``ckpt``
    the engine's checkpoint, and the pipeline's stores sit beside them.
    A fresh run deletes and recreates the directory.
  - Delivery: one source file per trigger (``maxFilesPerTrigger=1``)
    under ``trigger(availableNow=True)``, so a run delivers exactly the
    seeded files and stops. The file source delivers in mtime order,
    and one seed write gives its part-files near-equal mtimes, so after
    the seed the runner stamps the ``*.parquet`` files with strictly
    increasing mtimes in file-name order: batch *i* is the *i*-th file
    by name (``part-0000i`` of a ``repartition(n)`` write), on every
    run. foreachBatch is
    AT-LEAST-ONCE: a batch whose function returned but whose commit did
    not land is delivered again, under the same batch id, on restart.
  - Per-batch overwrite: so every store write a batch makes is an
    idempotent OVERWRITE keyed by its batch id — `store_batch` replaces
    the batch's own ``b{batch_id:05d}`` subdirectory (ann_index replaces
    its own ``ingest_batch=N`` partitions), and a replay rewrites its
    prior attempt instead of appending twice. ``mode("overwrite")`` is
    delete-then-write, not an atomic rename: a crash mid-write leaves a
    partial directory that the replayed batch rewrites. Settled reads
    glob every batch (`read_batches`); the upsert folds its deltas into
    its snapshot once, after the run returns, so no batch rewrites
    another batch's rows.
  - Resume: ``resume=True`` restarts an interrupted run against its
    existing source, stores and checkpoint, without seeding; the
    engine's offset log redelivers every uncommitted batch. Resuming a
    namespace with no source raises ``ValueError`` naming the pipeline.
  - Hook: ``on_batch_complete(batch_id)`` fires once per delivered
    batch, AFTER the pipeline's batch function returns (all its writes
    done) and BEFORE the engine commits the batch — telemetry in
    production, the injected-crash point of
    tests/test_stream_fault_injection.py.
  - Conf: the seed, the stream construction and every batch run under
    ``scoped_conf(one_shot_stream_conf(spark) | conf)``; each batch's
    shuffles would otherwise inherit the session's full width (dozens
    of tiny tasks and part-files per microbatch), and a failure
    anywhere in setup must not leak the narrowed setting.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_acordos_spark.session import one_shot_stream_conf, scoped_conf


def run_namespace(base_dir: str, name: str) -> str:
    """``{base_dir}/{name}_{pid}``: one working directory per process. A
    structured-streaming checkpoint is fatally corrupted if another
    process rmtree's it mid-run (seen as "ckpt/commits does not exist"
    when two harnesses ran the same pipeline against one scratch root).
    The stores outlive the run because the returned DataFrames read
    them lazily."""
    return os.path.join(base_dir, f"{name}_{os.getpid()}")


def run_microbatches(
    spark: SparkSession,
    pipeline: str,
    run_ns: str,
    seed: Callable[[str], None],
    process: Callable[[DataFrame, int], None],
    *,
    resume: bool = False,
    on_batch_complete: Callable[[int], None] | None = None,
    conf: dict[str, str] | None = None,
) -> None:
    """Seed ``{run_ns}/src`` with ``seed(src)`` (skipped on resume), then
    stream it through ``process(batch_df, batch_id)`` until every file
    is delivered, under the module's delivery contract. *pipeline*
    names the caller in errors."""
    src = os.path.join(run_ns, "src")
    if resume:
        if not os.path.isdir(src):
            raise ValueError(
                f"{pipeline}: resume=True but no prior run at {run_ns}"
            )
    else:
        shutil.rmtree(run_ns, ignore_errors=True)
        os.makedirs(run_ns)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        process(batch_df, batch_id)
        if on_batch_complete is not None:
            on_batch_complete(batch_id)

    with scoped_conf(spark, {**one_shot_stream_conf(spark), **(conf or {})}):
        if not resume:
            seed(src)
            _pin_delivery_order(src)
        (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(run_ns, "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def _pin_delivery_order(src: str) -> None:
    """Give the seeded files strictly increasing mtimes in file-name
    order, one second apart, so the file stream delivers them by name."""
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    base = os.stat(src).st_mtime
    for i, name in enumerate(files):
        os.utime(os.path.join(src, name), (base + i, base + i))


def store_batch(df: DataFrame, root: str, batch_id: int) -> None:
    """Overwrite batch *batch_id*'s own subdirectory of the store at
    *root*: a replayed batch rewrites its prior attempt, never appends."""
    df.write.mode("overwrite").parquet(os.path.join(root, f"b{batch_id:05d}"))


def read_batches(spark: SparkSession, root: str) -> DataFrame:
    """Every batch subdirectory `store_batch` wrote under *root*."""
    return spark.read.parquet(os.path.join(root, "b*"))
