"""Structured Streaming over the events table — windowed aggregation
with watermarks, native session windows, and a custom stateful operator
via ``applyInPandasWithState``.

The reference has no streaming of any kind (SURVEY.md §2.6 gap map);
this module is the extension the `events` testdata table exists for.
Design notes for a real deployment:

  - Source: here a parquet file-stream (the driver's testdata is files);
    in production the same plans run unchanged on Kafka/Kinesis sources.
  - Watermarks bound state: `withWatermark` lets Spark drop window state
    older than (max event time - delay), which is what makes unbounded
    streams runnable with bounded executor memory at 100 TB/day rates.
  - `trigger(availableNow=True)` gives exactly-once batch-like runs over
    whatever has arrived — the idiom for backfills and for deterministic
    tests (and for the driver's oracle comparison: the streaming result
    of a finite input equals the batch aggregate, so plain SQL is a
    valid oracle).
  - State-store sizing: session/window state is keyed by (key, window);
    skewed hot keys are the hazard — the custom stateful operator keeps
    per-key state O(1) (counters, not event buffers) on purpose.
"""

from __future__ import annotations

import pandas as pd
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_acordos_spark.session import one_shot_stream_conf, scoped_conf
from etl_acordos_spark.sources.parquet_io import read_parquet
from etl_acordos_spark.streaming.microbatch import (
    read_batches,
    run_microbatches,
    run_namespace,
    store_batch,
)

#: file-stream schema when events.parquet carries TIMESTAMP(NANOS): with
#: spark.sql.legacy.parquet.nanosAsLong the raw int64 nanos surface as
#: LongType (converted to micro TIMESTAMP in stream_events).
EVENTS_NANOS_FILE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet with event-time `ts`
    normalized to micro-precision TIMESTAMP.

    The testdata's `ts` precision has varied across generations (NANOS
    vs MICROS), so the stream schema is derived from the batch footer
    read rather than pinned: nanos surface as int64 (nanosAsLong) and
    are integer-div'd to micros (nanos exceed double's exact-integer
    range — never float-divide); micros arrive as TIMESTAMP_NTZ and are
    cast to TIMESTAMP (watermarks reject NTZ; the testdata timestamps
    are naive-UTC and the session runs UTC, so the instant is
    preserved)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    ts_is_nanos = batch_schema["ts"].dataType == LongType()
    # glob, not the bare file path: the file-stream source requires a
    # directory basePath, which it derives from the glob's parent
    raw = (
        spark.readStream.schema(
            EVENTS_NANOS_FILE_SCHEMA if ts_is_nanos else batch_schema
        )
        .parquet(f"{sf_dir}/events.parque*")
    )
    if ts_is_nanos:
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_stream_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time windows per event_type with a watermark.

    The watermark bounds window state: a window closes (and its state is
    freed) once the watermark passes its end — late rows beyond the
    delay are dropped rather than buffered forever.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_stream_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session windows (gap timeout) — native `session_window`
    merges events while each arrives within *gap* of the session's
    current end; state per (user, open session) only."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exactly-once dedup: drop event_id repeats arriving
    within the watermark delay of each other.

    `dropDuplicatesWithinWatermark` keeps one state entry per key and
    FREES it once the watermark passes — bounded state on an unbounded
    stream, which plain `dropDuplicates` (state grows forever) cannot
    give. This is the idiom for de-duplicating at-least-once sources
    (Kafka redeliveries, retried producers).
    """
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 4).alias("value"),
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner interval join: pair each left event with the
    right events of the SAME user arriving within *max_delay* after it
    (click→purchase attribution).

    Both sides carry watermarks and the join predicate carries an
    explicit event-time range — together they let Spark compute how long
    a buffered row can still find a match and EVICT join state past
    that bound. Without the range the state store grows forever; with
    it, per-key state is O(events within the watermark+delay horizon).
    The equality key (user_id) makes it a hash-partitioned stateful
    join — both streams shuffle on user_id once, matches are local."""
    a = left.select(
        F.col("event_id").alias("left_id"),
        F.col("user_id"),
        F.col("ts").alias("left_ts"),
    ).withWatermark("left_ts", watermark)
    b = right.select(
        F.col("event_id").alias("right_id"),
        F.col("user_id").alias("right_user_id"),
        F.col("ts").alias("right_ts"),
        F.col("value"),
    ).withWatermark("right_ts", watermark)
    return a.join(
        b,
        F.expr(
            "user_id = right_user_id"
            " AND right_ts >= left_ts"
            f" AND right_ts <= left_ts + interval {max_delay}"
        ),
    ).select(
        "left_id",
        "right_id",
        "user_id",
        F.round("value", 4).alias("value"),
    )


# ------------------------------------------------- custom stateful operator

STATEFUL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _running_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user running totals with O(1) state (two scalars per key —
    never an event buffer, so hot keys can't blow the state store)."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 4)]}
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user cumulative
    count/sum via ``applyInPandasWithState`` (Arrow-batched, update
    mode). Each microbatch emits the keys it touched with their updated
    running totals."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _running_totals,
            outputStructType=STATEFUL_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ----------------------------------------------------------- run-to-batch


def run_stream_to_table(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming plan over the currently-available input with
    ``trigger(availableNow=True)`` into an in-memory sink table and
    return the settled result as a batch DataFrame.

    This is a REAL streaming execution (microbatches, state store,
    watermark advancement) — availableNow just bounds it to the data
    already present, which is exactly the driver-oracle contract: finite
    input → deterministic result equal to the batch aggregate.
    """
    spark = stream_df.sparkSession
    # state-store parallelism is baked into the checkpoint at the
    # query's first start; see one_shot_stream_conf for the sizing
    with scoped_conf(spark, one_shot_stream_conf(spark)):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


# ------------------------------------------------- incremental lake merge


def incremental_upsert_run(
    spark: SparkSession,
    events: DataFrame,
    base_dir: str,
    n_batches: int = 4,
) -> DataFrame:
    """Streaming incremental merge (foreachBatch): the event stream,
    delivered as *n_batches* microbatches, upserts each user's latest
    event into a parquet lake snapshot — the continuous-ingestion
    pattern behind every streaming lakehouse table.

    Per microbatch: reduce the batch to one row per key (latest by
    (ts, event_id) — a total order, so out-of-order delivery across
    batches cannot flip the result), then merge against the current
    snapshot by the same order and atomically swap the snapshot
    directory. At 100 TB the swap becomes a table-format MERGE
    (Delta/Iceberg) scoped to the partitions a batch touches; the
    per-batch plan — reduce, co-partitioned merge join, partition-local
    rewrite — is exactly this one. Delivery follows the
    `streaming.microbatch` contract (no resume here).
    """
    import os
    import shutil

    from pyspark.sql import Window

    run_ns = run_namespace(base_dir, "stream_upsert")
    lake = os.path.join(run_ns, "lake")
    latest_order = [F.col("ts").desc(), F.col("event_id").desc()]

    def latest_per_user(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(*latest_order)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        upserts = latest_per_user(batch)
        if os.path.exists(lake):
            merged = latest_per_user(
                spark.read.parquet(lake).unionByName(upserts)
            )
        else:
            merged = upserts
        tmp = f"{lake}_v{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        old = f"{lake}_old{batch_id}"
        if os.path.exists(lake):
            os.rename(lake, old)
        os.rename(tmp, lake)
        shutil.rmtree(old, ignore_errors=True)

    run_microbatches(
        spark,
        "incremental_upsert_run",
        run_ns,
        lambda src: events.select("event_id", "user_id", "ts", "value")
        .repartition(n_batches)
        .write.parquet(src),
        merge_batch,
    )
    return spark.read.parquet(lake)


def streaming_cms_run(
    spark: SparkSession,
    vals: DataFrame,
    base_dir: str,
    depth: int = 4,
    width_hex: int = 3,
    n_batches: int = 4,
    resume: bool = False,
    on_batch_complete=None,
) -> DataFrame:
    """Streaming count-min sketch maintenance (foreachBatch): the value
    stream (one column ``v``), delivered as *n_batches* microbatches,
    lands each batch's cell-count DELTA in its own per-batch
    subdirectory of a parquet cells store, and the settled sketch sums
    per (salt, bucket) over all of them — the always-on frequency
    sketch a streaming pipeline keeps next to its ingest.

    CMS cells are ADDITIVE, so the settled store is bit-identical to a
    batch build over the full stream no matter how values were split
    across batches — which is what makes this streaming key fully
    hash-oracle-able (rare: most streaming state is only rows-only
    checkable). State is O(n_batches · depth · 16^width_hex) rows,
    still input-size-independent — the whole point of sketching.

    Summing each delta into one rolling total instead would DOUBLE-COUNT
    a replayed batch under at-least-once delivery; the per-batch
    overwrite absorbs the replay. A long-running stream compacts old
    delta dirs into one the same way ext_compaction folds small files —
    additivity makes that merge lossless at any time.

    Delivery, ``resume`` and ``on_batch_complete``: see the
    `streaming.microbatch` contract."""
    import os

    from etl_acordos_spark.operators.relational import cms_cells

    run_ns = run_namespace(base_dir, "stream_cms")
    store = os.path.join(run_ns, "cells")
    run_microbatches(
        spark,
        "streaming_cms_run",
        run_ns,
        lambda src: vals.select("v").repartition(n_batches).write.parquet(src),
        lambda batch, batch_id: store_batch(
            cms_cells(batch.filter(F.col("v").isNotNull()), depth, width_hex),
            store,
            batch_id,
        ),
        resume=resume,
        on_batch_complete=on_batch_complete,
    )
    return (
        read_batches(spark, store)
        .groupBy("salt", "bucket")
        .agg(F.sum("cell_n").cast("bigint").alias("cell_n"))
    )


def streaming_hll_run(
    spark: SparkSession,
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    base_dir: str,
    n_batches: int = 4,
    resume: bool = False,
    on_batch_complete=None,
) -> DataFrame:
    """Streaming HyperLogLog register maintenance (foreachBatch): the
    keyed value stream, delivered as *n_batches* microbatches, lands
    each batch's (group, bucket, max-rank) registers in its own
    per-batch delta subdirectory; the settled store is the
    max-per-(group, bucket) merge over all delta dirs — the always-on
    distinct-count sketch a streaming pipeline keeps next to its ingest.

    HLL registers are MAX-mergeable, so the settled store is
    bit-identical to a batch `hll_md5_registers` build over the full
    stream no matter how rows were split across batches — the same
    property that makes `streaming_cms_run` fully hash-oracle-able
    (there by additivity, here by max-idempotence, which additionally
    makes even a DOUBLE-counted replay harmless; the per-batch delta
    dirs are kept anyway so a partial crash-write never corrupts
    earlier batches). State is O(n_batches · |groups| · 4096) rows,
    input-size-independent. A long-running stream compacts old delta
    dirs into one by the same max-merge — lossless at any time.

    Delivery, ``resume`` and ``on_batch_complete``: see the
    `streaming.microbatch` contract."""
    import os

    from etl_acordos_spark.operators.relational import hll_md5_registers

    run_ns = run_namespace(base_dir, "stream_hll")
    store = os.path.join(run_ns, "regs")
    run_microbatches(
        spark,
        "streaming_hll_run",
        run_ns,
        lambda src: df.select(*group_cols, value_col)
        .repartition(n_batches)
        .write.parquet(src),
        lambda batch, batch_id: store_batch(
            hll_md5_registers(
                batch.filter(F.col(value_col).isNotNull()),
                group_cols,
                value_col,
            ),
            store,
            batch_id,
        ),
        resume=resume,
        on_batch_complete=on_batch_complete,
    )
    return (
        read_batches(spark, store)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("mr").alias("mr"))
    )
