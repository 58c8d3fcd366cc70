"""Streaming MinHash dedup-index maintenance — continuous near-dup
ingest against a STORED band index.

This realizes the production story `incremental_minhash_dedup`
documents (operators/dedup.py): at 100 TB/day nobody recomputes the
corpus's signatures per batch — the corpus IS its on-disk band index.
Each arriving microbatch:

  1. computes its own seeded MinHash bands (`minhash_bands` — the
     seeded permutation constants are what keep an index built last
     month join-compatible with today's batch),
  2. probes the stored index for band collisions and verifies the
     candidates by exact Jaccard against the kept-docs store
     (candidate-restricted shingle rebuild — the store is never
     re-shingled in full),
  3. writes its survivors, their band entries, and their per-bucket
     count deltas, each into a batch-id-named subdirectory.

Fault tolerance: every store write is the per-batch overwrite of the
`streaming.microbatch` delivery contract, so a crash between the three
writes leaves nothing a retry can't overwrite. The probe side of the
same contract: a batch only ever READS subdirectories
with batch index strictly below its own (`_load_store`), so a replay
never collides with its prior attempt's output (which would Jaccard-
match every kept doc against itself and drop the whole batch). The
bucket-count deltas exist so the degenerate-bucket cap never recounts
the index's entries (an O(index) shuffle per microbatch otherwise):
the probe sums the delta files — buckets-sized, not entries-sized. At
lakehouse scale the stores become table-format MERGEs keyed on batch
id (same idempotency, transactional), the index is bucketed by band
value so the probe join is co-located, and a periodic compaction folds
old count deltas into one snapshot.

Determinism contract: documents are delivered as ascending id-range
microbatches, so the settled kept-set equals folding
`incremental_minhash_dedup` over the batches in order — unit-tested in
tests/test_streaming.py, which is the correctness story for this
non-SQL-expressible operator.

No reference parity: the reference has no streaming and no dedup
beyond `drop_duplicates` (tasks/silver.py:72); this is SURVEY.md §2.6
extension surface.
"""

from __future__ import annotations

import functools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_acordos_spark.operators.dedup import (
    dedup_batch_against,
    minhash_bands,
)
from etl_acordos_spark.streaming.batching import write_id_range_batches
from etl_acordos_spark.streaming.microbatch import (
    read_batches,
    run_microbatches,
    run_namespace,
    store_batch,
)


def _band_schema(
    doc_schema: T.StructType, id_col: str, hash_fn: str = "xxhash64"
) -> T.StructType:
    # the md5 family packs each band as the comma-joined signature
    # STRING (reproducible verbatim in SQL); xxhash64 compresses it to
    # one long — the empty-store stub must match or the probe join
    # casts strings to BIGINT and throws
    band_t = T.StringType() if hash_fn == "md5" else T.LongType()
    return T.StructType(
        [
            T.StructField("doc", doc_schema[id_col].dataType),
            T.StructField("band_idx", T.IntegerType()),
            T.StructField("band_val", band_t),
        ]
    )


def _load_store(
    spark: SparkSession,
    root: str,
    batch_id: int,
    probe_last_batches: int | None,
) -> DataFrame | None:
    """Read a store's per-batch subdirectories as they stood BEFORE
    *batch_id* first ran — only subdirectories with batch index <
    batch_id. A replayed batch (at-least-once delivery) must never see
    its own prior-attempt output: including ``b{batch_id}`` would match
    every doc the prior attempt kept against its identical self
    (Jaccard 1.0), drop the whole batch as duplicates, and the per-batch
    overwrite would then replace the stores with that near-empty
    survivor set — silent data loss on crash-replay. The ``< batch_id``
    cut composes with `compact_count_deltas` because a snapshot keeps
    the highest FOLDED batch's name and the newest delta is never
    folded."""
    if not os.path.isdir(root):
        return None
    parts = sorted(
        e
        for e in os.listdir(root)
        if e.startswith("b") and int(e[1:]) < batch_id
    )
    if probe_last_batches is not None and probe_last_batches < batch_id:
        # a horizon >= batch_id covers every batch that can exist (all
        # indices are < batch_id), i.e. the full-history probe — exact
        # regardless of folding, so no slice and no snapshot guard. Only
        # a PROPER slice can cover the wrong time range when a snapshot
        # occupies one directory slot. len(parts) would be the WRONG
        # test: a snapshot folds many batches into one slot, so slot
        # count understates the history the slice spans.
        sliced = parts[-probe_last_batches:]
        for p in sliced:
            if os.path.exists(os.path.join(root, p, "_folded.json")):
                # a compacted snapshot folds many batches into one
                # directory slot, so a slice CONTAINING one covers a
                # different time range than "the newest N batches" —
                # refuse instead of probing the wrong horizon. A
                # snapshot strictly OLDER than the slice is harmless:
                # the newest N directories are then genuine per-batch
                # deltas and the horizon is exact (production aligns
                # compaction to the horizon; see compact_count_deltas)
                raise ValueError(
                    "streaming dedup index: probe_last_batches horizon "
                    f"overlaps the compacted snapshot {p!r} — expire "
                    "old batch directories instead of folding them "
                    "when a freshness horizon is in use"
                )
        parts = sliced
    if not parts:
        return None
    return spark.read.parquet(*[os.path.join(root, p) for p in parts])


def _dedup_index_process_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    *,
    text_col: str,
    id_col: str,
    kept_dir: str,
    index_dir: str,
    counts_dir: str,
    num_perm: int,
    bands: int,
    threshold: float,
    shingle_n: int,
    max_bucket_size: int,
    probe_last_batches: int | None,
    hash_fn: str = "xxhash64",
) -> None:
    """One microbatch of the dedup-index maintenance loop — module-level
    (not a closure) so the replay-idempotency test drives the EXACT
    production code path when it re-delivers a batch."""
    # lineage cut straight after the band computation: the band
    # expression is a giant HOF tree, and in a PER-BATCH loop every
    # derived plan (bucket cap, probe joins, self-join) would re-analyze
    # it 4× per microbatch — leaf it once per batch instead (one job,
    # bands are 3 longs per doc·band). pin="checkpoint"/reusable=False
    # keep the per-batch intermediates out of the CacheManager: cache
    # entries live until the application stops, and a continuous ingest
    # stream would leak them every batch.
    b_bands = minhash_bands(
        batch_df,
        text_col,
        id_col,
        num_perm,
        bands,
        shingle_n,
        pin="checkpoint",
        hash_fn=hash_fn,
    ).localCheckpoint(eager=False)
    corpus = _load_store(spark, kept_dir, batch_id, probe_last_batches)
    c_bands = _load_store(spark, index_dir, batch_id, probe_last_batches)
    deltas_so_far = _load_store(
        spark, counts_dir, batch_id, probe_last_batches
    )
    counts = (
        deltas_so_far.groupBy("band_idx", "band_val").agg(
            F.sum("n").alias("n")
        )
        if deltas_so_far is not None
        else None
    )
    if corpus is None:
        corpus = spark.createDataFrame([], batch_df.schema)
    if c_bands is None:
        c_bands = spark.createDataFrame(
            [], _band_schema(batch_df.schema, id_col, hash_fn)
        )
    survivors = dedup_batch_against(
        batch_df,
        b_bands,
        corpus,
        c_bands,
        text_col,
        id_col,
        threshold=threshold,
        shingle_n=shingle_n,
        max_bucket_size=max_bucket_size,
        c_bucket_counts=counts,
        reusable=False,
        hash_fn=hash_fn,
    ).localCheckpoint(eager=False)

    store_batch(
        batch_df.join(survivors, [id_col], "left_semi"), kept_dir, batch_id
    )
    # no checkpoint: both uses read the b_bands leaf + the tiny survivor
    # set — a recompute is one cheap semi-join
    kept_bands = b_bands.join(
        survivors.select(F.col(id_col).alias("doc")),
        ["doc"],
        "left_semi",
    )
    store_batch(kept_bands, index_dir, batch_id)
    store_batch(
        kept_bands.groupBy("band_idx", "band_val").agg(
            F.count(F.lit(1)).alias("n")
        ),
        counts_dir,
        batch_id,
    )


def streaming_dedup_index_run(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    base_dir: str,
    n_batches: int = 4,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    probe_last_batches: int | None = None,
    hash_fn: str = "xxhash64",
    resume: bool = False,
    on_batch_complete=None,
) -> DataFrame:
    """Run *docs* through the streaming dedup-index pipeline as
    *n_batches* ascending-id microbatches; returns the settled kept-doc
    ids (lazy read over the kept store, which outlives this call in its
    `microbatch.run_namespace`). Ids must be non-null.

    *probe_last_batches* — optional freshness horizon: probe only the
    newest N batches' index entries instead of the whole history (the
    news/feed-dedup contract, where yesterday's near-copy is a dup but
    last quarter's is legitimate re-reporting). The slice applies to
    all three stores consistently (index, kept docs, count deltas — the
    per-batch subdirectory layout IS the horizon structure: expiry is
    "stop reading old directories", exactly how a date-partitioned
    production index expires whole partitions). Not compatible with
    `compact_count_deltas`, which folds history across batch
    boundaries — enforced at probe time (`_load_store` raises on a
    compacted snapshot); production aligns compaction to the horizon.
    Default None = dedup against all history (the fold-equivalence
    contract).

    Delivery, ``resume`` and ``on_batch_complete``: see the
    `streaming.microbatch` contract; the hook fires after all three
    store writes. On a replay, `_load_store`'s ``< batch_id`` cut keeps
    the batch from probing its own prior attempt."""
    if probe_last_batches is not None and probe_last_batches < 1:
        # parts[-0:] would silently mean "all history", the opposite of
        # the caller's intent
        raise ValueError(
            "streaming_dedup_index_run: probe_last_batches must be >= 1"
        )
    run_ns = run_namespace(base_dir, "stream_dedup_index")
    process_batch = functools.partial(
        _dedup_index_process_batch,
        spark,
        text_col=text_col,
        id_col=id_col,
        kept_dir=os.path.join(run_ns, "kept"),
        index_dir=os.path.join(run_ns, "band_index"),
        counts_dir=os.path.join(run_ns, "bucket_counts"),
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
        shingle_n=shingle_n,
        max_bucket_size=max_bucket_size,
        probe_last_batches=probe_last_batches,
        hash_fn=hash_fn,
    )
    # deterministic delivery order: contiguous ascending id ranges, one
    # file per range, one file per trigger — "keep-first" means lower-id
    # batches win, and within a batch the lower id wins
    # (dedup_batch_against's keep-first contract); a sampled
    # repartitionByRange split would change which non-transitive
    # near-dup comparisons happen between reruns (see batching.py)
    run_microbatches(
        spark,
        "streaming_dedup_index_run",
        run_ns,
        lambda src: write_id_range_batches(
            docs, id_col, [id_col, text_col], run_ns, src, n_batches
        ),
        process_batch,
        resume=resume,
        on_batch_complete=on_batch_complete,
    )
    return read_batches(spark, os.path.join(run_ns, "kept")).select(id_col)


def _finish_pending_compaction(counts_dir: str) -> None:
    """Complete (or recover) a staged compaction: remove the folded
    delta directories listed in the pending snapshot's manifest, then
    rename the snapshot to its final glob-visible delta name. Safe to
    re-run from any crash point — every step is idempotent."""
    import json

    pending = os.path.join(counts_dir, "snap_pending")
    with open(os.path.join(pending, "_folded.json")) as f:
        manifest = json.load(f)
    for d in manifest["dirs"]:
        shutil.rmtree(os.path.join(counts_dir, d), ignore_errors=True)
    os.replace(pending, os.path.join(counts_dir, manifest["dest"]))


def compact_count_deltas(spark: SparkSession, run_ns: str) -> int:
    """Periodic maintenance: fold the bucket-count delta subdirectories
    into one pre-summed snapshot, so the per-batch probe sums a bounded
    number of files instead of one delta per batch ever ingested.

    The NEWEST delta is never folded: under the at-least-once contract
    the most recent batch is the one that can replay, and its
    subdirectory must stay individually overwritable — folding it into
    a snapshot would let the replay's per-batch overwrite clobber every
    earlier batch's counts.

    Crash safety (single-atomic-op protocol, since a multi-directory
    swap cannot be atomic on a plain filesystem): (1) the folded
    snapshot plus a ``_folded.json`` manifest is written outside the
    store and atomically renamed in under a glob-EXCLUDED name
    (``snap_pending`` — probes never read it); (2) the folded delta
    dirs are removed; (3) the snapshot is renamed to the highest folded
    batch-id name (later deltas sort after it). A crash after (1) is
    recovered from the manifest by the next call; a crash during (2)
    transiently under-counts — which only LOOSENS the conservative
    degenerate-bucket cap — until that recovery completes. A
    transactional table format (Delta/Iceberg MERGE) is the production
    form of this fold. Returns the number of delta directories folded.
    """
    import json

    counts_dir = os.path.join(run_ns, "bucket_counts")
    if not os.path.isdir(counts_dir):
        return 0
    pending = os.path.join(counts_dir, "snap_pending")
    if os.path.isdir(pending):
        _finish_pending_compaction(counts_dir)
    parts = sorted(
        e for e in os.listdir(counts_dir) if e.startswith("b")
    )
    foldable = parts[:-1]
    if len(foldable) <= 1:
        return 0
    snap = (
        spark.read.parquet(
            *[os.path.join(counts_dir, d) for d in foldable]
        )
        .groupBy("band_idx", "band_val")
        .agg(F.sum("n").alias("n"))
    )
    staging = os.path.join(run_ns, "bucket_counts_compact_staging")
    shutil.rmtree(staging, ignore_errors=True)
    snap.write.mode("overwrite").parquet(staging)
    with open(os.path.join(staging, "_folded.json"), "w") as f:
        json.dump({"dirs": foldable, "dest": foldable[-1]}, f)
    os.replace(staging, pending)
    _finish_pending_compaction(counts_dir)
    return len(foldable)
