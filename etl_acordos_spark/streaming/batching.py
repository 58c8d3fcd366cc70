"""Deterministic micro-batch delivery for the streaming ingest demos.

The streaming maintenance pipelines (dedup_index, ann_index) need a
reproducible batch split: their semantics depend on WHICH batch a row
lands in (keep-first dedup compares against earlier batches; index
structures are trained on the first batch), so the split must be stable
across reruns. ``repartitionByRange`` is not — RangePartitioner samples
its boundaries with a random seed — hence explicit percentile cuts,
one file per batch, named in batch order.

In production these pipelines consume real arrival batches (Kafka
offsets, object-store listings); this module only exists to fabricate
a deterministic arrival order from a static table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_id_range_batches(
    df: DataFrame,
    id_col: str,
    cols: list[str],
    run_ns: str,
    src: str,
    n_batches: int,
) -> None:
    """Write *df* (projected to *cols*) as ``n_batches`` single-file
    parquet batches of contiguous ascending *id_col* ranges under
    *src*, named ``batch_{i:04d}.parquet`` so `run_microbatches`'
    file-name delivery order is id order.
    Ids must be non-null. percentile_approx boundaries are
    deterministic for the same input; empty input degrades to one
    empty batch."""
    cuts = (
        df.select(
            F.percentile_approx(
                id_col,
                [i / n_batches for i in range(1, n_batches)],
                10000,
            ).alias("b")
        ).head()[0]
        if n_batches > 1
        else []
    )
    # percentile over zero rows is NULL → deliver one empty batch
    edges = [None, *(cuts or []), None]
    os.makedirs(src, exist_ok=True)
    for i in range(len(edges) - 1):
        part = df.select(*cols)
        if edges[i] is not None:
            part = part.filter(F.col(id_col) > edges[i])
        if edges[i + 1] is not None:
            part = part.filter(F.col(id_col) <= edges[i + 1])
        build = os.path.join(run_ns, f"srcbuild_{i}")
        part.coalesce(1).write.parquet(build)
        pf = next(
            f for f in sorted(os.listdir(build)) if f.endswith(".parquet")
        )
        dst = os.path.join(src, f"batch_{i:04d}.parquet")
        os.replace(os.path.join(build, pf), dst)
        shutil.rmtree(build, ignore_errors=True)
