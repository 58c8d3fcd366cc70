"""External-records batch source (the Google-Sheets-shaped ingest).

The reference ingests via gspread ``get_all_records()`` → list[dict] →
``pd.DataFrame``, with a duplicate-header fallback to a pinned
``expected_headers`` list and a hard error on empty payloads (reference
tasks/bronze.py:22-47). Generalized here as: any callable producing
``list[dict]`` rows becomes a DataFrame with the same guard semantics.

At scale this path is for small control-plane tables only (the reference's
input is O(10^2-10^3) rows); bulk data enters through the parquet source.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class EmptySourceError(ValueError):
    """Raised when the external source returns no rows
    (reference tasks/bronze.py:40-41)."""


def records_to_df(
    spark: SparkSession,
    records: Sequence[dict[str, Any]],
    expected_headers: Sequence[str] | None = None,
) -> DataFrame:
    """Turn API-style ``list[dict]`` records into a DataFrame.

    - Empty input is a hard error (reference tasks/bronze.py:40-41).
    - If *expected_headers* is given and the records' keys don't cover
      them, rows are re-projected onto the pinned header list (missing →
      NULL) — the duplicate/dirty-header fallback of tasks/bronze.py:30-39.
    - Every column is ingested as string, matching
      ``sheet.get_all_records()`` payloads; typing happens in the bronze
      transform, not at ingest.
    """
    if not records:
        raise EmptySourceError("external source returned no records")
    headers = list(expected_headers) if expected_headers else list(records[0].keys())
    rows = [tuple(str(r[h]) if r.get(h) is not None else None for h in headers) for r in records]
    schema = T.StructType([T.StructField(h, T.StringType(), True) for h in headers])
    return spark.createDataFrame(rows, schema=schema)
