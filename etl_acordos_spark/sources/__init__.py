"""Batch sources and sinks."""

from etl_acordos_spark.sources.parquet_io import (
    layer_key,
    parquet_exists,
    read_parquet,
    write_parquet_layer,
)
from etl_acordos_spark.sources.records import records_to_df
from etl_acordos_spark.sources.dbapi_sink import (
    ddl_from_schema,
    write_dbapi_append,
    write_dbapi_upsert,
)

__all__ = [
    "layer_key",
    "parquet_exists",
    "read_parquet",
    "write_parquet_layer",
    "records_to_df",
    "ddl_from_schema",
    "write_dbapi_append",
    "write_dbapi_upsert",
]
