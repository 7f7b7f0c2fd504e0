from cqdg_etl_spark.sources.readers import (
    read_multiline_json,
    read_ndjson,
    read_parquet,
    read_tsv,
)
from cqdg_etl_spark.sources.writers import (
    write_parquet,
    write_partitioned_json,
    write_range_sorted_parquet,
)

__all__ = [
    "read_tsv",
    "read_multiline_json",
    "read_ndjson",
    "read_parquet",
    "write_parquet",
    "write_partitioned_json",
    "write_range_sorted_parquet",
]
