from cqdg_etl_spark.sources.readers import (
    read_csv,
    read_multiline_json,
    read_ndjson,
    read_orc,
    read_parquet,
    read_table,
    read_text,
    read_tsv,
    read_xml,
)
from cqdg_etl_spark.sources.writers import (
    write_csv,
    write_orc,
    write_parquet,
    write_partitioned_json,
    write_range_sorted_parquet,
    write_xml,
)

__all__ = [
    "read_tsv",
    "read_multiline_json",
    "read_ndjson",
    "read_orc",
    "read_csv",
    "read_parquet",
    "read_table",
    "read_text",
    "read_xml",
    "write_parquet",
    "write_orc",
    "write_csv",
    "write_partitioned_json",
    "write_range_sorted_parquet",
    "write_xml",
]
