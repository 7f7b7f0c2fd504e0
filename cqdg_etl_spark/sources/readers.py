"""Source connectors (SURVEY.md §2.1, S1-S4).

Reference semantics being reproduced:
- S1 TSV scan: all-string schema, tab separator, header row, NO schema
  inference (reference: processes/processes.scala:18).
- S2 multiline JSON: a JSON array in one file
  (reference: processes/processes.scala:19).
- S3 NDJSON ontology scan, gzip-transparent
  (reference: processes/ProcessETLConfig.scala:30-33).
- S4 parquet scan (reference: processes/ProcessETLConfig.scala:17-28).

The reference's JSON-literal scan (S5, processes/PreProcessUtils.scala:96)
is not kept: it parses the ID server's answer, and internal ids are
derived on the executors instead (``pipeline/clients.py``).

All readers return lazy logical plans; Catalyst applies column pruning
and (for parquet) predicate pushdown downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_tsv(spark: SparkSession, path: str) -> DataFrame:
    """Tab-separated file with a header; every column read as string.

    Matching the reference exactly matters: ages, dates and booleans stay
    strings until a downstream operator derives a typed value
    (reference: processes/processes.scala:18).
    """
    return spark.read.options(sep="\t", header=True).csv(path)


def read_multiline_json(spark: SparkSession, path: str) -> DataFrame:
    """A whole-file JSON array (study_version_metadata.json shape)."""
    return spark.read.option("multiLine", True).json(path)


def read_ndjson(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """Newline-delimited JSON (ontology term tables); gzip is transparent.

    Pass an explicit schema at scale — inference reads the data twice.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
