"""Named query registry.

Every implemented operator from SURVEY.md §2 (and every training-data
operator) is exposed as a named query: a callable ``(spark, sf_dir) ->
DataFrame`` plus, where SQL-expressible, an equivalent ANSI-SQL oracle
string for DuckDB. Every query module registers through ``query``;
``__spark_entry__.py`` publishes the registry to the correctness driver.

Comparison contract (driver): row-count + schema + order-insensitive
value hash with columns sorted by name. Consequences for query authors:
- alias every computed column identically in Spark and SQL;
- cast timestamps to 'yyyy-MM-dd[ HH:mm:ss]' strings;
- round float aggregates explicitly (both sides) so double-summation
  order differences can't flip the hash;
- serialize array results to sorted comma-joined strings.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def query(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
):
    """Decorator registering a query implementation."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(name, fn, oracle, doc or (fn.__doc__ or ""), tags)
        return fn

    return deco


def dec_sum(col, scale: int = 2):
    """Order-insensitive money sum: accumulate exactly in DECIMAL(18,6)
    (double summation is order-dependent and can flip a rounded 2dp value
    across engines/partitionings), round, and surface as double.

    Oracle-side equivalent:
    ``CAST(round(sum(CAST(x AS DECIMAL(18,6))), s) AS DOUBLE)``.
    """
    from pyspark.sql import functions as F

    return F.round(F.sum(col.cast("decimal(18,6)")), scale).cast("double")


def dec_avg(col, scale: int = 4):
    """Deterministic average via exact decimal sum / count.

    Oracle-side equivalent:
    ``round(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / count(x), s)``.
    """
    from pyspark.sql import functions as F

    return F.round(
        F.sum(col.cast("decimal(18,6)")).cast("double") / F.count(col), scale
    )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts is TIMESTAMP(NANOS) in the source parquet; with
    # spark.sql.legacy.parquet.nanosAsLong it arrives as bigint nanos.
    # Convert with integer division (`div`) — a double roundtrip would
    # lose precision above 2^53 ns.
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and field.dataType.simpleString() == "timestamp_ntz":
            # Parquet TIMESTAMP(isAdjustedToUTC=false) arrives as NTZ;
            # with the session pinned to UTC the instant is identical, and
            # TIMESTAMP keeps unix_micros()/window arithmetic applicable.
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
