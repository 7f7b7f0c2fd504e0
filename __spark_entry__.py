"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 as a smoke check;
``queries()`` / ``oracle_sql()`` publish the full named-query registry
from cqdg_etl_spark.queries (one entry per implemented operator from
SURVEY.md §2 plus the training-data operators). Queries without a
SQL-expressible semantics (e.g. LSH banding) omit the oracle entry and
get the driver's rows-only check. Both dicts follow registry order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cqdg_etl_spark.queries import REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q5 star join) on /root/testdata/sf0.001."""
    return REGISTRY["q5_local_supplier_volume"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None
    }
