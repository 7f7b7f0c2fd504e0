"""Registry query for the SCD2 merge operator (operators/scd.py).

Both engines synthesize the same deterministic scenario from the
customer table, so every merge outcome class is exercised:

- pre-existing closed history rows  (custkey % 11 == 0)  → pass through
- changed attributes                (custkey % 7 == 0)   → close + reopen
- deleted keys                      (custkey % 13 == 0)  → close
- brand-new keys                    (custkey % 17 == 0, shifted id)
- everything else                   → unchanged open row
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.operators.scd import scd2_merge
from cqdg_etl_spark.queries.registry import load, query

_TS = "2024-06-01"


def _current(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    open_rows = cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("2020-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    closed_rows = cust.filter(F.col("c_custkey") % 11 == 0).select(
        "c_custkey",
        F.lit("OLDSEG").alias("c_mktsegment"),
        "c_acctbal",
        F.lit("2019-01-01").alias("valid_from"),
        F.lit("2020-01-01").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    return open_rows.unionByName(closed_rows)


def _snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    kept = cust.filter(F.col("c_custkey") % 13 != 0).select(
        "c_custkey",
        "c_mktsegment",
        F.when(
            F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0
        )
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    new = cust.filter(F.col("c_custkey") % 17 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit("NEWSEG").alias("c_mktsegment"),
        F.lit(1.0).alias("c_acctbal"),
    )
    return kept.unionByName(new)


@query(
    "etl_scd2_customer_merge",
    tags=("etl", "scd", "join"),
    oracle=f"""
        WITH cur_open AS (
          SELECT c_custkey, c_mktsegment, c_acctbal,
                 '2020-01-01' AS valid_from FROM customer
        ), snap AS (
          SELECT c_custkey, c_mktsegment,
                 CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                      ELSE c_acctbal END AS c_acctbal
          FROM customer WHERE c_custkey % 13 <> 0
          UNION ALL
          SELECT c_custkey + 1000000, 'NEWSEG', 1.0
          FROM customer WHERE c_custkey % 17 = 0
        )
        -- closed history passes through
        SELECT c_custkey, 'OLDSEG' AS c_mktsegment, c_acctbal,
               '2019-01-01' AS valid_from, '2020-01-01' AS valid_to,
               FALSE AS is_current
        FROM customer WHERE c_custkey % 11 = 0
        UNION ALL
        -- unchanged open rows
        SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
               c.valid_from, NULL, TRUE
        FROM cur_open c JOIN snap s ON c.c_custkey = s.c_custkey
        WHERE c.c_mktsegment IS NOT DISTINCT FROM s.c_mktsegment
          AND c.c_acctbal IS NOT DISTINCT FROM s.c_acctbal
        UNION ALL
        -- changed: close the old version...
        SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
               c.valid_from, '{_TS}', FALSE
        FROM cur_open c JOIN snap s ON c.c_custkey = s.c_custkey
        WHERE c.c_mktsegment IS DISTINCT FROM s.c_mktsegment
           OR c.c_acctbal IS DISTINCT FROM s.c_acctbal
        UNION ALL
        -- ...and open the new one
        SELECT s.c_custkey, s.c_mktsegment, s.c_acctbal,
               '{_TS}', NULL, TRUE
        FROM cur_open c JOIN snap s ON c.c_custkey = s.c_custkey
        WHERE c.c_mktsegment IS DISTINCT FROM s.c_mktsegment
           OR c.c_acctbal IS DISTINCT FROM s.c_acctbal
        UNION ALL
        -- deleted keys close
        SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
               c.valid_from, '{_TS}', FALSE
        FROM cur_open c ANTI JOIN snap s ON c.c_custkey = s.c_custkey
        UNION ALL
        -- new keys open
        SELECT s.c_custkey, s.c_mktsegment, s.c_acctbal,
               '{_TS}', NULL, TRUE
        FROM snap s ANTI JOIN cur_open c ON c.c_custkey = s.c_custkey
    """,
)
def etl_scd2_customer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 snapshot merge over customer: one full-outer join on the
    key + per-key explode of outcome rows (operators/scd.py); closed
    history never enters the join. The oracle states the same
    semantics as 6 UNION ALL branches."""
    return scd2_merge(
        _current(spark, sf_dir),
        _snapshot(spark, sf_dir),
        key="c_custkey",
        tracked=["c_mktsegment", "c_acctbal"],
        snapshot_ts=_TS,
    )
