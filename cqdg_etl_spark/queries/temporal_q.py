"""Temporal-join queries: as-of and range joins over the events table.

Operators Spark lacks as built-ins, expressed as scalable DataFrame
compositions (operators/temporal.py) and oracle-checked against
DuckDB's native ASOF JOIN / inequality join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.operators.temporal import asof_join, range_join
from cqdg_etl_spark.queries.registry import load, query


@query(
    "ev_asof_purchase_view",
    tags=("events", "asof", "window"),
    oracle="""
        WITH v AS (
          SELECT user_id, ts, CAST(max(event_id) AS BIGINT) AS view_id
          FROM events WHERE event_type = 'view' GROUP BY user_id, ts
        ), p AS (
          SELECT user_id, ts, event_id AS purchase_id
          FROM events WHERE event_type = 'purchase'
        )
        SELECT p.user_id, purchase_id, view_id,
               CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
        FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def ev_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent view
    at-or-before it. One shuffle on user_id (union + window carry),
    no join operator in the plan. Timestamp ties resolve to the max
    event_id inside the same window pass (matches the oracle's
    max(event_id) dedup CTE without a second exchange)."""
    ev = load(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    matched = asof_join(
        purchases,
        views,
        on=["user_id"],
        ts_col="ts",
        right_payload=["view_id", "view_ts"],
        how="inner",
        suffix="",
        right_tiebreak="view_id",
    )
    return matched.select(
        "user_id",
        "purchase_id",
        "view_id",
        (F.unix_micros("ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


@query(
    "ev_range_error_near_signup",
    tags=("events", "range-join"),
    oracle="""
        SELECT e.event_id AS error_id, s.event_id AS signup_id,
               CAST(epoch_us(e.ts) - epoch_us(s.ts) AS BIGINT) AS gap_us
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        JOIN (SELECT * FROM events WHERE event_type = 'signup') s
          ON abs(epoch_us(e.ts) - epoch_us(s.ts)) <= 60000000
    """,
)
def ev_range_error_near_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join with NO equi key — the case Spark would plan as a
    BroadcastNestedLoopJoin (O(|L|x|R|)). Band-bucketing turns it into
    a hash join on the band id (asserted in tests/test_plans.py)."""
    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts")
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), F.col("ts").alias("signup_ts")
    )
    pairs = range_join(
        errors, signups, "error_ts", "signup_ts", tolerance_us=60_000_000
    )
    return pairs.select(
        "error_id",
        "signup_id",
        (F.unix_micros("error_ts") - F.unix_micros("signup_ts")).alias("gap_us"),
    )
