"""TPC-H-style headline queries over the harness star schema.

These exercise the engine's core relational path end-to-end: parquet scan
with pushdown, multi-way joins (broadcast dims, shuffled facts),
hash aggregation with partial (map-side) combine, and deterministic
top-k. Each has an exact DuckDB oracle.

Plan goals (checked in tests/test_plans.py):
- filters and projections reach the parquet scan (PushedFilters/ReadSchema);
- region/nation/customer/supplier/part join as broadcasts;
- aggregations run as partial+final HashAggregate inside WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.functions.money import micro_agg, micro_sum
from cqdg_etl_spark.queries.registry import dec_avg, dec_sum, load, query


@query(
    "q1_pricing_summary",
    tags=("tpch", "agg"),
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)                                        AS sum_qty,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)                                   AS sum_base_price,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE)                AS sum_disc_price,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE)  AS sum_charge,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(l_quantity), 4)                                        AS avg_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(l_extendedprice), 4)                                   AS avg_price,
               round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(l_discount), 4)                                        AS avg_disc,
               count(*)                                                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: pricing summary report — scan + 8-agg hash aggregate."""
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return micro_agg(
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")),
        ["l_returnflag", "l_linestatus"],
        sums={
            "sum_qty": F.col("l_quantity"),
            "sum_base_price": F.col("l_extendedprice"),
            "sum_disc_price": disc_price,
            "sum_charge": disc_price * (1 + F.col("l_tax")),
        },
        avgs={
            "avg_qty": F.col("l_quantity"),
            "avg_price": F.col("l_extendedprice"),
            "avg_disc": F.col("l_discount"),
        },
        count_star="count_order",
    ).orderBy("l_returnflag", "l_linestatus")


@query(
    "q3_shipping_priority",
    tags=("tpch", "join", "topk"),
    oracle="""
        SELECT o_orderkey,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate,
               o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate  > TIMESTAMP '1998-03-15'
        GROUP BY o_orderkey, orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: unshipped-revenue top-10 — selective 3-way join + top-k."""
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            # bounded group (<= 7 lineitems per order) -> single-phase long
            micro_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("o_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    tags=("tpch", "join"),
    oracle="""
        SELECT n_name,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
        FROM region
        JOIN nation   ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way star join; dims broadcast, facts shuffle once."""
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    joined = (
        F.broadcast(region)
        .join(nation, nation.n_regionkey == region.r_regionkey)
        .join(cust, cust.c_nationkey == nation.n_nationkey)
        .join(orders, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (supp.s_nationkey == cust.c_nationkey),
        )
    )
    # 5 nation groups over the whole fact table -> two-phase micro_agg
    return micro_agg(
        joined,
        ["n_name"],
        sums={"revenue": F.col("l_extendedprice") * (1 - F.col("l_discount"))},
    ).orderBy(F.desc("revenue"), F.asc("n_name"))


@query(
    "q6_forecast_revenue",
    tags=("tpch", "filter"),
    oracle="""
        SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.02 AND 0.07
          AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate; every predicate pushes down."""
    li = load(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.02, 0.07))
        & (F.col("l_quantity") < 24)
    )
    # single global group -> two-phase micro_agg (long partials per split)
    return micro_agg(
        filtered,
        [],
        sums={"revenue": F.col("l_extendedprice") * F.col("l_discount")},
        count_star="n_lines",
    )


@query(
    "q10_returned_items",
    tags=("tpch", "join", "topk"),
    oracle="""
        SELECT c_custkey, c_name,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               round(c_acctbal, 2) AS acctbal,
               n_name
        FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-item revenue."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load(spark, sf_dir, "nation")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            "n_name",
        )
        .agg(
            # bounded group (orders-per-customer in a 6-month window) -> long path
            micro_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )
