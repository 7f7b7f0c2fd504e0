"""TPC-H Q2/Q9/Q11/Q16/Q20 shapes on the harness schema.

The harness has no ``partsupp`` table, so these five queries — the last
of the 22 — use the distinct ``(l_partkey, l_suppkey)`` pairs observed
in ``lineitem`` as the part↔supplier catalog and keep each query's
*operator shape*, which is what the engine must execute well:

- Q2:  per-group min join-back through a 4-dim snowflake (region →
  nation → supplier), answered with a single fact scan via a window
  min instead of a decorrelated re-scan;
- Q9:  6-way join with a compound profit expression aggregated by
  (nation, year) — unbounded groups → two-phase exact money;
- Q11: group-share-of-global-total HAVING threshold, global scalar via
  an empty-frame window over the post-aggregate view (single scan);
- Q16: distinct-pair projection + anti-join supplier blacklist +
  countDistinct per 3-part key;
- Q20: nested semi-join chain driven by a conditional (single-pass)
  per-(supplier, part) aggregate threshold.

Reference parity note: the reference ETL (cqdg-etl) has no TPC-H
workload; these are engine-capability queries graded against DuckDB
oracles per the driver contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cqdg_etl_spark.functions.money import micro_agg
from cqdg_etl_spark.queries.registry import load, query


@query(
    "q2_min_cost_supplier",
    tags=("tpch", "join", "window"),
    oracle="""
        WITH offers AS (
          SELECT p_partkey, p_brand, s_suppkey, s_name, n_name,
                 min(l_extendedprice / l_quantity) AS unit_price
          FROM lineitem
          JOIN part     ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation   ON n_nationkey = s_nationkey
          JOIN region   ON r_regionkey = n_regionkey
          WHERE r_name = 'EUROPE' AND p_size = 15 AND p_type = 'ECONOMY'
          GROUP BY p_partkey, p_brand, s_suppkey, s_name, n_name
        )
        SELECT p_partkey, p_brand, s_suppkey, s_name, n_name,
               CAST(round(unit_price, 4) AS DOUBLE) AS best_unit_price
        FROM offers
        WHERE unit_price = (SELECT min(o2.unit_price) FROM offers o2
                            WHERE o2.p_partkey = offers.p_partkey)
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest regional supplier per part.

    The classic formulation re-scans partsupp in a correlated min
    subquery; here the per-part min is a window over the already
    aggregated offers view (#distinct (part, supplier) rows, tiny vs
    the fact), so lineitem is scanned exactly once. Dims broadcast;
    the only shuffle of the fact is the offers groupBy, and the window
    repartitions just the aggregated view. min() over IEEE doubles is
    order-independent, so the filter boundary is engine-portable.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    part = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_size") == 15) & (F.col("p_type") == "ECONOMY"))
        .select("p_partkey", "p_brand")
    )
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    offers = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("p_partkey", "p_brand", "s_suppkey", "s_name", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    best = F.min("unit_price").over(Window.partitionBy("p_partkey"))
    return (
        offers.withColumn("_best", best)
        .filter(F.col("unit_price") == F.col("_best"))
        .select(
            "p_partkey",
            "p_brand",
            "s_suppkey",
            "s_name",
            "n_name",
            F.round("unit_price", 4).cast("double").alias("best_unit_price"),
        )
    )


@query(
    "q9_profit_by_nation_year",
    tags=("tpch", "join", "agg"),
    oracle="""
        SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   - 0.4 * p_retailprice * l_quantity
                              AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, o_year
    """,
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-type profit by nation and year.

    ``0.4 * p_retailprice`` stands in for ps_supplycost (no partsupp in
    the harness schema). 6-way join: part/supplier/nation broadcast,
    orders↔lineitem is the one real shuffle (both hash on orderkey).
    (nation, year) groups are unbounded at 100 TB → two-phase exact
    money (long partials per input split, decimal merge).
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    part = (
        load(spark, sf_dir, "part")
        # '%red%' (TPC-H uses '%green%') — the harness part generator's
        # color vocabulary includes red but not green; green made the
        # check vacuous (0 rows both sides, CORRECTNESS_r01).
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.4 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return micro_agg(
        joined,
        ["n_name", F.year("o_orderdate").cast("int").alias("o_year")],
        sums={"sum_profit": profit},
    )


@query(
    "q11_important_part_value",
    tags=("tpch", "agg", "window"),
    oracle="""
        WITH val AS (
          SELECT l_partkey,
                 sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                   AS part_value
          FROM lineitem
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation   ON n_nationkey = s_nationkey
          WHERE n_name = 'NATION_7'
          GROUP BY l_partkey
        )
        SELECT l_partkey,
               CAST(round(part_value, 2) AS DOUBLE) AS part_value
        FROM val
        WHERE part_value > (SELECT sum(part_value) * 0.001 FROM val)
    """,
)
def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value within one nation
    exceeds a fraction of that nation's global total.

    The global total comes from a 1-row scalar aggregate over the
    PERSISTED per-part view, broadcast-crossed back onto it — never an
    empty-partition window: at 100 TB the part dimension is billions
    of rows, and a global window would sort all of them on one task
    (the r4 plan-lint rule). The persist keeps the fact scanned and
    shuffled once (exchange reuse does not fire across the broadcast
    boundary, measured in r1); partial aggregation means the scalar's
    single-partition exchange carries O(#partitions) rows. The
    threshold compares *exact* decimal unit sums on both sides (0.001
    is an exact decimal literal), so the HAVING boundary cannot flip
    on summation order.
    """
    from pyspark import StorageLevel

    nation = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    from cqdg_etl_spark.functions.money import _long_units, _units_to_decimal

    p1 = (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(F.spark_partition_id().alias("_pid"), "l_partkey")
        .agg(
            F.sum(
                _long_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("_u")
        )
    )
    val = p1.groupBy("l_partkey").agg(
        F.sum(F.col("_u").cast("decimal(28,0)")).alias("units")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    total = F.broadcast(val.agg(F.sum("units").alias("_total")))
    threshold = F.col("_total") * F.lit("0.001").cast("decimal(4,3)")
    return (
        val.crossJoin(total)
        .withColumn("_thr", threshold)
        .filter(F.col("units").cast("decimal(38,3)") > F.col("_thr"))
        .select(
            "l_partkey",
            F.round(_units_to_decimal(F.col("units")), 2)
            .cast("double")
            .alias("part_value"),
        )
    )


@query(
    "q16_supplier_part_variety",
    tags=("tpch", "join", "semi-anti", "agg"),
    oracle="""
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) links
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#5'
          AND p_type NOT IN ('PROMO', 'ECONOMY')
          AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many suppliers can supply each qualifying
    (brand, type, size) — negative-balance suppliers excluded (stand-in
    for the "complaints" NOT IN of the classic query).

    The distinct (partkey, suppkey) projection collapses the fact
    before any join (at sf1000 lineitem has ~6e9 rows but only ~3e7
    catalog pairs); the blacklist is a broadcast left-anti join, the
    part filter a broadcast inner join, and the final countDistinct
    hashes on the 3-part key only.
    """
    links = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad_supp = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").isin("PROMO", "ECONOMY"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    return (
        links.join(
            F.broadcast(bad_supp),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q20_heavy_shippers",
    tags=("tpch", "join", "semi-anti", "agg"),
    oracle="""
        SELECT s_suppkey, s_name
        FROM supplier
        JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_3'
          AND s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
            GROUP BY l_suppkey, l_partkey
            HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                             AND l_shipdate <  TIMESTAMP '1997-01-01'
                            THEN l_quantity ELSE 0 END)
                   > 0.5 * sum(l_quantity))
    """,
)
def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who shipped the
    majority of some 'small%' part's all-time volume inside 1996
    (stand-in for the availqty > half-year-shipments threshold).

    The classic plan needs two correlated scans (year window + total);
    here one conditional aggregate computes both sums in a single pass
    over lineitem, grouped by (suppkey, partkey). The part name filter
    is a broadcast semi-join *before* the aggregate (prunes the shuffle),
    and suppliers resolve via a final left-semi — no row explosion at
    any stage. l_quantity sums are exact in double (small integers), so
    the majority threshold is engine-portable.
    """
    part = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_partkey", "l_quantity", "l_shipdate")
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"), "left_semi")
    )
    in_96 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")
    )
    heavy = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(in_96, F.col("l_quantity")).otherwise(F.lit(0.0))).alias("q96"),
            F.sum("l_quantity").alias("qall"),
        )
        .filter(F.col("q96") > 0.5 * F.col("qall"))
        .select("l_suppkey")
    )
    nation = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(heavy, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )
