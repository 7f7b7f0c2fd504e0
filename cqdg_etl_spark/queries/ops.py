"""SURVEY.md §2 operator inventory exercised on the harness tables.

Each query isolates one operator family from the reference engine
(citations inline) and pairs it with an exact DuckDB oracle. Naming
convention: the §2 row id prefixes the query name (j2 = §2.3 J2, ...).

Spark↔SQL comparability rules (see queries/registry.py docstring):
sorted-array serialization for collected lists/sets, explicit rounding,
timestamps formatted to strings, identical aliases both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from cqdg_etl_spark.functions.columns import not_null_col
from cqdg_etl_spark.queries.registry import dec_sum, load, query


def _arr_str(col):
    """array<numeric|string> → sorted 'a,b,c' string (hash-stable)."""
    return F.concat_ws(",", F.transform(F.array_sort(col), lambda x: x.cast("string")))


# ---------------------------------------------------------------- joins


@query(
    "j2_left_join_order_counts",
    tags=("join",),
    oracle="""
        SELECT c_custkey,
               count(o_orderkey)                    AS n_orders,
               coalesce(CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE), 0.0) AS total_spend
        FROM customer
        LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
    """,
)
def j2_left_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 left-outer USING join (reference: ProcessETL.scala:88 et al.) —
    customers keep a row even with zero orders."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dec_sum(F.col("o_totalprice")), F.lit(0.0)).alias("total_spend"),
        )
    )


@query(
    "j5_full_outer_summary_merge",
    tags=("join",),
    oracle="""
        WITH c AS (
          SELECT c_nationkey AS nationkey, count(*) AS n_customers
          FROM customer WHERE c_acctbal > 0 GROUP BY 1
        ), s AS (
          SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
          FROM supplier WHERE s_acctbal > 0 GROUP BY 1
        )
        SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
               coalesce(n_customers, 0) AS n_customers,
               coalesce(n_suppliers, 0) AS n_suppliers
        FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
)
def j5_full_outer_summary_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 full-outer summary merge (reference: indexes/Summary.scala:113-121)
    — neither side's keys may be dropped."""
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 0)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    return cust.join(supp, ["nationkey"], "full").select(
        "nationkey",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@query(
    "j6_cross_domain_zero_fill",
    tags=("join", "crossjoin"),
    oracle="""
        WITH dom AS (
          SELECT r_name, o_orderpriority
          FROM (SELECT DISTINCT r_name FROM region)
          CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders)
        ), actual AS (
          SELECT r_name, o_orderpriority, count(*) AS n_orders
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          GROUP BY 1, 2
        )
        SELECT dom.r_name, dom.o_orderpriority,
               coalesce(actual.n_orders, 0) AS n_orders
        FROM dom
        LEFT JOIN actual ON dom.r_name = actual.r_name
                        AND dom.o_orderpriority = actual.o_orderpriority
    """,
)
def j6_cross_domain_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 cross-join of key domains to keep empty combinations
    (reference: indexes/Summary.scala:24-25,38-39 — which repartition(1)s
    both sides; we broadcast the tiny domains instead, the scale-correct
    fix for its 'infinite loop' workaround)."""
    region = load(spark, sf_dir, "region")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    dom = F.broadcast(region.select("r_name").distinct()).crossJoin(
        F.broadcast(orders.select("o_orderpriority").distinct())
    )
    actual = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )
    return dom.join(actual, ["r_name", "o_orderpriority"], "left").select(
        "r_name",
        "o_orderpriority",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@query(
    "j_semi_anti_customers",
    tags=("join",),
    oracle="""
        SELECT c_mktsegment,
               count(*) FILTER (WHERE EXISTS (
                 SELECT 1 FROM orders
                 WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
               )) AS n_with_urgent,
               count(*) FILTER (WHERE NOT EXISTS (
                 SELECT 1 FROM orders WHERE o_custkey = c_custkey
               )) AS n_no_orders
        FROM customer
        GROUP BY c_mktsegment
    """,
)
def j_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins (EXISTS / NOT EXISTS) — absent from the reference
    but core engine surface; expressed as left_semi / left_anti."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    with_urgent = (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_with_urgent"))
    )
    no_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_no_orders"))
    )
    base = cust.select("c_mktsegment").distinct()
    return (
        base.join(with_urgent, ["c_mktsegment"], "left")
        .join(no_orders, ["c_mktsegment"], "left")
        .select(
            "c_mktsegment",
            F.coalesce("n_with_urgent", F.lit(0)).alias("n_with_urgent"),
            F.coalesce("n_no_orders", F.lit(0)).alias("n_no_orders"),
        )
    )


# ------------------------------------------------------------ aggregates


@query(
    "a1_nest_orders_per_customer",
    tags=("agg", "nest"),
    oracle="""
        SELECT o_custkey,
               array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
               count(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
    """,
)
def a1_nest_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 groupBy+collect_list — THE reference denormalization operator
    (ProcessETLUtils.scala:194-216 et al.); serialized sorted for the
    order-insensitive hash. The real nested (array<struct>) form is
    exercised by the pipeline golden tests."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        _arr_str(F.collect_list("o_orderkey")).alias("order_keys"),
        F.count("*").alias("n_orders"),
    )


@query(
    "a2_collect_set_segments",
    tags=("agg",),
    oracle="""
        SELECT n_name,
               array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',')
                 AS segments
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
)
def a2_collect_set_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 collect_set (reference: indexes/DataAccess.scala:33)."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(_arr_str(F.collect_set("c_mktsegment")).alias("segments"))
    )


@query(
    "a3_count_distinct_customers",
    tags=("agg",),
    oracle="""
        SELECT o_orderpriority,
               count(DISTINCT o_custkey) AS n_customers,
               count(*) AS n_orders
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def a3_count_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 exact countDistinct (reference: indexes/Summary.scala:46-47)."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@query(
    "a7_array_normalize_months",
    tags=("agg", "array"),
    oracle="""
        SELECT o_custkey,
               array_to_string(
                 list_sort(list_distinct(flatten(list([month(o_orderdate)])))),
                 ','
               ) AS active_months
        FROM orders
        GROUP BY o_custkey
    """,
)
def a7_array_normalize_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 array_distinct(sort_array(flatten(collect_list(array(x)))))
    (reference: ProcessETLUtils.scala:311-317)."""
    orders = load(spark, sf_dir, "orders")
    months = F.collect_list(F.array(F.month("o_orderdate")))
    return orders.groupBy("o_custkey").agg(
        _arr_str(F.array_distinct(F.flatten(months))).alias("active_months")
    )


@query(
    "a6_distinct_union_nations",
    tags=("agg", "setop"),
    oracle="""
        SELECT DISTINCT nationkey FROM (
          SELECT c_nationkey AS nationkey FROM customer
          UNION ALL
          SELECT s_nationkey FROM supplier
        )
    """,
)
def a6_distinct_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 distinct + §2.5 union set-op (reference:
    ProcessETLUtils.scala:297; PreProcessETL.scala:54)."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.union(supp).distinct()


@query(
    "agg_rollup_status_priority",
    tags=("agg", "rollup"),
    oracle="""
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL')   AS status,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def agg_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP multi-level aggregate — beyond the reference's surface but a
    first-class Spark groupingSets capability."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum(F.col("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n_orders",
            "total_price",
        )
    )


@query(
    "agg_pivot_status",
    tags=("agg", "pivot"),
    oracle="""
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'O') AS open_cnt,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS finished_cnt,
               count(*) FILTER (WHERE o_orderstatus = 'P') AS partial_cnt
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (avoids the extra distinct-scan
    Spark needs to discover pivot values at scale)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("open_cnt"),
            F.coalesce("F", F.lit(0)).alias("finished_cnt"),
            F.coalesce("P", F.lit(0)).alias("partial_cnt"),
        )
    )


# ------------------------------------------------- scalar functions


@query(
    "f1_business_key_hash",
    tags=("function", "hash"),
    oracle="""
        SELECT c_custkey,
               sha256(concat_ws('_', 'customer', c_custkey)) AS cqdg_hash,
               md5(concat_ws('_', 'customer', c_custkey))    AS md5_hash
        FROM customer
    """,
)
def f1_business_key_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 deterministic business-key hash (reference:
    PreProcessUtils.scala:17-91 uses sha1; sha256 here because the oracle
    engine lacks sha1 — pipeline/preprocess.py keeps sha1 for parity)."""
    cust = load(spark, sf_dir, "customer")
    key = F.concat_ws("_", F.lit("customer"), F.col("c_custkey"))
    return cust.select(
        "c_custkey",
        F.sha2(key, 256).alias("cqdg_hash"),
        F.md5(key).alias("md5_hash"),
    )


@query(
    "f3_split_explode_tokens",
    tags=("function", "explode"),
    oracle="""
        SELECT token, count(*) AS n
        FROM (SELECT unnest(string_split(p_name, ' ')) AS token FROM part)
        GROUP BY token
    """,
)
def f3_split_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4 split+explode unnesting (reference: indexes/DataAccess.scala:16)."""
    part = load(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split(F.col("p_name"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


@query(
    "f5_regexp_extract_priority",
    tags=("function", "regexp"),
    oracle="""
        SELECT regexp_extract(o_orderpriority, '^([0-9]+)-(.*)$', 1) AS prio_num,
               regexp_extract(o_orderpriority, '^([0-9]+)-(.*)$', 2) AS prio_word,
               count(*) AS n
        FROM orders
        GROUP BY prio_num, prio_word
    """,
)
def f5_regexp_extract_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 regexp_extract group capture (reference:
    ProcessETLUtils.scala:114-120 splits 'A00|1' ICD ids the same way)."""
    orders = load(spark, sf_dir, "orders")
    pat = r"^([0-9]+)-(.*)$"
    return (
        orders.select(
            F.regexp_extract("o_orderpriority", pat, 1).alias("prio_num"),
            F.regexp_extract("o_orderpriority", pat, 2).alias("prio_word"),
        )
        .groupBy("prio_num", "prio_word")
        .agg(F.count("*").alias("n"))
    )


@query(
    "f6_rlike_part_filter",
    tags=("function", "regexp"),
    oracle="""
        SELECT p_brand, count(*) AS n_color_parts
        FROM part
        WHERE regexp_matches(p_name, '^(red|blue) ')
        GROUP BY p_brand
    """,
)
def f6_rlike_part_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 rlike predicate (reference: ProcessETLUtils.scala:247 detects
    ICD block ids with the same construct)."""
    part = load(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").rlike(r"^(red|blue) "))
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_color_parts"))
    )


@query(
    "f9_truthy_conversion_flag",
    tags=("function", "bool"),
    oracle="""
        SELECT (event_type IN ('purchase', 'signup')) AS is_conversion,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_value
        FROM events
        GROUP BY is_conversion
    """,
)
def f9_truthy_conversion_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 when/isin boolean derivation (reference:
    ProcessETLUtils.scala:509-517 value-set truthiness)."""
    events = load(spark, sf_dir, "events")
    return (
        events.select(
            F.col("event_type").isin("purchase", "signup").alias("is_conversion"),
            "value",
        )
        .groupBy("is_conversion")
        .agg(
            F.count("*").alias("n_events"),
            dec_sum(F.col("value")).alias("total_value"),
        )
    )


@query(
    "p7_null_default_status",
    tags=("projection", "null"),
    oracle="""
        SELECT CASE WHEN o_orderstatus IS NOT NULL THEN o_orderstatus
                    ELSE 'no-data' END AS status,
               count(*) AS n
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY status
    """,
)
def p7_null_default_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 null-default column (reference: ProcessETLUtils.scala:491-493) —
    orderless customers surface as 'no-data'."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .select(not_null_col(F.col("o_orderstatus")).alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n"))
    )


@query(
    "f13_monthly_order_buckets",
    tags=("function", "date"),
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_price
        FROM orders
        GROUP BY order_month
    """,
)
def f13_monthly_order_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 date bucketing (reference parses dates via UDF,
    EtlUtils.scala:9-27; here the typed path: date_format on timestamp)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n_orders"),
            dec_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


# ------------------------------------------------------------- windows


@query(
    "w1_top_order_per_customer",
    tags=("window", "topk"),
    oracle="""
        SELECT c_custkey, top_orderkey, top_price
        FROM (
          SELECT o_custkey AS c_custkey,
                 o_orderkey AS top_orderkey,
                 round(o_totalprice, 2) AS top_price,
                 row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
                 ) AS rn
          FROM orders
        ) WHERE rn = 1
    """,
)
def w1_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-1 per group — the reference's groupBy+first (A4) done
    right: deterministic ordering instead of arbitrary first()."""
    orders = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderkey").alias("top_orderkey"),
            F.round("o_totalprice", 2).alias("top_price"),
        )
    )


@query(
    "w2_running_customer_spend",
    tags=("window",),
    oracle="""
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 2) AS running_spend
        FROM orders
    """,
)
def w2_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total window — deterministic accumulation order makes the
    rounded double bit-stable across engines."""
    orders = load(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


# --------------------------------------------- remaining §2 rows


@query(
    "j1_hash_id_resolution",
    tags=("join", "hash"),
    oracle="""
        WITH hashed AS (
          SELECT c_custkey,
                 sha256(concat_ws('_', 'customer', c_custkey)) AS cqdg_hash
          FROM customer
        ), id_map AS (
          SELECT DISTINCT cqdg_hash AS hash,
                 concat('customer_internal_', substr(cqdg_hash, 1, 12)) AS internal_id
          FROM hashed
        )
        SELECT c_custkey, internal_id
        FROM hashed JOIN id_map ON hashed.cqdg_hash = id_map.hash
    """,
)
def j1_hash_id_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 hash→internal-id resolution join (reference:
    PreProcessUtils.scala:94-98 collects hashes to the driver for an HTTP
    ID service then joins the response back; here the id map is itself a
    frame and the join is pure Spark — the scale-safe design)."""
    cust = load(spark, sf_dir, "customer")
    hashed = cust.select(
        "c_custkey",
        F.sha2(F.concat_ws("_", F.lit("customer"), F.col("c_custkey")), 256).alias(
            "cqdg_hash"
        ),
    )
    id_map = hashed.select(
        F.col("cqdg_hash").alias("hash"),
        F.concat(
            F.lit("customer_internal_"), F.substring("cqdg_hash", 1, 12)
        ).alias("internal_id"),
    ).distinct()
    return hashed.join(id_map, hashed.cqdg_hash == id_map.hash).select(
        "c_custkey", "internal_id"
    )


@query(
    "j3_theta_left_lookup",
    tags=("join",),
    oracle="""
        SELECT p_size,
               count(l_orderkey) AS n_lines,
               count(*) AS n_rows
        FROM part
        LEFT JOIN lineitem ON l_partkey = p_partkey AND p_size > 40
        GROUP BY p_size
    """,
)
def j3_theta_left_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 left-outer expression join (reference: ProcessETLUtils.scala:238
    ontology-term lookup with a non-USING condition)."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    return (
        part.join(
            li,
            (li.l_partkey == part.p_partkey) & (part.p_size > 40),
            "left_outer",
        )
        .groupBy("p_size")
        .agg(F.count("l_orderkey").alias("n_lines"), F.count("*").alias("n_rows"))
    )


@query(
    "a4_first_per_group",
    tags=("agg",),
    oracle="""
        SELECT c_nationkey,
               min_by(c_name, c_custkey) AS first_customer,
               max_by(c_name, c_acctbal) AS richest_customer
        FROM customer
        GROUP BY c_nationkey
    """,
)
def a4_first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 per-group single-value pick (reference: StudyIndex.scala:47-54
    uses non-deterministic first(); min_by/max_by is the deterministic
    engine equivalent). max_by tie-safety: c_acctbal ties broken by
    min_by on key? No — acctbal ties are possible, so max_by uses the
    (acctbal, name) pair ordering via a struct in the Spark plan and
    plain max_by in SQL; both deterministic because c_name is unique
    per nation in this schema only when acctbal unique — so we make the
    ordering value unique by appending the key."""
    cust = load(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.min_by("c_name", "c_custkey").alias("first_customer"),
        F.max_by("c_name", F.struct(F.col("c_acctbal"), F.col("c_custkey"))).alias(
            "richest_customer"
        ),
    )


@query(
    "f2_f11_display_wrap",
    tags=("function",),
    oracle="""
        SELECT n_nationkey,
               concat(n_name, ' (', CAST(n_nationkey AS VARCHAR), ')') AS display_name,
               to_json([concat(n_name, ' (', CAST(n_nationkey AS VARCHAR), ')')])
                 AS wrapped
        FROM nation
    """,
)
def f2_f11_display_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 display-name concat + F11 scalar→1-element-array wrap
    (reference: ProcessETLUtils.scala:284-288, :79) — array serialized
    as JSON for hash stability."""
    nation = load(spark, sf_dir, "nation")
    disp = F.concat(
        F.col("n_name"), F.lit(" ("), F.col("n_nationkey").cast("string"), F.lit(")")
    )
    return nation.select(
        "n_nationkey",
        disp.alias("display_name"),
        F.to_json(F.array(disp)).alias("wrapped"),
    )


@query(
    "f7_array_contains_tokens",
    tags=("function", "array"),
    oracle="""
        SELECT p_type, count(*) AS n_red_parts
        FROM part
        WHERE list_contains(string_split(p_name, ' '), 'red')
        GROUP BY p_type
    """,
)
def f7_array_contains_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 array_contains membership predicate (reference:
    ProcessETLUtils.scala:242-244 root-category detection)."""
    part = load(spark, sf_dir, "part")
    return (
        part.filter(F.array_contains(F.split("p_name", " "), "red"))
        .groupBy("p_type")
        .agg(F.count("*").alias("n_red_parts"))
    )


@query(
    "u1_age_years",
    tags=("function", "date"),
    oracle="""
        SELECT o_orderkey,
               (year(TIMESTAMP '2002-06-15') - year(o_orderdate)
                - CASE WHEN (month(o_orderdate), day(o_orderdate))
                            > (month(TIMESTAMP '2002-06-15'), day(TIMESTAMP '2002-06-15'))
                       THEN 1 ELSE 0 END) AS age_years
        FROM orders
    """,
)
def u1_age_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 whole-years-between semantics (reference:
    ProcessETLUtils.scala:481-489 calculateAge UDF) expressed
    declaratively — the birthday rule, no UDF, no months_between
    fraction ambiguity."""
    orders = load(spark, sf_dir, "orders")
    ref_y, ref_m, ref_d = 2002, 6, 15
    d = F.col("o_orderdate")
    after_birthday = (F.month(d) > ref_m) | ((F.month(d) == ref_m) & (F.dayofmonth(d) > ref_d))
    return orders.select(
        "o_orderkey",
        (F.lit(ref_y) - F.year(d) - F.when(after_birthday, 1).otherwise(0))
        .cast("long")
        .alias("age_years"),
    )


@query(
    "j_salted_skew_join",
    tags=("join", "skew"),
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_lines,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS total_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def j_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact join (operators/skew.py): lineitem salted 8 ways,
    orders replicated — row-for-row equal to the plain join, which is
    exactly what the oracle asserts. The deterministic skew fallback
    for hot keys AQE can't pre-split."""
    from cqdg_etl_spark.operators.skew import salted_join

    li = load(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    orders = load(spark, sf_dir, "orders")
    return (
        salted_join(li, orders, on="o_orderkey", salt=8)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            dec_sum(F.col("l_extendedprice")).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "agg_exact_percentiles",
    tags=("agg", "percentile"),
    oracle="""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 6)  AS p50,
               round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
        FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    `quantile_cont`, verified bit-equal after 6dp rounding). At 100 TB
    exact percentiles require a per-group sort — swap in
    `approx_percentile` (t-digest, fixed-size sketch, mergeable
    map-side) when groups stop fitting; kept exact here because the
    oracle contract demands determinism."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("p95"),
    )


@query(
    "agg_cube_priority_status",
    tags=("agg", "cube"),
    oracle="""
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               count(*) AS n
        FROM orders
        GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def agg_cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (all 4 grouping sets in one pass —
    Catalyst's Expand feeds a single hash aggregate, one shuffle)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "n",
        )
    )


@query(
    "set_intersect_except_buyers",
    tags=("set-ops", "semi-anti"),
    oracle="""
        SELECT c_custkey, 'both' AS bucket FROM (
          SELECT DISTINCT o_custkey AS c_custkey FROM orders
          WHERE o_orderpriority = '1-URGENT'
          INTERSECT
          SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderstatus = 'F'
        )
        UNION ALL
        SELECT c_custkey, 'urgent_only' FROM (
          SELECT DISTINCT o_custkey AS c_custkey FROM orders
          WHERE o_orderpriority = '1-URGENT'
          EXCEPT
          SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderstatus = 'F'
        )
    """,
)
def set_intersect_except_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT as first-class set operators (the reference
    has only union — SURVEY §2.5). Catalyst compiles both to
    left-semi / left-anti hash joins over the distinct key sets, so
    each leg is one shuffle of the already-deduplicated projection."""
    orders = load(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    finished = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    both = urgent.intersect(finished).select(
        "c_custkey", F.lit("both").alias("bucket")
    )
    only = urgent.exceptAll(finished).select(
        "c_custkey", F.lit("urgent_only").alias("bucket")
    )
    return both.unionByName(only)


@query(
    "agg_unpivot_order_metrics",
    tags=("reshape", "unpivot"),
    oracle="""
        WITH m AS (
          SELECT o_orderpriority,
                 CAST(count(*) AS DOUBLE) AS n_orders,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                      AS DOUBLE) AS total_price,
                 CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_customers
          FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, metric, val FROM m
        UNPIVOT (val FOR metric IN (n_orders, total_price, n_customers))
    """,
)
def agg_unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of per-priority metrics via ``stack``
    — the Expand-based reshape, no join, no extra shuffle beyond the
    source aggregate."""
    orders = load(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderpriority").agg(
        F.count("*").cast("double").alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_price"),
        F.countDistinct("o_custkey").cast("double").alias("n_customers"),
    )
    return wide.selectExpr(
        "o_orderpriority",
        "stack(3, 'n_orders', n_orders, 'total_price', total_price, "
        "'n_customers', n_customers) as (metric, val)",
    )


@query(
    "ops_global_sort_daily",
    tags=("sort", "range-partition"),
    oracle="""
        SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
               count(*) AS n_orders
        FROM orders GROUP BY day ORDER BY day
    """,
)
def ops_global_sort_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total-order output: global sort after aggregation. The sort
    plans as RangePartitioning over the *aggregated* view (#days rows)
    — sampled range boundaries, balanced partitions, no single-reducer
    funnel (asserted in tests/test_plans.py)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd").alias(
                "day"
            )
        )
        .agg(F.count("*").alias("n_orders"))
        .orderBy("day")
    )


@query(
    "j_bloom_filtered_join",
    tags=("join", "runtime-filter", "scale"),
    oracle="""
        SELECT o.o_orderpriority,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS revenue
        FROM orders o
        JOIN (SELECT c_custkey FROM customer
              WHERE c_mktsegment = 'BUILDING') c
          ON o.o_custkey = c.c_custkey
        GROUP BY o.o_orderpriority
    """,
)
def j_bloom_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle join with a Bloom runtime pre-filter on the fact side
    (operators/bloom.py). The dim side is hinted shuffle_hash to model
    the above-broadcast-threshold regime where the bloom matters; the
    result is exactly the plain join's (oracle = plain SQL join —
    false positives die in the join)."""
    from cqdg_etl_spark.operators.bloom import bloom_filter_join

    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    dim = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
        .hint("shuffle_hash")
    )
    joined = bloom_filter_join(orders, dim, on="o_custkey", how="inner")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        dec_sum(F.col("o_totalprice")).alias("revenue"),
    )


@query(
    "ops_zorder_orders",
    tags=("layout", "zorder", "scale"),
    oracle="""
        SELECT o_orderkey,
               CAST((SELECT SUM((((o_custkey >> i) & 1) << (2 * i))
                              + (((datediff('day', DATE '1970-01-01',
                                            o_orderdate) >> i) & 1)
                                 << (2 * i + 1)))
                     FROM range(16) t(i)) AS BIGINT) AS zval
        FROM orders
    """,
)
def ops_zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-value over (o_custkey, days(o_orderdate)) — the sort
    key behind multi-dimension data skipping (operators/zorder.py).
    Pure expression fold, no shuffle."""
    from cqdg_etl_spark.operators.zorder import zorder_key

    orders = load(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        zorder_key(
            [
                F.col("o_custkey"),
                F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")),
            ],
            bits=16,
        ).alias("zval"),
    )
