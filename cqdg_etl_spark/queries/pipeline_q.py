"""Pipeline-level headline query: multi-stage nested-document build.

The reference engine's end product is a denormalized document index
(study -> donors[] -> files[], ProcessETL.scala:82-120): per-child
aggregates joined up a parent chain, nested with
groupBy+collect_list(struct), enriched with dimension joins. This query
reproduces that *shape* on the harness star schema at bench scale —
lineitem -> per-order revenue -> per-customer document -> nation/region
enrichment — so the bench tracks the pipeline pattern, not just single
operators.

Scale shape (each stage, 100 TB reasoning):
- stage 1 per-order aggregate: bounded groups (<= 7 lines/order), long
  micro-unit accumulation (functions/money.py), partial agg map-side;
- stage 2 orders join: per_order is already hash-partitioned by the
  join key from its groupBy, so only the orders side shuffles
  (exchange reuse, no re-shuffle of the aggregated side);
- stage 3 per-customer nest: bounded fan-in (orders per customer),
  exact long totals — never sums rounded doubles (order-dependent);
- stage 4 dimension enrichment: nation x region broadcast; the
  customer <-> per_cust join shuffles both sides on custkey (neither
  is broadcastable at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.functions.money import _long_units, _units_to_decimal
from cqdg_etl_spark.queries.ops import _arr_str
from cqdg_etl_spark.queries.registry import load, query


# Fixture stage dir, created once per process and removed at exit —
# every invocation used to mkdtemp a fresh copy, so repeated driver /
# bench runs accumulated temp dirs for the life of the machine.
_E2E_STAGE: str | None = None


def _staged_fixtures() -> str:
    global _E2E_STAGE
    if _E2E_STAGE is None:
        import atexit
        import shutil
        import tempfile

        from cqdg_etl_spark.pipeline.fixtures import (
            write_clinical_fixtures,
            write_dictionary,
            write_ontology_fixtures,
        )

        root = tempfile.mkdtemp(prefix="cqdg_e2e_")
        write_clinical_fixtures(f"{root}/raw")
        write_ontology_fixtures(f"{root}/ontology")
        write_dictionary(f"{root}/dictionary.json")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _E2E_STAGE = root
    return _E2E_STAGE


def _clinical_e2e_frames(spark: SparkSession):
    """Run the full reference pipeline (pre-process → process) on the
    package's deterministic clinical fixtures in a temp dir, returning
    the three index DataFrames (reference: PreProcessETL.scala:24-92 +
    ProcessETL.scala:62-130)."""
    from cqdg_etl_spark.pipeline.clients import (
        DeterministicIdResolver,
        FixtureDictionary,
        RecordingKeycloak,
    )
    from cqdg_etl_spark.pipeline.etl import ProcessETL
    from cqdg_etl_spark.pipeline.preprocess import PreProcessETL

    root = _staged_fixtures()
    PreProcessETL(
        spark,
        FixtureDictionary(f"{root}/dictionary.json"),
        DeterministicIdResolver(),
        f"{root}/raw",
        f"{root}/with-ids",
    ).run()
    etl = ProcessETL(
        spark,
        f"{root}/with-ids",
        f"{root}/ontology",
        f"{root}/indexes",
        keycloak=RecordingKeycloak(enabled=False),
    )
    entities, ontologies = etl.extract()
    return etl.transform(entities, ontologies)


@query(
    "pipe_clinical_e2e",
    tags=("pipeline", "e2e", "clinical"),
    oracle="""
        SELECT * FROM (VALUES
          ('studies', 'ST01', 'HC', 2),
          ('studies', 'ST02', 'GC', 1),
          ('donors', 'PT01', 'Male', 2),
          ('donors', 'PT02', 'no-data', 0),
          ('donors', 'PT03', 'Female', 1),
          ('files', 'file_882f0898e11e10d1', 'SNV', 1),
          ('files', 'file_c65400bf81a8e85c', 'no-data', 1),
          ('files', 'file_75a6995ee0a050cc', 'SNV', 1)
        ) t(index_name, doc_key, label, n_nested)
    """,
)
def pipe_clinical_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end clinical pipeline through the driver: TSV+JSON raw →
    dictionary-validated, id-stamped parquet → the three nested index
    documents, flattened to one row per document with a per-index
    nesting count. The oracle is the hand-derived golden for the
    deterministic fixture (2 studies / 3 donors / 3 files) — any drift
    anywhere in the 13-entity chain (schema gate, id hashing, ontology
    enrichment, nesting, no-data defaulting) flips a row. ``sf_dir`` is
    unused: the clinical entities are not part of the harness star
    schema, so the query carries its own fixture (same content the
    golden pytest suite locks field-by-field)."""
    studies, donors, files = _clinical_e2e_frames(spark)
    s = studies.select(
        F.lit("studies").alias("index_name"),
        F.col("study_id").alias("doc_key"),
        F.col("short_name").alias("label"),
        F.size("donors").cast("int").alias("n_nested"),
    )
    d = donors.select(
        F.lit("donors").alias("index_name"),
        F.col("submitter_donor_id").alias("doc_key"),
        F.coalesce(F.col("gender"), F.lit("no-data")).alias("label"),
        # a donor with no files carries a NULL files array (left join),
        # not an empty one — count that as 0 nested docs
        F.coalesce(F.size("files"), F.lit(0)).cast("int").alias("n_nested"),
    )
    f = files.select(
        F.lit("files").alias("index_name"),
        F.col("internal_file_id").alias("doc_key"),
        F.col("file_variant_class").alias("label"),
        F.size("biospecimen").cast("int").alias("n_nested"),
    )
    return s.unionByName(d).unionByName(f)


@query(
    "pipe_customer_document",
    tags=("pipeline", "nest", "join", "agg"),
    oracle="""
        WITH order_rev AS (
          SELECT o_orderkey, o_custkey,
                 sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev
          FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY o_orderkey, o_custkey
        ), per_cust AS (
          SELECT o_custkey AS custkey,
                 array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
                 count(*) AS n_orders,
                 CAST(round(sum(rev), 2) AS DOUBLE) AS total_spend,
                 CAST(round(max(rev), 2) AS DOUBLE) AS top_order_revenue
          FROM order_rev GROUP BY o_custkey
        )
        SELECT c_custkey, c_name, n_name AS nation, r_name AS region,
               coalesce(n_orders, 0) AS n_orders,
               coalesce(total_spend, 0.0) AS total_spend,
               coalesce(top_order_revenue, 0.0) AS top_order_revenue,
               coalesce(order_keys, '') AS order_keys
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        LEFT JOIN per_cust ON custkey = c_custkey
    """,
)
def pipe_customer_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-stage customer-360 document (the clinical donor-index shape on
    TPC-H tables). Money stays in long micro-units across stages —
    summing the per-order *rounded* doubles would be summation-order
    dependent and flip the oracle hash."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        _long_units(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "units"
        ),
    )
    per_order = li.groupBy("l_orderkey").agg(F.sum("units").alias("rev_units"))
    orders_rev = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(per_order, F.col("l_orderkey") == F.col("o_orderkey"), "left")
    )

    def money(c: F.Column) -> F.Column:
        return F.round(_units_to_decimal(c), 2).cast("double")

    per_cust = orders_rev.groupBy("o_custkey").agg(
        _arr_str(F.collect_list("o_orderkey")).alias("order_keys"),
        F.count("*").alias("n_orders"),
        money(F.sum("rev_units")).alias("total_spend"),
        money(F.max("rev_units")).alias("top_order_revenue"),
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    region = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(per_cust, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("total_spend", F.lit(0.0)).alias("total_spend"),
            F.coalesce("top_order_revenue", F.lit(0.0)).alias("top_order_revenue"),
            F.coalesce("order_keys", F.lit("")).alias("order_keys"),
        )
    )
