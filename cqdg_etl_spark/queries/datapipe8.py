"""Round-3 batch 6: corpus-selection samplers — integer-exact PPS
systematic sampling, token-budget greedy selection over a scalable
global cumsum, and temperature-scaled source mixture weights.

Oracle conventions as per the package: ALL-INTEGER arithmetic where a
selection decision rides on it (PPS pins, budget cumsums), round(·, 6)
(or 9 for tiny per-doc masses) on libm/ratio outputs, total-order
tiebreakers on every global order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.queries.datapipe import SQL_NORM, SQL_TOKS
from cqdg_etl_spark.queries.registry import load, query

# ------------------------------------------ PPS systematic sampling


_PPS_K = 20


@query(
    "ds_pps_systematic_sample",
    tags=("datapipe", "sampling"),
    oracle=f"""
        WITH c AS (
          SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                 sum(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cum,
                 sum(n_chars) OVER (PARTITION BY source) AS t
          FROM documents
        )
        SELECT source, doc_id, n_chars,
               CAST((cum * {_PPS_K}) // t
                    - ((cum - n_chars) * {_PPS_K}) // t AS BIGINT)
                 AS n_pins
        FROM c
        WHERE (cum * {_PPS_K}) // t
              - ((cum - n_chars) * {_PPS_K}) // t > 0
    """,
)
def ds_pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size systematic sample, 20 pins per
    source stratum, weighted by n_chars (operators/sampling.py::
    pps_systematic_sample) — zero randomness, zero libm: selection is
    an all-integer floor-ratio over the running weight sum, so the
    sample is engine-exact and reproducible. One window shuffle per
    stratum."""
    from cqdg_etl_spark.operators.sampling import pps_systematic_sample

    docs = load(spark, sf_dir, "documents")
    return pps_systematic_sample(
        docs, "source", "doc_id", "n_chars", k=_PPS_K
    )


# ------------------------------------- token-budget greedy selection


_BUDGET_FRAC = 0.3


@query(
    "ds_quality_budget_select",
    tags=("datapipe", "sampling", "selection"),
    oracle=f"""
        WITH d AS (
          SELECT doc_id, {SQL_TOKS.format(c='text')} AS tk
          FROM documents WHERE {SQL_NORM.format(c='text')} <> ''
        ),
        g AS (
          SELECT doc_id,
                 CAST(len(tk) AS BIGINT) AS n_toks,
                 CAST(len(list_distinct(tk)) AS DOUBLE)
                   / CAST(len(tk) AS DOUBLE) AS ttr
          FROM d
        ),
        c AS (
          SELECT doc_id, n_toks, ttr,
                 sum(n_toks) OVER (
                   ORDER BY ttr DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cum,
                 sum(n_toks) OVER () AS total
          FROM g
        )
        SELECT doc_id, n_toks, round(ttr, 6) AS ttr,
               CAST(cum AS BIGINT) AS cum_tokens
        FROM c
        WHERE CAST(cum - n_toks AS DOUBLE)
              < {_BUDGET_FRAC} * CAST(total AS DOUBLE)
    """,
)
def ds_quality_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: rank documents by type-token
    ratio (distinct-token fraction — a deterministic quality proxy),
    take greedily until 30% of the corpus token budget is filled. The
    "select the best N tokens" primitive of training-data curation.

    Scale shape: the ranking cumsum is operators/ranking.py::
    global_cumsum — range-repartition + per-partition prefix sums +
    broadcast offsets, NEVER an empty-PARTITION-BY window (which moves
    the corpus to one task); token counts are integers, so the cumsum
    is engine-exact. The corpus token total rides out of the cumsum's
    own per-partition totals action as a literal column (r11 —
    previously a separate ``g.agg(sum)`` + broadcast crossJoin, which
    re-evaluated ``g``'s lineage and RE-TOKENIZED the corpus for one
    scalar)."""
    from cqdg_etl_spark.functions.text import normalize_ws, tokens
    from cqdg_etl_spark.operators.ranking import global_cumsum

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", normalize_ws(F.col("text")).alias("norm"))
        .filter(F.col("norm") != "")
        .select("doc_id", tokens(F.col("norm")).alias("tk"))
    )
    g = docs.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_toks"),
        (
            F.size(F.array_distinct("tk")).cast("double")
            / F.size("tk").cast("double")
        ).alias("ttr"),
    )
    c = global_cumsum(
        g,
        [F.col("ttr").desc(), F.col("doc_id").asc()],
        "n_toks",
        out_col="cum_tokens",
        total_col="_total",
    )
    return (
        c
        .filter(
            (F.col("cum_tokens") - F.col("n_toks")).cast("double")
            < F.lit(_BUDGET_FRAC) * F.col("_total").cast("double")
        )
        .select(
            "doc_id",
            "n_toks",
            F.round("ttr", 6).alias("ttr"),
            "cum_tokens",
        )
    )


# --------------------------------------- temperature mixture weights


_TEMP_ALPHA = 0.7


@query(
    "ds_temperature_mixture",
    tags=("datapipe", "sampling", "mixture"),
    oracle=f"""
        WITH g AS (
          SELECT source, count(*) AS c FROM documents GROUP BY source
        ),
        p AS (
          SELECT source, c,
                 CAST(c AS DOUBLE) / CAST(sum(c) OVER () AS DOUBLE)
                   AS p
          FROM g
        ),
        q AS (
          SELECT source, c, p,
                 pow(p, {_TEMP_ALPHA})
                   / sum(pow(p, {_TEMP_ALPHA})) OVER () AS q
          FROM p
        )
        SELECT source, CAST(c AS BIGINT) AS n_docs,
               round(p, 6) AS p,
               round(q, 6) AS q,
               round(q / CAST(c AS DOUBLE), 9) AS doc_weight
        FROM q
    """,
)
def ds_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (the multilingual-sampling
    p^α rebalance, α=0.7): per-source share p is raised to α and
    renormalized, flattening the source distribution toward uniform;
    doc_weight = q/|source| is each document's sampling mass. The
    window sums run over the |sources|-row grouped frame (a handful of
    rows by construction), never the corpus."""
    ev = load(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    g = ev.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    w_all = W.partitionBy()
    p = F.col("c").cast("double") / F.sum("c").over(w_all).cast("double")
    g2 = g.select("source", "c", p.alias("p"))
    q = F.pow(F.col("p"), F.lit(_TEMP_ALPHA)) / F.sum(
        F.pow(F.col("p"), F.lit(_TEMP_ALPHA))
    ).over(w_all)
    return g2.select(
        "source",
        F.col("c").cast("long").alias("n_docs"),
        F.round("p", 6).alias("p"),
        F.round(q, 6).alias("q"),
        F.round(q / F.col("c").cast("double"), 9).alias("doc_weight"),
    )
