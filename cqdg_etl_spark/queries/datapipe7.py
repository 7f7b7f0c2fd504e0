"""Round-3 batch 5: PSI distribution drift, soft-dedup sampling
weights, vocabulary/OOV coverage, grouped OLS trend.

Oracle conventions as per the package: integer counts everywhere the
order of accumulation could matter, DECIMAL(18,6) accumulation for
value sums feeding float formulas (so only the FINAL double ops — an
identical left-to-right sequence in both engines — touch IEEE
arithmetic), round(·, 6) on every libm/ratio output, total-order
tiebreakers on ranked vocabularies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.queries.datapipe import SQL_NORM, SQL_TOKS
from cqdg_etl_spark.queries.registry import load, query

# ---------------------------------------------------- PSI drift


@query(
    "pf_psi_totalprice_drift",
    tags=("profile", "drift", "quality"),
    oracle="""
        WITH ref AS (
          SELECT o_totalprice AS x FROM orders
          WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        ),
        cur AS (
          SELECT o_totalprice AS x FROM orders
          WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        ),
        b AS (
          SELECT min(x) AS mn,
                 greatest((max(x) - min(x)) / CAST(10.0 AS DOUBLE),
                          CAST(1e-12 AS DOUBLE)) AS w
          FROM ref
        ),
        rb AS (
          SELECT least(9, greatest(0,
                   CAST(floor((x - mn) / w) AS INT))) AS bin
          FROM ref, b
        ),
        cb AS (
          SELECT least(9, greatest(0,
                   CAST(floor((x - mn) / w) AS INT))) AS bin
          FROM cur, b
        ),
        rc AS (SELECT bin, count(*) AS c FROM rb GROUP BY bin),
        cc AS (SELECT bin, count(*) AS c FROM cb GROUP BY bin),
        bins AS (SELECT unnest(range(10)) AS bin),
        f AS (
          SELECT bins.bin,
                 CAST(coalesce(rc.c, 0) AS BIGINT) AS n_ref,
                 CAST(coalesce(cc.c, 0) AS BIGINT) AS n_cur
          FROM bins
          LEFT JOIN rc ON rc.bin = bins.bin
          LEFT JOIN cc ON cc.bin = bins.bin
        ),
        p AS (
          SELECT bin, n_ref, n_cur,
                 greatest(CAST(n_ref AS DOUBLE)
                          / CAST(sum(n_ref) OVER () AS DOUBLE),
                          CAST(1e-6 AS DOUBLE)) AS pr,
                 greatest(CAST(n_cur AS DOUBLE)
                          / CAST(sum(n_cur) OVER () AS DOUBLE),
                          CAST(1e-6 AS DOUBLE)) AS pc
          FROM f
        )
        SELECT bin, n_ref, n_cur,
               round(pr, 6) AS p_ref,
               round(pc, 6) AS p_cur,
               round((pc - pr) * ln(pc / pr), 6) AS psi_term
        FROM p
    """,
)
def pf_psi_totalprice_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of o_totalprice between pre-1998
    orders (reference) and 1998+ orders (current) — the snapshot-to-
    snapshot drift gate (operators/profile.py::psi_drift): equi-width
    bins from the reference bounds, eps-clamped log-ratio terms,
    Σ psi_term = PSI."""
    from cqdg_etl_spark.operators.profile import psi_drift

    orders = load(spark, sf_dir, "orders")
    split = F.lit("1998-01-01 00:00:00").cast("timestamp")
    return psi_drift(
        orders.filter(F.col("o_orderdate") < split),
        orders.filter(F.col("o_orderdate") >= split),
        "o_totalprice",
        n_bins=10,
    )


# ------------------------------------------- soft-dedup weights


@query(
    "ds_softdedup_weights",
    tags=("datapipe", "dedup", "sampling"),
    oracle=f"""
        WITH fp AS (
          SELECT doc_id, md5({SQL_NORM.format(c='text')}) AS fingerprint
          FROM documents
        )
        SELECT doc_id, fingerprint,
               count(*) OVER (PARTITION BY fingerprint) AS cluster_n,
               round(CAST(1.0 AS DOUBLE)
                     / CAST(count(*) OVER (PARTITION BY fingerprint)
                            AS DOUBLE), 6) AS weight
        FROM fp
    """,
)
def ds_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document soft-dedup sampling weight 1/|exact-duplicate
    cluster| (operators/dedup.py::soft_dedup_weights) — keeps
    duplicates in the corpus but normalizes their total sampling mass
    to one per distinct text. ONE fingerprint-partitioned window, no
    join."""
    from cqdg_etl_spark.operators.dedup import soft_dedup_weights

    docs = load(spark, sf_dir, "documents")
    return soft_dedup_weights(docs, "text", "doc_id")


# ---------------------------------------------- vocab coverage


_VOCAB_K = 100


@query(
    "tx_vocab_coverage",
    tags=("datapipe", "text", "tokenizer"),
    oracle=f"""
        WITH d AS (
          SELECT doc_id, {SQL_TOKS.format(c='text')} AS tk
          FROM documents WHERE {SQL_NORM.format(c='text')} <> ''
        ),
        tok AS (SELECT doc_id, unnest(tk) AS t FROM d),
        v AS (
          SELECT t, count(*) AS c FROM tok GROUP BY t
          ORDER BY c DESC, t LIMIT {_VOCAB_K}
        ),
        j AS (
          SELECT tok.doc_id, v.t AS vt
          FROM tok LEFT JOIN v ON tok.t = v.t
        )
        SELECT doc_id,
               count(*) AS n_toks,
               CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_oov,
               round(CAST(sum(CASE WHEN vt IS NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                 AS oov_rate
        FROM j GROUP BY doc_id
    """,
)
def tx_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction + OOV audit: the top-100 corpus tokens
    by frequency (total-order tiebreak) form the vocabulary; each
    document reports its token count and out-of-vocabulary rate — the
    coverage check run before committing to a tokenizer vocabulary.

    Scale shape: the token stream is built once per pass (explode of
    the let-bound tokenization); the vocabulary is a
    TakeOrderedAndProject top-k (never a full vocabulary sort) and is
    BROADCAST back onto the token stream, so the per-doc aggregate is
    the only full shuffle. At 100 TB the vocabulary side stays k rows
    regardless of corpus size."""
    from cqdg_etl_spark.functions.text import normalize_ws, tokens

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", normalize_ws(F.col("text")).alias("norm"))
        .filter(F.col("norm") != "")
        .select("doc_id", tokens(F.col("norm")).alias("tk"))
    )
    tok = docs.select("doc_id", F.explode("tk").alias("t"))
    # Pre-aggregate the token stream to (doc_id, t, k) BEFORE anything
    # else consumes it (r11): the raw stream was consumed twice (vocab
    # count + membership join), each consumer re-running the scan +
    # tokenize + explode; the (doc, token) counts are one map-side
    # combinable aggregate that both consumers derive from, and the
    # t-keyed vocabulary count now sums per-doc counts (vocab-bounded
    # fan-in) instead of re-shuffling every token occurrence
    # (guide §2.3 aggregate-before-shuffle). Measured ~12% at sf0.1;
    # identical output (weights carry the multiplicities).
    dt = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("k"))
    vocab = (
        dt.groupBy("t")
        .agg(F.sum("k").alias("c"))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(_VOCAB_K)
        .select("t", F.lit(1).alias("in_v"))
    )
    j = dt.join(F.broadcast(vocab), "t", "left")
    n_toks = F.sum("k")
    n_oov = F.sum(F.when(F.col("in_v").isNull(), F.col("k")).otherwise(0))
    return j.groupBy("doc_id").agg(
        n_toks.alias("n_toks"),
        n_oov.cast("long").alias("n_oov"),
        F.round(n_oov.cast("double") / n_toks.cast("double"), 6).alias(
            "oov_rate"
        ),
    )


# ------------------------------------------------ grouped OLS


@query(
    "ev_trend_daily",
    tags=("events", "regression", "analytics"),
    oracle="""
        WITH daily AS (
          SELECT event_type,
                 date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS x,
                 round(sum(CAST(value AS DECIMAL(18,6))), 2) AS y
          FROM events
          GROUP BY event_type, x
        ),
        s AS (
          SELECT event_type,
                 count(*) AS n,
                 sum(x) AS sx,
                 sum(x * x) AS sxx,
                 sum(y) AS sy,
                 sum(x * y) AS sxy
          FROM daily GROUP BY event_type
        ),
        d AS (
          SELECT event_type,
                 CAST(n AS BIGINT) AS n_days,
                 CAST(n AS DOUBLE) AS nd,
                 CAST(sx AS DOUBLE) AS sxd,
                 CAST(sxx AS DOUBLE) AS sxxd,
                 CAST(sy AS DOUBLE) AS syd,
                 CAST(sxy AS DOUBLE) AS sxyd
          FROM s
        )
        SELECT event_type, n_days,
               round((nd * sxyd - sxd * syd)
                     / (nd * sxxd - sxd * sxd), 6) AS slope,
               round((syd - ((nd * sxyd - sxd * syd)
                             / (nd * sxxd - sxd * sxd)) * sxd) / nd, 6)
                 AS intercept
        FROM d
    """,
)
def ev_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of daily total value (slope + intercept
    over day index). Distributed regression via sufficient statistics:
    the daily totals accumulate EXACTLY (integer day index, DECIMAL
    value sums — no order-dependent float accumulation anywhere in the
    aggregates), and the closed-form slope touches doubles only in a
    fixed final expression, so both engines compute the identical IEEE
    result. The shape that fits one reduce per group no matter the
    fact-table size — the sufficient statistics are 5 numbers per
    group."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("x"),
            F.col("value"),
        )
        .groupBy("event_type", "x")
        .agg(F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2).alias("y"))
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    num = nd * sxyd - sxd * syd
    den = nd * sxxd - sxd * sxd
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.round(num / den, 6).alias("slope"),
        F.round((syd - (num / den) * sxd) / nd, 6).alias("intercept"),
    )
