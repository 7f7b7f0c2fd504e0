"""Registry batch 13 (12 queries): exact GEMM top-k, cross-source
leakage, embedding covariance cells, key-skew profiling, containment
pairs, an end-to-end curation pipeline, conversion-latency quantiles,
leave-one-out target encoding, shard assignment, top-k recall
evaluation, a cluster-safe split and pipe-syntax SQL.

Registered through ``registry.query`` like every query module. Each
query carries a full DuckDB value-hash oracle; tests/test_correctness.py
checks it and tests/test_datapipe13.py (nightly lane) adds kernel-level
behavioral tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.queries.registry import load, query
from cqdg_etl_spark.queries.datapipe import _sql_minhash_verified, _sql_shingles


@query(
    "ann_topk_gemm",
    tags=("datapipe", "ann", "gemm"),
    oracle="""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id < 10),
             c AS (SELECT vec_id AS neighbor_id, embedding AS ce
                   FROM embeddings WHERE vec_id >= 10),
             scored AS (
               SELECT query_id, neighbor_id,
                      (list_sum(list_transform(range(1, 65),
                         i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(range(1, 65),
                            i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(range(1, 65),
                            i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))))))
                      AS cos
               FROM q CROSS JOIN c
             )
        SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
              ) AS rank FROM scored)
        WHERE rank <= 5
    """,
)
def ann_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 via the batched-GEMM kernel — identical
    contract and result as ann_topk_bruteforce, but each corpus
    partition runs one numpy matmul per Arrow batch and emits only its
    local top-k (operators/gemm.py::brute_force_topk_gemm)."""
    from cqdg_etl_spark.operators.gemm import brute_force_topk_gemm

    emb = load(spark, sf_dir, "embeddings")
    return brute_force_topk_gemm(
        emb.filter(F.col("vec_id") >= 10), emb.filter(F.col("vec_id") < 10), k=5
    )


@query(
    "dd_cross_source_leakage",
    tags=("datapipe", "dedup", "contamination"),
    oracle=f"""
        WITH pairs AS ({_sql_minhash_verified()}),
        both_dirs AS (
          SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION ALL
          SELECT doc_b AS u, doc_a AS v FROM pairs
        )
        SELECT da.source AS source_a, db.source AS source_b,
               count(*) AS n_pairs,
               count(DISTINCT v) AS n_docs_b
        FROM both_dirs
        JOIN documents da ON da.doc_id = u
        JOIN documents db ON db.doc_id = v
        GROUP BY 1, 2
    """,
)
def dd_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination at source granularity: near-dup pairs
    (MinHash-LSH candidates + exact Jaccard ≥ 0.8 verify) attributed to
    their (source_a, source_b) cell, counted in both directions so the
    matrix reads "n_docs_b documents of source_b are leaked copies of
    source_a material". The audit run before declaring a held-out
    source clean. Scale shape: the pair frame is the verified-dedup
    output (tiny relative to the corpus); the two doc_id → source
    lookups are plain equi-joins on the corpus key."""
    from cqdg_etl_spark.operators.dedup import minhash_verified_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_verified_pairs(docs, "text", "doc_id", threshold=0.8)
    both = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    src = docs.select("doc_id", "source")
    return (
        both.join(src.select(F.col("doc_id").alias("u"),
                             F.col("source").alias("source_a")), "u")
        .join(src.select(F.col("doc_id").alias("v"),
                         F.col("source").alias("source_b")), "v")
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("v").alias("n_docs_b"),
        )
    )


@query(
    "emb_covariance_cells",
    tags=("datapipe", "embedding", "covariance"),
    oracle="""
        WITH f AS (
          SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings, range(1, 65) t(i)
        ),
        m AS (SELECT i, avg(v) AS mu FROM f GROUP BY i),
        n AS (SELECT count(*) AS n FROM embeddings)
        SELECT a.i - 1 AS i, b.i - 1 AS j,
               -- + 0.0 canonicalizes IEEE -0.0 (mirrors the engine)
               round(sum((a.v - ma.mu) * (b.v - mb.mu)) / any_value(n.n), 6)
                 + 0.0 AS cov
        FROM f a
        JOIN f b ON a.vec_id = b.vec_id AND a.i <= b.i
        JOIN m ma ON ma.i = a.i
        JOIN m mb ON mb.i = b.i
        CROSS JOIN n
        GROUP BY 1, 2
    """,
)
def emb_covariance_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance of the embedding corpus as upper-triangle
    cells (i, j, cov) — the representation-collapse / anisotropy /
    PCA-whitening audit. One distributed GEMM pass: each partition
    emits a d×d numpy partial, the reduce aggregates
    O(partitions · d²) rows (operators/embstats.py::covariance_cells;
    the oracle's n·d² pair join is the formulation the operator
    deliberately avoids)."""
    from cqdg_etl_spark.operators.embstats import covariance_cells

    emb = load(spark, sf_dir, "embeddings")
    return covariance_cells(emb, "embedding")


@query(
    "pf_key_skew_profile",
    tags=("datapipe", "profile", "skew"),
    oracle="""
        WITH c AS (
          SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1
        ),
        t AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                 count(*) AS n_keys,
                 max(c) AS top1,
                 sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                   AS sum_clnc
          FROM c
        ),
        tt AS (
          SELECT CAST(sum(c) AS BIGINT) AS top10
          FROM (SELECT c FROM c ORDER BY c DESC, k LIMIT 10)
        )
        SELECT n_rows,
               n_keys,
               round(CAST(top1 AS DOUBLE) / n_rows, 6) AS top1_share,
               round(CAST(top10 AS DOUBLE) / n_rows, 6) AS top10_share,
               round(ln(CAST(n_rows AS DOUBLE)) - sum_clnc / n_rows, 6)
                 AS entropy
        FROM t CROSS JOIN tt
    """,
)
def pf_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit of orders.o_custkey — the one-row profile
    (row/key counts, top-1/top-10 key shares, key-distribution entropy)
    that decides between a plain shuffle join, salting, and AQE skew
    handling (operators/profile.py::key_skew_profile; top-10 via
    TakeOrderedAndProject, never a global sort or single-task
    window)."""
    from cqdg_etl_spark.operators.profile import key_skew_profile

    return key_skew_profile(load(spark, sf_dir, "orders"), "o_custkey")


@query(
    "dd_containment_pairs",
    tags=("datapipe", "dedup", "containment"),
    oracle=f"""
        WITH s0 AS (
          SELECT doc_id AS doc, unnest({_sql_shingles('text')}) AS shingle
          FROM documents
        ), s AS (
          SELECT s0.doc, s0.shingle
          FROM s0
          JOIN (SELECT shingle FROM s0 GROUP BY shingle
                HAVING count(*) <= 1000) keep USING (shingle)
        ), sizes AS (
          SELECT doc, count(*) AS n_shingles FROM s GROUP BY doc
        ), inter AS (
          SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
          FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc < b.doc
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(CAST(n_inter AS DOUBLE)
                     / least(sa.n_shingles, sb.n_shingles), 6) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE CAST(n_inter AS DOUBLE)
              / least(sa.n_shingles, sb.n_shingles) >= 0.9
    """,
)
def dd_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|,|B|) ≥ 0.9 over
    3-gram shingles — the asymmetric measure that catches a document
    embedded inside a larger one (quotation, boilerplate wrapping),
    which Jaccard structurally misses
    (operators/dedup.py::containment_pairs; same shared-exchange
    inverted-index shape as dd_ngram_jaccard_pairs)."""
    from cqdg_etl_spark.operators.dedup import containment_pairs

    docs = load(spark, sf_dir, "documents")
    return containment_pairs(
        docs, "text", "doc_id", n=3, threshold=0.9, max_df=1000
    )



def _sql_minhash_verified_over(
    src: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> str:
    """The MinHash-verified-pairs oracle parametrized over its source
    relation (the published builder in queries/datapipe.py is pinned to
    the documents table; it is NOT edited here because that module is
    UDF-bearing, so any byte change would mark all of its published
    queries stale in the verification tracker). Same permutation
    constants, band keys, and verify expression — asserted equal to the
    published text for src='documents' in tests."""
    from cqdg_etl_spark.operators import dedup
    from cqdg_etl_spark.queries.datapipe import _sql_shingles

    params = dedup._perm_params(num_perm, seed)
    rows_per_band = num_perm // bands
    p_mod = dedup.MINHASH_P
    mins = ", ".join(
        f"min(({a} * h + {b}) % {p_mod}) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc, {idx} AS band_idx, concat_ws('-', {cols}) AS band_key "
        "FROM sig".format(
            idx=l,
            cols=", ".join(
                f"m{l * rows_per_band + j}" for j in range(rows_per_band)
            ),
        )
        for l in range(bands)
    )
    jac = ("CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) "
           "/ (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))")
    return f"""
        WITH s AS (
          SELECT doc_id AS doc, unnest({_sql_shingles('text')}) AS shingle
          FROM {src}
        ), h AS (
          SELECT doc,
                 CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h
          FROM s
        ), sig AS (
          SELECT doc, {mins} FROM h GROUP BY doc
        ), bands AS ({band_selects}),
        cand AS (
          SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc < b.doc
        ),
        sets AS (SELECT doc, list(DISTINCT h) AS hs FROM h GROUP BY doc)
        SELECT doc_a, doc_b, round({jac}, 6) AS jaccard
        FROM cand
        JOIN sets x ON x.doc = doc_a
        JOIN sets y ON y.doc = doc_b
        WHERE {jac} >= {threshold}
    """


def _sql_curation_e2e() -> str:
    """Oracle for the corpus-curation pipeline: the component queries'
    oracle fragments (C4 rules, exact-fingerprint dedup, MinHash
    verified pairs) chained over successive survivor CTEs."""
    from cqdg_etl_spark.queries.datapipe import SQL_NORM, SQL_TOKS

    toks = SQL_TOKS.format(c="text")
    norm = SQL_NORM.format(c="text")
    return f"""
        WITH c4 AS (
          SELECT doc_id FROM (
            -- round(mwl, 6) to stay in lockstep with the operator and
            -- the published tx_c4_rule_filter oracle (both compare the
            -- ROUNDED mean word length against the band)
            SELECT doc_id, len({toks}) AS n_words,
                   round(CAST(list_sum(list_transform({toks}, x -> len(x)))
                              AS DOUBLE) / len({toks}), 6) AS mwl,
                   lower(text) AS lowered
            FROM documents
            WHERE lang = 'en'
          )
          WHERE n_words BETWEEN 30 AND 10000
            AND mwl BETWEEN 2.0 AND 10.0
            AND NOT contains(lowered, '{{')
            AND NOT contains(lowered, 'lorem ipsum')
        ),
        s1 AS (
          SELECT d.* FROM documents d
          JOIN c4 USING (doc_id)
          WHERE d.lang = 'en'
        ),
        ex AS (
          SELECT doc_id FROM (
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY md5({norm})) AS keep_id
            FROM s1
          ) WHERE doc_id = keep_id
        ),
        s2 AS (SELECT s1.* FROM s1 JOIN ex USING (doc_id)),
        pairs AS ({_sql_minhash_verified_over('s2')}),
        final AS (
          SELECT * FROM s2
          WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
        )
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS n_chars
        FROM final GROUP BY source
    """


@query(
    "pipe_corpus_curation_e2e",
    tags=("datapipe", "pipeline", "dedup", "quality"),
    oracle=_sql_curation_e2e(),
)
def pipe_corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard web-corpus curation pipeline as ONE declarative
    plan — the composition a training-data user actually runs:

      1. C4 rule gate (word count, mean word length, brace/lorem
         boilerplate) — shuffle-free projection + filter;
      2. language allowlist on the labeled lang column;
      3. exact dedup: keep the min doc_id per normalized-text md5
         fingerprint (hash-partitioned window, never single-task);
      4. near-dup dedup: MinHash-LSH candidates + exact Jaccard ≥ 0.8
         verify over the survivors, dropping every pair's doc_b side
         (the cheap greedy canonicalization) via a left-anti join;
      5. per-source survivor counts and character mass.

    Every stage is the already-verified component operator
    (quality.c4_rule_flags, dedup fingerprint, minhash_verified_pairs)
    — the pipeline adds only joins and an anti-join, so its scale
    story is its components'. Catalyst sees ONE plan end to end and
    pushes the c4/lang filters into the shared corpus scan."""
    from pyspark import StorageLevel

    from cqdg_etl_spark.functions.text import fingerprint
    from cqdg_etl_spark.operators import quality
    from cqdg_etl_spark.operators.dedup import minhash_verified_pairs
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en")
    # Gate the language allowlist BEFORE the rule flags: the lang
    # predicate sits on the same scan, so the expensive tokenization
    # runs only on the allowlisted subset (Catalyst cannot push a
    # filter from one join branch into the other by itself).
    c4_keep = (
        quality.c4_rule_flags(en, "text", "doc_id")
        .filter("keep")
        .select("doc_id")
    )
    s1 = en.join(c4_keep, "doc_id")
    keep_exact = (
        s1.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .withColumn("keep_id", F.min("doc_id").over(W.partitionBy("fp")))
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id")
    )
    # Persist the curated frame (r11): s2 has TWO consumers — the
    # minhash sets build and the final anti-join — and each otherwise
    # re-runs the whole gate chain (scan → C4 tokenization → fingerprint
    # window). Materializing the curated corpus once is what a
    # production pipeline does anyway (it is the pipeline's output
    # contract); spills to local disk at scale. Measured 1.61 → 1.38 s
    # best-of interleaved at sf0.1 (guide §5 persist-on-reuse; the same
    # rationale as minhash_verified_pairs' internal sets persist).
    s2 = s1.join(keep_exact, "doc_id").persist(StorageLevel.MEMORY_AND_DISK)
    pairs = minhash_verified_pairs(s2, "text", "doc_id", threshold=0.8)
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    final = s2.join(dropped, "doc_id", "left_anti")
    return final.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
    )


@query(
    "ev_conversion_latency_quantiles",
    tags=("datapipe", "events", "percentile"),
    oracle="""
        WITH per_user AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN ts END) AS v,
                 min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
          FROM events GROUP BY user_id
        ),
        lat AS (
          SELECT strftime(date_trunc('week', v), '%Y-%m-%d') AS cohort_week,
                 date_diff('second', v, p) AS latency_s
          FROM per_user
          WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v
        )
        SELECT cohort_week,
               count(*) AS n_users,
               round(quantile_cont(latency_s, 0.5), 6)  AS p50_s,
               round(quantile_cont(latency_s, 0.9), 6)  AS p90_s
        FROM lat GROUP BY cohort_week
    """,
)
def ev_conversion_latency_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-to-convert distribution: per user, first 'view' to first
    'purchase' latency (converters only), exact interpolated p50/p90
    per first-view cohort week. One shuffle on user_id for the min-pair
    aggregate (map-side combined conditional mins — the fact never
    sorts), then a #converters-sized percentile aggregate. Spark
    `percentile` == DuckDB `quantile_cont` (the verified
    agg_exact_percentiles recipe); at 100 TB swap approx_percentile's
    mergeable t-digest when cohorts stop fitting."""
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("p"),
    )
    lat = per_user.filter(
        F.col("v").isNotNull() & F.col("p").isNotNull() & (F.col("p") >= F.col("v"))
    ).select(
        F.date_format(F.date_trunc("week", "v"), "yyyy-MM-dd").alias(
            "cohort_week"
        ),
        (F.unix_timestamp("p") - F.unix_timestamp("v")).alias("latency_s"),
    )
    return lat.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.expr("percentile(latency_s, 0.5)"), 6).alias("p50_s"),
        F.round(F.expr("percentile(latency_s, 0.9)"), 6).alias("p90_s"),
    )


@query(
    "fe_target_encoding_loo",
    tags=("datapipe", "features", "encoding"),
    oracle="""
        WITH g AS (
          SELECT o_custkey,
                 count(*) AS n,
                 sum(CAST(o_totalprice AS DECIMAL(18,6))) AS s
          FROM orders GROUP BY o_custkey
        )
        SELECT o_orderkey, o.o_custkey,
               CASE WHEN n > 1 THEN
                 round(CAST(s - CAST(o_totalprice AS DECIMAL(18,6))
                            AS DOUBLE) / (n - 1), 6)
               END AS loo_price_enc
        FROM orders o JOIN g USING (o_custkey)
    """,
)
def fe_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of o_custkey by mean order value:
    each row's encoding excludes its own target — (group_sum − x) /
    (n − 1), NULL for singleton keys — the leakage-free categorical
    encoding for downstream models. Group-then-join-back: one map-side
    combined aggregate over the key, one equi-join back to the fact
    (never a per-key window sort); sums accumulate in DECIMAL(18,6)
    per the repo money convention so the subtraction is exact."""
    orders = load(spark, sf_dir, "orders")
    g = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("s"),
    )
    return (
        orders.join(g, "o_custkey")
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(
                F.col("n") > 1,
                F.round(
                    (
                        F.col("s")
                        - F.col("o_totalprice").cast("decimal(18,6)")
                    ).cast("double")
                    / (F.col("n") - 1),
                    6,
                ),
            ).alias("loo_price_enc"),
        )
    )


@query(
    "ds_shard_assignment",
    tags=("datapipe", "sampling", "sharding"),
    oracle="""
        WITH ordered AS (
          SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS shuf
          FROM documents
        ),
        cum AS (
          SELECT doc_id, n_chars,
                 sum(n_chars) OVER (
                   ORDER BY shuf, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cum_chars
          FROM ordered
        )
        SELECT doc_id,
               CAST(floor((cum_chars - n_chars) / 4000.0) AS BIGINT) AS shard
        FROM cum
    """,
)
def ds_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic byte-budget sharding: documents in md5-shuffled
    order, each assigned the shard its RUNNING character total (before
    the doc) falls into — the writer-side planner that turns a corpus
    into ~equal-size training shards with a reproducible layout. The
    running total comes from operators/ranking.py::global_cumsum
    (range-repartitioned two-pass, broadcast offsets) — NEVER a
    single-task global window; the oracle's OVER (ORDER BY ...) is the
    semantics, not the plan."""
    from cqdg_etl_spark.operators.ranking import global_cumsum

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("shuf"),
    )
    cum = global_cumsum(
        docs, [F.col("shuf"), F.col("doc_id")], "n_chars", "cum_chars"
    )
    # floor on BOTH sides: DuckDB CAST(double AS BIGINT) rounds to
    # nearest while Spark's cast truncates — an implicit-cast trap.
    return cum.select(
        "doc_id",
        F.floor((F.col("cum_chars") - F.col("n_chars")) / 4000)
        .cast("bigint")
        .alias("shard"),
    )


def _sql_recall_eval() -> str:
    """Recall@5 oracle composing the published LSH and brute-force
    top-k oracles as CTE subqueries (both engine-exact, so the recall
    of the approximate index is itself exactly reproducible)."""
    # importing the module registers its queries into REGISTRY
    from cqdg_etl_spark.queries import datapipe as _  # noqa: F401
    from cqdg_etl_spark.queries.registry import REGISTRY

    lsh = REGISTRY["ann_topk_lsh"].oracle
    bf = REGISTRY["ann_topk_bruteforce"].oracle
    return f"""
        WITH lsh AS ({lsh}),
        bf AS ({bf})
        SELECT bf.query_id,
               CAST(count(lsh.neighbor_id) AS BIGINT) AS n_hits,
               round(count(lsh.neighbor_id) / 5.0, 6) AS recall_at_5
        FROM bf
        LEFT JOIN lsh
          ON lsh.query_id = bf.query_id
         AND lsh.neighbor_id = bf.neighbor_id
        GROUP BY bf.query_id
    """


@query(
    "emb_topk_recall_eval",
    tags=("datapipe", "ann", "evaluation"),
    oracle=_sql_recall_eval(),
)
def emb_topk_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation as a query: recall@5 of the SRP-LSH
    ANN index against the exact brute-force ground truth, per query
    vector. The measurement every ANN deployment runs before choosing
    band/probe parameters — here it composes two published operators
    (lsh_bucket_topk, brute_force_topk) with one left join + count, so
    its scale story is theirs; both sides are deterministic, making
    even the RECALL value engine-exact and hash-checkable."""
    from cqdg_etl_spark.queries.registry import REGISTRY

    bf = REGISTRY["ann_topk_bruteforce"].fn(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    lsh = REGISTRY["ann_topk_lsh"].fn(spark, sf_dir).select(
        F.col("query_id").alias("l_qid"), F.col("neighbor_id").alias("l_nid")
    )
    return (
        bf.join(
            lsh,
            (F.col("query_id") == F.col("l_qid"))
            & (F.col("neighbor_id") == F.col("l_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("l_nid").alias("n_hits"),
            F.round(F.count("l_nid") / F.lit(5.0), 6).alias("recall_at_5"),
        )
    )


@query(
    "ds_cluster_safe_split",
    tags=("datapipe", "sampling", "dedup", "leakage"),
    oracle=f"""
        WITH RECURSIVE s AS (
          SELECT doc_id AS doc, unnest({_sql_shingles('text')}) AS shingle
          FROM documents
        ), sizes AS (
          SELECT doc, count(*) AS n_shingles FROM s GROUP BY doc
        ), inter AS (
          SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
          FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc < b.doc
          GROUP BY 1, 2
        ), pairs AS (
          SELECT doc_a, doc_b FROM inter
          JOIN sizes sa ON sa.doc = doc_a
          JOIN sizes sb ON sb.doc = doc_b
          WHERE CAST(n_inter AS DOUBLE)
                / (sa.n_shingles + sb.n_shingles - n_inter) >= 0.8
        ), sym AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs
        ), walk(node, label) AS (
          SELECT a, a FROM (SELECT DISTINCT a FROM sym)
          UNION
          SELECT s2.b, w.label FROM walk w JOIN sym s2 ON s2.a = w.node
        ), comp AS (
          SELECT node, min(label) AS component FROM walk GROUP BY node
        )
        SELECT doc_id,
               coalesce(comp.component, doc_id) AS cluster,
               CASE WHEN CAST(('0x' || substring(md5('split' ||
                      CAST(coalesce(comp.component, doc_id) AS VARCHAR)), 1, 8))
                      AS BIGINT) < CAST(0.9 * 4294967296 AS BIGINT)
                    THEN 'train' ELSE 'val' END AS split
        FROM documents LEFT JOIN comp ON comp.node = doc_id
    """,
)
def ds_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val split: near-dup CLUSTERS (exact 3-gram
    Jaccard ≥ 0.8 → connected components) are the split unit, so two
    near-duplicate documents can never land on opposite sides — the
    contamination a plain per-doc hash split silently allows and
    decontamination sweeps then have to repair. Docs in no pair are
    their own singleton cluster; the split hash is the same
    md5('split'||id) bucket rule as ds_train_val_split, applied to the
    cluster representative. Scale story = its components':
    inverted-index pair generation + auto-dispatched connected
    components + a shuffle-free bucket projection."""
    from cqdg_etl_spark.operators.dedup import ngram_jaccard_pairs
    from cqdg_etl_spark.operators.graph import connected_components_auto
    from cqdg_etl_spark.operators.sampling import assign_split

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8)
    comp = connected_components_auto(pairs, "doc_a", "doc_b")
    clustered = (
        docs.join(comp, docs["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
        )
    )
    return assign_split(
        clustered, "cluster", {"train": 0.9, "val": 0.1}
    ).select("doc_id", "cluster", "split")


@query(
    "sql_pipe_syntax_orders",
    tags=("sql-surface", "spark4", "pipe"),
    oracle="""
        SELECT o_orderpriority, count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS total
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
    """,
)
def sql_pipe_syntax_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (|> operators, SQL:2023-style flow) —
    the same Catalyst plan as the classic formulation (the pipe parser
    is pure surface syntax), verified against a plain-SQL oracle.
    Completes the Spark 4 SQL-surface set next to the recursive CTE,
    catalog SQL UDF, and VARIANT queries."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_pipe_v")
    return spark.sql("""
      FROM orders_pipe_v
      |> WHERE o_orderstatus = 'F'
      |> AGGREGATE count(*) AS n,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                        AS DOUBLE) AS total
         GROUP BY o_orderpriority
    """)
