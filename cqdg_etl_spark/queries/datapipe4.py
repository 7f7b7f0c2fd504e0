"""Round-3 batch 2: incremental-ETL primitives (snapshot diff,
partial-rollup merge), sparse TF-IDF cosine pairs, weighted source
interleave, and product-quantization codes.

Oracle conventions as per the package: exact-decimal accumulation for
every float sum, round(ln, 6) for the one libm-dependent value, md5-
derived portable hashes, total-order tiebreakers on every rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.operators import similarity
from cqdg_etl_spark.queries.datapipe import SQL_TOKS  # noqa: F401
from cqdg_etl_spark.queries.datapipe2 import _sql_multiset_shingles
from cqdg_etl_spark.queries.registry import load, query

# ------------------------------------------------- snapshot diff (CDC)


@query(
    "etl_snapshot_diff",
    tags=("etl", "cdc", "diff"),
    oracle="""
        WITH old AS (
          SELECT o_orderkey, o_totalprice, o_orderstatus
          FROM orders WHERE o_orderkey % 97 <> 3
        ),
        new AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 89 = 7
                      THEN o_totalprice + 1.0 ELSE o_totalprice
                 END AS o_totalprice,
                 o_orderstatus
          FROM orders WHERE o_orderkey % 101 <> 5
        )
        SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                    WHEN n.o_orderkey IS NULL THEN 'delete'
                    WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                     AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
                      THEN 'unchanged'
                    ELSE 'update' END AS change_type
        FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    """,
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: classify every order key across two
    simulated table versions (deterministic deletes / inserts / price
    updates) as insert/delete/update/unchanged — the change set an
    incremental downstream refresh consumes instead of a full rebuild.
    One full-outer shuffle join, null-safe column compare, no UDF
    (operators/diff.py)."""
    from cqdg_etl_spark.operators.diff import snapshot_diff

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = orders.filter(F.col("o_orderkey") % 97 != 3)
    new = orders.filter(F.col("o_orderkey") % 101 != 5).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 89 == 7, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(
        old, new, ["o_orderkey"], ["o_totalprice", "o_orderstatus"]
    )


# ------------------------------------- incremental rollup maintenance


@query(
    "etl_incremental_rollup",
    tags=("etl", "incremental", "rollup"),
    oracle="""
        SELECT l_returnflag,
               strftime(l_shipdate, '%Y-%m') AS ship_month,
               CAST(round(sum(CAST(l_quantity AS DECIMAL(27,6))), 2)
                    AS DOUBLE) AS v_sum,
               count(l_quantity) AS n,
               min(l_quantity) AS v_min,
               max(l_quantity) AS v_max,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
                     / count(l_quantity), 4) AS v_avg
        FROM lineitem
        GROUP BY l_returnflag, ship_month
    """,
)
def etl_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the fact table lands in three
    deterministic batches (l_orderkey % 3); each batch aggregates to a
    mergeable partial state (exact-decimal sum/count/min/max), the
    partials merge (operators/incremental.py) — and the ORACLE is the
    full recompute, so the merge is verified exactly, not by spot check.
    The merge step's cost depends on #groups, never on fact-table size
    — the shape that replaces full-corpus rollup re-runs at 100 TB."""
    from cqdg_etl_spark.operators.incremental import (
        merge_rollups,
        partial_rollup,
    )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_quantity",
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
    )
    batches = [
        partial_rollup(
            li.filter(F.col("l_orderkey") % 3 == i),
            ["l_returnflag", "ship_month"],
            "l_quantity",
        )
        for i in range(3)
    ]
    return merge_rollups(batches, ["l_returnflag", "ship_month"])


# ---------------------------------------- sparse TF-IDF cosine pairs

_TFIDF_TAU = 0.3
_TFIDF_MAX_DF = 1000


@query(
    "dd_tfidf_cosine_pairs",
    tags=("datapipe", "dedup", "tfidf", "similarity"),
    oracle=f"""
        WITH tf AS (
          SELECT doc, h, count(*) AS tf FROM (
            SELECT doc_id AS doc,
                   CAST(('0x' || substring(md5(term), 1, 15)) AS BIGINT) AS h
            FROM (SELECT doc_id,
                         unnest({_sql_multiset_shingles('text', 3)}) AS term
                  FROM documents)
          ) GROUP BY doc, h
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        dfreq AS (SELECT h, count(*) AS df FROM tf GROUP BY h),
        wt AS (
          SELECT doc, h,
                 tf * round(ln(CAST(n_docs AS DOUBLE) / df), 6) AS w
          FROM tf JOIN dfreq USING (h), n
          WHERE df >= 2 AND df <= {_TFIDF_MAX_DF}
        ),
        norms AS (
          SELECT doc, sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,18)))
                                AS DOUBLE)) AS nrm
          FROM wt GROUP BY doc
        ),
        dots AS (
          SELECT a.doc AS doc_a, b.doc AS doc_b,
                 CAST(sum(CAST(a.w * b.w AS DECIMAL(38,18))) AS DOUBLE) AS dot
          FROM wt a JOIN wt b ON a.h = b.h AND a.doc < b.doc
          GROUP BY a.doc, b.doc
        )
        SELECT doc_a, doc_b,
               round(dot / (na.nrm * nb.nrm), 6) AS cos
        FROM dots
        JOIN norms na ON na.doc = doc_a
        JOIN norms nb ON nb.doc = doc_b
        WHERE dot / (na.nrm * nb.nrm) >= {_TFIDF_TAU!r}
    """,
)
def dd_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs over the raw text — the
    lexical counterpart of dd_embedding_cosine_pairs, no embedding
    model needed. Terms are word trigrams — same n as the Jaccard
    shingles: unigram (even bigram) vocabulary here is tiny relative
    to corpus size, so posting lists pair quadratically (measured 36.6M
    candidate rows at sf0.1 for bigrams vs 1.4M for trigrams); n=3
    keeps df in the informative tail. Inverted-index self-join on a
    portable 60-bit term hash, df ∈ [2, max_df] vector space (hapax
    can't pair; hot terms are the quadratic risk), skew-safe df
    band-filter join + one persisted weighted index shared by all four
    consumers (operators/sparse_sim.py)."""
    from cqdg_etl_spark.operators.sparse_sim import tfidf_cosine_pairs

    docs = load(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(
        docs, "text", "doc_id", threshold=_TFIDF_TAU, ngram=3,
        max_df=_TFIDF_MAX_DF,
    )


# --------------------------------------- weighted source interleave

_ILV_W = {"en": 0.4, "fr": 0.15, "es": 0.15, "de": 0.15, "zh": 0.15}


def _sql_interleave(weights: dict[str, float], salt: str = "interleave") -> str:
    vals = ", ".join(
        f"('{k}', CAST({v!r} AS DOUBLE))" for k, v in weights.items()
    )
    return f"""
        WITH w AS (SELECT * FROM (VALUES {vals}) t(lang, w)),
        d AS (
          SELECT doc_id, lang, w,
                 CAST(('0x' || substring(md5('{salt}'
                   || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hk
          FROM documents JOIN w USING (lang)
        ),
        r AS (
          SELECT doc_id, lang, w,
                 row_number() OVER (
                   PARTITION BY lang ORDER BY hk, doc_id) AS src_rank
          FROM d
        )
        SELECT doc_id, lang, src_rank,
               CAST(row_number() OVER (
                 ORDER BY (src_rank - 0.5) / w, lang, doc_id)
               AS BIGINT) AS train_order
        FROM r
    """


@query(
    "ds_interleave_sources",
    tags=("datapipe", "sampling", "ordering", "mixture"),
    oracle=_sql_interleave(_ILV_W),
)
def ds_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted interleave of language sources into one
    training order: domain-local md5 shuffle, then example r of a
    weight-w domain streams at position (r-0.5)/w — every window of
    the resulting stream sees the target mixture. Built on the two-pass
    scalable global rank (never a single-task ORDER BY); the in-domain
    rank is derived from ONE global rank + broadcast per-domain offsets
    (operators/ranking.py::interleave_by_weight)."""
    from cqdg_etl_spark.operators.ranking import interleave_by_weight

    docs = load(spark, sf_dir, "documents")
    out = interleave_by_weight(docs, "doc_id", "lang", _ILV_W)
    return out.select("doc_id", "lang", "src_rank", "train_order")


# ---------------------------------------- product-quantization codes

_PQ_M = 4
_PQ_BITS = 4
_PQ_DIM = 64


def _sql_pq_codes(
    m: int = _PQ_M, dim: int = _PQ_DIM, n_bits: int = _PQ_BITS, seed: int = 42
) -> str:
    """Per-subspace copy of the deterministic-quantizer recipe the
    ann_topk_ivf oracle uses (SRP seed cells from shared ±1 literals,
    exact-decimal Lloyd mean, argmin with ties → lower cell), applied
    to list_slice sub-vectors with per-subspace seeds."""
    sub = dim // m
    ctes: list[str] = []
    for s in range(m):
        planes = similarity.rademacher_planes(sub, n_bits, seed + s)
        lo = s * sub

        def bit(plane: list[int], v: str) -> str:
            lits = "[" + ",".join(f"CAST({x}.0 AS DOUBLE)" for x in plane) + "]"
            return (
                f"(CASE WHEN list_sum(list_transform(range(1, {sub + 1}), "
                f"k -> CAST({v}[k] AS DOUBLE) * ({lits})[k])) > 0 "
                f"THEN 1 ELSE 0 END)"
            )

        cell = bit(planes[0], "sv")
        for p in planes[1:]:
            cell = f"({cell} * 2 + {bit(p, 'sv')})"
        l2 = (
            f"list_sum(list_transform(range(1, {sub + 1}), "
            f"k -> (CAST(c.sv[k] AS DOUBLE) - cent{s}.cv[k]) "
            f"* (CAST(c.sv[k] AS DOUBLE) - cent{s}.cv[k])))"
        )
        ctes.append(f"""
        v{s} AS (SELECT vec_id, list_slice(embedding, {lo + 1}, {lo + sub})
                        AS sv FROM embeddings),
        c{s} AS (SELECT vec_id, sv, {cell} AS cell FROM v{s}),
        comp{s} AS (
          SELECT cell, k AS d,
                 CAST(SUM(CAST(CAST(sv[k] AS DOUBLE) AS DECIMAL(38,12)))
                      AS DOUBLE) / COUNT(*) AS m
          FROM c{s}, range(1, {sub + 1}) t(k)
          GROUP BY cell, k
        ),
        cent{s} AS (SELECT cell, list(m ORDER BY d) AS cv
                    FROM comp{s} GROUP BY cell),
        a{s} AS (
          SELECT vec_id, cell AS code_{s} FROM (
            SELECT c.vec_id, cent{s}.cell,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY {l2}, cent{s}.cell) AS rn
            FROM v{s} c CROSS JOIN cent{s}
          ) WHERE rn = 1
        )""")
    joins = " ".join(f"JOIN a{s} USING (vec_id)" for s in range(1, m))
    code_str = " || '|' || ".join(
        f"CAST(code_{s} AS VARCHAR)" for s in range(m)
    )
    code_cols = ", ".join(f"code_{s}" for s in range(m))
    return f"""
        WITH {",".join(ctes)}
        SELECT vec_id, {code_cols}, {code_str} AS code
        FROM a0 {joins}
    """


@query(
    "emb_pq_codes",
    tags=("datapipe", "vector", "pq", "compression"),
    oracle=_sql_pq_codes(),
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (Jégou 2011): 4 subspaces × 16 dims,
    each quantized by the deterministic engine-portable coarse
    quantizer with an independent seed — 256 bytes of float32 → 4
    sub-codes, the compression step behind billion-vector ANN. Codes
    fully value-hash-checked, training included
    (operators/similarity.py::pq_codes)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.pq_codes(
        emb, "vec_id", "embedding", m=_PQ_M, n_bits=_PQ_BITS
    )


# ------------------------------------- CDC keep-latest compaction


@query(
    "etl_keep_latest_event",
    tags=("etl", "cdc", "compaction"),
    oracle="""
        SELECT user_id, event_id, event_type, value,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
        FROM (
          SELECT user_id, event_id, event_type, value,
                 ts,
                 row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """,
)
def etl_keep_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-upsert compaction: the latest event per user from the full
    change log, computed as groupBy + max_by (map-side-combinable
    aggregate — each partition pre-reduces before the shuffle) instead
    of the sort-everything window the oracle spells. (event_id breaks
    ts ties deterministically; operators/diff.py::keep_latest.)"""
    from cqdg_etl_spark.operators.diff import keep_latest

    ev = load(spark, sf_dir, "events")
    out = keep_latest(
        ev,
        keys=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["event_type", "value"],
    )
    return out.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


# ------------------------------------- per-domain deterministic sample

_PG_K = 20


@query(
    "ds_per_group_sample",
    tags=("datapipe", "sampling"),
    oracle=f"""
        SELECT doc_id, lang, src_rank FROM (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(('0x' || substring(md5('pgsample'
                     || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                   doc_id) AS src_rank
          FROM documents
        ) WHERE src_rank <= {_PG_K}
    """,
)
def ds_per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sample (k=20 docs per language): the
    reservoir-sampling analog every eval-set / few-shot builder needs,
    reproducible from the ids alone. Rank comes from the scalable
    per-domain rank (range-partitioned global rank + broadcast offsets,
    operators/ranking.py::per_domain_rank) — NEVER a window partitioned
    by the group column, which would sort a whole domain on one task at
    corpus scale (the oracle spells the window form; values are
    identical)."""
    from cqdg_etl_spark.operators.ranking import per_domain_rank

    docs = load(spark, sf_dir, "documents")
    ranked = per_domain_rank(docs, "doc_id", "lang", salt="pgsample")
    return ranked.filter(F.col("src_rank") <= _PG_K).select(
        "doc_id", "lang", "src_rank"
    )


# ------------------------------------ linear-counting distinct sketch


@query(
    "sk_linear_count_users",
    tags=("datapipe", "sketch", "cardinality"),
    oracle="""
        WITH b AS (
          SELECT DISTINCT
                 CAST(('0x' || substring(md5('lc'
                   || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 4096 AS bit
          FROM events
        ),
        s AS (SELECT count(*) AS n_set FROM b)
        SELECT 4096 AS m, n_set,
               CASE WHEN n_set < 4096
                    THEN round(-4096.0 * ln(1 - n_set / 4096.0), 2)
               END AS estimate
        FROM s
    """,
)
def sk_linear_count_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting cardinality sketch over event users — the
    mergeable DISTINCT-COUNT companion to the CMS frequency sketch:
    a 4096-bit bitmap built as bit_or'd 64-bit words (map-side
    combined; shuffle volume = sketch size, never row count), estimate
    -m·ln(V). Exactly reproducible from the portable hash, so the
    sketch itself is oracle-checked — not just its error bound
    (operators/sketches.py::linear_count)."""
    from cqdg_etl_spark.operators.sketches import linear_count

    ev = load(spark, sf_dir, "events")
    return linear_count(ev, "user_id", m=4096)


# --------------------------------- VARIANT semi-structured extraction


@query(
    "ev_variant_props",
    tags=("events", "json", "variant"),
    oracle="""
        SELECT event_type, k_bucket, count(*) AS n
        FROM (
          SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT)
                 // 10 AS k_bucket
          FROM events
        )
        WHERE k_bucket IS NOT NULL
        GROUP BY event_type, k_bucket
    """,
)
def ev_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured payloads: parse the
    JSON once into the binary VARIANT encoding (``parse_json``), then
    typed ``variant_get`` extraction — the schema-flexible alternative
    to ``from_json`` (ev_json_props) when payload shapes drift: the
    parse doesn't bake in a struct schema, and extraction pushes into
    the scan projection. Decile-bucketed counts per event type."""
    ev = load(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    return (
        # floor-div (matches DuckDB `//` on negatives too, unlike a
        # truncating cast of the double quotient)
        ev.select("event_type", F.floor(k / 10).cast("bigint").alias("k_bucket"))
        .filter(F.col("k_bucket").isNotNull())
        .groupBy("event_type", "k_bucket")
        .agg(F.count("*").alias("n"))
    )


# -------------------------------- custom Python DataSource (Spark 4)

_SRC_N = 2000


def _sql_pysource_stats(n: int = _SRC_N) -> str:
    from cqdg_etl_spark.sources.pysource import LANGS, POOL

    langs = "[" + ",".join(f"'{x}'" for x in LANGS) + "]"
    pool = "[" + ",".join(f"'{x}'" for x in POOL) + "]"
    return f"""
        WITH g AS (
          SELECT i AS doc_id,
                 CAST(('0x' || substring(md5('sd' || CAST(i AS VARCHAR)),
                       1, 15)) AS BIGINT) AS h
          FROM range(0, {n}) t(i)
        ),
        d AS (
          SELECT doc_id,
                 {langs}[(h % 5) + 1] AS lang,
                 5 + (h // 5) % 20 AS n_tokens,
                 array_to_string(
                   list_transform(range(0, CAST(5 + (h // 5) % 20 AS INT)),
                     j -> {pool}[CAST((h // 7 + j * 31) % 32 AS INT) + 1]),
                   ' ') AS text
          FROM g
        )
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
               CAST(sum(CAST(('0x' || substring(md5(text), 1, 15))
                             AS BIGINT) % 1000003) AS BIGINT)
                 AS text_checksum
        FROM d GROUP BY lang
    """


@query(
    "src_pysource_docs_stats",
    tags=("sources", "python-datasource"),
    oracle=_sql_pysource_stats(),
)
def src_pysource_docs_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end check of the custom Python DataSource
    (sources/pysource.py — Spark 4 DataSource API with
    partition-parallel generation and doc_id filter pushdown): read
    2000 generated docs, aggregate per-language counts, token sums and
    an md5 text checksum. The oracle RE-DERIVES the identical corpus
    from range(n) in SQL, so the source's generation — not just its
    row count — is value-hash-checked."""
    from cqdg_etl_spark.sources.pysource import register

    register(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("n_docs", _SRC_N)
        .option("partitions", 16)
        .load()
    )
    chk = (
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
        % 1000003
    )
    return df.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum(chk).alias("text_checksum"),
    )


# ---------------------------------------------- BM25 retrieval top-k

_BM25_Q = ["merge", "scan", "filter", "window"]
_BM25_K = 20


def _sql_bm25(terms: list[str], k: int) -> str:
    qlist = "[" + ",".join(f"'{t}'" for t in terms) + "]"
    toks = SQL_TOKS.format(c="text")
    return f"""
        WITH toks AS (
          SELECT doc_id AS doc, unnest({toks}) AS tok FROM documents
        ),
        dl AS (SELECT doc, count(*) AS dl FROM toks GROUP BY doc),
        stats AS (
          SELECT count(*) AS n_docs,
                 CAST(sum(CAST(dl AS DECIMAL(27,6))) AS DOUBLE) / count(*)
                   AS avgdl
          FROM dl
        ),
        q AS (SELECT unnest({qlist}) AS tok),
        tf AS (
          SELECT doc, tok, count(*) AS tf
          FROM toks JOIN q USING (tok) GROUP BY doc, tok
        ),
        dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        scored AS (
          SELECT doc,
                 round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 6)
                 * (tf * 2.2)
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                   AS term_score
          FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc), stats
        ),
        per_doc AS (
          SELECT doc,
                 round(CAST(sum(CAST(term_score AS DECIMAL(38,18)))
                            AS DOUBLE), 6) AS score
          FROM scored GROUP BY doc
        )
        SELECT doc, score,
               CAST(row_number() OVER (ORDER BY score DESC, doc) AS INT)
                 AS rank
        FROM per_doc ORDER BY score DESC, doc LIMIT {k}
    """


@query(
    "ret_bm25_topk",
    tags=("datapipe", "retrieval", "bm25"),
    oracle=_sql_bm25(_BM25_Q, _BM25_K),
)
def ret_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed 4-term query — the lexical retrieval
    ranker (k1=1.2, b=0.75) used for query-relevant subset mining and
    hard-negative construction. Broadcast query semi-probe, map-side
    tf/df aggregates, one-row corpus stats, exact-decimal score sums,
    TakeOrderedAndProject top-k (operators/retrieval.py)."""
    from cqdg_etl_spark.operators.retrieval import bm25_topk

    docs = load(spark, sf_dir, "documents")
    return bm25_topk(docs, "text", "doc_id", _BM25_Q, k=_BM25_K)


# ------------------------------ hybrid retrieval (RRF fusion)

_RRF_C = 60
_RRF_DEPTH = 50
_RRF_K = 20


def _sql_rrf(terms: list[str], c: int, depth: int, k: int) -> str:
    from cqdg_etl_spark.queries.datapipe import _sql_cos

    lex_inner = _sql_bm25(terms, depth)
    cos = _sql_cos("q.embedding", "c.embedding")
    return f"""
        WITH lex AS (
          SELECT doc AS id, rank AS rank_lex FROM ({lex_inner})
        ),
        vec AS (
          SELECT neighbor_id AS id,
                 CAST(row_number() OVER (ORDER BY cos DESC, neighbor_id)
                      AS INT) AS rank_vec
          FROM (
            SELECT c.vec_id AS neighbor_id, {cos} AS cos
            FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) q
            CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                        WHERE vec_id >= 10) c
          )
          ORDER BY cos DESC, neighbor_id LIMIT {depth}
        ),
        fused AS (
          SELECT coalesce(lex.id, vec.id) AS id,
                 coalesce(1.0 / ({c} + rank_lex), 0.0)
                 + coalesce(1.0 / ({c} + rank_vec), 0.0) AS rrf_raw,
                 coalesce(rank_lex, -1) AS rank_lex,
                 coalesce(rank_vec, -1) AS rank_vec
          FROM lex FULL OUTER JOIN vec ON lex.id = vec.id
        )
        SELECT id, round(rrf_raw, 6) AS rrf,
               rank_lex, rank_vec,
               CAST(row_number() OVER (ORDER BY rrf_raw DESC, id) AS INT)
                 AS rank
        FROM fused ORDER BY rrf_raw DESC, id LIMIT {k}
    """


@query(
    "ret_hybrid_rrf",
    tags=("datapipe", "retrieval", "hybrid", "rrf"),
    oracle=_sql_rrf(_BM25_Q, _RRF_C, _RRF_DEPTH, _RRF_K),
)
def ret_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack et al.,
    SIGIR'09) of the BM25 lexical ranking over documents and the exact
    dense cosine ranking over embeddings (shared id space), rrf =
    Σ 1/(60 + rank). The fusion needs only the two depth-50 rank
    lists — a full-outer join of two tiny frames after each ranker's
    TakeOrderedAndProject — so the hybrid costs no more than its
    parts; the pattern behind every lexical+vector RAG stack."""
    from cqdg_etl_spark.operators.retrieval import bm25_topk
    from cqdg_etl_spark.operators.similarity import brute_force_topk
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, "text", "doc_id", _BM25_Q, k=_RRF_DEPTH).select(
        F.col("doc").alias("id"), F.col("rank").alias("rank_lex")
    )
    vec = brute_force_topk(
        emb.filter(F.col("vec_id") >= 10),
        emb.filter(F.col("vec_id") == 0),
        k=_RRF_DEPTH,
    ).select(F.col("neighbor_id").alias("id"), F.col("rank").alias("rank_vec"))
    fused = lex.join(vec, "id", "full_outer").select(
        "id",
        (
            F.coalesce(1.0 / (_RRF_C + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_C + F.col("rank_vec")), F.lit(0.0))
        ).alias("rrf_raw"),
        F.coalesce("rank_lex", F.lit(-1)).alias("rank_lex"),
        F.coalesce("rank_vec", F.lit(-1)).alias("rank_vec"),
    )
    top = fused.orderBy(F.desc("rrf_raw"), F.asc("id")).limit(_RRF_K)
    w = W.orderBy(F.desc("rrf_raw"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "id",
        F.round("rrf_raw", 6).alias("rrf"),
        "rank_lex",
        "rank_vec",
        "rank",
    )


# -------------------------------- PPJoin prefix-filtered exact dedup


def _sql_ppjoin(t_num: int = 4, t_den: int = 5) -> str:
    from cqdg_etl_spark.queries.datapipe import _sql_shingles

    jac = (
        "CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) "
        "/ (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))"
    )
    return f"""
        WITH s AS (
          SELECT doc_id AS doc, unnest({_sql_shingles('text')}) AS shingle
          FROM documents
        ),
        d0 AS (
          SELECT doc,
                 CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
                   AS h
          FROM s
        ),
        dfq AS (SELECT h, count(*) AS df FROM d0 GROUP BY h),
        ordd AS (
          SELECT doc, list_sort(list(df * 4294967296 + h)) AS ks
          FROM d0 JOIN dfq USING (h) GROUP BY doc
        ),
        pref AS (
          SELECT doc,
                 unnest(list_slice(ks, 1,
                   greatest(len(ks)
                     - (({t_num} * len(ks) + {t_den - 1}) // {t_den})
                     + 1, 1))) AS okey
          FROM ordd
        ),
        cand AS (
          SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
          FROM pref a JOIN pref b
            ON a.okey = b.okey AND a.doc < b.doc
        ),
        sets AS (SELECT doc, list(DISTINCT h) AS hs FROM d0 GROUP BY doc)
        SELECT doc_a, doc_b, round({jac}, 6) AS jaccard
        FROM cand
        JOIN sets x ON x.doc = doc_a
        JOIN sets y ON y.doc = doc_b
        WHERE {jac} >= {t_num / t_den!r}
    """


@query(
    "dd_ppjoin_pairs",
    tags=("datapipe", "dedup", "ppjoin", "prefix-filter"),
    oracle=_sql_ppjoin(),
)
def dd_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard ≥ 0.8 pairs (PPJoin, Xiao
    WWW'08): only each doc's rarest |d|−⌈t·|d|⌉+1 features (global
    (df, h) order) are indexed and self-joined, losslessly removing
    hot-feature posting lists from candidate generation — the exact
    counterpart of the LSH candidate route, same verify step
    (operators/dedup.py::ppjoin_pairs; integer-exact prefix bound)."""
    from cqdg_etl_spark.operators.dedup import ppjoin_pairs

    docs = load(spark, sf_dir, "documents")
    return ppjoin_pairs(docs, "text", "doc_id")


# ----------------------------------------------- PMI collocations


@query(
    "tx_pmi_bigrams",
    tags=("datapipe", "text", "collocations", "pmi"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, {SQL_TOKS.format(c='text')} AS t FROM documents
        ),
        big AS (
          SELECT unnest(list_slice(t, 1, len(t) - 1)) AS w1,
                 unnest(list_slice(t, 2, len(t))) AS w2
          FROM toks WHERE len(t) >= 2
        ),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        c1t AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
                FROM c12 GROUP BY w1),
        c2t AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2
                FROM c12 GROUP BY w2),
        n AS (SELECT CAST(sum(c12) AS BIGINT) AS n_big FROM c12)
        SELECT w1, w2, c12,
               round(ln(CAST(n_big * c12 AS DOUBLE)
                        / CAST(c1 * c2 AS DOUBLE)), 6) AS pmi
        FROM c12 JOIN c1t USING (w1) JOIN c2t USING (w2), n
        WHERE c12 >= 5
        ORDER BY pmi DESC, w1, w2 LIMIT 50
    """,
)
def tx_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise mutual information (Church &
    Hanks CL'90, c12 ≥ 5 guard) — the phrase/vocab-construction miner.
    Three map-side-combined count aggregates (marginals from the
    already-aggregated bigram table), one-row total broadcast, 6-dp ln,
    TakeOrderedAndProject top-k (operators/lm.py::pmi_bigrams)."""
    from cqdg_etl_spark.operators.lm import pmi_bigrams

    docs = load(spark, sf_dir, "documents")
    return pmi_bigrams(docs, "text", "doc_id", min_count=5, k=50)


# ------------------------- equi-depth histogram via scalable rank

_ED_K = 8


@query(
    "pf_equidepth_nchars_by_lang",
    tags=("profile", "histogram", "equi-depth"),
    oracle=f"""
        SELECT lang, bucket, count(*) AS n,
               min(n_chars) AS lo, max(n_chars) AS hi
        FROM (
          SELECT lang, n_chars,
                 CAST(((row_number() OVER (
                          PARTITION BY lang ORDER BY n_chars, doc_id)
                        - 1) * {_ED_K})
                      // (count(*) OVER (PARTITION BY lang)) AS INT)
                   AS bucket
          FROM documents
        )
        GROUP BY lang, bucket
    """,
)
def pf_equidepth_nchars_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language equi-depth histogram (8 buckets) of document
    lengths: bucket = floor((rank−1)·k / n_group) over the (n_chars,
    doc_id) total order — the quantile profile column stores keep for
    data skipping, computed with the scalable per-domain rank (range
    partitions + broadcast offsets; the oracle spells the equivalent
    single-task window). Equi-DEPTH, not equi-width: each bucket holds
    ~n/k rows regardless of the value distribution, so min/max per
    bucket ARE the empirical octile boundaries."""
    from pyspark.sql import Window as W

    from cqdg_etl_spark.operators.ranking import global_rank

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    ranked = global_rank(
        docs,
        [F.col("lang"), F.col("n_chars"), F.col("doc_id")],
        rank_col="_grank",
    )
    base = F.broadcast(
        ranked.groupBy("lang").agg(
            F.min("_grank").alias("_base"),
            F.count("*").alias("_n"),
        )
    )
    bucketed = ranked.join(base, "lang").select(
        "lang",
        "n_chars",
        # integer floor-div, not a double quotient cast: at n beyond
        # ~4e15 a just-under-integer quotient can round UP in IEEE and
        # land one bucket high; DIV is exact at any scale (and is what
        # the oracle's // does)
        F.expr("CAST(((_grank - _base) * 8) DIV _n AS INT)").alias("bucket"),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count("*").alias("n"),
        F.min("n_chars").alias("lo"),
        F.max("n_chars").alias("hi"),
    )


# ----------------------- per-domain feature standardization (z-score)


@query(
    "fe_zscore_by_lang",
    tags=("datapipe", "features", "normalization"),
    oracle="""
        WITH stats AS (
          SELECT lang,
                 CAST(sum(CAST(n_chars AS DECIMAL(27,6))) AS DOUBLE)
                   / count(*) AS mu,
                 count(*) AS n,
                 CAST(sum(CAST(CAST(n_chars AS DOUBLE)
                               * CAST(n_chars AS DOUBLE)
                               AS DECIMAL(38,6))) AS DOUBLE)
                   / count(*) AS m2
          FROM documents GROUP BY lang
        )
        SELECT doc_id, d.lang,
               round((n_chars - mu) / sqrt(m2 - mu * mu), 6) AS z
        FROM documents d JOIN stats USING (lang)
    """,
)
def fe_zscore_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain feature standardization: z-score of document length
    within its language — the per-source normalization quality filters
    need (a 300-char doc is short for English prose, long for CJK).
    One map-side-combined stats aggregate per domain (exact-decimal
    sum and sum-of-squares so mu/sigma are partition-order exact),
    broadcast back onto the corpus — the same one-pass + broadcast
    shape as quantize_int8, but grouped. Population sigma via
    E[X^2] - mu^2."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    stats = docs.groupBy("lang").agg(
        (
            F.sum(F.col("n_chars").cast("decimal(27,6)")).cast("double")
            / F.count("*")
        ).alias("mu"),
        (
            F.sum(
                (
                    F.col("n_chars").cast("double")
                    * F.col("n_chars").cast("double")
                ).cast("decimal(38,6)")
            ).cast("double")
            / F.count("*")
        ).alias("m2"),
    )
    return docs.join(F.broadcast(stats), "lang").select(
        "doc_id",
        "lang",
        F.round(
            (F.col("n_chars") - F.col("mu"))
            / F.sqrt(F.col("m2") - F.col("mu") * F.col("mu")),
            6,
        ).alias("z"),
    )


# ------------------------------------------------ n-gram novelty

from cqdg_etl_spark.queries.datapipe import _sql_shingles as _shingles_sql  # noqa: E402

_sql_shingles_novelty = _shingles_sql("text")


@query(
    "tx_novelty_score",
    tags=("datapipe", "text", "novelty", "quality"),
    oracle=f"""
        WITH s AS (
          SELECT doc_id AS doc, unnest({_sql_shingles_novelty})
            AS shingle FROM documents
        ),
        d0 AS (
          SELECT doc,
                 CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
                   AS h
          FROM s
        ),
        dfq AS (SELECT h, count(*) AS df FROM d0 GROUP BY h)
        SELECT doc,
               count(*) AS n_shingles,
               CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unique,
               round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS novelty
        FROM d0 JOIN dfq USING (h)
        GROUP BY doc
    """,
)
def tx_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-gram shingles that appear NOWHERE else in the corpus — high
    novelty = unique contribution, low = boilerplate/derivative (the
    diversity counterweight to dedup's similarity scores). One shingle
    index + one df aggregate joined back on the 60-bit portable hash;
    both map-side combined."""
    from cqdg_etl_spark.functions.text import word_shingles
    from cqdg_etl_spark.operators.dedup import _spread

    docs = load(spark, sf_dir, "documents")
    idx = _spread(docs).select(
        F.col("doc_id").alias("doc"),
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), 3))
        ).alias("shingle"),
    ).select(
        "doc",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    dfq = idx.groupBy("h").agg(F.count("*").alias("df"))
    uniq = F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
    return (
        idx.join(dfq, "h")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_shingles"),
            uniq.cast("long").alias("n_unique"),
            F.round(
                uniq.cast("double") / F.count("*"), 6
            ).alias("novelty"),
        )
    )


# --------------------------------- modern aggregate-function surface


@query(
    "agg_modern_functions",
    tags=("agg", "function"),
    oracle="""
        SELECT o_orderpriority,
               CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_large,
               bool_and(o_totalprice > 0) AS all_positive,
               bool_or(o_orderstatus = 'F') AS any_finished,
               round(median(o_totalprice), 2) AS med_price
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def agg_modern_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern aggregate-function surface in one query: count_if,
    bool_and/bool_or, and interpolated median (= continuous 0.5
    percentile — both engines average the two middle values on even
    counts, so the 2-dp round is engine-exact). Completes §2.4's
    aggregate family with the functions a reference user coming from
    a warehouse expects."""
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_large"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.round(F.median("o_totalprice"), 2).alias("med_price"),
    )


# ------------------------------------ event transition matrix (Markov)


@query(
    "ev_markov_transitions",
    tags=("events", "sequence", "markov"),
    oracle="""
        WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
          FROM events
        ),
        c AS (
          SELECT event_type AS from_type, next_type AS to_type,
                 count(*) AS n
          FROM seq WHERE next_type IS NOT NULL
          GROUP BY from_type, to_type
        ),
        m AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
              FROM c GROUP BY from_type)
        SELECT from_type, to_type, n,
               round(CAST(n AS DOUBLE) / n_from, 6) AS p
        FROM c JOIN m USING (from_type)
    """,
)
def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next type | current type) from lead() over the
    (ts, event_id) total order — the sequence prior behind
    next-event prediction and anomaly scoring. The per-user window
    partitions by user_id (millions of modest partitions at scale —
    the shape windows are FOR, unlike a single global sort); marginals
    come from the already-aggregated transition counts."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    c = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count("*").alias("n"))
    m = c.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        c.join(F.broadcast(m), "from_type")
        .withColumn("p", F.round(F.col("n").cast("double") / F.col("n_from"), 6))
        .select("from_type", "to_type", "n", "p")
    )
