"""Registry queries for the document-quality curation operators
(operators/quality.py): Gopher repetition metrics, C4 rule flags, PII
redaction, and canonical-per-duplicate-cluster selection.

Oracle conventions follow queries/datapipe.py: fractions rounded to
6dp on both sides, counts as BIGINT, token/shingle SQL fragments
mirror functions/text.py exactly (multiset shingles here — no
list_distinct — because repetition metrics count occurrences).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.operators import quality
from cqdg_etl_spark.queries.datapipe import SQL_NORM, SQL_TOKS, _sql_shingles
from cqdg_etl_spark.queries.registry import load, query


def _sql_multiset_shingles(c: str, n: int) -> str:
    """Multiset n-word shingles (keeps duplicates, unlike _sql_shingles)."""
    toks = SQL_TOKS.format(c=c)
    return (
        f"list_transform("
        f"range(1, greatest(len({toks}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )


@query(
    "tx_repetition_metrics",
    tags=("datapipe", "text", "quality"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, {SQL_TOKS.format(c='text')} AS t FROM documents
        ), base AS (
          SELECT doc_id, len(t) AS n_tokens,
                 round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
                   AS distinct_token_ratio
          FROM toks
        ), bi AS (
          SELECT doc_id, unnest({_sql_multiset_shingles('text', 2)}) AS g
          FROM documents
        ), bic AS (
          SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g
        ), bis AS (
          SELECT doc_id,
                 round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac,
                 round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                       / sum(c), 6) AS dup_bigram_frac
          FROM bic GROUP BY doc_id
        ), tri AS (
          SELECT doc_id, unnest({_sql_multiset_shingles('text', 3)}) AS g
          FROM documents
        ), tric AS (
          SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g
        ), tris AS (
          SELECT doc_id,
                 round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                       / sum(c), 6) AS dup_trigram_frac
          FROM tric GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, distinct_token_ratio,
               top_bigram_frac, dup_bigram_frac, dup_trigram_frac
        FROM base JOIN bis USING (doc_id) JOIN tris USING (doc_id)
    """,
)
def tx_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-document repetition metrics over `documents`.

    The operator itself is shuffle-free (per-row array math), so its
    parallelism equals the scan's split count. The local fixture is a
    single parquet row group — one split — so we pay one round-robin
    repartition of the raw text (tiny vs the per-doc compute) to fan
    out across cores. At 100 TB the corpus has thousands of row groups
    and the repartition is unnecessary; a deployment would drop it.
    """
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return quality.repetition_metrics(docs, "text", "doc_id")


@query(
    "tx_c4_rule_filter",
    tags=("datapipe", "text", "quality"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, lower(text) AS lowered,
                 {SQL_TOKS.format(c='text')} AS t
          FROM documents
        ), m AS (
          SELECT doc_id, len(t) AS n_words,
                 round(CAST(list_sum(list_transform(t, x -> len(x)))
                            AS DOUBLE) / len(t), 6) AS mean_word_len,
                 lowered
          FROM toks
        )
        SELECT doc_id, n_words, mean_word_len,
               (n_words >= 30 AND n_words <= 10000) AS len_ok,
               (mean_word_len >= 2.0 AND mean_word_len <= 10.0) AS word_len_ok,
               NOT contains(lowered, '{{') AS no_brace,
               NOT contains(lowered, 'lorem ipsum') AS no_lorem,
               ((n_words >= 30 AND n_words <= 10000)
                AND (mean_word_len >= 2.0 AND mean_word_len <= 10.0)
                AND NOT contains(lowered, '{{')
                AND NOT contains(lowered, 'lorem ipsum')) AS keep
        FROM m
    """,
)
def tx_c4_rule_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style rule flags per document — one shuffle-free projection."""
    docs = load(spark, sf_dir, "documents")
    return quality.c4_rule_flags(docs, "text", "doc_id")


# PII synthesis: the harness corpus is clean word-salad, so both engines
# append identical deterministic PII-shaped suffixes before redaction —
# the machinery under test is the regex chain, not the corpus.
def _synth_pii_spark(docs: DataFrame) -> DataFrame:
    d = F.col("doc_id")
    synth = F.concat(
        F.col("text"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit(" contact none")),
        F.when(
            d % 2 == 0,
            F.concat(F.lit(" ip 10.0."), (d % 256).cast("string"), F.lit(".1")),
        ).otherwise(F.lit("")),
        F.lit(" call 555-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
    )
    return docs.select("doc_id", synth.alias("text"))


_PII_SYNTH_SQL = """
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 3 = 0
                         THEN ' contact user' || CAST(doc_id AS VARCHAR)
                              || '@example.com'
                         ELSE ' contact none' END
                 || CASE WHEN doc_id % 2 = 0
                         THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                              || '.1'
                         ELSE '' END
                 || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   AS text
          FROM documents
"""

_EMAIL_RE_SQL = quality.EMAIL_RE
_IPV4_RE_SQL = quality.IPV4_RE
_PHONE_RE_SQL = quality.PHONE_RE


@query(
    "tx_pii_redaction",
    tags=("datapipe", "text", "quality"),
    oracle=f"""
        WITH synth AS ({_PII_SYNTH_SQL})
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '{_EMAIL_RE_SQL}', '<EMAIL>', 'g'),
                   '{_IPV4_RE_SQL}', '<IP>', 'g'),
                 '{_PHONE_RE_SQL}', '<PHONE>', 'g') AS redacted,
               CAST(len(regexp_extract_all(text, '{_EMAIL_RE_SQL}')) AS BIGINT)
                 AS n_emails,
               CAST(len(regexp_extract_all(text, '{_IPV4_RE_SQL}')) AS BIGINT)
                 AS n_ips,
               CAST(len(regexp_extract_all(text, '{_PHONE_RE_SQL}')) AS BIGINT)
                 AS n_phones
        FROM synth
    """,
)
def tx_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4s / phone tokens) with match counts
    over deterministically synthesized PII-bearing text."""
    docs = load(spark, sf_dir, "documents")
    return quality.redact_pii(_synth_pii_spark(docs), "text", "doc_id")


@query(
    "dd_canonical_per_cluster",
    tags=("datapipe", "dedup", "graph"),
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
        SELECT d.doc_id,
               coalesce(c.component, d.doc_id) AS component,
               (row_number() OVER (
                  PARTITION BY coalesce(c.component, d.doc_id)
                  ORDER BY d.n_chars DESC, d.doc_id ASC) = 1) AS is_canonical
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
)
def dd_canonical_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup resolution: near-dup pairs (exact 3-gram
    Jaccard ≥ 0.8) → connected components → keep-best winner per
    cluster (max n_chars, ties → min doc_id); singletons keep
    themselves."""
    from cqdg_etl_spark.operators import dedup
    from cqdg_etl_spark.operators.graph import connected_components_auto

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8)
    comp = connected_components_auto(pairs, "doc_a", "doc_b")
    return quality.canonical_per_cluster(docs, comp, "doc_id", "n_chars")


@query(
    "tx_top_bigrams",
    tags=("datapipe", "text", "topk"),
    oracle=f"""
        WITH grams AS (
          SELECT unnest({_sql_multiset_shingles('text', 2)}) AS gram
          FROM documents
        )
        SELECT gram, count(*) AS cnt
        FROM grams GROUP BY gram
        ORDER BY cnt DESC, gram ASC LIMIT 100
    """,
)
def tx_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-100 bigrams by occurrence (TakeOrderedAndProject —
    per-partition heaps, no full sort)."""
    from cqdg_etl_spark.operators.textstats import top_ngrams

    docs = load(spark, sf_dir, "documents")
    return top_ngrams(docs, "text", n=2, k=100)


@query(
    "pf_profile_orders",
    tags=("datapipe", "profile"),
    oracle="""
        SELECT 'o_orderstatus' AS "column",
               count(o_orderstatus) AS n_nonnull,
               CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               count(DISTINCT o_orderstatus) AS n_distinct,
               CAST(min(o_orderstatus) AS VARCHAR) AS min_str,
               CAST(max(o_orderstatus) AS VARCHAR) AS max_str
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(o_orderpriority),
               CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_orderpriority),
               CAST(min(o_orderpriority) AS VARCHAR),
               CAST(max(o_orderpriority) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_custkey', count(o_custkey),
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_custkey),
               CAST(min(o_custkey) AS VARCHAR),
               CAST(max(o_custkey) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', count(o_orderdate),
               CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_orderdate),
               strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
               strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S')
        FROM orders
    """,
)
def pf_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan, single-aggregate profile of 4 orders columns
    (nulls / exact ndv / min / max, long format). The oracle's 4-scan
    UNION ALL states the same semantics; the engine's point is doing
    it in one pass."""
    from cqdg_etl_spark.operators.profile import profile_columns

    orders = load(spark, sf_dir, "orders")
    return profile_columns(
        orders, ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate"]
    )


@query(
    "emb_label_centroids",
    tags=("datapipe", "vectors"),
    oracle="""
        WITH pos AS (
          SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
        ), per_dim AS (
          SELECT label, pos, avg(v) AS m FROM pos GROUP BY label, pos
        )
        SELECT label,
               array_to_string(
                 list(CAST(CAST(round(m, 6) AS DECIMAL(18,6)) AS VARCHAR)
                      ORDER BY pos), ',') AS centroid_str
        FROM per_dim GROUP BY label
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label, serialized in dimension
    order as fixed-6dp decimals."""
    from cqdg_etl_spark.operators.similarity import label_centroids

    emb = load(spark, sf_dir, "embeddings")
    return label_centroids(emb, "label", "embedding")


@query(
    "pf_histogram_totalprice",
    tags=("datapipe", "profile"),
    oracle="""
        WITH b AS (
          SELECT CAST(CASE WHEN o_totalprice < 0 THEN -1
                           WHEN o_totalprice >= 600000 THEN 20
                           ELSE floor(o_totalprice / 30000.0) END AS BIGINT)
                   AS bucket
          FROM orders
        )
        SELECT bucket,
               round(bucket * 30000.0, 6) AS lo_edge,
               round((bucket + 1) * 30000.0, 6) AS hi_edge,
               count(*) AS cnt
        FROM b GROUP BY bucket
    """,
)
def pf_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of o_totalprice (20 buckets over
    [0, 600000) + under/overflow): single scan, per-partition local
    histograms merged through one tiny exchange."""
    from cqdg_etl_spark.operators.profile import fixed_histogram

    orders = load(spark, sf_dir, "orders")
    return fixed_histogram(orders, "o_totalprice", 0.0, 600000.0, 20)


@query(
    "emb_quantize_int8",
    tags=("datapipe", "vectors"),
    oracle="""
        WITH e AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                 generate_subscripts(embedding, 1) AS d
          FROM embeddings
        ), mm AS (
          SELECT d, min(v) AS mn, max(v) AS mx FROM e GROUP BY d
        ), q AS (
          SELECT vec_id, e.d,
                 CASE WHEN mx = mn THEN 0
                      ELSE CAST(least(255.0,
                             floor((v - mn) / (mx - mn) * 256.0)) AS INT) - 128
                 END AS code
          FROM e JOIN mm USING (d)
        )
        SELECT vec_id, string_agg(code::VARCHAR, ',' ORDER BY d) AS codes
        FROM q GROUP BY vec_id
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embeddings table: one
    aggregation pass learns per-dimension [min, max], a broadcast-back
    map-side transform emits the codes — no second shuffle, no UDF."""
    from cqdg_etl_spark.operators.similarity import quantize_int8

    emb = load(spark, sf_dir, "embeddings")
    return quantize_int8(emb, "vec_id", "embedding")
