"""Round-3 training-data queries: semantic dedup (SemDeDup), mixture-
weighted sampling, corpus-trained bigram-LM scoring, and typed JSON
extraction from semi-structured event payloads.

Oracle notes follow the package convention: every float expression is
a fixed left-to-right chain of correctly-rounded IEEE ops shared with
the SQL text, sums accumulate in exact decimal, thresholds go through
explicit floor() — so DuckDB re-derives bit-identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cqdg_etl_spark.operators import similarity
from cqdg_etl_spark.queries.datapipe import SQL_TOKS, _sql_cos
from cqdg_etl_spark.queries.registry import load, query

# ------------------------------------------------- semantic dedup

_SEM_BITS = 4
_SEM_TAU = 0.4
_DIM = 64


def _sql_semantic_prune(
    tau: float, dim: int = _DIM, n_bits: int = _SEM_BITS, seed: int = 42
) -> str:
    """Mirrors operators/similarity.semantic_dedup end to end, training
    included — same deterministic quantizer recipe as the ann_topk_ivf
    oracle (SRP seed cells from shared ±1 literals, exact-decimal
    Lloyd-step means, argmin assignment with ties → lower cell id)."""
    planes = similarity.rademacher_planes(dim, n_bits, seed)

    def bit(plane: list[int], v: str) -> str:
        lits = "[" + ",".join(f"CAST({x}.0 AS DOUBLE)" for x in plane) + "]"
        return (
            f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
            f"k -> CAST({v}[k] AS DOUBLE) * ({lits})[k])) > 0 "
            f"THEN 1 ELSE 0 END)"
        )

    cell = bit(planes[0], "embedding")
    for p in planes[1:]:
        cell = f"({cell} * 2 + {bit(p, 'embedding')})"

    def l2sq(v: str, cv: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"k -> (CAST({v}[k] AS DOUBLE) - {cv}[k]) "
            f"* (CAST({v}[k] AS DOUBLE) - {cv}[k])))"
        )

    cos = _sql_cos("a.embedding", "b.embedding", dim)
    return f"""
        WITH c0 AS (
          SELECT vec_id, embedding, {cell} AS cell FROM embeddings
        ),
        comp AS (
          SELECT cell, k AS d,
                 CAST(SUM(CAST(CAST(embedding[k] AS DOUBLE)
                               AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*) AS m
          FROM c0, range(1, {dim + 1}) t(k)
          GROUP BY cell, k
        ),
        cent AS (SELECT cell, list(m ORDER BY d) AS cv FROM comp GROUP BY cell),
        cassign AS (
          SELECT vec_id, embedding, cell FROM (
            SELECT c.vec_id, c.embedding, cent.cell,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY {l2sq('c.embedding', 'cent.cv')}, cent.cell
                   ) AS rn
            FROM c0 c CROSS JOIN cent
          ) WHERE rn = 1
        ),
        pr AS (
          SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
          FROM cassign a JOIN cassign b USING (cell)
          WHERE a.vec_id < b.vec_id AND {cos} >= {tau!r}
          GROUP BY b.vec_id
        )
        SELECT c.vec_id, c.cell,
               coalesce(pr.dup_of, CAST(-1 AS BIGINT)) AS dup_of
        FROM cassign c LEFT JOIN pr USING (vec_id)
    """


@query(
    "dd_semantic_prune",
    tags=("datapipe", "dedup", "vector", "semdedup"),
    oracle=_sql_semantic_prune(_SEM_TAU),
)
def dd_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023): IVF-cell
    clustering confines the quadratic cosine compare to bounded cells;
    within a cell, keep-lowest-id prunes near-duplicates with
    cos ≥ 0.4. One row per vector with its cell and dup_of (-1 = kept).
    Fully oracle-checked, training included.

    n_bits derives from the corpus size via
    ``similarity.derive_cell_bits`` (SCALE_PROBE_r05.md finding #2: the
    previously fixed n_bits=4 measured exponent 2.24 over x1→x10; the
    2^n_bits ∝ n prescription measures 0.61 at identical output — the
    knob divides work, no recall trade). For every corpus of ≤ 2000
    vectors — all harness SFs, where the oracle is evaluated — the
    derivation returns exactly _SEM_BITS=4, so the SQL oracle (which
    re-derives the 2^4-cell quantizer) is the derived config. The
    sizing count() is a parquet metadata read."""
    import os

    emb = load(spark, sf_dir, "embeddings")
    n_bits = similarity.derive_cell_bits(emb.count(), base_bits=_SEM_BITS)
    # Oracle-pin guard (ADVICE r6 #3): the SQL oracle re-derives the
    # quantizer at 2^_SEM_BITS cells, which matches the derivation for
    # every corpus of <= 2000 vectors. Beyond that the derived n_bits
    # diverges from the pinned oracle — fail loudly rather than let an
    # oracle comparison silently mismatch. Scale probes opt in via
    # CQDG_SCALE_DERIVE=1; production callers use
    # similarity.semantic_dedup + derive_cell_bits directly.
    if n_bits != _SEM_BITS and os.environ.get("CQDG_SCALE_DERIVE") != "1":
        raise ValueError(
            f"dd_semantic_prune: derived n_bits={n_bits} diverges from "
            f"the n_bits={_SEM_BITS} config pinned in this query's "
            "oracle (corpus > 2000 vectors). Set CQDG_SCALE_DERIVE=1 "
            "for scale runs, or call similarity.semantic_dedup with "
            "derive_cell_bits for production corpora."
        )
    return similarity.semantic_dedup(emb, threshold=_SEM_TAU, n_bits=n_bits)


# --------------------------------------- mixture-weighted sampling

_MIX_W = {"en": 0.4, "fr": 0.15, "es": 0.15, "de": 0.15, "zh": 0.15}


def _sql_mixture_sample(weights: dict[str, float], salt: str = "mix") -> str:
    vals = ", ".join(
        f"('{k}', CAST({v!r} AS DOUBLE))" for k, v in weights.items()
    )
    return f"""
        WITH counts AS (
          SELECT lang, count(*) AS n_domain FROM documents GROUP BY lang
        ),
        w AS (SELECT * FROM (VALUES {vals}) t(lang, w)),
        cw AS (SELECT c.lang, c.n_domain, w.w FROM counts c JOIN w USING (lang)),
        nt AS (
          SELECT min(CAST(floor(CAST(n_domain AS DOUBLE) / w) AS BIGINT))
                 AS n_target
          FROM cw
        ),
        r AS (
          SELECT lang, n_domain,
                 CAST(floor(CAST(n_target AS DOUBLE) * w
                            / CAST(n_domain AS DOUBLE)
                            * 4294967296.0) AS BIGINT) AS thr
          FROM cw, nt
        )
        SELECT d.lang, r.n_domain, count(*) AS n_sampled
        FROM documents d JOIN r USING (lang)
        WHERE CAST(('0x' || substring(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) < r.thr
        GROUP BY d.lang, r.n_domain
    """


@query(
    "ds_mixture_weighted_sample",
    tags=("datapipe", "sampling", "mixture"),
    oracle=_sql_mixture_sample(_MIX_W),
)
def ds_mixture_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest deterministic sample matching a target language mixture
    (en 40% / fr,es,de,zh 15% each): per-domain keep-rates derived from
    the binding domain's cap, membership by md5 bucket. Counts per
    lang; exact-assignment parity with the oracle."""
    from cqdg_etl_spark.operators.sampling import mixture_weighted_sample

    docs = load(spark, sf_dir, "documents")
    return (
        mixture_weighted_sample(docs, "doc_id", "lang", _MIX_W)
        .groupBy("lang", "n_domain")
        .agg(F.count("*").alias("n_sampled"))
    )


# ------------------------------------------------ bigram LM scoring


@query(
    "tx_bigram_lm_score",
    tags=("datapipe", "text", "lm", "quality"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, {SQL_TOKS.format(c='text')} AS t FROM documents
        ),
        big AS (
          SELECT doc_id,
                 unnest(list_slice(t, 1, len(t) - 1)) AS w1,
                 unnest(list_slice(t, 2, len(t))) AS w2
          FROM toks WHERE len(t) >= 2
        ),
        bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        pc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1),
        v AS (
          SELECT count(DISTINCT tok) AS vocab
          FROM (SELECT unnest(t) AS tok FROM toks)
        ),
        scored AS (
          SELECT big.doc_id,
                 CAST(c12 + 1 AS DOUBLE) / CAST(c1 + vocab AS DOUBLE) AS p
          FROM big JOIN bc USING (w1, w2) JOIN pc USING (w1) CROSS JOIN v
        )
        SELECT doc_id, count(*) AS n_bigrams,
               round(CAST(sum(CAST(p AS DECIMAL(38,18))) AS DOUBLE)
                     / count(*), 6) AS mean_condp
        FROM scored GROUP BY doc_id
    """,
)
def tx_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one bigram LM: per-document mean conditional
    probability (engine-exact ratio-of-counts form — see operators/lm.py
    for why not log-space). Low scores = surprising/low-quality text."""
    from cqdg_etl_spark.operators.lm import bigram_lm_scores

    docs = load(spark, sf_dir, "documents")
    return bigram_lm_scores(docs, "text", "doc_id")


# --------------------------------------- semi-structured extraction


@query(
    "ev_json_props",
    tags=("events", "json"),
    oracle="""
        SELECT event_type,
               count(k) AS n,
               CAST(sum(k) AS BIGINT) AS k_sum,
               min(k) AS k_min,
               max(k) AS k_max
        FROM (
          SELECT event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events
        )
        GROUP BY event_type
    """,
)
def ev_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the semi-structured ``props`` JSON payload
    (``from_json`` with an explicit schema — the parse happens once in
    the scan projection, stays whole-stage-codegen, and malformed JSON
    degrades to NULL on both engines) + per-type aggregate."""
    ev = load(spark, sf_dir, "events")
    j = F.from_json(
        F.col("props"), T.StructType([T.StructField("k", T.LongType())])
    )
    return (
        ev.select("event_type", j["k"].alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


# --------------------------------------------- repeated-span dedup

_SPAN_W = 8


@query(
    "dd_span_dedup",
    tags=("datapipe", "dedup", "span"),
    oracle=f"""
        WITH t AS (
          SELECT doc_id, {{toks}} AS toks FROM documents
        ), e AS (
          SELECT doc_id, toks,
                 unnest(range(1, greatest(CAST(ceil(len(toks) / {_SPAN_W}.0)
                                               AS INT), 1) + 1)) AS i
          FROM t
        ), spans AS (
          SELECT doc_id,
                 md5(array_to_string(
                   list_slice(toks, (i - 1) * {_SPAN_W} + 1,
                              (i - 1) * {_SPAN_W} + {_SPAN_W}), ' ')) AS h,
                 least(len(toks) - (i - 1) * {_SPAN_W}, {_SPAN_W}) AS n_tokens,
                 doc_id * {1 << 20} + (i - 1) AS pos_key
          FROM e
        ), firsts AS (
          SELECT h, min(pos_key) AS first_key FROM spans GROUP BY h
        )
        SELECT doc_id,
               count(*) AS n_spans,
               CAST(sum(CASE WHEN pos_key = first_key THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN pos_key = first_key THEN n_tokens
                             ELSE 0 END) AS BIGINT) AS n_tokens_kept
        FROM spans JOIN firsts USING (h)
        GROUP BY doc_id
    """.format(toks=SQL_TOKS.format(c="text")),
)
def dd_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span suppression (Lee et al. 2022 analog): disjoint
    8-token spans, global first occurrence kept, per-doc survival
    stats. First-occurrence resolution is a min window over one span-
    hash exchange (see operators/dedup.span_dedup for the r11 change
    note)."""
    from cqdg_etl_spark.operators.dedup import span_dedup

    docs = load(spark, sf_dir, "documents")
    return span_dedup(docs, "text", "doc_id", span_tokens=_SPAN_W)


# ------------------------------------------------ graph analytics


def _sql_pagerank_coparts(iterations: int = 5, damping: float = 0.85) -> str:
    """Unrolled power iteration (DuckDB disallows aggregates in a
    recursive CTE term, so the fixed iteration count is generated as a
    CTE chain). Embeds repr(1 - damping) verbatim: 1 - 0.85 in IEEE
    double is 0.15000000000000002, and the oracle must use the exact
    literal the Spark side computes or the last ulp flips the hash."""
    tele, d = repr(1.0 - damping), repr(damping)
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(f"""
        s{i} AS (
          SELECT e.dst AS node,
                 SUM(CAST(r.rank / CAST(e.out_deg AS DOUBLE)
                          AS DECIMAL(38,18))) AS sumc
          FROM {prev} r JOIN adj e ON r.node = e.src
          GROUP BY e.dst
        ),
        r{i} AS (
          SELECT n.node,
                 CAST({tele} AS DOUBLE) / CAST(nn.n AS DOUBLE)
                 + CAST({d} AS DOUBLE)
                   * CAST(coalesce(s.sumc, CAST(0 AS DECIMAL(38,18)))
                          AS DOUBLE) AS rank
          FROM nodes n LEFT JOIN s{i} s ON n.node = s.node, nn
        )""")
        prev = f"r{i}"
    return f"""
        WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM op a JOIN op b USING (l_orderkey)
          WHERE a.l_partkey < b.l_partkey
        ),
        adj0 AS (
          SELECT src, dst FROM pairs
          UNION ALL SELECT dst, src FROM pairs
        ),
        deg AS (SELECT src, count(*) AS out_deg FROM adj0 GROUP BY src),
        adj AS (SELECT a.src, a.dst, d.out_deg
                FROM adj0 a JOIN deg d USING (src)),
        nodes AS (SELECT DISTINCT src AS node FROM adj0),
        nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (
          SELECT node, CAST(1.0 AS DOUBLE) / CAST(n AS DOUBLE) AS rank
          FROM nodes, nn
        ),{",".join(steps)}
        SELECT node, round(rank * CAST(nn.n AS DOUBLE), 6) AS rank_rel
        FROM {prev}, nn
    """


@query(
    "graph_pagerank_coparts",
    tags=("graph", "pagerank", "iterative"),
    oracle=_sql_pagerank_coparts(),
)
def graph_pagerank_coparts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 fixed iterations, damping 0.85) over the part
    co-purchase graph — parts are linked when they appear in the same
    order. The iterative Pregel-shaped plan: 2 shuffles per round,
    exact-decimal contribution sums, lineage truncated per round.
    Fully oracle-checked (unrolled power iteration in SQL) — fixed
    iteration counts make even iterative algorithms hash-matchable."""
    from cqdg_etl_spark.operators.graph import pagerank

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    edges = pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(edges, iterations=5, damping=0.85)


# -------------------------------------------- fuzzy record linkage


@query(
    "dd_fuzzy_name_pairs",
    tags=("datapipe", "dedup", "fuzzy", "linkage"),
    oracle="""
        WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
        vars AS (
          SELECT id,
                 unnest(list_append(list_transform(range(1, length(s) + 1),
                   i -> substr(s, 1, i - 1) || substr(s, i + 1)), s)) AS v
          FROM c
        ),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM vars a JOIN vars b ON a.v = b.v AND a.id < b.id
        )
        SELECT id_a, id_b,
               CAST(levenshtein(ca.s, cb.s) AS BIGINT) AS dist
        FROM cand JOIN c ca ON id_a = ca.id JOIN c cb ON id_b = cb.id
        WHERE levenshtein(ca.s, cb.s) <= 1
    """,
)
def dd_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage on customer names: pairs within Levenshtein
    distance 1, found via SymSpell deletion-neighborhood blocking
    (exact recall at distance 1, no cartesian) + levenshtein verify —
    the entity-resolution primitive for catalog/CRM dedup."""
    from cqdg_etl_spark.operators.dedup import fuzzy_self_pairs

    cust = load(spark, sf_dir, "customer")
    return fuzzy_self_pairs(cust, "c_name", "c_custkey", max_dist=1)


@query(
    "graph_triangle_counts",
    tags=("graph", "triangles"),
    oracle="""
        WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
          FROM op a JOIN op b USING (l_orderkey)
          WHERE a.l_partkey < b.l_partkey
        ),
        deg AS (
          SELECT node, count(*) AS d FROM
            (SELECT x AS node FROM pairs UNION ALL SELECT y FROM pairs)
          GROUP BY node
        ),
        o AS (
          SELECT CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND x < y)
                      THEN x ELSE y END AS u,
                 CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND x < y)
                      THEN y ELSE x END AS v
          FROM pairs JOIN deg dx ON dx.node = x JOIN deg dy ON dy.node = y
        ),
        w AS (
          SELECT a.u, a.v AS p, b.v AS q
          FROM o a JOIN o b USING (u) WHERE a.v <> b.v
        ),
        t AS (SELECT w.u, w.p, w.q FROM w JOIN o ON o.u = w.p AND o.v = w.q)
        SELECT node, count(*) AS n_triangles
        FROM (SELECT u AS node FROM t
              UNION ALL SELECT p FROM t
              UNION ALL SELECT q FROM t)
        GROUP BY node
    """,
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the co-purchase graph via the
    degree-oriented FORWARD algorithm (operators/graph.py::
    triangle_counts) — out-degrees bounded O(√m) by orientation, so
    the wedge join survives hot-hub skew. Exact integer counts,
    hash-checked."""
    from cqdg_etl_spark.operators.graph import triangle_counts

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b"))
        .distinct()
    )
    return triangle_counts(pairs)


# ------------------------------- window/grouping surface completion


@query(
    "agg_grouping_sets_mix",
    tags=("agg", "grouping-sets"),
    oracle="""
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the two single-dimension marginals +
    grand total, WITHOUT the full cross product CUBE would add) — one
    Expand + one hash aggregate, one shuffle. Uses the SQL surface;
    completes the cube/rollup/pivot/unpivot family."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               count(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


@query(
    "ev_range_frame_hourly_avg",
    tags=("events", "window", "range-frame"),
    oracle="""
        SELECT user_id, event_id,
               CAST(count(*) OVER w AS BIGINT) AS n_in_hour,
               round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                     / count(*) OVER w, 4) AS avg_1h
        FROM (SELECT user_id, event_id, value,
                     epoch_us(ts) // 1000000 AS sec FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY sec
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def ev_range_frame_hourly_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-range window frame (RANGE BETWEEN 3600 PRECEDING on event
    seconds): each event's average over the preceding hour of the SAME
    user's activity — the time-decay feature the ROWS-frame moving
    average can't express. The frame is a SET (ties in the sort key
    share one frame), so the mean accumulates in exact decimal — a
    double sum's value would depend on each engine's tie order."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        # integer div, not double-div-then-cast: the oracle's `//` is
        # exact and a rounded double quotient can truncate differently
        F.expr("unix_micros(ts) div 1000000").alias("sec"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, W.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_in_hour"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.count("*").over(w),
            4,
        ).alias("avg_1h"),
    )


# ------------------------------- grouped-map Pandas (applyInPandas)


@query(
    "ev_group_order_stats_pandas",
    tags=("events", "pandas", "grouped-map"),
    oracle="""
        WITH s AS (
          SELECT user_id, value,
                 row_number() OVER (PARTITION BY user_id ORDER BY value) AS rn,
                 count(*) OVER (PARTITION BY user_id) AS n
          FROM events
        )
        SELECT user_id,
               CAST(max(n) AS BIGINT) AS n,
               max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med_lo,
               max(CASE WHEN rn = n // 2 + 1 THEN value END) AS med_hi,
               min(value) AS v_min,
               max(value) AS v_max
        FROM s GROUP BY user_id
    """,
)
def ev_group_order_stats_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user order statistics via grouped-map ``applyInPandas`` —
    the whole-group-as-DataFrame Python API class (scalar pandas_udf
    and applyInPandasWithState are covered elsewhere). Outputs are
    sorted-multiset SELECTIONS, not float accumulations, so the result
    is row-order independent and exactly oracle-checkable."""
    from cqdg_etl_spark.operators.pandas_ops import grouped_order_stats

    ev = load(spark, sf_dir, "events")
    return grouped_order_stats(ev, "user_id", "value")


# ---------------------------------- deterministic corpus shuffling


@query(
    "ds_deterministic_shuffle",
    tags=("datapipe", "sampling", "ordering"),
    oracle="""
        SELECT doc_id,
               CAST(row_number() OVER (
                 ORDER BY CAST(('0x' || substring(md5('shuffle'
                   || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                 doc_id) AS BIGINT) AS shuffle_rank
        FROM documents
    """,
)
def ds_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global corpus shuffle for training-example order:
    rank by md5 hash of the id (engine-portable, resumable by rank
    range). Computed with the scalable two-pass global rank
    (operators/ranking.py) — range partitions + per-partition windows
    + broadcast offsets, never a single-task ORDER BY."""
    from cqdg_etl_spark.operators.ranking import deterministic_shuffle

    docs = load(spark, sf_dir, "documents")
    return deterministic_shuffle(docs, "doc_id").select(
        "doc_id", "shuffle_rank"
    )


# ----------------------------------------- hashing-trick features

_HT_BUCKETS = 64


@query(
    "fe_hashing_trick",
    tags=("datapipe", "features"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, unnest({SQL_TOKS.format(c='text')}) AS tok
          FROM documents
        ),
        b AS (
          SELECT doc_id,
                 CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT)
                   % {_HT_BUCKETS} AS bucket
          FROM toks
        ),
        bc AS (
          SELECT doc_id, bucket, count(*) AS c
          FROM b GROUP BY doc_id, bucket
        )
        SELECT doc_id,
               string_agg(CAST(bucket AS VARCHAR) || ':' || CAST(c AS VARCHAR),
                          ',' ORDER BY bucket) AS features
        FROM bc GROUP BY doc_id
    """,
)
def fe_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009): tokens
    hash into a fixed 64-bucket space, per-doc bucket counts serialize
    as sorted "bucket:count" pairs — the bounded-vocabulary sparse
    feature vector for linear/quality models at corpus scale. All
    integer ops on the portable md5-derived token hash; single
    groupBy, map-side combined."""
    from cqdg_etl_spark.functions.text import normalize_ws, tokens

    docs = load(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.explode(tokens(normalize_ws(F.col("text")))).alias("tok")
    )
    bucketed = toked.select(
        "doc_id",
        F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"),
            F.lit(_HT_BUCKETS),
        ).alias("bucket"),
    )
    counts = bucketed.groupBy("doc_id", "bucket").agg(F.count("*").alias("c"))
    return counts.groupBy("doc_id").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "c"))),
                lambda s: F.concat_ws(
                    ":", s["bucket"].cast("string"), s["c"].cast("string")
                ),
            ),
        ).alias("features")
    )
