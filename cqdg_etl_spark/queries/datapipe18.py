"""Registry batch 18 (8 queries), registered through ``registry.query``.

Each query carries a full DuckDB value-hash oracle, checked by
tests/test_correctness.py; tests/test_datapipe18.py (nightly lane) adds
adversarial fixtures run through both engines. Their reviewed plan-shape
exceptions live in tests/test_plan_lint.py. The BFS x20 scale gate is
recorded in SCALE_PROBE_r09.

Batch theme: the EVALUATION layer of a training-data pipeline — the
metrics that judge what the dedup/sampling/retrieval passes produced.
Weight-of-evidence + information value (the feature-screening encode
behind every credit-risk-style tabular model), single changepoint
detection on the event stream (CUSUM argmax — did the distribution
shift, and when), modularity of a labeling on the co-purchase graph
(is this partition better than chance), multi-source BFS hop
distances (how far is everything from the hubs), nDCG@10 of the BM25
ranker against graded term-overlap relevance (the standard ranking
quality metric), column-pair mutual information (which dimensions are
actually dependent), linear multi-touch attribution over the event
stream (which channels cause conversions), and a perceptual dHash
index over fake-decoded media payloads (the multimodal arm of
near-dup detection). No reference counterpart
(Ferlab-Ste-Justine/cqdg-etl has no analytics of this kind); every
shape is chosen for the 100-TB target and documented per query.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from cqdg_etl_spark.queries.datapipe import SQL_TOKS
from cqdg_etl_spark.queries.datapipe4 import _BM25_Q, _sql_bm25
from cqdg_etl_spark.queries.registry import load, query


def _q6(col):
    """floor(x·1e6+0.5)/1e6 — the engine-exact 6-dp quantization used
    fleet-wide (pure IEEE ops; round()-on-double is implementation-
    defined at half boundaries)."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


# NOTE the parentheses around {x}: without them a subtraction-tailed
# expression binds the *1e6 to its last term only (the round-8
# modularity bug) — Spark's Column arithmetic parenthesizes
# automatically, so only the SQL side was wrong.
_SQL_Q6 = "floor(({x}) * 1000000.0 + 0.5) / 1000000.0"


# ------------------------------------ WOE / information value


@query(
    "fe_woe_information_value",
    tags=("datapipe", "features", "encoding"),
    oracle=f"""
        WITH c AS (
          SELECT o_orderpriority AS category,
                 CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_good,
                 CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_bad
          FROM orders GROUP BY o_orderpriority
        ),
        tot AS (
          SELECT CAST(sum(n_good) AS BIGINT) AS g,
                 CAST(sum(n_bad) AS BIGINT) AS b
          FROM c
        ),
        w AS (
          SELECT category, n_good, n_bad,
                 (CAST(n_good AS DOUBLE) + 0.5) / CAST(g AS DOUBLE) AS dg,
                 (CAST(n_bad AS DOUBLE) + 0.5) / CAST(b AS DOUBLE) AS db
          FROM c, tot
        ),
        w2 AS (
          SELECT category, n_good, n_bad, dg, db,
                 {_SQL_Q6.format(x="ln(dg / db)")} AS woe
          FROM w
        )
        SELECT category, n_good, n_bad, woe,
               {_SQL_Q6.format(x="(dg - db) * woe")} AS iv_term
        FROM w2 ORDER BY category
    """,
)
def fe_woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence + information value of o_orderpriority
    against the binary target o_orderstatus = 'F' — the standard
    feature-screening encode (0.5-smoothed so empty cells stay
    finite): woe = ln((g_i+½)/G ÷ (b_i+½)/B), iv_term = (dg−db)·woe
    with the 6-dp-quantized woe (Σ iv_term is the feature's IV).

    Scale shape: ONE map-side-combinable groupBy over the category
    domain + a 1-row (G, B) scalar broadcast fanned back onto the
    category frame — the reviewed bounded-BNLJ class. Never a window,
    never a second scan. Engine-exactness: counts are integers, dg/db
    are single IEEE divisions, ln is quantized at 6 dp on both
    engines (the fleet's rounded-ln convention)."""
    orders = load(spark, sf_dir, "orders")
    c = orders.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.sum(F.when(F.col("o_orderstatus") != "F", 1).otherwise(0))
        .cast("long").alias("n_good"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long").alias("n_bad"),
    )
    tot = c.agg(
        F.sum("n_good").cast("long").alias("g"),
        F.sum("n_bad").cast("long").alias("b"),
    )
    w = c.join(F.broadcast(tot)).select(
        "category", "n_good", "n_bad",
        ((F.col("n_good").cast("double") + F.lit(0.5))
         / F.col("g").cast("double")).alias("dg"),
        ((F.col("n_bad").cast("double") + F.lit(0.5))
         / F.col("b").cast("double")).alias("db"),
    )
    w2 = w.withColumn("woe", _q6(F.log(F.col("dg") / F.col("db"))))
    return w2.select(
        "category", "n_good", "n_bad", "woe",
        _q6((F.col("dg") - F.col("db")) * F.col("woe")).alias("iv_term"),
    ).orderBy("category")


# ------------------------------------ CUSUM changepoint


@query(
    "ev_changepoint_cusum",
    tags=("datapipe", "events", "drift"),
    oracle=f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(sum(CAST({_SQL_Q6.format(x="value")}
                      AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS s,
                 count(*) AS c
          FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        m AS (
          SELECT event_type, day,
                 CAST({_SQL_Q6.format(
                     x="CAST(s AS DOUBLE) / CAST(c AS DOUBLE)")}
                      AS DECIMAL(18,6)) AS md
          FROM daily
        ),
        g AS (
          SELECT event_type,
                 CAST({_SQL_Q6.format(
                     x="CAST(sum(md) AS DOUBLE) / count(*)")}
                      AS DECIMAL(18,6)) AS xbar,
                 CAST(count(*) AS BIGINT) AS n_days
          FROM m GROUP BY event_type
        ),
        cs AS (
          SELECT m.event_type, m.day, g.xbar, g.n_days,
                 sum(m.md - g.xbar) OVER (
                   PARTITION BY m.event_type ORDER BY m.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS s_t
          FROM m JOIN g USING (event_type)
        ),
        r AS (
          SELECT event_type, day, xbar, n_days, abs(s_t) AS a,
                 row_number() OVER (
                   PARTITION BY event_type ORDER BY abs(s_t) DESC, day
                 ) AS rn
          FROM cs
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS cp_day,
               CAST(a AS DOUBLE) AS max_abs_cusum,
               CAST(xbar AS DOUBLE) AS daily_mean, n_days
        FROM r WHERE rn = 1 ORDER BY event_type
    """,
)
def ev_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single most-likely level-shift changepoint per event type: the
    day t maximizing |Σ_{d≤t}(mean_d − x̄)| over the daily-mean series
    (CUSUM argmax — the offline single-changepoint estimator; ties
    break to the earliest day). Emits the changepoint day, the CUSUM
    magnitude, the series mean, and the day count.

    Scale shape: the raw scan collapses to ONE map-side-combinable
    (type, day) aggregate; everything after runs on the daily frame,
    whose size grows with the TIME SPAN (≈3.7k rows/type for a
    10-year corpus), not the corpus row count — so the per-type
    ordered windows are bounded and the plan never moves corpus-sized
    data to one task. Engine-exactness: per-row 6-dp quantization
    into DECIMAL, exact decimal sums, one IEEE division per daily
    mean; the CUSUM itself is a decimal running sum (frame-order
    pinned by the window)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(_q6(F.col("value")).cast("decimal(18,6)")).alias("s"),
        F.count("*").alias("c"),
    )
    m = daily.select(
        "event_type", "day",
        _q6(F.col("s").cast("double") / F.col("c").cast("double"))
        .cast("decimal(18,6)").alias("md"),
    )
    g = m.groupBy("event_type").agg(
        _q6(F.sum("md").cast("double") / F.count("*"))
        .cast("decimal(18,6)").alias("xbar"),
        F.count("*").cast("long").alias("n_days"),
    )
    cs = m.join(g, "event_type").withColumn(
        "s_t",
        F.sum(F.col("md") - F.col("xbar")).over(
            W.partitionBy("event_type").orderBy("day")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    r = cs.withColumn("a", F.abs(F.col("s_t"))).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.col("a").desc(), "day")
        ),
    )
    return (
        r.filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("cp_day"),
            F.col("a").cast("double").alias("max_abs_cusum"),
            F.col("xbar").cast("double").alias("daily_mean"),
            "n_days",
        )
        .orderBy("event_type")
    )


# ------------------------------------ graph: modularity of a labeling

_SQL_COPARTS = """
        op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM op a JOIN op b USING (l_orderkey)
          WHERE a.l_partkey < b.l_partkey
        )"""


def _coparts_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase edge set (the graph family's shared
    fixture): parts linked when they appear in the same order, one
    row per undirected edge (src < dst)."""
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )


@query(
    "graph_modularity_brands",
    tags=("datapipe", "graph", "modularity"),
    oracle=f"""
        WITH {_SQL_COPARTS},
        lab AS (SELECT p_partkey AS node, p_brand AS label FROM part),
        led AS (
          SELECT e.src, e.dst, la.label AS la, lb.label AS lb
          FROM pairs e
          JOIN lab la ON e.src = la.node
          JOIN lab lb ON e.dst = lb.node
        ),
        m AS (SELECT count(*) AS m FROM led),
        deg AS (
          SELECT label, count(*) AS degree_sum FROM (
            SELECT la AS label FROM led
            UNION ALL SELECT lb AS label FROM led
          ) GROUP BY label
        ),
        ie AS (
          SELECT la AS label, count(*) AS internal_edges
          FROM led WHERE la = lb GROUP BY la
        ),
        nc AS (
          -- labeled-subgraph membership (ADVICE r8): nodes are the
          -- endpoints of LABELED edges, same frame as m/deg/ie
          SELECT label, count(*) AS n_nodes FROM (
            SELECT DISTINCT node, label FROM (
              SELECT src AS node, la AS label FROM led
              UNION ALL SELECT dst AS node, lb AS label FROM led
            )
          ) GROUP BY label
        )
        SELECT nc.label, nc.n_nodes,
               CAST(coalesce(ie.internal_edges, 0) AS BIGINT)
                 AS internal_edges,
               CAST(coalesce(deg.degree_sum, 0) AS BIGINT) AS degree_sum,
               {_SQL_Q6.format(x='''
                 CAST(coalesce(ie.internal_edges, 0) AS DOUBLE)
                   / CAST(m.m AS DOUBLE)
                 - (CAST(coalesce(deg.degree_sum, 0) AS DOUBLE)
                     / (CAST(m.m AS DOUBLE) * 2.0))
                   * (CAST(coalesce(deg.degree_sum, 0) AS DOUBLE)
                     / (CAST(m.m AS DOUBLE) * 2.0))''')} AS q_term
        FROM nc LEFT JOIN deg USING (label)
                LEFT JOIN ie USING (label), m
        ORDER BY label
    """,
)
def graph_modularity_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity decomposition of the p_brand labeling on the
    part co-purchase graph — per brand: node count, internal edges,
    degree sum, and the modularity term e_c/m − (d_c/2m)² (Σ over
    brands is Q; near-zero terms mean brands buy like chance, the
    audit that justifies or kills a partition before it drives
    sampling). operators/graph_metrics.py::modularity: two equi-joins
    onto the labeling + map-side-combined community aggregates; the
    only non-equi node is the 1-row edge-count scalar broadcast."""
    from cqdg_etl_spark.operators.graph_metrics import modularity

    edges = _coparts_edges(spark, sf_dir)
    labels = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("label")
    )
    return modularity(edges, labels).orderBy("label")


# ------------------------------------ graph: multi-source BFS

_BFS_HOPS = 3
_BFS_SOURCES = 10


def _sql_bfs(max_hops: int, n_sources: int) -> str:
    steps = []
    seen = "f0"
    union_visited = "SELECT node, 0 AS hop FROM f0"
    for k in range(1, max_hops + 1):
        prev = f"f{k - 1}"
        prev_seen = seen
        steps.append(f"""
        f{k} AS (
          SELECT DISTINCT adj.b AS node
          FROM {prev} f JOIN adj ON f.node = adj.a
          WHERE adj.b NOT IN (SELECT node FROM {prev_seen}_all)
        ),
        f{k}_all AS (
          SELECT node FROM {prev_seen}_all
          UNION ALL SELECT node FROM f{k}
        )""")
        union_visited += f"\n UNION ALL SELECT node, {k} AS hop FROM f{k}"
        seen = f"f{k}"
    return f"""
        WITH {_SQL_COPARTS},
        adj AS (
          SELECT src AS a, dst AS b FROM pairs
          UNION ALL SELECT dst AS a, src AS b FROM pairs
        ),
        deg AS (SELECT a AS node, count(*) AS d FROM adj GROUP BY a),
        f0 AS (
          SELECT node FROM deg
          ORDER BY d DESC, node LIMIT {n_sources}
        ),
        f0_all AS (SELECT node FROM f0),{",".join(steps)}
        SELECT node, CAST(hop AS INT) AS hop
        FROM ({union_visited}) ORDER BY node
    """


@query(
    "graph_bfs_hops",
    tags=("datapipe", "graph", "bfs", "iterative"),
    oracle=_sql_bfs(_BFS_HOPS, _BFS_SOURCES),
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance (≤ 3) from the 10 highest-degree
    parts of the co-purchase graph (ties to the lowest key) — the
    hub-proximity audit behind influence/coverage decisions; one row
    per reached node. operators/graph_metrics.py::bfs_hops: per round
    ONE frontier×adjacency equi-join + one anti-join against the
    visited set, lineage truncated per round (the graph.py iterative
    discipline) — work per round is O(frontier-touched edges), never
    a transitive closure. Fixed round count keeps the result
    hash-matchable (the unrolled-oracle convention)."""
    from cqdg_etl_spark.operators.graph_metrics import bfs_hops

    edges = _coparts_edges(spark, sf_dir)
    adj = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")) \
        .unionByName(
            edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
        )
    sources = (
        adj.groupBy(F.col("a").alias("node"))
        .agg(F.count("*").alias("d"))
        .orderBy(F.col("d").desc(), "node")
        .limit(_BFS_SOURCES)
        .select("node")
    )
    return bfs_hops(edges, sources, _BFS_HOPS).orderBy("node")


# ------------------------------------ retrieval: nDCG@10

_NDCG_K = 10
# 1/log2(rank+1) for ranks 1..10, embedded as repr literals on BOTH
# engine sides (the PPR repr-literal discipline): the discount is a
# fixed constant table, so no cross-engine ln enters the metric.
_DISC = [1.0 / math.log2(i + 1) for i in range(1, _NDCG_K + 1)]
_GAIN = {r: (1 << r) - 1 for r in range(0, 5)}  # 2^rel - 1


def _sql_ndcg() -> str:
    toks = SQL_TOKS.format(c="text")
    qlist = "[" + ",".join(f"'{t}'" for t in _BM25_Q) + "]"
    disc_sql = "CASE rank " + " ".join(
        f"WHEN {i + 1} THEN {repr(d)}" for i, d in enumerate(_DISC)
    ) + " END"
    gain_sql = "CASE {col} " + " ".join(
        f"WHEN {r} THEN {g}" for r, g in _GAIN.items()
    ) + " ELSE 0 END"
    bm = _sql_bm25(_BM25_Q, _NDCG_K)
    return f"""
        WITH bm AS ({bm}),
        q AS (SELECT unnest({qlist}) AS tok),
        relt AS (
          SELECT doc_id AS doc, CAST(count(DISTINCT tok) AS INT) AS rel
          FROM (SELECT doc_id, unnest({toks}) AS tok FROM documents)
          JOIN q USING (tok) GROUP BY doc_id
        ),
        lev AS (SELECT rel, count(*) AS cnt FROM relt GROUP BY rel),
        lw AS (
          SELECT l1.rel, l1.cnt,
                 CAST(coalesce(sum(l2.cnt), 0) AS BIGINT) AS cum_before
          FROM lev l1 LEFT JOIN lev l2 ON l2.rel > l1.rel
          GROUP BY l1.rel, l1.cnt
        ),
        ranks AS (SELECT CAST(unnest(range(1, {_NDCG_K + 1})) AS INT)
                    AS rank),
        ideal AS (
          SELECT r.rank, CAST(coalesce(lw.rel, 0) AS INT) AS irel
          FROM ranks r LEFT JOIN lw
            ON r.rank > lw.cum_before
           AND r.rank <= lw.cum_before + lw.cnt
        ),
        ig AS (
          SELECT rank,
                 CAST({_SQL_Q6.format(
                     x=f"CAST({gain_sql.format(col='irel')} AS DOUBLE)"
                       f" * ({disc_sql})")}
                      AS DECIMAL(18,6)) AS igain
          FROM ideal
        ),
        icum AS (
          SELECT rank, sum(igain) OVER (
            ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS idcg_cum
          FROM ig
        ),
        got AS (
          SELECT bm.rank, bm.doc,
                 CAST(coalesce(relt.rel, 0) AS INT) AS rel
          FROM bm LEFT JOIN relt USING (doc)
        ),
        gg AS (
          SELECT rank, doc, rel,
                 {_SQL_Q6.format(
                     x=f"CAST({gain_sql.format(col='rel')} AS DOUBLE)"
                       f" * ({disc_sql})")} AS gain
          FROM got
        ),
        gcum AS (
          SELECT rank, doc, rel, gain,
                 sum(CAST(gain AS DECIMAL(18,6))) OVER (
                   ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS dcg_cum
          FROM gg
        )
        SELECT g.rank, g.doc, g.rel, g.gain,
               CAST(g.dcg_cum AS DOUBLE) AS dcg_cum,
               CAST(i.idcg_cum AS DOUBLE) AS idcg_cum,
               CASE WHEN CAST(i.idcg_cum AS DOUBLE) > 0.0 THEN
                 {_SQL_Q6.format(
                     x="CAST(g.dcg_cum AS DOUBLE)"
                       " / CAST(i.idcg_cum AS DOUBLE)")}
               END AS ndcg_at_k
        FROM gcum g JOIN icum i USING (rank) ORDER BY g.rank
    """


@query(
    "ret_ndcg_eval",
    tags=("datapipe", "retrieval", "eval"),
    oracle=_sql_ndcg(),
)
def ret_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BM25 ranking against graded term-overlap
    relevance (rel = distinct query terms present, 0–4; gain =
    2^rel−1) — the standard ranking-quality metric, reported at every
    cutoff 1..10 with the corpus-wide ideal (IDCG from the exact
    relevance histogram, not just the retrieved list).

    Scale shape: the ranker is the published bm25_topk plan; the
    relevance column is one broadcast-semi-probe aggregate over the
    token stream; the ideal assignment joins a FIXED 10-row rank grid
    to the ≤4-row relevance-level histogram (the reviewed bounded-BNLJ
    class) and the two cumulative sums run on 10-row frames (the
    reviewed bounded-global-window class — Benford's-9-digits
    precedent). Engine-exactness: discounts are repr literals on both
    sides (no cross-engine ln), gains are integers, cumsums are exact
    decimal."""
    docs = load(spark, sf_dir, "documents")
    from cqdg_etl_spark.functions.text import normalize_ws, tokens
    from cqdg_etl_spark.operators.retrieval import bm25_topk

    bm = bm25_topk(docs, "text", "doc_id", _BM25_Q, k=_NDCG_K)

    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(tokens(normalize_ws(F.col("text")))).alias("tok"),
    )
    q = F.broadcast(
        spark.createDataFrame([(t,) for t in _BM25_Q], "tok string")
    )
    relt = (
        toks.join(q, "tok")
        .groupBy("doc")
        .agg(F.count_distinct("tok").cast("int").alias("rel"))
    )

    lev = relt.groupBy("rel").agg(F.count("*").alias("cnt"))
    l1, l2 = lev.alias("l1"), lev.alias("l2")
    lw = (
        l1.join(F.broadcast(l2), F.col("l2.rel") > F.col("l1.rel"), "left")
        .groupBy(F.col("l1.rel").alias("rel"), F.col("l1.cnt").alias("cnt"))
        .agg(F.coalesce(F.sum("l2.cnt"), F.lit(0)).cast("long")
             .alias("cum_before"))
    )
    ranks = spark.range(1, _NDCG_K + 1).select(
        F.col("id").cast("int").alias("rank")
    )
    ideal = ranks.join(
        F.broadcast(lw),
        (F.col("rank") > F.col("cum_before"))
        & (F.col("rank") <= F.col("cum_before") + F.col("cnt")),
        "left",
    ).select("rank", F.coalesce(F.col("rel"), F.lit(0)).cast("int")
             .alias("irel"))

    def disc_col():
        c = F.lit(None).cast("double")
        expr = None
        for i, d in enumerate(_DISC):
            cond = F.col("rank") == (i + 1)
            expr = F.when(cond, F.lit(d)) if expr is None else (
                expr.when(cond, F.lit(d))
            )
        return expr.otherwise(c)

    def gain_col(rel_col):
        expr = None
        for r, g in _GAIN.items():
            cond = F.col(rel_col) == r
            expr = F.when(cond, F.lit(g)) if expr is None else (
                expr.when(cond, F.lit(g))
            )
        return expr.otherwise(F.lit(0))

    ig = ideal.select(
        "rank",
        _q6(gain_col("irel").cast("double") * disc_col())
        .cast("decimal(18,6)").alias("igain"),
    )
    icum = ig.select(
        "rank",
        F.sum("igain").over(
            W.orderBy("rank").rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("idcg_cum"),
    )
    got = bm.select("rank", "doc").join(relt, "doc", "left").select(
        "rank", "doc", F.coalesce(F.col("rel"), F.lit(0)).cast("int")
        .alias("rel")
    )
    gg = got.withColumn(
        "gain", _q6(gain_col("rel").cast("double") * disc_col())
    )
    gcum = gg.withColumn(
        "dcg_cum",
        F.sum(F.col("gain").cast("decimal(18,6)")).over(
            W.orderBy("rank").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    out = gcum.join(icum, "rank").select(
        "rank", "doc", "rel", "gain",
        F.col("dcg_cum").cast("double").alias("dcg_cum"),
        F.col("idcg_cum").cast("double").alias("idcg_cum"),
        F.when(
            F.col("idcg_cum").cast("double") > 0.0,
            _q6(F.col("dcg_cum").cast("double")
                / F.col("idcg_cum").cast("double")),
        ).alias("ndcg_at_k"),
    )
    return out.orderBy("rank")


# ------------------------------------ column-pair mutual information


def _sql_mi(pair_name: str, x_expr: str, y_expr: str) -> str:
    """MI in nats between two bounded-domain column expressions over
    events; one output row."""
    cell = _SQL_Q6.format(
        x="(CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE))"
          " * ln(CAST(n * cxy AS DOUBLE) / CAST(cx * cy AS DOUBLE))"
    )
    return f"""(
        WITH base AS (
          SELECT {x_expr} AS x, {y_expr} AS y FROM events
        ),
        joint AS (SELECT x, y, count(*) AS cxy FROM base GROUP BY x, y),
        mx AS (SELECT x, CAST(sum(cxy) AS BIGINT) AS cx
               FROM joint GROUP BY x),
        my AS (SELECT y, CAST(sum(cxy) AS BIGINT) AS cy
               FROM joint GROUP BY y),
        tot AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM joint),
        cells AS (
          SELECT CAST({cell} AS DECIMAL(18,6)) AS term
          FROM joint JOIN mx USING (x) JOIN my USING (y), tot
        )
        SELECT '{pair_name}' AS pair,
               {_SQL_Q6.format(x="CAST(sum(term) AS DOUBLE)")} AS mi_nats,
               CAST(count(*) AS BIGINT) AS n_cells
        FROM cells
    )"""


_MI_HOUR = "CAST(extract(hour FROM ts) AS INT)"
_MI_VBUCKET = "CAST(least(9, CAST(floor(value / 25.0) AS BIGINT)) AS INT)"


@query(
    "pf_column_mutual_information",
    tags=("datapipe", "profile", "dependence"),
    oracle=(
        _sql_mi("event_type|hour", "event_type", _MI_HOUR)
        + " UNION ALL "
        + _sql_mi("event_type|vbucket", "event_type", _MI_VBUCKET)
        + " ORDER BY pair"
    ),
)
def pf_column_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between bounded-domain column pairs
    of the event stream — (event_type, hour-of-day) and (event_type,
    value bucket): the dependence audit that tells a feature pipeline
    which dimensions are redundant and a profiler where correlation
    hides. MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) over joint cells.

    Scale shape: ONE map-side-combinable joint groupBy per pair (the
    cell domain is 5×24 / 5×10 — bounded however big the corpus),
    marginals re-aggregated FROM the joint frame (never a second
    corpus scan), the grand total a 1-row scalar broadcast (reviewed
    bounded-BNLJ class). Engine-exactness: all counts integer-exact
    (products < 2⁵³), one ln per bounded cell quantized at 6 dp,
    exact decimal term sums."""
    ev = load(spark, sf_dir, "events")

    def mi_for(pair_name: str, x_col, y_col) -> DataFrame:
        base = ev.select(x_col.alias("x"), y_col.alias("y"))
        joint = base.groupBy("x", "y").agg(F.count("*").alias("cxy"))
        mx = joint.groupBy("x").agg(F.sum("cxy").cast("long").alias("cx"))
        my = joint.groupBy("y").agg(F.sum("cxy").cast("long").alias("cy"))
        tot = joint.agg(F.sum("cxy").cast("long").alias("n"))
        cells = (
            joint.join(mx, "x").join(my, "y").join(F.broadcast(tot))
            .select(
                _q6(
                    (F.col("cxy").cast("double") / F.col("n").cast("double"))
                    * F.log(
                        (F.col("n") * F.col("cxy")).cast("double")
                        / (F.col("cx") * F.col("cy")).cast("double")
                    )
                ).cast("decimal(18,6)").alias("term")
            )
        )
        return cells.agg(
            _q6(F.sum("term").cast("double")).alias("mi_nats"),
            F.count("*").cast("long").alias("n_cells"),
        ).select(F.lit(pair_name).alias("pair"), "mi_nats", "n_cells")

    hour = F.hour("ts").cast("int")
    vbucket = F.least(
        F.lit(9), F.floor(F.col("value") / F.lit(25.0)).cast("long")
    ).cast("int")
    return (
        mi_for("event_type|hour", F.col("event_type"), hour)
        .unionByName(
            mi_for("event_type|vbucket", F.col("event_type"), vbucket)
        )
        .orderBy("pair")
    )


# ------------------------------------ linear multi-touch attribution

_ATTR_WINDOW_DAYS = 7


@query(
    "ev_attribution_linear",
    tags=("datapipe", "events", "attribution"),
    oracle=f"""
        WITH p AS (
          SELECT event_id AS p_id, user_id, ts AS p_ts, value
          FROM events WHERE event_type = 'purchase'
        ),
        t AS (
          SELECT event_id AS t_id, user_id, ts AS t_ts, event_type,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) % 3
                   AS campaign
          FROM events WHERE event_type IN ('view', 'click')
        ),
        j AS (
          SELECT p.p_id, p.value, t.t_id, t.event_type, t.campaign
          FROM p JOIN t USING (user_id)
          WHERE t.t_ts < p.p_ts
            AND t.t_ts >= p.p_ts - INTERVAL {_ATTR_WINDOW_DAYS} DAY
        ),
        nt AS (SELECT p_id, count(*) AS n_t FROM j GROUP BY p_id),
        credit AS (
          SELECT j.event_type, j.campaign, j.p_id, j.t_id,
                 CAST({_SQL_Q6.format(
                     x="1.0 / CAST(n_t AS DOUBLE)")}
                      AS DECIMAL(18,6)) AS c,
                 CAST({_SQL_Q6.format(
                     x="j.value / CAST(n_t AS DOUBLE)")}
                      AS DECIMAL(18,6)) AS cv
          FROM j JOIN nt USING (p_id)
        )
        SELECT event_type AS channel, campaign,
               {_SQL_Q6.format(
                   x="CAST(sum(c) AS DOUBLE)")} AS credited_conversions,
               {_SQL_Q6.format(
                   x="CAST(sum(cv) AS DOUBLE)")} AS credited_value,
               CAST(count(*) AS BIGINT) AS n_touches,
               CAST(count(DISTINCT p_id) AS BIGINT) AS n_conversions
        FROM credit GROUP BY event_type, campaign
        ORDER BY channel, campaign
    """,
)
def ev_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view/click by the same
    user in the 7 days before a purchase shares the conversion credit
    equally (1/n per touch, value/n of revenue) — aggregated per
    (channel, campaign) where campaign = props.k mod 3. The marketing
    analytics staple; last-touch is this plan with rank=1 instead of
    1/n.

    Scale shape: the touch↔purchase pairing is a USER-KEYED equi-join
    with the time window as a residual predicate — per-user touch and
    purchase counts are bounded, so the join never goes quadratic in
    the corpus (the as-of-join discipline, ev_asof_purchase_view).
    Per-purchase touch counts are a count window over one purchase-id
    exchange of the joined frame (r11 — the join-back form paid the
    user join twice). Engine-exactness: 1/n and
    value/n are single IEEE divisions quantized at 6 dp into DECIMAL,
    summed exactly."""
    ev = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id",
        F.col("ts").alias("p_ts"), "value",
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("t_id"), "user_id",
        F.col("ts").alias("t_ts"), "event_type",
        (F.get_json_object("props", "$.k").cast("long") % 3)
        .alias("campaign"),
    )
    j = p.join(t, "user_id").filter(
        (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts")
           >= F.col("p_ts") - F.expr(f"INTERVAL {_ATTR_WINDOW_DAYS} DAYS"))
    ).select("p_id", "value", "t_id", "event_type", "campaign")
    # Per-purchase touch count via a count window over ONE p_id
    # exchange (r11, the span_dedup/ppjoin window finding): the
    # groupBy(p_id) + join-back form evaluates the user-keyed join
    # subtree on BOTH sides of the count join — the window computes it
    # once. Measured 0.91 -> 0.85 s at sf0.1, identical output.
    from pyspark.sql import Window as W

    credit = j.withColumn(
        "n_t", F.count("*").over(W.partitionBy("p_id"))
    ).select(
        "event_type", "campaign", "p_id", "t_id",
        _q6(F.lit(1.0) / F.col("n_t").cast("double"))
        .cast("decimal(18,6)").alias("c"),
        _q6(F.col("value") / F.col("n_t").cast("double"))
        .cast("decimal(18,6)").alias("cv"),
    )
    return (
        credit.groupBy(F.col("event_type").alias("channel"), "campaign")
        .agg(
            _q6(F.sum("c").cast("double")).alias("credited_conversions"),
            _q6(F.sum("cv").cast("double")).alias("credited_value"),
            F.count("*").cast("long").alias("n_touches"),
            F.count_distinct("p_id").cast("long").alias("n_conversions"),
        )
        .orderBy("channel", "campaign")
    )


# ------------------------------------ multimodal: perceptual dHash


def _sql_dhash() -> str:
    """Re-derive the fake-decode dHash bit-for-bit in SQL: the md5
    chain over ascii hexdigests (the multimodal.py _fake_decode
    convention), byte i = CAST('0x'||hex-pair AS BIGINT) ≡ Spark
    conv(hex,16,10), one CASE per bit, integer chunk packing."""
    from cqdg_etl_spark.operators.imagehash import COLS, GRID_BYTES, ROWS, _CHAINS

    chain_cols = ["h1"]
    chain_sql = "SELECT doc_id, md5(text) AS h1 FROM documents"
    ctes = [f"c1 AS ({chain_sql})"]
    for k in range(2, _CHAINS + 1):
        ctes.append(
            f"c{k} AS (SELECT doc_id, "
            + ", ".join(f"h{i}" for i in range(1, k))
            + f", md5(h{k - 1}) AS h{k} FROM c{k - 1})"
        )
        chain_cols.append(f"h{k}")
    hexcat = " || ".join(chain_cols)
    px = [
        f"CAST('0x' || substr(hex, {2 * i + 1}, 2) AS BIGINT)"
        for i in range(GRID_BYTES)
    ]
    bits = []
    for r in range(ROWS):
        for c in range(COLS - 1):
            bits.append(
                f"(CASE WHEN {px[r * COLS + c]} < {px[r * COLS + c + 1]}"
                f" THEN 1 ELSE 0 END)"
            )
    chunks = []
    for k in range(4):
        chunks.append(
            "("
            + " + ".join(
                f"{bits[16 * k + j]} * {1 << j}" for j in range(16)
            )
            + ")"
        )
    return f"""
        WITH {", ".join(ctes)},
        hx AS (SELECT doc_id, {hexcat} AS hex FROM c{_CHAINS}),
        sig AS (
          SELECT doc_id,
                 CAST({chunks[0]} AS INT) AS c0,
                 CAST({chunks[1]} AS INT) AS c1,
                 CAST({chunks[2]} AS INT) AS c2,
                 CAST({chunks[3]} AS INT) AS c3
          FROM hx
        )
        SELECT doc_id, c0, c1, c2, c3,
               CAST(bit_count(CAST(c0 AS BIGINT))
                    + bit_count(CAST(c1 AS BIGINT))
                    + bit_count(CAST(c2 AS BIGINT))
                    + bit_count(CAST(c3 AS BIGINT)) AS INT) AS ham_weight
        FROM sig ORDER BY doc_id
    """


@query(
    "mm_image_dhash_index",
    tags=("datapipe", "multimodal", "dedup"),
    oracle=_sql_dhash(),
)
def mm_image_dhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash index over the corpus's (fake-decoded) media
    payloads: per doc the 64-bit difference hash as 4×16-bit pigeonhole
    chunks (the SimHash banding layout — near-dup retrieval for
    Hamming ≤ 3 is then an equi-join on any chunk,
    operators/imagehash.py::dhash_near_pairs) plus the signature
    popcount. The multimodal arm of near-dup detection: at fleet
    scale this index is what image dedup joins against.

    Decode is the engine-portable fake kernel (md5 chain — this
    container has no image codecs; the REAL-grid path
    dhash_from_grid takes png_codec pixels with the identical bit
    layout). Scale shape: ONE projection over the scan, every
    expression JVM-side (md5/substring/conv/bitwise — zero Python,
    whole-stage codegen), zero shuffles. Fully oracle-checked: DuckDB
    re-derives chain, bytes, bits, and chunks bit-for-bit."""
    from cqdg_etl_spark.operators.imagehash import (
        dhash_chunks_from_hex,
        fake_grid_hex,
    )

    docs = load(spark, sf_dir, "documents")
    # Two r11 plan-cost fixes (same values, measured 2x together at
    # sf0.1): (1) spread the scan to the session's shuffle parallelism
    # before the heavy md5-chain projection — a small parquet is one
    # partition = one core doing every decode (the dedup._spread
    # rationale; at real scale the scan already has enough partitions
    # and AQE may fold this); (2) materialize the chain hex as a COLUMN
    # so the ~128 byte-extraction references read an attribute instead
    # of re-inlining the 5-deep md5 chain per reference.
    from cqdg_etl_spark.operators.spread import spread_to_parallelism

    hx = spread_to_parallelism(docs.select("doc_id", "text")).select(
        "doc_id", fake_grid_hex(F.col("text")).alias("hex")
    )
    c0, c1, c2, c3 = dhash_chunks_from_hex(F.col("hex"))
    sig = hx.select(
        "doc_id",
        c0.alias("c0"), c1.alias("c1"), c2.alias("c2"), c3.alias("c3"),
    )
    ham = (
        F.bit_count(F.col("c0").cast("long"))
        + F.bit_count(F.col("c1").cast("long"))
        + F.bit_count(F.col("c2").cast("long"))
        + F.bit_count(F.col("c3").cast("long"))
    )
    return sig.select(
        "doc_id", "c0", "c1", "c2", "c3", ham.cast("int").alias("ham_weight")
    ).orderBy("doc_id")
