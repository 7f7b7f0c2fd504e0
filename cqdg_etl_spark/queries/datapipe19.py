"""Registry batch 19 (8 queries), registered through ``registry.query``.

Each query carries a full DuckDB value-hash oracle, checked by
tests/test_correctness.py; tests/test_datapipe19.py (nightly lane) adds
adversarial fixtures run through both engines. Their reviewed plan-shape
exceptions live in tests/test_plan_lint.py.

Batch theme: second-order signals — what the FIRST round of metrics
missed. Matryoshka truncation evaluation (how much recall do the
first 16 of 64 dims keep — the dimension-budget decision behind every
embedding index), the stationary distribution of the event-type
Markov chain (where user behavior converges, not just single steps),
Gini concentration of per-user activity (inequality the mean hides),
daily-series autocorrelation (does yesterday predict today), RAKE
keyword extraction with corpus-derived stopwords, neighborhood-Jaccard
link prediction (the set-overlap complement of Adamic–Adar), a
foreign-key candidate audit (schema discovery over raw parquet), and
Poisson burst-day detection (rate anomalies against the chain's own
baseline). No reference counterpart (Ferlab-Ste-Justine/cqdg-etl has
no analytics of this kind); every shape is chosen for the 100-TB
target and documented per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from cqdg_etl_spark.queries.datapipe import SQL_TOKS, _sql_cos
from cqdg_etl_spark.queries.registry import load, query


def _q6(col):
    """floor(x·1e6+0.5)/1e6 — the engine-exact 6-dp quantization used
    fleet-wide."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


# Parenthesized template (README convention — the round-8 lesson).
_SQL_Q6 = "floor(({x}) * 1000000.0 + 0.5) / 1000000.0"


# ------------------------------------ Matryoshka truncation recall

_MAT_K = 10
_MAT_DIM = 16
_MAT_QUERIES = 10  # vec_id < 10 are the query vectors


def _sql_matryoshka() -> str:
    def ranked(dim: int, name: str) -> str:
        cos = _sql_cos("q.embedding", "c.embedding", dim)
        return f"""
        {name} AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                 ) AS rnk
          FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {cos} AS cos
            FROM (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < {_MAT_QUERIES}) q
            CROSS JOIN (SELECT vec_id, embedding FROM embeddings
                        WHERE vec_id >= {_MAT_QUERIES}) c
          )
        )"""

    return f"""
        WITH {ranked(64, "full_rank")}, {ranked(_MAT_DIM, "trunc_rank")},
        fk AS (SELECT query_id, neighbor_id FROM full_rank
               WHERE rnk <= {_MAT_K}),
        tk AS (SELECT query_id, neighbor_id FROM trunc_rank
               WHERE rnk <= {_MAT_K}),
        ov AS (
          SELECT fk.query_id,
                 CAST(count(tk.neighbor_id) AS BIGINT) AS n_overlap
          FROM fk LEFT JOIN tk USING (query_id, neighbor_id)
          GROUP BY fk.query_id
        )
        SELECT query_id, n_overlap,
               {_SQL_Q6.format(
                   x=f"CAST(n_overlap AS DOUBLE) / {_MAT_K}.0")} AS recall
        FROM ov ORDER BY query_id
    """


@query(
    "emb_matryoshka_recall",
    tags=("datapipe", "embeddings", "eval"),
    oracle=_sql_matryoshka(),
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation evaluation: recall@10 of exact cosine
    over the FIRST 16 of 64 dimensions against the full-dimension
    exact top-10, per query vector — the measurement behind every
    dimension-budget decision (MRL-style truncated serving, PQ
    subspace sizing). Both rankings are the deterministic brute-force
    plan (broadcast query side, ties to neighbor id), so even the
    recall fractions are engine-exact. Scale shape: the exact arms
    are the documented brute-force baseline (query side bounded at
    10); production corpora route truncated serving through the
    IVF/SRP indexes — this query is the EVALUATOR, run on samples."""
    from cqdg_etl_spark.operators.similarity import brute_force_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _MAT_QUERIES)
    corpus = emb.filter(F.col("vec_id") >= _MAT_QUERIES)
    full = brute_force_topk(corpus, queries, k=_MAT_K).select(
        "query_id", "neighbor_id"
    )
    sl = F.slice(F.col("embedding"), 1, _MAT_DIM).alias("embedding")
    trunc = brute_force_topk(
        corpus.select("vec_id", sl), queries.select("vec_id", sl), k=_MAT_K
    ).select("query_id", F.col("neighbor_id").alias("t_neighbor"))
    ov = (
        full.join(
            trunc,
            (full["query_id"] == trunc["query_id"])
            & (full["neighbor_id"] == trunc["t_neighbor"]),
            "left",
        )
        .groupBy(full["query_id"].alias("query_id"))
        .agg(F.count("t_neighbor").cast("long").alias("n_overlap"))
    )
    return ov.select(
        "query_id", "n_overlap",
        _q6(F.col("n_overlap").cast("double") / F.lit(float(_MAT_K)))
        .alias("recall"),
    ).orderBy("query_id")


# ------------------------------------ Markov stationary distribution

_MKV_ITERS = 8


def _sql_markov_stationary(iters: int = _MKV_ITERS) -> str:
    steps = []
    prev = "pi0"
    for i in range(1, iters + 1):
        steps.append(f"""
        raw{i} AS (
          SELECT P.to_type AS t,
                 CAST(sum(pp.pi * P.p) AS DECIMAL(38,12)) AS s
          FROM {prev} pp JOIN P ON pp.t = P.from_type
          GROUP BY P.to_type
        ),
        z{i} AS (SELECT CAST(sum(s) AS DECIMAL(38,12)) AS z FROM raw{i}),
        pi{i} AS (
          SELECT ty.t,
                 CAST({_SQL_Q6.format(
                     x="CAST(coalesce(r.s, 0) AS DOUBLE)"
                       " / CAST(z.z AS DOUBLE)")}
                      AS DECIMAL(18,6)) AS pi
          FROM types ty LEFT JOIN raw{i} r ON ty.t = r.t, z{i} z
        )""")
        prev = f"pi{i}"
    return f"""
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
              FROM c GROUP BY from_type),
        P AS (
          SELECT from_type, to_type,
                 CAST({_SQL_Q6.format(
                     x="CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE)")}
                      AS DECIMAL(18,6)) AS p
          FROM c JOIN m USING (from_type)
        ),
        types AS (SELECT DISTINCT event_type AS t FROM events),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS k FROM types),
        pi0 AS (
          SELECT t, CAST({_SQL_Q6.format(
              x="1.0 / CAST(k AS DOUBLE)")} AS DECIMAL(18,6)) AS pi
          FROM types, nt
        ),{",".join(steps)},
        emp AS (
          SELECT event_type AS t, count(*) AS cnt FROM events
          GROUP BY event_type
        ),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM emp)
        SELECT p.t AS event_type, CAST(p.pi AS DOUBLE) AS pi,
               {_SQL_Q6.format(
                   x="CAST(e.cnt AS DOUBLE) / CAST(tot.n AS DOUBLE)")}
                 AS empirical
        FROM {prev} p JOIN emp e ON p.t = e.t, tot
        ORDER BY event_type
    """


@query(
    "ev_markov_stationary",
    tags=("datapipe", "events", "markov", "iterative"),
    oracle=_sql_markov_stationary(),
)
def ev_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain: 8
    renormalized power iterations of π′ = πP over the transition
    matrix (the chain behind ev_markov_transitions) — where behavior
    CONVERGES, next to the empirical type share it is usually
    mistaken for. Renormalization per step keeps the
    sequence-end mass leak from shrinking π (types whose rows end
    sequences emit no transition).

    Engine-exactness: P and π are 6-dp decimals, products and sums
    exact decimal, one IEEE division per (type, iteration) quantized
    at 6 dp — the unrolled-oracle convention for iterative
    algorithms. Scale shape: the raw scan collapses to the per-user
    lead() window ONCE; all 8 iterations run on the |types|²-bounded
    transition frame (25 cells here — bounded however big the
    corpus), with a 1-row renormalization scalar per step (reviewed
    bounded-BNLJ class)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count("*").alias("n"))
    m = c.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_from"))
    p = (
        c.join(m, "from_type")
        .select(
            "from_type", "to_type",
            _q6(F.col("n").cast("double") / F.col("n_from").cast("double"))
            .cast("decimal(18,6)").alias("p"),
        )
        .persist()
    )
    types = ev.select(F.col("event_type").alias("t")).distinct().persist()
    nt = types.agg(F.count("*").cast("long").alias("k"))
    pi = types.join(F.broadcast(nt)).select(
        "t",
        _q6(F.lit(1.0) / F.col("k").cast("double"))
        .cast("decimal(18,6)").alias("pi"),
    ).localCheckpoint()
    for _ in range(_MKV_ITERS):
        # Per-round lineage truncation (the graph.py iterative
        # discipline): raw is referenced TWICE per round (z and the
        # next pi), so without materialization the un-truncated plan
        # doubles per level — 2^8 copies of the transition subtree
        # and exponential Catalyst planning time (measured 75 s at
        # x1 before this checkpoint, scale-independent). The frames
        # are |types|-bounded, so the checkpoint is ~free.
        raw = (
            pi.join(p, pi["t"] == p["from_type"])
            .groupBy(F.col("to_type").alias("t"))
            .agg(F.sum(F.col("pi") * F.col("p")).cast("decimal(38,12)")
                 .alias("s"))
        ).localCheckpoint()
        z = raw.agg(F.sum("s").cast("decimal(38,12)").alias("z"))
        pi = (
            types.join(raw, "t", "left")
            .join(F.broadcast(z))
            .select(
                "t",
                _q6(
                    F.coalesce(F.col("s"), F.lit(0).cast("decimal(38,12)"))
                    .cast("double") / F.col("z").cast("double")
                ).cast("decimal(18,6)").alias("pi"),
            )
        ).localCheckpoint()
    emp = ev.groupBy(F.col("event_type").alias("t")).agg(
        F.count("*").alias("cnt")
    )
    tot = emp.agg(F.sum("cnt").cast("long").alias("n"))
    out = (
        pi.join(emp, "t")
        .join(F.broadcast(tot))
        .select(
            F.col("t").alias("event_type"),
            F.col("pi").cast("double").alias("pi"),
            _q6(F.col("cnt").cast("double") / F.col("n").cast("double"))
            .alias("empirical"),
        )
        .orderBy("event_type")
    )
    p.unpersist()
    types.unpersist()
    return out


# ------------------------------------ Gini concentration


@query(
    "ev_user_gini",
    tags=("datapipe", "events", "profile"),
    oracle=f"""
        WITH c AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events
          GROUP BY user_id
        ),
        r AS (
          SELECT cnt,
                 CAST(row_number() OVER (ORDER BY cnt, user_id) AS BIGINT)
                   AS rnk
          FROM c
        ),
        s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cnt) AS BIGINT) AS total,
                 CAST(sum(CAST(rnk * cnt AS DECIMAL(38,0)))
                      AS DECIMAL(38,0)) AS s1
          FROM r
        )
        SELECT n AS n_users, total AS total_events,
               {_SQL_Q6.format(
                   x='''CAST(s1 AS DOUBLE) * 2.0
                        / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
                      - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)''')}
                 AS gini
        FROM s
    """,
)
def ev_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts — the activity
    concentration a mean hides (G = 2·Σ i·x₍ᵢ₎/(n·Σx) − (n+1)/n over
    ascending-sorted counts; ties ordered by user id so the rank is a
    total order). 0 = everyone equally active; →1 = all events from
    one user.

    Scale shape: ranks come from the range-partitioned
    ``operators/ranking.py::global_rank`` (NEVER a single-task global
    window — users are corpus-scale); Σ i·x accumulates in
    DECIMAL(38,0) because rank×count products sum past 2⁶³ at fleet
    scale; the final expression is IEEE ops over three exact scalars
    from ONE aggregate (no scalar re-join)."""
    from cqdg_etl_spark.operators.ranking import global_rank

    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("cnt"))
    r = global_rank(c, [F.col("cnt"), F.col("user_id")], "rnk")
    s = r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cnt").cast("long").alias("total"),
        F.sum((F.col("rnk") * F.col("cnt")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").alias("s1"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_users"),
        F.col("total").alias("total_events"),
        _q6(
            F.col("s1").cast("double") * F.lit(2.0)
            / (nd * F.col("total").cast("double"))
            - (nd + F.lit(1.0)) / nd
        ).alias("gini"),
    )


# ------------------------------------ daily autocorrelation

_ACF_LAGS = (1, 7)


def _sql_autocorr() -> str:
    arms = []
    for lag in _ACF_LAGS:
        arms.append(f"""(
          SELECT d1.event_type, {lag} AS lag,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(d1.dev * d2.dev) AS DECIMAL(38,12)) AS num
          FROM dev d1 JOIN dev d2
            ON d1.event_type = d2.event_type
           AND d2.day = d1.day + {lag}
          GROUP BY d1.event_type
        )""")
    num_union = " UNION ALL ".join(arms)
    return f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        g AS (
          SELECT event_type,
                 CAST({_SQL_Q6.format(
                     x="CAST(sum(x) AS DOUBLE) / count(*)")}
                      AS DECIMAL(18,6)) AS xbar,
                 CAST(count(*) AS BIGINT) AS n_days
          FROM daily GROUP BY event_type
        ),
        dev AS (
          SELECT d.event_type, d.day, g.n_days,
                 CAST(d.x AS DECIMAL(18,6)) - g.xbar AS dev
          FROM daily d JOIN g USING (event_type)
        ),
        den AS (
          SELECT event_type,
                 CAST(sum(dev * dev) AS DECIMAL(38,12)) AS den
          FROM dev GROUP BY event_type
        ),
        nums AS ({num_union})
        SELECT n.event_type, n.lag, n.n_pairs, g.n_days,
               {_SQL_Q6.format(
                   x="CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE)")}
                 AS r_autocorr
        FROM nums n JOIN den d USING (event_type)
                    JOIN g USING (event_type)
        ORDER BY event_type, lag
    """


@query(
    "pf_autocorr_daily",
    tags=("datapipe", "profile", "timeseries"),
    oracle=_sql_autocorr(),
)
def pf_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of the per-type daily event
    count series (r_k = Σ dev_t·dev_{t+k} / Σ dev², deviations from
    the series mean) — does yesterday (and last week) predict today.
    The profiling signal behind seasonality decisions and the sanity
    check on every daily-aggregated metric.

    Scale shape: the raw scan collapses to ONE (type, day) aggregate
    whose size grows with the TIME SPAN, not the corpus; the lag
    pairing is an equi-join on (type, day+k) over that bounded daily
    frame (gaps simply drop pairs — documented); deviations are exact
    decimals, one IEEE division per (type, lag)."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    g = daily.groupBy("event_type").agg(
        _q6(F.sum("x").cast("double") / F.count("*"))
        .cast("decimal(18,6)").alias("xbar"),
        F.count("*").cast("long").alias("n_days"),
    )
    dev = daily.join(g, "event_type").select(
        "event_type", "day", "n_days",
        (F.col("x").cast("decimal(18,6)") - F.col("xbar")).alias("dev"),
    ).persist()
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("dev") * F.col("dev")).cast("decimal(38,12)")
        .alias("den")
    )
    arms = []
    for lag in _ACF_LAGS:
        d2 = dev.select(
            F.col("event_type").alias("event_type"),
            F.date_sub(F.col("day"), lag).alias("day"),
            F.col("dev").alias("dev2"),
        )
        arms.append(
            dev.join(d2, ["event_type", "day"])
            .groupBy("event_type")
            .agg(
                F.lit(lag).cast("int").alias("lag"),
                F.count("*").cast("long").alias("n_pairs"),
                F.sum(F.col("dev") * F.col("dev2"))
                .cast("decimal(38,12)").alias("num"),
            )
        )
    nums = arms[0]
    for a in arms[1:]:
        nums = nums.unionByName(a)
    out = (
        nums.join(den, "event_type")
        .join(g.select("event_type", "n_days"), "event_type")
        .select(
            "event_type", "lag", "n_pairs", "n_days",
            _q6(F.col("num").cast("double") / F.col("den").cast("double"))
            .alias("r_autocorr"),
        )
        .orderBy("event_type", "lag")
    )
    return out


# ------------------------------------ RAKE keyword extraction

_RAKE_TOPK = 30
# integer-exact stopword threshold: df·10 > n_docs·8 (df/n > 0.8 —
# the synthetic corpus is a ~31-token vocabulary where all but the
# Zipf head crosses 60% DF; 80% isolates the true head both at
# sf0.001 and sf0.01)
_RAKE_DF_NUM, _RAKE_DF_DEN = 10, 8


def _sql_rake() -> str:
    toks = SQL_TOKS.format(c="text")
    return f"""
        WITH tl AS (SELECT doc_id, {toks} AS toks FROM documents),
        pos AS (
          SELECT doc_id, toks[CAST(i AS INT)] AS tok,
                 CAST(i AS BIGINT) AS pos
          FROM tl, UNNEST(range(1, len(toks) + 1)) AS t(i)
        ),
        nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        dfreq AS (
          SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          FROM pos GROUP BY tok
        ),
        stop AS (
          SELECT tok FROM dfreq, nd
          WHERE df * {_RAKE_DF_NUM} > n_docs * {_RAKE_DF_DEN}
        ),
        marked AS (
          SELECT p.doc_id, p.tok, p.pos,
                 CASE WHEN s.tok IS NULL THEN 0 ELSE 1 END AS is_stop
          FROM pos p LEFT JOIN stop s ON p.tok = s.tok
        ),
        phrased AS (
          SELECT doc_id, tok, is_stop,
                 sum(is_stop) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS phrase_id
          FROM marked
        ),
        members AS (
          SELECT doc_id, phrase_id, tok FROM phrased WHERE is_stop = 0
        ),
        plen AS (
          SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS plen
          FROM members GROUP BY doc_id, phrase_id
        ),
        occ AS (
          SELECT m.tok, p.plen
          FROM members m JOIN plen p USING (doc_id, phrase_id)
        ),
        scored AS (
          SELECT tok AS word, CAST(sum(plen) AS BIGINT) AS deg,
                 CAST(count(*) AS BIGINT) AS freq
          FROM occ GROUP BY tok
        )
        SELECT word, deg, freq,
               {_SQL_Q6.format(
                   x="CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)")}
                 AS score
        FROM scored
        ORDER BY score DESC, word LIMIT {_RAKE_TOPK}
    """


@query(
    "tx_rake_keywords",
    tags=("datapipe", "text", "keywords"),
    oracle=_sql_rake(),
)
def tx_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal runs of non-stopword tokens, a word scores
    deg/freq where deg sums the lengths of every phrase containing it
    — words that live in long content phrases beat words that appear
    alone. Stopwords are CORPUS-DERIVED (document frequency > 80 %,
    integer-exact threshold df·10 > n_docs·8) so the operator needs
    no language resource. Top-30 via orderBy+limit
    (TakeOrderedAndProject — no global sort).

    Scale shape: phrase segmentation is a per-DOC running sum window
    (partition = one document, bounded by doc length); the stopword
    set is a Zipf head (a handful of tokens however big the corpus) —
    plain equi-join membership, no broadcast hint needed; deg/freq
    are map-side-combinable aggregates over the (occurrence, phrase
    length) frame."""
    from pyspark import StorageLevel

    from cqdg_etl_spark.functions.text import normalize_ws, tokens

    docs = load(spark, sf_dir, "documents")
    # pos feeds BOTH the stopword document-frequency aggregate and the
    # phrase-marking join — without the persist the scan+tokenize+
    # posexplode subtree evaluates twice (guide §5.4; exchange reuse
    # does not fire across the differing keys).
    pos = docs.select(
        "doc_id",
        F.posexplode(tokens(normalize_ws(F.col("text")))).alias("p0", "tok"),
    ).select(
        "doc_id", "tok", (F.col("p0") + 1).cast("long").alias("pos")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nd = docs.agg(F.count("*").cast("long").alias("n_docs"))
    dfreq = pos.groupBy("tok").agg(
        F.count_distinct("doc_id").cast("long").alias("df")
    )
    stop = (
        dfreq.join(F.broadcast(nd))
        .filter(
            F.col("df") * F.lit(_RAKE_DF_NUM)
            > F.col("n_docs") * F.lit(_RAKE_DF_DEN)
        )
        .select("tok", F.lit(1).alias("is_stop0"))
    )
    marked = pos.join(stop, "tok", "left").select(
        "doc_id", "tok", "pos",
        F.coalesce(F.col("is_stop0"), F.lit(0)).alias("is_stop"),
    )
    phrased = marked.withColumn(
        "phrase_id",
        F.sum("is_stop").over(
            W.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    members = phrased.filter(F.col("is_stop") == 0).select(
        "doc_id", "phrase_id", "tok"
    )
    # Phrase length rides as a count window instead of a groupBy +
    # join-back (the r11 ppjoin/attribution pattern, guide §2.1): the
    # (doc_id, phrase_id) clustering is already satisfied by the
    # phrase_id window's doc_id hash partitioning (subset satisfies
    # ClusteredDistribution), so BOTH the aggregate exchange and the
    # join exchanges disappear — one local sort replaces them. Also
    # collapses the double reference to members (the tokenize+window
    # subtree evaluated once).
    occ = members.withColumn(
        "plen",
        F.count("*")
        .over(W.partitionBy("doc_id", "phrase_id"))
        .cast("long"),
    )
    scored = occ.groupBy(F.col("tok").alias("word")).agg(
        F.sum("plen").cast("long").alias("deg"),
        F.count("*").cast("long").alias("freq"),
    )
    return (
        scored.select(
            "word", "deg", "freq",
            _q6(F.col("deg").cast("double") / F.col("freq").cast("double"))
            .alias("score"),
        )
        .orderBy(F.col("score").desc(), "word")
        .limit(_RAKE_TOPK)
    )


# ------------------------------------ neighborhood Jaccard

_NJ_CAP = 64
_NJ_MIN = 0.0
_NJ_TOPK = 100

_SQL_COPARTS = """
        op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM op a JOIN op b USING (l_orderkey)
          WHERE a.l_partkey < b.l_partkey
        )"""


@query(
    "graph_neighbor_jaccard",
    tags=("datapipe", "graph", "linkpred"),
    oracle=f"""
        WITH {_SQL_COPARTS},
        adj AS (
          SELECT src AS a, dst AS b FROM pairs
          UNION ALL SELECT dst AS a, src AS b FROM pairs
        ),
        deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
                FROM adj GROUP BY a),
        centers AS (SELECT node AS u FROM deg WHERE deg <= {_NJ_CAP}),
        w AS (SELECT adj.a AS u, adj.b AS v
              FROM adj JOIN centers ON adj.a = centers.u),
        wedges AS (
          SELECT w1.v AS p, w2.v AS q
          FROM w w1 JOIN w w2 ON w1.u = w2.u
          WHERE w1.v < w2.v
        ),
        common AS (
          SELECT p, q, CAST(count(*) AS BIGINT) AS common
          FROM wedges GROUP BY p, q
        ),
        nonadj AS (
          SELECT c.* FROM common c
          LEFT JOIN pairs e ON c.p = e.src AND c.q = e.dst
          WHERE e.src IS NULL
        ),
        scored AS (
          SELECT n.p AS a, n.q AS b, n.common,
                 da.deg AS deg_a, db.deg AS deg_b,
                 {_SQL_Q6.format(
                     x="CAST(n.common AS DOUBLE)"
                       " / CAST(da.deg + db.deg - n.common AS DOUBLE)")}
                   AS jaccard
          FROM nonadj n
          JOIN deg da ON n.p = da.node
          JOIN deg db ON n.q = db.node
        )
        SELECT a, b, common, deg_a, deg_b, jaccard
        FROM scored WHERE jaccard >= {_NJ_MIN}
        ORDER BY jaccard DESC, a, b LIMIT {_NJ_TOPK}
    """,
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 predicted co-purchase links by neighborhood Jaccard
    (operators/graph_metrics.py::neighbor_jaccard) — the set-overlap
    complement of Adamic–Adar: |N(u)∩N(v)|/|N(u)∪N(v)| normalizes by
    neighborhood size, so tightly-coupled small-degree pairs outrank
    hub pairs. Same degree-oriented wedge join, same hub-center cap
    (64), existing edges anti-joined, orderBy+limit =
    TakeOrderedAndProject."""
    from cqdg_etl_spark.operators.graph_metrics import neighbor_jaccard

    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    return (
        neighbor_jaccard(
            edges, max_center_degree=_NJ_CAP, min_jaccard=_NJ_MIN
        )
        .orderBy(F.col("jaccard").desc(), "a", "b")
        .limit(_NJ_TOPK)
    )


# ------------------------------------ FK candidate audit

_FK_PAIRS = [
    ("lineitem.l_partkey->part.p_partkey",
     "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_orderkey->orders.o_orderkey",
     "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders.o_custkey->customer.c_custkey",
     "orders", "o_custkey", "customer", "c_custkey"),
    ("events.user_id->customer.c_custkey",
     "events", "user_id", "customer", "c_custkey"),
]


def _sql_fk() -> str:
    arms = []
    for rel, ct, cc, pt, pc in _FK_PAIRS:
        arms.append(f"""(
          WITH cv AS (SELECT DISTINCT {cc} AS v FROM {ct}),
          pv AS (SELECT DISTINCT {pc} AS v FROM {pt}),
          j AS (
            SELECT cv.v AS child_v, pv.v AS parent_v
            FROM cv FULL OUTER JOIN pv ON cv.v = pv.v
          ),
          s AS (
            SELECT CAST(count(child_v) AS BIGINT) AS dc,
                   CAST(count(parent_v) AS BIGINT) AS dp,
                   CAST(sum(CASE WHEN child_v IS NOT NULL
                                  AND parent_v IS NOT NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS matched
            FROM j
          )
          SELECT '{rel}' AS relation, dc AS n_child_distinct,
                 dp AS n_parent_distinct, matched AS n_matched,
                 {_SQL_Q6.format(
                     x="CAST(matched AS DOUBLE) / CAST(dc AS DOUBLE)")}
                   AS containment,
                 {_SQL_Q6.format(
                     x="CAST(dc AS DOUBLE) / CAST(dp AS DOUBLE)")}
                   AS cardinality_ratio
          FROM s
        )""")
    return " UNION ALL ".join(arms) + " ORDER BY relation"


@query(
    "pf_fk_candidate_audit",
    tags=("datapipe", "profile", "schema"),
    oracle=_sql_fk(),
)
def pf_fk_candidate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key candidate audit (schema discovery over raw
    parquet): for each candidate (child column → parent column) pair,
    the distinct-value containment (|child ∩ parent| / |child| — 1.0
    means every child value resolves) and the cardinality ratio. The
    profiling pass that validates assumed join keys before a pipeline
    trusts them; the events.user_id → customer pair is the deliberate
    negative control.

    Scale shape: per pair ONE full-outer join of the two
    distinct-value sets (hash-aggregated map-side first), and ONE
    aggregate computing all three counts from the join markers — no
    scalar re-join, no BNLJ anywhere. Containment/ratio are single
    IEEE divisions over exact counts."""
    out = None
    for rel, ct, cc, pt, pc in _FK_PAIRS:
        cv = load(spark, sf_dir, ct).select(
            F.col(cc).alias("child_v")
        ).distinct()
        pv = load(spark, sf_dir, pt).select(
            F.col(pc).alias("parent_v")
        ).distinct()
        j = cv.join(pv, cv["child_v"] == pv["parent_v"], "full_outer")
        s = j.agg(
            F.count("child_v").cast("long").alias("dc"),
            F.count("parent_v").cast("long").alias("dp"),
            F.sum(
                F.when(
                    F.col("child_v").isNotNull()
                    & F.col("parent_v").isNotNull(),
                    1,
                ).otherwise(0)
            ).cast("long").alias("matched"),
        )
        arm = s.select(
            F.lit(rel).alias("relation"),
            F.col("dc").alias("n_child_distinct"),
            F.col("dp").alias("n_parent_distinct"),
            F.col("matched").alias("n_matched"),
            _q6(F.col("matched").cast("double") / F.col("dc").cast("double"))
            .alias("containment"),
            _q6(F.col("dc").cast("double") / F.col("dp").cast("double"))
            .alias("cardinality_ratio"),
        )
        out = arm if out is None else out.unionByName(arm)
    return out.orderBy("relation")


# ------------------------------------ Poisson burst days


@query(
    "ev_poisson_burst_days",
    tags=("datapipe", "events", "anomaly"),
    oracle=f"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        g AS (
          SELECT event_type,
                 {_SQL_Q6.format(
                     x="CAST(sum(x) AS DOUBLE) / count(*)")} AS lam,
                 CAST(count(*) AS BIGINT) AS n_days
          FROM daily GROUP BY event_type
        )
        SELECT d.event_type, g.n_days, g.lam AS lambda_daily,
               CAST(sum(CASE WHEN CAST(d.x AS DOUBLE)
                                  > g.lam + 4.0 * sqrt(g.lam)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_burst_days,
               CAST(max(d.x) AS BIGINT) AS max_daily
        FROM daily d JOIN g USING (event_type)
        GROUP BY d.event_type, g.n_days, g.lam
        ORDER BY event_type
    """,
)
def ev_poisson_burst_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson burst-day detection: days whose event count exceeds
    λ + 4√λ (the normal approximation's 4σ band around the per-type
    daily rate) — the rate-anomaly audit run before trusting any
    count-based metric. Engine-exactness: λ is the 6-dp-quantized
    daily mean; sqrt is IEEE-correctly-rounded on both engines (the
    754 requirement — unlike ln, sqrt needs no literal pinning); the
    comparison is integer-vs-double. Scale shape: ONE (type, day)
    aggregate bounded by the time span, then a type-keyed equi-join —
    never a scalar fan-out."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").cast("long").alias("x"))
    g = daily.groupBy("event_type").agg(
        _q6(F.sum("x").cast("double") / F.count("*")).alias("lam"),
        F.count("*").cast("long").alias("n_days"),
    )
    return (
        daily.join(g, "event_type")
        .groupBy("event_type", "n_days", "lam")
        .agg(
            F.sum(
                F.when(
                    F.col("x").cast("double")
                    > F.col("lam") + F.lit(4.0) * F.sqrt(F.col("lam")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_burst_days"),
            F.max("x").cast("long").alias("max_daily"),
        )
        .select(
            "event_type", "n_days", F.col("lam").alias("lambda_daily"),
            "n_burst_days", "max_daily",
        )
        .orderBy("event_type")
    )
