"""Registry batch 17 (9 queries), registered through ``registry.query``.

Each query carries a full DuckDB value-hash oracle, checked by
tests/test_correctness.py; tests/test_datapipe17.py (nightly lane) adds
adversarial fixtures run through both engines.

Batch theme: the curation signals a training-data pipeline reads
BETWEEN the dedup and sampling passes — per-source character-entropy
quality profiling (the compression-ratio proxy junk detector),
Kaplan–Meier user-retention survival over the event stream (censoring
done right, the metric behind cohort decisions), difficulty-ordered
curriculum interleave (easy-first ordering that still round-robins
sources), HITS hub/authority scores on the user→event-type bipartite
graph (the power-user/popular-action decomposition), and
expected-count resampling with stochastic rounding (the integerization
step after DSIR-style importance weighting). No reference counterpart
(Ferlab-Ste-Justine/cqdg-etl has no analytics of this kind); every
shape is chosen for the 100-TB target and documented per query.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.queries.datapipe import SQL_NORM
from cqdg_etl_spark.queries.registry import load, query

_SQL_NORM_DOC = SQL_NORM.format(c="text")


def _q6(col):
    """floor(x·1e6+0.5)/1e6 — the engine-exact 6-dp quantization used
    fleet-wide (pure IEEE ops; round()-on-double is implementation-
    defined at half boundaries)."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


_SQL_Q6 = "floor({x} * 1000000.0 + 0.5) / 1000000.0"


# ------------------------------------- per-source character entropy

# ln(2) as a shared python literal: entropy is reported in BITS, and
# embedding repr(log 2) verbatim on both engine sides keeps the
# division bit-identical (the PPR repr-literal discipline).
_LN2 = repr(math.log(2.0))
_ENT_LOW = 3.5  # bits; English prose runs ~4.0-4.2, repeated junk <3


@query(
    "tx_char_entropy_quality",
    tags=("datapipe", "text", "quality"),
    oracle=f"""
        WITH d AS (
          SELECT doc_id, source, {_SQL_NORM_DOC} AS norm FROM documents
        ),
        ch AS (
          SELECT doc_id, source, substr(norm, CAST(i AS INT), 1) AS c
          FROM d, UNNEST(range(1, len(norm) + 1)) AS t(i)
          WHERE len(norm) > 0
        ),
        cc AS (
          SELECT doc_id, source, c, count(*) AS k
          FROM ch GROUP BY doc_id, source, c
        ),
        n AS (
          SELECT doc_id, CAST(sum(k) AS BIGINT) AS n
          FROM cc GROUP BY doc_id
        ),
        terms AS (
          SELECT cc.doc_id, cc.source,
                 CAST({_SQL_Q6.format(x=f'''-(CAST(k AS DOUBLE)
                        / CAST(n AS DOUBLE))
                      * ln(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                      / {_LN2}''')}
                      AS DECIMAL(18,6)) AS term
          FROM cc JOIN n USING (doc_id)
        ),
        ent AS (
          SELECT doc_id, source,
                 CAST(sum(term) AS DECIMAL(18,6)) AS h
          FROM terms GROUP BY doc_id, source
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               {_SQL_Q6.format(
                   x='CAST(sum(h) AS DOUBLE) / count(*)')}
                 AS mean_entropy_bits,
               CAST(sum(CASE WHEN h < {_ENT_LOW} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_low_entropy
        FROM ent GROUP BY source
    """,
)
def tx_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-unigram Shannon entropy (bits) — the
    compression-ratio proxy junk detector: boilerplate, repeated
    spans, and template spam compress far below prose (< ~3.5 bits vs
    ~4.1 for natural English), so a source's mean entropy and its
    low-entropy doc count are the first quality numbers a curation
    pass reads.

    Determinism at scale: the oracle draws characters from
    substr(norm, i, 1) over an UNNESTed index range; the Spark side
    explodes split(norm, '') — the same per-code-point segmentation
    (probed: no empty elements, '' → []) without the O(len) UTF8String
    walk per extracted index that made the substr form quadratic per
    document; every
    probability is an integer ratio; ln is the sole libm call and each
    per-char term is 6-dp floor-quantized INTO DECIMAL(18,6) before
    the order-free exact sum (the KL/DSIR accumulation pattern); the
    per-source mean re-quantizes an exact decimal sum. Shuffle shape:
    (doc, char) counts with map-side combine (alphabet-bounded fan-in),
    one doc-keyed join, per-source rollup — no window, no pairwise
    work, linear in corpus characters."""
    from cqdg_etl_spark.functions.text import normalize_ws

    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", normalize_ws(F.col("text")).alias("norm"))
        .filter(F.length("norm") > 0)
    )
    # split(norm, '') yields exactly the per-code-point characters (no
    # empty elements — probed on this Spark build), identical to the
    # previous explode(sequence) + substr(norm, i, 1) form but LINEAR in
    # document length: substr on a UTF8String walks from the start to
    # find code point i, so per-index extraction cost O(len²) per doc —
    # measured 4.4x slower at sf0.1 (guide §1.2: fix the per-task
    # algorithm first). The oracle keeps the substr form; equivalence is
    # per-code-point segmentation, which both forms share.
    # n (total chars per doc) ≡ length(norm): split('') emits exactly
    # one element per code point, so the oracle's n = sum(k) per doc is
    # the normalized length. Carrying it as a grouping column (constant
    # within a doc, so group sets are unchanged) deletes the per-doc
    # count aggregate AND the doc-keyed join the oracle spells out —
    # one less Exchange, no join (guide §2.4).
    ch = d.select(
        "doc_id",
        "source",
        F.length("norm").cast("bigint").alias("n"),
        F.explode(F.split("norm", "")).alias("c"),
    )
    cc = ch.groupBy("doc_id", "source", "n", "c").agg(
        F.count(F.lit(1)).alias("k")
    )
    p = F.col("k").cast("double") / F.col("n").cast("double")
    term = _q6(-p * F.log(p) / F.lit(float(_LN2))).cast("decimal(18,6)")
    ent = (
        cc.select("doc_id", "source", term.alias("term"))
        .groupBy("doc_id", "source")
        .agg(F.sum("term").cast("decimal(18,6)").alias("h"))
    )
    return ent.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        _q6(F.sum("h").cast("double") / F.count(F.lit(1))).alias(
            "mean_entropy_bits"
        ),
        F.sum(
            F.when(F.col("h") < _ENT_LOW, 1).otherwise(0)
        ).cast("bigint").alias("n_low_entropy"),
    )


# --------------------------------- Kaplan-Meier retention survival

_KM_CENSOR_DAYS = 7  # observation window tail: users last seen within
#                      this many days of corpus end are censored


@query(
    "ev_survival_km",
    tags=("datapipe", "events", "survival"),
    oracle=f"""
        WITH pu AS (
          SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
          FROM events GROUP BY user_id
        ),
        g AS (SELECT max(last_ts) AS gmax FROM pu),
        lif AS (
          SELECT user_id,
                 date_diff('day', CAST(first_ts AS DATE),
                           CAST(last_ts AS DATE)) AS t,
                 CASE WHEN last_ts <= gmax - INTERVAL {_KM_CENSOR_DAYS} DAY
                      THEN 1 ELSE 0 END AS died
          FROM pu, g
        ),
        tot AS (SELECT count(*) AS n_users FROM lif),
        by_t AS (
          SELECT t, count(*) AS leaving, CAST(sum(died) AS BIGINT) AS d
          FROM lif GROUP BY t
        ),
        risk AS (
          SELECT t, d,
                 n_users
                 - (sum(leaving) OVER (ORDER BY t) - leaving)
                   AS at_risk
          FROM by_t, tot
        ),
        lnterm AS (
          SELECT t, d, at_risk,
                 CASE WHEN d = 0 THEN CAST(0 AS DECIMAL(18,6))
                      WHEN d >= at_risk THEN CAST(-999 AS DECIMAL(18,6))
                      ELSE CAST({_SQL_Q6.format(
                          x='''ln(1.0 - CAST(d AS DOUBLE)
                               / CAST(at_risk AS DOUBLE))''')}
                           AS DECIMAL(18,6)) END AS lnf
          FROM risk
        )
        SELECT CAST(t AS BIGINT) AS duration_days,
               CAST(at_risk AS BIGINT) AS at_risk,
               CAST(d AS BIGINT) AS deaths,
               {_SQL_Q6.format(
                   x='exp(CAST(sum(lnf) OVER (ORDER BY t) AS DOUBLE))')}
                 AS survival
        FROM lnterm
    """,
)
def ev_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier retention survival over the event stream: a user's
    lifetime is first→last event (whole days); users last seen within
    7 days of corpus end (_KM_CENSOR_DAYS) are right-CENSORED (they
    may still be active — dropping them, the naive mistake, biases
    retention down). One row per observed duration with the at-risk
    count, death count, and the KM estimate
    S(t) = prod over t_i <= t of (1 - d_i/n_i).

    Determinism: the product is computed as exp of a running sum of
    6-dp floor-quantized ln factors over the duration order — a
    frame-order-pinned cumulative sum of exact decimals (the one
    summation order both engines share), with d = n_at_risk capped at
    ln → −999 so full-cohort extinction underflows exp to an exact 0.0
    on both engines. Scale shape: per-user min/max is one
    map-side-combined agg; everything after runs on the DURATION table
    (≤ observation-window days, hundreds of rows at any corpus size);
    its two running sums use the range-partitioned two-pass
    ``global_cumsum`` — no single-partition window even if durations
    were ever dense."""
    from cqdg_etl_spark.operators.ranking import global_cumsum

    ev = load(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    g = F.broadcast(pu.agg(F.max("last_ts").alias("gmax")))
    lif = pu.crossJoin(g).select(
        F.datediff(F.to_date("last_ts"), F.to_date("first_ts")).alias("t"),
        F.when(
            F.col("last_ts")
            <= F.col("gmax") - F.expr(f"INTERVAL {_KM_CENSOR_DAYS} DAYS"),
            1,
        )
        .otherwise(0)
        .alias("died"),
    )
    tot = F.broadcast(lif.agg(F.count(F.lit(1)).alias("n_users")))
    by_t = lif.groupBy("t").agg(
        F.count(F.lit(1)).alias("leaving"),
        F.sum("died").cast("bigint").alias("d"),
    )
    cum = global_cumsum(by_t, [F.col("t")], "leaving", "cum_leaving")
    risk = cum.crossJoin(tot).select(
        "t",
        "d",
        (F.col("n_users") - (F.col("cum_leaving") - F.col("leaving"))).alias(
            "at_risk"
        ),
    )
    lnf = (
        F.when(F.col("d") == 0, F.lit(0).cast("decimal(18,6)"))
        .when(
            F.col("d") >= F.col("at_risk"), F.lit(-999).cast("decimal(18,6)")
        )
        .otherwise(
            _q6(
                F.log(
                    F.lit(1.0)
                    - F.col("d").cast("double") / F.col("at_risk").cast("double")
                )
            ).cast("decimal(18,6)")
        )
    )
    terms = risk.select("t", "d", "at_risk", lnf.alias("lnf"))
    km = global_cumsum(terms, [F.col("t")], "lnf", "cum_ln")
    return km.select(
        F.col("t").cast("bigint").alias("duration_days"),
        F.col("at_risk").cast("bigint").alias("at_risk"),
        F.col("d").cast("bigint").alias("deaths"),
        _q6(F.exp(F.col("cum_ln").cast("double"))).alias("survival"),
    )


# ------------------------------------ curriculum interleave ordering


@query(
    "ds_curriculum_interleave",
    tags=("datapipe", "sampling", "ordering"),
    oracle="""
        WITH r AS (
          SELECT doc_id, source, n_chars,
                 CAST(row_number() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id
                 ) AS BIGINT) AS src_rank
          FROM documents
        ),
        srcs AS (SELECT DISTINCT source FROM documents),
        sidx AS (
          SELECT a.source,
                 CAST(count(*) AS BIGINT) AS s_idx
          FROM srcs a JOIN srcs b ON b.source <= a.source
          GROUP BY a.source
        ),
        ns AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM srcs)
        SELECT r.doc_id, r.source, r.src_rank,
               (r.src_rank - 1) * ns.n_src + sidx.s_idx AS position
        FROM r JOIN sidx USING (source), ns
    """,
)
def ds_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difficulty-ordered curriculum with source round-robin: docs are
    ranked easy-first WITHIN each source (n_chars as the difficulty
    proxy, doc_id tiebreak), then interleaved one-per-source into a
    single training order — epoch position = (rank−1)·|sources| + s_idx
    — so early training sees short documents from EVERY source instead
    of whichever source is shortest on average (the failure mode of a
    global difficulty sort).

    Scale shape: the per-source rank is ONE range-partitioned
    ``global_rank`` over (source, n_chars, doc_id) minus a broadcast
    per-source base offset (the ``per_domain_rank`` recipe — NEVER a
    window partitioned by source, whose biggest partition would sort
    on one task); the source index is a second ``global_rank`` over
    the distinct-source table (|sources| rows — a theta self-join
    would be a BroadcastNestedLoopJoin, lint-forbidden even when
    bounded); the position is pure arithmetic. Two range shuffles on
    corpus-sized data, independent of source skew."""
    from cqdg_etl_spark.operators.ranking import global_rank

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ranked = global_rank(
        docs,
        [F.col("source"), F.col("n_chars"), F.col("doc_id")],
        rank_col="_grank",
    )
    base = F.broadcast(
        ranked.groupBy("source").agg(F.min("_grank").alias("_base"))
    )
    r = (
        ranked.join(base, "source")
        .select(
            "doc_id",
            "source",
            (F.col("_grank") - F.col("_base") + 1).alias("src_rank"),
        )
    )
    srcs = docs.select("source").distinct()
    sidx = F.broadcast(
        global_rank(srcs, [F.col("source")], rank_col="s_idx")
    )
    ns = F.broadcast(srcs.agg(F.count(F.lit(1)).cast("bigint").alias("n_src")))
    return (
        r.join(sidx, "source")
        .crossJoin(ns)
        .select(
            "doc_id",
            "source",
            "src_rank",
            ((F.col("src_rank") - 1) * F.col("n_src") + F.col("s_idx")).alias(
                "position"
            ),
        )
    )


# --------------------------- HITS hubs/authorities (user ↔ event type)

_HITS_ITER = 4
_HITS_TOPK = 10


def _sql_hits() -> str:
    """Oracle: the power iteration unrolled in SQL (the personalized-
    PageRank discipline — DuckDB recursive CTEs cannot carry
    aggregates in a recursive term). Each iteration sums exact
    DECIMAL(18,6) scores, max-normalizes in double, and 6-dp
    floor-quantizes back — the engine's exact op order. The max comes
    from an empty-frame window over the (tiny) aggregate, so every CTE
    is referenced exactly ONCE by the next level — the plan stays
    linear in iteration count even on engines that inline CTEs."""
    q6 = _SQL_Q6
    steps = []
    prev_h = "h0"
    for i in range(1, _HITS_ITER + 1):
        steps.append(f"""
        a{i} AS (
          SELECT event_type,
                 CAST({q6.format(
                     x='''CAST(raw AS DOUBLE)
                     / max(CAST(raw AS DOUBLE)) OVER ()''')}
                      AS DECIMAL(18,6)) AS s
          FROM (SELECT e.event_type, sum(h.s) AS raw
                FROM {prev_h} h JOIN e ON h.user_id = e.user_id
                GROUP BY e.event_type)
        ),
        h{i} AS (
          SELECT user_id,
                 CAST({q6.format(
                     x='''CAST(raw AS DOUBLE)
                     / max(CAST(raw AS DOUBLE)) OVER ()''')}
                      AS DECIMAL(18,6)) AS s
          FROM (SELECT e.user_id, sum(a.s) AS raw
                FROM a{i} a JOIN e ON a.event_type = e.event_type
                GROUP BY e.user_id)
        )""")
        prev_h = f"h{i}"
    return f"""
        WITH e AS (SELECT DISTINCT user_id, event_type FROM events),
        h0 AS (
          SELECT DISTINCT user_id, CAST(1.0 AS DECIMAL(18,6)) AS s
          FROM e
        ),{",".join(steps)}
        SELECT user_id, CAST(s AS DOUBLE) AS hub
        FROM {prev_h}
        ORDER BY s DESC, user_id
        LIMIT {_HITS_TOPK}
    """


@query(
    # Iterative: the real work happens in per-round localCheckpoint
    # actions inside fn(), so timing only the final action reads the
    # 10-row checkpointed result (0.06 s measured). Time fresh
    # build+write instead.
    "graph_hits_scores",
    tags=("graph", "hits", "iterative"),
    oracle=_sql_hits(),
)
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg 1999) on the user→event-type bipartite graph:
    hubs are users whose activity concentrates on high-authority
    actions, authorities are the actions favored by high-hub users —
    the power-user/popular-action decomposition. 4 fixed iterations
    (_HITS_ITER), max-normalized each round; returns the top 10 hub
    users (_HITS_TOPK).

    Determinism: scores live in DECIMAL(18,6) (exact order-free sums);
    each normalization is one double division by a broadcast max then
    a 6-dp floor-quantize — identical op order on both engines, so
    even this iterative algorithm is value-hash-checked. Scale shape:
    the authority side is |event_types| rows (broadcast back for the
    hub pass, map-side); the hub pass is one groupBy(user) per
    iteration with map-side combine, its max a broadcast 1-row agg
    (never a corpus-wide window); the hub frame's lineage is truncated
    per round (graph._truncate — without it each max-normalization
    embeds its input twice and the analyzed plan grows 4× per
    iteration); the final top-k is a TakeOrdered."""
    from cqdg_etl_spark.operators.graph import _truncate

    ev = load(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type").distinct().persist()
    h = e.select("user_id").distinct().select(
        "user_id", F.lit(1.0).cast("decimal(18,6)").alias("s")
    )
    for _ in range(_HITS_ITER):
        a_raw = (
            e.join(h, "user_id")
            .groupBy("event_type")
            .agg(F.sum("s").alias("raw"))
            .persist()
        )
        a_max = F.broadcast(
            a_raw.agg(F.max(F.col("raw").cast("double")).alias("m"))
        )
        a = F.broadcast(
            a_raw.crossJoin(a_max).select(
                "event_type",
                _q6(F.col("raw").cast("double") / F.col("m"))
                .cast("decimal(18,6)")
                .alias("s"),
            )
        )
        h_raw = (
            e.join(a, "event_type")
            .groupBy("user_id")
            .agg(F.sum("s").alias("raw"))
            .persist()
        )
        h_max = F.broadcast(
            h_raw.agg(F.max(F.col("raw").cast("double")).alias("m"))
        )
        h = _truncate(
            h_raw.crossJoin(h_max).select(
                "user_id",
                _q6(F.col("raw").cast("double") / F.col("m"))
                .cast("decimal(18,6)")
                .alias("s"),
            ),
            "local",
        )
        a_raw.unpersist()
        h_raw.unpersist()
    # The final h is localCheckpointed (lineage cut), so the bipartite
    # edge frame is no longer reachable from the returned plan — drop
    # it here rather than leaking a cached frame into the session
    # (ADVICE r7 #3; a harness running many queries per session would
    # otherwise accumulate it).
    e.unpersist()
    return (
        h.orderBy(F.col("s").desc(), F.col("user_id"))
        .limit(_HITS_TOPK)
        .select("user_id", F.col("s").cast("double").alias("hub"))
    )


# ---------------------------------- peak session concurrency instants

_CC_GAP_US = 30 * 60 * 1_000_000  # the events.py sessionization gap
_CC_TOPK = 10


@query(
    "ev_peak_concurrency",
    tags=("datapipe", "events", "session"),
    oracle=f"""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             > {_CC_GAP_US}
                      OR lag(ts) OVER w IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
          SELECT user_id,
                 CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS session_id,
                 ts
          FROM flagged
        ), spans AS (
          SELECT user_id, session_id,
                 epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us
          FROM sessions GROUP BY user_id, session_id
        ), deltas AS (
          SELECT s_us AS t_us, 1 AS delta, user_id, session_id FROM spans
          UNION ALL
          SELECT e_us + 1 AS t_us, -1 AS delta, user_id, session_id
          FROM spans
        ), run AS (
          SELECT t_us, delta, user_id,
                 CAST(sum(delta) OVER (
                   ORDER BY t_us, delta DESC, user_id, session_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS concurrency
          FROM deltas
        )
        SELECT t_us AS peak_t_us, concurrency
        FROM run WHERE delta = 1
        ORDER BY concurrency DESC, t_us, user_id
        LIMIT {_CC_TOPK}
    """,
)
def ev_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 peak-concurrency instants: sessionize (the events.py
    30-min-gap recipe), sweep +1/−1 deltas at session start/end+1µs,
    and read the running level at every session-START instant — a step
    function attains its maxima exactly at +1 points, so the top-k
    start instants ARE the true global concurrency peaks (the
    capacity-planning number behind serving-fleet sizing). Equal-time
    ties count the overlap: +1 applies before −1 at the same
    microsecond.

    Determinism: pure integer arithmetic end to end (epoch micros,
    ±1 sums, a total-order tiebreak on (t, delta, user, session)).
    Scale shape: sessionization is the standard one-shuffle user
    window; the sweep's running sum is the range-partitioned two-pass
    ``global_cumsum`` over 2·|sessions| skinny delta rows — NEVER a
    single-partition ORDER BY window; the top-k is a TakeOrdered."""
    from cqdg_etl_spark.operators.ranking import global_cumsum
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(
        F.unix_micros(F.col("ts"))
    ).over(w)
    w_cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = (
        ev.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > _CC_GAP_US), 1).otherwise(0),
        )
        .withColumn(
            "session_id", F.sum("new_session").over(w_cum).cast("bigint")
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("s_us"),
            F.unix_micros(F.max("ts")).alias("e_us"),
        )
    )
    # One sessionize pass, not two (r11): the previous unionByName of
    # two projections evaluated the whole sessionize subtree (scan +
    # user window + session aggregate) once PER BRANCH; exploding a
    # 2-struct array emits the same ±1 delta rows from a single pass
    # (guide §2.4 — remove duplicate subtree evaluation). Measured
    # 0.47 -> 0.44 s at sf0.1; at scale it halves the sessionize cost.
    deltas = sess.select(
        "user_id",
        "session_id",
        F.explode(
            F.array(
                F.struct(F.col("s_us").alias("t_us"), F.lit(1).alias("delta")),
                F.struct(
                    (F.col("e_us") + 1).alias("t_us"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("d"),
    ).select(
        F.col("d.t_us").alias("t_us"),
        F.col("d.delta").alias("delta"),
        "user_id",
        "session_id",
    )
    run = global_cumsum(
        deltas,
        [
            F.col("t_us"),
            F.col("delta").desc(),
            F.col("user_id"),
            F.col("session_id"),
        ],
        "delta",
        "concurrency",
    )
    return (
        run.filter(F.col("delta") == 1)
        .orderBy(F.desc("concurrency"), F.asc("t_us"), F.asc("user_id"))
        .limit(_CC_TOPK)
        .select(
            F.col("t_us").alias("peak_t_us"),
            F.col("concurrency").cast("bigint").alias("concurrency"),
        )
    )


# -------------------------------- bipartite type-affinity projection


@query(
    "graph_type_affinity",
    tags=("graph", "bipartite", "projection"),
    oracle=f"""
        WITH e AS (SELECT DISTINCT user_id, event_type FROM events),
        deg AS (
          SELECT event_type, count(*) AS n_users FROM e
          GROUP BY event_type
        ),
        co AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 count(*) AS co_users
          FROM e a JOIN e b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY type_a, type_b
        )
        SELECT type_a, type_b, CAST(co_users AS BIGINT) AS co_users,
               {_SQL_Q6.format(
                   x='''CAST(co_users AS DOUBLE)
                   / sqrt(CAST(da.n_users AS DOUBLE)
                          * CAST(db.n_users AS DOUBLE))''')}
                 AS affinity
        FROM co
        JOIN deg da ON da.event_type = co.type_a
        JOIN deg db ON db.event_type = co.type_b
    """,
)
def graph_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the user→event-type graph onto
    type–type edges, cosine-weighted: affinity(t1, t2) =
    |U(t1)∩U(t2)| / √(|U(t1)|·|U(t2)|) — the co-engagement structure
    behind "users who do X also do Y" surfaces and feature
    co-occurrence audits.

    Scale shape: the projection self-join is keyed on user_id with
    per-user fan-out (k choose 2), k ≤ |event_types| — bounded per
    row, so the join output is O(|users|·|types|²/2) worst case and
    the result table is ≤ |types|² rows; degree tables are broadcast.
    Determinism: integer counts; one sqrt division 6-dp floor-
    quantized."""
    ev = load(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type").distinct()
    deg = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    a, b = e.alias("a"), e.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("co_users"))
    )
    da = F.broadcast(deg.select(F.col("event_type").alias("type_a"),
                                F.col("n_users").alias("na")))
    db = F.broadcast(deg.select(F.col("event_type").alias("type_b"),
                                F.col("n_users").alias("nb")))
    return (
        co.join(da, "type_a")
        .join(db, "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("co_users").cast("bigint").alias("co_users"),
            _q6(
                F.col("co_users").cast("double")
                / F.sqrt(
                    F.col("na").cast("double") * F.col("nb").cast("double")
                )
            ).alias("affinity"),
        )
    )


# ------------------------------------- vocabulary growth curve (Heaps)

_VG_DECILES = 10


@query(
    "tx_vocab_growth_curve",
    tags=("datapipe", "text", "vocabulary"),
    oracle=f"""
        WITH d AS (
          SELECT doc_id, {SQL_NORM.format(c='text')} AS norm
          FROM documents
        ),
        toks AS (
          SELECT doc_id, i AS pos,
                 string_split(norm, ' ')[CAST(i AS INT)] AS t
          FROM d, UNNEST(range(1, len(string_split(norm, ' ')) + 1))
                    AS u(i)
          WHERE norm <> ''
        ),
        dc AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id),
        offs AS (
          SELECT doc_id,
                 sum(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tok AS off
          FROM dc
        ),
        pos AS (
          SELECT t.t, o.off + t.pos AS gpos
          FROM toks t JOIN offs o USING (doc_id)
        ),
        n AS (SELECT count(*) AS n FROM pos),
        firsts AS (SELECT t, min(gpos) AS fpos FROM pos GROUP BY t),
        fb AS (
          SELECT CAST((fpos * {_VG_DECILES} + n - 1) // n AS BIGINT)
                   AS decile, count(*) AS v
          FROM firsts, n GROUP BY decile
        ),
        tb AS (
          SELECT CAST((gpos * {_VG_DECILES} + n - 1) // n AS BIGINT)
                   AS decile, count(*) AS c
          FROM pos, n GROUP BY decile
        ),
        grid AS (
          SELECT CAST(i AS BIGINT) AS decile
          FROM UNNEST(range(1, {_VG_DECILES} + 1)) AS g(i)
        )
        SELECT g.decile,
               CAST(sum(coalesce(tb.c, 0)) OVER (ORDER BY g.decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_tokens,
               CAST(sum(coalesce(fb.v, 0)) OVER (ORDER BY g.decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_vocab
        FROM grid g
        LEFT JOIN tb ON tb.decile = g.decile
        LEFT JOIN fb ON fb.decile = g.decile
    """,
)
def tx_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps-law) curve: distinct-vocabulary size
    at each decile of the doc_id-ordered token stream — natural text
    grows V(n) ≈ K·n^β with β ≈ 0.4–0.6; a flattening curve flags a
    templated/crawl-stale corpus and a near-linear one flags noisy
    OCR/spam vocabulary churn. One row per decile:
    (decile, cum_tokens, cum_vocab).

    Determinism: pure integer arithmetic end to end — global token
    positions from per-doc offsets (a cumulative count over doc_id
    order), first occurrence per token via min(gpos), decile buckets
    by integer ceiling division, and two 10-row cumulative sums. Zero
    float ops anywhere. Scale shape: the offsets come from the
    range-partitioned ``global_cumsum`` over the per-doc count table
    (doc-count rows, NOT tokens), joined back on doc_id; first
    occurrences are one map-side-combined min-agg over (token);
    bucket rollups are ≤ {_VG_DECILES} rows and their running sums
    reuse ``global_cumsum``."""
    from cqdg_etl_spark.functions.text import normalize_ws, tokens
    from cqdg_etl_spark.operators.ranking import global_cumsum

    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", normalize_ws(F.col("text")).alias("norm"))
        .filter(F.col("norm") != "")
    )
    toks = d.select(
        "doc_id",
        F.posexplode(tokens(F.col("norm"))).alias("pos0", "t"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "t")
    dc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    offs = global_cumsum(dc, [F.col("doc_id")], "n_tok", "cum").select(
        "doc_id", (F.col("cum") - F.col("n_tok")).alias("off")
    )
    # The skinny (t, gpos) frame feeds THREE consumers (the corpus
    # total, first occurrences, decile totals) — unpersisted, each
    # re-ran the tokenize+posexplode AND the offs join (4 corpus
    # tokenizations per query; r11). Persist it once: 2 tokenize
    # passes (dc + pos build), 1 join, and the consumers read cached
    # (t, gpos) pairs — the narrowest projection of the token stream.
    from pyspark import StorageLevel

    pos = (
        toks.join(offs, "doc_id")
        .select("t", (F.col("off") + F.col("pos")).alias("gpos"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = F.broadcast(pos.agg(F.count(F.lit(1)).alias("n")))
    firsts = pos.groupBy("t").agg(F.min("gpos").alias("fpos"))
    # `div` is exact 64-bit integer division on BOTH sides (DuckDB
    # `//`): floor of a DOUBLE quotient can sit 1 ulp under an exact
    # integer boundary and mis-bucket the boundary position.
    fb = (
        firsts.crossJoin(n)
        .select(
            F.expr(f"(fpos * {_VG_DECILES} + n - 1) div n")
            .cast("bigint")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    tb = (
        pos.crossJoin(n)
        .select(
            F.expr(f"(gpos * {_VG_DECILES} + n - 1) div n")
            .cast("bigint")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    grid = spark.range(1, _VG_DECILES + 1).select(
        F.col("id").alias("decile")
    )
    joined = (
        grid.join(tb, "decile", "left")
        .join(fb, "decile", "left")
        .select(
            "decile",
            F.coalesce("c", F.lit(0)).alias("c"),
            F.coalesce("v", F.lit(0)).alias("v"),
        )
    )
    out = global_cumsum(
        joined, [F.col("decile")], ["c", "v"], ["cum_tokens", "cum_vocab"]
    )
    return out.select(
        "decile",
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.col("cum_vocab").cast("bigint").alias("cum_vocab"),
    )


# ------------------------------------ DAU/WAU engagement stickiness


@query(
    "ev_dau_wau_stickiness",
    tags=("datapipe", "events", "engagement"),
    oracle=f"""
        WITH du AS (
          SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        ),
        dau AS (
          SELECT day, count(*) AS dau FROM du GROUP BY day
        ),
        contrib AS (
          SELECT CAST(w AS DATE) AS wday, user_id
          FROM du, UNNEST(generate_series(
                 CAST(day AS TIMESTAMP),
                 CAST(day AS TIMESTAMP) + INTERVAL 6 DAY,
                 INTERVAL 1 DAY)) AS t(w)
        ),
        wau AS (
          SELECT wday AS day, count(DISTINCT user_id) AS wau
          FROM contrib GROUP BY wday
        )
        SELECT strftime(dau.day, '%Y-%m-%d') AS day,
               CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
               {_SQL_Q6.format(
                   x='CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE)')}
                 AS stickiness
        FROM dau JOIN wau ON wau.day = dau.day
    """,
)
def ev_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-active over trailing-7-day-active users (DAU/WAU
    "stickiness", the engagement ratio product analytics tracks): one
    row per active day with dau, wau (distinct users over the trailing
    window ending that day, partial windows at the corpus head
    included), and the quantized ratio.

    Scale shape: the trailing-distinct is NOT a range-condition join
    (which would plan a BroadcastNestedLoopJoin over the day grid) —
    each (user, day) activity row is EXPLODED into the 7 window-end
    days it contributes to (a fixed 7× fan-out projection), then one
    count-distinct per day, which Spark rewrites to a two-phase
    (day, user) hash aggregate with map-side partial dedup — an
    equi-shuffle on day, no window function, no theta join. Output
    days are restricted to observed-active days by the inner join with
    the DAU table. Determinism: pure integer counts + one quantized
    division; the day is a yyyy-MM-dd string on both engines."""
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = du.select(
        F.explode(
            F.expr("sequence(day, date_add(day, 6), interval 1 day)")
        ).alias("day"),
        "user_id",
    )
    wau = contrib.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            _q6(
                F.col("dau").cast("double") / F.col("wau").cast("double")
            ).alias("stickiness"),
        )
    )


# ------------------------- expected-count resampling (stochastic round)

_RS_TARGET = 3.0  # expected copies for the longest document


@query(
    "ds_stochastic_round_resample",
    tags=("datapipe", "sampling", "resample"),
    oracle=f"""
        WITH mx AS (SELECT max(n_chars) AS mx FROM documents),
        w AS (
          SELECT doc_id,
                 {_RS_TARGET} * CAST(n_chars AS DOUBLE)
                   / CAST(mx AS DOUBLE) AS w
          FROM documents, mx
        ),
        u AS (
          SELECT doc_id, w,
                 CAST(('0x' || substring(md5('resample'
                   || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   / 4294967296.0 AS u01
          FROM w
        )
        SELECT doc_id,
               {_SQL_Q6.format(x='w')} AS weight,
               CAST(floor(w) + (CASE WHEN u01 < w - floor(w)
                                     THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_copies
        FROM u
    """,
)
def ds_stochastic_round_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected-count resampling with stochastic rounding — the
    integerization step after importance weighting (DSIR-style): a
    document with real-valued expected count w receives ⌊w⌋ copies
    plus one more with probability frac(w), so the realized corpus is
    integer-sized while E[copies] = w exactly and no weight mass is
    lost to truncation. The uniform is md5-derived from the doc id
    (engine-portable, reproducible, resumable — the
    ``ds_deterministic_shuffle`` discipline), so the SAME documents
    get the extra copy on every engine and every run.

    Weight here is a self-contained length proxy
    (_RS_TARGET·n_chars/max_chars, target 3.0); production substitutes any
    per-doc importance weight (e.g. exp of ``ds_dsir_logweights``).
    Scale shape: one broadcast 1-row max, then a pure per-row
    projection — zero shuffles beyond the scalar; the expansion to
    physical copies is a downstream explode(sequence(1, n_copies))
    that this audit table sizes first."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    mx = F.broadcast(docs.agg(F.max("n_chars").alias("mx")))
    w = F.lit(_RS_TARGET) * F.col("n_chars").cast("double") / F.col(
        "mx"
    ).cast("double")
    u01 = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("resample"), F.col("doc_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    return docs.crossJoin(mx).select(
        "doc_id",
        _q6(w).alias("weight"),
        (
            F.floor(w)
            + F.when(u01 < w - F.floor(w), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_copies"),
    )
