"""Registry batch 15 (12 queries), registered through ``registry.query``.

Each query carries a full DuckDB value-hash oracle, checked by
tests/test_correctness.py; tests/test_datapipe15.py (nightly lane) adds
adversarial fixtures run through both engines.

Batch theme: corpus-forensics and assignment primitives that round out
the curation layer — truncation-prefix dedup (the duplicate class
shingle measures score low), a syllable/readability profile, the
per-document shingle-novelty curve used to spot stale crawls,
seasonal-baseline outlier detection over events, exactly-balanced
stratified k-fold assignment, seed-personalized PageRank,
Efraimidis–Spirakis weighted sampling without replacement, and
rendezvous-hash shard rebalance with its minimal-disruption receipt.
No reference counterpart (Ferlab-Ste-Justine/cqdg-etl has no analytics
of this kind); every shape is chosen for the 100-TB target and
documented per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.queries.registry import load, query
from cqdg_etl_spark.queries.datapipe import SQL_NORM, SQL_TOKS, _sql_shingles


# -------------------------------------------- truncation-prefix dedup

_PFX_K = 12


@query(
    "dd_truncation_prefix_pairs",
    tags=("datapipe", "dedup", "truncation"),
    oracle=f"""
        WITH t AS (
          SELECT doc_id, {SQL_TOKS.format(c='text')} AS tk FROM documents
        ),
        s AS (
          SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n
          FROM t WHERE len(tk) >= {_PFX_K}
        ),
        k AS (
          SELECT doc_id, tk, n,
                 md5(array_to_string(list_slice(tk, 1, {_PFX_K}), ' '))
                   AS pfx,
                 md5(array_to_string(tk, ' ')) AS full_h
          FROM s
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n AS len_a, b.n AS len_b
        FROM k a JOIN k b ON a.pfx = b.pfx AND a.n < b.n
        WHERE md5(array_to_string(list_slice(b.tk, 1, CAST(a.n AS INT)),
                                  ' ')) = a.full_h
    """,
)
def dd_truncation_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation duplicates: (A, B) where A's token sequence is
    exactly B's first len(A) tokens — the crawl cut off mid-page, the
    teaser of the full article. Shingle Jaccard scores a 20-of-2000
    token truncation at ~1%, so this duplicate class needs its own
    exact primitive. Blocked on the md5 of the first 12 normalized
    tokens (one equi-join); verified hash-vs-hash so A never ships its
    token array. The synthetic corpus generator really does emit
    truncation families (27 pairs at sf0.001), so the driver row
    checks live pair values, and the fixture tests pin the contract
    edges (prefix-of vs shared-opening, sub-k documents)."""
    from cqdg_etl_spark.operators.dedup import prefix_truncation_pairs

    docs = load(spark, sf_dir, "documents")
    return prefix_truncation_pairs(docs, "text", "doc_id", k=_PFX_K)


# ------------------------------------------- syllable complexity audit


@query(
    "tx_syllable_complexity",
    tags=("datapipe", "text", "quality"),
    oracle=f"""
        WITH d AS (
          SELECT source, {SQL_TOKS.format(c='text')} AS tk,
                 {SQL_NORM.format(c='text')} AS nt
          FROM documents
        ),
        p AS (
          SELECT source,
                 len(tk) AS n_words,
                 len(regexp_extract_all(nt, '[aeiou]+')) AS n_syll,
                 len(list_filter(tk,
                     w -> len(regexp_extract_all(w, '[aeiou]+')) >= 3))
                   AS n_complex,
                 len(list_filter(tk, w -> length(w) >= 7)) AS n_long
          FROM d
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS words,
               CAST(SUM(n_syll) AS BIGINT) AS syllables,
               round(CAST(SUM(n_syll) AS DOUBLE) / SUM(n_words), 6)
                 AS syll_per_word,
               round(CAST(SUM(n_complex) AS DOUBLE) / SUM(n_words), 6)
                 AS complex_word_rate,
               round(CAST(SUM(n_long) AS DOUBLE) / SUM(n_words), 6)
                 AS long_word_rate
        FROM p GROUP BY source
    """,
)
def tx_syllable_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source readability profile: syllables-per-word (vowel-group
    count — the classic Flesch numerator), complex-word rate (≥3
    syllables, the Gunning-fog ingredient) and long-word rate (≥7
    chars, the LIX ingredient). Pure JVM expressions — one regexp
    count over the normalized text (vowel groups cannot span the
    spaces that separate words, so the document-level count equals the
    per-word sum) plus two HOF filters over the bound token array; all
    integer sums are exact, the three ratios are single double
    divisions of exact integers, so per-source values are
    partitioning-independent. One shuffle (the groupBy source)."""
    from cqdg_etl_spark.functions.text import normalize_ws, tokens

    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        tokens(normalize_ws(F.col("text"))).alias("tk"),
        normalize_ws(F.col("text")).alias("nt"),
    )
    p = d.select(
        "source",
        F.size("tk").cast("long").alias("n_words"),
        F.regexp_count(F.col("nt"), F.lit("[aeiou]+"))
        .cast("long")
        .alias("n_syll"),
        F.size(
            F.filter(
                F.col("tk"),
                lambda w: F.regexp_count(w, F.lit("[aeiou]+")) >= F.lit(3),
            )
        )
        .cast("long")
        .alias("n_complex"),
        F.size(F.filter(F.col("tk"), lambda w: F.length(w) >= F.lit(7)))
        .cast("long")
        .alias("n_long"),
    )
    return p.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_syll").alias("syllables"),
        F.round(
            F.sum("n_syll").cast("double") / F.sum("n_words"), 6
        ).alias("syll_per_word"),
        F.round(
            F.sum("n_complex").cast("double") / F.sum("n_words"), 6
        ).alias("complex_word_rate"),
        F.round(
            F.sum("n_long").cast("double") / F.sum("n_words"), 6
        ).alias("long_word_rate"),
    )


# ----------------------------------------------- shingle novelty curve


@query(
    "tx_shingle_novelty",
    tags=("datapipe", "text", "curation"),
    oracle=f"""
        WITH sh AS (
          SELECT doc_id, unnest({_sql_shingles('text')}) AS sh
          FROM documents
        ),
        f AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS novel,
               round(CAST(SUM(CASE WHEN f.first_doc = s.doc_id
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS novelty_rate
        FROM sh s JOIN f USING (sh)
        GROUP BY s.doc_id
    """,
)
def tx_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a document's distinct
    3-shingles whose FIRST corpus occurrence (min doc_id — ingestion
    order) is this document. The curation signal behind incremental
    crawl triage: a batch whose novelty curve collapses toward zero is
    re-crawling what the corpus already holds. Scale shape: one
    map-side-combinable min() per shingle (hot boilerplate shingles
    pre-reduce on every partition before the shuffle), one equi-join
    back keyed on the shingle, one per-doc agg — no windows, no
    quadratic pair frame anywhere, unlike the pairwise dedup family
    this complements. Documents with zero shingles (blank text) have
    no rows to aggregate and are absent by contract."""
    from cqdg_etl_spark.functions.text import word_shingles

    docs = load(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), 3))).alias(
            "sh"
        ),
    )
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("novel"),
            F.round(
                F.sum(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(
                        0
                    )
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("novelty_rate"),
        )
    )


# -------------------------------------------- seasonal-baseline outliers


@query(
    "ev_seasonal_outliers",
    tags=("datapipe", "events", "anomaly"),
    oracle="""
        WITH s AS (
          SELECT event_type,
                 dayofweek(ts) + 1 AS dow, hour(ts) AS hr,
                 SUM(CAST(value AS DECIMAL(18,6))) AS sv,
                 SUM(CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(19,6))
                     * CAST(CAST(value AS DECIMAL(18,6)) AS DECIMAL(19,6)))
                   AS svv,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2, 3
        ),
        z AS (
          SELECT e.event_id, e.event_type, e.value,
                 (CAST(e.value AS DOUBLE) - CAST(s.sv AS DOUBLE) / s.n)
                 / sqrt(greatest(
                     CAST(s.svv AS DOUBLE) / s.n
                     - (CAST(s.sv AS DOUBLE) / s.n)
                       * (CAST(s.sv AS DOUBLE) / s.n), 0)) AS zs
          FROM events e
          JOIN s ON e.event_type = s.event_type
                AND dayofweek(e.ts) + 1 = s.dow
                AND hour(e.ts) = s.hr
          WHERE s.n >= 2
            AND CAST(s.svv AS DOUBLE) / s.n
                - (CAST(s.sv AS DOUBLE) / s.n)
                  * (CAST(s.sv AS DOUBLE) / s.n) > 0
        )
        SELECT event_id, event_type, value, round(zs, 6) AS zscore
        FROM z WHERE abs(zs) > 2.5
    """,
)
def ev_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: each event's value scored
    against the (event_type, day-of-week, hour-of-day) population —
    the same-slot-last-weeks baseline that flags a Tuesday-3am spike a
    global z-score dilutes away. One pass builds exact sufficient
    statistics per seasonal slot (decimal sums of value and value² —
    order-independent, so mean/variance are bit-deterministic); the
    ≤ |types|·7·24-row stats table broadcasts back onto the stream and
    the z-score is a fixed chain of double ops both engines share.
    Slots need n ≥ 2 and positive variance (a singleton or constant
    slot has no baseline to deviate from)."""
    ev = load(spark, sf_dir, "events")
    vd = F.col("value").cast("decimal(18,6)")
    # The stats frame derives from ev — rename its keys so the join
    # back is on unambiguous columns (no self-join aliasing needed).
    stats = ev.groupBy(
        F.col("event_type").alias("s_type"),
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hr"),
    ).agg(
        F.sum(vd).alias("sv"),
        F.sum(vd * vd).alias("svv"),
        F.count("*").alias("n"),
    )
    mean = F.col("sv").cast("double") / F.col("n")
    var = F.col("svv").cast("double") / F.col("n") - mean * mean
    z = (F.col("value").cast("double") - mean) / F.sqrt(
        F.greatest(var, F.lit(0.0))
    )
    return (
        ev.join(
            F.broadcast(stats),
            (F.col("event_type") == F.col("s_type"))
            & (F.dayofweek(F.col("ts")) == F.col("dow"))
            & (F.hour(F.col("ts")) == F.col("hr")),
        )
        .filter((F.col("n") >= 2) & (var > 0))
        .filter(F.abs(z) > 2.5)  # on the UNROUNDED z, like the oracle
        .select(
            "event_id",
            "event_type",
            "value",
            F.round(z, 6).alias("zscore"),
        )
    )


# ------------------------------------------- stratified k-fold balance

_KFOLD = 5


@query(
    "ds_stratified_kfold",
    tags=("datapipe", "sampling", "cv"),
    oracle=f"""
        WITH r AS (
          SELECT lang,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(('0x' || substring(md5('kfold'
                     || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                     doc_id) AS rk
          FROM documents
        )
        SELECT lang, CAST((rk - 1) % {_KFOLD} AS BIGINT) AS fold,
               CAST(count(*) AS BIGINT) AS n
        FROM r GROUP BY lang, fold
    """,
)
def ds_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-balanced stratified k-fold assignment: within each
    stratum (lang), documents take a deterministic md5-shuffle rank
    and fold = (rank-1) mod k — so per-stratum fold sizes differ by AT
    MOST ONE, a guarantee hash-mod-k assignment (binomial fold sizes)
    cannot make. Rank comes from ONE range-partitioned global_rank
    over (lang, md5, id) with broadcast per-stratum offsets
    (operators/ranking.py::per_domain_rank) — never a window
    partitioned by the stratum, which would sort a fleet-scale stratum
    on one task. Output is the (lang, fold, n) balance audit the CV
    split ships with."""
    from cqdg_etl_spark.operators.ranking import per_domain_rank

    docs = load(spark, sf_dir, "documents")
    ranked = per_domain_rank(docs, "doc_id", "lang", salt="kfold")
    return (
        ranked.withColumn(
            "fold", ((F.col("src_rank") - 1) % _KFOLD).cast("long")
        )
        .groupBy("lang", "fold")
        .agg(F.count("*").alias("n"))
    )


# ------------------------------- weighted sampling without replacement

_ES_K = 100


@query(
    "ds_weighted_sample_wor",
    tags=("datapipe", "sampling", "weighted"),
    oracle=f"""
        WITH k AS (
          SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
                 -ln((CAST(concat('0x', substr(md5('es:' ||
                        CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
                     / 4503599627370496.0) / n_chars AS es_key
          FROM documents WHERE n_chars > 0
        )
        SELECT doc_id, w, round(es_key, 6) AS es_key
        FROM k ORDER BY k.es_key, doc_id LIMIT {_ES_K}
    """,
)
def ds_weighted_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-Res, Inf. Proc. Lett. 97(5), 2006): each item draws an
    exponential key -ln(u)/w from a deterministic md5 uniform
    u ∈ (0, 1] (52 md5 bits + 1, over 2^52 — the +1 keeps u > 0 and
    the division by a power of two exact), and the k smallest keys
    ARE a weighted sample without replacement — the one-pass,
    merge-friendly answer to "pick 100 docs proportional to length,
    no repeats" that per-item Bernoulli/PPS sampling cannot give.
    Complements ds_pps_systematic_sample (with-replacement PPS) and
    ds_per_group_sample (uniform).

    Scale shape: keys are a pure projection (no shuffle);
    selection is orderBy(key).limit(k) = TakeOrderedAndProject —
    per-partition k-heaps, merged on one reducer over #partitions·k
    rows, never a global sort. ln() is the one transcendental; the
    engines' libm agreement at round-6 is already load-bearing for
    the published DSIR/Zipf/HLL family (e.g. datapipe5.py:100), and
    ties in the continuous key space are broken by doc_id on both
    sides."""
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("es:"), F.col("doc_id").cast("string"))), 1, 13),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(4503599627370496.0)
    key = -F.log(u) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("w"),
            key.alias("_k"),
        )
        .orderBy("_k", "doc_id")
        .limit(_ES_K)
        .select("doc_id", "w", F.round("_k", 6).alias("es_key"))
    )


# ------------------------------- rendezvous-hash shard rebalance

_RDV_K = 16  # shards before; rebalance adds one → k+1


@query(
    "ds_rendezvous_rebalance",
    tags=("datapipe", "sharding", "consistent-hash"),
    oracle=f"""
        WITH e AS (
          SELECT doc_id, s,
                 md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR))
                   AS h
          FROM documents, range(0, {_RDV_K + 1}) t(s)
        ),
        a AS (
          SELECT doc_id,
                 arg_max(CASE WHEN s < {_RDV_K} THEN s END,
                         CASE WHEN s < {_RDV_K} THEN h END) AS shard_before,
                 arg_max(s, h) AS shard_after
          FROM e GROUP BY doc_id
        )
        SELECT CAST(shard_before AS BIGINT) AS shard_before,
               CAST(shard_after AS BIGINT) AS shard_after,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM a GROUP BY 1, 2
    """,
)
def ds_rendezvous_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding and its defining
    minimal-disruption guarantee, measured: every doc's shard is
    argmax over shards of md5(doc:shard); growing the ring from
    {_RDV_K} to {_RDV_K + 1} shards moves a doc ONLY if the new
    shard wins its argmax — so the (shard_before, shard_after)
    movement matrix is structurally diagonal-plus-one-column (every
    off-diagonal row has shard_after = {_RDV_K}) and the expected
    moved fraction is 1/{_RDV_K + 1}. The mod-k alternative
    (ds_shard_assignment's planner solves a different problem —
    balancing sizes) would remap ~15/16 of the corpus on the same
    ring change; this query is the receipt for why stateful shard
    maps use rendezvous/consistent hashing at fleet scale.

    Scale shape: one ×(k+1) explode (map-side, k is a constant), one
    combinable max_by groupBy(doc_id) — hex strings of equal length
    compare as the integers they encode on both engines — then the
    ≤(k+1)² matrix agg. No windows, no joins."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    e = docs.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(_RDV_K))).alias("s")
    ).select(
        "doc_id",
        "s",
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":"), F.col("s").cast("string")
            )
        ).alias("h"),
    )
    a = e.groupBy("doc_id").agg(
        F.expr(
            f"max_by(CASE WHEN s < {_RDV_K} THEN s END, "
            f"CASE WHEN s < {_RDV_K} THEN h END)"
        ).alias("shard_before"),
        F.expr("max_by(s, h)").alias("shard_after"),
    )
    return a.groupBy(
        F.col("shard_before").cast("long").alias("shard_before"),
        F.col("shard_after").cast("long").alias("shard_after"),
    ).agg(F.count(F.lit(1)).alias("n_docs"))


# ------------------------------------------- personalized PageRank

_PPR_ITER = 4
_PPR_DAMP = 0.85
_PPR_SEED_MOD = 97


def _sql_personalized_pagerank(
    iterations: int = _PPR_ITER, damping: float = _PPR_DAMP
) -> str:
    """Unrolled seeded power iteration (CTE chain — DuckDB disallows
    aggregates in a recursive term). Same IEEE discipline as
    _sql_pagerank_coparts: embeds repr(1 - damping) verbatim and
    repeats the engine's exact double-op order
    (seed-teleport + d · decimal-sum-cast-to-double)."""
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
          SELECT n.node, n.is_seed,
                 CASE WHEN n.is_seed = 1
                      THEN CAST({tele} AS DOUBLE) / CAST(ns.s AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END
                 + CAST({d} AS DOUBLE)
                   * CAST(coalesce(s.sumc, CAST(0 AS DECIMAL(38,18)))
                          AS DOUBLE) AS rank
          FROM nodes n LEFT JOIN s{i} s ON n.node = s.node, ns
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
        nodes AS (
          SELECT DISTINCT src AS node,
                 CASE WHEN src % {_PPR_SEED_MOD} = 0 THEN 1 ELSE 0 END
                   AS is_seed
          FROM adj0
        ),
        nn AS (SELECT count(*) AS n FROM nodes),
        ns AS (SELECT SUM(is_seed) AS s FROM nodes),
        r0 AS (
          SELECT node, is_seed,
                 CASE WHEN is_seed = 1
                      THEN CAST(1.0 AS DOUBLE) / CAST(ns.s AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS rank
          FROM nodes, ns
        ),{",".join(steps)}
        SELECT node, round(rank * CAST(nn.n AS DOUBLE), 6) AS rank_rel
        FROM {prev}, nn
    """


@query(
    "graph_personalized_pagerank",
    tags=("graph", "pagerank", "iterative"),
    oracle=_sql_personalized_pagerank(),
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the part co-purchase graph, seeded
    at parts whose key ≡ 0 (mod 97): rank mass measures proximity to
    the seed set — the related-items primitive. 4 fixed iterations,
    damping 0.85, exact-decimal contribution sums; the oracle replays
    the identical seeded power iteration unrolled in SQL, so even this
    iterative algorithm is value-hash-checked."""
    from cqdg_etl_spark.operators.graph import personalized_pagerank

    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
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
    seeds = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .filter(F.col("node") % _PPR_SEED_MOD == 0)
    )
    return personalized_pagerank(
        edges, seeds, iterations=_PPR_ITER, damping=_PPR_DAMP
    )


# ------------------------------------------ LSH banding parameter audit

_AUDIT_BANDS = (8, 16, 32)  # layouts of the 64-perm signature
_AUDIT_REF_J = 0.8


def _sql_lsh_param_audit() -> str:
    """Oracle: one arm per layout, each re-deriving the full MinHash
    CTE chain (datapipe._sql_minhash_ctes) at that banding; the model
    probability is a python-computed literal embedded identically on
    both engine sides."""
    from cqdg_etl_spark.operators.lsh_audit import collision_probability
    from cqdg_etl_spark.queries.datapipe import _sql_minhash_ctes

    arms = []
    for bands in _AUDIT_BANDS:
        r = 64 // bands
        p = round(collision_probability(_AUDIT_REF_J, bands, r), 6)
        arms.append(f"""
        SELECT CAST({bands} AS INTEGER) AS bands,
               CAST({r} AS INTEGER) AS rows_per_band,
               s.n_candidate_pairs,
               CAST({p} AS DOUBLE) AS collision_p_ref
        FROM (
          WITH {_sql_minhash_ctes(64, bands)}
          SELECT count(*) AS n_candidate_pairs
          FROM (SELECT DISTINCT a.doc AS da, b.doc AS db
                FROM bands a JOIN bands b
                  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
                     AND a.doc < b.doc) q
        ) s""")
    return " UNION ALL ".join(arms)


@query(
    "dd_lsh_param_audit",
    tags=("datapipe", "dedup", "lsh", "audit"),
    oracle=_sql_lsh_param_audit(),
)
def dd_lsh_param_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding audit: the 64-perm signature is built ONCE
    (persisted), then every candidate layout (8x8, 16x4, 32x2) is
    banded from the cache and measured — distinct candidate-pair
    volume next to the model collision probability at Jaccard 0.8.
    The measurement side of round 6's derive-banding-from-corpus-size
    change: a scheduled audit picks the layout from MEASURED candidate
    volume (the true cost driver) instead of the probability model
    alone. One corpus pass however many layouts; each arm is a skinny
    equi-key self-join (operators/lsh_audit.py — a NEW module so the
    published dedup fleet's verification closure stays untouched)."""
    from cqdg_etl_spark.operators.dedup import minhash_signatures
    from cqdg_etl_spark.operators.lsh_audit import lsh_param_audit

    docs = load(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "text", "doc_id", num_perm=64).persist()
    return lsh_param_audit(
        sig, _AUDIT_BANDS, num_perm=64, ref_jaccard=_AUDIT_REF_J
    )


# ------------------------------------------ BPE-ish pre-token profile

# ASCII-only classes on the NORMALIZED (lowercased, ws-collapsed) text,
# so the pattern means the same thing to Java regex and RE2: letter
# runs, digit runs, and single punctuation marks — the GPT-2-style
# pre-tokenization boundary a byte-level BPE trains over.
_PRETOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "tx_bpe_pretoken_stats",
    tags=("datapipe", "text", "tokenizer"),
    oracle=f"""
        WITH pt AS (
          SELECT doc_id, source,
                 unnest(regexp_extract_all({SQL_NORM.format(c='text')},
                                           '{_PRETOKEN_RE}')) AS p
          FROM documents
        ),
        ws AS (
          SELECT source,
                 sum(CASE WHEN {SQL_NORM.format(c='text')} = '' THEN 0
                     ELSE len({SQL_TOKS.format(c='text')}) END)
                   AS n_ws_tokens
          FROM documents GROUP BY source
        ),
        agg AS (
          SELECT source,
                 count(DISTINCT doc_id) AS n_docs,
                 count(*) AS n_pretokens,
                 count(DISTINCT p) AS n_distinct_pretokens,
                 sum(len(p)) AS pretoken_chars
          FROM pt GROUP BY source
        )
        SELECT a.source, n_docs, n_pretokens, n_distinct_pretokens,
               round(CAST(pretoken_chars AS DOUBLE) / n_pretokens, 6)
                 AS chars_per_pretoken,
               round(CAST(n_pretokens AS DOUBLE) / n_ws_tokens, 6)
                 AS pretokens_per_wstoken
        FROM agg a JOIN ws USING (source)
    """,
)
def tx_bpe_pretoken_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE pre-tokenization profile per source: letter/digit/punct runs
    (the byte-level-BPE training boundary) counted against whitespace
    tokens — fertility inputs for sizing a tokenizer before training
    it (chars per pre-token ~ how much a BPE can merge; pre-tokens per
    whitespace token ~ how much punctuation splitting inflates the
    sequence). All integer counts are exact; the two ratios divide the
    same two integers on both engines. One explode + map-side-combined
    aggregates; the distinct-pretoken count shuffles the (source,
    pretoken) vocabulary, bounded by vocab size not corpus size."""
    docs = load(spark, sf_dir, "documents")
    from cqdg_etl_spark.functions.text import normalize_ws, tokens

    norm = normalize_ws(F.col("text"))
    pt = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.regexp_extract_all(norm, F.lit(_PRETOKEN_RE), 0)
        ).alias("p"),
    )
    agg = pt.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_pretokens"),
        F.countDistinct("p").alias("n_distinct_pretokens"),
        F.sum(F.length("p")).alias("pretoken_chars"),
    )
    ws = docs.select(
        "source",
        F.when(norm == "", F.lit(0))
        .otherwise(F.size(tokens(F.col("text"))))
        .alias("nt"),
    ).groupBy("source").agg(F.sum("nt").alias("n_ws_tokens"))
    return agg.join(ws, "source").select(
        "source",
        "n_docs",
        "n_pretokens",
        "n_distinct_pretokens",
        F.round(
            F.col("pretoken_chars").cast("double") / F.col("n_pretokens"), 6
        ).alias("chars_per_pretoken"),
        F.round(
            F.col("n_pretokens").cast("double") / F.col("n_ws_tokens"), 6
        ).alias("pretokens_per_wstoken"),
    )


# ------------------------------------------ strict 3-step funnel

_FUNNEL_WINDOW = "INTERVAL 7 DAY"  # per-step completion window


@query(
    "ev_strict_funnel_3step",
    tags=("datapipe", "events", "funnel"),
    oracle=f"""
        WITH s AS (
          SELECT user_id, min(ts) AS s FROM events
          WHERE event_type = 'signup' GROUP BY user_id
        ),
        v AS (
          SELECT e.user_id, min(e.ts) AS v
          FROM events e JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'view'
            AND e.ts > s.s AND e.ts <= s.s + {_FUNNEL_WINDOW}
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, min(e.ts) AS p
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase'
            AND e.ts > v.v AND e.ts <= v.v + {_FUNNEL_WINDOW}
          GROUP BY e.user_id
        )
        SELECT CAST(1 AS INTEGER) AS stage_idx, 'signup' AS stage,
               (SELECT count(*) FROM s) AS n_users
        UNION ALL
        SELECT CAST(2 AS INTEGER), 'view',
               (SELECT count(*) FROM v)
        UNION ALL
        SELECT CAST(3 AS INTEGER), 'purchase',
               (SELECT count(*) FROM p)
    """,
)
def ev_strict_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel: first signup, then the first
    view STRICTLY after it within 7 days, then the first purchase
    strictly after that view within 7 days — per-step completion
    windows, not the loose any-order funnel of ev_funnel_transitions.
    Three user-keyed conditional-min aggregates chained by equi-joins
    on user_id: each later stage joins the (user, prev_ts) frame back
    to the fact with a residual range predicate, so the plan is three
    co-partitioned hash joins (the fact is shuffled on user_id once
    per stage, never sorted globally, never ranged-joined). Output is
    the 3-row stage table; at 100 TB each stage frame is
    one-row-per-user, bounded by the user dimension."""
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    win = F.expr(_FUNNEL_WINDOW)
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter((F.col("ts") > F.col("s")) & (F.col("ts") <= F.col("s") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("v"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter((F.col("ts") > F.col("v")) & (F.col("ts") <= F.col("v") + win))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p"))
    )

    def stage(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_users",
        )

    return (
        stage(s, 1, "signup")
        .unionByName(stage(v, 2, "view"))
        .unionByName(stage(p, 3, "purchase"))
    )


# ------------------------------------------ intra-class dispersion

@query(
    "emb_intra_class_dispersion",
    tags=("datapipe", "vectors", "quality"),
    oracle="""
        WITH pos AS (
          SELECT vec_id, label, i AS pos,
                 CAST(floor(CAST(embedding[i] AS DOUBLE)
                            * 1000000.0 + 0.5) / 1000000.0
                      AS DECIMAL(18,6)) AS v
          FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
        ),
        cent AS (
          SELECT label, pos,
                 CAST(floor(CAST(sum(v) AS DOUBLE) / count(*)
                            * 1000000.0 + 0.5) / 1000000.0
                      AS DECIMAL(18,6)) AS m
          FROM pos GROUP BY label, pos
        ),
        cnorm AS (
          SELECT label, sqrt(CAST(sum(m * m) AS DOUBLE)) AS nc
          FROM cent GROUP BY label
        ),
        dots AS (
          SELECT p.vec_id, p.label,
                 sum(p.v * c.m) AS dot,
                 sum(p.v * p.v) AS x2
          FROM pos p JOIN cent c ON p.label = c.label AND p.pos = c.pos
          GROUP BY p.vec_id, p.label
        ),
        cos AS (
          SELECT d.label,
                 floor(CAST(dot AS DOUBLE)
                       / (sqrt(CAST(x2 AS DOUBLE)) * nc)
                       * 1000000.0 + 0.5) / 1000000.0 AS c
          FROM dots d JOIN cnorm USING (label)
        )
        SELECT label, count(*) AS n_vectors,
               floor(CAST(sum(CAST(c AS DECIMAL(18,6))) AS DOUBLE)
                     / count(*) * 1000000.0 + 0.5) / 1000000.0
                 AS mean_cos_to_centroid,
               CAST(min(c) AS DOUBLE) AS min_cos_to_centroid
        FROM cos GROUP BY label
    """,
)
def emb_intra_class_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-class tightness audit: per label, the mean and worst
    cosine of members to their own label centroid — the within-class
    complement of emb_centroid_separation (between-class). A label
    with high separation but low tightness is a mixed/mislabeled
    cluster; the pair of audits is the go/no-go before using labels
    for contrastive training.

    Determinism: per-dim values and centroid means are 6-dp rounded
    INTO DECIMAL(18,6); dot products and squared norms are exact
    decimal sums over the fixed dim order; only the final sqrt/divide
    touch doubles, then round 6dp. Scale shape: centroids are one
    map-side-combined agg to |labels|x dims rows (broadcastable
    however large the corpus); the dot-product join is
    broadcast-per-dim, so the corpus-sized pass is a single explode +
    one groupBy(vec_id) — no pairwise work anywhere."""
    emb = load(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos0", "v0"
        ),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        # Raw elements get the same floor(x*1e6+0.5)/1e6 quantization
        # as every derived value: round()-on-double is implementation-
        # defined at 6th-dp half boundaries and would 1-ulp-split the
        # engines on a boundary-adjacent input (ADVICE r6 #4).
        (F.floor(F.col("v0") * F.lit(1000000.0) + F.lit(0.5))
         / F.lit(1000000.0)).cast("decimal(18,6)").alias("v"),
    )
    cent = pos.groupBy("label", "pos").agg(
        (
            F.floor(
                F.sum("v").cast("double") / F.count(F.lit(1))
                * F.lit(1000000.0) + F.lit(0.5)
            )
            / F.lit(1000000.0)
        )
        .cast("decimal(18,6)")
        .alias("m")
    )
    cnorm = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m")).cast("double")).alias("nc")
    )
    dots = (
        pos.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("v") * F.col("m")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("x2"),
        )
    )
    # Quantize to 6dp with floor(x*1e6 + 0.5)/1e6 instead of round():
    # every step is an IEEE double op, bit-identical on any engine,
    # whereas round()-on-double is implementation-defined at near-.5
    # boundaries (Spark rounds the exact binary expansion, DuckDB the
    # scaled float — measured 1-ulp splits on this corpus's
    # structured cosines).
    def q6(col):
        return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    cos = dots.join(F.broadcast(cnorm), "label").select(
        "label",
        q6(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("x2").cast("double")) * F.col("nc"))
        ).alias("c"),
    )
    return cos.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        q6(
            F.sum(F.col("c").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_cos_to_centroid"),
        F.min("c").cast("double").alias("min_cos_to_centroid"),
    )
