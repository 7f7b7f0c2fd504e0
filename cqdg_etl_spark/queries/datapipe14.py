"""Registry batch 14 (10 queries), registered through ``registry.query``.

Each query carries a full DuckDB value-hash oracle, checked by
tests/test_correctness.py; tests/test_datapipe14.py (nightly lane) adds
adversarial fixtures run through both engines.

Batch theme: the evaluation-and-curation layer a training-data
pipeline runs AROUND the operators that already exist — measured
recall of the LSH dedup path, language-ID confusion against labels,
paragraph-granularity dedup (RefinedWeb-style), batch/bucket planning,
fair budget allocation, EWMA drift state, k-core graph pruning, and a
real ISO-BMFF demux round-trip. No reference counterpart
(Ferlab-Ste-Justine/cqdg-etl has no analytics of this kind); all
shapes chosen for the 100-TB target and documented per query.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cqdg_etl_spark.queries.registry import REGISTRY, load, query
from cqdg_etl_spark.queries.datapipe import (
    SQL_NORM,
    SQL_TOKS,
    _sql_minhash_lsh,
    _sql_shingles,
)


# ------------------------------------------------ paragraph-level dedup

_PARA_TOKENS = 10  # tokens per pseudo-paragraph (corpus has no \n\n)


@query(
    "dd_paragraph_dedup",
    tags=("datapipe", "dedup", "paragraph"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, {SQL_TOKS.format(c='text')} AS tk FROM documents
        ),
        paras AS (
          SELECT doc_id,
                 unnest(range(0, CAST(ceil(len(tk) / {_PARA_TOKENS}.0) AS BIGINT)))
                   AS para_idx,
                 tk
          FROM toks
        ),
        p AS (
          SELECT doc_id, para_idx,
                 array_to_string(list_slice(tk, para_idx * {_PARA_TOKENS} + 1,
                                            (para_idx + 1) * {_PARA_TOKENS}), ' ')
                   AS para
          FROM paras
        ),
        firsts AS (
          SELECT para, min(doc_id * 1000000 + para_idx) AS first_pos
          FROM p GROUP BY para
        )
        SELECT p.doc_id,
               count(*) AS n_paras,
               CAST(sum(CASE WHEN p.doc_id * 1000000 + p.para_idx = f.first_pos
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               md5(coalesce(string_agg(
                     CASE WHEN p.doc_id * 1000000 + p.para_idx = f.first_pos
                          THEN p.para END, ' ' ORDER BY p.para_idx), ''))
                 AS clean_md5
        FROM p JOIN firsts f USING (para)
        GROUP BY p.doc_id
    """,
)
def dd_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity exact dedup (the RefinedWeb/CCNet unit:
    boilerplate repeats across documents even when whole docs differ).
    Documents are segmented into {_PARA_TOKENS}-token pseudo-paragraphs
    (the corpus is a token stream with no natural breaks), each
    paragraph keeps only its global FIRST occurrence (ordered by
    (doc_id, para_idx)), and the survivors are reassembled per doc.

    Scale shape: first-occurrence is a hash AGGREGATE on the paragraph
    text (min over an encoded position — map-side combinable, no
    window over a potentially-hot paragraph key), joined back to the
    exploded frame on the same key (one shuffle, AQE-splittable on
    skew), then one groupBy(doc_id) to reassemble. Output carries
    md5(clean_text), not the text, so result size is O(docs) not
    O(corpus bytes)."""
    docs = load(spark, sf_dir, "documents")
    # Materialize the token array as a COLUMN before the paragraph
    # transform touches it (the operators/lm.py _bigrams finding):
    # inlining the regexp_replace+split expression makes Catalyst
    # re-evaluate it inside the per-paragraph lambda — measured 3x
    # slower for the explode stage at sf0.1 (guide §1.2 per-task work).
    toked = docs.select(
        "doc_id",
        F.split(
            F.trim(
                F.regexp_replace(F.lower("text"), r"[ \t\n\x0b\f\r]+", " ")
            ),
            " ",
        ).alias("tk"),
    )
    tk = F.col("tk")
    paras = (
        toked.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size(tk) / _PARA_TOKENS).cast("long") - 1,
                    ),
                    lambda i: F.array_join(
                        F.slice(tk, i * _PARA_TOKENS + 1, _PARA_TOKENS), " "
                    ),
                )
            ).alias("para_idx", "para"),
        )
    )
    pos = (F.col("doc_id") * 1000000 + F.col("para_idx")).alias("pos")
    firsts = (
        paras.select("para", pos)
        .groupBy("para")
        .agg(F.min("pos").alias("first_pos"))
    )
    kept = paras.join(firsts, "para").withColumn(
        "is_first",
        (F.col("doc_id") * 1000000 + F.col("para_idx")) == F.col("first_pos"),
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("is_first").cast("long")).alias("n_kept"),
            F.md5(
                F.coalesce(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.when(
                                        F.col("is_first"),
                                        F.struct("para_idx", "para"),
                                    )
                                )
                            ),
                            lambda s: s["para"],
                        ),
                        " ",
                    ),
                    F.lit(""),
                )
            ).alias("clean_md5"),
        )
    )


# --------------------------------------- LSH candidate recall evaluation

_RECALL_T = 0.5  # ground-truth Jaccard floor for the eval


def _sql_ngram_truth(threshold: float) -> str:
    """Exact 3-gram Jaccard pairs ≥ threshold (same max_df=1000
    stop-shingle suppression as dd_ngram_jaccard_pairs — the truth set
    is what the production exact path would emit)."""
    return f"""
        s0 AS (
          SELECT doc_id AS doc, unnest({_sql_shingles('text')}) AS shingle
          FROM documents
        ), s AS (
          SELECT s0.doc, s0.shingle FROM s0
          JOIN (SELECT shingle FROM s0 GROUP BY shingle
                HAVING count(*) <= 1000) keep USING (shingle)
        ), sizes AS (
          SELECT doc, count(*) AS n_shingles FROM s GROUP BY doc
        ), inter AS (
          SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
          FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc < b.doc
          GROUP BY 1, 2
        ), truth AS (
          SELECT doc_a, doc_b,
                 round(CAST(n_inter AS DOUBLE)
                       / (sa.n_shingles + sb.n_shingles - n_inter), 6)
                   AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc = doc_a
          JOIN sizes sb ON sb.doc = doc_b
          WHERE CAST(n_inter AS DOUBLE)
                / (sa.n_shingles + sb.n_shingles - n_inter) >= {threshold}
        )"""


@query(
    "dd_lsh_recall_eval",
    tags=("datapipe", "dedup", "eval"),
    oracle=f"""
        WITH {_sql_ngram_truth(_RECALL_T)},
        cand AS (
          SELECT doc_a, doc_b FROM ({_sql_minhash_lsh()}) c
        )
        SELECT CAST(floor(t.jaccard * 10) AS BIGINT) AS jaccard_decile,
               count(*) AS n_true_pairs,
               CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_caught,
               round(CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                          AS DOUBLE) / count(*), 6) AS recall
        FROM truth t
        LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
        GROUP BY 1
    """,
)
def dd_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the MinHash-LSH candidate stage against the
    exact-Jaccard ground truth, bucketed by true-similarity decile —
    the empirical S-curve (16 bands × 4 rows ⇒ p(catch) =
    1−(1−j⁴)¹⁶) that tells you whether the production LSH config
    misses real duplicates. The eval every dedup deployment should
    ship with but few compute.

    Scale shape: ground truth reuses the inverted-index exact path
    (dd_ngram_jaccard_pairs' plan — no all-pairs), candidates the
    banded-bucket join; both frames are pair-sized (≪ corpus), so the
    eval join is cheap. Decile = floor(round6(j)·10): the float
    product is computed identically by both engines on the identical
    rounded input, so bucket edges are deterministic."""
    from cqdg_etl_spark.operators import dedup

    docs = load(spark, sf_dir, "documents")
    truth = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=_RECALL_T, max_df=1000
    )
    cand = dedup.minhash_lsh_candidates(docs, "text", "doc_id").select(
        "doc_a", "doc_b", F.lit(1).alias("caught")
    )
    return (
        truth.join(cand, ["doc_a", "doc_b"], "left")
        .groupBy(
            F.floor(F.col("jaccard") * 10).cast("long").alias("jaccard_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum(F.coalesce("caught", F.lit(0)).cast("long")).alias("n_caught"),
            F.round(
                F.sum(F.coalesce("caught", F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("recall"),
        )
    )


# ------------------------------------------- length-bucketed batching

_BATCH_BUDGET = 4096  # tokens per training batch


@query(
    "ds_length_buckets",
    tags=("datapipe", "dataset", "batching"),
    oracle=f"""
        WITH d AS (
          SELECT greatest(len({SQL_TOKS.format(c='text')}), 1) AS n_toks
          FROM documents
        ),
        b AS (
          SELECT n_toks,
                 (1 << (length(bin(n_toks)) - 1)) AS bucket_lo,
                 (1 << length(bin(n_toks))) - 1 AS bucket_hi
          FROM d
        ),
        g AS (
          SELECT bucket_lo, bucket_hi, count(*) AS n_docs,
                 CAST(sum(n_toks) AS BIGINT) AS total_tokens
          FROM b GROUP BY 1, 2
        )
        SELECT bucket_lo, bucket_hi, n_docs, total_tokens,
               greatest({_BATCH_BUDGET} // bucket_hi, 1) AS docs_per_batch,
               CAST(ceil(CAST(n_docs AS DOUBLE)
                    / greatest({_BATCH_BUDGET} // bucket_hi, 1)) AS BIGINT)
                 AS n_batches,
               n_docs * bucket_hi - total_tokens AS padded_tokens
        FROM g
    """,
)
def ds_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length-bucketed batch planning: docs grouped by
    token-count bucket [2^k, 2^(k+1)), per-bucket batch capacity under
    a {_BATCH_BUDGET}-token budget with pad-to-bucket-max, batch count,
    and the padding waste the bucketing buys back vs naive global
    padding. All-integer (bucket exponent via binary-string length,
    not float log2 — log2(8) is exact but log2(2^53+ε) is not a bet
    worth making at corpus scale). One corpus scan, one small-key
    aggregation; output is O(#buckets)."""
    docs = load(spark, sf_dir, "documents")
    n_toks = F.greatest(
        F.size(
            F.split(
                F.trim(
                    F.regexp_replace(F.lower("text"), r"[ \t\n\x0b\f\r]+", " ")
                ),
                " ",
            )
        ),
        F.lit(1),
    )
    b = docs.select(n_toks.cast("long").alias("n_toks")).select(
        "n_toks",
        F.expr(
            "shiftleft(1L, CAST(length(bin(n_toks)) AS INT) - 1)"
        ).alias("bucket_lo"),
        F.expr(
            "shiftleft(1L, CAST(length(bin(n_toks)) AS INT)) - 1L"
        ).alias("bucket_hi"),
    )
    g = b.groupBy("bucket_lo", "bucket_hi").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
    )
    per_batch = F.greatest(
        F.expr(f"{_BATCH_BUDGET}L DIV bucket_hi"), F.lit(1).cast("long")
    )
    return g.select(
        "bucket_lo",
        "bucket_hi",
        "n_docs",
        "total_tokens",
        per_batch.alias("docs_per_batch"),
        F.ceil(F.col("n_docs").cast("double") / per_batch)
        .cast("long")
        .alias("n_batches"),
        (F.col("n_docs") * F.col("bucket_hi") - F.col("total_tokens")).alias(
            "padded_tokens"
        ),
    )


# --------------------------------------- language-ID confusion matrix


@query(
    "tx_langid_eval_confusion",
    tags=("datapipe", "text", "eval"),
    oracle=None,  # set below — wraps the published tx_language_id oracle
)
def tx_langid_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram/stopword language-ID heuristic
    against the corpus's labeled ``lang`` column: (true_lang,
    pred_lang, n, share-of-true-class). The evaluation loop that turns
    a language filter from a guess into a measured gate — per-class
    recall is share where true==pred.

    Scale shape: prediction is the existing shuffle-free projection
    (operators/textstats.py::language_id); the matrix is one
    aggregation on a (few × few)-key space; the per-true-class total
    joins back on the tiny aggregated frame (broadcast)."""
    from cqdg_etl_spark.operators import textstats

    docs = load(spark, sf_dir, "documents")
    pred = textstats.language_id(docs, "text", "doc_id").select(
        "doc_id", "pred_lang"
    )
    cells = (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = cells.groupBy("true_lang").agg(F.sum("n").alias("n_true_total"))
    return cells.join(F.broadcast(totals), "true_lang").select(
        "true_lang",
        "pred_lang",
        "n",
        "n_true_total",
        F.round(F.col("n").cast("double") / F.col("n_true_total"), 6).alias(
            "share"
        ),
    )


# Compose the published language-ID oracle rather than duplicating its
# stopword tables: REGISTRY is populated by the datapipe import above.
REGISTRY["tx_langid_eval_confusion"].oracle = f"""
    WITH pred AS ({REGISTRY['tx_language_id'].oracle}),
    cells AS (
      SELECT d.lang AS true_lang, p.pred_lang, count(*) AS n
      FROM pred p JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    ),
    totals AS (
      SELECT true_lang, CAST(sum(n) AS BIGINT) AS n_true_total
      FROM cells GROUP BY 1
    )
    SELECT c.true_lang, c.pred_lang, c.n, t.n_true_total,
           round(CAST(c.n AS DOUBLE) / t.n_true_total, 6) AS share
    FROM cells c JOIN totals t USING (true_lang)
"""


# ------------------------------------------ real ISO-BMFF demux stats

_MP4_DELTA = 20  # stts decode delta per sample (timescale ticks)


def _mp4_samples_for(text: str) -> list[bytes]:
    """Deterministic md5-derived sample payloads — the same derivation
    the oracle performs in SQL, so the REAL container demux is
    value-hash-checked end to end."""
    h = hashlib.md5(text.encode()).hexdigest()
    n = int(h[:8], 16) % 7 + 2
    out = []
    for i in range(n):
        hi = hashlib.md5(f"{text}:{i}".encode()).hexdigest()
        size = int(hi[:8], 16) % 48 + 16
        out.append(bytes.fromhex(hi * 4)[:size])
    return out


_MP4_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("total_sample_bytes", T.LongType()),
    T.StructField("duration_ticks", T.LongType()),
    T.StructField("codec", T.StringType()),
    T.StructField("avc_profile", T.IntegerType()),
    T.StructField("samples_md5", T.StringType()),
])


@query(
    "mm_mp4_demux_stats",
    # 0.94-1.2 s at sf0.1, and the executed plan is ONE MapInPandas
    # directly over the parquet scan — no shuffle, no driver round-trip,
    # so the Arrow batch path keeps the synthetic-MP4 build + demux
    # strictly per-partition.
    tags=("datapipe", "multimodal", "mp4"),
    oracle=f"""
        WITH d AS (
          SELECT doc_id, text,
                 CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) % 7 + 2
                   AS n
          FROM documents
        ),
        s AS (
          SELECT doc_id, n, unnest(range(0, n)) AS i, text FROM d
        ),
        sized AS (
          SELECT doc_id, n, i,
                 CAST(concat('0x', substr(md5(text || ':' || i), 1, 8))
                      AS BIGINT) % 48 + 16 AS size,
                 repeat(md5(text || ':' || i), 4) AS hexpool
          FROM s
        )
        SELECT doc_id,
               CAST(any_value(n) AS BIGINT) AS n_samples,
               CAST(sum(size) AS BIGINT) AS total_sample_bytes,
               CAST(any_value(n) * {_MP4_DELTA} AS BIGINT) AS duration_ticks,
               'avc1' AS codec,
               66 AS avc_profile,
               md5(string_agg(substr(hexpool, 1, size * 2), '' ORDER BY i))
                 AS samples_md5
        FROM sized
        GROUP BY doc_id
    """,
)
def mm_mp4_demux_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 demux, value-hash-checked: per document, md5-derived
    sample payloads are muxed into a spec-valid ISO-BMFF container
    (operators/mp4_codec.py::synth_mp4 — real stsd/stts/stsc/stsz/stco
    tables, avcC record, absolute chunk offsets), then the BYTES are
    demuxed back through the sample-table walk (mp4_track_infos +
    extract_samples). The output row carries the parsed track stats
    AND md5 over the hex of every extracted sample in order — if
    stsc/stco/stsz offset resolution sliced even one byte wrong, the
    hash diverges from the oracle's independent derivation. This
    upgrades container demux from pytest-only to the driver gate.

    Scale shape: one mapInPandas over the corpus; mux+demux are
    per-row pure functions; output is one skinny row per doc. The
    input is spread to the session's shuffle parallelism first (r11):
    the sf-scale parquet is ONE unsplittable row group, so the heavy
    per-row Python work otherwise runs on a single core (measured
    0.72 → 0.39 s at sf0.1 — guide §2.5 input skew / repartition after
    read; at real scale the scan already has enough partitions and the
    exchange is one skinny pass)."""
    from cqdg_etl_spark.operators.mp4_codec import (
        extract_samples,
        mp4_track_infos,
        synth_mp4,
    )

    from cqdg_etl_spark.operators.spread import spread_to_parallelism

    docs = spread_to_parallelism(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = synth_mp4(
                    _mp4_samples_for(text), sample_delta=_MP4_DELTA
                )
                track = mp4_track_infos(payload)[0]
                samples = extract_samples(payload, track)
                rows.append((
                    int(doc_id),
                    track.n_samples,
                    sum(track.sample_sizes),
                    track.duration,
                    track.codec,
                    track.avc_profile,
                    hashlib.md5(
                        "".join(s.hex() for s in samples).encode()
                    ).hexdigest(),
                ))
            yield pd.DataFrame(rows, columns=[f.name for f in _MP4_SCHEMA])

    return docs.mapInPandas(run, schema=_MP4_SCHEMA)


# ------------------------------------------------- EWMA smoothing state

@query(
    "ev_ewma_smoothed",
    tags=("events", "stateful", "drift"),
    oracle="""
        WITH RECURSIVE ordered AS (
          SELECT user_id, CAST(value AS DOUBLE) AS value,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events WHERE event_type = 'purchase'
        ),
        ew AS (
          SELECT user_id, rn, value AS s FROM ordered WHERE rn = 1
          UNION ALL
          SELECT o.user_id, o.rn, (o.value + e.s) * 0.5 AS s
          FROM ew e
          JOIN ordered o ON o.user_id = e.user_id AND o.rn = e.rn + 1
        )
        SELECT user_id,
               count(*) AS n_events,
               floor(max(CASE WHEN rn = mx THEN s END)
                     * 1000000.0 + 0.5) / 1000000.0 AS final_ewma,
               floor(max(s) * 1000000.0 + 0.5) / 1000000.0 AS max_ewma
        FROM (SELECT *, max(rn) OVER (PARTITION BY user_id) AS mx FROM ew)
        GROUP BY user_id
    """,
)
def ev_ewma_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of purchase
    values (α = 1/2: s_i = (x_i + s_{i-1})·0.5, s_1 = x_1) — the
    streaming-shaped smoothing state behind rate limiting and drift
    baselines. Genuinely sequential, so it runs as a grouped-map
    Pandas op with the SAME add-then-halve float op order the oracle
    replays in its recursive CTE — α=1/2 keeps every step an exact
    IEEE halving, so even the float state hash-matches across engines
    (same discipline as ev_cusum_drift).

    The 6-dp output quantization is floor(x·1e6+0.5)/1e6, NOT
    round(): α=1/2 states are 2-dp values over 2^k, whose decimal
    expansions SYSTEMATICALLY graze 6th-dp half boundaries (sf0.1
    surfaced 3 of 1500 rows where a state like 84.04718749999999…
    split Spark's BigDecimal-HALF_UP from DuckDB's scaled rint by one
    final ulp — green at sf0.01 purely by row-count luck). The floor
    form is the same chain of IEEE double ops on both engines, so the
    boundary cannot split them.

    Scale shape: one shuffle on user_id; per-group state is O(1); the
    output is one row per user.

    Execution (r11): the recurrence runs as a JVM ``aggregate`` fold
    over the group's sort_array'd (ts, event_id, value) structs — the
    IDENTICAL left-to-right (x_i + s)·0.5 double sequence the Python
    loop performed (both are single-rounded IEEE ops, so the states
    are bit-equal), without shipping every event through Arrow to a
    per-user pandas group (~1500 tiny groups paid ~4 ms of
    per-group overhead each: measured 7.5 s → 0.6 s at sf0.1). The
    fold seeds with the first element (s_1 = x_1) and folds the rest;
    max tracking rides in the accumulator struct."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")

    fold = """
        aggregate(
          slice(seq, 2, size(seq) - 1),
          struct(element_at(seq, 1).value AS s,
                 element_at(seq, 1).value AS mx),
          (acc, x) -> struct(
            (x.value + acc.s) * 0.5D AS s,
            if((x.value + acc.s) * 0.5D > acc.mx,
               (x.value + acc.s) * 0.5D, acc.mx) AS mx))
    """
    return (
        ev.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("seq")
        )
        .select(
            "user_id",
            F.size("seq").cast("long").alias("n_events"),
            F.expr(fold).alias("_st"),
        )
        .select(
            "user_id",
            "n_events",
            F.col("_st.s").alias("final_ewma"),
            F.col("_st.mx").alias("max_ewma"),
        )
        .select(
            "user_id",
            "n_events",
            (F.floor(F.col("final_ewma") * F.lit(1000000.0) + F.lit(0.5))
             / F.lit(1000000.0)).alias("final_ewma"),
            (F.floor(F.col("max_ewma") * F.lit(1000000.0) + F.lit(0.5))
             / F.lit(1000000.0)).alias("max_ewma"),
        )
    )


# ------------------------------------------ water-filling budget split


@query(
    "ds_waterfill_budget",
    tags=("datapipe", "dataset", "budget"),
    oracle=f"""
        WITH sup AS (
          SELECT source,
                 CAST(sum(len({SQL_TOKS.format(c='text')})) AS BIGINT)
                   AS supply
          FROM documents GROUP BY source
        ),
        w AS (
          SELECT source, supply,
                 row_number() OVER (ORDER BY supply, source) AS k,
                 CAST(sum(supply) OVER (ORDER BY supply, source
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix,
                 CAST(count(*) OVER () AS BIGINT) AS n,
                 CAST(sum(supply) OVER () AS BIGINT) AS total
          FROM sup
        ),
        s AS (
          SELECT *, total // 2 AS b,
                 (prefix + supply * (n - k) <= total // 2) AS sat
          FROM w
        ),
        a AS (
          SELECT CAST(coalesce(sum(CASE WHEN sat THEN supply END), 0)
                      AS BIGINT) AS p,
                 CAST(count(CASE WHEN sat THEN 1 END) AS BIGINT) AS kk
          FROM s
        )
        SELECT source, supply, sat AS saturated,
               CASE WHEN sat THEN supply
                    ELSE (b - p) // greatest(n - kk, 1)
                         + CASE WHEN (k - kk) <=
                                     (b - p) % greatest(n - kk, 1)
                                THEN 1 ELSE 0 END
               END AS alloc_tokens
        FROM s, a
    """,
)
def ds_waterfill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling (max-min fair) token-budget allocation across
    sources: with budget B = half the corpus, every source gets
    min(supply, level) where the water level exhausts B exactly —
    small sources keep everything, large sources are capped at a
    common level, and the integer remainder goes to the first
    unsaturated sources in (supply, name) order. The standard fair
    answer to "which sources do we downsample to hit the token
    target" (temperature mixing reweights; water-filling CAPS).

    Scale shape: one corpus scan aggregates per-source supplies; the
    allocation itself runs over the #sources-sized frame collected
    into ONE array column and solved with JVM higher-order functions
    (transform/filter/aggregate with index) — no single-partition
    window, no nested-loop join, O(#sources²) work inside one row
    where #sources is dimension-sized. posexplode returns the
    per-source rows."""
    docs = load(spark, sf_dir, "documents")
    n_toks = F.size(
        F.split(
            F.trim(F.regexp_replace(F.lower("text"), r"[ \t\n\x0b\f\r]+", " ")),
            " ",
        )
    )
    sup = docs.groupBy("source").agg(
        F.sum(n_toks.cast("long")).alias("supply")
    )
    one = sup.agg(
        F.sort_array(F.collect_list(F.struct("supply", "source"))).alias("xs"),
        F.sum("supply").alias("total"),
    ).select("xs", F.expr("total DIV 2").alias("b"), F.size("xs").alias("n"))

    # prefix_i (1-based position i = idx + 1) and the saturation test
    prefix = lambda idx: F.aggregate(  # noqa: E731
        F.slice(F.col("xs"), F.lit(1), idx + 1),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x["supply"],
    )
    sat = lambda x, idx: (  # noqa: E731
        prefix(idx) + x["supply"] * (F.col("n") - (idx + 1)) <= F.col("b")
    )
    solved = one.select(
        "xs", "b", "n",
        F.size(F.filter("xs", sat)).alias("kk"),
        F.aggregate(
            F.filter("xs", sat),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x["supply"],
        ).alias("p"),
    ).select(
        "xs", "b", "n", "kk",
        (F.col("b") - F.col("p")).alias("r"),
        F.greatest(F.col("n") - F.col("kk"), F.lit(1)).alias("m"),
    )
    alloc = solved.select(
        F.posexplode(
            F.transform(
                "xs",
                lambda x, idx: F.struct(
                    x["source"].alias("source"),
                    x["supply"].alias("supply"),
                    ((idx + 1) <= F.col("kk")).alias("saturated"),
                    F.when((idx + 1) <= F.col("kk"), x["supply"])
                    .otherwise(
                        F.expr("r DIV m")
                        + F.when(
                            (idx + 1 - F.col("kk")) <= (F.col("r") % F.col("m")),
                            1,
                        ).otherwise(0)
                    )
                    .alias("alloc_tokens"),
                ),
            )
        ).alias("i", "row")
    )
    return alloc.select("row.source", "row.supply", "row.saturated",
                        "row.alloc_tokens")


# ----------------------------------------------- k-core graph pruning

_KCORE_K = 3
_KCORE_ROUNDS = 3


def _sql_kcore(k: int, rounds: int) -> str:
    steps = []
    prev = "e0"
    for r in range(1, rounds + 1):
        steps.append(f"""
        d{r} AS (SELECT src AS node, count(*) AS deg FROM {prev}
                 GROUP BY 1),
        a{r} AS (SELECT node FROM d{r} WHERE deg >= {k}),
        e{r} AS (SELECT e.src, e.dst FROM {prev} e
                 JOIN a{r} x ON e.src = x.node
                 JOIN a{r} y ON e.dst = y.node)""")
        prev = f"e{r}"
    return f"""
        WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM op a JOIN op b USING (l_orderkey)
          WHERE a.l_partkey < b.l_partkey
        ),
        e0 AS (SELECT src, dst FROM pairs
               UNION ALL SELECT dst, src FROM pairs),
        {",".join(steps)}
        SELECT node, deg FROM d{rounds} WHERE deg >= {k}
    """


@query(
    "graph_kcore_peel",
    tags=("graph", "kcore", "iterative"),
    oracle=_sql_kcore(_KCORE_K, _KCORE_ROUNDS),
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative peeling ({_KCORE_ROUNDS} fixed
    rounds, k={_KCORE_K}) over the part co-purchase graph: each round
    recomputes degrees and drops nodes below k together with their
    edges — the standard graph-densification step before community
    detection, and the spam/outlier prune for link graphs. Fixed
    rounds keep it oracle-hashable (same discipline as PageRank and
    label propagation); full convergence is the same loop run until a
    round removes nothing.

    Scale shape: each round is one degree aggregation plus two
    equi-joins on the shrinking edge frame — 3 shuffles/round, no
    windows, lineage bounded by the fixed round count."""
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
    deg = None
    for _ in range(_KCORE_ROUNDS):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.filter(F.col("deg") >= _KCORE_K).select(
            F.col("src").alias("node"), "deg"
        )
        edges = edges.join(
            alive.select(F.col("node").alias("src")), "src"
        ).join(alive.select(F.col("node").alias("dst")), "dst")
    return deg.filter(F.col("deg") >= _KCORE_K).select(
        F.col("src").alias("node"), "deg"
    )


# ------------------------------- Spark 4 SQL surface: GROUP BY ALL etc.


@query(
    "sql_group_by_all_lateral",
    tags=("sql", "group-by-all", "lateral-alias"),
    oracle="""
        SELECT o_orderpriority, o_orderstatus, n_orders, total_rev,
               round(total_rev / n_orders, 2) AS avg_rev,
               round(round(total_rev / n_orders, 2) / 1000, 4)
                 AS avg_rev_k
        FROM (
          SELECT o_orderpriority, o_orderstatus,
                 count(*) AS n_orders,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                      AS DOUBLE) AS total_rev
          FROM orders
          GROUP BY o_orderpriority, o_orderstatus
        )
    """,
)
def sql_group_by_all_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL ergonomics on the Spark side — GROUP BY ALL (group by
    every non-aggregate select item, inner block) and CHAINED lateral
    column aliases (avg_rev is defined from the subquery's aggregates
    and then referenced by avg_rev_k in the SAME select list; Spark
    does not yet allow lateral aliases of aggregates inside a GROUP BY
    ALL block itself, so the two features compose across one nesting
    level) — compiled by Catalyst to exactly the classic plan the
    oracle spells out. Decimal(18,6) money accumulation on both sides
    (order-insensitive, engine-exact)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_gba")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, n_orders, total_rev,
               round(total_rev / n_orders, 2) AS avg_rev,
               round(avg_rev / 1000, 4) AS avg_rev_k
        FROM (
          SELECT o_orderpriority, o_orderstatus,
                 count(*) AS n_orders,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
                      AS DOUBLE) AS total_rev
          FROM orders_gba
          GROUP BY ALL
        )
        """
    )


# --------------------------------- per-dimension embedding variance


@query(
    "emb_dim_variance_topk",
    tags=("datapipe", "embedding", "profile"),
    oracle="""
        WITH f AS (
          SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings, range(1, 65) t(i)
        ),
        m AS (SELECT dim, avg(v) AS mu, count(*) AS n FROM f GROUP BY 1)
        SELECT f.dim,
               round(any_value(m.mu), 6) AS mean,
               round(sum((f.v - m.mu) * (f.v - m.mu)) / any_value(m.n), 6)
                 AS variance
        FROM f JOIN m USING (dim)
        GROUP BY f.dim
        ORDER BY variance DESC, dim
        LIMIT 8
    """,
)
def emb_dim_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 embedding dimensions by population variance (with means) —
    the variance-based feature-selection / dead-dimension audit: a
    near-zero-variance dimension carries no signal and a dominant one
    signals representation collapse onto a single axis
    (complementary to the full covariance spectrum, at 1/d the cost).

    Scale shape: posexplode → per-dimension mean (64-key agg), means
    broadcast back for the exact centered second pass, top-8 via
    sort+limit = TakeOrderedAndProject (per-partition heaps, no global
    sort). Two corpus passes, both shuffle-tiny (d keys)."""
    emb = load(spark, sf_dir, "embeddings")
    f = emb.select(
        F.posexplode("embedding").alias("dim0", "v0")
    ).select(
        F.col("dim0").cast("long").alias("dim"),
        F.col("v0").cast("double").alias("v"),
    )
    m = f.groupBy("dim").agg(
        F.avg("v").alias("mu"), F.count(F.lit(1)).alias("n")
    )
    return (
        f.join(F.broadcast(m), "dim")
        .groupBy("dim")
        .agg(
            F.round(F.first("mu"), 6).alias("mean"),
            F.round(
                F.sum((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu")))
                / F.first("n"),
                6,
            ).alias("variance"),
        )
        .orderBy(F.col("variance").desc(), "dim")
        .limit(8)
    )
