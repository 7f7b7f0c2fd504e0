"""Training-data pipeline queries over documents/embeddings.

Operators from operators/{dedup,similarity,textstats,multimodal}.py wired
to the registry. Every oracle mirrors the computation EXACTLY (same
normalization, same fold order for double sums — Spark's aggregate() and
DuckDB's list_sum both accumulate left-to-right, giving bitwise-equal
doubles), so thresholds and rankings can't diverge. The LSH-banded
variants are fully oracle-checked too: every hash/projection constant is
engine-portable (md5-derived token hashes, shared permutation params,
full-precision hyperplane literals), so DuckDB reproduces the exact
candidate sets. Even ann_topk_ivf is fully oracle-checked: its coarse
quantizer (SRP seed cells + one exact-decimal Lloyd step) is
deterministic and engine-portable, so the oracle re-derives the whole
index in SQL — no rows-only checks remain in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.operators import dedup, multimodal, similarity, textstats
from cqdg_etl_spark.queries.registry import load, query

# --- SQL fragments mirroring functions/text.py and functions/vectors.py ---

# Explicit ASCII whitespace class, NOT RE2 '\s': Java's \s (the Spark
# side, functions/text.WHITESPACE_RE) includes vertical tab \x0B while
# RE2's \s does not — a document containing \v would tokenize
# differently. The explicit class is the same byte set in both dialects
# (and in the pandas operators' r"[ \t\n\x0b\f\r]+").
SQL_NORM = r"trim(regexp_replace(lower({c}), '[ \t\n\x0b\f\r]+', ' ', 'g'))"
SQL_TOKS = f"string_split({SQL_NORM}, ' ')"

def _sql_shingles(c: str, n: int = 3) -> str:
    toks = SQL_TOKS.format(c=c)
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({toks}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )

def _sql_cos(a: str, b: str, dim: int = 64) -> str:
    dot = (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    def norm(v: str) -> str:
        return (
            f"sqrt(list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> CAST({v}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE))))"
        )
    return f"({dot} / ({norm(a)} * {norm(b)}))"


# ------------------------------------------------------------- dedup


@query(
    "dd_exact_fingerprint_groups",
    tags=("datapipe", "dedup"),
    oracle=f"""
        SELECT md5({SQL_NORM.format(c='text')}) AS fingerprint,
               count(*) AS n_docs,
               min(doc_id) AS keep_id
        FROM documents
        GROUP BY fingerprint
    """,
)
def dd_exact_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-text fingerprint."""
    docs = load(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs, "text", "doc_id")


@query(
    "dd_ngram_jaccard_pairs",
    tags=("datapipe", "dedup"),
    oracle=f"""
        WITH s0 AS (
          SELECT doc_id AS doc, unnest({_sql_shingles('text')}) AS shingle
          FROM documents
        ), s AS (
          -- stop-shingle suppression mirroring max_df=1000: sizes and
          -- intersections are both computed over the FILTERED index,
          -- exactly like operators/dedup.py shingle_index().
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
                     / (sa.n_shingles + sb.n_shingles - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc = doc_a
        JOIN sizes sb ON sb.doc = doc_b
        WHERE CAST(n_inter AS DOUBLE)
              / (sa.n_shingles + sb.n_shingles - n_inter) >= 0.8
    """,
)
def dd_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard ≥ 0.8 (inverted-index
    self-join — no cross join; see operators/dedup.py). max_df=1000 caps
    hot-shingle bucket blowup (a viral shingle otherwise yields a
    quadratic bucket at corpus scale); recall impact: pairs whose overlap
    is exclusively stop-shingles are missed — acceptable for dedup, where
    boilerplate-only overlap is noise anyway."""
    docs = load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.8, max_df=1000
    )


def _sql_minhash_ctes(num_perm: int = 64, bands: int = 16, seed: int = 42) -> str:
    """DuckDB oracle mirroring operators/dedup.minhash_lsh_candidates
    exactly: the portable md5-derived 32-bit token hash
    (CAST('0x'||hex AS BIGINT) ≡ Spark conv(_,16,10)), the same (a,b)
    permutation constants (shared via _perm_params), min per
    permutation, and the same '-'-joined band keys."""
    params = dedup._perm_params(num_perm, seed)
    rows_per_band = num_perm // bands
    P = dedup.MINHASH_P
    mins = ", ".join(
        f"min(({a} * h + {b}) % {P}) AS m{i}" for i, (a, b) in enumerate(params)
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
    ctes = f"""s AS (
          SELECT doc_id AS doc, unnest({_sql_shingles('text')}) AS shingle
          FROM documents
        ), h AS (
          SELECT doc,
                 CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS h
          FROM s
        ), sig AS (
          SELECT doc, {mins} FROM h GROUP BY doc
        ), bands AS ({band_selects})"""
    return ctes


def _sql_minhash_lsh(num_perm: int = 64, bands: int = 16, seed: int = 42) -> str:
    """Full MinHash-LSH candidate oracle (see _sql_minhash_ctes)."""
    return f"""
        WITH {_sql_minhash_ctes(num_perm, bands, seed)}
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               count(*) AS n_shared_bands
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             AND a.doc < b.doc
        GROUP BY 1, 2
    """


def _sql_minhash_verified(
    threshold: float = 0.8, num_perm: int = 64, bands: int = 16,
    seed: int = 42,
) -> str:
    """Candidates from the banded MinHash CTEs + exact Jaccard verify
    over each doc's DISTINCT shingle-hash set — mirrors
    operators/dedup.minhash_verified_pairs (same md5 token hashes, so
    identical candidate sets and identical set intersections)."""
    jac = ("CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) "
           "/ (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))")
    return f"""
        WITH {_sql_minhash_ctes(num_perm, bands, seed)},
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


@query(
    "dd_minhash_lsh_candidates",
    tags=("datapipe", "dedup", "lsh"),
    oracle=_sql_minhash_lsh(),
)
def dd_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64 perms) + LSH(16 bands × 4 rows) candidate pairs.
    Fully oracle-checked: every hash in the pipeline is engine-portable
    (md5-derived token hash, shared permutation constants), so DuckDB
    reproduces the exact banded candidate set — upgraded from the
    round-1 rows-only check. Recall vs exact Jaccard additionally
    asserted in tests/test_datapipe.py."""
    docs = load(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates(docs, "text", "doc_id")


def _sql_simhash_pairs(max_hamming: int = 3) -> str:
    """DuckDB oracle mirroring operators/dedup.simhash128 +
    simhash_near_pairs bit-for-bit: four md5-derived 32-bit words per
    token, the same 64 packed lane sums (bit 2j's ones-count in the low
    32-bit lane, bit 2j+1's in the high — the plan-width trick the
    Spark side uses to stay under the codegen field limit), ones·2 > n
    sign decisions, 4×32-bit pigeonhole chunks, and the summed
    per-chunk xor+bit_count verify."""
    packed = ", ".join(
        "CAST(sum((w{w} >> {s}) % 2 + ((w{w} >> {s1}) % 2) * 4294967296)"
        " AS BIGINT) AS s{j}".format(
            w=j // 16, s=(2 * j) % 32, s1=(2 * j) % 32 + 1, j=j
        )
        for j in range(64)
    )

    def ones(b: int) -> str:
        return (
            f"(s{b // 2} >> 32)" if b % 2 else f"(s{b // 2} % 4294967296)"
        )

    chunk_exprs = ", ".join(
        " + ".join(
            f"(CASE WHEN {ones(c * 32 + k)} * 2 > n "
            f"THEN CAST({1 << k} AS BIGINT) ELSE 0 END)"
            for k in range(32)
        )
        + f" AS c{c}"
        for c in range(4)
    )
    chunk_selects = " UNION ALL ".join(
        f"SELECT doc, c0, c1, c2, c3, {i} AS chunk_idx, c{i} AS chunk_val "
        "FROM sig"
        for i in range(4)
    )
    ham = " + ".join(f"bit_count(xor(ca{i}, cb{i}))" for i in range(4))
    return f"""
        WITH toks AS (
          SELECT doc_id AS doc, unnest({SQL_TOKS.format(c='text')}) AS tok
          FROM documents
        ), hl AS (
          SELECT doc,
                 CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS w0,
                 CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS w1,
                 CAST(concat('0x', substr(md5(tok), 17, 8)) AS BIGINT) AS w2,
                 CAST(concat('0x', substr(md5(tok), 25, 8)) AS BIGINT) AS w3
          FROM toks
        ), lanes AS (
          SELECT doc, count(*) AS n, {packed} FROM hl GROUP BY doc
        ), sig AS (
          SELECT doc, {chunk_exprs} FROM lanes
        ), chunks AS ({chunk_selects}),
        cand AS (
          SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
                 a.c0 AS ca0, a.c1 AS ca1, a.c2 AS ca2, a.c3 AS ca3,
                 b.c0 AS cb0, b.c1 AS cb1, b.c2 AS cb2, b.c3 AS cb3
          FROM chunks a JOIN chunks b
            ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
               AND a.doc < b.doc
        )
        SELECT doc_a, doc_b, CAST({ham} AS INTEGER) AS hamming
        FROM cand
        WHERE {ham} <= {max_hamming}
    """


@query(
    "dd_simhash_near_pairs",
    tags=("datapipe", "dedup", "simhash"),
    oracle=_sql_simhash_pairs(),
)
def dd_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-128 near-dup pairs (hamming ≤ 3 via 4×32-bit pigeonhole
    banding). Fully oracle-checked (portable md5 token words → DuckDB
    reproduces the exact signatures); hamming-bound recall additionally
    tested. Re-registered round 7 from the 64-bit/4×16 layout, whose
    16-bit blocks give every random pair a 4·2⁻¹⁶ bucket-collision
    chance — junk candidates ≈ 4n²/65536, a constant-divisor quadratic
    dominant at n ≥ 10⁸ (COVERAGE r6 queue #5). The wider chunks push
    the knee out 65536× at the same plan shape and plan width (see
    operators/dedup.simhash128)."""
    docs = load(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, "text", "doc_id", max_hamming=3)


def _sql_banded_cosine_pairs(
    threshold: float, dim: int = 64, bands: int = 8, rows_per_band: int = 4,
    seed: int = 42,
) -> str:
    """DuckDB oracle mirroring operators/similarity.banded_cosine_dup_pairs
    exactly: same ±1 hyperplanes (shared constants via rademacher_planes),
    same left-to-right double fold for the projections (Spark aggregate()
    vs DuckDB list_sum), same band packing, same exact-cosine verify —
    so the candidate sets are identical by construction."""
    planes = similarity.rademacher_planes(dim, bands * rows_per_band, seed)

    def bit(p: list[int], v: str = "embedding") -> str:
        lits = "[" + ",".join(str(x) for x in p) + "]"
        return (
            f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
            f"k -> CAST({v}[k] AS DOUBLE) * ({lits})[k])) > 0 "
            f"THEN 1 ELSE 0 END)"
        )

    band_selects = []
    for l in range(bands):
        chunk = planes[l * rows_per_band : (l + 1) * rows_per_band]
        key = " + ".join(
            f"{bit(p)} * {1 << (rows_per_band - 1 - j)}"
            for j, p in enumerate(chunk)
        )
        band_selects.append(
            f"SELECT vec_id AS doc, {l} AS band_idx, {key} AS band_key "
            f"FROM embeddings"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    cos = _sql_cos("ea.embedding", "eb.embedding", dim)
    return f"""
        WITH bands AS ({bands_sql}),
        cand AS (
          SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc < b.doc
        )
        SELECT doc_a, doc_b, round({cos}, 6) AS cos
        FROM cand
        JOIN embeddings ea ON ea.vec_id = doc_a
        JOIN embeddings eb ON eb.vec_id = doc_b
        WHERE {cos} >= {threshold}
    """


@query(
    "dd_embedding_cosine_pairs",
    tags=("datapipe", "dedup", "vector"),
    oracle=_sql_banded_cosine_pairs(0.4),
)
def dd_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs ≥ 0.4: banded sign-random-projection
    candidate generation + exact cosine verify — the 100-TB path (the
    band self-join is a shuffle hash join on (band_idx, band_key), never
    a cartesian). The banding is part of the declared semantics and the
    oracle mirrors it bit-for-bit; recall vs the exact all-pairs baseline
    (similarity.cosine_dup_pairs, test-only) is asserted in
    tests/test_datapipe.py.

    (bands, rows_per_band) derive from the corpus size via
    ``similarity.derive_banding`` (SCALE_PROBE_r05.md finding #1: the
    previously fixed (8, 4) measured a quadratic-plus curve, exponent
    ~3 at x10; the recall-held rescale measures 1.42 against the
    Indyk–Motwani n^1.66 floor at cos 0.4). For every corpus of ≤ 2000
    vectors — all harness SFs, where the oracle is evaluated — the
    derivation returns exactly (8, 4), so the bit-unrolled SQL oracle
    below is the derived config, not a separate one. The count() that
    sizes the corpus is a parquet metadata read. NB: pair enumeration
    at cos 0.4 is similarity SEARCH mis-posed as dedup — for
    bounded-output top-k use ann_topk_gemm (measured flat over the
    same decade)."""
    import os

    emb = load(spark, sf_dir, "embeddings")
    bands, rows_per_band = similarity.derive_banding(emb.count(), threshold=0.4)
    # Oracle-pin guard (ADVICE r6 #3): this registered query's DuckDB
    # oracle is bit-unrolled at the base (8, 4) config, which the
    # derivation returns for every corpus of <= 2000 vectors. On a
    # larger corpus the derived banding diverges from the pinned
    # oracle — fail loudly instead of letting an oracle comparison
    # silently mismatch. Scale probes opt in via CQDG_SCALE_DERIVE=1;
    # production callers use similarity.banded_cosine_dup_pairs +
    # derive_banding directly (no oracle contract there).
    if (bands, rows_per_band) != (8, 4) and os.environ.get(
        "CQDG_SCALE_DERIVE"
    ) != "1":
        raise ValueError(
            "dd_embedding_cosine_pairs: derived banding "
            f"{(bands, rows_per_band)} diverges from the (8, 4) config "
            "pinned in this query's oracle (corpus > 2000 vectors). "
            "Set CQDG_SCALE_DERIVE=1 for scale runs, or call "
            "similarity.banded_cosine_dup_pairs with derive_banding "
            "for production corpora."
        )
    return similarity.banded_cosine_dup_pairs(
        emb, threshold=0.4, bands=bands, rows_per_band=rows_per_band
    )


# --------------------------------------------------------- similarity


@query(
    "ann_topk_bruteforce",
    tags=("datapipe", "ann"),
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id < 10),
             c AS (SELECT vec_id AS neighbor_id, embedding AS ce
                   FROM embeddings WHERE vec_id >= 10),
             scored AS (
               SELECT query_id, neighbor_id,
                      {_sql_cos('qe', 'ce')} AS cos
               FROM q CROSS JOIN c
             )
        SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
              ) AS rank FROM scored)
        WHERE rank <= 5
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors (vec_id < 10) over the rest."""
    emb = load(spark, sf_dir, "embeddings")
    out = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") >= 10), emb.filter(F.col("vec_id") < 10), k=5
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _sql_srp_topk(
    multiprobe: bool, k: int = 5, dim: int = 64, n_planes: int = 8,
    seed: int = 42,
) -> str:
    """DuckDB oracle mirroring operators/similarity.lsh_bucket_topk:
    the same gaussian hyperplanes (full-precision repr literals parse to
    the identical IEEE doubles), the same left-to-right projection fold,
    the same bit packing, and (for multiprobe) the same 1-bit-flip probe
    set. Both engines compute the identical bucket ints, so the
    approximate result is deterministic and hash-checkable."""
    planes = similarity._hyperplanes(dim, n_planes, seed)

    def bit(plane: list[float], v: str) -> str:
        lits = "[" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in plane) + "]"
        return (
            f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
            f"k -> CAST({v}[k] AS DOUBLE) * ({lits})[k])) > 0 "
            f"THEN 1 ELSE 0 END)"
        )

    def bucket(v: str) -> str:
        expr = bit(planes[0], v)
        for p in planes[1:]:
            expr = f"({expr} * 2 + {bit(p, v)})"
        return expr

    if multiprobe:
        probes = ", ".join(f"xor(b0, {1 << j})" for j in range(n_planes))
        q_cte = f"""
          q0 AS (SELECT vec_id AS query_id, embedding AS qe,
                        {bucket('embedding')} AS b0
                 FROM embeddings WHERE vec_id < 10),
          q AS (SELECT query_id, qe,
                       unnest(list_distinct([b0, {probes}])) AS bucket
                FROM q0)"""
    else:
        q_cte = f"""
          q AS (SELECT vec_id AS query_id, embedding AS qe,
                       {bucket('embedding')} AS bucket
                FROM embeddings WHERE vec_id < 10)"""
    cos = _sql_cos("qe", "ce", dim)
    return f"""
        WITH {q_cte},
        c AS (SELECT vec_id AS neighbor_id, embedding AS ce,
                     {bucket('embedding')} AS bucket
              FROM embeddings WHERE vec_id >= 10),
        scored AS (
          SELECT query_id, neighbor_id, {cos} AS cos
          FROM q JOIN c USING (bucket)
        )
        SELECT query_id, neighbor_id, rank, round(cos, 6) AS cos
        FROM (SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
              ) AS rank FROM scored)
        WHERE rank <= {k}
    """


@query(
    "ann_topk_lsh",
    tags=("datapipe", "ann", "lsh"),
    oracle=_sql_srp_topk(multiprobe=False),
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH top-5 (approximate; single-probe).
    Fully oracle-checked — the deterministic hyperplanes make the
    approximate answer exactly reproducible (upgraded from rows-only).
    Recall vs ann_topk_bruteforce asserted in tests."""
    emb = load(spark, sf_dir, "embeddings")
    out = similarity.lsh_bucket_topk(
        emb.filter(F.col("vec_id") >= 10), emb.filter(F.col("vec_id") < 10), k=5
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(
    "ann_topk_lsh_multiprobe",
    tags=("datapipe", "ann", "lsh"),
    oracle=_sql_srp_topk(multiprobe=True),
)
def ann_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-5: query probes its bucket + all 1-bit
    neighbors; corpus still shuffles once. Fully oracle-checked (same
    deterministic probe set on both engines; upgraded from rows-only).
    Recall > single-probe, asserted in tests."""
    emb = load(spark, sf_dir, "embeddings")
    out = similarity.lsh_bucket_topk(
        emb.filter(F.col("vec_id") >= 10),
        emb.filter(F.col("vec_id") < 10),
        k=5,
        multiprobe=True,
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


def _sql_ivf_topk(
    k: int = 5, dim: int = 64, n_bits: int = 4, nprobe: int = 6,
    seed: int = 42,
) -> str:
    """DuckDB oracle mirroring operators/similarity.ivf_topk END TO END —
    including training. The quantizer is deterministic and engine-
    portable: SRP seed cells from shared ±1 Rademacher literals, then
    per-cell element-wise means summed as EXACT decimal(38,12) (decimal
    addition is associative, so both engines derive bit-identical
    centroids regardless of accumulation order) and divided in double.
    Assignment = argmin of the same left-to-right (a-b)^2 fold, ties →
    lower cell id; scoring = the shared exact-cosine fold. No fitted
    constants are embedded — the oracle re-derives the index from the
    data, so it is valid at any SF."""
    planes = similarity.rademacher_planes(dim, n_bits, seed)

    def bit(plane: list[int], v: str) -> str:
        lits = "[" + ",".join(f"CAST({x}.0 AS DOUBLE)" for x in plane) + "]"
        return (
            f"(CASE WHEN list_sum(list_transform(range(1, {dim + 1}), "
            f"k -> CAST({v}[k] AS DOUBLE) * ({lits})[k])) > 0 "
            f"THEN 1 ELSE 0 END)"
        )

    def cell(v: str) -> str:
        expr = bit(planes[0], v)
        for p in planes[1:]:
            expr = f"({expr} * 2 + {bit(p, v)})"
        return expr

    def l2sq(v: str, cv: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"k -> (CAST({v}[k] AS DOUBLE) - {cv}[k]) "
            f"* (CAST({v}[k] AS DOUBLE) - {cv}[k])))"
        )

    cos = _sql_cos("qe", "ce", dim)
    return f"""
        WITH c0 AS (
          SELECT vec_id, embedding, {cell('embedding')} AS cell
          FROM embeddings WHERE vec_id >= 10
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
            FROM (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id >= 10) c CROSS JOIN cent
          ) WHERE rn = 1
        ),
        qprobe AS (
          SELECT query_id, embedding, cell FROM (
            SELECT q.vec_id AS query_id, q.embedding, cent.cell,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY {l2sq('q.embedding', 'cent.cv')}, cent.cell
                   ) AS rn
            FROM (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < 10) q CROSS JOIN cent
          ) WHERE rn <= {nprobe}
        ),
        scored AS (
          SELECT query_id, c.vec_id AS neighbor_id,
                 q.embedding AS qe, c.embedding AS ce
          FROM qprobe q JOIN cassign c USING (cell)
        )
        SELECT query_id, neighbor_id, rank, round({cos}, 6) AS cos
        FROM (SELECT query_id, neighbor_id, qe, ce, row_number() OVER (
                PARTITION BY query_id ORDER BY {cos} DESC, neighbor_id
              ) AS rank FROM scored)
        WHERE rank <= {k}
    """


@query(
    "ann_topk_ivf",
    tags=("datapipe", "ann", "ivf"),
    oracle=_sql_ivf_topk(),
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5: deterministic coarse quantizer (SRP seed cells + one
    exact-decimal Lloyd step, ≤16 cells), nprobe=6. Fully oracle-checked
    — the previous MLlib-KMeans trainer was the registry's last
    rows-only check AND embedded every centroid as plan literals (plan
    size grew linearly in n_cells); centroids now travel as Arrow-UDF
    closure data, and the oracle re-derives the identical index in SQL.
    Recall vs brute force asserted in tests."""
    emb = load(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(
        emb.filter(F.col("vec_id") >= 10), emb.filter(F.col("vec_id") < 10), k=5
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ------------------------------------------------------ text analysis


_PUNCT_SQL = """[.,!?;:''"()\\[\\]{}-]"""  # doubled quote for SQL literal


@query(
    "tx_quality_features",
    tags=("datapipe", "text"),
    oracle=f"""
        WITH t AS (
          SELECT doc_id, text, {SQL_TOKS.format(c='text')} AS toks,
                 length(text) AS n_chars
          FROM documents
        )
        SELECT doc_id,
               CAST(n_chars AS BIGINT) AS n_chars_calc,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                     / greatest(len(toks), 1), 6) AS avg_token_len,
               round(CAST(n_chars - length(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')) AS DOUBLE)
                     / greatest(n_chars, 1), 6) AS punct_ratio,
               round(CAST(n_chars - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                     / greatest(n_chars, 1), 6) AS digit_ratio,
               round(CAST(len(list_filter(toks, x -> x IN
                     ('the','and','of','to','in','is','that','it','was','for'))) AS DOUBLE)
                     / greatest(len(toks), 1), 6) AS stopword_ratio,
               round((1.0 - round(CAST(n_chars - length(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')) AS DOUBLE)
                     / greatest(n_chars, 1), 6))
                   * (1.0 - round(CAST(n_chars - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
                     / greatest(n_chars, 1), 6))
                   * round(CAST(len(list_filter(toks, x -> x IN
                     ('the','and','of','to','in','is','that','it','was','for'))) AS DOUBLE)
                     / greatest(len(toks), 1), 6), 6) AS quality_score
        FROM t
    """,
)
def tx_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score."""
    docs = load(spark, sf_dir, "documents")
    return textstats.quality_features(docs, "text", "doc_id")


@query(
    "tx_language_id",
    tags=("datapipe", "text"),
    oracle=f"""
        WITH t AS (
          SELECT doc_id,
                 length(text) - length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk,
                 CAST(len(list_filter({SQL_TOKS.format(c='text')}, x -> x IN
                   ('the','and','of','to','in','is','that','it','was','for'))) AS BIGINT) AS hits_en,
                 CAST(len(list_filter({SQL_TOKS.format(c='text')}, x -> x IN
                   ('el','la','de','que','y','en','los','se','del','las'))) AS BIGINT) AS hits_es,
                 CAST(len(list_filter({SQL_TOKS.format(c='text')}, x -> x IN
                   ('le','la','de','et','les','des','en','un','du','une'))) AS BIGINT) AS hits_fr,
                 CAST(len(list_filter({SQL_TOKS.format(c='text')}, x -> x IN
                   ('der','die','und','das','von','zu','mit','den','im','ein'))) AS BIGINT) AS hits_de
          FROM documents
        )
        SELECT doc_id,
               CASE WHEN cjk > 0 THEN 'zh'
                    WHEN hits_en > 0 AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de THEN 'en'
                    WHEN hits_es > 0 AND hits_es >= hits_en AND hits_es >= hits_fr AND hits_es >= hits_de THEN 'es'
                    WHEN hits_fr > 0 AND hits_fr >= hits_en AND hits_fr >= hits_es AND hits_fr >= hits_de THEN 'fr'
                    WHEN hits_de > 0 AND hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
                    ELSE 'unknown' END AS pred_lang,
               hits_en, hits_es, hits_fr, hits_de
        FROM t
    """,
)
def tx_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword/CJK-heuristic language identification."""
    docs = load(spark, sf_dir, "documents")
    return textstats.language_id(docs, "text", "doc_id")


@query(
    "tx_token_counts_by_source",
    tags=("datapipe", "text"),
    oracle=f"""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(len({SQL_TOKS.format(c='text')})) AS BIGINT) AS ws_tokens,
               CAST(sum(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS bpe_tokens,
               CAST(sum(length(text)) AS BIGINT) AS n_chars
        FROM documents
        GROUP BY source
    """,
)
def tx_token_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source (whitespace + BPE-ish regex)."""
    docs = load(spark, sf_dir, "documents")
    return textstats.token_counts(docs, "text", "source")


@query(
    "tx_fingerprints",
    tags=("datapipe", "text"),
    oracle=f"""
        SELECT doc_id, md5({SQL_NORM.format(c='text')}) AS fingerprint
        FROM documents
    """,
)
def tx_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-document fingerprint (md5 of normalized text)."""
    from cqdg_etl_spark.functions.text import fingerprint

    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fingerprint"))


def _sql_winnowing(k: int = 8, window: int = 16) -> str:
    """DuckDB oracle for operators/textstats.winnowing_fingerprints.
    Uses the Σ code·B^(k-1-j) mod M form (fits 2^56 — exact), which
    equals the Spark side's per-step-mod Horner exactly; list_slice
    ends are INCLUSIVE in DuckDB, hence s..s+window-1."""
    from cqdg_etl_spark.operators.textstats import WINNOW_B, WINNOW_M

    powers = "[" + ",".join(
        str(pow(WINNOW_B, k - 1 - j, WINNOW_M)) for j in range(k)
    ) + "]"
    return f"""
        WITH n AS (
          SELECT doc_id, {SQL_NORM.format(c='text')} AS t FROM documents
        ), g AS (
          SELECT doc_id, t,
                 greatest(length(t) - {k - 1}, 1) AS n_grams
          FROM n
        ), h AS (
          SELECT doc_id, n_grams,
            list_transform(range(1, n_grams + 1), i ->
              list_sum(list_transform(range(0, {k}), j ->
                CAST(ascii(substr(t, CAST(i + j AS INTEGER), 1)) AS BIGINT)
                * ({powers})[j + 1])) % {WINNOW_M}) AS hs
          FROM g
        ), w AS (
          SELECT doc_id, n_grams,
            list_sort(list_distinct(
              list_transform(range(1, greatest(len(hs) - {window - 1}, 1) + 1),
                s -> list_min(list_slice(hs, s, s + {window - 1}))))) AS fps
          FROM h
        )
        SELECT doc_id,
               CAST(n_grams AS BIGINT) AS n_grams,
               CAST(len(fps) AS BIGINT) AS n_fingerprints,
               array_to_string(fps, ',') AS fingerprint_str
        FROM w
    """


@query(
    "tx_winnowing_fingerprints",
    tags=("datapipe", "text", "fingerprint"),
    oracle=_sql_winnowing(),
)
def tx_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) rolling-hash fingerprints per document:
    k=8-char-gram polynomial hashes, 16-hash window minima, distinct
    sorted set — any shared substring of ≥ 23 chars between two
    documents guarantees a shared fingerprint. The operator is
    shuffle-free; the one repartition fans the single-row-group local
    fixture across cores (unnecessary at scale, like
    tx_repetition_metrics)."""
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return textstats.winnowing_fingerprints(docs, "text", "doc_id")


# --------------------------------------------------------- multimodal


@query(
    "mm_media_meta",
    tags=("datapipe", "multimodal"),
    oracle="""
        SELECT doc_id,
               CAST(octet_length(unhex(repeat(md5(text), 8))) AS BIGINT) AS byte_len,
               substr(md5(text), 1, 16) AS payload_prefix
        FROM documents
    """,
)
def mm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media column plumbing: payload bytes + metadata
    (the engine-checkable part; decode is stubbed, see
    operators/multimodal.py)."""
    docs = load(spark, sf_dir, "documents")
    media = multimodal.attach_fake_media(docs, "text", "doc_id")
    # payload_prefix derives from the payload itself: hex(media_bytes)
    # is repeat(md5(text), 8) (uppercased by Spark's hex), so its first
    # 16 chars lowercased ARE substr(md5(text), 1, 16). Computing it
    # here instead of joining back to the source frame removes a second
    # documents scan and a doc_id shuffle join (r11, guide §2.4) —
    # output identical, oracle re-verified at sf0.001/0.01/0.1.
    return media.select(
        "doc_id",
        F.octet_length("media_bytes").cast("long").alias("byte_len"),
        F.substring(F.lower(F.hex("media_bytes")), 1, 16).alias(
            "payload_prefix"
        ),
    )


@query(
    "mm_media_features",
    tags=("datapipe", "multimodal"),
    oracle="""
        WITH d AS (
          SELECT doc_id,
                 octet_length(from_hex(repeat(md5(text), 8))) AS blen,
                 md5(repeat(md5(text), 8)) AS fh
          FROM documents
        )
        SELECT doc_id,
               CAST(blen AS INTEGER) AS byte_len,
               round(list_sum(list_transform(range(1, 17),
                 i -> CAST(CAST(CAST(concat('0x', substr(fh, 2*i - 1, 2)) AS INTEGER)
                           / 255.0 AS REAL) AS DOUBLE))), 6) AS feature_sum
        FROM d
    """,
)
def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary media (deterministic
    fake decode). Fully oracle-checked: the fake kernel chains md5 over
    the payload's hex encoding, so DuckDB reproduces the exact float32
    features (payload = unhex(md5(text)×8) ⇒ hex(payload) =
    md5(text)×8) — upgraded from the round-1 rows-only check. The
    Arrow/binary plumbing (batch shape, array<float> schema) is what
    the Spark side exercises; shape/determinism also tested in tests."""
    docs = load(spark, sf_dir, "documents")
    media = multimodal.attach_fake_media(docs, "text", "doc_id")
    feats = multimodal.extract_media_features(media, dim=16)
    return feats.select(
        "doc_id",
        "byte_len",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feature_sum"
        ),
    )


@query(
    "dd_duplicate_clusters",
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
        )
        SELECT node, min(label) AS component FROM walk GROUP BY node
    """,
)
def dd_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: near-dup pairs (exact 3-gram
    Jaccard >= 0.8) -> connected components -> (node, component=min
    member). Algorithm picked by edge count (connected_components_auto):
    min-label propagation for small near-clique pair graphs, O(log n)
    star contraction past the threshold where an unknown topology could
    make O(diameter) stall. The oracle computes the same closure with a
    recursive CTE."""
    from cqdg_etl_spark.operators.graph import connected_components_auto

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.8)
    return connected_components_auto(pairs, "doc_a", "doc_b")


@query(
    "tx_tfidf_term_stats",
    tags=("datapipe", "text", "tfidf"),
    oracle=f"""
        WITH toks AS (
          SELECT doc_id, unnest({SQL_TOKS.format(c='text')}) AS term
          FROM documents
        ), n AS (SELECT count(*) AS n_docs FROM documents),
        stats AS (
          SELECT term, count(*) AS tf_total,
                 count(DISTINCT doc_id) AS doc_freq
          FROM toks GROUP BY term
        )
        SELECT term, CAST(tf_total AS BIGINT) AS tf_total, doc_freq,
               round(ln((SELECT n_docs FROM n) / CAST(doc_freq AS DOUBLE)), 6)
                 AS idf
        FROM stats
    """,
)
def tx_tfidf_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF statistics: term frequency, document frequency,
    ln-idf — the vocabulary table a scoring pass broadcasts. One
    explode + one groupBy (countDistinct adds its expand internally);
    the corpus size joins in as a broadcast scalar, not a driver
    collect."""
    docs = load(spark, sf_dir, "documents")
    from cqdg_etl_spark.functions.text import tokens as _tokens
    from cqdg_etl_spark.operators.dedup import _spread

    toks = _spread(docs).select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    )
    stats = toks.groupBy("term").agg(
        F.count("*").alias("tf_total"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    return stats.join(F.broadcast(n)).select(
        "term",
        "tf_total",
        "doc_freq",
        F.round(F.log(F.col("n_docs") / F.col("doc_freq").cast("double")), 6).alias(
            "idf"
        ),
    )


@query(
    "ds_train_val_split",
    tags=("datapipe", "sampling"),
    oracle="""
        WITH b AS (
          SELECT source,
                 CAST(('0x' || substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))
                      AS BIGINT) AS bucket
          FROM documents
        )
        SELECT source,
               CASE WHEN bucket < CAST(0.9 * 4294967296 AS BIGINT) THEN 'train'
                    ELSE 'val' END AS split,
               count(*) AS n
        FROM b GROUP BY source, split
    """,
)
def ds_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/val split (md5-bucket assignment,
    reproducible on any engine) — counts per (source, split)."""
    from cqdg_etl_spark.operators.sampling import assign_split

    docs = load(spark, sf_dir, "documents")
    return (
        assign_split(docs, "doc_id", {"train": 0.9, "val": 0.1})
        .groupBy("source", "split")
        .agg(F.count("*").alias("n"))
    )


@query(
    "ds_stratified_sample",
    tags=("datapipe", "sampling"),
    oracle="""
        SELECT lang, count(*) AS n_sampled
        FROM documents
        WHERE CAST(('0x' || substring(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT)
              < CASE WHEN lang = 'en' THEN CAST(0.5 * 4294967296 AS BIGINT)
                     ELSE CAST(0.1 * 4294967296 AS BIGINT) END
        GROUP BY lang
    """,
)
def ds_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep 50% of lang='en', 10%
    otherwise; the filter is a pure projection (no shuffle, no RNG
    state) so the sample is stable under repartitioning."""
    from cqdg_etl_spark.operators.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, "doc_id", "lang", {"en": 0.5}, default_rate=0.1)
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )


@query(
    "ds_decontaminate_vs_benchmark",
    tags=("datapipe", "dedup", "decontamination"),
    oracle=f"""
        WITH bench AS (
          SELECT DISTINCT unnest({_sql_shingles('text', 5)}) AS g
          FROM documents WHERE source = 'src0'
        ), dg AS (
          SELECT doc_id, unnest({_sql_shingles('text', 5)}) AS g
          FROM documents WHERE source <> 'src0'
        )
        SELECT DISTINCT doc_id FROM dg WHERE g IN (SELECT g FROM bench)
    """,
)
def ds_decontaminate_vs_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: training docs (source != src0) sharing any word
    5-gram with the benchmark corpus (source = src0). Semi join on the
    shingle index; benchmark grams broadcast."""
    from cqdg_etl_spark.operators.packing import contaminated_ids

    docs = load(spark, sf_dir, "documents")
    return contaminated_ids(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        "text",
        "doc_id",
        n=5,
    )


@query(
    "ds_pack_sequences",
    tags=("datapipe", "packing"),
    oracle="""
        WITH toks AS (
          SELECT source, doc_id,
                 len(string_split(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')), ' '))
                   AS n_tokens
          FROM documents
        ), packed AS (
          SELECT source, doc_id, n_tokens,
                 CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                      / 512.0) AS BIGINT) AS seq_id
          FROM toks
        )
        SELECT source, seq_id,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        FROM packed GROUP BY source, seq_id
    """,
)
def ds_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: docs -> 512-token sequence bins per
    source (deterministic streaming assignment, one window pass);
    output = per-bin doc/token counts."""
    from cqdg_etl_spark.functions.text import tokens as _tokens
    from cqdg_etl_spark.operators.packing import pack_sequences

    docs = load(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs, "doc_id", F.size(_tokens(F.col("text"))).cast("long"),
        budget=512, partition_cols=["source"],
    )
    return packed.groupBy("source", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@query(
    "tx_quality_quantile_filter",
    tags=("datapipe", "text", "window"),
    oracle="""
        WITH scored AS (
          SELECT lang, doc_id, n_chars,
                 percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
                   AS pr
          FROM documents
        )
        SELECT lang,
               count(*) AS n_kept,
               CAST(min(n_chars) AS BIGINT) AS min_chars
        FROM scored WHERE pr >= 0.25 GROUP BY lang
    """,
)
def tx_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based quality filtering: drop the bottom quartile of
    docs per language by length score. percent_rank is deterministic
    here because the window order (n_chars, doc_id) is a total order.
    One window shuffle on lang; at 100 TB with few langs -> salt the
    partition key or pre-aggregate score histograms instead."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        docs.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.25)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.min("n_chars").alias("min_chars"))
    )


@query(
    "tx_quality_calibrated_udf",
    tags=("datapipe", "text", "pandas-udf"),
    oracle="""
        SELECT lang,
               round(avg(1.0 / (1.0 + exp(-(CAST(n_chars AS DOUBLE) - 200.0) / 80.0))), 6)
                 AS avg_quality
        FROM documents GROUP BY lang
    """,
)
def tx_quality_calibrated_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized Pandas UDF (logistic calibration) feeding a
    JVM-side aggregate — the sanctioned Python-in-hot-path shape."""
    calibrate = textstats.quality_score_vectorized()
    docs = load(spark, sf_dir, "documents")
    return (
        docs.withColumn("q", calibrate(F.col("n_chars")))
        .groupBy("lang")
        .agg(F.round(F.avg("q"), 6).alias("avg_quality"))
    )


@query(
    "mm_png_header_roundtrip",
    tags=("datapipe", "multimodal", "binary"),
    oracle="""
        SELECT doc_id,
               CAST(CAST(('0x' || substring(md5(text), 1, 4)) AS BIGINT) % 4096 + 1
                    AS INTEGER) AS width,
               CAST(CAST(('0x' || substring(md5(text), 5, 4)) AS BIGINT) % 4096 + 1
                    AS INTEGER) AS height,
               8 AS bit_depth
        FROM documents
    """,
)
def mm_png_header_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary metadata parsing: synthesize valid PNG headers with
    md5-derived dimensions, then parse width/height/bit-depth back out
    of the BYTES with pure JVM expressions (hex/substring/conv — no
    Python, no decode library). The oracle derives the expected
    dimensions independently from the same md5, so it verifies the
    synth->bytes->parse pipeline end to end."""
    docs = load(spark, sf_dir, "documents")
    w = (
        F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("long") % 4096 + 1
    ).cast("int")
    h = (
        F.conv(F.substring(F.md5("text"), 5, 4), 16, 10).cast("long") % 4096 + 1
    ).cast("int")
    png = docs.select("doc_id", multimodal.synth_png(w, h).alias("png_bytes"))
    parsed = png.select("doc_id", multimodal.png_dimensions(F.col("png_bytes")).alias("d"))
    return parsed.select(
        "doc_id",
        F.col("d.width").alias("width"),
        F.col("d.height").alias("height"),
        F.col("d.bit_depth").alias("bit_depth"),
    )


@query(
    "tx_cms_heavy_hitters",
    tags=("datapipe", "text", "sketch"),
    oracle=f"""
        WITH toks AS (
          SELECT unnest({SQL_TOKS.format(c='text')}) AS token FROM documents
        ), ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
        hashes AS (
          SELECT d,
                 CAST(CAST(concat('0x', substr(md5(concat(d, ':', token)), 1, 8))
                      AS BIGINT) % 1024 AS INTEGER) AS bucket
          FROM toks CROSS JOIN ds
        ), sketch AS (
          SELECT d, bucket, count(*) AS cnt FROM hashes GROUP BY d, bucket
        ), exact AS (
          SELECT token, count(*) AS exact_cnt FROM toks GROUP BY token
          ORDER BY exact_cnt DESC, token LIMIT 100
        )
        SELECT e.token, e.exact_cnt,
               CAST(min(s.cnt) AS BIGINT) AS cms_estimate
        FROM exact e
        CROSS JOIN ds
        JOIN sketch s
          ON s.d = ds.d
         AND s.bucket = CAST(CAST(concat('0x',
               substr(md5(concat(ds.d, ':', e.token)), 1, 8))
               AS BIGINT) % 1024 AS INTEGER)
        GROUP BY e.token, e.exact_cnt
    """,
)
def tx_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (operators/sketches.py): exact
    top-100 tokens beside their sketch estimates — the mergeable
    depth×width counter structure a 100-TB pipeline keeps instead of a
    full vocabulary, with the one-sided error bound checkable row by
    row (estimate ≥ exact, ≈ equal for heavy hitters). Portable md5
    bucket hashes make the sketch itself oracle-reproducible."""
    from cqdg_etl_spark.functions.text import normalize_ws, tokens
    from cqdg_etl_spark.operators import sketches

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens(normalize_ws(F.col("text")))).alias("token")
    )
    return sketches.cms_heavy_hitters(toks, "token", top_n=100)


@query(
    "pf_expect_orders",
    tags=("datapipe", "profile", "expectations"),
    oracle="""
        WITH agg AS (
          SELECT 'o_custkey_not_null' AS "check",
                 CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS violations
          FROM orders
          UNION ALL
          SELECT 'o_orderdate_not_null',
                 CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'o_totalprice_in_range',
                 CAST(sum(CASE WHEN o_totalprice < 0
                                 OR o_totalprice > 1000000000
                               THEN 1 ELSE 0 END) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'o_orderkey_unique',
                 CAST(count(o_orderkey) - count(DISTINCT o_orderkey)
                      AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'o_custkey_ri_c_custkey',
                 (SELECT CAST(count(*) AS BIGINT)
                  FROM orders o LEFT JOIN customer c
                    ON c_custkey = o_custkey
                  WHERE o_custkey IS NOT NULL AND c_custkey IS NULL)
        )
        SELECT "check", violations, violations = 0 AS passed FROM agg
    """,
)
def pf_expect_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation gate over orders
    (operators/expectations.py): one aggregate pass folds the
    null/range/uniqueness checks (single exchange, map-side combined);
    the foreign-key check is a broadcast anti-join orphan count."""
    from cqdg_etl_spark.operators import expectations as ex

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return ex.expectation_report(
        orders,
        [
            ex.not_null("o_custkey"),
            ex.not_null("o_orderdate"),
            ex.in_range("o_totalprice", 0, 1_000_000_000),
            ex.unique("o_orderkey"),
        ],
        ref_checks=[("o_custkey", customer, "c_custkey")],
    )


@query(
    "dd_minhash_verified_pairs",
    tags=("datapipe", "dedup", "lsh"),
    oracle=_sql_minhash_verified(),
)
def dd_minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup flow end to end: MinHash-LSH candidates →
    exact Jaccard verify on candidates only (operators/dedup.py::
    minhash_verified_pairs). At corpus scale the exact set
    intersections run on O(#candidates) pairs instead of every shingle
    match — the winning shape when duplicates are rare."""
    docs = load(spark, sf_dir, "documents")
    return dedup.minhash_verified_pairs(docs, "text", "doc_id", threshold=0.8)


@query(
    "tx_sentences_udtf",
    tags=("datapipe", "text", "udtf"),
    oracle="""
        WITH parts AS (
          SELECT doc_id,
                 string_split_regex(text, '[.!?]+ +') AS ps
          FROM documents
        ), pos AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(ps) + 1),
                   i -> struct_pack(pos := i, part := ps[i]))) AS u
          FROM parts
        )
        SELECT doc_id,
               CAST(row_number() OVER (
                 PARTITION BY doc_id ORDER BY u.pos) AS INT) AS sent_idx,
               trim(u.part, ' ') AS sentence,
               CAST(length(trim(u.part, ' ')) AS INT) AS n_chars
        FROM pos
        WHERE trim(u.part, ' ') <> ''
    """,
)
def tx_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation via a Python UDTF lateral join
    (operators/udtf_text.py) — the user-defined TABLE-function API
    class, completing the UDF/UDAF/UDTF surface. The split regex lives
    in the Java∩RE2∩Python common dialect, so the oracle's
    string_split_regex + renumbering reproduces the rows exactly."""
    from cqdg_etl_spark.operators.udtf_text import split_sentences

    docs = load(spark, sf_dir, "documents")
    return split_sentences(spark, docs, "text", "doc_id")


@query(
    "ds_chunk_documents",
    tags=("datapipe", "dataset", "chunking"),
    oracle=f"""
        WITH t AS (
          SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM documents
        ), c AS (
          SELECT doc_id, toks,
                 greatest(CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1, 1)
                   AS n_chunks
          FROM t
        ), e AS (
          SELECT doc_id, toks,
                 unnest(range(1, n_chunks + 1)) AS i
          FROM c
        )
        SELECT doc_id,
               CAST(i - 1 AS INT) AS chunk_idx,
               array_to_string(
                 list_slice(toks, (i - 1) * 24 + 1, (i - 1) * 24 + 32), ' ')
                 AS chunk_text,
               CAST(least(len(toks) - (i - 1) * 24, 32) AS INT) AS n_tokens
        FROM e
    """,
)
def ds_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (32-token windows, stride 24 → 8-token
    overlap; sized so the harness docs — 10-99 tokens — actually
    produce multi-chunk output) — the context-carry step between
    cleaning and sequence packing in an LLM data pipeline. Zero
    shuffles (operators/packing.py::chunk_documents)."""
    from cqdg_etl_spark.operators.packing import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", window=32, stride=24)
