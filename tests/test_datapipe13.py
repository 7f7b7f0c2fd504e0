"""datapipe13 queries: full local verification against the DuckDB
oracles — the same comparison the driver gate runs — plus kernel-level
behavioral tests. The fleet-wide plan lint (test_plan_lint.py) covers
these names now that they are in REGISTRY."""

from __future__ import annotations

import pytest

from cqdg_etl_spark.queries import REGISTRY
from tests.oracle_harness import canonical_rows, duckdb_conn

# This module's query batch, as registered.
BATCH = {
    n: q for n, q in REGISTRY.items() if q.fn.__module__ == "cqdg_etl_spark.queries.datapipe13"
}


def _compare_staged(spark, name: str, sf_dir: str) -> None:
    q = BATCH[name]
    actual = q.fn(spark, sf_dir).toPandas()
    expected = duckdb_conn(sf_dir).execute(q.oracle).df()
    assert sorted(actual.columns) == sorted(expected.columns), name
    assert len(actual) == len(expected), (
        f"{name}: rows spark={len(actual)} oracle={len(expected)}"
    )
    a, e = canonical_rows(actual), canonical_rows(expected)
    if a != e:
        only_a = [r for r in a if r not in set(e)][:5]
        only_e = [r for r in e if r not in set(a)][:5]
        raise AssertionError(
            f"{name}: value mismatch.\n only-spark: {only_a}\n"
            f" only-oracle: {only_e}"
        )


@pytest.mark.parametrize("name", sorted(BATCH))
def test_staged_oracle_match(spark, sf_dir, name):
    _compare_staged(spark, name, sf_dir)


def test_gemm_equals_jvm_bruteforce(spark, sf_dir):
    """The GEMM kernel and the JVM expression path are the same exact
    operator: identical (query, neighbor, rank) sets and 6dp-equal
    scores on real data."""
    from pyspark.sql import functions as F

    from cqdg_etl_spark.operators.gemm import brute_force_topk_gemm
    from cqdg_etl_spark.operators.similarity import brute_force_topk
    from cqdg_etl_spark.queries.registry import load

    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10)
    a = {
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["cos"], 6))
        for r in brute_force_topk(corpus, queries, k=5).collect()
    }
    b = {
        (r["query_id"], r["neighbor_id"], r["rank"], round(r["cos"], 6))
        for r in brute_force_topk_gemm(corpus, queries, k=5).collect()
    }
    assert a == b


def test_gemm_empty_queries(spark, sf_dir):
    from pyspark.sql import functions as F

    from cqdg_etl_spark.operators.gemm import brute_force_topk_gemm
    from cqdg_etl_spark.queries.registry import load

    emb = load(spark, sf_dir, "embeddings")
    out = brute_force_topk_gemm(emb, emb.filter(F.col("vec_id") < 0), k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "rank", "cos",
    ]


def test_covariance_spectrum_properties(spark, sf_dir):
    """Eigenvalues of a real covariance matrix: non-negative (PSD, up
    to rounding slack), sum equals the trace (= sum of per-dim
    variances), and the matrix is symmetric by construction."""
    from cqdg_etl_spark.operators.embstats import (
        covariance_cells,
        covariance_spectrum,
    )
    from cqdg_etl_spark.queries.registry import load

    emb = load(spark, sf_dir, "embeddings")
    cells = {(r["i"], r["j"]): r["cov"] for r in
             covariance_cells(emb, "embedding").collect()}
    d = max(j for _, j in cells) + 1
    assert len(cells) == d * (d + 1) // 2
    spec = covariance_spectrum(emb, "embedding")
    assert len(spec) == d
    assert all(v > -1e-6 for v in spec)  # PSD up to 6dp rounding slack
    trace = sum(cells[(i, i)] for i in range(d))
    assert abs(sum(spec) - trace) < 1e-4


def test_cross_source_leakage_consistent_with_pairs(spark, sf_dir):
    """The leakage matrix's pair total is exactly 2× the verified-pair
    count (each pair counted in both directions)."""
    from cqdg_etl_spark.operators.dedup import minhash_verified_pairs
    from cqdg_etl_spark.queries.datapipe13 import dd_cross_source_leakage
    from cqdg_etl_spark.queries.registry import load

    docs = load(spark, sf_dir, "documents")
    n_pairs = minhash_verified_pairs(docs, "text", "doc_id", 0.8).count()
    out = dd_cross_source_leakage(spark, sf_dir).toPandas()
    assert out["n_pairs"].sum() == 2 * n_pairs


def test_whitened_covariance_is_identity(spark, sf_dir):
    """ZCA whitening audit: the whitened corpus' covariance is I (up to
    the numeric slack of the two-pass fit)."""
    import numpy as np

    from cqdg_etl_spark.operators.embstats import covariance_cells, whiten
    from cqdg_etl_spark.queries.registry import load

    emb = load(spark, sf_dir, "embeddings")
    ww = whiten(emb, "vec_id", "embedding")
    cells = covariance_cells(ww, "whitened").collect()
    for r in cells:
        want = 1.0 if r["i"] == r["j"] else 0.0
        assert abs(r["cov"] - want) < 1e-3, (r["i"], r["j"], r["cov"])


def test_key_skew_profile_shapes(spark, sf_dir):
    """TakeOrderedAndProject (not a global sort / single-task window)
    feeds the top-10 scalar; sanity bounds on the shares."""
    from cqdg_etl_spark.plans.introspect import explain_str
    from cqdg_etl_spark.queries.datapipe13 import pf_key_skew_profile

    df = pf_key_skew_profile(spark, sf_dir)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    row = df.collect()[0]
    assert 0 < row["top1_share"] <= row["top10_share"] <= 1
    assert row["entropy"] >= 0


def test_containment_catches_what_jaccard_misses(spark):
    """A short doc fully contained in a much longer one: containment
    flags the pair at C = 1.0 while Jaccard (same shingles, same
    threshold family) stays far below any dedup threshold."""
    from cqdg_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} w{i}x w{i}y" for i in range(40))
    long_doc = short + " " + filler
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "totally unrelated text here ok")],
        "doc_id long, text string",
    )
    cont = {(r["doc_a"], r["doc_b"]): r["containment"]
            for r in containment_pairs(df, "text", "doc_id", 3, 0.9).collect()}
    assert cont == {(1, 2): 1.0}
    jac = ngram_jaccard_pairs(df, "text", "doc_id", 3, 0.5).collect()
    assert jac == []


def test_local_minhash_builder_matches_published():
    """The src-parametrized MinHash oracle builder must stay in lockstep
    with the published one (queries/datapipe.py) — whitespace aside."""
    import re

    from cqdg_etl_spark.queries.datapipe import _sql_minhash_verified
    from cqdg_etl_spark.queries.datapipe13 import _sql_minhash_verified_over

    canon = lambda s: re.sub(r"\s+", " ", s).strip()  # noqa: E731
    assert canon(_sql_minhash_verified()) == canon(
        _sql_minhash_verified_over("documents")
    )


def test_gemm_hot_partition_and_batching(spark):
    """The GEMM kernel on a deliberately skewed layout: every corpus
    row in ONE partition, enough rows to span multiple Arrow batches.
    Candidates stay bounded (≤ batches·|Q|·k) and the global result
    equals the JVM baseline."""
    import numpy as np

    from pyspark.sql import functions as F

    from cqdg_etl_spark.operators.gemm import brute_force_topk_gemm
    from cqdg_etl_spark.operators.similarity import brute_force_topk

    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)])
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter(F.col("vec_id") >= 5).repartition(1)  # hot partition
    queries = df.filter(F.col("vec_id") < 5)
    # restore the SAVED value, not a hardcoded default — a hardcoded
    # restore would leak a changed batch size into later tests if the
    # session default ever differs
    saved = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
    try:
        a = {(r["query_id"], r["neighbor_id"], r["rank"])
             for r in brute_force_topk_gemm(corpus, queries, k=3).collect()}
        b = {(r["query_id"], r["neighbor_id"], r["rank"])
             for r in brute_force_topk(corpus, queries, k=3).collect()}
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", saved
        )
    assert a == b and len(a) == 15


def test_gemm_and_jvm_agree_on_zero_norm_vectors(spark):
    """Degenerate-vector contract: a zero-norm vector scores cos 0.0
    to everything on BOTH exact paths. Unguarded, the JVM path ranks
    its NaN first (NaN = largest double in Spark ordering) while the
    numpy path drops it last — this fixture has a zero-norm corpus row
    AND a zero-norm query, and asserts the two paths stay identical
    and NaN-free."""
    import math

    from pyspark.sql import functions as F

    from cqdg_etl_spark.operators.gemm import brute_force_topk_gemm
    from cqdg_etl_spark.operators.similarity import brute_force_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),      # query
        (1, [0.0, 0.0, 0.0]),      # zero-norm query
        (10, [1.0, 0.0, 0.0]),
        (11, [0.0, 0.0, 0.0]),     # zero-norm corpus row
        (12, [0.0, 1.0, 0.0]),
        (13, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter(F.col("vec_id") >= 10)
    queries = df.filter(F.col("vec_id") < 10)
    a = [(r["query_id"], r["neighbor_id"], r["rank"], r["cos"])
         for r in brute_force_topk(corpus, queries, k=4)
         .orderBy("query_id", "rank").collect()]
    b = [(r["query_id"], r["neighbor_id"], r["rank"], r["cos"])
         for r in brute_force_topk_gemm(corpus, queries, k=4)
         .orderBy("query_id", "rank").collect()]
    assert a == b
    assert all(not math.isnan(c) for *_, c in a)
    # zero-norm corpus row 11 ties at 0.0 with the orthogonal row 12
    # under query 0 (id tiebreak), never ranks above the true match
    q0 = {r[1]: r[2] for r in a if r[0] == 0}
    assert q0[10] == 1 and q0[11] < q0[13]
    # the zero-norm QUERY scores 0.0 everywhere: pure id-order ranks
    q1 = [r[1] for r in sorted((r for r in a if r[0] == 1),
                               key=lambda r: r[2])]
    assert q1 == [10, 11, 12, 13]


def test_covariance_partition_invariance(spark, sf_dir):
    """The partition-partial X^T X reduce gives the same (rounded)
    covariance no matter how the corpus is partitioned — 1 partition
    vs the session default."""
    from cqdg_etl_spark.operators.embstats import covariance_cells
    from cqdg_etl_spark.queries.registry import load

    emb = load(spark, sf_dir, "embeddings")
    a = {(r["i"], r["j"]): r["cov"]
         for r in covariance_cells(emb.repartition(1), "embedding").collect()}
    b = {(r["i"], r["j"]): r["cov"]
         for r in covariance_cells(emb.repartition(16), "embedding").collect()}
    assert set(a) == set(b)
    worst = max(abs(a[k] - b[k]) for k in a)
    assert worst <= 1e-6, worst  # identical after the 6dp presentation round


def test_containment_dominates_jaccard(spark, sf_dir):
    """Measure invariant on real data: for every pair the two measures
    surface (same shingle space, same max_df), containment ≥ jaccard —
    so at equal thresholds the jaccard pairs are a subset."""
    from cqdg_etl_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )
    from cqdg_etl_spark.queries.registry import load

    docs = load(spark, sf_dir, "documents")
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.2, 1000).collect()}
    cont = {(r["doc_a"], r["doc_b"]): r["containment"]
            for r in containment_pairs(docs, "text", "doc_id", 3, 0.2, 1000).collect()}
    assert jac, "fixture too clean: no jaccard pairs at t=0.2"
    for pair, j in jac.items():
        assert pair in cont and cont[pair] >= j - 1e-9, (pair, j, cont.get(pair))


def test_cluster_safe_split_no_leakage(spark, sf_dir):
    """Every near-dup pair has both ends in the SAME split (the
    property a per-doc hash split does not guarantee), and every doc
    appears exactly once."""
    from cqdg_etl_spark.operators.dedup import ngram_jaccard_pairs
    from cqdg_etl_spark.queries.datapipe13 import ds_cluster_safe_split
    from cqdg_etl_spark.queries.registry import load

    out = ds_cluster_safe_split(spark, sf_dir).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    docs = load(spark, sf_dir, "documents")
    assert len(out) == docs.count()
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", 3, 0.8).collect()
    assert pairs, "fixture too clean: no near-dup pairs"
    for r in pairs:
        assert split_of[r["doc_a"]] == split_of[r["doc_b"]], (
            r["doc_a"], r["doc_b"])


def test_whitening_survives_collapsed_dimension(spark):
    """A zero-variance (collapsed) embedding dimension must not produce
    infs/NaNs: the eps floor caps the 1/sqrt(lambda) blowup, and the
    non-collapsed subspace still whitens to the identity."""
    import numpy as np

    from cqdg_etl_spark.operators.embstats import covariance_cells, whiten

    rng = np.random.default_rng(11)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(3)] + [7.0])
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ww = whiten(df, "vec_id", "embedding")
    sample = ww.limit(5).collect()
    for r in sample:
        assert all(np.isfinite(v) for v in r["whitened"])
    cells = {(r["i"], r["j"]): r["cov"]
             for r in covariance_cells(ww, "whitened").collect()}
    for i in range(3):
        for j in range(i, 3):
            want = 1.0 if i == j else 0.0
            assert abs(cells[(i, j)] - want) < 1e-3, (i, j, cells[(i, j)])
    # the collapsed direction stays collapsed (variance ~0), not inf
    assert abs(cells[(3, 3)]) < 1e-3
