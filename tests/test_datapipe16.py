"""datapipe16 queries: full local verification against the DuckDB oracles —
the same comparison the driver gate runs — plus adversarial fixtures run
through BOTH engines and hand-computed expectations. A per-module plan
lint mirrors tests/test_plan_lint.py."""

from __future__ import annotations

import duckdb
import pytest

from cqdg_etl_spark.queries import REGISTRY
from tests.oracle_harness import canonical_rows, duckdb_conn

pytestmark = pytest.mark.nightly

# This module's query batch, as registered.
BATCH = {
    n: q for n, q in REGISTRY.items() if q.fn.__module__ == "cqdg_etl_spark.queries.datapipe16"
}


def _compare_staged(spark, name: str, sf_dir: str, con=None) -> None:
    q = BATCH[name]
    actual = q.fn(spark, sf_dir).toPandas()
    con = con or duckdb_conn(sf_dir)
    expected = con.execute(q.oracle).df()
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


def test_staged_batch_size():
    assert len(BATCH) == 5


@pytest.mark.parametrize("name", sorted(BATCH))
def test_staged_oracle_match(spark, sf_dir, name):
    _compare_staged(spark, name, sf_dir)


# ---------------------------------------------------------- plan lint

_FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin",
              "BatchEvalPython ")


@pytest.mark.parametrize("name", sorted(BATCH))
def test_staged_plan_lint(spark, sf_dir, name):
    df = BATCH[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )
    for node in _FORBIDDEN:
        assert node not in plan, f"{name}: {node} in physical plan\n{plan}"


# ----------------------------------------------------- fixture helpers


def _fixture_dir(spark, tmp_path, **tables) -> str:
    d = str(tmp_path / "fx")
    for name, df in tables.items():
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/{name}.parquet")
    return d


def _fixture_conn(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'"
        )
    return con


_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars int"


# --------------------------------------------- IVF+PQ+rerank pipeline


def test_rerank_sanity_and_shortlist_monotonicity(spark, sf_dir):
    """Harness embeddings are near-uniform random (any ANN is close to
    chance there — same caveat as the LSH/IVF tests), so the harness
    assertions are structural: nonzero overlap with the exact top-5,
    rank-1 cosine never EXCEEDS brute force's rank-1 (exact rerank of
    a candidate subset cannot invent a better neighbor), and recall is
    monotone in the shortlist size — a true neighbor present in a
    shortlist always survives the exact rerank into the top-5, so
    widening the shortlist can only help."""
    from cqdg_etl_spark.operators.ann_rerank import ivf_pq_rerank_topk
    from cqdg_etl_spark.queries.registry import load
    from pyspark.sql import functions as F

    approx = BATCH["ann_topk_ivf_pq_rerank"].fn(spark, sf_dir).collect()
    exact = REGISTRY["ann_topk_bruteforce"].fn(spark, sf_dir).collect()
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx}
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact}
    assert len(ap & ex) > 0
    ex1 = {r["query_id"]: r["cos"] for r in exact if r["rank"] == 1}
    for r in approx:
        if r["rank"] == 1:
            assert r["cos"] <= ex1[r["query_id"]] + 1e-9, r

    emb = load(spark, sf_dir, "embeddings")
    narrow = ivf_pq_rerank_topk(
        emb.filter(F.col("vec_id") >= 10),
        emb.filter(F.col("vec_id") < 10),
        k=5, shortlist=5, nprobe=2,
    ).collect()
    na = {(r["query_id"], r["neighbor_id"]) for r in narrow}
    assert len(ap & ex) >= len(na & ex)


def test_rerank_recall_on_clustered_data(spark):
    """On clusterable data (centers + small noise — the shape real
    embedding corpora have) the full IVF→PQ→rerank pipeline recovers
    the exact top-5 with high recall; the harness corpus is
    near-uniform random where no ANN can (see the LSH/IVF twins)."""
    import random as _random

    from cqdg_etl_spark.operators.ann_rerank import ivf_pq_rerank_topk
    from cqdg_etl_spark.operators.similarity import brute_force_topk

    rng = _random.Random(11)
    dim, n_clusters, per_cluster = 64, 8, 30
    centers = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows, qrows = [], []
    vid = 100
    for ci, c in enumerate(centers):
        for _ in range(per_cluster):
            rows.append((vid, [x + rng.gauss(0.0, 0.05) for x in c]))
            vid += 1
        qrows.append((ci, [x + rng.gauss(0.0, 0.05) for x in c]))
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(qrows, ["vec_id", "embedding"])

    exact = brute_force_topk(corpus, queries, k=5).collect()
    # shortlist must exceed the expected probed-cluster size (30 here)
    # for the PQ stage's within-cluster noise to wash out in the exact
    # rerank — the sizing rule the operator docstring prescribes
    # (shortlist 20 measures 0.62 on this fixture; 40 measures 1.0).
    approx = ivf_pq_rerank_topk(
        corpus, queries, k=5, shortlist=40, nprobe=2
    ).collect()
    ex = {(r.query_id, r.neighbor_id) for r in exact}
    ap = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(ap & ex) / len(ex)
    assert recall >= 0.9, f"clustered recall@5 {recall:.2f}"


def test_rerank_deterministic(spark, sf_dir):
    a = sorted(map(tuple, BATCH["ann_topk_ivf_pq_rerank"].fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, BATCH["ann_topk_ivf_pq_rerank"].fn(spark, sf_dir).collect()))
    assert a == b


# --------------------------------------------- MinHash calibration


def test_calibration_identical_docs_bucket10(spark, tmp_path):
    """Two identical docs: exact J=1 (bucket 10), all 64 signature
    mins agree (mean_est 1.0, zero error). A third, disjoint doc never
    becomes a candidate."""
    a = " ".join(f"w{i}" for i in range(30))
    b = " ".join(f"z{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, a, "en", "s0", 1), (2, a, "en", "s0", 1), (3, b, "en", "s0", 1)],
        _DOC_SCHEMA,
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    rows = BATCH["dd_minhash_calibration"].fn(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["bucket"], r["n_pairs"]) == (10, 1)
    assert r["mean_est"] == 1.0 and r["mean_exact"] == 1.0
    assert r["mean_abs_err"] == 0.0
    _compare_staged(spark, "dd_minhash_calibration", d,
                    con=_fixture_conn(d, ["documents"]))


# --------------------------------------------- dup-cluster size profile


def test_cluster_profile_sizes_and_invariant(spark, tmp_path):
    """3 copies of doc A + 2 copies of doc B + 1 unique doc →
    histogram {3:1, 2:1, 1:1}; sum(size·count) == corpus size."""
    a = " ".join(f"a{i}" for i in range(25))
    b = " ".join(f"b{i}" for i in range(25))
    c = " ".join(f"c{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(1, a, "en", "s0", 1), (2, a, "en", "s0", 1), (3, a, "en", "s0", 1),
         (4, b, "en", "s0", 1), (5, b, "en", "s0", 1),
         (6, c, "en", "s0", 1)],
        _DOC_SCHEMA,
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    hist = {
        r["cluster_size"]: r["n_clusters"]
        for r in BATCH["dd_dup_cluster_size_profile"].fn(spark, d).collect()
    }
    assert hist == {3: 1, 2: 1, 1: 1}
    assert sum(s * n for s, n in hist.items()) == 6
    _compare_staged(spark, "dd_dup_cluster_size_profile", d,
                    con=_fixture_conn(d, ["documents"]))


def test_cluster_profile_corpus_invariant(spark, sf_dir):
    import duckdb as _d

    hist = {
        r["cluster_size"]: r["n_clusters"]
        for r in BATCH["dd_dup_cluster_size_profile"].fn(spark, sf_dir).collect()
    }
    n_docs = _d.connect().execute(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    assert sum(s * n for s, n in hist.items()) == n_docs


# --------------------------------------------- robust z-score profile


def test_robust_zscore_planted_spike(spark, tmp_path):
    """20 events at value 10.0 plus one 1000.0 spike in 'click':
    med=1000 cents, MAD=0 → the spike is the only deviant and MAD=0
    degenerates to flagging it (6745·dev > 0). A second type holds a
    symmetric non-degenerate spread where only the planted extreme
    clears |z| > 3.5."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, 1, "click", 10.0, "{}") for i in range(20)]
    rows.append((99, t0, 1, "click", 1000.0, "{}"))
    # spread type: values 1..13 plus one 10000 → med=7co, MAD=3co
    rows += [(100 + i, t0, 1, "view", float(i), "{}") for i in range(1, 14)]
    rows.append((200, t0, 1, "view", 10000.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = _fixture_dir(spark, tmp_path, events=ev)
    out = {
        r["event_type"]: r
        for r in BATCH["pf_robust_zscore_event_value"].fn(spark, d).collect()
    }
    assert out["click"]["median_cents"] == 1000
    assert out["click"]["mad_cents"] == 0
    assert out["click"]["n_outliers"] == 1  # MAD=0 degeneracy, spike only
    assert out["view"]["median_cents"] == 700
    assert out["view"]["mad_cents"] == 300
    assert out["view"]["n_outliers"] == 1  # only the 10000.0
    _compare_staged(spark, "pf_robust_zscore_event_value", d,
                    con=_fixture_conn(d, ["events"]))


# --------------------------------------------- JS divergence


def test_js_divergence_bounds_and_edges(spark, tmp_path):
    """Identical sources → js = 0; disjoint-vocabulary sources →
    js = ln 2 (the JS upper bound); a mixed pair lands strictly
    between. Symmetric by construction (source_a < source_b)."""
    a = " ".join(f"a{i}" for i in range(30))
    b = " ".join(f"b{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, a, "en", "s0", 1), (2, a, "en", "s1", 1),
         (3, b, "en", "s2", 1),
         (4, a + " " + b, "en", "s3", 1)],
        _DOC_SCHEMA,
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    out = {
        (r["source_a"], r["source_b"]): r["js"]
        for r in BATCH["tx_source_js_divergence"].fn(spark, d).collect()
    }
    assert len(out) == 6
    assert out[("s0", "s1")] == 0.0              # identical
    assert out[("s0", "s2")] == 0.693147         # disjoint → ln 2
    assert 0.0 < out[("s0", "s3")] < 0.693147    # half-shared
    _compare_staged(spark, "tx_source_js_divergence", d,
                    con=_fixture_conn(d, ["documents"]))
