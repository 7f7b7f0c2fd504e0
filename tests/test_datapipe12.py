"""Behavioral tests for round-3 batch 10: source KL divergence and
vocabulary overlap. (Value-level oracle parity is covered by
tests/test_correctness.py.)"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.nightly


def _write_docs(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pa.table(
        {
            "doc_id": list(range(len(rows))),
            "text": [t for _, t in rows],
            "lang": ["en"] * len(rows),
            "source": [s for s, _ in rows],
            "n_chars": [len(t) for _, t in rows],
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_kl_zero_when_source_matches_corpus(spark, tmp_path):
    from cqdg_etl_spark.queries import REGISTRY

    # both sources have the identical token distribution -> each
    # source distribution equals the corpus distribution -> KL = 0
    sf = _write_docs(tmp_path, [("a", "x x y"), ("b", "x x y")])
    out = {r["source"]: r for r in
           REGISTRY["tx_source_kl_divergence"].fn(spark, sf).collect()}
    assert out["a"]["kl"] == 0.0 and out["b"]["kl"] == 0.0
    assert out["a"]["n_toks"] == 3


def test_kl_positive_for_divergent_source(spark, tmp_path):
    from cqdg_etl_spark.queries import REGISTRY

    sf = _write_docs(
        tmp_path, [("a", "x x x x"), ("b", "y y y y")]
    )
    out = {r["source"]: r for r in
           REGISTRY["tx_source_kl_divergence"].fn(spark, sf).collect()}
    # each source is fully concentrated on its own token: KL = ln 2
    import math

    assert abs(out["a"]["kl"] - round(math.log(2), 6)) < 1e-6
    assert abs(out["b"]["kl"] - round(math.log(2), 6)) < 1e-6


def test_vocab_overlap_hand_computed(spark, tmp_path):
    from cqdg_etl_spark.queries import REGISTRY

    # vocab a = {x, y, z}, vocab b = {y, z, w}: common 2, union 4
    sf = _write_docs(tmp_path, [("a", "x y z y"), ("b", "y z w")])
    rows = REGISTRY["tx_source_vocab_overlap"].fn(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["src_a"], r["src_b"]) == ("a", "b")
    assert (r["nv_a"], r["nv_b"], r["n_common"]) == (3, 3, 2)
    assert r["jaccard"] == 0.5


def test_zipf_slope_near_minus_one_for_zipfian_corpus(spark, tmp_path):
    from cqdg_etl_spark.queries import REGISTRY

    # build a corpus whose token frequencies follow freq(r) = 600/r:
    # OLS on (ln r, ln freq) must recover slope ~ -1
    words = []
    for r in range(1, 31):
        words += [f"w{r:02d}"] * (600 // r)
    rows = [("s", " ".join(words))]
    _write_docs(tmp_path, rows)
    out = REGISTRY["tx_zipf_fit"].fn(spark, str(tmp_path)).collect()[0]
    assert out["n_terms"] == 30
    assert abs(out["zipf_slope"] + 1.0) < 0.02  # floor(600/r) rounding


def test_centroid_separation_orthogonal_clusters(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cqdg_etl_spark.queries import REGISTRY

    # label 1 at [1,0], label 2 at [0,1], label 3 on top of label 1
    rows = ([(i, [1.0, 0.0], 1) for i in range(5)]
            + [(10 + i, [0.0, 1.0], 2) for i in range(5)]
            + [(20 + i, [1.0, 0.0], 3) for i in range(5)])
    t = pa.table(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": pa.array([r[1] for r in rows],
                                  pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    out = {(r["label_a"], r["label_b"]): r["l2_dist"]
           for r in REGISTRY["emb_centroid_separation"]
           .fn(spark, str(tmp_path)).collect()}
    assert out[(1, 3)] == 0.0                    # coincident centroids
    assert abs(out[(1, 2)] - 2 ** 0.5) < 1e-6    # orthogonal unit axes
    assert out[(1, 2)] == out[(2, 3)]
