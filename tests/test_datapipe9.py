"""Behavioral tests for round-3 batch 7: inverted index, BPE merge
counts, kNN label-noise screen. (Value-level oracle parity is covered
by tests/test_correctness.py.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.nightly


def _write_docs(tmp_path, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pa.table(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts.values()],
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_inverted_index_postings_sorted_and_df_floor(spark, tmp_path):
    from cqdg_etl_spark.queries import REGISTRY

    # "the" appears in 5 docs (>= floor), "cat" in 1 (dropped),
    # duplicates within a doc count once
    texts = {i: "the the word%d" % i for i in [5, 3, 1, 4, 2]}
    sf = _write_docs(tmp_path, texts)
    out = {r["token"]: r for r in
           REGISTRY["tx_inverted_index"].fn(spark, sf).collect()}
    assert list(out) == ["the"]
    assert out["the"]["df"] == 5
    assert out["the"]["postings"] == "1,2,3,4,5"


def test_inverted_index_hot_token_shards_bounded(spark, tmp_path):
    """Skew stress: a stopword present in EVERY doc must come back as
    bounded (token, block) shards — never one giant posting row (the
    canonical single-reducer OOM at corpus scale). The df floor can't
    bound hot tokens; only the shard width does."""
    from cqdg_etl_spark.queries import REGISTRY
    from cqdg_etl_spark.queries.datapipe9 import _POSTINGS_BLOCK

    n = 3 * _POSTINGS_BLOCK + 7  # spans 4 doc-id blocks
    texts = {i: f"stop unique{i}" for i in range(n)}
    sf = _write_docs(tmp_path, texts)
    rows = [
        r
        for r in REGISTRY["tx_inverted_index"].fn(spark, sf).collect()
        if r["token"] == "stop"
    ]
    rows.sort(key=lambda r: r["block"])
    assert [r["block"] for r in rows] == [0, 1, 2, 3]
    sizes = [len(r["postings"].split(",")) for r in rows]
    assert max(sizes) <= _POSTINGS_BLOCK  # bounded max row
    assert all(r["df"] == n for r in rows)  # total df on every shard
    # block-order concatenation reconstructs the full ordered list
    ids = [int(x) for r in rows for x in r["postings"].split(",")]
    assert ids == sorted(range(n))


def test_bpe_first_merges_hand_counted(spark, tmp_path):
    from cqdg_etl_spark.queries import REGISTRY

    # words: "aab" x3 (pairs aa, ab), "ab" x2 (ab) -> ab:5, aa:3
    sf = _write_docs(tmp_path, {1: "aab ab aab", 2: "aab ab"})
    rows = REGISTRY["tx_bpe_first_merges"].fn(spark, sf).collect()
    assert [(r["pair"], r["n"]) for r in rows] == [("ab", 5), ("aa", 3)]


def test_label_noise_flags_planted_mislabel(spark):
    from cqdg_etl_spark.operators.similarity import label_noise_scores

    # two tight clusters along orthogonal axes; vec 0 sits in cluster A
    # but carries cluster B's label -> neighbors all disagree
    rows = [(0, [1.0, 0.0], 2)] + [
        (i, [1.0, 0.01 * i], 1) for i in range(1, 7)
    ] + [(i, [0.0, 1.0], 2) for i in range(10, 16)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["vec_id"]: r for r in
           label_noise_scores(emb, k=5).collect()}
    assert out[0]["noise_score"] == 1.0  # planted mislabel fully flagged
    # cluster-A members see exactly one disagreeing neighbor: the
    # planted mislabel itself (it sits inside their cluster)
    assert out[1]["noise_score"] == 0.2
    assert out[10]["noise_score"] == 0.0  # far cluster is unaffected


def test_label_noise_query_side_ceiling(spark, monkeypatch):
    """The kernel collects the scored side to the driver; a scored side
    over the broadcast-class ceiling must raise (VERDICT r11 #5), not
    silently OOM the driver."""
    import cqdg_etl_spark.operators.similarity as sim

    rows = [(i, [1.0, 0.01 * i], 1) for i in range(8)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(sim, "_LNS_MAX_QUERY_ELEMS", 8)  # 8 rows x 2 dims = 16
    import pytest as _pytest

    with _pytest.raises(ValueError, match="ceiling"):
        sim.label_noise_scores(emb, k=5)
    # under the ceiling the query still builds and runs
    monkeypatch.setattr(sim, "_LNS_MAX_QUERY_ELEMS", 16)
    assert sim.label_noise_scores(emb, k=5).count() == 8


def test_label_noise_zero_norm_ranks_nan_first(spark):
    """Zero-norm vectors produce NaN cosines; Spark's desc window (and
    the DuckDB oracle's ORDER BY cos DESC) rank NaN FIRST, so the
    kernel must keep them in every query's top-k (ADVICE r11 #1 — an
    unmasked np.argsort ranks NaN last and drops them)."""
    from cqdg_etl_spark.operators.similarity import label_noise_scores

    # 0 is a zero vector labeled 2; 1..3 form a tight cluster labeled 1.
    # NaN-first semantics: every query's k=2 set includes vec 0 (cos
    # NaN beats every finite cosine), so each cluster member sees
    # exactly one disagreeing neighbor of two.
    rows = [(0, [0.0, 0.0], 2)] + [
        (i, [1.0, 0.01 * i], 1) for i in range(1, 4)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["vec_id"]: r for r in label_noise_scores(emb, k=2).collect()}
    assert out[1]["n_diff"] == 1 and out[1]["noise_score"] == 0.5
    assert out[2]["n_diff"] == 1 and out[2]["noise_score"] == 0.5
    # the zero vector's own neighbors are all NaN ties -> id asc picks
    # 1 and 2, both disagreeing with label 2
    assert out[0]["n_diff"] == 2 and out[0]["noise_score"] == 1.0


def test_label_noise_small_corpus_uses_actual_neighbor_count(spark):
    """With fewer than k other vectors the denominator is the actual
    neighbor count: 3 disagreeing neighbors out of 3 scores 1.0, not
    3/k (the silent deflation ADVICE r3 flagged)."""
    from cqdg_etl_spark.operators.similarity import label_noise_scores

    rows = [(0, [1.0, 0.0], 9)] + [
        (i, [1.0, 0.01 * i], 1) for i in range(1, 4)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["vec_id"]: r for r in label_noise_scores(emb, k=5).collect()}
    assert out[0]["n_diff"] == 3 and out[0]["noise_score"] == 1.0
