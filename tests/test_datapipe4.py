"""Behavioral tests for the round-3 batch-2 operators: snapshot diff,
incremental rollup merge, sparse TF-IDF cosine, weighted interleave,
PQ codes. (Oracle parity is covered by test_correctness over the
registry; these pin the operator semantics directly.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cqdg_etl_spark.operators.diff import snapshot_diff
from cqdg_etl_spark.operators.incremental import merge_rollups, partial_rollup
from cqdg_etl_spark.operators.ranking import interleave_by_weight
from cqdg_etl_spark.operators.similarity import pq_codes
from cqdg_etl_spark.operators.sparse_sim import tfidf_cosine_pairs
from cqdg_etl_spark.plans.introspect import explain_str

pytestmark = pytest.mark.nightly


def test_snapshot_diff_classifies_all_four(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "id long, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", None), (4, "d", 41.0), (5, "e", 50.0)],
        "id long, s string, v double",
    )
    got = {
        r["id"]: r["change_type"]
        for r in snapshot_diff(old, new, ["id"]).collect()
    }
    # null v on both sides is null-safe-equal -> unchanged
    assert got == {
        1: "delete",
        2: "unchanged",
        3: "unchanged",
        4: "update",
        5: "insert",
    }


def test_snapshot_diff_null_to_value_is_update(spark):
    old = spark.createDataFrame([(1, None)], "id long, v double")
    new = spark.createDataFrame([(1, 2.0)], "id long, v double")
    [row] = snapshot_diff(old, new, ["id"]).collect()
    assert row["change_type"] == "update"


def test_merge_rollups_equals_full_recompute(spark, sf_dir):
    from cqdg_etl_spark.queries.registry import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    batches = [
        partial_rollup(
            li.filter(F.col("l_orderkey") % 2 == i), ["l_returnflag"], "l_quantity"
        )
        for i in range(2)
    ]
    merged = merge_rollups(batches, ["l_returnflag"])
    full = merge_rollups(
        [partial_rollup(li, ["l_returnflag"], "l_quantity")], ["l_returnflag"]
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_tfidf_identical_docs_cosine_one(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "completely different words here"),
            (4, "completely different words here"),
            (5, "unrelated text entirely nomatch"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["cos"]
        for r in tfidf_cosine_pairs(docs, "text", "doc_id", 0.5).collect()
    }
    assert pairs.get((1, 2)) == 1.0
    assert pairs.get((3, 4)) == 1.0
    assert (1, 3) not in pairs and (1, 5) not in pairs


def test_tfidf_plan_no_cartesian(spark, sf_dir):
    from cqdg_etl_spark.queries.registry import load

    docs = load(spark, sf_dir, "documents")
    plan = explain_str(tfidf_cosine_pairs(docs, "text", "doc_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interleave_stream_tracks_mixture(spark):
    rows = [(i, "big" if i % 4 else "small") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = interleave_by_weight(
        df, "doc_id", "src", {"big": 0.75, "small": 0.25}
    ).collect()
    assert len(out) == 400
    # every rank is unique and 1..400
    orders = sorted(r["train_order"] for r in out)
    assert orders == list(range(1, 401))
    # in the first quarter of the stream, the mixture already holds
    head = [r for r in out if r["train_order"] <= 100]
    n_big = sum(1 for r in head if r["src"] == "big")
    assert 70 <= n_big <= 80  # 75 expected; exact interleave is tight


def test_interleave_is_deterministic(spark):
    rows = [(i, "a" if i % 2 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    w = {"a": 0.5, "b": 0.5}
    got1 = sorted(
        map(tuple, interleave_by_weight(df, "doc_id", "src", w).collect())
    )
    got2 = sorted(
        map(tuple, interleave_by_weight(df, "doc_id", "src", w).collect())
    )
    assert got1 == got2


def test_pq_codes_shape_and_range(spark, sf_dir):
    from cqdg_etl_spark.queries.registry import load

    emb = load(spark, sf_dir, "embeddings").limit(60)
    out = pq_codes(emb, m=4, n_bits=4).collect()
    assert len(out) == 60
    for r in out:
        parts = r["code"].split("|")
        assert len(parts) == 4
        for s in range(4):
            assert 0 <= r[f"code_{s}"] < 16
            assert parts[s] == str(r[f"code_{s}"])


def test_pq_codes_group_similar_vectors(spark):
    # two exact clusters far apart in every subspace -> identical codes
    # within a cluster, different codes across clusters. (Exact
    # duplicates, not jittered ones: a Rademacher plane whose entries
    # sum to 0 gives <v, h> = 0 for any constant vector, and then the
    # jitter alone would decide the bit per vector.)
    rows = [(i, [10.0] * 64, 0) for i in range(10)] + [
        (i, [-10.0] * 64, 1) for i in range(10, 20)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = pq_codes(emb, m=4, n_bits=2).collect()
    codes_a = {r["code"] for r in out if r["vec_id"] < 10}
    codes_b = {r["code"] for r in out if r["vec_id"] >= 10}
    assert len(codes_a) == 1 and len(codes_b) == 1
    assert codes_a != codes_b


def test_keep_latest_picks_max_order_with_tiebreak(spark):
    from cqdg_etl_spark.operators.diff import keep_latest

    log = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 00:00:00", "a"),
            (1, 11, "2024-01-02 00:00:00", "b"),
            (1, 12, "2024-01-02 00:00:00", "c"),  # ts tie -> higher id
            (2, 20, "2024-01-01 00:00:00", "d"),
        ],
        "k long, id long, ts string, v string",
    )
    got = {
        r["k"]: (r["id"], r["v"])
        for r in keep_latest(log, ["k"], ["ts", "id"], ["v"]).collect()
    }
    assert got == {1: (12, "c"), 2: (20, "d")}


def test_keep_latest_is_aggregate_not_window(spark, sf_dir):
    from cqdg_etl_spark.operators.diff import keep_latest
    from cqdg_etl_spark.queries.registry import load

    ev = load(spark, sf_dir, "events")
    df = keep_latest(ev, ["user_id"], ["ts", "event_id"], ["value"])
    plan = explain_str(df, mode="formatted")
    # map-side-combinable aggregate, not a sort-everything window
    assert "max_by" in plan, plan
    assert "Window" not in plan, plan


def test_per_group_sample_exact_k(spark, sf_dir):
    from cqdg_etl_spark.operators.ranking import per_domain_rank
    from cqdg_etl_spark.queries.registry import load

    docs = load(spark, sf_dir, "documents")
    ranked = per_domain_rank(docs, "doc_id", "lang")
    k = 5
    sample = ranked.filter(F.col("src_rank") <= k)
    counts = {
        r["lang"]: r["n"]
        for r in sample.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    full = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, n in counts.items():
        assert n == min(k, full[lang])


def test_linear_count_close_to_exact(spark, sf_dir):
    from cqdg_etl_spark.operators.sketches import linear_count
    from cqdg_etl_spark.queries.registry import load

    ev = load(spark, sf_dir, "events")
    [row] = linear_count(ev, "user_id", m=4096).collect()
    exact = ev.select("user_id").distinct().count()
    assert row["n_set"] <= exact
    # linear counting stderr at t = n/m <= 0.5 is ~1.5%; allow 10%
    assert abs(row["estimate"] - exact) <= max(0.1 * exact, 5)


def test_linear_count_merges_across_batches(spark, sf_dir):
    """bit_or mergeability: sketching the union == OR of the two
    batch bitmaps (here verified through n_set of the union frame)."""
    from cqdg_etl_spark.operators.sketches import linear_count
    from cqdg_etl_spark.queries.registry import load

    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    [whole] = linear_count(ev, "user_id").collect()
    [merged] = linear_count(a.unionByName(b), "user_id").collect()
    assert tuple(whole) == tuple(merged)


def test_tfidf_hot_term_stays_bounded(spark):
    """Scale-stress for TF-IDF cosine (the dedup-suite hot-shingle test's
    analog): a boilerplate trigram shared by 1500 docs must be excluded
    from the vector space by max_df — the uncapped posting list would
    self-join to ~1.1M candidate rows. Docs still pair through their
    RARE terms; the hot term contributes neither to dots nor norms."""
    boiler = "subscribe to our newsletter"
    docs = [
        (i, f"{boiler} article body {i % 3} unique tail {i}")
        for i in range(1500)
    ]
    # two docs sharing a rare trigram beyond the boilerplate
    docs += [
        (9_001, f"{boiler} rare shared trigram alpha beta"),
        (9_002, f"{boiler} rare shared trigram alpha beta"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = tfidf_cosine_pairs(
        df, "text", "doc_id", threshold=0.3, ngram=3, max_df=100
    ).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (9_001, 9_002) in got
    # identical rare-term docs → cosine exactly 1 in the capped space
    cos = {(r["doc_a"], r["doc_b"]): r["cos"] for r in pairs}
    assert cos[(9_001, 9_002)] == 1.0
    # boilerplate-only overlap creates NO pairs: every surviving pair
    # shares a term with df <= max_df
    for a, b in got:
        assert not (a < 9_000 and b < 9_000 and (a % 3) != (b % 3)), (
            f"pair ({a},{b}) can only share the suppressed hot term"
        )


def test_bm25_ranking_semantics(spark):
    from cqdg_etl_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "merge merge merge filler filler"),   # high tf, short
            (2, "merge filler filler filler filler filler filler filler"),
            (3, "scan only here"),
            (4, "nothing relevant at all"),
            (5, "merge scan together"),               # two query terms
        ],
        "doc_id long, text string",
    )
    rows = bm25_topk(docs, "text", "doc_id", ["merge", "scan"], k=10).collect()
    got = {r["doc"]: (r["score"], r["rank"]) for r in rows}
    assert 4 not in got                     # no query term -> absent
    assert got[5][1] == 1                   # both terms -> top ranked
    assert got[1][0] > got[2][0]            # higher tf, shorter doc wins
    ranks = sorted(r["rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))


def test_ppjoin_equals_full_inverted_index(spark, sf_dir):
    """Prefix filtering is LOSSLESS: PPJoin's result must equal the
    full inverted-index exact-Jaccard pairs at the same threshold."""
    from cqdg_etl_spark.operators import dedup
    from cqdg_etl_spark.queries.registry import load

    docs = load(spark, sf_dir, "documents")
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.8
        ).collect()
    }
    pp = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ppjoin_pairs(docs, "text", "doc_id").collect()
    }
    assert pp == full


def test_ppjoin_prefix_shrinks_candidates(spark):
    """The point of the prefix: a hot boilerplate shingle shared by
    every doc must NOT appear in candidate generation — docs pair only
    through rare features, and high-Jaccard pairs still surface."""
    boiler = "all rights reserved contact us for details"
    docs = [
        (i, f"{boiler} article {i} alpha{i} beta{i} gamma{i} delta{i}")
        for i in range(300)
    ]
    docs += [
        (9_001, f"{boiler} the same rare tail sentence here"),
        (9_002, f"{boiler} the same rare tail sentence here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    from cqdg_etl_spark.operators.dedup import ppjoin_pairs

    rows = ppjoin_pairs(df, "text", "doc_id").collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    assert got[(9_001, 9_002)] == 1.0
    # boilerplate-only pairs are below threshold and must not appear
    assert all(a == 9_001 and b == 9_002 for a, b in got)
