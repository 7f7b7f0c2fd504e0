"""datapipe15 queries: full local verification against the DuckDB oracles —
the same comparison the driver gate runs — plus adversarial fixtures run
through BOTH engines (the fixture parquet dir doubles as an sf_dir, so
the hand-built edge cases get the oracle treatment too) and
hand-computed expectations. A per-module plan lint mirrors
tests/test_plan_lint.py."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from cqdg_etl_spark.queries import REGISTRY
from tests.oracle_harness import canonical_rows, duckdb_conn

# This module's query batch, as registered.
BATCH = {
    n: q for n, q in REGISTRY.items() if q.fn.__module__ == "cqdg_etl_spark.queries.datapipe15"
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
    assert len(BATCH) == 12


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
    """Write hand-built tables as parquet under one dir so the BATCH
    fn and its DuckDB oracle both read identical bytes."""
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


# ------------------------------------------- truncation-prefix dedup


def test_truncation_catches_what_jaccard_misses(spark, tmp_path):
    """Doc 1 (20 tokens) is an exact prefix of doc 2 (200 tokens) —
    3-shingle Jaccard is ~18/198 ≈ 0.09, far under any dedup
    threshold, but the truncation relation is exact. Doc 3 shares the
    first 12 tokens with both (same block) then diverges: candidate,
    verify rejects. Doc 4 is 8 tokens (< k): out of contract."""
    words = [f"w{i}" for i in range(200)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words[:20]), "en", "s0", 1),
            (2, " ".join(words), "en", "s0", 1),
            (3, " ".join(words[:12] + ["zz"] * 30), "en", "s0", 1),
            (4, " ".join(words[:8]), "en", "s0", 1),
        ],
        _DOC_SCHEMA,
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    rows = {
        (r["doc_a"], r["doc_b"]): (r["len_a"], r["len_b"])
        for r in BATCH["dd_truncation_prefix_pairs"].fn(spark, d).collect()
    }
    assert rows == {(1, 2): (20, 200)}
    _compare_staged(spark, "dd_truncation_prefix_pairs", d,
                    con=_fixture_conn(d, ["documents"]))


def test_truncation_whitespace_normalized(spark, tmp_path):
    """Truncation is judged on NORMALIZED tokens: case and whitespace
    runs don't break the prefix relation."""
    words = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [
            (1, "  " + "   ".join(w.upper() for w in words[:15]), "en", "s0", 1),
            (2, " ".join(words), "en", "s0", 1),
        ],
        _DOC_SCHEMA,
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    out = BATCH["dd_truncation_prefix_pairs"].fn(spark, d).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [(1, 2)]


# ------------------------------------------- syllable complexity audit


def test_syllable_complexity_hand_computed(spark, tmp_path):
    """'banana analysis go' → vowel groups: ba-na-na(3) + a-na-ly-sis
    (4: 'a','a','y'? no — groups are [aeiou]+ runs: a,a,i = 3) + go(1).
    Hand-count: banana=3, analysis=3 (a, a, i), go=1 → 7 syllables,
    3 words, complex words (≥3 groups): banana, analysis → 2; long
    words (≥7 chars): analysis → 1."""
    docs = spark.createDataFrame(
        [(1, "banana analysis go", "en", "s0", 1)], _DOC_SCHEMA
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    r = BATCH["tx_syllable_complexity"].fn(spark, d).collect()[0]
    assert (r["n_docs"], r["words"], r["syllables"]) == (1, 3, 7)
    assert r["complex_word_rate"] == round(2 / 3, 6)
    assert r["long_word_rate"] == round(1 / 3, 6)
    _compare_staged(spark, "tx_syllable_complexity", d,
                    con=_fixture_conn(d, ["documents"]))


# ----------------------------------------------- shingle novelty curve


def test_novelty_first_occurrence_ordering(spark, tmp_path):
    """Doc 1 introduces everything (novelty 1.0); doc 2 repeats doc 1
    verbatim (novelty 0.0); doc 3 is half doc-1 text, half new."""
    a = " ".join(f"a{i}" for i in range(12))
    b = " ".join(f"b{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, a, "en", "s0", 1),
            (2, a, "en", "s0", 1),
            (3, f"{a} {b}", "en", "s0", 1),
        ],
        _DOC_SCHEMA,
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    out = {
        r["doc_id"]: (r["n_shingles"], r["novel"])
        for r in BATCH["tx_shingle_novelty"].fn(spark, d).collect()
    }
    # doc1: 10 shingles, all first; doc2: same 10, none first;
    # doc3: 22 distinct shingles (a-run 10 shared + 2 bridge + 10 b-run),
    # novel = the 12 not introduced by doc 1.
    assert out[1] == (10, 10)
    assert out[2] == (10, 0)
    assert out[3] == (22, 12)
    _compare_staged(spark, "tx_shingle_novelty", d,
                    con=_fixture_conn(d, ["documents"]))


# -------------------------------------------- seasonal-baseline outliers


def test_seasonal_outlier_planted_spike(spark, tmp_path):
    """Nine 10.0-valued events and one 1000.0 spike in the same
    (type, dow, hour) slot: only the spike's |z| clears 2.5. A
    SECOND slot holds a constant value (zero variance → no baseline)
    and a third is a singleton (n < 2) — neither may emit rows."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 9, 0, 0)  # Monday 09:xx
    rows = [
        (i, base + dt.timedelta(minutes=i), 1, "click", 10.0, "{}")
        for i in range(9)
    ]
    rows.append((99, base + dt.timedelta(minutes=30), 1, "click", 1000.0, "{}"))
    rows += [
        (200 + i, base + dt.timedelta(hours=2, minutes=i), 1, "view", 5.0,
         "{}")
        for i in range(4)
    ]  # constant slot
    rows.append((300, base + dt.timedelta(hours=3), 1, "buy", 7.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = _fixture_dir(spark, tmp_path, events=ev)
    out = BATCH["ev_seasonal_outliers"].fn(spark, d).collect()
    assert [r["event_id"] for r in out] == [99]
    assert out[0]["zscore"] > 2.5
    _compare_staged(spark, "ev_seasonal_outliers", d,
                    con=_fixture_conn(d, ["events"]))


# ------------------------------------------- stratified k-fold balance


def test_kfold_exact_balance_per_stratum(spark, sf_dir):
    """The whole point vs hash-mod-k: within every stratum the fold
    sizes differ by at most one."""
    out = BATCH["ds_stratified_kfold"].fn(spark, sf_dir).collect()
    by_lang: dict[str, list[int]] = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r["n"])
    assert by_lang, "no strata produced"
    for lang, ns in by_lang.items():
        assert max(ns) - min(ns) <= 1, (lang, ns)
        assert len(ns) <= 5


def test_kfold_deterministic(spark, sf_dir):
    a = sorted(
        map(tuple, BATCH["ds_stratified_kfold"].fn(spark, sf_dir).collect())
    )
    b = sorted(
        map(tuple, BATCH["ds_stratified_kfold"].fn(spark, sf_dir).collect())
    )
    assert a == b


# ------------------------------- weighted sampling without replacement


def test_weighted_wor_no_repeats_and_weight_bias(spark, sf_dir):
    """A-Res invariants: exactly k distinct docs, keys ascending after
    rounding (ties allowed), and the selected docs' mean weight
    exceeds the corpus mean (long docs are favored by construction —
    the probabilistic statement is deterministic here because the md5
    draw is fixed)."""
    out = BATCH["ds_weighted_sample_wor"].fn(spark, sf_dir).collect()
    assert len(out) == 100
    ids = [r["doc_id"] for r in out]
    assert len(set(ids)) == 100
    keys = [r["es_key"] for r in out]
    assert keys == sorted(keys)
    import duckdb

    corpus_mean = duckdb.sql(
        f"SELECT avg(n_chars) FROM '{sf_dir}/documents.parquet' WHERE n_chars > 0"
    ).fetchone()[0]
    sample_mean = sum(r["w"] for r in out) / len(out)
    assert sample_mean > corpus_mean


def test_weighted_wor_determinism(spark, sf_dir):
    a = sorted(map(tuple, BATCH["ds_weighted_sample_wor"].fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, BATCH["ds_weighted_sample_wor"].fn(spark, sf_dir).collect()))
    assert a == b


# ------------------------------- rendezvous-hash shard rebalance


def test_rendezvous_minimal_disruption(spark, sf_dir):
    """The defining property: growing the ring 16 -> 17 moves a doc
    ONLY to the new shard — every off-diagonal matrix row must have
    shard_after == 16 — and the moved fraction is near 1/17."""
    out = BATCH["ds_rendezvous_rebalance"].fn(spark, sf_dir).collect()
    total = sum(r["n_docs"] for r in out)
    moved = 0
    for r in out:
        if r["shard_before"] != r["shard_after"]:
            assert r["shard_after"] == 16, r
            moved += r["n_docs"]
    assert total > 0
    # Binomial(n, 1/17) within 5 sigma at n = corpus size
    import math

    p = 1 / 17
    sigma = math.sqrt(total * p * (1 - p))
    assert abs(moved - total * p) < 5 * sigma + 1, (moved, total)


# ------------------------------------------- personalized PageRank


def test_ppr_mass_decays_with_distance(spark, tmp_path):
    """Path graph 0—1—2—3 seeded at part 0 (via lineitem orders that
    link consecutive parts): the seed end holds the most mass, the far
    end the least — but NOT a strict monotone chain, because mass
    sloshes along a path graph with period 2 (at even iteration
    counts the odd-distance nodes are in their low phase; verified by
    hand-unrolling 4 rounds: ranks ≈ [.40, .20, .38, .02])."""
    # orders 1..3 each contain parts (i-1, i) -> path edges
    li = spark.createDataFrame(
        [(o, p) for o in range(1, 4) for p in (o - 1, o)],
        "l_orderkey long, l_partkey long",
    )
    d = _fixture_dir(spark, tmp_path, lineitem=li)
    out = {
        r["node"]: r["rank_rel"]
        for r in BATCH["graph_personalized_pagerank"].fn(spark, d).collect()
    }
    # seed set = {0} (0 % 97 == 0)
    assert out[0] == max(out.values())
    assert out[3] == min(out.values())
    assert all(v > 0.0 for v in out.values())
    _compare_staged(spark, "graph_personalized_pagerank", d,
                    con=_fixture_conn(d, ["lineitem"]))


def test_ppr_no_seed_mass_without_seeds_in_component(spark, tmp_path):
    """A component disjoint from every seed holds zero rank after any
    number of rounds (teleport never lands there)."""
    li = spark.createDataFrame(
        [(1, 0), (1, 1), (2, 501), (2, 502)],
        "l_orderkey long, l_partkey long",
    )
    d = _fixture_dir(spark, tmp_path, lineitem=li)
    out = {
        r["node"]: r["rank_rel"]
        for r in BATCH["graph_personalized_pagerank"].fn(spark, d).collect()
    }
    assert out[501] == 0.0 and out[502] == 0.0
    assert out[0] > 0.0 and out[1] > 0.0


# ------------------------------------------- LSH banding parameter audit


def test_lsh_param_audit_monotone_and_model(spark, sf_dir):
    """Shorter band keys can only ADD collisions: candidate volume must
    be nondecreasing from 8x8 to 16x4 to 32x2, and the model column
    must equal the closed-form OR-amplification probability."""
    from cqdg_etl_spark.operators.lsh_audit import collision_probability

    rows = {
        r["bands"]: r
        for r in BATCH["dd_lsh_param_audit"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {8, 16, 32}
    assert (
        rows[8]["n_candidate_pairs"]
        <= rows[16]["n_candidate_pairs"]
        <= rows[32]["n_candidate_pairs"]
    )
    for b, r in rows.items():
        assert r["rows_per_band"] == 64 // b
        assert r["collision_p_ref"] == round(
            collision_probability(0.8, b, 64 // b), 6
        )


def test_lsh_param_audit_subsumes_registered_candidates(spark, sf_dir):
    """The 16x4 audit arm measures exactly the registered
    dd_minhash_lsh_candidates pair set (same signature, same layout)."""
    n_16 = {
        r["bands"]: r["n_candidate_pairs"]
        for r in BATCH["dd_lsh_param_audit"].fn(spark, sf_dir).collect()
    }[16]
    n_reg = REGISTRY["dd_minhash_lsh_candidates"].fn(spark, sf_dir).count()
    assert n_16 == n_reg


def test_lsh_param_audit_nested_path_equals_tagged_path(spark, sf_dir):
    """The r12 nested-layout fast path (finest-band join + bitmask
    membership) must return exactly what the tagged union-of-arms form
    returns. (8, 16, 32) takes the fast path; forcing a NON-nested
    bands_list — (8, 16, 32, 24): 24 divides neither 64 evenly per the
    divisibility check — exercises the fallback on the shared 8/16/32
    rows, which the nested run must match row-for-row."""
    from cqdg_etl_spark.operators.dedup import minhash_signatures
    from cqdg_etl_spark.operators.lsh_audit import lsh_param_audit
    from cqdg_etl_spark.queries.datapipe import load

    docs = load(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "text", "doc_id", num_perm=64).persist()
    fast = {
        r["bands"]: r["n_candidate_pairs"]
        for r in lsh_param_audit(sig, (8, 16, 32), num_perm=64).collect()
    }
    slow = {
        r["bands"]: r["n_candidate_pairs"]
        for r in lsh_param_audit(
            sig, (8, 16, 32, 24), num_perm=64
        ).collect()
    }
    sig.unpersist()
    assert {b: slow[b] for b in (8, 16, 32)} == fast


# ------------------------------------------- BPE pre-token profile


def test_bpe_pretoken_hand_computed(spark, tmp_path):
    """"Ab2 c!!" normalizes to "ab2 c!!" -> pre-tokens ab|2|c|!|!
    (5 of them, 6 chars) against 2 whitespace tokens."""
    docs = spark.createDataFrame(
        [(1, "Ab2 c!!", "en", "s0", 7)], _DOC_SCHEMA
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    out = BATCH["tx_bpe_pretoken_stats"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_pretokens"] == 5
    assert r["n_distinct_pretokens"] == 4  # ab, 2, c, !
    assert r["chars_per_pretoken"] == 1.2
    assert r["pretokens_per_wstoken"] == 2.5
    _compare_staged(spark, "tx_bpe_pretoken_stats", d,
                    con=_fixture_conn(d, ["documents"]))


# ------------------------------------------- strict 3-step funnel


def test_strict_funnel_order_and_windows(spark, tmp_path):
    """User 1 completes the funnel in order; user 2's only view is
    BEFORE signup (stage 2 not reached); user 3 views 8 days after
    signup (outside the 7-day window); user 4 purchases before the
    view (purchase must follow the view)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def row(eid, days, uid, typ):
        return (eid, t0 + dt.timedelta(days=days), uid, typ, 1.0, "{}")

    ev = spark.createDataFrame(
        [
            row(1, 0, 1, "signup"), row(2, 1, 1, "view"),
            row(3, 2, 1, "purchase"),
            row(4, 5, 2, "signup"), row(5, 4, 2, "view"),
            row(6, 0, 3, "signup"), row(7, 8, 3, "view"),
            row(8, 0, 4, "signup"), row(9, 1, 4, "view"),
            row(10, 0.5, 4, "purchase"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = _fixture_dir(spark, tmp_path, events=ev)
    out = {
        r["stage"]: r["n_users"]
        for r in BATCH["ev_strict_funnel_3step"].fn(spark, d).collect()
    }
    assert out == {"signup": 4, "view": 2, "purchase": 1}
    _compare_staged(spark, "ev_strict_funnel_3step", d,
                    con=_fixture_conn(d, ["events"]))


# ------------------------------------------- intra-class dispersion


def test_dispersion_tight_vs_mixed_cluster(spark, tmp_path):
    """Label 0 is four identical vectors (every cosine to the centroid
    is 1.0); label 1 mixes two orthogonal directions (centroid sits
    between them, mean cosine well below 1)."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [1.0, 0.0, 0.0, 0.0], 0),
            (3, [1.0, 0.0, 0.0, 0.0], 0),
            (4, [1.0, 0.0, 0.0, 0.0], 0),
            (5, [0.0, 1.0, 0.0, 0.0], 1),
            (6, [0.0, 0.0, 1.0, 0.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    d = _fixture_dir(spark, tmp_path, embeddings=emb)
    out = {
        r["label"]: r
        for r in BATCH["emb_intra_class_dispersion"].fn(spark, d).collect()
    }
    assert out[0]["n_vectors"] == 4 and out[1]["n_vectors"] == 2
    assert out[0]["mean_cos_to_centroid"] == 1.0
    assert out[0]["min_cos_to_centroid"] == 1.0
    # each orthogonal member is at 45 degrees to the (0.5, 0.5) centroid
    assert abs(out[1]["mean_cos_to_centroid"] - 0.707107) < 1e-6
    assert out[1]["mean_cos_to_centroid"] < 0.75
    _compare_staged(spark, "emb_intra_class_dispersion", d,
                    con=_fixture_conn(d, ["embeddings"]))
