"""datapipe19 queries: full local verification against the DuckDB oracles —
the same comparison the driver gate runs — plus adversarial fixtures run
through BOTH engines and hand-computed expectations. A per-module plan
lint mirrors tests/test_plan_lint.py (_BNLJ_OK → BNLJ_OK; the orphan
test enforces the copy)."""

from __future__ import annotations

import math

import pytest

from cqdg_etl_spark.queries import REGISTRY
from tests.oracle_harness import canonical_rows, duckdb_conn

# This module's query batch, as registered.
BATCH = {
    n: q for n, q in REGISTRY.items() if q.fn.__module__ == "cqdg_etl_spark.queries.datapipe19"
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
    assert len(BATCH) == 8


@pytest.mark.parametrize("name", sorted(BATCH))
def test_staged_oracle_match(spark, sf_dir, name):
    _compare_staged(spark, name, sf_dir)


@pytest.mark.parametrize("name", sorted(BATCH))
def test_staged_oracle_match_sf_medium(spark, name):
    """The driver gate compares at sf0.01 — run the same comparison at
    that SF in CI instead of leaving it to ad-hoc sweeps (round-8
    institutionalization of the two-SF staging claim)."""
    from tests.conftest import SF_MEDIUM

    _compare_staged(spark, name, SF_MEDIUM)


# ---------------------------------------------------------- plan lint

_FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin",
              "BatchEvalPython ")

# Reviewed exceptions, the fleet BNLJ_OK convention. Publication must
# move these into tests/test_plan_lint.py::BNLJ_OK (enforced by
# test_no_orphaned_staged_exceptions).
_BNLJ_OK: dict[str, str] = {
    "emb_matryoshka_recall": "the two exact arms are the documented "
    "brute-force baseline (10-query broadcast side crossJoin — the "
    "ann_topk_bruteforce whitelist rationale)",
    "ev_markov_stationary": "1-row renormalization scalar per power "
    "iteration plus the 1-row type-count scalar, fanned onto the "
    "|types|-bounded frame",
    "tx_rake_keywords": "single-row corpus doc-count scalar fanned "
    "onto the vocabulary frame for the stopword threshold",
}


@pytest.mark.parametrize("name", sorted(BATCH))
def test_staged_plan_lint(spark, sf_dir, name):
    df = BATCH[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "extended"
        )
    )
    for node in _FORBIDDEN:
        if node == "BroadcastNestedLoopJoin" and name in _BNLJ_OK:
            assert node in plan, (
                f"{name}: reviewed BNLJ exception no longer applies — "
                "remove it from _BNLJ_OK"
            )
            continue
        assert node not in plan, f"{name}: {node} in physical plan\n{plan}"


# ----------------------------------------------------- fixture helpers


def _fixture_dir(spark, tmp_path, **tables) -> str:
    d = str(tmp_path / "fx")
    for name, df in tables.items():
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/{name}.parquet")
    return d


_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars int"
_EMB_SCHEMA = "vec_id long, embedding array<float>, label int"
_LI_COLS = "l_orderkey long, l_partkey long"


def _q6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


# ------------------------------------------------- Matryoshka recall


def test_matryoshka_deterministic_ties(spark, tmp_path):
    """Corpus vectors identical on the first 16 dims, ±tails, and a
    query with a ZERO tail: both rankings tie every candidate (the
    zero query tail makes full cosine tail-blind too, and norms are
    equal), so both top-10 lists must break ties to the lowest ids —
    overlap exactly 10. Pins the tie-break determinism the recall
    metric depends on."""
    import numpy as np

    rng = np.random.default_rng(7)
    head = rng.normal(size=16)
    head /= np.linalg.norm(head)
    rows = [(0, [float(x) for x in head] + [0.0] * 48, 0)]  # query
    for i in range(10, 22):
        tail = np.zeros(48)
        # ids 10..19 get a tail aligned with a fixed direction, ids
        # 20..21 get the OPPOSITE tail — full cosine ranks them last,
        # truncated cosine ties everyone (head identical) and keeps
        # the 10 lowest ids 10..19.
        tail[0] = 1.0 if i < 20 else -1.0
        v = np.concatenate([head, 0.5 * tail])
        rows.append((i, [float(x) for x in v], 0))
    emb = spark.createDataFrame(rows, _EMB_SCHEMA)
    d = _fixture_dir(spark, tmp_path, embeddings=emb)
    out = {r.query_id: r.asDict()
           for r in BATCH["emb_matryoshka_recall"].fn(spark, d).collect()}
    assert set(out) == {0}
    # Full top-10 = ids 10..19 (tail +); truncated top-10 = ids 10..19
    # (head ties broken by lowest id) — so recall is exactly 1.0 here;
    # the INVERSION case: drop the query tail to zero makes full cos
    # prefer +tail? The query tail IS zero ⇒ full cosine is identical
    # for +/- tails except norm — norms equal ⇒ full also ties to id.
    # Both pick 10..19: overlap 10.
    assert out[0]["n_overlap"] == 10
    assert out[0]["recall"] == 1.0


def test_matryoshka_partial_overlap(spark, tmp_path):
    """Query whose head matches group A but whose tail matches group
    B: the full ranking pulls all 5 B vectors into its top-10 (cos ≈
    0.677 beats A's 0.287) while the truncated ranking is tail-blind
    and fills its top-10 with A ties (ids 10..19) — overlap is exactly
    the 5 lowest-id A vectors ⇒ recall 0.5."""
    import numpy as np

    head_a = np.zeros(16); head_a[0] = 1.0
    head_b = np.zeros(16); head_b[1] = 1.0
    tail_b = np.zeros(48); tail_b[0] = 1.0
    qv = np.concatenate([0.3 * head_a, 1.0 * tail_b])
    rows = [(0, [float(x) for x in qv], 0)]
    for i in range(10, 20):  # group A: pure head A
        v = np.concatenate([head_a, np.zeros(48)])
        rows.append((i, [float(x) for x in v], 0))
    for i in range(20, 25):  # group B: head B + tail B
        v = np.concatenate([head_b, tail_b])
        rows.append((i, [float(x) for x in v], 0))
    emb = spark.createDataFrame(rows, _EMB_SCHEMA)
    d = _fixture_dir(spark, tmp_path, embeddings=emb)
    out = BATCH["emb_matryoshka_recall"].fn(spark, d).collect()[0].asDict()
    # Full top-10: 5 B (20..24) + the 5 lowest-id A (10..14).
    # Truncated top-10: A ties → ids 10..19. Overlap = {10..14}.
    assert out["n_overlap"] == 5 and out["recall"] == 0.5


# ------------------------------------------------- Markov stationary


def test_markov_two_state_alternator(spark, tmp_path):
    """A single user strictly alternating A, B, A, B…: P(A→B) =
    P(B→A) = 1, uniform start stays exactly (0.5, 0.5) through every
    renormalized iteration."""
    import datetime as dt

    rows = []
    for i in range(20):
        et = "click" if i % 2 == 0 else "view"
        rows.append((i, dt.datetime(2024, 1, 1, 0, i), 1, et, 1.0, "{}"))
    ev = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=ev)
    out = {r.event_type: r.asDict()
           for r in BATCH["ev_markov_stationary"].fn(spark, d).collect()}
    assert out["click"]["pi"] == 0.5 and out["view"]["pi"] == 0.5
    assert out["click"]["empirical"] == 0.5


def test_markov_absorbing_bias(spark, tmp_path):
    """A chain biased toward one state: sequence C C C V repeated —
    transitions C→C (2/3), C→V (1/3), V→C (1) — recompute the 8
    renormalized quantized iterations in pure Python and compare."""
    import datetime as dt

    seq = (["click", "click", "click", "view"] * 5)[:-1]  # 19 events
    rows = [(i, dt.datetime(2024, 2, 1, 0, i), 1, et, 1.0, "{}")
            for i, et in enumerate(seq)]
    ev = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=ev)
    out = {r.event_type: r.asDict()
           for r in BATCH["ev_markov_stationary"].fn(spark, d).collect()}

    # Python mirror of the engine arithmetic (6-dp quantized P and pi,
    # exact sums via Fraction-free float on small values is safe here
    # because every quantized value is a multiple of 1e-6 recomputed
    # identically).
    trans = {}
    for a, b in zip(seq, seq[1:]):
        trans[(a, b)] = trans.get((a, b), 0) + 1
    n_from = {}
    for (a, _), n in trans.items():
        n_from[a] = n_from.get(a, 0) + n
    p = {k: _q6(n / n_from[k[0]]) for k, n in trans.items()}
    types = sorted({*seq})
    pi = {t: _q6(1.0 / len(types)) for t in types}
    for _ in range(8):
        raw = {t: 0.0 for t in types}
        for (a, b), pv in p.items():
            raw[b] = round(raw[b] + pi[a] * pv, 12)
        z = round(sum(raw.values()), 12)
        pi = {t: _q6(raw[t] / z) for t in types}
    for t in types:
        assert out[t]["pi"] == pi[t], (t, out[t]["pi"], pi[t])


# ------------------------------------------------- Gini


def test_gini_equal_and_skewed(spark, tmp_path):
    """Equal per-user counts give G = 0 exactly; counts [1,1,1,7]
    give G = 2·34/(4·10) − 5/4 = 0.45 by hand."""
    import datetime as dt

    rows = []
    eid = 0
    for u in range(1, 5):
        for _ in range(3):
            rows.append((eid, dt.datetime(2024, 1, 1), u, "view", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=ev)
    r = BATCH["ev_user_gini"].fn(spark, d).collect()[0].asDict()
    assert r["gini"] == 0.0 and r["n_users"] == 4 and r["total_events"] == 12

    rows2 = []
    eid = 0
    for u, n in ((1, 1), (2, 1), (3, 1), (4, 7)):
        for _ in range(n):
            rows2.append((eid, dt.datetime(2024, 1, 2), u, "view", 1.0, "{}"))
            eid += 1
    ev2 = spark.createDataFrame(rows2, _EV_SCHEMA)
    d2 = _fixture_dir(spark, tmp_path.joinpath("b"), events=ev2)
    r2 = BATCH["ev_user_gini"].fn(spark, d2).collect()[0].asDict()
    assert r2["gini"] == _q6(2 * 34 / (4 * 10) - 5 / 4)  # 0.45


# ------------------------------------------------- autocorrelation


def test_autocorr_alternating_series(spark, tmp_path):
    """10 days alternating 2, 4 events: deviations ±1 around mean 3,
    lag-1 products all −1 (r₁ = −9/10), lag-7 products −1 over 3
    pairs (r₇ = −3/10)."""
    import datetime as dt

    rows = []
    eid = 0
    for day in range(10):
        n = 2 if day % 2 == 0 else 4
        for k in range(n):
            rows.append((eid, dt.datetime(2024, 3, 1 + day, 8 + k), 1,
                         "click", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=ev)
    out = {(r.event_type, r.lag): r.asDict()
           for r in BATCH["pf_autocorr_daily"].fn(spark, d).collect()}
    assert out[("click", 1)]["r_autocorr"] == _q6(-9 / 10)
    assert out[("click", 1)]["n_pairs"] == 9
    assert out[("click", 7)]["r_autocorr"] == _q6(-3 / 10)
    assert out[("click", 7)]["n_pairs"] == 3


# ------------------------------------------------- RAKE


def test_rake_hand_computed(spark, tmp_path):
    """'the' AND 'sat' appear in all docs (df 100 % > 80 % ⇒ both
    stopwords); 'big' appears in 2 of 3 (66 % ⇒ kept). Phrases and
    scores by hand: doc 1 'big cat' (len 2), doc 2 'dog' (len 1),
    doc 3 'big cat' + 'dog' ⇒ cat: deg 4 freq 2 score 2.0; dog:
    deg 2 freq 2 score 1.0; big: deg 4 freq 2 score 2.0."""
    docs = spark.createDataFrame(
        [
            (1, "the big cat sat", "en", "s", 15),
            (2, "the dog sat", "en", "s", 11),
            (3, "the big cat sat the dog sat", "en", "s", 27),
        ],
        _DOC_SCHEMA,
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    out = {r.word: r.asDict()
           for r in BATCH["tx_rake_keywords"].fn(spark, d).collect()}
    assert "the" not in out and "sat" not in out  # stopwords (df 100%)
    assert out["cat"]["deg"] == 4 and out["cat"]["freq"] == 2
    assert out["cat"]["score"] == 2.0
    assert out["big"]["score"] == 2.0
    assert out["dog"]["deg"] == 2 and out["dog"]["freq"] == 2
    assert out["dog"]["score"] == 1.0


# ------------------------------------------------- neighbor Jaccard


def test_neighbor_jaccard_perfect_twin(spark, tmp_path):
    """Nodes 1 and 4 share exactly their whole neighborhoods
    ({2, 3}) and are non-adjacent ⇒ Jaccard exactly 1.0 at the top;
    the adjacent pair (2, 3) must not appear."""
    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    li_rows = []
    for i, (a, b) in enumerate(edges):
        li_rows.append((i, a))
        li_rows.append((i, b))
    li = spark.createDataFrame(li_rows, _LI_COLS)
    d = _fixture_dir(spark, tmp_path, lineitem=li)
    rows = BATCH["graph_neighbor_jaccard"].fn(spark, d).collect()
    top = rows[0].asDict()
    assert (top["a"], top["b"]) == (1, 4)
    assert top["common"] == 2 and top["jaccard"] == 1.0
    assert all((r.a, r.b) != (2, 3) for r in rows)  # adjacent: excluded


# ------------------------------------------------- FK audit


def test_fk_audit_containment(spark, tmp_path):
    """Hand-built keys: lineitem parts {1,2,3} vs part {2,3,4,5} ⇒
    containment 2/3, ratio 3/4; orders keys fully contained ⇒ 1.0;
    the events→customer negative control scores < 1."""
    import datetime as dt

    li = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3), (13, 3)], _LI_COLS
    )
    part = spark.createDataFrame(
        [(p,) for p in (2, 3, 4, 5)], "p_partkey long"
    )
    orders = spark.createDataFrame(
        [(10, 100), (11, 100), (12, 101), (13, 101)],
        "o_orderkey long, o_custkey long",
    )
    customer = spark.createDataFrame(
        [(100,), (101,), (102,)], "c_custkey long"
    )
    ev = spark.createDataFrame(
        [(0, dt.datetime(2024, 1, 1), 100, "view", 1.0, "{}"),
         (1, dt.datetime(2024, 1, 1), 999, "view", 1.0, "{}")],
        _EV_SCHEMA,
    )
    d = _fixture_dir(spark, tmp_path, lineitem=li, part=part,
                     orders=orders, customer=customer, events=ev)
    out = {r.relation: r.asDict()
           for r in BATCH["pf_fk_candidate_audit"].fn(spark, d).collect()}
    li_part = out["lineitem.l_partkey->part.p_partkey"]
    assert li_part["n_child_distinct"] == 3
    assert li_part["n_matched"] == 2
    assert li_part["containment"] == _q6(2 / 3)
    assert li_part["cardinality_ratio"] == 0.75
    assert out["lineitem.l_orderkey->orders.o_orderkey"]["containment"] == 1.0
    neg = out["events.user_id->customer.c_custkey"]
    assert neg["containment"] == 0.5  # 999 unresolved: the control


# ------------------------------------------------- Poisson bursts


def test_poisson_burst_single_spike(spark, tmp_path):
    """Nine days at 10 events + one day at 100: λ = 19,
    threshold 19 + 4√19 ≈ 36.4 ⇒ exactly one burst day."""
    import datetime as dt

    rows = []
    eid = 0
    for day in range(10):
        n = 100 if day == 5 else 10
        for k in range(n):
            rows.append((eid, dt.datetime(2024, 4, 1 + day, k % 24), 1,
                         "error", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=ev)
    r = BATCH["ev_poisson_burst_days"].fn(spark, d).collect()[0].asDict()
    assert r["lambda_daily"] == 19.0
    assert r["n_burst_days"] == 1
    assert r["max_daily"] == 100
    assert r["n_days"] == 10
