"""datapipe17 queries: full local verification against the DuckDB oracles —
the same comparison the driver gate runs — plus adversarial fixtures run
through BOTH engines and hand-computed expectations. A per-module plan
lint mirrors tests/test_plan_lint.py."""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pytest
from pyspark.sql import functions as F

from cqdg_etl_spark.queries import REGISTRY
from tests.oracle_harness import canonical_rows, duckdb_conn

pytestmark = pytest.mark.nightly

# This module's query batch, as registered.
BATCH = {
    n: q for n, q in REGISTRY.items() if q.fn.__module__ == "cqdg_etl_spark.queries.datapipe17"
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
    assert len(BATCH) == 9


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

# Reviewed exceptions, the fleet BNLJ_OK convention (every build side
# is a 1-row scalar aggregate, so the "quadratic" node is a linear
# scalar fan-out). Publication must move these into
# tests/test_plan_lint.py::BNLJ_OK. The lint asserts the node IS
# present for these names, so a reshaped query must also leave this
# dict.
_BNLJ_OK: dict[str, str] = {
    "ds_curriculum_interleave": "single-row |sources| scalar joined "
    "onto the ranked corpus for the interleave arithmetic",
    "ds_stochastic_round_resample": "single-row max(n_chars) scalar "
    "broadcast into the per-doc weight",
    "ev_survival_km": "two 1-row scalars (corpus max ts for the "
    "censor cutoff, total user count for the at-risk complement) "
    "fanned onto the tiny duration table",
    "tx_vocab_growth_curve": "single-row total-token-count scalar "
    "broadcast into the decile bucketing",
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


def _fixture_conn(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'"
        )
    return con


_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars int"
_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


# ----------------------------------------------- character entropy


def test_entropy_hand_computed(spark, tmp_path):
    """'aaaa' has entropy exactly 0; 'abab' has exactly 1 bit
    (alphabet {a, b}, p = 1/2 each — plus the space the normalizer
    keeps, checked with the real formula); both land under the
    low-entropy threshold and a long pangram-ish doc lands above it."""
    docs = spark.createDataFrame(
        [
            (1, "aaaa", "en", "s1", 4),
            (2, "ab ab", "en", "s2", 5),
            (3, "the quick brown fox jumps over the lazy dog", "en", "s3", 44),
        ],
        _DOC_SCHEMA,
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    out = {
        r.source: r.asDict()
        for r in BATCH["tx_char_entropy_quality"].fn(spark, d).collect()
    }
    assert out["s1"]["mean_entropy_bits"] == 0.0
    assert out["s1"]["n_low_entropy"] == 1
    # 'ab ab': counts a=2, b=2, space=1, n=5 — recompute exactly
    # (6-dp-quantized per term, like the engine).
    def q6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    exp = sum(
        q6(-(k / 5) * math.log(k / 5) / math.log(2.0)) for k in (2, 2, 1)
    )
    assert abs(out["s2"]["mean_entropy_bits"] - q6(exp)) < 1e-9
    assert out["s3"]["mean_entropy_bits"] > 3.5
    assert out["s3"]["n_low_entropy"] == 0
    # engine-vs-oracle on the same fixture
    con = _fixture_conn(d, ["documents"])
    e = con.execute(BATCH["tx_char_entropy_quality"].oracle).df()
    a = BATCH["tx_char_entropy_quality"].fn(spark, d).toPandas()
    assert canonical_rows(a) == canonical_rows(e)


# ------------------------------------------------ Kaplan-Meier


def test_km_hand_computed(spark, tmp_path):
    """5 users, corpus ends day 100: A and B die at t=10, C at t=20,
    D (last seen day 98) and E (day 100) are censored (within 7 days
    of the end). KM: S(10) = 3/5, S(20) = 3/5 * 2/3 = 2/5, flat after."""
    base = dt.datetime(2024, 1, 1)

    def ev(i, uid, day):
        return (i, base + dt.timedelta(days=day), uid, "view", 1.0, "{}")

    rows = []
    i = 0
    for uid, last in [(1, 10), (2, 10), (3, 20), (4, 98), (5, 100)]:
        rows.append(ev(i, uid, 0)); i += 1
        rows.append(ev(i, uid, last)); i += 1
    events = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=events)
    out = {
        r.duration_days: r.asDict()
        for r in BATCH["ev_survival_km"].fn(spark, d).collect()
    }
    assert set(out) == {10, 20, 98, 100}
    assert out[10]["at_risk"] == 5 and out[10]["deaths"] == 2
    assert abs(out[10]["survival"] - 0.6) < 1e-9
    assert out[20]["at_risk"] == 3 and out[20]["deaths"] == 1
    assert abs(out[20]["survival"] - 0.4) < 2e-6  # two 6dp ln quantizations
    assert out[98]["deaths"] == 0 and out[100]["deaths"] == 0
    assert out[100]["survival"] == out[20]["survival"]  # flat past last death
    con = _fixture_conn(d, ["events"])
    e = con.execute(BATCH["ev_survival_km"].oracle).df()
    a = BATCH["ev_survival_km"].fn(spark, d).toPandas()
    assert canonical_rows(a) == canonical_rows(e)


def test_km_full_extinction_reaches_zero(spark, tmp_path):
    """When every user dies (all last seen long before corpus end...
    impossible — the max user defines the end, so the LAST user is
    always censored unless tied). Plant a tie: two users share the
    final timestamp but died=0 only within the censor window; all
    earlier users die, so survival steps down and the -999 ln cap is
    exercised only when d = at_risk — construct that by making every
    user die at the same duration EXCEPT the boundary pair."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    i = 0
    # 3 users: first/last span 5 days, all ending 30 days before the
    # corpus max (one extra user carries the corpus end).
    for uid in (1, 2, 3):
        rows.append((i, base, uid, "view", 1.0, "{}")); i += 1
        rows.append((i, base + dt.timedelta(days=5), uid, "view", 1.0, "{}")); i += 1
    rows.append((i, base + dt.timedelta(days=40), 9, "view", 1.0, "{}")); i += 1
    events = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=events)
    out = {
        r.duration_days: r.asDict()
        for r in BATCH["ev_survival_km"].fn(spark, d).collect()
    }
    # t=0: user 9 (censored, duration 0) leaves; at_risk 4, d 0.
    assert out[0]["at_risk"] == 4 and out[0]["deaths"] == 0
    assert out[0]["survival"] == 1.0
    # t=5: remaining 3 all die -> d = at_risk -> survival exactly 0.
    assert out[5]["at_risk"] == 3 and out[5]["deaths"] == 3
    assert out[5]["survival"] == 0.0
    con = _fixture_conn(d, ["events"])
    e = con.execute(BATCH["ev_survival_km"].oracle).df()
    a = BATCH["ev_survival_km"].fn(spark, d).toPandas()
    assert canonical_rows(a) == canonical_rows(e)


# ------------------------------------------ curriculum interleave


def test_curriculum_round_robin(spark, tmp_path):
    """2 sources x 3 docs: positions must alternate sources and go
    easy-first within each source."""
    docs = spark.createDataFrame(
        [
            (1, "x", "en", "a", 10),
            (2, "x", "en", "a", 30),
            (3, "x", "en", "a", 20),
            (4, "x", "en", "b", 5),
            (5, "x", "en", "b", 50),
            (6, "x", "en", "b", 15),
        ],
        _DOC_SCHEMA,
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    rows = BATCH["ds_curriculum_interleave"].fn(spark, d).collect()
    by_pos = {r.position: r for r in rows}
    assert sorted(by_pos) == [1, 2, 3, 4, 5, 6]
    # odd positions are source a (s_idx 1), even are b (s_idx 2)
    assert [by_pos[p].source for p in range(1, 7)] == list("ababab")
    # easy-first within each source: a by n_chars -> docs 1,3,2
    assert [by_pos[p].doc_id for p in (1, 3, 5)] == [1, 3, 2]
    assert [by_pos[p].doc_id for p in (2, 4, 6)] == [4, 6, 5]
    con = _fixture_conn(d, ["documents"])
    e = con.execute(BATCH["ds_curriculum_interleave"].oracle).df()
    a = BATCH["ds_curriculum_interleave"].fn(spark, d).toPandas()
    assert canonical_rows(a) == canonical_rows(e)


# ------------------------------------------------------- HITS


def test_hits_hand_structure(spark, tmp_path):
    """Star structure: user 1 touches every event type, users 2-4
    touch one popular type each, user 5 touches a type nobody else
    does. The all-type user must be the top hub; the isolated-type
    user the weakest of the active set."""
    base = dt.datetime(2024, 1, 1)
    pairs = (
        [(1, t) for t in ("a", "b", "c")]
        + [(2, "a"), (3, "a"), (4, "b")]
        + [(5, "z")]
    )
    rows = [
        (i, base, uid, t, 1.0, "{}") for i, (uid, t) in enumerate(pairs)
    ]
    events = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=events)
    out = BATCH["graph_hits_scores"].fn(spark, d).collect()
    scores = {r.user_id: r.hub for r in out}
    assert max(scores, key=scores.get) == 1
    assert scores[1] == 1.0  # max-normalized
    assert scores[5] == min(scores.values())
    con = _fixture_conn(d, ["events"])
    e = con.execute(BATCH["graph_hits_scores"].oracle).df()
    a = BATCH["graph_hits_scores"].fn(spark, d).toPandas()
    assert canonical_rows(a) == canonical_rows(e)


# --------------------------------------------- peak concurrency


def test_peak_concurrency_hand_computed(spark, tmp_path):
    """Three users: A active minutes 0-10, B minutes 5-15, C minute 8
    (point session). Peak = 3 at minute 8; the overlap instant at
    minute 5 reads 2; a session starting exactly when another ends
    (D at A's last minute) still counts the overlap."""
    base = dt.datetime(2024, 1, 1)

    def ev(i, uid, minute):
        return (i, base + dt.timedelta(minutes=minute), uid, "v", 1.0, "{}")

    rows = [
        ev(0, 1, 0), ev(1, 1, 10),          # A: [0, 10]
        ev(2, 2, 5), ev(3, 2, 15),          # B: [5, 15]
        ev(4, 3, 8),                        # C: [8, 8]
        ev(5, 4, 10), ev(6, 4, 20),         # D: [10, 20] (starts at A's end)
    ]
    events = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=events)
    out = BATCH["ev_peak_concurrency"].fn(spark, d).collect()
    lvl = {r.peak_t_us: r.concurrency for r in out}
    us = lambda m: int((base + dt.timedelta(minutes=m)).timestamp() * 1e6)
    assert lvl[us(8)] == 3       # A, B, C all active
    assert lvl[us(5)] == 2       # A + B
    # D starts at A's last minute: C's point session already closed
    # (end+1us at minute 8), A's -1 applies AFTER D's +1 at the same
    # instant -> A + B + D = 3.
    assert lvl[us(10)] == 3
    assert lvl[us(0)] == 1
    con = _fixture_conn(d, ["events"])
    e = con.execute(BATCH["ev_peak_concurrency"].oracle).df()
    a = BATCH["ev_peak_concurrency"].fn(spark, d).toPandas()
    assert canonical_rows(a) == canonical_rows(e)


# ------------------------------------------- type affinity


def test_type_affinity_hand_computed(spark, tmp_path):
    """Users 1,2 both do {a,b}; user 3 does {a}. co(a,b)=2,
    |U(a)|=3, |U(b)|=2 -> affinity = 2/sqrt(6)."""
    base = dt.datetime(2024, 1, 1)
    pairs = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a")]
    rows = [(i, base, u, t, 1.0, "{}") for i, (u, t) in enumerate(pairs)]
    events = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=events)
    out = BATCH["graph_type_affinity"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b, r.co_users) == ("a", "b", 2)
    assert abs(r.affinity - math.floor(2 / math.sqrt(6) * 1e6 + 0.5) / 1e6) < 1e-12
    con = _fixture_conn(d, ["events"])
    e = con.execute(BATCH["graph_type_affinity"].oracle).df()
    a = BATCH["graph_type_affinity"].fn(spark, d).toPandas()
    assert canonical_rows(a) == canonical_rows(e)


# ------------------------------------------- vocabulary growth


def test_vocab_growth_hand_computed(spark, tmp_path):
    """Two docs, 10 tokens total (one per decile): doc 1 = 'a b a b a'
    (vocab a,b both first-seen in deciles 1-2), doc 2 = 'c c c c d'
    (c at position 6 -> decile 6, d at position 10 -> decile 10)."""
    docs = spark.createDataFrame(
        [
            (1, "a b a b a", "en", "s", 9),
            (2, "c c c c d", "en", "s", 9),
        ],
        _DOC_SCHEMA,
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    out = {r.decile: r for r in
           BATCH["tx_vocab_growth_curve"].fn(spark, d).collect()}
    assert sorted(out) == list(range(1, 11))
    assert out[10].cum_tokens == 10 and out[10].cum_vocab == 4
    assert out[1].cum_tokens == 1 and out[1].cum_vocab == 1   # 'a'
    assert out[2].cum_vocab == 2                              # + 'b'
    assert out[5].cum_vocab == 2 and out[6].cum_vocab == 3    # + 'c'
    assert out[9].cum_vocab == 3 and out[10].cum_vocab == 4   # + 'd'
    # monotone invariants
    for i in range(2, 11):
        assert out[i].cum_tokens >= out[i - 1].cum_tokens
        assert out[i].cum_vocab >= out[i - 1].cum_vocab
    con = _fixture_conn(d, ["documents"])
    e = con.execute(BATCH["tx_vocab_growth_curve"].oracle).df()
    a = BATCH["tx_vocab_growth_curve"].fn(spark, d).toPandas()
    assert canonical_rows(a) == canonical_rows(e)


# --------------------------------------------- DAU/WAU stickiness


def test_dau_wau_hand_computed(spark, tmp_path):
    """Day 1: users {1,2}; day 2: {2}; day 9: {3}. WAU(1)=2, WAU(2)=2
    (trailing window covers both days), WAU(9)=1 (days 1-2 fell out of
    the 7-day window). Stickiness(2) = 1/2."""
    base = dt.datetime(2024, 3, 1, 12, 0)

    def ev(i, uid, day):
        return (i, base + dt.timedelta(days=day - 1), uid, "v", 1.0, "{}")

    events = spark.createDataFrame(
        [ev(0, 1, 1), ev(1, 2, 1), ev(2, 2, 2), ev(3, 3, 9)], _EV_SCHEMA
    )
    d = _fixture_dir(spark, tmp_path, events=events)
    out = {r.day: r for r in
           BATCH["ev_dau_wau_stickiness"].fn(spark, d).collect()}
    assert sorted(out) == ["2024-03-01", "2024-03-02", "2024-03-09"]
    assert (out["2024-03-01"].dau, out["2024-03-01"].wau) == (2, 2)
    assert (out["2024-03-02"].dau, out["2024-03-02"].wau) == (1, 2)
    assert out["2024-03-02"].stickiness == 0.5
    assert (out["2024-03-09"].dau, out["2024-03-09"].wau) == (1, 1)
    con = _fixture_conn(d, ["events"])
    e = con.execute(BATCH["ev_dau_wau_stickiness"].oracle).df()
    a = BATCH["ev_dau_wau_stickiness"].fn(spark, d).toPandas()
    assert canonical_rows(a) == canonical_rows(e)


# ------------------------------------------- stochastic rounding


def test_resample_expected_count_bounds(spark, sf_dir):
    """n_copies is always floor(w) or floor(w)+1, the longest doc gets
    exactly the target weight, and the realized total sits within a
    loose Chernoff-ish band of the expected total (the estimator is a
    sum of independent-ish Bernoullis)."""
    rows = BATCH["ds_stochastic_round_resample"].fn(spark, sf_dir).collect()
    tot_w = sum(r.weight for r in rows)
    tot_c = sum(r.n_copies for r in rows)
    for r in rows:
        assert r.n_copies in (math.floor(r.weight), math.floor(r.weight) + 1)
    assert abs(tot_c - tot_w) < 6 * math.sqrt(max(len(rows), 1))
    assert any(abs(r.weight - 3.0) < 1e-6 for r in rows)  # the max doc


def test_resample_deterministic_rerun(spark, sf_dir):
    a = sorted(
        (r.doc_id, r.n_copies)
        for r in BATCH["ds_stochastic_round_resample"].fn(spark, sf_dir).collect()
    )
    b = sorted(
        (r.doc_id, r.n_copies)
        for r in BATCH["ds_stochastic_round_resample"].fn(spark, sf_dir).collect()
    )
    assert a == b
