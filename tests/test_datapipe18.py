"""datapipe18 queries: full local verification against the DuckDB oracles —
the same comparison the driver gate runs — plus adversarial fixtures run
through BOTH engines and hand-computed expectations. A per-module plan
lint mirrors tests/test_plan_lint.py (_BNLJ_OK → BNLJ_OK,
_GLOBAL_WINDOW_OK → GLOBAL_WINDOW_OK — the orphan test enforces both
copies)."""

from __future__ import annotations

import math

import pytest

from cqdg_etl_spark.queries import REGISTRY
from tests.oracle_harness import canonical_rows, duckdb_conn

pytestmark = pytest.mark.nightly

# This module's query batch, as registered.
BATCH = {
    n: q for n, q in REGISTRY.items() if q.fn.__module__ == "cqdg_etl_spark.queries.datapipe18"
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

# Reviewed exceptions, the fleet BNLJ_OK convention (every build side
# is a 1-row scalar aggregate or a bounded constant-domain frame, so
# the "quadratic" node is a linear scalar fan-out). Publication must
# move these into tests/test_plan_lint.py::BNLJ_OK (enforced by
# test_no_orphaned_staged_exceptions). The lint asserts the node IS
# present for these names, so a reshaped query must also leave this
# dict.
_BNLJ_OK: dict[str, str] = {
    "fe_woe_information_value": "single-row (G, B) totals scalar "
    "fanned onto the 5-row category frame",
    "graph_modularity_brands": "single-row edge-count scalar fanned "
    "onto the bounded community frame",
    "pf_column_mutual_information": "single-row grand-total scalar "
    "fanned onto the bounded joint-cell frame (one per column pair)",
    "ret_ndcg_eval": "fixed 10-row rank grid range-joined to the "
    "<=4-row relevance-level histogram (IDCG ideal assignment) plus "
    "the histogram's own <=4x4 cumulative self-join",
}

# Reviewed bounded global windows (the fleet GLOBAL_WINDOW_OK
# convention — Benford's 9 digits / PSI's 10 bins precedent).
# Publication must move these into
# tests/test_plan_lint.py::GLOBAL_WINDOW_OK.
_GLOBAL_WINDOW_OK: dict[str, str] = {
    "ret_ndcg_eval": "two cumulative sums over the fixed 10-row rank "
    "grid (DCG and IDCG at each cutoff)",
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


_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_LI_COLS = "l_orderkey long, l_partkey long"
_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars int"


def _q6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


# ------------------------------------------------- WOE / IV


def test_woe_hand_computed(spark, tmp_path):
    """4 URGENT orders (3 good / 1 bad) + 4 LOW (1 good / 3 bad),
    G = B = 4: woe(URGENT) = ln((3.5/4)/(1.5/4)) = ln(7/3), iv_term
    = (3.5/4 - 1.5/4) * q6(ln(7/3)) — recomputed exactly."""
    import datetime as dt

    rows = []
    specs = [("1-URGENT", "O", 3), ("1-URGENT", "F", 1),
             ("5-LOW", "O", 1), ("5-LOW", "F", 3)]
    k = 0
    for prio, status, n in specs:
        for _ in range(n):
            rows.append((k, k, status, 10.0,
                         dt.datetime(2024, 1, 1), prio))
            k += 1
    orders = spark.createDataFrame(rows, _ORD_SCHEMA)
    d = _fixture_dir(spark, tmp_path, orders=orders)
    out = {r.category: r.asDict()
           for r in BATCH["fe_woe_information_value"].fn(spark, d).collect()}
    woe_u = _q6(math.log((3.5 / 4) / (1.5 / 4)))
    assert out["1-URGENT"]["woe"] == woe_u
    assert out["1-URGENT"]["iv_term"] == _q6((3.5 / 4 - 1.5 / 4) * woe_u)
    woe_l = _q6(math.log((1.5 / 4) / (3.5 / 4)))
    assert out["5-LOW"]["woe"] == woe_l
    # Symmetric fixture: the two categories' woe are exact negatives.
    assert out["1-URGENT"]["woe"] == -out["5-LOW"]["woe"]


# ------------------------------------------------- CUSUM changepoint


def test_changepoint_level_shift(spark, tmp_path):
    """10 days at value 10 then 10 days at value 20: |CUSUM| peaks
    exactly at the last low day (day 10), magnitude 10*(15-10) = 50."""
    import datetime as dt

    rows = []
    for day in range(20):
        v = 10.0 if day < 10 else 20.0
        rows.append((day, dt.datetime(2024, 1, 1 + day, 12), 1,
                     "click", v, "{}"))
    ev = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=ev)
    out = BATCH["ev_changepoint_cusum"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["cp_day"] == "2024-01-10"  # last day of the low regime
    assert r["max_abs_cusum"] == 50.0
    assert r["daily_mean"] == 15.0
    assert r["n_days"] == 20


def test_changepoint_tie_breaks_earliest(spark, tmp_path):
    """A symmetric bump (5, 15, 5) ties |CUSUM| at the two inner
    prefix boundaries; the earliest day must win."""
    import datetime as dt

    rows = []
    for day, v in enumerate([5.0, 15.0, 5.0, 15.0, 5.0, 15.0]):
        rows.append((day, dt.datetime(2024, 2, 1 + day, 6), 1,
                     "view", v, "{}"))
    ev = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=ev)
    r = BATCH["ev_changepoint_cusum"].fn(spark, d).collect()[0].asDict()
    # mean = 10; prefix sums of (v-10): -5, 0, -5, 0, -5, 0 — max |S|
    # = 5 first reached on day 1.
    assert r["cp_day"] == "2024-02-01"
    assert r["max_abs_cusum"] == 5.0


# ------------------------------------------------- modularity


def test_modularity_two_triangles(spark, tmp_path):
    """Two triangles joined by one bridge edge, labeled by triangle:
    m = 7; per community e_c = 3, d_c = 7 ⇒ q_term = 3/7 − (7/14)²
    = 3/7 − 1/4 (the textbook two-community value, Q ≈ 0.3571)."""
    # Parts 1-3 = triangle A (brand X), 4-6 = triangle B (brand Y);
    # edges come from co-purchase orders: one order per edge.
    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    li_rows = []
    for i, (a, b) in enumerate(edges):
        li_rows.append((i, a))
        li_rows.append((i, b))
    li = spark.createDataFrame(li_rows, _LI_COLS)
    part = spark.createDataFrame(
        [(p, f"n{p}", "X" if p <= 3 else "Y", "t", 1, 1.0)
         for p in range(1, 7)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    d = _fixture_dir(spark, tmp_path, lineitem=li, part=part)
    out = {r.label: r.asDict()
           for r in BATCH["graph_modularity_brands"].fn(spark, d).collect()}
    expect = _q6(3.0 / 7.0 - (7.0 / 14.0) ** 2)
    for lab in ("X", "Y"):
        assert out[lab]["n_nodes"] == 3
        assert out[lab]["internal_edges"] == 3
        assert out[lab]["degree_sum"] == 7
        assert out[lab]["q_term"] == expect


# ------------------------------------------------- BFS hops


def test_bfs_path_graph(spark, tmp_path):
    """Two K5 cliques (the only nodes with degree ≥ 4 — exactly the
    top-10 sources) with a path hanging off one clique: hops must be
    exact shortest distances and nodes beyond max_hops (3) absent."""
    # K5 on 1-5 and on 6-10 (degree 4-5 each ⇒ the 10 sources), path
    # 10-20-21-22-23: 20 at hop 1, 21 at 2, 22 at 3, 23 at hop 4 ⇒
    # EXCLUDED at max_hops=3.
    k5a = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    k5b = [(a, b) for a in range(6, 11) for b in range(a + 1, 11)]
    edges = k5a + k5b + [(10, 20), (20, 21), (21, 22), (22, 23)]
    li_rows = []
    for i, (a, b) in enumerate(edges):
        li_rows.append((i, a))
        li_rows.append((i, b))
    li = spark.createDataFrame(li_rows, _LI_COLS)
    d = _fixture_dir(spark, tmp_path, lineitem=li)
    out = {r.node: r.hop
           for r in BATCH["graph_bfs_hops"].fn(spark, d).collect()}
    for n in range(1, 11):
        assert out[n] == 0  # every clique node is a source
    assert out[20] == 1 and out[21] == 2 and out[22] == 3
    assert 23 not in out  # hop 4 > max_hops


# ------------------------------------------------- nDCG


def test_ndcg_hand_computed(spark, tmp_path):
    """3 docs with rel 1, 2, 4 where BM25 (idf-weighted) ranks the
    rel-4 doc first: recompute DCG/IDCG/nDCG@k by hand for every
    cutoff. All four query terms appear in doc 3, so rel(doc3)=4."""
    docs = spark.createDataFrame(
        [
            (1, "merge alpha beta gamma delta", "en", "s", 10),
            (2, "merge scan alpha beta gamma", "en", "s", 10),
            (3, "merge scan filter window", "en", "s", 10),
        ],
        _DOC_SCHEMA,
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    rows = sorted(
        (r.asDict() for r in BATCH["ret_ndcg_eval"].fn(spark, d).collect()),
        key=lambda r: r["rank"],
    )
    # Retrieved order: doc 3 (4 rare terms), doc 2 (2 terms), doc 1.
    assert [r["doc"] for r in rows[:3]] == [3, 2, 1]
    assert [r["rel"] for r in rows[:3]] == [4, 2, 1]
    disc = [1.0 / math.log2(i + 1) for i in range(1, 11)]
    gains = [_q6(15 * disc[0]), _q6(3 * disc[1]), _q6(1 * disc[2])]
    # Ideal ordering equals retrieved ordering here ⇒ nDCG = 1 at
    # every populated cutoff.
    for i, r in enumerate(rows[:3]):
        assert r["gain"] == gains[i]
        assert r["ndcg_at_k"] == 1.0


def test_ndcg_penalizes_inversion(spark, tmp_path):
    """IDF inversion: one doc holds a single RARE query term (rel 1,
    huge idf) while six docs hold the two COMMON terms (rel 2, tiny
    idf) — BM25 ranks the rel-1 doc first, so nDCG@1 < 1. The metric
    is recomputed by hand at every cutoff from (rel by rank) and the
    corpus-ideal gain sequence."""
    docs = [(1, "filter", "en", "s", 6)]
    docs += [(i, "merge scan", "en", "s", 10) for i in range(2, 8)]
    d = _fixture_dir(
        spark, tmp_path,
        documents=spark.createDataFrame(docs, _DOC_SCHEMA),
    )
    rows = sorted(
        (r.asDict() for r in BATCH["ret_ndcg_eval"].fn(spark, d).collect()),
        key=lambda r: r["rank"],
    )
    by_rank = {r["rank"]: r for r in rows}
    assert len(by_rank) == 7  # corpus has only 7 scored docs
    # idf(filter) = ln(6.5/1.5 + 1) dominates 2·idf(merge|scan) =
    # 2·ln(1.5/6.5 + 1): the rel-1 doc wins rank 1.
    assert by_rank[1]["doc"] == 1 and by_rank[1]["rel"] == 1
    # Corpus ideal: six rel-2 docs then the rel-1 doc.
    disc = [1.0 / math.log2(i + 1) for i in range(1, 11)]
    ideal = [_q6(3 * disc[i]) for i in range(6)] + [_q6(1 * disc[6])]
    dcg = 0.0
    idcg = 0.0
    for k in sorted(by_rank):
        r = by_rank[k]
        dcg = round(dcg + _q6(((1 << r["rel"]) - 1) * disc[k - 1]), 6)
        idcg = round(idcg + ideal[k - 1], 6)
        assert r["ndcg_at_k"] == _q6(dcg / idcg)
    assert by_rank[1]["ndcg_at_k"] < 1.0


# ------------------------------------------------- mutual information


def test_mi_independent_and_dependent(spark, tmp_path):
    """Perfectly independent columns give MI exactly 0 (every joint
    cell factorizes); a bijective dependence gives MI = ln(k)."""
    import datetime as dt

    rows = []
    eid = 0
    # Independent: event_type in {click, view} x hour in {1, 2},
    # uniform 4-cell grid, value constant (vbucket constant too —
    # its MI term is 0 because a constant column factorizes).
    for et in ("click", "view"):
        for hour in (1, 2):
            for _ in range(5):
                rows.append((eid, dt.datetime(2024, 3, 1, hour), 1,
                             et, 10.0, "{}"))
                eid += 1
    ev = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=ev)
    out = {r.pair: r.asDict()
           for r in BATCH["pf_column_mutual_information"].fn(spark, d)
           .collect()}
    assert out["event_type|hour"]["mi_nats"] == 0.0
    assert out["event_type|vbucket"]["mi_nats"] == 0.0

    # Dependent: click ⇔ value 10 (bucket 0), view ⇔ value 60
    # (bucket 2) — MI = ln 2 (quantized per cell then summed).
    rows2 = []
    for eid2, (et, v) in enumerate(
        [("click", 10.0), ("view", 60.0)] * 6
    ):
        rows2.append((eid2, dt.datetime(2024, 3, 2, 5), 1, et, v, "{}"))
    ev2 = spark.createDataFrame(rows2, _EV_SCHEMA)
    d2 = _fixture_dir(spark, tmp_path.joinpath("b"), events=ev2)
    out2 = {r.pair: r.asDict()
            for r in BATCH["pf_column_mutual_information"].fn(spark, d2)
            .collect()}
    # Two cells, each q6(0.5 * ln 2); exact decimal sum.
    assert out2["event_type|vbucket"]["mi_nats"] == round(
        2 * _q6(0.5 * math.log(2.0)), 6
    )


# ------------------------------------------------- attribution


def test_attribution_linear_split_and_window(spark, tmp_path):
    """One purchase with two in-window touches (view + click) splits
    credit 0.5/0.5 and value/2 each; a touch 8 days before the
    purchase and a touch AFTER it get nothing."""
    import datetime as dt

    p_ts = dt.datetime(2024, 5, 10, 12)
    rows = [
        (1, p_ts, 7, "purchase", 100.0, '{"k": 0}'),
        (2, p_ts - dt.timedelta(days=1), 7, "view", 1.0, '{"k": 3}'),
        (3, p_ts - dt.timedelta(days=2), 7, "click", 1.0, '{"k": 4}'),
        (4, p_ts - dt.timedelta(days=8), 7, "view", 1.0, '{"k": 3}'),
        (5, p_ts + dt.timedelta(hours=1), 7, "click", 1.0, '{"k": 4}'),
        (6, p_ts - dt.timedelta(days=1), 8, "view", 1.0, '{"k": 0}'),
    ]
    ev = spark.createDataFrame(rows, _EV_SCHEMA)
    d = _fixture_dir(spark, tmp_path, events=ev)
    out = {(r.channel, r.campaign): r.asDict()
           for r in BATCH["ev_attribution_linear"].fn(spark, d).collect()}
    assert set(out) == {("view", 0), ("click", 1)}
    assert out[("view", 0)]["credited_conversions"] == 0.5
    assert out[("view", 0)]["credited_value"] == 50.0
    assert out[("view", 0)]["n_touches"] == 1
    assert out[("click", 1)]["credited_conversions"] == 0.5
    assert out[("click", 1)]["n_conversions"] == 1


# ------------------------------------------------- dHash


def test_dhash_fake_kernel_matches_python(spark, tmp_path):
    """Recompute one doc's chain, grid, bits, and chunks in pure
    Python (hashlib) and compare against the Spark expressions."""
    import hashlib

    text = "the quick brown fox"
    docs = spark.createDataFrame(
        [(1, text, "en", "s", 19)], _DOC_SCHEMA
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    row = BATCH["mm_image_dhash_index"].fn(spark, d).collect()[0].asDict()

    h = hashlib.md5(text.encode()).hexdigest()
    hexcat = h
    for _ in range(4):
        h = hashlib.md5(h.encode()).hexdigest()
        hexcat += h
    px = [int(hexcat[2 * i: 2 * i + 2], 16) for i in range(72)]
    bits = []
    for r in range(8):
        for c in range(8):
            bits.append(1 if px[r * 9 + c] < px[r * 9 + c + 1] else 0)
    chunks = [
        sum(bits[16 * k + j] << j for j in range(16)) for k in range(4)
    ]
    assert [row["c0"], row["c1"], row["c2"], row["c3"]] == chunks
    assert row["ham_weight"] == sum(bits)


def test_dhash_near_pairs_recall_and_cutoff(spark):
    """Hand-built pixel grids: identical grids pair at Hamming 0, a
    one-comparison flip pairs at 1, exactly-3 flips still pair
    (pigeonhole guarantee boundary), 4 flips must NOT pair."""
    from cqdg_etl_spark.operators.imagehash import (
        dhash_from_grid,
        dhash_near_pairs,
    )

    base = [(10 if (c % 2 == 0) else 20) for _ in range(8) for c in range(9)]

    def flip(grid, comparisons):
        g = list(grid)
        for (r, c) in comparisons:
            # Break the px[r][c] < px[r][c+1] relation by swapping the
            # local gradient at that comparison only: set both cells
            # equal (bit -> 0 where base had 1).
            g[r * 9 + c] = 20
            g[r * 9 + c + 1] = 20
        return g

    rows = [
        (1, base),
        (2, list(base)),                       # hamming 0 vs 1
        (3, flip(base, [(0, 0)])),             # hamming 1 vs 1/2
        (4, flip(base, [(0, 0), (2, 2), (7, 6)])),   # hamming 3 vs 1/2
        (5, flip(base, [(0, 0), (2, 2), (5, 4), (7, 6)])),  # hamming 4
    ]
    df = spark.createDataFrame(rows, "id int, grid array<int>")
    sig = dhash_from_grid(df, "grid", "id")
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_near_pairs(sig, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert pairs[(1, 3)] == 1 and pairs[(2, 3)] == 1
    assert pairs[(1, 4)] == 3  # boundary: d+1 chunks guarantee d<=3
    # The 4 flips land one per 16-bit chunk (rows 0/2/5/7 → bits
    # 0/18/44/62), so grid 5 shares NO chunk with grid 1: it is cut
    # at candidate GENERATION, not just by the hamming filter.
    assert (1, 5) not in pairs and (2, 5) not in pairs


def test_dhash_pigeonhole_rejects_wide_hamming():
    from cqdg_etl_spark.operators.imagehash import dhash_near_pairs

    with pytest.raises(ValueError):
        dhash_near_pairs(None, max_hamming=4)
