"""datapipe14 queries: full local verification against the DuckDB oracles —
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

pytestmark = pytest.mark.nightly

# This module's query batch, as registered.
BATCH = {
    n: q for n, q in REGISTRY.items() if q.fn.__module__ == "cqdg_etl_spark.queries.datapipe14"
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
    assert len(BATCH) == 10


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


# ------------------------------------------------- paragraph dedup


def test_paragraph_dedup_cross_and_within_doc(spark, tmp_path):
    """Doc 2 repeats doc 1's first paragraph (removed: cross-doc) and
    doc 3 repeats its own first paragraph (removed: within-doc);
    unique paragraphs survive. 10-token paragraphs — each letter run
    below is one paragraph."""
    p1 = " ".join(["a"] * 10)
    p2 = " ".join(["b"] * 10)
    p3 = " ".join(["c"] * 10)
    docs = spark.createDataFrame(
        [
            (1, f"{p1} {p2}", "en", "s0", 1),
            (2, f"{p1} {p3}", "en", "s0", 1),  # p1 is doc 1's
            (3, f"{p3} {p3}", "en", "s0", 1),  # self-repeat (p3 is doc 2's!)
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    out = {
        r["doc_id"]: (r["n_paras"], r["n_kept"])
        for r in BATCH["dd_paragraph_dedup"].fn(spark, d).collect()
    }
    # doc 1 owns p1+p2; doc 2 keeps only p3 (p1 seen); doc 3 keeps none
    assert out == {1: (2, 2), 2: (2, 1), 3: (2, 0)}
    _compare_staged(spark, "dd_paragraph_dedup", d,
                    con=_fixture_conn(d, ["documents"]))


# ------------------------------------------------- LSH recall eval


def test_lsh_recall_identical_docs_decile10(spark, tmp_path):
    """Identical documents have Jaccard 1.0 and identical MinHash
    signatures, so decile 10 must show recall 1.0."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(i, text, "en", "s0", len(text)) for i in range(4)]
        + [(10 + i, f"totally different words number {i} " * 3, "en", "s0", 1)
           for i in range(3)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    rows = {
        r["jaccard_decile"]: r
        for r in BATCH["dd_lsh_recall_eval"].fn(spark, d).collect()
    }
    assert rows[10]["n_true_pairs"] == 6  # C(4,2) identical pairs
    assert rows[10]["recall"] == 1.0
    _compare_staged(spark, "dd_lsh_recall_eval", d,
                    con=_fixture_conn(d, ["documents"]))


# ------------------------------------------------- length buckets


def test_length_buckets_boundaries(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "w", "en", "s0", 1),                      # 1 tok  -> [1,1]
            (2, " ".join(["w"] * 7), "en", "s0", 1),      # 7 toks -> [4,7]
            (3, " ".join(["w"] * 8), "en", "s0", 1),      # 8 toks -> [8,15]
            (4, " ".join(["w"] * 8), "en", "s0", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    out = {
        r["bucket_lo"]: r
        for r in BATCH["ds_length_buckets"].fn(spark, d).collect()
    }
    assert set(out) == {1, 4, 8}
    assert (out[1]["bucket_hi"], out[1]["docs_per_batch"]) == (1, 4096)
    assert (out[4]["bucket_hi"], out[4]["n_docs"]) == (7, 1)
    b8 = out[8]
    # two 8-token docs pad to bucket_hi 15: 2*15 - 16 = 14 wasted
    assert (b8["n_docs"], b8["padded_tokens"], b8["n_batches"]) == (2, 14, 1)
    _compare_staged(spark, "ds_length_buckets", d,
                    con=_fixture_conn(d, ["documents"]))


# ------------------------------------------------- water-filling


def test_waterfill_hand_computed(spark, tmp_path):
    """Supplies 10/20/100, budget 65: the two small sources keep
    everything (water level above them), the big one is capped at the
    35 that exhausts the budget exactly."""
    rows = []
    did = 0
    for src, n in [("small", 10), ("mid", 20), ("big", 100)]:
        rows.append((did, " ".join(["w"] * n), "en", src, 1))
        did += 1
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    out = {
        r["source"]: (r["alloc_tokens"], r["saturated"])
        for r in BATCH["ds_waterfill_budget"].fn(spark, d).collect()
    }
    assert out == {"small": (10, True), "mid": (20, True), "big": (35, False)}
    assert sum(a for a, _ in out.values()) == 65  # == budget exactly
    _compare_staged(spark, "ds_waterfill_budget", d,
                    con=_fixture_conn(d, ["documents"]))


def test_waterfill_remainder_distribution(spark, tmp_path):
    """Equal supplies force the remainder path: 3 sources × 9 tokens,
    budget 13 = 4+4+4 with remainder 1 to the first source in
    (supply, name) order."""
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 9), "en", f"s{i}", 1) for i in range(3)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    d = _fixture_dir(spark, tmp_path, documents=docs)
    out = {
        r["source"]: r["alloc_tokens"]
        for r in BATCH["ds_waterfill_budget"].fn(spark, d).collect()
    }
    assert out == {"s0": 5, "s1": 4, "s2": 4}
    _compare_staged(spark, "ds_waterfill_budget", d,
                    con=_fixture_conn(d, ["documents"]))


# ------------------------------------------------- k-core peeling


def test_kcore_k4_survives_pendant_chain_peels(spark, tmp_path):
    """Lineitem rows forming one order per K4 edge (clique of parts
    1-4, every pair co-purchased) plus a pendant chain 4-5-6: the K4
    is a 3-core (every node degree 3); 5 and 6 peel off."""
    k4 = [(o, p) for o, (a, b) in enumerate(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    ) for p in (a, b)]
    chain = [(100, 4), (100, 5), (101, 5), (101, 6)]
    li = spark.createDataFrame(
        [(o, p) for o, p in k4 + chain],
        "l_orderkey long, l_partkey long",
    )
    d = _fixture_dir(spark, tmp_path, lineitem=li)
    out = {r["node"]: r["deg"]
           for r in BATCH["graph_kcore_peel"].fn(spark, d).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    _compare_staged(spark, "graph_kcore_peel", d,
                    con=_fixture_conn(d, ["lineitem"]))


# ------------------------------------------------- EWMA


def test_ewma_hand_computed(spark, tmp_path):
    """values 4, 8, 2 -> s = 4, 6, 4: final 4.0, max 6.0."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (1, 7, base, "purchase", 4.0),
            (1, 8, base + dt.timedelta(minutes=1), "purchase", 8.0),
            (1, 9, base + dt.timedelta(minutes=2), "purchase", 2.0),
            (1, 10, base, "view", 999.0),  # filtered out
        ],
        "user_id long, event_id long, ts timestamp, event_type string,"
        " value double",
    )
    d = _fixture_dir(spark, tmp_path, events=ev)
    out = BATCH["ev_ewma_smoothed"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_events"], r["final_ewma"], r["max_ewma"]) == (3, 4.0, 6.0)


def test_ewma_arrival_order_invariance(spark, sf_dir, tmp_path):
    """The grouped-map sorts by (ts, event_id) internally, so a
    row-shuffled, repartitioned copy of the events table produces
    bit-identical state."""
    from cqdg_etl_spark.queries.registry import load

    base = BATCH["ev_ewma_smoothed"].fn(spark, sf_dir).toPandas()
    shuffled = (
        load(spark, sf_dir, "events")
        .orderBy(F.md5(F.concat_ws(":", "user_id", "event_id")))
        .repartition(7)
    )
    d = str(tmp_path / "shuf")
    shuffled.write.mode("overwrite").parquet(f"{d}/events.parquet")
    again = BATCH["ev_ewma_smoothed"].fn(spark, d).toPandas()
    assert canonical_rows(again) == canonical_rows(base)


# ------------------------------------------------- mp4 demux


def test_mp4_demux_matches_direct_python(spark, sf_dir):
    """The Spark mapInPandas output equals a direct driver-side
    mux+demux of the same derivation — and n_samples lands in the
    derived [2, 8] band."""
    import hashlib

    from cqdg_etl_spark.operators.mp4_codec import (
        extract_samples,
        mp4_track_infos,
        synth_mp4,
    )
    from cqdg_etl_spark.queries.datapipe14 import _MP4_DELTA, _mp4_samples_for
    from cqdg_etl_spark.queries.registry import load

    out = BATCH["mm_mp4_demux_stats"].fn(spark, sf_dir).toPandas()
    assert out["n_samples"].between(2, 8).all()
    docs = load(spark, sf_dir, "documents").select("doc_id", "text").limit(5)
    for row in docs.collect():
        payload = synth_mp4(_mp4_samples_for(row["text"]),
                            sample_delta=_MP4_DELTA)
        track = mp4_track_infos(payload)[0]
        samples = extract_samples(payload, track)
        got = out[out["doc_id"] == row["doc_id"]].iloc[0]
        assert got["n_samples"] == track.n_samples
        assert got["samples_md5"] == hashlib.md5(
            "".join(s.hex() for s in samples).encode()
        ).hexdigest()


# ------------------------------------------------- dim variance


def test_dim_variance_isolates_varying_dim(spark, tmp_path):
    """64-dim vectors identical except dimension 5: top row must be
    dim 5; every other reported variance is 0."""
    base = [1.0] * 64
    v2 = list(base)
    v2[5] = 3.0
    emb = spark.createDataFrame(
        [(1, base, 0), (2, v2, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    d = _fixture_dir(spark, tmp_path, embeddings=emb)
    out = BATCH["emb_dim_variance_topk"].fn(spark, d).collect()
    assert out[0]["dim"] == 5 and out[0]["variance"] == 1.0  # ((1-2)^2+(3-2)^2)/2
    assert all(r["variance"] == 0.0 for r in out[1:])
    _compare_staged(spark, "emb_dim_variance_topk", d,
                    con=_fixture_conn(d, ["embeddings"]))
