"""Behavioral tests for round-3 batch 4: grouped HLL, gap-fill
forward-fill resampling, hard-negative mining, CUSUM drift. (Value-
level oracle parity is covered by tests/test_correctness.py via the
registry; these pin the semantics the oracle comparison can't — fill
placement, label exclusion, sketch/group consistency, recurrence
hand-checks.)"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.nightly


# ----------------------------------------------------- resample_ffill


def _ts(h, m=0):
    return datetime.datetime(2024, 1, 1, h, m)


def test_resample_fills_gaps_and_forward_fills(spark):
    from cqdg_etl_spark.operators.temporal import resample_ffill

    df = spark.createDataFrame(
        [
            (1, _ts(0, 30), 10.0, 100),
            (1, _ts(3, 15), 40.0, 101),  # hours 1 and 2 are empty
            (2, _ts(5, 0), 7.0, 102),
        ],
        "user_id long, ts timestamp, value double, event_id long",
    )
    out = resample_ffill(
        df, "user_id", "ts", "value", tiebreak_cols=["event_id"]
    )
    rows = {(r["user_id"], r["bucket_ts"].hour): r["value"]
            for r in out.collect()}
    # user 1: dense hourly grid 0..3, gap hours carry 10.0 forward
    assert rows[(1, 0)] == 10.0
    assert rows[(1, 1)] == 10.0
    assert rows[(1, 2)] == 10.0
    assert rows[(1, 3)] == 40.0
    # user 2: single-bucket span, no gaps invented
    assert rows[(2, 5)] == 7.0
    assert len(rows) == 5


def test_resample_last_observation_per_bucket_wins(spark):
    from cqdg_etl_spark.operators.temporal import resample_ffill

    df = spark.createDataFrame(
        [
            (1, _ts(0, 10), 1.0, 1),
            (1, _ts(0, 50), 2.0, 2),  # later in the same hour → wins
        ],
        "user_id long, ts timestamp, value double, event_id long",
    )
    out = resample_ffill(
        df, "user_id", "ts", "value", tiebreak_cols=["event_id"]
    ).collect()
    assert len(out) == 1 and out[0]["value"] == 2.0


# ----------------------------------------------------- hard_negatives


def test_hard_negatives_excludes_same_label(spark):
    from cqdg_etl_spark.operators.similarity import hard_negatives

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 1),   # query, label 1
            (10, [1.0, 0.0], 1),  # identical but SAME label → excluded
            (11, [0.9, 0.1], 2),  # best other-label
            (12, [0.0, 1.0], 2),  # orthogonal other-label
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = hard_negatives(
        emb.filter(F.col("vec_id") >= 10),
        emb.filter(F.col("vec_id") < 10),
        k=2,
    ).collect()
    ids = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ids == [11, 12]
    assert all(r["neighbor_label"] != r["query_label"] for r in out)


# --------------------------------------------------------- hll_grouped


def test_hll_grouped_single_group_matches_global(spark):
    from cqdg_etl_spark.operators.sketches import (
        hll_estimate,
        hll_grouped,
        hll_registers,
    )

    df = spark.range(500).select(
        F.lit("g").alias("grp"), (F.col("id") % 200).alias("v")
    )
    grouped = hll_grouped(df, "grp", "v", p=8).collect()[0]
    global_ = hll_estimate(hll_registers(df, "v", p=8), p=8).collect()[0]
    # identical sketch → identical estimate, zeros, and m
    assert grouped["estimate"] == global_["estimate"]
    assert grouped["n_zero"] == global_["n_zero"]
    assert grouped["m"] == global_["m"]
    # and the estimate is within HLL's ~3σ of the true 200
    assert abs(grouped["estimate"] - 200) < 3 * 1.04 / (256 ** 0.5) * 200


def test_hll_grouped_groups_are_independent(spark):
    from cqdg_etl_spark.operators.sketches import hll_grouped

    df = spark.createDataFrame(
        [("a", i) for i in range(100)] + [("b", i) for i in range(3)],
        "grp string, v long",
    )
    out = {r["grp"]: r["estimate"] for r in
           hll_grouped(df, "grp", "v", p=8).collect()}
    # small-range linear counting is near-exact at these cardinalities
    assert abs(out["a"] - 100) < 10
    assert abs(out["b"] - 3) < 1.5


# --------------------------------------------------------- cusum_drift


def test_cusum_hand_computed(spark):
    from cqdg_etl_spark.operators.pandas_ops import cusum_drift

    # target=10: values 15,2,20,1 → S = 5, 0(max clamp: 5+2-10=-3), 10, 1
    df = spark.createDataFrame(
        [
            (1, _ts(0), 15.0, 1),
            (1, _ts(1), 2.0, 2),
            (1, _ts(2), 20.0, 3),
            (1, _ts(3), 1.0, 4),
        ],
        "user_id long, ts timestamp, value double, event_id long",
    )
    out = cusum_drift(
        df, "user_id", ["ts", "event_id"], "value",
        target=10.0, threshold=6.0,
    ).collect()[0]
    assert out["n_points"] == 4
    assert out["max_s"] == 10.0
    assert out["n_alarms"] == 1  # only S=10 exceeds 6


def test_cusum_accepts_numpy_scalars(spark):
    """target/threshold arrive as np.float64 from config arrays in
    calling code; repr() of those reads 'np.float64(10.0)' and used to
    break the embedded SQL literal (ADVICE r11 #4)."""
    import numpy as np

    from cqdg_etl_spark.operators.pandas_ops import cusum_drift

    df = spark.createDataFrame(
        [
            (1, _ts(0), 15.0, 1),
            (1, _ts(1), 2.0, 2),
            (1, _ts(2), 20.0, 3),
            (1, _ts(3), 1.0, 4),
        ],
        "user_id long, ts timestamp, value double, event_id long",
    )
    out = cusum_drift(
        df, "user_id", ["ts", "event_id"], "value",
        target=np.float64(10.0), threshold=np.float64(6.0),
    ).collect()[0]
    assert out["max_s"] == 10.0 and out["n_alarms"] == 1


def test_cusum_order_is_pinned_not_arrival(spark):
    from cqdg_etl_spark.operators.pandas_ops import cusum_drift

    rows = [
        (1, _ts(2), 20.0, 3),  # arrival order scrambled on purpose
        (1, _ts(0), 15.0, 1),
        (1, _ts(3), 1.0, 4),
        (1, _ts(1), 2.0, 2),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, event_id long"
    ).repartition(4)
    out = cusum_drift(
        df, "user_id", ["ts", "event_id"], "value",
        target=10.0, threshold=6.0,
    ).collect()[0]
    assert (out["max_s"], out["n_alarms"]) == (10.0, 1)


def test_hll_union_is_merge_not_rescan_and_bounds(spark):
    """Union estimate from merged registers must equal the estimate of
    the concatenated input — the mergeability law the set-algebra
    query relies on."""
    from cqdg_etl_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    a = spark.range(0, 300).selectExpr("id AS v")
    b = spark.range(200, 500).selectExpr("id AS v")
    merged = hll_estimate(
        hll_merge([hll_registers(a, "v"), hll_registers(b, "v")])
    ).collect()[0]["estimate"]
    direct = hll_estimate(
        hll_registers(a.unionAll(b), "v")
    ).collect()[0]["estimate"]
    assert merged == direct  # bit-identical, not merely close


def test_hard_negatives_banded_finds_planted_negative(spark):
    """A near-identical other-label vector must surface at rank 1 via
    the banded candidate path (no broadcast cross join), and the mined
    set must agree with brute-force hard_negatives restricted to the
    banded candidate pairs."""
    import random

    from cqdg_etl_spark.operators.similarity import (
        banded_cosine_dup_pairs,
        hard_negatives,
        hard_negatives_banded,
    )

    rng = random.Random(7)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    near = [x + 0.001 for x in base]  # ~identical, different label
    rows = [(0, base, 1), (1, near, 2)] + [
        (i, [rng.uniform(-1, 1) for _ in range(64)], i % 3)
        for i in range(2, 30)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    mined = hard_negatives_banded(emb, k=3).collect()
    by_query = {}
    for r in mined:
        by_query.setdefault(r["query_id"], []).append(r)
    top0 = min(by_query[0], key=lambda r: r["rank"])
    assert top0["neighbor_id"] == 1 and top0["cos"] > 0.999

    # parity with brute force on the candidate-restricted pair set
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in banded_cosine_dup_pairs(emb, threshold=0.0).collect()
    }
    brute = hard_negatives(emb, emb, k=len(rows)).collect()
    expected = {}
    for r in brute:
        if r["query_id"] == r["neighbor_id"]:
            continue
        pair = tuple(sorted((r["query_id"], r["neighbor_id"])))
        if pair in cand:
            expected.setdefault(r["query_id"], []).append(
                (r["cos"], -r["neighbor_id"])
            )
    for qid, got_rows in by_query.items():
        want = sorted(expected.get(qid, []), reverse=True)[:3]
        got = sorted(
            ((r["cos"], -r["neighbor_id"]) for r in got_rows), reverse=True
        )
        assert got == want, (qid, got, want)
