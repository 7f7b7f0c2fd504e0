"""Behavioral tests for round-3 batch 8: label propagation,
winsorization, association rules. (Value-level oracle parity is
covered by tests/test_correctness.py.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.nightly


# ------------------------------------------------- label_propagation


def _edges(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.union(df.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst")))


def test_lp_labels_spread_from_seeds(spark):
    from cqdg_etl_spark.operators.graph import label_propagation

    # path graph 1-2-3-4-5, seeds at the ends with different labels
    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1, 10), (5, 20)], "node long, label long")
    out = {r["node"]: r["label"] for r in
           label_propagation(edges, seeds, iterations=2).collect()}
    assert out[1] == 10 and out[5] == 20  # clamped
    assert out[2] == 10 and out[4] == 20  # nearest seed wins
    # node 3 hears both sides equally; tie broken toward smaller label
    assert out[3] == 10
    # a third synchronous round lets node 3's label reach node 4 and
    # tie against its seed neighbor — tiebreak flips it to 10 (known
    # synchronous-LP oscillation; the oracle unrolls identically)
    out3 = {r["node"]: r["label"] for r in
            label_propagation(edges, seeds, iterations=3).collect()}
    assert out3[4] == 10


def test_lp_seed_clamping_resists_majority(spark):
    from cqdg_etl_spark.operators.graph import label_propagation

    # seed node 1 surrounded by 3 opposite-label seeds: stays clamped
    edges = _edges(spark, [(1, 2), (1, 3), (1, 4)])
    seeds = spark.createDataFrame(
        [(1, 99), (2, 7), (3, 7), (4, 7)], "node long, label long"
    )
    out = {r["node"]: r["label"] for r in
           label_propagation(edges, seeds, iterations=2).collect()}
    assert out[1] == 99


# ----------------------------------------------------- winsorization


def test_winsorize_clamps_extremes_only(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 100
    prices = [float(i + 1) for i in range(n)]  # 1..100
    orders = pa.table(
        {
            "o_orderkey": list(range(n)),
            "o_custkey": [1] * n,
            "o_orderstatus": ["O"] * n,
            "o_totalprice": prices,
            "o_orderdate": [pa.scalar(0, pa.timestamp("us"))] * n,
            "o_orderpriority": ["1-URGENT"] * n,
            "o_clerk": ["c"] * n,
            "o_shippriority": [0] * n,
            "o_comment": [""] * n,
        }
    )
    pq.write_table(orders, str(tmp_path / "orders.parquet"))
    from cqdg_etl_spark.queries import REGISTRY

    out = {r["o_orderkey"]: r for r in REGISTRY["fe_winsorize_totalprice"]
           .fn(spark, str(tmp_path)).collect()}
    # bounds are the rank-5 and rank-95 values: 5.0 and 95.0
    assert out[0]["w_totalprice"] == 5.0     # 1.0 clamped up
    assert out[99]["w_totalprice"] == 95.0   # 100.0 clamped down
    assert out[49]["w_totalprice"] == 50.0   # interior untouched


# ------------------------------------------------ association rules


def test_association_rules_hand_computed(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # 4 baskets: {1,2} x3, {1,3} x1 -> pair (1,2): np=3, n_1=4, n_2=3
    baskets = [(10, 1), (10, 2), (11, 1), (11, 2), (12, 1), (12, 2),
               (13, 1), (13, 3)]
    li = pa.table(
        {
            "l_orderkey": [o for o, _ in baskets],
            "l_partkey": [p for _, p in baskets],
        }
    )
    pq.write_table(li, str(tmp_path / "lineitem.parquet"))
    from cqdg_etl_spark.queries import REGISTRY

    rows = REGISTRY["mb_association_rules"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["part_a"], r["part_b"], r["n_pair"]) == (1, 2, 3)
    assert r["support"] == 0.75          # 3 of 4 baskets
    assert r["conf_ab"] == 0.75          # 3 of 4 baskets with part 1
    assert r["conf_ba"] == 1.0           # every basket with part 2
    assert r["lift"] == 1.0              # 3*4/(4*3)
