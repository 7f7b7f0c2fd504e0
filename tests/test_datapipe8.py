"""Behavioral tests for round-3 batch 6: PPS systematic sampling,
global cumsum, token-budget selection, temperature mixture. (Value-
level oracle parity is covered by tests/test_correctness.py.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.nightly


# ------------------------------------------------ pps_systematic_sample


def test_pps_pin_count_conserved_and_weight_proportional(spark):
    from cqdg_etl_spark.operators.sampling import pps_systematic_sample

    # one stratum: weights 1..100; k pins total, heavy rows more likely
    df = spark.range(1, 101).select(
        F.lit("s").alias("src"),
        F.col("id").alias("doc"),
        F.col("id").alias("w"),
    )
    out = pps_systematic_sample(df, "src", "doc", "w", k=10).collect()
    assert sum(r["n_pins"] for r in out) == 10  # exactly k pins land
    # heaviest decile must be overrepresented vs lightest decile
    heavy = sum(r["n_pins"] for r in out if r["doc"] > 90)
    light = sum(r["n_pins"] for r in out if r["doc"] <= 10)
    assert heavy > light


def test_pps_giant_row_takes_multiple_pins(spark):
    from cqdg_etl_spark.operators.sampling import pps_systematic_sample

    df = spark.createDataFrame(
        [("s", 1, 97), ("s", 2, 1), ("s", 3, 1), ("s", 4, 1)],
        "src string, doc long, w long",
    )
    out = {r["doc"]: r["n_pins"] for r in
           pps_systematic_sample(df, "src", "doc", "w", k=10).collect()}
    assert out[1] >= 9  # row with 97% of the mass straddles ~9-10 pins
    assert sum(out.values()) == 10


# ------------------------------------------------------- global_cumsum


def test_global_cumsum_matches_local_prefix_sums(spark):
    from cqdg_etl_spark.operators.ranking import global_cumsum

    df = spark.range(1, 1001).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("v")
    ).repartition(13)
    out = global_cumsum(df, [F.col("k").asc()], "v", out_col="cum")
    rows = sorted(out.collect(), key=lambda r: r["k"])
    acc = 0
    for r in rows:
        acc += r["v"]
        assert r["cum"] == acc


# -------------------------------------------------- budget selection


def test_budget_select_is_prefix_of_quality_order(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = {
        1: "a b c d e",        # ttr 1.0  (5 tokens)
        2: "a a a a a a",      # ttr 1/6  (6 tokens)
        3: "x y z x",          # ttr 0.75 (4 tokens)
        4: "p q",              # ttr 1.0  (2 tokens)
    }
    docs = pa.table(
        {
            "doc_id": list(texts),
            "text": list(texts.values()),
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [len(t) for t in texts.values()],
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    from cqdg_etl_spark.queries import REGISTRY

    out = REGISTRY["ds_quality_budget_select"].fn(
        spark, str(tmp_path)
    ).collect()
    picked = sorted(r["doc_id"] for r in out)
    # order is (ttr desc, doc_id): 1 (5 toks), 4 (2), 3 (4), 2 (6).
    # budget = 0.3 * 17 = 5.1 → doc 1 starts at 0 (<5.1), doc 4 starts
    # at 5 (<5.1), doc 3 starts at 7 (≥5.1) → picked = {1, 4}
    assert picked == [1, 4]


# ---------------------------------------------- temperature mixture


def test_temperature_mixture_flattens_toward_uniform(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [("big", i) for i in range(90)] + [("small", i) for i in range(10)]
    docs = pa.table(
        {
            "doc_id": list(range(100)),
            "text": ["t"] * 100,
            "lang": ["en"] * 100,
            "source": [s for s, _ in rows],
            "n_chars": [1] * 100,
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    from cqdg_etl_spark.queries import REGISTRY

    out = {r["source"]: r for r in REGISTRY["ds_temperature_mixture"].fn(
        spark, str(tmp_path)
    ).collect()}
    assert abs(out["big"]["p"] - 0.9) < 1e-6
    # α < 1 pulls shares toward uniform: q_small > p_small, q_big < p_big
    assert out["small"]["q"] > out["small"]["p"]
    assert out["big"]["q"] < out["big"]["p"]
    assert abs(out["big"]["q"] + out["small"]["q"] - 1.0) < 1e-5


def test_global_cumsum_multi_column_single_pass(spark):
    from cqdg_etl_spark.operators.ranking import global_cumsum

    df = spark.range(1, 101).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("a"),
        (F.col("id") % 5).alias("b"),
    ).repartition(7)
    out = global_cumsum(
        df, [F.col("k").asc()], ["a", "b"], out_col=["ca", "cb"]
    )
    rows = sorted(out.collect(), key=lambda r: r["k"])
    ea = eb = 0
    for r in rows:
        ea += r["a"]
        eb += r["b"]
        assert (r["ca"], r["cb"]) == (ea, eb)


def test_global_rank_adversarial_tie_skew_stays_balanced(spark):
    """Skew stress: 99% of rows share ONE order-key value. Because the
    unique id is part of the (total) order, the range partitioner
    splits the tie block across partitions — the rank must be an exact
    1..n permutation AND no partition may hold the whole hot block
    (the failure mode of partitioning on the key alone)."""
    from pyspark.sql import functions as F

    from cqdg_etl_spark.operators.ranking import global_rank

    n = 20_000
    df = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 100 == 0, F.col("id")).otherwise(0).alias("k"),
    )
    # AQE legitimately coalesces 20k rows into one partition — disable
    # coalescing so the test observes the range partitioner's split
    # decision, which is what matters at corpus scale.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")
    try:
        ranked = global_rank(df, [F.col("k"), F.col("id")], rank_col="r")
        ranks = [r["r"] for r in ranked.select("r").collect()]
        assert sorted(ranks) == list(range(1, n + 1))
        sizes = [
            r["c"]
            for r in ranked.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("*").alias("c"))
            .collect()
        ]
        # 19,800 rows are ties on k=0; a key-only partitioner would put
        # them all in one task. With the id tiebreak the hot block
        # spreads across range partitions.
        assert max(sizes) < n * 0.2, sizes
    finally:
        spark.conf.set(coalesce_key, prev)


def test_global_cumsum_decimal_exact_under_tie_skew(spark):
    """The decimal path (fixed in r4) must stay exact when the order
    key is massively tied and values are decimals."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from cqdg_etl_spark.operators.ranking import global_cumsum

    n = 5_000
    df = spark.range(n).select(
        F.col("id"),
        F.lit(0).alias("k"),
        (F.col("id").cast("decimal(18,6)") / 7).cast("decimal(18,6)").alias("v"),
    )
    out = global_cumsum(df, [F.col("k"), F.col("id")], "v", "cum")
    rows = sorted(out.select("id", "v", "cum").collect(), key=lambda r: r["id"])
    acc = Decimal(0)
    for r in rows:
        acc += r["v"]
        assert r["cum"] == acc, (r["id"], r["cum"], acc)

def test_global_cumsum_total_col_matches_separate_aggregate(spark):
    """r11: the grand total attached by ``total_col`` must equal the
    value (and Spark SUM result type) of a separate agg — long,
    decimal and double value columns all carry their own widened
    type."""
    from decimal import Decimal

    from cqdg_etl_spark.operators.ranking import global_cumsum

    df = spark.range(1, 101).select(
        F.col("id").alias("k"),
        (F.col("id") % 7 + 1).alias("v"),
        (F.col("id") % 3).cast("decimal(10,2)").alias("d"),
        (F.col("id") % 5 / 2.0).alias("x"),
    ).repartition(9)
    out = global_cumsum(
        df,
        [F.col("k").asc()],
        ["v", "d", "x"],
        out_col=["cv", "cd", "cx"],
        total_col=["tv", "td", "tx"],
    )
    exp = df.agg(
        F.sum("v").alias("tv"), F.sum("d").alias("td"), F.sum("x").alias("tx")
    )
    got = out.select("tv", "td", "tx").distinct().collect()
    assert len(got) == 1
    e = exp.collect()[0]
    g = got[0]
    assert (g["tv"], g["td"]) == (e["tv"], e["td"])
    assert abs(g["tx"] - e["tx"]) < 1e-9
    es, gs = exp.schema, out.select("tv", "td", "tx").schema
    assert [f.dataType for f in gs] == [f.dataType for f in es]
    # cumsum itself unchanged by the option
    rows = sorted(out.collect(), key=lambda r: r["k"])
    acc = 0
    for r in rows:
        acc += r["v"]
        assert r["cv"] == acc
