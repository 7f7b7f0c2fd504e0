"""Behavioral tests for round-3 batch 5: PSI drift, soft-dedup
weights, vocabulary/OOV coverage, grouped OLS trend. (Value-level
oracle parity is covered by tests/test_correctness.py via the
registry.)"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.nightly


# ------------------------------------------------------------ psi_drift


def test_psi_identical_distributions_is_zero(spark):
    from cqdg_etl_spark.operators.profile import psi_drift

    df = spark.range(1000).select((F.col("id") % 100).cast("double").alias("x"))
    out = psi_drift(df, df, "x", n_bins=10).collect()
    assert len(out) == 10
    assert all(r["psi_term"] == 0.0 for r in out)
    assert sum(r["n_ref"] for r in out) == 1000


def test_psi_shifted_distribution_is_large(spark):
    from cqdg_etl_spark.operators.profile import psi_drift

    ref = spark.range(1000).select((F.col("id") % 100).cast("double").alias("x"))
    cur = spark.range(1000).select(
        (F.col("id") % 100 + 200).cast("double").alias("x")
    )
    out = psi_drift(ref, cur, "x", n_bins=10).collect()
    psi = sum(r["psi_term"] for r in out)
    assert psi > 0.25  # rule-of-thumb "drifted" threshold
    # everything in cur lands in the clamped top bin
    top = next(r for r in out if r["bin"] == 9)
    assert top["n_cur"] == 1000


# -------------------------------------------------- soft_dedup_weights


def test_soft_dedup_weights_sum_to_one_per_cluster(spark):
    from cqdg_etl_spark.operators.dedup import soft_dedup_weights

    df = spark.createDataFrame(
        [(1, "a b"), (2, "A  b"), (3, "a B "), (4, "unique text")],
        "doc_id long, text string",
    )
    out = soft_dedup_weights(df).collect()
    by_id = {r["doc_id"]: r for r in out}
    # 1,2,3 normalize identically -> cluster of 3
    assert by_id[1]["cluster_n"] == 3
    assert by_id[1]["weight"] == round(1 / 3, 6)
    assert by_id[4]["cluster_n"] == 1 and by_id[4]["weight"] == 1.0
    fp_groups = {}
    for r in out:
        fp_groups.setdefault(r["fingerprint"], []).append(r["weight"])
    for ws in fp_groups.values():
        assert abs(sum(ws) - 1.0) < 1e-4


# ----------------------------------------------------- vocab coverage


def test_vocab_coverage_oov_rate(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pa.table(
        {
            "doc_id": [1, 2],
            "text": ["the the the cat", "the dog zzz"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [15, 11],
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    from cqdg_etl_spark.queries import REGISTRY

    out = {r["doc_id"]: r for r in
           REGISTRY["tx_vocab_coverage"].fn(spark, str(tmp_path)).collect()}
    # vocabulary of top-100 covers ALL tokens here -> zero OOV
    assert out[1]["n_toks"] == 4 and out[1]["n_oov"] == 0
    assert out[2]["oov_rate"] == 0.0


# -------------------------------------------------------- OLS trend


def test_ols_recovers_perfect_line(spark):
    # y = 3x + 7 daily totals, one event per day -> slope 3, intercept 7
    rows = [
        (i, datetime.datetime(2024, 1, 1 + i), 1, "purchase", 3.0 * i + 7.0, "")
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import pyarrow as pa  # noqa: F401  (parquet fixture below)

    # route through the registry implementation body via a temp table
    from cqdg_etl_spark.queries import datapipe7 as dp7  # noqa: F401
    import tempfile, os
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    from cqdg_etl_spark.queries import REGISTRY

    out = REGISTRY["ev_trend_daily"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 10
    assert r["slope"] == 3.0
    assert r["intercept"] == 7.0
