"""Behavioral tests for round-3 batch 9: exact KS drift and Benford
audit. (Value-level oracle parity is covered by
tests/test_correctness.py.)"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.nightly


def _write_orders(tmp_path, prices, dates):
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(prices)
    t = pa.table(
        {
            "o_orderkey": list(range(n)),
            "o_custkey": [1] * n,
            "o_orderstatus": ["O"] * n,
            "o_totalprice": prices,
            "o_orderdate": pa.array(dates, pa.timestamp("us")),
            "o_orderpriority": ["1-URGENT"] * n,
            "o_clerk": ["c"] * n,
            "o_shippriority": [0] * n,
            "o_comment": [""] * n,
        }
    )
    pq.write_table(t, str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def test_ks_identical_samples_is_zero(spark, tmp_path):
    import datetime as dt
    from cqdg_etl_spark.queries import REGISTRY

    prices = [float(i) for i in range(1, 51)] * 2
    dates = [dt.datetime(1997, 1, 1)] * 50 + [dt.datetime(1999, 1, 1)] * 50
    sf = _write_orders(tmp_path, prices, dates)
    r = REGISTRY["pf_ks_totalprice_drift"].fn(spark, sf).collect()[0]
    assert (r["n_ref"], r["n_cur"]) == (50, 50)
    assert r["ks_num"] == 0 and r["ks"] == 0.0


def test_ks_disjoint_samples_is_one(spark, tmp_path):
    import datetime as dt
    from cqdg_etl_spark.queries import REGISTRY

    prices = [float(i) for i in range(1, 11)] + [
        float(i) for i in range(100, 110)
    ]
    dates = [dt.datetime(1997, 1, 1)] * 10 + [dt.datetime(1999, 1, 1)] * 10
    sf = _write_orders(tmp_path, prices, dates)
    r = REGISTRY["pf_ks_totalprice_drift"].fn(spark, sf).collect()[0]
    assert r["ks"] == 1.0  # fully separated distributions
    assert r["ks_num"] == 100  # max |c1*n2 - c2*n1| = 10*10


def test_benford_expectations_and_counts(spark, tmp_path):
    import datetime as dt
    from cqdg_etl_spark.queries import REGISTRY

    # 3 prices starting with 1, 1 with 9
    prices = [1.5, 123.0, 1999.0, 9.1]
    dates = [dt.datetime(1997, 1, 1)] * 4
    sf = _write_orders(tmp_path, prices, dates)
    out = {r["digit"]: r for r in
           REGISTRY["pf_benford_totalprice"].fn(spark, sf).collect()}
    assert len(out) == 9  # densified 1..9
    assert out[1]["n_obs"] == 3 and out[9]["n_obs"] == 1
    assert out[2]["n_obs"] == 0
    assert out[1]["p_benford"] == round(math.log10(2), 6)
    assert out[1]["p_obs"] == 0.75
