"""The operator-query suite: two registry queries over the generated
star-schema tables, a TPC-H star-schema join (``queries/``) and an exact
vector top-k (``operators/similarity``). One pass runs every query once
and collects its result; every result must equal the query's DuckDB
oracle result, computed once in set-up."""

from __future__ import annotations

import math
import time

import duckdb

from cqdg_etl_spark.queries import REGISTRY

QUERIES = ["q5_local_supplier_volume", "ann_topk_bruteforce"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class CheckFailed(Exception):
    pass


def _cell(v) -> str:
    """Engine-neutral cell text: floats to 6 places, NaN and None alike."""
    if v is None:
        return "NULL"
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return str(int(v)) if v == int(v) and abs(v) < 1e15 else f"{v:.6f}"
    if type(v).__name__ == "Decimal":
        return _cell(float(v))
    return str(v)


def canonical(pdf) -> list[str]:
    cols = sorted(pdf.columns)
    return sorted("\x1f".join(_cell(v) for v in row)
                  for row in pdf[cols].itertuples(index=False))


def oracle_results(data_dir: str) -> dict[str, list[str]]:
    """Every query's DuckDB oracle result, canonicalized: what each timed
    Spark pass must reproduce."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    expected = {}
    for name in QUERIES:
        expected[name] = canonical(con.execute(REGISTRY[name].oracle).df())
        if not expected[name]:
            raise CheckFailed(f"{name}: empty oracle result makes the check vacuous")
    con.close()
    return expected


def run_pass(spark, data_dir: str, expected: dict[str, list[str]], tracer=None) -> dict:
    """One pass over the suite; raises CheckFailed on any wrong result."""
    times, rows, nbytes, failed = {}, 0, 0, []
    for name in QUERIES:
        t0 = time.perf_counter()
        if tracer:
            with tracer.span(f"queries.{name}"):
                pdf = REGISTRY[name].fn(spark, data_dir).toPandas()
            tracer.count(f"queries.{name}_rows", len(pdf))
        else:
            pdf = REGISTRY[name].fn(spark, data_dir).toPandas()
        times[name] = time.perf_counter() - t0
        got = canonical(pdf)
        if got != expected[name]:
            failed.append(name)
        rows += len(got)
        nbytes += sum(len(r.encode()) for r in got)
    if failed:
        raise CheckFailed(f"results differ from the oracle: {failed}")
    return {"wall": sum(times.values()), "steps": times, "docs": rows, "out_bytes": nbytes}
