"""Parquet sink properties: range-sorted files with disjoint footer
statistics, single-pass metrics observed during a write, and a
``mergeSchema`` read across batches whose schemas differ."""

from __future__ import annotations

import tempfile


def test_range_sorted_parquet_rowgroup_stats(spark, sf_dir, tmp_path):
    """Range-sorted layout: per-file key ranges are disjoint and footer
    min/max stats are tight — the property scan pruning relies on."""
    import glob

    import pyarrow.parquet as pq

    from cqdg_etl_spark.queries.registry import load
    from cqdg_etl_spark.sources.writers import write_range_sorted_parquet

    orders = load(spark, sf_dir, "orders")
    target = str(tmp_path / "orders_sorted")
    write_range_sorted_parquet(orders, target, ["o_orderdate"], num_files=4)

    spans = []
    for f in glob.glob(f"{target}/*.parquet"):
        meta = pq.ParquetFile(f).metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        col = idx["o_orderdate"]
        lo = min(
            meta.row_group(g).column(col).statistics.min
            for g in range(meta.num_row_groups)
        )
        hi = max(
            meta.row_group(g).column(col).statistics.max
            for g in range(meta.num_row_groups)
        )
        spans.append((lo, hi))
    spans.sort()
    assert len(spans) >= 2
    for (_, prev_hi), (nxt_lo, _) in zip(spans, spans[1:]):
        assert prev_hi <= nxt_lo  # disjoint file ranges

    # content survives the rewrite
    assert spark.read.parquet(target).count() == orders.count()


def test_observed_write_single_pass_metrics(spark, sf_dir):
    """df.observe collects audit metrics during the write itself; the
    values must equal a direct aggregation of the same input."""
    from pyspark.sql import functions as F

    from cqdg_etl_spark.sources.writers import write_parquet_observed

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with tempfile.TemporaryDirectory() as d:
        got = write_parquet_observed(
            src,
            f"{d}/audited",
            {
                "n_rows": F.count(F.lit(1)),
                "n_null_priority": F.sum(
                    F.col("o_orderpriority").isNull().cast("long")
                ),
                "max_total": F.max("o_totalprice"),
            },
        )
        expect = src.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_orderpriority").isNull().cast("long")).alias(
                "n_null_priority"
            ),
            F.max("o_totalprice").alias("max_total"),
        ).first()
        assert got["n_rows"] == expect["n_rows"]
        assert got["n_null_priority"] == expect["n_null_priority"]
        assert got["max_total"] == expect["max_total"]
        assert spark.read.parquet(f"{d}/audited").count() == got["n_rows"]


def test_merge_schema_evolution(spark, sf_dir):
    """Long-lived tables evolve: batch 2 adds a column; a mergeSchema
    read unifies both batches with nulls for the missing column."""
    from pyspark.sql import functions as F

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    with tempfile.TemporaryDirectory() as d:
        nation.write.parquet(f"{d}/t/batch=1")
        nation.withColumn("ingest_tag", F.lit("v2")).write.parquet(
            f"{d}/t/batch=2"
        )
        merged = spark.read.option("mergeSchema", True).parquet(f"{d}/t")
        assert "ingest_tag" in merged.columns
        assert merged.count() == 2 * nation.count()
        assert (
            merged.filter(F.col("ingest_tag").isNull()).count()
            == nation.count()
        )
