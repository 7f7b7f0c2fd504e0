"""Sink connectors (SURVEY.md §2.1, S6-S7).

- S6 parquet sink, overwrite per dataset
  (reference: processes/processes.scala:21-39).
- S7 partitioned JSON sink for the index documents — partition columns
  enable downstream partition pruning
  (reference: processes/ProcessETLConfig.scala:36-38).

The reference's single-file ``coalesce(1)`` CSV/JSON sinks (S8/S9,
processes/processes.scala:28-30) are not kept: the job writes no such
output.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str, partition_by: Sequence[str] = ()) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_partitioned_json(df: DataFrame, path: str, partition_by: Sequence[str]) -> None:
    """Index-document sink: JSON partitioned by release/study columns."""
    df.write.partitionBy(*partition_by).mode("overwrite").json(path)


def write_range_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    num_files: int | None = None,
) -> None:
    """Write parquet range-partitioned AND sorted on ``sort_cols``.

    ``repartitionByRange`` gives each output file a disjoint key range;
    ``sortWithinPartitions`` orders rows inside each file. The result:
    parquet row-group min/max statistics become tight and
    non-overlapping, so a point/range predicate on the sort key prunes
    to a handful of row groups at scan time — the cheap, format-native
    alternative to an index, and the layout that makes a 100 TB table
    selectively readable. (Verified by reading footer statistics in
    tests/test_sources_roundtrip.py.)
    """
    cols = list(sort_cols)
    parted = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    parted.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def write_parquet_observed(
    df: DataFrame,
    path: str,
    metrics: dict[str, "object"] | None = None,
    name: str = "write_metrics",
) -> dict[str, object]:
    """Parquet sink with SINGLE-PASS data-quality metrics: attaches
    ``df.observe(...)`` so row counts / null counts / sums are
    collected by accumulators DURING the write — no second scan of the
    input, which at 100 TB is the difference between "audited" and
    "unaffordable to audit". Returns {metric_name: value}.

    ``metrics`` maps output names to aggregate Columns (default: row
    count). Observation aggregates must be accumulator-friendly
    (count/sum/min/max — no distinct), which is exactly the audit-row
    contract.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if metrics is None:
        metrics = {"n_rows": F.count(F.lit(1))}
    obs = Observation(name)
    observed = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
    observed.write.mode("overwrite").parquet(path)
    return dict(obs.get)
