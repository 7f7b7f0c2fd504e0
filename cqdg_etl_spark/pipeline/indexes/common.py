"""Shared index-builder columns."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cqdg_etl_spark.pipeline.models import RELEASE_COLUMNS


def file_size(file_name: Column) -> Column:
    """Deterministic placeholder file size in (1, 25) MB.

    The reference bakes ONE Random.nextDouble() into the plan per run
    (ProcessETLUtils.scala:504-507, TODO acknowledges it's fake) — not
    reproducible, so golden tests can't pin it. We derive the value from
    the file name instead: first 8 sha1 hex chars → uniform [0,1) → same
    distribution, stable everywhere. Documented divergence (SURVEY §7.1).
    """
    frac = F.conv(F.substring(F.sha1(file_name), 1, 8), 16, 10).cast("double") / F.lit(
        float(1 << 32)
    )
    return F.when(file_name.isNotNull(), F.lit(1.0) + 24.0 * frac).alias("file_size")


def with_release_columns(doc: DataFrame) -> DataFrame:
    """``doc`` with the release metadata columns appended last, read from
    the document's one-element ``study`` array (pre-process stamped them
    on the study rows)."""
    return doc.withColumns({c: F.col("study")[0][c] for c in RELEASE_COLUMNS})
