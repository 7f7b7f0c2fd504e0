"""Per-study / per-donor availability summaries
(reference: indexes/Summary.scala). ``study_summary`` and
``donor_summary`` return each key with its finished ``summary`` struct.

Each part aggregates one narrow frame where the reference chains joins:

- The 7 clinical frames are merged by a union-all. The reference chains
  full-outer joins on ``(study, donor, key, available)`` per donor and
  ``(study, key, donors)`` per study, but ``key`` is a different literal
  in each frame, so no two rows ever match: the chain is a union.
- Per donor, a frame is available when one of its rows for the donor has
  no NULL column: the reference's ``COUNT(DISTINCT *)`` rule, since a
  multi-column COUNT DISTINCT skips any row holding a NULL
  (Summary.scala:142-144).
- The reference builds the ``data_category`` and ``experimental_strategy``
  arrays in two passes and inner-joins them (Summary.scala:30-88). Here
  the ``donor ⋈ file`` rows are unpivoted to ``(field, value)``, counted
  once per ``(keys, field, value)``, left-joined onto ``keys × domain``
  with a 0 default, and split into the two arrays by one ``groupBy``.
  The inner join is kept as a filter on both arrays being non-empty: when
  either field has no non-NULL value anywhere, no key gets a summary.

Deliberate divergence (Summary.scala:11-28): the per-donor combinations
are the donor table's real ``(study, donor)`` pairs in studies with
files, not all studies × all donors. The donor index left-joins its
summary on those pairs, so any other combination was built to be dropped.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KEYS = ["study_id", "submitter_donor_id"]
FIELDS = ("data_category", "experimental_strategy")


def _prepare_summary_frames(
    donor: DataFrame, file: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(donor⋈file, studies with files)."""
    donor_per_file = donor.join(file, KEYS)
    return donor_per_file, donor_per_file.select("study_id").distinct()


def _by_fields(
    donor_per_file: DataFrame, combos: DataFrame, counts: dict[str, str]
) -> DataFrame:
    """Per combo, one nested [{key, <count>...}] per field of ``FIELDS``
    over its every non-NULL value; each count is a distinct count, 0 where
    no row matches. Combos with an empty array are left out."""
    keys = combos.columns
    values = donor_per_file.unpivot(
        [*KEYS, "file_name"], list(FIELDS), "field", "value"
    ).filter(F.col("value").isNotNull())
    domain = values.select("field", "value").distinct()
    observed = values.groupBy(*keys, "field", "value").agg(
        *[F.countDistinct(col).alias(name) for name, col in counts.items()]
    )
    zeros = [F.coalesce(name, F.lit(0)).alias(name) for name in counts]
    entry = F.struct(F.col("value").alias("key"), *zeros)
    return (
        combos.crossJoin(F.broadcast(domain))
        .join(observed, [*keys, "field", "value"], "left")
        .groupBy(*keys)
        .agg(
            *[F.collect_list(F.when(F.col("field") == f, entry)).alias(f) for f in FIELDS]
        )
        .filter(reduce(and_, [F.size(f) > 0 for f in FIELDS]))
    )


# The 7 clinical frames summarized, in the reference's order
# (Summary.scala:105-111): (inputData key, summary key name)
CLINICAL_FRAMES = [
    ("diagnosisPerDonorAndStudy", "diagnosis"),
    ("phenotypesPerStudyIdAndDonor", "phenotype"),
    ("treatmentsPerDonorAndStudy", "treatment"),
    ("exposuresPerDonorAndStudy", "exposure"),
    ("followUpsPerDonorAndStudy", "follow_up"),
    ("familyHistoryPerDonorAndStudy", "family_history"),
    ("familyRelationshipPerDonorAndStudy", "family"),
]


def _clinical_rows(frames: dict[str, DataFrame]) -> DataFrame:
    """Union of the 7 frames as (study, donor, key, complete): ``key`` names
    the frame, ``complete`` is true when the row has no NULL column.

    The five summary-only frames are the entities' ``(study, donor)`` key
    projections, where the reference groups each entity into one row per
    pair with a ``collect_list`` payload. A ``collect_list`` array is never
    NULL, so there ``complete`` already meant both keys are non-NULL, as it
    does on the projection. The projection keeps duplicate pairs, which
    ``countDistinct`` and ``collect_set`` below ignore."""

    def rows(df: DataFrame, name: str) -> DataFrame:
        complete = reduce(and_, [F.col(c).isNotNull() for c in df.columns])
        return df.select(*KEYS, F.lit(name).alias("key"), complete.alias("complete"))

    return reduce(DataFrame.union, [rows(frames[k], n) for k, n in CLINICAL_FRAMES])


def _clinical_data_available(frames: dict[str, DataFrame]) -> DataFrame:
    """Per-study [{key, donors}]: for each clinical frame with rows in the
    study, its distinct donors (reference: Summary.scala:90-131)."""
    return (
        _clinical_rows(frames)
        .groupBy("study_id", "key")
        .agg(F.countDistinct("submitter_donor_id").alias("donors"))
        .groupBy("study_id")
        .agg(
            F.collect_list(F.struct("key", "donors")).alias("clinical_data_available")
        )
    )


def _clinical_data_available_per_donor(frames: dict[str, DataFrame]) -> DataFrame:
    """Per-(study, donor) [{key, available}] over the 7 keys, and the
    available-only [{key}] (reference: Summary.scala:134-196). The
    reference inner-joins the available-only list into the summary, so a
    donor with no available key has no row here, hence a null summary."""
    available = (
        _clinical_rows(frames)
        .filter("complete")
        .groupBy(*KEYS)
        .agg(F.collect_set("key").alias("keys"))
    )
    flags = [
        F.struct(F.lit(n).alias("key"), F.array_contains("keys", n).alias("available"))
        for _, n in CLINICAL_FRAMES
    ]
    return available.select(
        *KEYS,
        F.array(*flags).alias("clinical_data_available"),
        F.transform("keys", lambda k: F.struct(k.alias("key"))).alias(
            "clinical_data_available_only"
        ),
    )


def study_summary(
    donor: DataFrame, file: DataFrame, frames: dict[str, DataFrame]
) -> DataFrame:
    """Per study with files, ``summary`` {data_category[],
    experimental_strategy[], clinical_data_available[]}
    (reference: Summary.scala:30-59, 90-131)."""
    donor_per_file, studies = _prepare_summary_frames(donor, file)
    counts = {"donors": "submitter_donor_id", "files": "file_name"}
    return (
        _by_fields(donor_per_file, studies, counts)
        .join(_clinical_data_available(frames), "study_id")
        .select(
            "study_id",
            F.struct(*FIELDS, "clinical_data_available").alias("summary"),
        )
    )


def donor_summary(
    donor: DataFrame, file: DataFrame, frames: dict[str, DataFrame]
) -> DataFrame:
    """Per (study, donor) of a study with files, ``summary``
    {data_category[], experimental_strategy[], clinical_data_available[],
    clinical_data_available_only[]} (reference: Summary.scala:61-88,
    134-196)."""
    donor_per_file, studies = _prepare_summary_frames(donor, file)
    combos = donor.select(*KEYS).distinct().join(studies, "study_id", "left_semi")
    return (
        _by_fields(donor_per_file, combos, {"files": "file_name"})
        .join(_clinical_data_available_per_donor(frames), KEYS)
        .select(
            *KEYS,
            F.struct(
                *FIELDS, "clinical_data_available", "clinical_data_available_only"
            ).alias("summary"),
        )
    )
