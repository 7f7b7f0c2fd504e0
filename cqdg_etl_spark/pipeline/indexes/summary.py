"""Per-study / per-donor availability summaries
(reference: indexes/Summary.scala).

Each output aggregates one narrow frame where the reference chains
full-outer joins:

- The 7 clinical frames are merged by a union-all. The reference chains
  full-outer joins on ``(study, donor, key, available)`` per donor and
  ``(study, key, donors)`` per study, but ``key`` is a different literal
  in each frame, so no two rows ever match: the chain is a union.
- Per donor, a frame is available when one of its rows for the donor has
  no NULL column: the reference's ``COUNT(DISTINCT *)`` rule, since a
  multi-column COUNT DISTINCT skips any row holding a NULL
  (Summary.scala:142-144).
- Per field value, distinct counts are left-joined onto each
  ``(study[, donor]) × value`` with a 0 default, instead of a full join
  and a distinct count over NULL-padded rows (Summary.scala:30-88).

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


def prepare_summary_frames(
    donor: DataFrame, file: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(donor⋈file, studies with files, their (study, donor) pairs)."""
    donor_per_file = donor.join(file, KEYS)
    studies = donor_per_file.select("study_id").distinct()
    combos = donor.select(*KEYS).distinct().join(studies, "study_id", "left_semi")
    return donor_per_file, studies, combos


def _by_field(
    donor_per_file: DataFrame, combos: DataFrame, field: str, counts: dict[str, str]
) -> DataFrame:
    """Per combo, nested [{key, <count>...}] over every non-null value of
    ``field``; each count is a distinct count, 0 where no row matches."""
    keys = combos.columns
    domain = donor_per_file.select(field).distinct().filter(F.col(field).isNotNull())
    observed = donor_per_file.groupBy(*keys, field).agg(
        *[F.countDistinct(col).alias(name) for name, col in counts.items()]
    )
    zeros = [F.coalesce(name, F.lit(0)).alias(name) for name in counts]
    return (
        combos.crossJoin(F.broadcast(domain))
        .join(observed, [*keys, field], "left")
        .groupBy(*keys)
        .agg(F.collect_list(F.struct(F.col(field).alias("key"), *zeros)).alias(field))
    )


def donors_and_files_by_field(
    donor_per_file: DataFrame, studies: DataFrame, field: str
) -> DataFrame:
    """Per-study [{key, donors, files}] (reference: Summary.scala:30-59)."""
    counts = {"donors": "submitter_donor_id", "files": "file_name"}
    return _by_field(donor_per_file, studies, field, counts)


def files_by_field(
    donor_per_file: DataFrame, combos: DataFrame, field: str
) -> DataFrame:
    """Per-(study, donor) [{key, files}] (reference: Summary.scala:61-88)."""
    return _by_field(donor_per_file, combos, field, {"files": "file_name"})


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


def clinical_data_available(frames: dict[str, DataFrame]) -> DataFrame:
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


def clinical_data_available_per_donor(
    combos: DataFrame, frames: dict[str, DataFrame]
) -> DataFrame:
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
    return combos.join(available, KEYS).select(
        *KEYS,
        F.array(*flags).alias("clinical_data_available"),
        F.transform("keys", lambda k: F.struct(k.alias("key"))).alias(
            "clinical_data_available_only"
        ),
    )
