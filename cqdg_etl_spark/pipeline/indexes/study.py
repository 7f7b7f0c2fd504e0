"""Study index: one nested document per study
(reference: indexes/StudyIndex.scala:21-103).

study → donors[] (with diagnoses/phenotypes), files[] (with biospecimen),
summary {data_category[], experimental_strategy[],
clinical_data_available[]}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cqdg_etl_spark.pipeline.indexes import summary as S
from cqdg_etl_spark.pipeline.indexes.common import file_size


def build_study_index(study: DataFrame, data: dict[str, DataFrame]) -> DataFrame:
    donor = data["donor"]
    dx = data["diagnosisPerDonorAndStudy"]
    phen = data["phenotypesPerStudyIdAndDonor"]
    bio = data["biospecimenWithSamples"]
    file = data["file"]

    donor_payload_cols = [
        c for c in donor.columns if c not in ("study_id", "submitter_family_id")
    ]
    donors_group = (
        donor.join(dx, ["study_id", "submitter_donor_id"], "left")
        .join(phen, ["study_id", "submitter_donor_id"], "left")
        .groupBy("study_id")
        .agg(
            F.collect_list(
                F.struct(
                    *donor_payload_cols,
                    "diagnoses",
                    "mondo",
                    "icd",
                    "observed_phenotype_tagged",
                    "not_observed_phenotype_tagged",
                )
            ).alias("donors")
        )
    )

    file_payload_cols = [
        c
        for c in file.columns
        if c not in ("study_id", "submitter_biospecimen_id", "file_name")
    ]
    files_group = (
        file.withColumn("file_size", file_size(F.col("file_name")))
        .join(
            bio.withColumnRenamed("submitter_biospecimen_id", "_bio_id"),
            F.col("submitter_biospecimen_id") == F.col("_bio_id"),
            "left",
        )
        .groupBy("study_id")
        .agg(
            F.collect_list(
                F.struct(*file_payload_cols, "file_size", "biospecimen")
            ).alias("files")
        )
    )

    return (
        study.join(donors_group, ["study_id"], "left")
        .join(files_group, ["study_id"], "left")
        .join(S.study_summary(donor, file, data), ["study_id"], "left")
    )
