"""Donor index: one nested document per donor
(reference: indexes/DonorIndex.scala:21-113)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cqdg_etl_spark.pipeline.indexes import summary as S
from cqdg_etl_spark.pipeline.indexes.common import file_size, with_release_columns


def build_donor_index(study: DataFrame, data: dict[str, DataFrame]) -> DataFrame:
    donor = data["donor"]
    dx = data["diagnosisPerDonorAndStudy"]
    phen = data["phenotypesPerStudyIdAndDonor"]
    bio = data["biospecimenWithSamples"]
    file = data["file"]

    keys = ["study_id", "submitter_donor_id"]

    file_renamed = (
        file.select(
            "*",
            F.col("file_name").alias("file_name_keyword"),
            F.col("file_name").alias("file_name_ngrams"),
            file_size(F.col("file_name")),
        )
        .withColumnRenamed("variant_class", "file_variant_class")
    )
    file_with_bio = file_renamed.join(bio, ["submitter_biospecimen_id"], "left")
    file_payload_cols = [
        c
        for c in file_with_bio.columns
        if c
        not in (
            "study_id",
            "submitter_donor_id",
            "file_name",
            "file_name_keyword",
            "file_name_ngrams",
        )
    ]
    files_per_donor = file_with_bio.groupBy("submitter_donor_id", "study_id").agg(
        F.collect_list(F.struct(*file_payload_cols)).alias("files_per_donor_per_study")
    )

    study_cols = study.columns
    donor_with_study = (
        donor.alias("donor")
        .join(study.alias("study"), F.col("donor.study_id") == F.col("study.study_id"))
        .select(
            "donor.*",
            F.array(F.struct(*[F.col(f"study.{c}") for c in study_cols])).alias(
                "study"
            ),
            F.col("familyConditions").alias("familyHistory"),
        )
    )

    return (
        donor_with_study.join(dx, keys, "left")
        .join(phen, keys, "left")
        .join(files_per_donor, keys, "left")
        .join(S.donor_summary(donor, file, data), keys, "left")
        .select(
            *[
                F.col(c)
                for c in donor_with_study.columns
            ],
            "diagnoses",
            "mondo",
            "icd",
            "observed_phenotype_tagged",
            "not_observed_phenotype_tagged",
            "observed_phenotypes",
            "non_observed_phenotypes",
            F.col("files_per_donor_per_study").alias("files"),
            "summary",
        )
        .transform(with_release_columns)
    )
