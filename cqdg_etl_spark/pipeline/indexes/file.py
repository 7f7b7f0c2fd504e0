"""File index: one nested document per file
(reference: indexes/FileIndex.scala:19-77)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cqdg_etl_spark.functions.columns import not_null_col
from cqdg_etl_spark.pipeline.indexes.common import file_size, with_release_columns


def build_file_index(study: DataFrame, data: dict[str, DataFrame]) -> DataFrame:
    donor = data["donor"]
    dx = data["diagnosisPerDonorAndStudy"]
    phen = data["phenotypesPerStudyIdAndDonor"]
    bio = data["biospecimenWithSamples"]
    file = data["file"]

    donor_cols = donor.columns
    file_donors = (
        file.alias("file")
        .join(
            donor.alias("donor"),
            F.col("file.submitter_donor_id") == F.col("donor.submitter_donor_id"),
        )
        .groupBy(F.col("file.study_id").alias("study_id"), F.col("file.file_name").alias("file_name"))
        .agg(
            F.collect_list(
                F.struct(*[F.col(f"donor.{c}") for c in donor_cols])
            ).alias("donors")
        )
    )

    study_cols = study.columns
    file_with_study = (
        file.alias("file")
        .join(study.alias("study"), F.col("file.study_id") == F.col("study.study_id"))
        .select(
            F.col("file.file_name").alias("file_name_keyword"),
            F.col("file.file_name").alias("file_name_ngrams"),
            "file.*",
            file_size(F.col("file.file_name")),
            F.array(F.struct(*[F.col(f"study.{c}") for c in study_cols])).alias(
                "study"
            ),
            not_null_col(F.col("variant_class")).alias("file_variant_class"),
        )
        .drop("variant_class")
    )

    fws = file_with_study.alias("fws")
    return (
        fws.join(
            dx.alias("dxg"),
            (F.col("fws.study_id") == F.col("dxg.study_id"))
            & (F.col("fws.submitter_donor_id") == F.col("dxg.submitter_donor_id")),
            "left",
        )
        .join(
            phen.alias("phg"),
            (F.col("fws.study_id") == F.col("phg.study_id"))
            & (F.col("fws.submitter_donor_id") == F.col("phg.submitter_donor_id")),
            "left",
        )
        .join(
            file_donors.alias("fd"),
            (F.col("fws.study_id") == F.col("fd.study_id"))
            & (F.col("fws.file_name") == F.col("fd.file_name")),
        )
        .join(
            bio.alias("bws"),
            F.col("fws.submitter_biospecimen_id")
            == F.col("bws.submitter_biospecimen_id"),
            "left",
        )
        .select(
            "fws.*",
            F.col("fd.donors").alias("donors"),
            "mondo",
            F.col("bws.biospecimen").alias("biospecimen"),
            "diagnoses",
            "observed_phenotype_tagged",
            "not_observed_phenotype_tagged",
            "observed_phenotypes",
            "non_observed_phenotypes",
        )
        .drop(
            "submitter_donor_id",
            "submitter_biospecimen_id",
            "file_name_keyword",
            "file_name_ngrams",
            "file_name",
        )
        .transform(with_release_columns)
    )
