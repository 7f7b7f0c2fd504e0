"""Entity grouping/denormalization (reference: ProcessETLUtils.scala:20-475).

Builds the 10 shared intermediate frames consumed by the three index
builders. Donor, diagnoses, phenotypes and biospecimens are pattern A1
(groupBy + collect_list(struct)) with the reference's column
in/exclusions kept verbatim. The five summary-only frames are key
projections: the reference nests each entity per (study, donor)
(ProcessETLUtils.scala:427-436), but only the availability summary reads
them, and it needs nothing but the keys (see ``summary._clinical_rows``).

The ontology frames differ from the reference on purpose: HPO is enriched
once for both observed and not-observed phenotypes, and each diagnosis is
tagged with its MONDO and ICD terms on its own row instead of joining the
tagged terms back by diagnosis key (see ``build_diagnoses`` for what that
changes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cqdg_etl_spark.functions.columns import age_at_recruitment, not_null_col
from cqdg_etl_spark.pipeline.ontology import (
    KEYS,
    add_ancestors_to_term,
    phenotype_observed_bool,
    split_icd_chapter,
    tag_terms,
)


def _struct_except(df: DataFrame, exclude: list[str]) -> F.Column:
    return F.struct(*[c for c in df.columns if c not in exclude])


def load_donors(
    donor: DataFrame,
    family_relationship: DataFrame,
    family_history: DataFrame,
    exposure: DataFrame,
) -> DataFrame:
    """(reference: ProcessETLUtils.scala:187-231)

    Donor enriched with nested familyRelationships / familyConditions /
    exposures arrays plus gender/ethnicity null-defaults and the
    age_at_recruitment derivation.
    """
    fam_rel = (
        donor.select("submitter_donor_id")
        .join(family_relationship, ["submitter_donor_id"], "left")
        .groupBy(F.col("submitter_donor_id").alias("_join_donor"))
        .agg(
            F.collect_list(
                _struct_except(family_relationship, ["study_id", "gender", "is_a_proband"])
            ).alias("familyRelationships")
        )
    )
    fam_hist = (
        donor.select("submitter_donor_id")
        .join(family_history, ["submitter_donor_id"])
        .groupBy(F.col("submitter_donor_id").alias("_join_donor"))
        .agg(
            F.collect_list(
                _struct_except(family_history, ["study_id", "submitter_donor_id"])
            ).alias("familyConditions")
        )
    )
    expo = (
        donor.select("submitter_donor_id")
        .join(exposure, ["submitter_donor_id"])
        .groupBy(F.col("submitter_donor_id").alias("_join_donor"))
        .agg(
            F.collect_list(
                _struct_except(exposure, ["study_id", "submitter_donor_id"])
            ).alias("exposures")
        )
    )
    return (
        donor.join(fam_rel, donor.submitter_donor_id == fam_rel._join_donor, "left")
        .drop("_join_donor")
        .join(fam_hist, donor.submitter_donor_id == fam_hist._join_donor, "left")
        .drop("_join_donor")
        .join(expo, donor.submitter_donor_id == expo._join_donor, "left")
        .drop("_join_donor")
        .withColumn("gender", not_null_col(F.col("gender")))
        .withColumn("ethnicity", not_null_col(F.col("ethnicity")))
        .withColumn(
            "age_at_recruitment",
            age_at_recruitment(F.col("dob"), F.col("date_of_recruitment")),
        )
    )


def load_diagnoses(
    diagnosis: DataFrame, treatment: DataFrame, follow_up: DataFrame
) -> DataFrame:
    """Diagnoses nested with their treatments and follow-ups, grouped per
    (donor, study) (reference: ProcessETLUtils.scala:347-404)."""
    tx_per_dx = (
        diagnosis.select("submitter_diagnosis_id")
        .join(treatment, ["submitter_diagnosis_id"])
        .groupBy("submitter_diagnosis_id")
        .agg(
            F.collect_list(
                _struct_except(
                    treatment,
                    ["study_id", "submitter_donor_id", "submitter_diagnosis_id"],
                )
            ).alias("treatments")
        )
    )
    fu_per_dx = (
        diagnosis.select("submitter_diagnosis_id")
        .join(follow_up, ["submitter_diagnosis_id"])
        .groupBy("submitter_diagnosis_id")
        .agg(
            F.collect_list(
                _struct_except(
                    follow_up,
                    ["study_id", "submitter_donor_id", "submitter_diagnosis_id"],
                )
            ).alias("follow_ups")
        )
    )
    dx_full = diagnosis.join(tx_per_dx, ["submitter_diagnosis_id"], "left").join(
        fu_per_dx, ["submitter_diagnosis_id"], "left"
    )
    return dx_full.groupBy("submitter_donor_id", "study_id").agg(
        F.collect_list(
            _struct_except(dx_full, ["study_id", "submitter_donor_id"])
        ).alias("diagnoses")
    )


def load_biospecimens(biospecimen: DataFrame, samples: DataFrame) -> DataFrame:
    """Biospecimen + nested samples, grouped per biospecimen id
    (reference: ProcessETLUtils.scala:438-475)."""
    bio = (
        biospecimen.select(
            "*",
            F.col("biospecimen_tissue_source").alias("tissue_source"),
            F.col("biospecimen_type").alias("type"),
            F.col("biospecimen_anatomic_location").alias("anatomic_location"),
        )
        .drop(
            "biospecimen_tissue_source",
            "biospecimen_type",
            "biospecimen_anatomic_location",
            "study_id",
            "submitter_donor_id",
        )
    )
    samples_per_bio = (
        bio.select("submitter_biospecimen_id")
        .join(samples, ["submitter_biospecimen_id"])
        .groupBy("submitter_biospecimen_id")
        .agg(
            F.collect_list(
                _struct_except(
                    samples,
                    ["study_id", "submitter_donor_id", "submitter_biospecimen_id"],
                )
            ).alias("samples")
        )
    )
    joined = bio.join(samples_per_bio, ["submitter_biospecimen_id"])
    bio_payload = F.struct(
        *[c for c in bio.columns if c != "submitter_biospecimen_id"], "samples"
    )
    return joined.groupBy("submitter_biospecimen_id").agg(
        F.collect_list(bio_payload).alias("biospecimen")
    )


def _tagged_phenotype_struct(observed: bool) -> F.Column:
    """Struct orders differ between observed / not-observed in the
    reference (ProcessETLUtils.scala:70-99) — kept verbatim."""
    common = [
        F.col("id").alias("phenotype_id"),
        F.col("name"),
        F.col("parents"),
        F.col("display_name"),
    ]
    if observed:
        fields = common + [
            F.col("main_category"),
            F.col("is_leaf"),
            F.col("is_tagged"),
            F.col("internal_phenotype_id"),
            F.array("age_at_event").alias("age_at_event"),
        ]
    else:
        fields = common + [
            F.col("is_leaf"),
            F.col("is_tagged"),
            F.col("internal_phenotype_id"),
            F.array("age_at_event").alias("age_at_event"),
            F.col("main_category"),
        ]
    return F.struct(*fields)


def _half(value: F.Column, observed: bool) -> F.Column:
    """The ``value``s of one phenotype half; NULL, not [], when the half
    has none, as the reference's left join of that half gives."""
    kept = F.collect_list(F.when(F.col("phenotype_observed_bool") == observed, value))
    return F.when(F.size(kept) > 0, kept)


def build_phenotypes(phenotype: DataFrame, hpo_terms: DataFrame) -> DataFrame:
    """Observed + non-observed phenotype enrichment per (study, donor)
    (reference: ProcessETLUtils.scala:41-106).

    The reference enriches each half on its own and joins four per-donor
    pieces. Here HPO is enriched once, grouped by the observed flag as well,
    and each half is split out of one groupBy for the tagged rows and one
    for the grouped ancestors: the distinct (study, donor) base plus two
    left joins.
    """
    clean = (
        phenotype.withColumnRenamed("age_at_phenotype", "age_at_event")
        .select("*", phenotype_observed_bool())
        .drop("phenotype_observed")
    )
    hpo = add_ancestors_to_term(
        "phenotype_HPO_code",
        "phenotypes",
        "internal_phenotype_id",
        clean,
        hpo_terms,
        keys=[*KEYS, "phenotype_observed_bool"],
    )
    tagged = hpo.tagged.groupBy(*KEYS).agg(
        _half(_tagged_phenotype_struct(True), True).alias("observed_phenotype_tagged"),
        _half(_tagged_phenotype_struct(False), False).alias("not_observed_phenotype_tagged"),
    )
    grouped = hpo.grouped.groupBy(*KEYS).agg(
        F.flatten(_half(F.col("phenotypes"), True)).alias("observed_phenotypes"),
        F.flatten(_half(F.col("phenotypes"), False)).alias("non_observed_phenotypes"),
    )
    return (
        clean.select(*KEYS)
        .distinct()
        .join(tagged, KEYS, "left")
        .join(grouped, KEYS, "left")
    )


def _tagged_diagnosis_struct(alias: str) -> F.Column:
    """tagged_mondo / tagged_icd payload from the tagged term in ``alias``
    (reference: ProcessETLUtils.scala:134-162). On a miss every term field
    is NULL and age_at_event is [null], as the reference's left join gives."""
    term = F.col(alias)
    fields = ["name", "parents", "display_name", "main_category"]
    return F.struct(
        term["id"].alias("phenotype_id"),
        *[term[f].alias(f) for f in fields],
        F.array(F.when(term.isNotNull(), F.col("age_at_diagnosis"))).alias("age_at_event"),
        term["is_leaf"].alias("is_leaf"),
        term["is_tagged"].alias("is_tagged"),
        F.col("internal_diagnosis_id"),
    )


def build_diagnoses(
    diagnosis: DataFrame,
    treatment: DataFrame,
    follow_up: DataFrame,
    mondo_terms: DataFrame,
    icd_terms: DataFrame,
) -> DataFrame:
    """Diagnoses tagged with MONDO + ICD ontologies, nested with
    treatments/follow-ups, plus the per-donor mondo/icd ancestor arrays
    (reference: ProcessETLUtils.scala:108-173).

    Each diagnosis is tagged on its own row, where the reference joins the
    tagged terms back by (study, donor, submitter_diagnosis_id). This
    diverges on purpose: there, a row whose key is duplicated multiplies
    and a row with a NULL key loses its tags; here neither happens.
    """
    icd_terms = split_icd_chapter(icd_terms)
    dx_aged = diagnosis.withColumnRenamed("age_at_diagnosis", "age_at_event")
    mondo = add_ancestors_to_term(
        "diagnosis_mondo_code", "mondo", "internal_diagnosis_id", dx_aged, mondo_terms
    )
    icd = add_ancestors_to_term(
        "diagnosis_ICD_code", "icd", "internal_diagnosis_id", dx_aged, icd_terms
    )
    tagged = tag_terms(
        "diagnosis_ICD_code",
        tag_terms("diagnosis_mondo_code", diagnosis, mondo_terms, "tagged_mondo"),
        icd_terms,
        "tagged_icd",
    )
    for alias in ("tagged_mondo", "tagged_icd"):
        tagged = tagged.withColumn(alias, _tagged_diagnosis_struct(alias))
    return (
        load_diagnoses(tagged, treatment, follow_up)
        .join(mondo.grouped, KEYS, "left")
        .join(icd.grouped, KEYS, "left")
    )


def load_all(
    entities: dict[str, DataFrame], ontologies: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """The 10 shared intermediate frames
    (reference: ProcessETLUtils.scala:20-184). Keys match the
    reference's inputData map (ProcessETL.scala:98-108)."""
    donor = load_donors(
        entities["donor"], entities["family"], entities["family-history"], entities["exposure"]
    )
    phenotypes = build_phenotypes(entities["phenotype"], ontologies["hpo"])
    diagnoses = build_diagnoses(
        entities["diagnosis"],
        entities["treatment"],
        entities["follow-up"],
        ontologies["mondo"],
        ontologies["icd"],
    )
    return {
        "donor": donor,
        "diagnosisPerDonorAndStudy": diagnoses,
        "phenotypesPerStudyIdAndDonor": phenotypes,
        "biospecimenWithSamples": load_biospecimens(
            entities["biospecimen"], entities["sample_registration"]
        ),
        "file": entities["file"],
        # Summary-only frames: their keys are all the summary reads.
        "treatmentsPerDonorAndStudy": entities["treatment"].select(*KEYS),
        "exposuresPerDonorAndStudy": entities["exposure"].select(*KEYS),
        "followUpsPerDonorAndStudy": entities["follow-up"].select(*KEYS),
        "familyHistoryPerDonorAndStudy": entities["family-history"].select(*KEYS),
        "familyRelationshipPerDonorAndStudy": entities["family"].select(*KEYS),
    }
