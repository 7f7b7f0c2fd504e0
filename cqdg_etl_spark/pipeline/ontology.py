"""Ontology term enrichment (reference: ProcessETLUtils.scala:108-340).

Given an entity frame carrying an ontology code column (HPO / MONDO /
ICD-10) and the ontology term table
``{id, name, parents: array<string>, ancestors: array<struct>, is_leaf}``,
produce:

1. ``grouped``: per (study, donor) the union of tagged terms and all
   their exploded ancestors, each with its normalized age_at_event array
   — nested as array<struct> (the donor-document "mondo"/"icd"/
   "observed_phenotypes" fields);
2. ``tagged``: the directly-tagged terms with their main category
   (the first ancestor, in array order, that an ontology-specific
   predicate selects), computed on the row without an explode or join.

Scale: the term table (ontologies are ≤ ~100k rows) is broadcast; the
only shuffles are the two groupBys keyed on (study, donor[, term]).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cqdg_etl_spark.functions.columns import display_name

ICD_BLOCK_RE = "^[A-Z][0-9]{2}-[A-Z][0-9]{2}"


def main_category_predicate(code_col: str) -> tuple[Callable[[Column], Column], str]:
    """Ontology-specific root-category rule over one ancestor struct +
    owning entity type (reference: ProcessETLUtils.scala:240-248)."""
    if code_col == "phenotype_HPO_code":
        return (
            lambda a: F.array_contains(a["parents"], "Phenotypic abnormality (HP:0000118)"),
            "phenotype",
        )
    if code_col == "diagnosis_mondo_code":
        return (
            lambda a: F.array_contains(a["parents"], "disease or disorder (MONDO:0000001)"),
            "diagnosis",
        )
    return (lambda a: a["id"].rlike(ICD_BLOCK_RE), "diagnosis")


def split_icd_chapter(icd_terms: DataFrame) -> DataFrame:
    """ICD ids carry a '|chapter' suffix ('A00.0|1'); split it
    (reference: ProcessETLUtils.scala:114-120)."""
    regex = r"^(.*)\|([1-9]*)"
    return (
        icd_terms.withColumn("id_extract", F.regexp_extract("id", regex, 1))
        .withColumn("chapter", F.regexp_extract("id", regex, 2))
        .drop("id")
        .withColumnRenamed("id_extract", "id")
    )


PHENOTYPE_TRUTHY = ["YES", "Yes", "yes", "TRUE", "True", "true", "Y", "y", "1"]


def phenotype_observed_bool() -> Column:
    """Truthy-string → boolean (reference: ProcessETLUtils.scala:342-345)."""
    return (
        F.when(F.col("phenotype_observed").cast("string").isin(PHENOTYPE_TRUTHY), F.lit(True))
        .otherwise(F.lit(False))
        .alias("phenotype_observed_bool")
    )


@dataclass
class EnrichedTerms:
    grouped: DataFrame  # (study_id, submitter_donor_id, <term_name>: array<struct>)
    tagged: DataFrame  # tagged terms + main_category string


def add_ancestors_to_term(
    code_col: str,
    term_name: str,
    internal_id_col: str,
    data: DataFrame,
    terms: DataFrame,
) -> EnrichedTerms:
    """(reference: ProcessETLUtils.scala:233-340)

    ``data`` must carry study_id, submitter_donor_id, submitter_<type>_id,
    age_at_event, <code_col>, <internal_id_col>.
    """
    condition, etype = main_category_predicate(code_col)
    sub_id = f"submitter_{etype}_id"

    joined = data.join(F.broadcast(terms), data[code_col] == terms["id"], "left_outer")

    # Main category: the first ancestor, in array order, that satisfies the
    # ontology's rule (reference: ProcessETLUtils.scala:406-425, which
    # explodes, filters and takes first() per tagged term). try_element_at
    # gives NULL, not an error, when no ancestor qualifies. Unlike the
    # reference's equi-join back on (study, donor, submitter id, term), a
    # row with a NULL key keeps its main category.
    main = F.try_element_at(F.filter("ancestors", condition), F.lit(1))
    tagged = (
        joined.select(
            "study_id",
            sub_id,
            "submitter_donor_id",
            "id",
            "name",
            display_name(F.col("name"), F.col("id")).alias("display_name"),
            "parents",
            "age_at_event",
            internal_id_col,
            "is_leaf",
            F.lit(True).alias("is_tagged"),
            F.concat(main["name"], F.lit(" ("), main["id"], F.lit(")")).alias(
                "main_category"
            ),
        )
        .filter(F.col("id").isNotNull())
    )

    ancestors = (
        joined.select(
            "study_id",
            "submitter_donor_id",
            "age_at_event",
            internal_id_col,
            F.col("id").alias("_term_id"),
            F.explode_outer("ancestors").alias("anc"),
        )
        .filter(F.col("_term_id").isNotNull())
        .select(
            "study_id",
            "submitter_donor_id",
            F.col("anc.id").alias("id"),
            F.col("anc.name").alias("name"),
            display_name(F.col("anc.name"), F.col("anc.id")).alias("display_name"),
            F.col("anc.parents").alias("parents"),
            "age_at_event",
            internal_id_col,
        )
        .withColumn("is_leaf", F.lit(False))
        .withColumn("is_tagged", F.lit(False))
    )

    combined = tagged.drop(sub_id, "main_category").unionByName(ancestors)

    # Normalize ages per distinct term: collect, flatten, sort, dedupe
    # (reference: ProcessETLUtils.scala:299-318 pattern A7).
    per_term = (
        combined.groupBy(
            "study_id",
            "submitter_donor_id",
            "id",
            "name",
            "display_name",
            "parents",
            "is_leaf",
            "is_tagged",
            internal_id_col,
        )
        .agg(F.collect_list(F.array("age_at_event")).alias("_ages_raw"))
        .withColumn(
            "age_at_event", F.array_distinct(F.sort_array(F.flatten("_ages_raw")))
        )
        .drop("_ages_raw")
    )

    grouped = per_term.groupBy("study_id", "submitter_donor_id").agg(
        F.collect_list(
            F.struct(
                F.col("id").alias("phenotype_id"),
                "name",
                "display_name",
                "parents",
                "age_at_event",
                internal_id_col,
                "is_leaf",
                "is_tagged",
            )
        ).alias(term_name)
    )

    # Reference quirk kept: the tagged frame always drops the literal
    # column "internal_diagnosis_id" (ProcessETLUtils.scala:337) — a
    # no-op for phenotype enrichment, which therefore KEEPS its
    # internal_phenotype_id in the tagged output.
    return EnrichedTerms(grouped=grouped, tagged=tagged.drop("internal_diagnosis_id"))
