"""Ontology term enrichment (reference: ProcessETLUtils.scala:108-340).

Given an entity frame carrying an ontology code column (HPO / MONDO /
ICD-10) and the ontology term table
``{id, name, parents: array<string>, ancestors: array<struct>, is_leaf}``:

1. ``tag_terms`` puts on each row, in one struct column, the term its code
   names: the term's columns plus display_name, ``is_tagged`` and the main
   category (the first ancestor, in array order, that an
   ontology-specific predicate selects). The struct is NULL when the code
   is not in the ontology. The category depends on the term alone, so it
   is computed once per term, on the term table;
2. ``add_ancestors_to_term`` groups, per ``keys`` (by default study and
   donor), the union of tagged terms and all their exploded ancestors,
   each with its normalized age_at_event array, nested as array<struct>
   (the donor-document "mondo"/"icd"/phenotype fields). A tagged term
   whose ``ancestors`` is empty or NULL gets one all-NULL ancestor entry:
   a reference quirk (its ``explode_outer``, ProcessETLUtils.scala:275),
   kept like the summary's ``COUNT(DISTINCT *)`` rule.

Scale: the term table (ontologies are ≤ ~100k rows) is broadcast; the
only shuffles are the two groupBys keyed on ``keys`` (then the term).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cqdg_etl_spark.functions.columns import display_name

ICD_BLOCK_RE = "^[A-Z][0-9]{2}-[A-Z][0-9]{2}"
KEYS = ["study_id", "submitter_donor_id"]


def main_category_predicate(code_col: str) -> Callable[[Column], Column]:
    """Ontology-specific root-category rule over one ancestor struct
    (reference: ProcessETLUtils.scala:240-248)."""
    if code_col == "phenotype_HPO_code":
        return lambda a: F.array_contains(a["parents"], "Phenotypic abnormality (HP:0000118)")
    if code_col == "diagnosis_mondo_code":
        return lambda a: F.array_contains(a["parents"], "disease or disorder (MONDO:0000001)")
    return lambda a: a["id"].rlike(ICD_BLOCK_RE)


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


def tag_terms(code_col: str, data: DataFrame, terms: DataFrame, alias: str) -> DataFrame:
    """``data`` left-joined to the broadcast term table, with the matched
    term in the struct column ``alias`` (NULL when the code is not in the
    ontology) (reference: ProcessETLUtils.scala:238).

    Main category: the first ancestor, in array order, that satisfies the
    ontology's rule (reference: ProcessETLUtils.scala:406-425, which
    explodes, filters and takes first() per tagged term, then joins it back
    on (study, donor, submitter id, term)). try_element_at gives NULL, not an
    error, when no ancestor qualifies. Unlike the reference's equi-join
    back, a row with a NULL key keeps its main category.
    """
    main = F.try_element_at(F.filter("ancestors", main_category_predicate(code_col)), F.lit(1))
    term = F.struct(
        *terms.columns,
        display_name(F.col("name"), F.col("id")).alias("display_name"),
        F.lit(True).alias("is_tagged"),
        F.concat(main["name"], F.lit(" ("), main["id"], F.lit(")")).alias("main_category"),
    )
    tags = terms.select(term.alias(alias))
    return data.join(F.broadcast(tags), data[code_col] == tags[alias]["id"], "left_outer")


@dataclass
class EnrichedTerms:
    grouped: DataFrame  # (*keys, <term_name>: array<struct>)
    tagged: DataFrame  # matched rows of data + the term's columns


def add_ancestors_to_term(
    code_col: str,
    term_name: str,
    internal_id_col: str,
    data: DataFrame,
    terms: DataFrame,
    keys: list[str] = KEYS,
) -> EnrichedTerms:
    """(reference: ProcessETLUtils.scala:233-340)

    ``data`` must carry ``keys``, age_at_event, <code_col> and
    <internal_id_col>.
    """
    tagged = (
        tag_terms(code_col, data, terms, "term")
        .filter(F.col("term").isNotNull())
        .select(*data.columns, "term.*")
    )
    row = [*keys, "age_at_event", internal_id_col]
    ancestors = tagged.select(*row, F.explode_outer("ancestors").alias("anc")).select(
        *row,
        "anc.id",
        "anc.name",
        "anc.parents",
        F.lit(False).alias("is_leaf"),
        F.lit(False).alias("is_tagged"),
    )
    node = ["id", "name", "parents", "is_leaf", "is_tagged"]

    # Normalize ages per distinct term: collect, flatten, sort, dedupe
    # (reference: ProcessETLUtils.scala:299-318 pattern A7).
    ages = F.flatten(F.collect_list(F.array("age_at_event")))
    per_term = (
        tagged.select(*row, *node)
        .unionByName(ancestors)
        .groupBy(*keys, internal_id_col, *node)
        .agg(F.array_distinct(F.sort_array(ages)).alias("age_at_event"))
    )

    grouped = per_term.groupBy(*keys).agg(
        F.collect_list(
            F.struct(
                F.col("id").alias("phenotype_id"),
                "name",
                display_name(F.col("name"), F.col("id")).alias("display_name"),
                "parents",
                "age_at_event",
                internal_id_col,
                "is_leaf",
                "is_tagged",
            )
        ).alias(term_name)
    )
    return EnrichedTerms(grouped=grouped, tagged=tagged)
