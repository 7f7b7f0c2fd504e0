"""Main category of a tagged ontology term (reference:
ProcessETLUtils.scala:240-248, 406-425).

The main category is the first ancestor, in ``ancestors`` array order, that
satisfies the ontology's predicate, formatted ``"name (id)"``; a term with
no qualifying ancestor has a NULL main category. Each case below is a
hand-built term table run through ``add_ancestors_to_term``.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from cqdg_etl_spark.pipeline.ontology import add_ancestors_to_term

HPO_ROOT = "Phenotypic abnormality (HP:0000118)"
MONDO_ROOT = "disease or disorder (MONDO:0000001)"

ANCESTOR = StructType([
    StructField("id", StringType()),
    StructField("name", StringType()),
    StructField("parents", ArrayType(StringType())),
])
TERMS = StructType([
    StructField("id", StringType()),
    StructField("name", StringType()),
    StructField("parents", ArrayType(StringType())),
    StructField("ancestors", ArrayType(ANCESTOR)),
    StructField("is_leaf", BooleanType()),
])

# (code column, entity type, internal id column) per ontology
ONTOLOGY = {
    "hpo": ("phenotype_HPO_code", "phenotype", "internal_phenotype_id"),
    "mondo": ("diagnosis_mondo_code", "diagnosis", "internal_diagnosis_id"),
    "icd": ("diagnosis_ICD_code", "diagnosis", "internal_diagnosis_id"),
}


def anc(id_: str, parents: list[str], name: str | None = None) -> tuple:
    return (id_, name or f"term {id_}", parents)


def enrich(spark, ontology: str, terms: dict[str, list | None]):
    """``add_ancestors_to_term`` over one row per term code, all of one
    donor aged 40, with internal ids ``int0``, ``int1``, ..."""
    code_col, etype, internal_id = ONTOLOGY[ontology]
    term_rows = [
        (code, f"term {code}", [], ancestors, True) for code, ancestors in terms.items()
    ]
    data = spark.createDataFrame(
        [("ST01", "PT01", f"X{i}", 40, code, f"int{i}") for i, code in enumerate(terms)],
        ["study_id", "submitter_donor_id", f"submitter_{etype}_id", "age_at_event",
         code_col, internal_id],
    )
    return add_ancestors_to_term(
        code_col, ontology, internal_id, data, spark.createDataFrame(term_rows, TERMS)
    )


def main_categories(spark, ontology: str, terms: dict[str, list | None]) -> dict:
    """``{code: main_category}`` for one tagged row per term code."""
    tagged = enrich(spark, ontology, terms).tagged
    return {r["id"]: r["main_category"] for r in tagged.collect()}


def test_first_qualifying_ancestor_in_array_order_wins(spark):
    got = main_categories(spark, "hpo", {
        "HP:1": [
            anc("HP:10", ["All (HP:0000001)"]),
            anc("HP:11", [HPO_ROOT], name="first qualifying"),
            anc("HP:12", [HPO_ROOT], name="second qualifying"),
        ],
        "HP:2": [
            anc("HP:12", [HPO_ROOT], name="second qualifying"),
            anc("HP:11", [HPO_ROOT], name="first qualifying"),
        ],
    })
    assert got == {
        "HP:1": "first qualifying (HP:11)",
        "HP:2": "second qualifying (HP:12)",
    }


def test_qualifying_ancestor_at_the_end_of_a_deep_array_is_found(spark):
    chain = [anc(f"MONDO:1{k:02d}", [f"group {k + 1}"]) for k in range(12)]
    got = main_categories(spark, "mondo", {
        "MONDO:1": chain + [anc("MONDO:9", [MONDO_ROOT], name="category")],
    })
    assert got == {"MONDO:1": "category (MONDO:9)"}


@pytest.mark.parametrize("ontology", list(ONTOLOGY))
def test_no_qualifying_or_no_ancestor_gives_null(spark, ontology):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    got = main_categories(spark, ontology, {
        "T:1": [anc("T:10", ["unrelated (T:0)"]), anc("t.11", ["unrelated (T:0)"])],
        "T:2": [],
        "T:3": None,
    })
    assert got == {"T:1": None, "T:2": None, "T:3": None}


def test_icd_block_rule_reads_the_ancestor_id(spark):
    got = main_categories(spark, "icd", {
        "I21.0": [
            anc("I21", ["I20-I25"], name="I20-I25 named, not a block id"),
            anc("I20-I25", ["Chapter IX"], name="Ischaemic heart diseases"),
        ],
    })
    assert got == {"I21.0": "Ischaemic heart diseases (I20-I25)"}


def test_term_without_ancestors_keeps_one_null_ancestor_entry(spark):
    """A quirk kept from the reference, whose ``explode_outer`` over
    ``ancestors`` (ProcessETLUtils.scala:275) gives a tagged term with an
    empty or NULL ``ancestors`` one ancestor entry whose node fields are
    all NULL."""
    [row] = enrich(spark, "hpo", {"HP:2": [], "HP:3": None}).grouped.collect()
    ancestors = sorted(
        (e.asDict() for e in row["hpo"] if not e["is_tagged"]),
        key=lambda e: e["internal_phenotype_id"],
    )
    assert len(row["hpo"]) == 4  # the two tagged terms and one entry each
    assert ancestors == [
        {"phenotype_id": None, "name": None, "display_name": None, "parents": None,
         "age_at_event": [40], "internal_phenotype_id": i, "is_leaf": False,
         "is_tagged": False}
        for i in ("int0", "int1")
    ]
