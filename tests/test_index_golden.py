"""Characterization golden of the three index trees (studies, donors, files).

Two releases are run end to end (pre-process, then process) and compared,
document by document, with the JSON files under ``tests/golden/``:

- ``fixture.json``: the package's 3-donor fixture
  (``cqdg_etl_spark/pipeline/fixtures.py``);
- ``edge.json``: a test-local copy of that fixture with summary edge cases
  added (see :func:`write_edge_fixtures`).

A third release, with no ``experimental_strategy`` value anywhere, checks
the summaries' inner-join rule without a golden.

Documents are read back from the written partitioned JSON, with the
partition values taken from the path. ``collect_list`` order is not
defined, so every nested array is sorted before comparing. The index
schema is pinned as well: field names, types, nesting and struct field
order, without nullable flags (the written JSON does not carry them).

Regenerate the golden files, only when an output change is intended, with
``python -m tests.test_index_golden``.
"""

from __future__ import annotations

import json
import os
import tempfile
from pathlib import Path

import pytest
from pyspark.sql.types import ArrayType, DataType, MapType, StructType

from cqdg_etl_spark.pipeline.clients import (
    DeterministicIdResolver,
    FixtureDictionary,
    RecordingKeycloak,
)
from cqdg_etl_spark.pipeline.etl import ProcessETL
from cqdg_etl_spark.pipeline.fixtures import (
    write_clinical_fixtures,
    write_dictionary,
    write_ontology_fixtures,
)
from cqdg_etl_spark.pipeline.preprocess import PreProcessETL
from tests.test_pipeline import expected_internal_id

GOLDEN = Path(__file__).parent / "golden"
TREES = ("studies", "donors", "files")


def _append_tsv(path: str, rows: list[list[str]]) -> None:
    with open(path) as fh:
        width = len(fh.readline().rstrip("\n").split("\t"))
    with open(path, "a") as fh:
        for row in rows:
            assert len(row) == width, (path, row)
            fh.write("\t".join(row) + "\n")


def write_edge_fixtures(d: str) -> None:
    """The 3-donor fixture plus summary edge cases:

    - PT04 (ST01) has a file in ``transcriptomics`` and no clinical rows;
    - ST03 has a donor, PT05, with clinical rows and no files;
    - PT02 (ST01) gets a diagnosis whose MONDO and ICD codes are not in the
      ontologies, so its diagnosis row carries NULL ``mondo``/``icd``;
    - PT01 and PT03 keep files in ``genomics`` only, so they get a
      ``files: 0`` entry for ``transcriptomics``.
    """
    write_clinical_fixtures(d)
    _append_tsv(f"{d}/study.tsv", [
        ["ST03", "Sleep Cohort", "SC", "A sleep cohort", "sleep",
         "ethics-board", "neurology", "adult", "DUO:0000005", "DUO:0000026",
         "1", "0", "0", "0"],
    ])
    _append_tsv(f"{d}/donor.tsv", [
        ["ST01", "PT04", "2/2/1980", "44", "1/1/2012", "32", "Female",
         "european", "Alive", "", "", "FALSE", "FALSE", "FALSE", "FALSE",
         "FALSE", "FALSE", "FALSE", "FALSE", "FALSE"],
        ["ST03", "PT05", "3/3/1990", "34", "4/4/2016", "26", "Male",
         "asian", "Alive", "", "", "TRUE", "FALSE", "FALSE", "FALSE",
         "FALSE", "FALSE", "FALSE", "TRUE", "TRUE"],
    ])
    _append_tsv(f"{d}/diagnosis.tsv", [
        ["ST01", "PT02", "DI03", "unknown", "XXII", "Z99",
         "Unlisted code", "MONDO:9999999", "unlisted disease", "40", "TRUE",
         "FALSE", "", "clinical", "", "", "", "", ""],
        ["ST03", "PT05", "DI04", "heart attack", "IX", "I21",
         "Acute myocardial infarction", "MONDO:0005068",
         "myocardial infarction", "20", "FALSE", "FALSE", "", "clinical",
         "", "", "", "", ""],
    ])
    _append_tsv(f"{d}/exposure.tsv", [
        ["ST03", "PT05", "never", "0", "never", "J4B"],
    ])
    _append_tsv(f"{d}/biospecimen.tsv", [
        ["ST01", "PT04", "BS04", "", "9/9/2012", "Normal", "blood", "rna",
         "FALSE", "C42.0", "Blood", "", "", "extracted", "frozen", "TRUE"],
    ])
    _append_tsv(f"{d}/sample_registration.tsv", [
        ["ST01", "PT04", "BS04", "SA04", "total RNA"],
    ])
    _append_tsv(f"{d}/file.tsv", [
        ["BS04", "PT04", "ST01", "f4.bam", "transcriptomics",
         "aligned reads", "TRUE", "RNA-Seq", "controlled", "bam", "illumina",
         ""],
    ])


def run_release(spark, write_raw, root: str, keycloak=None) -> dict:
    """Pre-process and process one release under ``root``; returns the
    index frames by tree name."""
    raw, onto, dictionary = f"{root}/raw", f"{root}/ontology", f"{root}/dictionary.json"
    write_raw(raw)
    write_ontology_fixtures(onto)
    write_dictionary(dictionary)
    return process_release(spark, raw, onto, dictionary, root, keycloak)


def process_release(
    spark, raw: str, onto: str, dictionary: str, root: str, keycloak=None
) -> dict:
    """Pre-process and process a written release; the trees go to
    ``root/indexes``. Returns the index frames by tree name. The Keycloak
    port defaults to a disabled recorder."""
    PreProcessETL(
        spark, FixtureDictionary(dictionary), DeterministicIdResolver(),
        raw, f"{root}/with-ids",
    ).run()
    trees = ProcessETL(
        spark, f"{root}/with-ids", onto, f"{root}/indexes",
        keycloak=keycloak or RecordingKeycloak(enabled=False),
    ).run()
    return dict(zip(TREES, trees))


def canonical(value):
    """Nested arrays sorted by their canonical JSON; object key order kept."""
    if isinstance(value, dict):
        return {k: canonical(v) for k, v in value.items()}
    if isinstance(value, list):
        items = [canonical(v) for v in value]
        return sorted(items, key=lambda v: json.dumps(v, sort_keys=True))
    return value


def read_tree(path: str) -> list[dict]:
    docs = []
    for base, _, names in os.walk(path):
        parts = dict(p.split("=", 1) for p in base.split(os.sep) if "=" in p)
        for name in names:
            if name.endswith(".json"):
                with open(os.path.join(base, name)) as fh:
                    docs += [canonical({**json.loads(line), **parts}) for line in fh]
    return sorted(docs, key=lambda d: json.dumps(d, sort_keys=True))


def schema_pin(dt: DataType):
    """Names, types, nesting and field order, without nullable flags."""
    if isinstance(dt, StructType):
        return [[f.name, schema_pin(f.dataType)] for f in dt.fields]
    if isinstance(dt, ArrayType):
        return {"array": schema_pin(dt.elementType)}
    if isinstance(dt, MapType):
        return {"map": [schema_pin(dt.keyType), schema_pin(dt.valueType)]}
    return dt.simpleString()


def snapshot(spark, write_raw, root: str) -> dict:
    return snapshot_of(run_release(spark, write_raw, root), root)


def snapshot_of(frames: dict, root: str) -> dict:
    """Schema pin and canonical documents of the trees under ``root``."""
    return {
        "schema": {t: schema_pin(df.schema) for t, df in frames.items()},
        "docs": {t: read_tree(f"{root}/indexes/{t}") for t in TREES},
    }


RELEASES = {"fixture": write_clinical_fixtures, "edge": write_edge_fixtures}


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    return {
        name: snapshot(spark, write_raw, str(tmp_path_factory.mktemp(name)))
        for name, write_raw in RELEASES.items()
    }


def _golden(name: str) -> dict:
    return json.loads((GOLDEN / f"{name}.json").read_text())


@pytest.mark.parametrize("release", list(RELEASES))
@pytest.mark.parametrize("tree", TREES)
def test_index_schema_matches_golden(snapshots, release, tree):
    assert snapshots[release]["schema"][tree] == _golden(release)["schema"][tree]


@pytest.mark.parametrize("release", list(RELEASES))
@pytest.mark.parametrize("tree", TREES)
def test_index_documents_match_golden(snapshots, release, tree):
    got, want = snapshots[release]["docs"][tree], _golden(release)["docs"][tree]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g == w


# ------------------------------------------------- edge cases, spelled out


def _edge_docs(snapshots, tree: str, key: str) -> dict:
    return {d[key]: d for d in snapshots["edge"]["docs"][tree]}


def test_edge_donor_with_files_and_no_clinical_rows_has_no_summary(snapshots):
    pt04 = _edge_docs(snapshots, "donors", "submitter_donor_id")["PT04"]
    assert len(pt04["files"]) == 1
    assert "summary" not in pt04


def test_edge_study_without_files_has_no_summary(snapshots):
    st03 = _edge_docs(snapshots, "studies", "study_id")["ST03"]
    assert [d["submitter_donor_id"] for d in st03["donors"]] == ["PT05"]
    assert "summary" not in st03
    assert "summary" not in _edge_docs(snapshots, "donors", "submitter_donor_id")["PT05"]


def test_edge_clinical_row_with_null_column_is_not_available(snapshots):
    pt02 = _edge_docs(snapshots, "donors", "submitter_donor_id")["PT02"]
    assert len(pt02["diagnoses"]) == 1 and "mondo" not in pt02
    available = {
        a["key"]: a["available"] for a in pt02["summary"]["clinical_data_available"]
    }
    assert available["diagnosis"] is False and available["family"] is True


def test_edge_missing_category_counts_zero_files(snapshots):
    donors = _edge_docs(snapshots, "donors", "submitter_donor_id")
    for donor, counts in (
        ("PT01", {"genomics": 2, "transcriptomics": 0}),
        ("PT02", {"genomics": 0, "transcriptomics": 0}),
        ("PT03", {"genomics": 1, "transcriptomics": 0}),
    ):
        by_category = donors[donor]["summary"]["data_category"]
        assert {c["key"]: c["files"] for c in by_category} == counts, donor


def write_no_strategy_fixtures(d: str) -> None:
    """The 3-donor fixture with an empty ``experimental_strategy`` on every
    file, so that field has no non-NULL value anywhere."""
    write_clinical_fixtures(d)
    with open(f"{d}/file.tsv") as fh:
        rows = [line.rstrip("\n").split("\t") for line in fh]
    col = rows[0].index("experimental_strategy")
    for row in rows[1:]:
        row[col] = ""
    with open(f"{d}/file.tsv", "w") as fh:
        fh.writelines("\t".join(row) + "\n" for row in rows)


def _nodes(value):
    """Every object nested anywhere in ``value``, itself included."""
    if isinstance(value, dict):
        yield value
        value = list(value.values())
    if isinstance(value, list):
        for v in value:
            yield from _nodes(v)


def test_field_without_values_leaves_every_summary_out(spark, tmp_path):
    """The reference inner-joins the per-field summaries (Summary.scala:30-88):
    with no ``experimental_strategy`` value anywhere, no study and no donor
    gets a summary, and no ``data_category`` entry has a NULL key."""
    run_release(spark, write_no_strategy_fixtures, str(tmp_path))
    docs = {t: read_tree(f"{tmp_path}/indexes/{t}") for t in TREES}
    assert docs["studies"] and docs["donors"]
    for tree in ("studies", "donors"):
        assert [d for d in docs[tree] if "summary" in d] == [], tree
    entries = [
        entry
        for node in _nodes(docs)
        if isinstance(node.get("data_category"), list)
        for entry in node["data_category"]
    ]
    assert all(e.get("key") is not None for e in entries)


def write_phenotype_half_fixtures(d: str) -> None:
    """The 3-donor fixture where PT03's only phenotype is not observed and
    PT02 gets one phenotype whose HPO code is not in the ontology."""
    write_clinical_fixtures(d)
    with open(f"{d}/phenotype.tsv") as fh:
        rows = [line.rstrip("\n").split("\t") for line in fh]
    col = rows[0].index("phenotype_observed")
    for row in rows[1:]:
        if row[1] == "PT03":
            row[col] = "No"
    rows.append(["ST01", "PT02", "PH04", "unlisted sign", "HP:9999999",
                 "Unlisted sign", "other", "30", "mild", "TRUE"])
    with open(f"{d}/phenotype.tsv", "w") as fh:
        fh.writelines("\t".join(row) + "\n" for row in rows)


def test_phenotype_half_without_rows_is_absent(spark, tmp_path):
    """The reference left-joins each phenotype half per donor
    (ProcessETLUtils.scala:41-106): a donor with no observed phenotype has
    no ``observed_*`` key at all, not an empty array, and a donor whose only
    phenotype matches no HPO term has none of the four keys."""
    run_release(spark, write_phenotype_half_fixtures, str(tmp_path))
    donors = {
        d["submitter_donor_id"]: d for d in read_tree(f"{tmp_path}/indexes/donors")
    }
    halves = ("observed_phenotype_tagged", "not_observed_phenotype_tagged",
              "observed_phenotypes", "non_observed_phenotypes")
    pt03 = {k for k in halves if k in donors["PT03"]}
    assert pt03 == {"not_observed_phenotype_tagged", "non_observed_phenotypes"}
    pt02 = donors["PT02"]
    assert [k for k in halves if k in pt02] == []
    available = {
        a["key"]: a["available"] for a in pt02["summary"]["clinical_data_available"]
    }
    assert available["phenotype"] is False
    st01 = {d["study_id"]: d for d in read_tree(f"{tmp_path}/indexes/studies")}["ST01"]
    counted = {
        a["key"]: a["donors"] for a in st01["summary"]["clinical_data_available"]
    }
    assert counted["phenotype"] == 2  # PT01 and PT02


def write_unpublished_file_fixtures(d: str) -> None:
    """The 3-donor fixture plus file rows that test the files tree's inner
    joins: ``f5.gvcf`` names an absent study, ``f6.gvcf`` an absent donor,
    and ``f7.bam`` has two ST01 rows of which only PT01's donor exists."""
    write_clinical_fixtures(d)
    _append_tsv(f"{d}/file.tsv", [
        ["BS01", donor, study, name, "genomics", "gvcf", "TRUE", "WGS",
         "controlled", "gvcf", "illumina", "SNV"]
        for donor, study, name in (
            ("PT01", "ST09", "f5.gvcf"),
            ("PT09", "ST01", "f6.gvcf"),
            ("PT01", "ST01", "f7.bam"),
            ("PT08", "ST01", "f7.bam"),
        )
    ])


def test_keycloak_ids_are_the_written_file_ids(spark, tmp_path):
    """Keycloak gets exactly the ids of the written files tree: a file of an
    absent study or whose (study, file name) has no known donor is left
    out; both rows of a (study, file name) with a known donor are kept."""
    keycloak = RecordingKeycloak(enabled=True)
    run_release(spark, write_unpublished_file_fixtures, str(tmp_path), keycloak)
    written = {d["internal_file_id"] for d in read_tree(f"{tmp_path}/indexes/files")}
    assert keycloak.created == written
    assert written == {
        expected_internal_id("file", *key)
        for key in (("ST01", "PT01", "f1.gvcf"), ("ST01", "PT01", "f2.cram"),
                    ("ST02", "PT03", "f3.gvcf"), ("ST01", "PT01", "f7.bam"),
                    ("ST01", "PT08", "f7.bam"))
    }


if __name__ == "__main__":
    from cqdg_etl_spark.session import get_spark

    session = get_spark(app_name="cqdg-index-golden", shuffle_partitions=8)
    GOLDEN.mkdir(exist_ok=True)
    for name, write_raw in RELEASES.items():
        with tempfile.TemporaryDirectory() as root:
            data = snapshot(session, write_raw, root)
        (GOLDEN / f"{name}.json").write_text(json.dumps(data, indent=1) + "\n")
        print("wrote", GOLDEN / f"{name}.json")
