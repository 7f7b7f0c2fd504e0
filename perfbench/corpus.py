"""Seeded clinical release generator for the benchmark.

Writes one study release in the layout the two ETL stages read:

    <root>/raw/<entity>.tsv            12 entity tables (pre-process input)
    <root>/raw/study_version_metadata.json
    <root>/dictionary.json             dictionary allow-list (version 5.58)
    <root>/ontology/<name>_terms.json  hpo, mondo, icd, duo_code (NDJSON)

Column sets, quirk columns (spaces, parens, a leading blank) and value
formats follow ``cqdg_etl_spark.pipeline.fixtures``: the package's 3-donor
fixture is written first and every table keeps its header, so the generated
rows ride on exactly the shapes the pipeline's golden tests lock. The
fixture rows stay in the release, which makes the ``pipe_clinical_e2e``
golden documents part of every benchmark pass.

The generator returns the documents the process stage must produce, one
``(index, doc_key, label, n_nested)`` tuple per document, with the same
definitions as ``pipe_clinical_e2e``:

- studies: ``study_id``, ``short_name``, number of nested donors;
- donors: ``submitter_donor_id``, gender (``no-data`` when empty),
  number of nested files;
- files: ``internal_file_id``, variant class (``no-data`` when empty),
  number of nested biospecimens.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import random
import shutil
import tempfile
from dataclasses import dataclass

from cqdg_etl_spark.pipeline.fixtures import (
    write_clinical_fixtures,
    write_dictionary,
    write_ontology_fixtures,
)

TSV_STEMS = [
    "study", "donor", "family", "family-history", "exposure", "diagnosis",
    "treatment", "follow-up", "phenotype", "biospecimen",
    "sample_registration", "file",
]

GENDERS = ["Male", "Female", ""]
ETHNICITIES = ["european", "african", "asian", "hispanic", ""]
OBSERVED = ["TRUE", "FALSE", "yes", "No", "Y", "0"]
VARIANT_CLASSES = ["SNV", "CNV", ""]
STRATEGIES = ["WGS", "WXS", "RNA-Seq"]
CATEGORIES = ["genomics", "transcriptomics"]
TISSUES = ["blood", "saliva", "tumor"]
ROMAN = ["I", "II", "III", "IV", "V", "VI", "VII", "VIII", "IX", "X"]


@dataclass(frozen=True)
class Shape:
    """Corpus knobs. ``children`` is the count per donor of every child
    entity (diagnoses, treatments, follow-ups, phenotypes, biospecimens,
    family conditions) and of samples per biospecimen; files per donor
    vary around it. ``ancestors`` is the ontology depth of every
    generated term. ``skew`` is the share of donors placed in the first
    study; the rest spread evenly over the others."""

    donors: int
    children: int
    ancestors: int
    studies: int
    skew: float = 0.0
    terms: int = 120


@dataclass
class Release:
    root: str
    raw: str
    ontology: str
    dictionary: str
    expected: set[tuple[str, str, str, int]]
    file_ids: set[str]


def internal_id(entity: str, *keys: str) -> str:
    """``{entity}_{first 16 hex of sha1("entity_k1_k2...")}``: what the
    deterministic resolver stamps."""
    digest = hashlib.sha1("_".join((entity,) + keys).encode()).hexdigest()
    return f"{entity}_{digest[:16]}"


def _read_tsv(path: str) -> tuple[list[str], list[list[str]]]:
    with open(path, newline="") as fh:
        rows = list(csv.reader(fh, delimiter="\t"))
    return rows[0], rows[1:]


def _append_tsv(path: str, header: list[str], rows: list[dict[str, str]]) -> None:
    with open(path, "a") as fh:
        for row in rows:
            fh.write("\t".join(row.get(c, "") for c in header) + "\n")


def _fixture_documents(raw: str) -> set[tuple[str, str, str, int]]:
    """The fixture's own documents, derived from its TSVs with the same
    rules as the generated ones."""
    _, study = _read_tsv(f"{raw}/study.tsv")
    dh, donors = _read_tsv(f"{raw}/donor.tsv")
    fh, files = _read_tsv(f"{raw}/file.tsv")
    donors = [dict(zip(dh, r)) for r in donors]
    files = [dict(zip(fh, r)) for r in files]
    docs = set()
    for row in study:
        n = sum(d["study_id"] == row[0] for d in donors)
        docs.add(("studies", row[0], row[2], n))
    for d in donors:
        n = sum(f["submitter_donor_id"] == d["submitter_donor_id"] for f in files)
        docs.add(("donors", d["submitter_donor_id"], d["gender"] or "no-data", n))
    for f in files:
        fid = internal_id("file", f["study_id"], f["submitter_donor_id"], f["file_name"])
        docs.add(("files", fid, f["variant_class"] or "no-data", 1))
    return docs


def _date(rng: random.Random, lo: int, hi: int) -> str:
    return f"{rng.randint(1, 12)}/{rng.randint(1, 28)}/{rng.randint(lo, hi)}"


def _ontologies(shape: Shape, rng: random.Random, out: str) -> dict[str, list[str]]:
    """Append ``shape.terms`` leaf terms per ontology, each with
    ``shape.ancestors`` ancestors, to the fixture term files. Returns the
    leaf codes as the data refers to them."""
    depth = max(shape.ancestors, 2)
    codes: dict[str, list[str]] = {"hpo": [], "mondo": [], "icd": []}
    lines: dict[str, list[str]] = {"hpo": [], "mondo": [], "icd": []}

    def term(id_, name, parents, ancestors=(), leaf=False):
        return json.dumps({"id": id_, "name": name, "parents": list(parents),
                           "ancestors": list(ancestors), "is_leaf": leaf})

    def anc(id_, name, parent):
        return {"id": id_, "name": name, "parents": [parent]}

    for i in range(shape.terms):
        cat = i % 8
        # HPO: intermediates -> category (child of HP:0000118) -> root.
        hp_cat = anc(f"HP:09000{cat:02d}", f"HPO category {cat}",
                     "Phenotypic abnormality (HP:0000118)")
        hp_root = anc("HP:0000118", "Phenotypic abnormality", "All (HP:0000001)")
        chain = [anc(f"HP:08{i:03d}{k:02d}", f"HPO group {i}.{k}",
                     f"HPO group {i}.{k + 1} (HP:08{i:03d}{k + 1:02d})")
                 for k in range(depth - 2)]
        code = f"HP:07{i:05d}"
        lines["hpo"].append(term(code, f"HPO term {i}", [f"HPO group {i}.0"],
                                 chain + [hp_cat, hp_root], True))
        codes["hpo"].append(code)
        # MONDO: intermediates -> category (child of MONDO:0000001).
        mo_cat = anc(f"MONDO:09000{cat:02d}", f"disease category {cat}",
                     "disease or disorder (MONDO:0000001)")
        chain = [anc(f"MONDO:08{i:03d}{k:02d}", f"disease group {i}.{k}",
                     f"disease group {i}.{k + 1}") for k in range(depth - 1)]
        code = f"MONDO:07{i:05d}"
        lines["mondo"].append(term(code, f"disease {i}", [f"disease group {i}.0"],
                                   chain + [mo_cat], True))
        codes["mondo"].append(code)
        # ICD: intermediates -> block range -> chapter; ids carry |chapter.
        letter = "JKLMNOPQRS"[cat]
        chapter = ROMAN[cat]
        block = anc(f"{letter}{cat}0-{letter}{cat}9", f"ICD block {cat}",
                    f"ICD chapter ({chapter})")
        chain = [anc(f"{letter}{cat}{i % 10}.{k}x{i}", f"ICD group {i}.{k}",
                     f"ICD block {cat}") for k in range(depth - 1)]
        code = f"{letter}{cat}{i % 10}.{i}"
        lines["icd"].append(term(f"{code}|{cat + 1}", f"ICD term {i}",
                                 [f"ICD block {cat}"], chain + [block], True))
        codes["icd"].append(code)

    for name, rows in lines.items():
        rng.shuffle(rows)
        with open(f"{out}/{name}_terms.json", "a") as fh:
            fh.write("\n".join(rows) + "\n")
    return codes


def write_release(root: str, shape: Shape, seed: int) -> Release:
    """Write the release under ``root`` (replaced if present)."""
    rng = random.Random(seed)
    shutil.rmtree(root, ignore_errors=True)
    raw, ont, dictionary = f"{root}/raw", f"{root}/ontology", f"{root}/dictionary.json"
    write_clinical_fixtures(raw)
    write_ontology_fixtures(ont)
    write_dictionary(dictionary)
    expected = _fixture_documents(raw)
    headers = {stem: _read_tsv(f"{raw}/{stem}.tsv")[0] for stem in TSV_STEMS}
    codes = _ontologies(shape, rng, ont)
    rows: dict[str, list[dict[str, str]]] = {stem: [] for stem in TSV_STEMS}
    c = shape.children

    studies = [f"GS{s:03d}" for s in range(shape.studies)]
    n_first = int(shape.donors * shape.skew) if shape.studies > 1 else shape.donors
    donors_per_study = {s: 0 for s in studies}
    for s, sid in enumerate(studies):
        rows["study"].append({
            "study_id": sid, "name": f"Generated study {s}", "short_name": f"G{s}",
            "description": f"generated cohort {s}", "keyword": "generated",
            "access_authority": "ethics-board", "domain": "genomics",
            "population": rng.choice(["adult", "pediatric"]),
            "access_limitations": "DUO:0000005",
            "access_requirements": "DUO:0000017; DUO:0000024",
            "nb_donors": "0", "nb_files": "0", "seq": "1", "snv": "1",
        })

    file_ids: set[str] = set()
    for d in range(shape.donors):
        if d < n_first:
            sid = studies[0]
        else:
            rest = studies[1:] if n_first else studies
            sid = rest[d % len(rest)]
        donors_per_study[sid] += 1
        did = f"GD{d:06d}"
        gender = rng.choice(GENDERS)
        rows["donor"].append({
            "study_id": sid, "submitter_donor_id": did, "dob": _date(rng, 1940, 2010),
            "age TODAY": str(rng.randint(1, 90)),
            "date_of_recruitment": _date(rng, 2011, 2020),
            "age at recruit": str(rng.randint(1, 80)), "gender": gender,
            "ethnicity": rng.choice(ETHNICITIES), "vital_status": "Alive",
            **{k: rng.choice(["TRUE", "FALSE"]) for k in (
                "physical_measures_available", "laboratory_measures_available",
                "lifestyle_available", "medication_available",
                "environment_exposure_available", "family_history_available",
                "genealogy_available", "is_a_proband", "is_affected")},
        })
        rows["family"].append({
            "study_id": sid, "submitter_family_id": f"GF{d // 3:06d}",
            "submitter_donor_id": did, "family_type": "trio",
            "is_a_proband": "TRUE" if d % 3 == 0 else "FALSE",
            "relationship_to_proband": ["proband", "father", "mother"][d % 3],
        })
        rows["exposure"].append({
            "study_id": sid, "submitter_donor_id": did,
            "smoking_status": rng.choice(["never", "former", "current"]),
            "smoking_pack_years": str(rng.randint(0, 40)),
            "alcohol_status": rng.choice(["never", "occasional"]),
            "FSA": f"H{rng.randint(0, 9)}X",
        })
        dx_ids = []
        for k in range(c):
            xid = f"GX{d:06d}{k:02d}"
            dx_ids.append(xid)
            icd, mondo = rng.choice(codes["icd"]), rng.choice(codes["mondo"])
            rows["diagnosis"].append({
                "study_id": sid, "submitter_donor_id": did,
                "submitter_diagnosis_id": xid, "diagnosis_source_text": f"dx {icd}",
                "diagnosis_ICD_category": "X", "diagnosis_ICD_code": icd,
                "diagnosis_ICD_term": f"term {icd}", "diagnosis_mondo_code": mondo,
                "diagnosis_mondo_term": f"term {mondo}",
                "age_at_diagnosis": str(rng.randint(1, 80)),
                "is_self_reported": "FALSE", "is_cancer": rng.choice(["TRUE", "FALSE"]),
                "diagnosis_type": "clinical",
            })
            rows["family-history"].append({
                "study_id": sid, "submitter_donor_id": did,
                "submitter_family_condition_id": f"GC{d:06d}{k:02d}",
                "family_condition_name": rng.choice(["hypertension", "diabetes"]),
                "family_condition_age": str(rng.randint(20, 90)),
                "family_condition_relationship": rng.choice(["mother", "father"]),
                "family_cancer_history": "no", "age TODAY": str(rng.randint(20, 99)),
            })
            rows["treatment"].append({
                "study_id": sid, "submitter_donor_id": did,
                "submitter_treatment_id": f"GT{d:06d}{k:02d}",
                "submitter_diagnosis_id": xid, "treatment_type": "pharmaceutical",
                "treatment_is_primary": "TRUE", "treatment_intent": "curative",
                "treatment_response": "complete", "medication_name": "aspirin",
                "medication_code": "B01AC06", "medication_class": "antithrombotic",
                " treatment_start_date": _date(rng, 2000, 2010),
                "treatment_end_date": _date(rng, 2011, 2020),
            })
            rows["follow-up"].append({
                "study_id": sid, "submitter_donor_id": did,
                "submitter_diagnosis_id": xid,
                "submitter_follow_up_id": f"GU{d:06d}{k:02d}",
                "days_to_follow-up": str(rng.randint(1, 900)),
                "disease_status_at_followup": rng.choice(["stable", "progression"]),
            })
            rows["phenotype"].append({
                "study_id": sid, "submitter_donor_id": did,
                "submitter_phenotype_id": f"GP{d:06d}{k:02d}",
                "phenotype_source_text": "observed", "phenotype_HPO_code":
                rng.choice(codes["hpo"]), "phenotype_HPO_term": "term",
                "phenotype_HPO_category": "generated",
                "age_at_phenotype": str(rng.randint(1, 80)),
                "phenotype_severity": rng.choice(["mild", "severe"]),
                "phenotype_observed": rng.choice(OBSERVED),
            })
        bio_ids = []
        for k in range(c):
            bid = f"GB{d:06d}{k:02d}"
            bio_ids.append(bid)
            rows["biospecimen"].append({
                "study_id": sid, "submitter_donor_id": did,
                "submitter_biospecimen_id": bid,
                "submitter_diagnosis_id": rng.choice(dx_ids),
                "date_biospecimen_collection": _date(rng, 2005, 2020),
                "tumor_normal_designation": "Normal",
                "biospecimen_tissue_source": rng.choice(TISSUES),
                "biospecimen_type": "dna", "is_cancer": "FALSE",
                "biospecimen_anatomic_location": "C42.0",
                "biospecimen_anatomic_location(term)": "Blood",
                "biospecimen_processing": "extracted",
                "biospecimen_storage": "frozen", "biospecimen_access": "TRUE",
            })
            for j in range(c):
                rows["sample_registration"].append({
                    "study_id": sid, "submitter_donor_id": did,
                    "submitter_biospecimen_id": bid,
                    "submitter_sample_id": f"GA{d:06d}{k:02d}{j:02d}",
                    "sample_type": rng.choice(["total DNA", "total RNA"]),
                })
        # Varies around ``c`` but not with the seed, so every seed writes
        # the same number of documents.
        n_files = d % (2 * c + 1)
        for k in range(n_files):
            name = f"{did}_{k}.cram"
            variant = rng.choice(VARIANT_CLASSES)
            rows["file"].append({
                "submitter_biospecimen_id": rng.choice(bio_ids),
                "submitter_donor_id": did, "study_id": sid, "file_name": name,
                "data_category": rng.choice(CATEGORIES), "data_type": "aligned reads",
                "is_harmonized": "TRUE", "experimental_strategy": rng.choice(STRATEGIES),
                "data_access": "controlled", "file_format": "cram",
                "platform": "illumina", "variant_class": variant,
            })
            fid = internal_id("file", sid, did, name)
            file_ids.add(fid)
            expected.add(("files", fid, variant or "no-data", 1))
        expected.add(("donors", did, gender or "no-data", n_files))

    for s, sid in enumerate(studies):
        expected.add(("studies", sid, f"G{s}", donors_per_study[sid]))
    for stem in TSV_STEMS:
        _append_tsv(f"{raw}/{stem}.tsv", headers[stem], rows[stem])

    fixture_files = {d[1] for d in expected if d[0] == "files"} - file_ids
    return Release(root, raw, ont, dictionary, expected, file_ids | fixture_files)


def golden_documents() -> set[tuple[str, str, str, int]]:
    """The ``pipe_clinical_e2e`` golden rows, evaluated from the query's
    own oracle SQL."""
    import duckdb

    from cqdg_etl_spark.queries import REGISTRY

    rows = duckdb.sql(REGISTRY["pipe_clinical_e2e"].oracle).fetchall()
    return {(r[0], r[1], r[2], int(r[3])) for r in rows}


def fixture_documents() -> set[tuple[str, str, str, int]]:
    """The documents the generator expects from the package fixture
    alone; must equal :func:`golden_documents`."""
    tmp = tempfile.mkdtemp(prefix="fixture_", dir=os.environ.get("TMPDIR"))
    try:
        write_clinical_fixtures(tmp)
        return _fixture_documents(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
