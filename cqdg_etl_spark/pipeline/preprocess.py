"""Pre-process stage: raw TSV entities → validated, ID-stamped parquet.

Semantics mirror PreProcessETL.scala / PreProcessUtils.scala:
1. read 12 TSV entity tables + 1 multiline-JSON metadata file (all-string);
2. extract release Metadata (distinct().first() on the metadata frame);
3. per entity: sha1 business-key hash → internal id → drop off-schema
   columns → (study only) stamp metadata columns;
4. write one parquet dataset per entity.

The business-key recipes are the reference's exactly
(PreProcessUtils.scala:17-91). ID resolution is pluggable (clients.py);
the default is executor-side deterministic — no collect, no HTTP.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.pipeline.clients import Dictionary, IdResolver
from cqdg_etl_spark.pipeline.models import RELEASE_COLUMNS, Metadata, NamedFrame, sanitize
from cqdg_etl_spark.sources import read_multiline_json, read_tsv, write_parquet

# entity tag -> business key columns (reference: PreProcessUtils.scala:17-91)
ENTITY_KEYS: dict[str, list[str]] = {
    "study": ["study_id"],
    "donor": ["study_id", "submitter_donor_id"],
    "diagnosis": ["study_id", "submitter_donor_id", "submitter_diagnosis_id"],
    "treatment": ["study_id", "submitter_donor_id", "submitter_treatment_id"],
    "family": ["study_id", "submitter_family_id", "submitter_donor_id"],
    "family_history": [
        "study_id",
        "submitter_donor_id",
        "submitter_family_condition_id",
    ],
    "exposure": ["study_id", "submitter_donor_id"],
    "biospecimen": ["study_id", "submitter_donor_id", "submitter_biospecimen_id"],
    "sample_registration": [
        "study_id",
        "submitter_donor_id",
        "submitter_biospecimen_id",
        "submitter_sample_id",
    ],
    "follow_up": ["study_id", "submitter_donor_id", "submitter_follow_up_id"],
    "phenotype": [
        "study_id",
        "submitter_donor_id",
        "submitter_phenotype_id",
        "phenotype_HPO_code",
    ],
    "file": ["study_id", "submitter_donor_id", "file_name"],
}

# sanitized dataset name -> entity tag
SANITIZED_TO_ENTITY = {sanitize(k): k for k in ENTITY_KEYS}

# the 12 entity dataset names as shipped (TSV file stems)
ENTITY_DATASETS = [
    "study",
    "donor",
    "family",
    "family-history",
    "exposure",
    "diagnosis",
    "treatment",
    "follow-up",
    "phenotype",
    "biospecimen",
    "sample_registration",
    "file",
]


def business_hash(entity: str) -> F.Column:
    """sha1(concat_ws('_', entity, keys...)) (PreProcessUtils.scala:17-91)."""
    keys = ENTITY_KEYS[entity]
    return F.sha1(F.concat_ws("_", F.lit(entity), *[F.col(k) for k in keys]))


def add_cqdg_id(name: str, df: DataFrame, resolver: IdResolver) -> DataFrame:
    """Stamp cqdg_entity + hash, resolve to internal_<entity>_id
    (reference: PreProcessUtils.scala:14-105)."""
    entity = SANITIZED_TO_ENTITY.get(sanitize(name))
    if entity is None:
        raise RuntimeError(f"Could not find the corresponding schema for {name}")
    hashed = df.withColumn("cqdg_entity", F.lit(entity)).withColumn(
        "cqdg_hash", business_hash(entity)
    )
    resolved = resolver.resolve(hashed, entity)
    return resolved.drop("cqdg_hash").withColumnRenamed(
        "internal_id", f"internal_{sanitize(entity)}_id"
    )


@dataclass
class PreProcessETL:
    spark: SparkSession
    dictionary: Dictionary
    resolver: IdResolver
    input_dir: str
    output_dir: str

    def extract(self) -> dict[str, DataFrame]:
        """13 lazy reads (reference: PreProcessETL.scala:34-51)."""
        data = {
            name: read_tsv(self.spark, f"{self.input_dir}/{name}.tsv")
            for name in ENTITY_DATASETS
        }
        data["study_version_metadata"] = read_multiline_json(
            self.spark, f"{self.input_dir}/study_version_metadata.json"
        )
        return data

    def extract_metadata(self, meta_df: DataFrame) -> Metadata:
        row = (
            meta_df.select("studyVersionId", "studyVersionDate", "dictionaryVersion")
            .distinct()
            .first()
        )
        return Metadata(row[0], row[1], row[2])

    def transform(self, data: dict[str, DataFrame]) -> list[NamedFrame]:
        """(reference: PreProcessETL.scala:58-92)"""
        schemas_by_version = self.dictionary.load_schemas()
        metadata = self.extract_metadata(data["study_version_metadata"])
        schemas = schemas_by_version.get(metadata.dictionary_version)
        if schemas is None:
            raise RuntimeError(
                "Failed to load dictionary schema for version "
                f"{metadata.dictionary_version}"
            )
        by_name = {s.name: s for s in schemas}

        out: list[NamedFrame] = []
        for name, df in data.items():
            schema = by_name.get(sanitize(name))
            if schema is None:  # dataset not in dictionary → skipped
                continue
            with_ids = add_cqdg_id(name, df, self.resolver)
            keep = set(schema.columns)
            to_drop = [c for c in with_ids.columns if c not in keep]
            validated = with_ids.drop(*to_drop)
            if name == "study":
                validated = validated.withColumns(
                    {c: F.lit(getattr(metadata, c)) for c in RELEASE_COLUMNS}
                )
            out.append(NamedFrame(name, validated))
        return out

    def load(self, frames: list[NamedFrame]) -> None:
        for nf in frames:
            write_parquet(nf.df, f"{self.output_dir}/{nf.name}-with-ids")

    def run(self) -> list[NamedFrame]:
        frames = self.transform(self.extract())
        self.load(frames)
        return frames
