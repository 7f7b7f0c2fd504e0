"""Process stage orchestration (reference: ProcessETL.scala:18-153).

Reads the pre-processed parquet entities + 4 ontology NDJSON tables,
builds the 10 shared intermediate frames, and produces the three nested
index documents.

Improvements over the reference, by design:
- the 10 shared frames are ``.cache()``d — the reference recomputes
  every one of them for each of the 3 index builders
  (ProcessETL.scala:82,98-120), tripling the heaviest joins;
- the five frames only the availability summary reads (treatments,
  exposures, follow-ups, family history, family relationships) are
  ``(study, donor)`` key projections of their entities, not the
  reference's per-donor nested lists (see ``groupings.load_all``);
- Keycloak registration receives the same distinct internal_file_id set
  through a pluggable port: ``clients.RecordingKeycloak`` records the ids,
  ``http_clients.HttpKeycloak`` registers them over HTTP.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cqdg_etl_spark.functions.columns import not_null_col
from cqdg_etl_spark.pipeline.clients import Keycloak, RecordingKeycloak
from cqdg_etl_spark.pipeline.groupings import load_all
from cqdg_etl_spark.pipeline.indexes.data_access import data_access_by_entity_type
from cqdg_etl_spark.pipeline.indexes.donor import build_donor_index
from cqdg_etl_spark.pipeline.indexes.file import build_file_index
from cqdg_etl_spark.pipeline.indexes.study import build_study_index
from cqdg_etl_spark.pipeline.models import Metadata
from cqdg_etl_spark.sources import read_ndjson, read_parquet, write_partitioned_json

ENTITY_PARQUETS = [
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
ONTOLOGIES = ["hpo", "mondo", "icd", "duo_code"]

INDEX_PARTITIONS = [
    "study_id",
    "dictionary_version",
    "study_version",
    "study_version_creation_date",
]


@dataclass
class ProcessETL:
    spark: SparkSession
    input_dir: str  # pre-processed parquet datasets (<name>-with-ids)
    ontology_dir: str  # NDJSON term tables
    output_dir: str
    keycloak: Keycloak = field(default_factory=lambda: RecordingKeycloak(enabled=True))

    def extract(self) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
        entities = {
            name: read_parquet(self.spark, f"{self.input_dir}/{name}-with-ids")
            for name in ENTITY_PARQUETS
        }
        ontologies = {
            name: read_ndjson(self.spark, f"{self.ontology_dir}/{name}_terms.json")
            for name in ONTOLOGIES
        }
        return entities, ontologies

    def extract_metadata(self, study: DataFrame) -> Metadata:
        row = (
            study.select(
                "study_version", "study_version_creation_date", "dictionary_version"
            )
            .distinct()
            .first()
        )
        return Metadata(row[0], row[1], row[2])

    def transform(
        self, entities: dict[str, DataFrame], ontologies: dict[str, DataFrame]
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        metadata = self.extract_metadata(entities["study"])

        shared = load_all(entities, ontologies)
        # The 3 index builders each consume most of these frames; cache
        # once instead of recomputing per index (reference recomputes).
        for df in shared.values():
            df.cache()

        data_access = data_access_by_entity_type(
            entities["study"], ontologies["duo_code"]
        )
        study_df = (
            entities["study"]
            .join(data_access, ["study_id"], "left")
            .select(
                "*",
                F.col("study_id").alias("study_id_keyword"),
                F.col("short_name").alias("short_name_keyword"),
            )
            .drop("access_limitations", "access_requirements")
            .withColumn("short_name", not_null_col(F.col("short_name")))
        )

        studies = build_study_index(study_df, metadata, shared)
        donors = build_donor_index(study_df, metadata, shared)
        files = build_file_index(study_df, metadata, shared)

        if self.keycloak.is_enabled():
            ids = {
                r[0]
                for r in files.select("internal_file_id").distinct().collect()
            }
            self.keycloak.create_resources(ids)

        return studies, donors, files

    def load(self, studies: DataFrame, donors: DataFrame, files: DataFrame) -> None:
        write_partitioned_json(studies, f"{self.output_dir}/studies", INDEX_PARTITIONS)
        write_partitioned_json(donors, f"{self.output_dir}/donors", INDEX_PARTITIONS)
        write_partitioned_json(files, f"{self.output_dir}/files", INDEX_PARTITIONS)

    def run(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        entities, ontologies = self.extract()
        studies, donors, files = self.transform(entities, ontologies)
        self.load(studies, donors, files)
        return studies, donors, files
