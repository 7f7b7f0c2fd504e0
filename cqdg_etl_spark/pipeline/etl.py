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
- Keycloak registration (the ``clients.Keycloak`` port) receives the
  distinct internal_file_id set of the files tree, taken from the file,
  study and donor rows by ``published_file_ids``, so the collect does not
  run the tree's plan;
- the release metadata is read from the study rows, where pre-process
  stamped it, not collected to the driver and stamped again.
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
from cqdg_etl_spark.pipeline.models import RELEASE_COLUMNS
from cqdg_etl_spark.pipeline.preprocess import ENTITY_DATASETS
from cqdg_etl_spark.sources import read_ndjson, read_parquet, write_partitioned_json

ONTOLOGIES = ["hpo", "mondo", "icd", "duo_code"]

INDEX_PARTITIONS = ["study_id", *RELEASE_COLUMNS]


def published_file_ids(study: DataFrame, file: DataFrame, donor: DataFrame) -> DataFrame:
    """The distinct ``internal_file_id`` of the files tree, without its plan.

    ``build_file_index`` inner-joins the file rows to ``study`` on study_id
    and, on (study_id, file_name), to the file rows whose donor is in
    ``donor``; its other joins are left joins. The same joins as semi-joins
    keep exactly the rows the tree writes, and drop NULL keys as they do.
    """
    with_donor = file.join(donor, "submitter_donor_id", "left_semi")
    return (
        file.join(study, "study_id", "left_semi")
        .join(with_donor, ["study_id", "file_name"], "left_semi")
        .select("internal_file_id")
        .distinct()
    )


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
            for name in ENTITY_DATASETS
        }
        ontologies = {
            name: read_ndjson(self.spark, f"{self.ontology_dir}/{name}_terms.json")
            for name in ONTOLOGIES
        }
        return entities, ontologies

    def transform(
        self, entities: dict[str, DataFrame], ontologies: dict[str, DataFrame]
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
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

        studies = build_study_index(study_df, shared)
        donors = build_donor_index(study_df, shared)
        files = build_file_index(study_df, shared)

        if self.keycloak.is_enabled():
            published = published_file_ids(study_df, shared["file"], shared["donor"])
            self.keycloak.create_resources({r[0] for r in published.collect()})

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
