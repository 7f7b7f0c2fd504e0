"""Stage ceiling for writing the ``donors`` and ``studies`` index trees.

On this pipeline the cost of a release pass follows the number of Spark
stages it runs, and the per-donor / per-study summaries used to hold most
of them. Each tree of the 3-donor fixture is written under its own job
group, with the shared frames already cached, and the stages its jobs ran
are counted through ``statusTracker``. A job also lists the lineage
stages of a cached frame or a reused shuffle; those are skipped, finish no
task and are not counted.
"""

from __future__ import annotations

import pytest

from cqdg_etl_spark.pipeline.clients import (
    DeterministicIdResolver,
    FixtureDictionary,
    RecordingKeycloak,
)
from cqdg_etl_spark.pipeline.etl import INDEX_PARTITIONS, ProcessETL
from cqdg_etl_spark.pipeline.fixtures import (
    write_clinical_fixtures,
    write_dictionary,
    write_ontology_fixtures,
)
from cqdg_etl_spark.pipeline.groupings import load_all
from cqdg_etl_spark.pipeline.preprocess import PreProcessETL
from cqdg_etl_spark.sources import write_partitioned_json

STAGE_CEILING = 35


@pytest.fixture(scope="module")
def trees(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("stages"))
    write_clinical_fixtures(f"{root}/raw")
    write_ontology_fixtures(f"{root}/ontology")
    write_dictionary(f"{root}/dictionary.json")
    PreProcessETL(
        spark, FixtureDictionary(f"{root}/dictionary.json"), DeterministicIdResolver(),
        f"{root}/raw", f"{root}/with-ids",
    ).run()
    etl = ProcessETL(
        spark, f"{root}/with-ids", f"{root}/ontology", f"{root}/indexes",
        keycloak=RecordingKeycloak(enabled=False),
    )
    entities, ontologies = etl.extract()
    # Same plans as the frames transform() caches, so it finds them cached.
    shared = list(load_all(entities, ontologies).values())
    for df in shared:
        df.cache().count()
    studies, donors, _ = etl.transform(entities, ontologies)
    yield {"studies": studies, "donors": donors}, f"{root}/indexes"
    for df in shared:
        df.unpersist()


def stages_run(sc, group: str) -> int:
    """Stages of the group's jobs that completed at least one task."""
    # statusTracker is fed by the listener bus; drain it so no job is missed.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = 0
    for job_id in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(job_id)
        if job is not None:
            infos = [tracker.getStageInfo(s) for s in job.stageIds]
            stages += sum(i is not None and i.numCompletedTasks > 0 for i in infos)
    return stages


@pytest.mark.parametrize("tree", ["donors", "studies"])
def test_index_tree_stage_ceiling(spark, trees, tree):
    frames, out = trees
    sc = spark.sparkContext
    group = f"stage-ceiling-{tree}"
    sc.setJobGroup(group, group)
    try:
        write_partitioned_json(frames[tree], f"{out}/{tree}", INDEX_PARTITIONS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    stages = stages_run(sc, group)
    assert 0 < stages <= STAGE_CEILING, f"{tree}: {stages} stages ran"
