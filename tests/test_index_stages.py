"""Stage ceilings for the ontology frames and the ``donors`` and
``studies`` index trees.

On this pipeline the cost of a release pass follows the number of Spark
stages it runs. The per-donor / per-study summaries used to hold most of
them; the ontology-enriched diagnoses and phenotypes frames now do. On the
3-donor fixture, those two frames are cached under one job group, and each
tree is written under its own, with the shared frames already cached. The
stages each group's jobs ran are counted through ``statusTracker``. A job
also lists the lineage stages of a cached frame or a reused shuffle; those
are skipped, finish no task and are not counted.
"""

from __future__ import annotations

from contextlib import contextmanager

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
ONTOLOGY_STAGE_CEILING = 40
ONTOLOGY_FRAMES = ("diagnosisPerDonorAndStudy", "phenotypesPerStudyIdAndDonor")


@contextmanager
def job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture(scope="module")
def release(spark, tmp_path_factory):
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
    return etl, *etl.extract(), root


@pytest.fixture(scope="module")
def ontology_stages(spark, release):
    """Stages that ran caching the ontology frames, counted before
    ``trees`` caches every shared frame."""
    _, entities, ontologies, _ = release
    shared = load_all(entities, ontologies)
    sc = spark.sparkContext
    with job_group(sc, "stage-ceiling-ontology"):
        for name in ONTOLOGY_FRAMES:
            shared[name].cache().count()
    yield stages_run(sc, "stage-ceiling-ontology")
    for name in ONTOLOGY_FRAMES:
        shared[name].unpersist()


@pytest.fixture(scope="module")
def trees(spark, release, ontology_stages):
    etl, entities, ontologies, root = release
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
    with job_group(sc, group):
        write_partitioned_json(frames[tree], f"{out}/{tree}", INDEX_PARTITIONS)
    stages = stages_run(sc, group)
    assert 0 < stages <= STAGE_CEILING, f"{tree}: {stages} stages ran"


def test_ontology_frames_stage_ceiling(ontology_stages):
    assert 0 < ontology_stages <= ONTOLOGY_STAGE_CEILING, (
        f"{ontology_stages} stages ran"
    )
