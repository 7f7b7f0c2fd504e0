"""The clinical release job: one pass is pre-process (raw TSV to
ID-stamped parquet) then process (parquet + ontologies to the donors and
files index trees), both through the package's public ETL classes,
followed by the output checks. The process stage runs as
``ProcessETL.run`` does (extract, transform with the Keycloak collect,
load), except that ``load`` writes the donors and files trees only: the
studies tree is planned but not written, which keeps a pass within the
run budget (see README.md).

The traced variant runs the same pass with spans around the calls into
each layer. Spark is lazy, so every span forces its frames (``cache`` +
``count``) before it closes; downstream layers then read the cached
frames, which attributes each piece of work to the layer that defines it.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from contextlib import ExitStack, contextmanager, nullcontext

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cqdg_etl_spark.pipeline import etl as etl_mod
from cqdg_etl_spark.pipeline import groupings as grp_mod
from cqdg_etl_spark.pipeline import preprocess as pre_mod
from cqdg_etl_spark.pipeline.clients import (
    DeterministicIdResolver,
    FixtureDictionary,
    RecordingKeycloak,
)
from cqdg_etl_spark.pipeline.etl import INDEX_PARTITIONS, ProcessETL
from cqdg_etl_spark.pipeline.models import sanitize
from cqdg_etl_spark.pipeline.preprocess import ENTITY_KEYS, SANITIZED_TO_ENTITY, PreProcessETL

from corpus import Release, internal_id

INDEXES = {
    # written index -> (doc key field, label field, nested array field)
    "donors": ("submitter_donor_id", "gender", "files"),
    "files": ("internal_file_id", "file_variant_class", "biospecimen"),
}
ID_SAMPLE = 200


class CheckFailed(Exception):
    pass


def _dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(base, n))
                files += 1
    return size, files


def _timed(record: dict, key: str, fn):
    def wrapper(*args, **kwargs):
        start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            record[key] = time.perf_counter() - start
    return wrapper


def run_pass(spark, release: Release, work: str, tracer=None) -> dict:
    """One job pass; returns wall seconds, step seconds and output stats.
    Raises CheckFailed when an output check fails. Outputs are deleted
    before returning."""
    with_ids, out = f"{work}/with-ids", f"{work}/indexes"
    keycloak = TracedKeycloak(tracer) if tracer else RecordingKeycloak(enabled=True)
    pre = PreProcessETL(
        spark, FixtureDictionary(release.dictionary), DeterministicIdResolver(),
        release.raw, with_ids,
    )
    etl = ProcessETL(spark, with_ids, release.ontology, out, keycloak=keycloak)
    steps: dict[str, float] = {}
    # Step clocks only: each wrapper records its call's wall time.
    etl.transform = _timed(steps, "transform", etl.transform)
    load = _timed(steps, "load", _load)
    try:
        with ExitStack() as stack:
            if tracer:
                stack.enter_context(_traced_layers(tracer, pre, etl))
                stack.enter_context(tracer.span("job"))
            start = time.perf_counter()
            with tracer.span("preprocess") if tracer else nullcontext():
                pre.run()
            steps["preprocess"] = time.perf_counter() - start
            with tracer.span("etl") if tracer else nullcontext():
                _, donors, files = etl.transform(*etl.extract())
                load(out, donors, files)
            wall = time.perf_counter() - start
        spark.catalog.clearCache()
        stats = check_outputs(release, with_ids, out, keycloak)
    finally:
        shutil.rmtree(with_ids, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
    return {"wall": wall, "steps": steps, **stats}


def _load(out: str, donors, files) -> None:
    """``ProcessETL.load`` without the studies tree."""
    etl_mod.write_partitioned_json(donors, f"{out}/donors", INDEX_PARTITIONS)
    etl_mod.write_partitioned_json(files, f"{out}/files", INDEX_PARTITIONS)


def check_outputs(release: Release, with_ids: str, out: str, keycloak) -> dict:
    docs, json_bytes, max_doc = [], 0, 0
    for index, (key, label, nested) in INDEXES.items():
        json_bytes += _dir_bytes(f"{out}/{index}")[0]
        for base, _, names in os.walk(f"{out}/{index}"):
            parts = dict(p.split("=", 1) for p in base.split(os.sep) if "=" in p)
            for n in names:
                if not n.endswith(".json"):
                    continue
                with open(os.path.join(base, n), "rb") as fh:
                    for line in fh:
                        max_doc = max(max_doc, len(line))
                        doc = {**parts, **json.loads(line)}
                        docs.append((index, doc[key], doc.get(label) or "no-data",
                                     len(doc.get(nested) or ())))
    expected = {d for d in release.expected if d[0] in INDEXES}
    if set(docs) != expected or len(docs) != len(expected):
        missing = sorted(expected - set(docs))[:3]
        extra = sorted(set(docs) - expected)[:3]
        raise CheckFailed(f"index documents differ: {len(docs)} written, missing {missing} "
                          f"unexpected {extra}")
    created = getattr(keycloak, "created", None)
    if created != release.file_ids:
        raise CheckFailed(
            f"keycloak ids: {len(created or ())} recorded, {len(release.file_ids)} files"
        )
    _check_internal_ids(with_ids)
    return {"docs": len(docs), "out_bytes": json_bytes, "max_doc_bytes": max_doc}


def _check_internal_ids(with_ids: str) -> None:
    """Sampled internal ids must equal ``{entity}_{sha1(keys)[:16]}``."""
    rng = random.Random(0)
    for path in sorted(os.listdir(with_ids)):
        name = path.removesuffix("-with-ids")
        entity = SANITIZED_TO_ENTITY[sanitize(name)]
        col = f"internal_{sanitize(entity)}_id"
        table = pq.read_table(f"{with_ids}/{path}").to_pylist()
        for row in rng.sample(table, min(ID_SAMPLE, len(table))):
            keys = [row[k] for k in ENTITY_KEYS[entity] if row[k] is not None]
            if row[col] != internal_id(entity, *keys):
                raise CheckFailed(f"{name}: internal id {row[col]} for keys {keys}")


# ---------------------------------------------------------------- tracing


class TracedKeycloak(RecordingKeycloak):
    """The process stage asks ``is_enabled()`` right before collecting the
    file ids and hands them to ``create_resources``; the span between the
    two is the driver collect."""

    def __init__(self, tracer):
        super().__init__(enabled=True)
        self.tracer, self._span = tracer, None

    def is_enabled(self) -> bool:
        self._span = self.tracer.begin("etl.keycloak_collect")
        return True

    def create_resources(self, ids: set[str]) -> int:
        self.tracer.end(self._span)
        self.tracer.count("clients.keycloak_ids", len(ids))
        return super().create_resources(ids)


def _force(df):
    df = df.cache()
    return df, df.count()


def _patch(stack: ExitStack, obj, name: str, value) -> None:
    original = getattr(obj, name)
    setattr(obj, name, value)
    stack.callback(setattr, obj, name, original)


@contextmanager
def _traced_layers(tracer, pre: PreProcessETL, etl: ProcessETL):
    def frame_span(span: str, fn, count: str | None = None):
        def wrapper(*args, **kwargs):
            with tracer.span(span):
                df, n = _force(fn(*args, **kwargs))
            if count:
                tracer.count(count, n)
            return df
        return wrapper

    def write_span(span: str, fn, kind: str):
        def wrapper(df, path, *args, **kwargs):
            with tracer.span(span):
                fn(df, path, *args, **kwargs)
            size, files = _dir_bytes(path)
            tracer.count(f"sources.{kind}_bytes", size)
            tracer.count(f"sources.{kind}_files", files)
        return wrapper

    def enriched_span(fn):
        span_for = {"phenotype_HPO_code": "ontology.hpo",
                    "diagnosis_mondo_code": "ontology.mondo",
                    "diagnosis_ICD_code": "ontology.icd"}

        def wrapper(code_col, term_name, *args, **kwargs):
            with tracer.span(span_for[code_col]):
                e = fn(code_col, term_name, *args, **kwargs)
                e.grouped, _ = _force(e.grouped)
                e.tagged, tagged = _force(e.tagged)
                with tracer.untimed():
                    nested = e.grouped.select(F.sum(F.size(term_name))).first()[0] or 0
            tracer.count("ontology.tagged_rows", tagged)
            tracer.count("ontology.ancestor_rows", nested)
            return e
        return wrapper

    def shared_span(fn):
        def wrapper(*args, **kwargs):
            before = spark_storage(pre.spark)
            with tracer.span("groupings.shared"):
                shared = fn(*args, **kwargs)
                for k, df in shared.items():
                    shared[k], _ = _force(df)
            tracer.count("groupings.cached_mb", (spark_storage(pre.spark) - before) / 2**20)
            return shared
        return wrapper

    def transform_span(fn):
        def wrapper(data):
            with tracer.span("preprocess.transform"):
                frames = fn(data)
                for nf in frames:
                    nf.df, n = _force(nf.df)
                    tracer.count("preprocess.rows_hashed", n)
            return frames
        return wrapper

    def method_span(span: str, fn):
        def wrapper(*args, **kwargs):
            with tracer.span(span):
                return fn(*args, **kwargs)
        return wrapper

    with ExitStack() as stack:
        _patch(stack, pre_mod, "read_tsv", frame_span("sources.read_tsv", pre_mod.read_tsv))
        _patch(stack, pre_mod, "read_multiline_json",
               frame_span("sources.read_multiline_json", pre_mod.read_multiline_json))
        _patch(stack, pre_mod, "write_parquet",
               write_span("sources.write_parquet", pre_mod.write_parquet, "parquet"))
        _patch(stack, etl_mod, "read_parquet",
               frame_span("sources.read_parquet", etl_mod.read_parquet))
        _patch(stack, etl_mod, "read_ndjson",
               frame_span("sources.read_ndjson", etl_mod.read_ndjson))
        _patch(stack, etl_mod, "write_partitioned_json",
               write_span("sources.write_partitioned_json",
                          etl_mod.write_partitioned_json, "json"))
        _patch(stack, etl_mod, "load_all", shared_span(etl_mod.load_all))
        _patch(stack, etl_mod, "data_access_by_entity_type",
               frame_span("etl.data_access", etl_mod.data_access_by_entity_type))
        # The studies frame is never computed, so its builder is not forced.
        for index in ("donor", "file"):
            fn = f"build_{index}_index"
            _patch(stack, etl_mod, fn, frame_span(f"indexes.{index}", getattr(etl_mod, fn)))
        _patch(stack, grp_mod, "load_donors",
               frame_span("groupings.donor", grp_mod.load_donors))
        _patch(stack, grp_mod, "build_phenotypes",
               frame_span("groupings.phenotypes", grp_mod.build_phenotypes))
        _patch(stack, grp_mod, "build_diagnoses",
               frame_span("groupings.diagnoses", grp_mod.build_diagnoses))
        _patch(stack, grp_mod, "load_biospecimens",
               frame_span("groupings.biospecimens", grp_mod.load_biospecimens))
        _patch(stack, grp_mod, "add_ancestors_to_term",
               enriched_span(grp_mod.add_ancestors_to_term))
        # Instance attributes shadow the methods run() calls.
        pre.transform = transform_span(pre.transform)
        pre.extract_metadata = method_span("preprocess.extract_metadata",
                                           pre.extract_metadata)
        pre.dictionary.load_schemas = method_span("clients.load_schemas",
                                                  pre.dictionary.load_schemas)
        etl.transform = method_span("etl.transform", etl.transform)
        yield


def spark_storage(spark) -> int:
    """Bytes held by cached blocks (memory + disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)
