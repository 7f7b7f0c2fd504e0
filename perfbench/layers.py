"""Per-layer metrics of the traced pass, and the end-to-end metric each
one should move on which workload.

Layer time metrics (``_s``) are self seconds: a span's wall time minus its
child spans and minus the benchmark's own bookkeeping inside it; the
``session.*`` and ``trace.*`` times are wall seconds. ``<layer>.
spark_jobs``/``spark_stages``/``tasks_failed`` count the Spark jobs run,
the stages actually submitted (skipped stages excluded) and the failed
tasks while a span of that layer was the innermost open one, read from
``statusTracker``. A layer that does not run on a workload reports 0, and
so do ``indexes.study_s`` (the studies tree is not written) and the
queries below that are not in ``suite.QUERIES``.
"""

from __future__ import annotations

# Registry queries with per-layer metrics.
QUERIES = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q9_profit_by_nation_year",
    "pipe_customer_document",
    "ev_tumbling_hourly",
    "dd_minhash_lsh_candidates",
    "dd_ngram_jaccard_pairs",
    "ann_topk_bruteforce",
    "tx_repetition_metrics",
]

# metric -> (unit, better, moves end-to-end metric, on workload)
MAPPING: dict[str, tuple[str, str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s", "both"),
    "session.jvm_peak_rss_mb": ("MB", "lower", "job_s", "both"),
    "sources.read_tsv_s": ("s", "lower", "job_s", "release_full"),
    "sources.write_parquet_s": ("s", "lower", "job_s", "release_full"),
    "sources.parquet_bytes": ("B", "lower", "job_s", "release_full"),
    "sources.read_parquet_s": ("s", "lower", "job_s", "release_full"),
    "sources.read_ndjson_s": ("s", "lower", "job_s", "release_full"),
    "sources.write_partitioned_json_s": ("s", "lower", "job_s", "release_full"),
    "sources.json_bytes": ("B", "lower", "output_bytes_per_doc", "release_full"),
    "sources.json_files": ("count", "lower", "job_s", "release_full"),
    "preprocess.transform_s": ("s", "lower", "job_s", "release_full"),
    "preprocess.rows_hashed": ("count", "higher", "docs_per_s", "release_full"),
    "preprocess.extract_metadata_s": ("s", "lower", "job_s", "release_full"),
    "clients.load_schemas_s": ("s", "lower", "job_s", "release_full"),
    "clients.keycloak_ids": ("count", "higher", "job_s", "release_full"),
    "etl.data_access_s": ("s", "lower", "job_s", "release_full"),
    "etl.keycloak_collect_s": ("s", "lower", "job_s", "release_full"),
    "ontology.hpo_s": ("s", "lower", "job_s", "release_full"),
    "ontology.mondo_s": ("s", "lower", "job_s", "release_full"),
    "ontology.icd_s": ("s", "lower", "job_s", "release_full"),
    "ontology.ancestor_rows": ("count", "lower", "job_s", "release_full"),
    "ontology.fanout": ("ratio", "lower", "job_s", "release_full"),
    "groupings.donor_s": ("s", "lower", "job_s", "release_full"),
    "groupings.diagnoses_s": ("s", "lower", "job_s", "release_full"),
    "groupings.phenotypes_s": ("s", "lower", "job_s", "release_full"),
    "groupings.biospecimens_s": ("s", "lower", "job_s", "release_full"),
    "groupings.shared_s": ("s", "lower", "job_s", "release_full"),
    "groupings.cached_mb": ("MB", "lower", "job_s", "release_full"),
    "indexes.study_s": ("s", "lower", "job_s", "release_full"),
    "indexes.donor_s": ("s", "lower", "job_s", "release_full"),
    "indexes.file_s": ("s", "lower", "job_s", "release_full"),
    "indexes.docs": ("count", "higher", "docs_per_s", "release_full"),
    "indexes.max_doc_bytes": ("B", "lower", "job_s", "release_full"),
    **{f"queries.{q}_s": ("s", "lower", "query_geomean_s", "operator_suite")
       for q in QUERIES},
    **{f"queries.{q}_rows": ("count", "higher", "docs_per_s", "operator_suite")
       for q in QUERIES},
    **{f"{layer}.{field}": (unit, "lower", "job_s", where)
       for layer, where in [("sources", "release_full"), ("preprocess", "release_full"),
                            ("clients", "release_full"), ("ontology", "release_full"),
                            ("groupings", "release_full"), ("indexes", "release_full"),
                            ("etl", "release_full"), ("queries", "operator_suite")]
       for field, unit in [("self_s", "s"), ("spark_jobs", "count"),
                           ("spark_stages", "count"), ("tasks_failed", "count")]},
    "trace.job_s": ("s", "lower", "job_s", "both"),
    "trace.untraced_job_s": ("s", "lower", "job_s", "both"),
    "trace.overhead_s": ("s", "lower", "job_s", "both"),
}

PER_LAYER: dict[str, str] = {m: unit for m, (unit, *_rest) in MAPPING.items()}
