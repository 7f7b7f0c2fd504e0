"""The CQDG clinical-metadata ETL, re-expressed for PySpark.

Two stages mirroring the reference engine's semantics (SURVEY.md §3):

- pre-process (preprocess.py): TSV entities → dictionary validation →
  stable internal IDs → parquet.
- process (etl.py): parquet entities + ontology tables → the three nested
  document indexes (studies / donors / files) as partitioned JSON.

Differences from the reference, by design (all documented inline):
- ID resolution is pure-Spark deterministic (no HTTP collect-to-driver
  round trip); the dictionary, ID server and Keycloak are pluggable ports
  (clients.py) with local defaults.
- file_size is hash-derived deterministic, not Random.nextDouble.
- The 10 shared intermediate frames are cached before the 3 index builds
  (the reference recomputes them per index).
- Cross-join domains are broadcast instead of repartition(1).
"""

from cqdg_etl_spark.pipeline.models import Metadata, NamedFrame, Schema
