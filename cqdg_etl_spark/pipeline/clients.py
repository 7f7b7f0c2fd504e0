"""External-service ports (reference: clients/inf/*.scala).

The reference talks to three HTTP services: Lectern (dictionary schemas),
an ID server (hash → internal id), and Keycloak (authz resource per
file). Each is a Protocol here, which is where a test or a deployment
plugs in its own implementation, and each has one local default:

- Dictionary: load from a JSON fixture (same shape as Lectern's answer).
- ID server: NOT a service call — the default implementation resolves
  ids deterministically ON-EXECUTOR (internal_id = entity_sha1prefix),
  because the reference's collect-to-driver + HTTP POST
  (PreProcessUtils.scala:93-100) cannot scale past driver memory.
- Keycloak: a recorder; the process stage hands it the exact
  internal_file_id set of the files tree, the set the reference would
  register.
"""

from __future__ import annotations

import json
from typing import Protocol

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cqdg_etl_spark.pipeline.models import Schema


class Dictionary(Protocol):
    def load_schemas(self) -> dict[str, list[Schema]]: ...


class IdResolver(Protocol):
    def resolve(self, df: DataFrame, entity: str) -> DataFrame:
        """df has a ``cqdg_hash`` column; return df with ``internal_id``."""
        ...


class Keycloak(Protocol):
    def is_enabled(self) -> bool: ...

    def create_resources(self, ids: set[str]) -> int: ...


class FixtureDictionary:
    """Dictionary schemas from a JSON file:
    ``{"<version>": {"<entity>": ["col", ...], ...}}``.

    Mirrors DictionaryClient.scala:23-77 including the two quirks: every
    entity keeps its generated ``internal_<entity>_id`` column, and the
    ``file`` schema is hardcoded by the client rather than versioned.
    """

    def __init__(self, path: str):
        self.path = path

    def load_schemas(self) -> dict[str, list[Schema]]:
        with open(self.path) as fh:
            raw = json.load(fh)
        out: dict[str, list[Schema]] = {}
        for version, entities in raw.items():
            schemas = []
            for name, cols in entities.items():
                sanitized = name.replace("_", "").replace("-", "").lower()
                cols = list(cols) + [f"internal_{sanitized}_id"]
                schemas.append(Schema(sanitized, tuple(cols)))
            out[version] = schemas
        return out


class DeterministicIdResolver:
    """internal_id = ``{entity}_{first 16 hex of the sha1 business hash}``
    — derived on-executor, reproducible everywhere, no shuffle, no
    external state. The scale-correct replacement for the reference's ID
    service round trip."""

    def resolve(self, df: DataFrame, entity: str) -> DataFrame:
        return df.withColumn(
            "internal_id",
            F.concat_ws("_", F.lit(entity), F.substring("cqdg_hash", 1, 16)),
        )


class RecordingKeycloak:
    """Test/no-op Keycloak: records the resource ids it was asked to
    create (the reference asserts exactly this set,
    ProcessETLTest.scala:13-19)."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.created: set[str] = set()

    def is_enabled(self) -> bool:
        return self.enabled

    def create_resources(self, ids: set[str]) -> int:
        self.created |= ids
        return len(ids)
