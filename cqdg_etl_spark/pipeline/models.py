"""Core pipeline data models (reference: models/*.scala)."""

from __future__ import annotations

import re
import unicodedata
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def sanitize(name: str) -> str:
    """Normalize a dataset/file name for schema matching: strip extension,
    NFD-normalize, drop non-letters, lowercase
    (reference: EtlUtils.scala:16-21)."""
    base = name.split("/")[-1]
    base = re.sub(r"\.[A-Za-z0-9]+$", "", base)
    base = unicodedata.normalize("NFD", base)
    base = re.sub(r"[^A-Za-z]", "", base)
    return base.lower()


# The release metadata columns: stamped on the study rows by pre-process,
# carried by every index document and partitioning every index tree
# (reference: ProcessETLConfig.scala:36-38).
RELEASE_COLUMNS = ("dictionary_version", "study_version", "study_version_creation_date")


@dataclass(frozen=True)
class Metadata:
    """Release metadata extracted from a 1-row frame
    (reference: models/Metadata.scala:3-5); its fields are
    ``RELEASE_COLUMNS``."""

    study_version: str
    study_version_creation_date: str
    dictionary_version: str


@dataclass
class NamedFrame:
    """A DataFrame and its dataset name
    (reference: models/NamedDataFrame.scala:5-11)."""

    name: str
    df: DataFrame


@dataclass(frozen=True)
class Schema:
    """Versioned per-entity column allow-list
    (reference: models/Schema.scala:3)."""

    name: str
    columns: tuple[str, ...] = field(default_factory=tuple)
