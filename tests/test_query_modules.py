"""Every module of a package is reached by importing its entry points.

- ``cqdg_etl_spark/queries/``: a query module that the package never
  imports registers nothing and is code that no driver or benchmark runs.
- ``cqdg_etl_spark/pipeline/``: a module that neither stage nor the CLI
  imports is code that no release runs. ``fixtures`` is the exception: the
  tests, the benchmark and ``queries/pipeline_q`` import it.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def unreached(imports: list[str], package: str, exempt: set[str] = frozenset()) -> list[str]:
    """Modules under ``package`` (recursively) that a fresh interpreter
    importing ``imports`` does not load, less the ``exempt`` ones."""
    # A fresh interpreter: in this process, test modules may already
    # have imported modules that the entry points themselves never reach.
    code = (
        f"import json, sys; import {', '.join(imports)}; "
        "print(json.dumps(sorted(sys.modules)))"
    )
    loaded = set(
        json.loads(
            subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True,
                text=True,
                check=True,
                cwd=REPO,
            ).stdout
        )
    )
    modules = []
    for path in sorted((REPO / package.replace(".", "/")).rglob("*.py")):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        modules.append(".".join(parts))
    return [m for m in modules if m not in loaded and m.rsplit(".", 1)[-1] not in exempt]


def test_package_import_loads_every_query_module():
    missing = unreached(["cqdg_etl_spark.queries"], "cqdg_etl_spark.queries")
    assert not missing, f"query modules the package never imports: {missing}"


def test_stages_and_cli_load_every_pipeline_module():
    entry = [f"cqdg_etl_spark.pipeline.{m}" for m in ("etl", "preprocess", "cli")]
    missing = unreached(entry, "cqdg_etl_spark.pipeline", exempt={"fixtures"})
    assert not missing, f"pipeline modules no stage or CLI imports: {missing}"
