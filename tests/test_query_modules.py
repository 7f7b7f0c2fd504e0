"""Every module in ``cqdg_etl_spark/queries/`` is reached by importing the
package. A query module that the package never imports registers
nothing and is code that no driver or benchmark runs."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import cqdg_etl_spark.queries as queries_pkg


def test_package_import_loads_every_query_module():
    # A fresh interpreter: in this process, test modules may already
    # have imported query modules that the package itself never reaches.
    code = (
        "import json, sys; import cqdg_etl_spark.queries; "
        "print(json.dumps(sorted(sys.modules)))"
    )
    loaded = set(
        json.loads(
            subprocess.run(
                [sys.executable, "-c", code],
                capture_output=True,
                text=True,
                check=True,
                cwd=Path(__file__).resolve().parent.parent,
            ).stdout
        )
    )
    pkg_dir = Path(queries_pkg.__file__).parent
    unreached = [
        p.name
        for p in sorted(pkg_dir.glob("*.py"))
        if p.stem != "__init__"
        and f"cqdg_etl_spark.queries.{p.stem}" not in loaded
    ]
    assert not unreached, f"query modules the package never imports: {unreached}"
