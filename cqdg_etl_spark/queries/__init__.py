"""Query registry package — importing this populates REGISTRY."""

from cqdg_etl_spark.queries.registry import REGISTRY, Query, load, query

# Importing for registration side effects.
from cqdg_etl_spark.queries import tpch as _tpch  # noqa: F401,E402
from cqdg_etl_spark.queries import tpch_extra as _tpch_extra  # noqa: F401,E402
from cqdg_etl_spark.queries import tpch_more as _tpch_more  # noqa: F401,E402
from cqdg_etl_spark.queries import tpch_final as _tpch_final  # noqa: F401,E402
from cqdg_etl_spark.queries import ops as _ops  # noqa: F401,E402
from cqdg_etl_spark.queries import events as _events  # noqa: F401,E402
from cqdg_etl_spark.queries import streaming_q as _streaming_q  # noqa: F401,E402
from cqdg_etl_spark.queries import pipeline_q as _pipeline_q  # noqa: F401,E402
from cqdg_etl_spark.queries import temporal_q as _temporal_q  # noqa: F401,E402
from cqdg_etl_spark.queries import scd_q as _scd_q  # noqa: F401,E402
from cqdg_etl_spark.queries import sqlfeat as _sqlfeat  # noqa: F401,E402

# Training-data operator modules. These MUST fail loudly: a typo'd
# import in any one of them would otherwise silently shrink REGISTRY,
# and neither the driver (which iterates queries()) nor the plan lint
# (which iterates REGISTRY) would notice the missing names.
from cqdg_etl_spark.queries import datapipe as _datapipe  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe2 as _datapipe2  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe3 as _datapipe3  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe4 as _datapipe4  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe5 as _datapipe5  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe6 as _datapipe6  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe7 as _datapipe7  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe8 as _datapipe8  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe9 as _datapipe9  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe10 as _datapipe10  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe11 as _datapipe11  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe12 as _datapipe12  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe13 as _datapipe13  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe14 as _datapipe14  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe15 as _datapipe15  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe16 as _datapipe16  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe17 as _datapipe17  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe18 as _datapipe18  # noqa: F401,E402
from cqdg_etl_spark.queries import datapipe19 as _datapipe19  # noqa: F401,E402

# Silent-shrink guard: every module above registers a fixed number of
# queries; pin the total so a partial registration (e.g. an exception
# swallowed during module init) fails the import, not just a test.
EXPECTED_REGISTRY_SIZE = 246
if len(REGISTRY) < EXPECTED_REGISTRY_SIZE:
    raise ImportError(
        f"query registry shrank: {len(REGISTRY)} < {EXPECTED_REGISTRY_SIZE} expected"
    )

__all__ = ["REGISTRY", "Query", "query", "load"]
