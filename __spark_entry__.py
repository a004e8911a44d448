"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in the ``cortana_intelligence_customer360_spark``
package; this module is a thin adapter. SURVEY.md §2 is the normative
operator inventory behind the registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cortana_intelligence_customer360_spark import registry  # noqa: E402
from cortana_intelligence_customer360_spark.features.core import (  # noqa: E402
    feat_profile_join,
)
from cortana_intelligence_customer360_spark.session import as_op  # noqa: E402

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship Customer-360 wide-profile query on sf0.001 (rows>0)."""
    return as_op(feat_profile_join)(spark, _SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    q, _ = registry.build()
    return q


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query id (O-tier operators only)."""
    _, o = registry.build()
    return o
