"""The query registry: every registered query's name -> function, and the
DuckDB oracle SQL of every query that has one.

Each operator module declares its own ``QUERIES`` / ``ORACLE_SQL``; this
module merges them in module order.  The driver contract
(``__spark_entry__``), the CLI and ``bench.py`` all read these two maps,
so a query is named the same everywhere it appears.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from big_data_toolkit_spark.multimodal import binary_ops as multimodal
from big_data_toolkit_spark.operators import (
    analytics_ext,
    curation,
    dedup,
    inverted_index,
    pagerank,
    quality,
    relational_ext,
    similarity,
    spam,
    sql_analytics,
    text_analytics,
)
from big_data_toolkit_spark.plans import materialize, scale
from big_data_toolkit_spark.streaming import anomaly as streaming_anomaly
from big_data_toolkit_spark.streaming import windows as streaming_windows

Query = Callable[[SparkSession, str], DataFrame]

_MODULES = (
    sql_analytics,
    text_analytics,
    inverted_index,
    spam,
    pagerank,
    streaming_windows,
    streaming_anomaly,
    dedup,
    similarity,
    quality,
    relational_ext,
    analytics_ext,
    multimodal,
    curation,
    scale,
    materialize,
)


def queries() -> dict[str, Query]:
    out: dict[str, Query] = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLE_SQL)
    return out
