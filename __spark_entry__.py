"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``xml_processor_spark`` package; this module is
a thin adapter over its query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from xml_processor_spark.registry import get_oracles, get_queries, load_all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape, SURVEY §2 `q_agg_group`) on sf0.001."""
    return get_queries()["q_agg_group"](spark, "/root/testdata/sf0.001")


def queries() -> Mapping[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return get_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per SQL-expressible key (rows-only keys omitted),
    as a plain dict: every query module is imported and checked."""
    load_all()
    return dict(get_oracles())
