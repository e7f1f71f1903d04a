"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship CDC replay at sf0.001; ``queries`` exposes one
entry per implemented operator family from SURVEY.md §2 (plus the
training-data ops); ``oracle_sql`` holds the DuckDB twins (rows-only checks
for the non-SQL-expressible CDC replay / LSH ANN / multimodal entries).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# import the engine from this checkout, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from logminer_kafka_connect_spark import entry_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: full CDC replay (snapshot + change-event stream ->
    merged pages table) at sf0.001; returns the final state projection."""
    return entry_queries.QUERIES["cdc_replay"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(entry_queries.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(entry_queries.ORACLES)
