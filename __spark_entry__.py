"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship topology query at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 plus
training-data extensions); each callable (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — DuckDB-equivalent SQL per query (omitted for
hash/LSH-based ops, which are not SQL-expressible → rows-only check).

Implementations live in willa_spark.queries.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the as-of enrichment topology (stream⋈table join through
    the topology DSL) on /root/testdata/sf0.001."""
    from willa_spark.queries import QUERIES

    return QUERIES["asof_enrich"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The fixed ≤50-entry gate willa_spark.queries.DRIVER_GATE: the
    driver records oracle rows for at most 50 queries, so this returns
    the 19 ``run_topology`` rows plus one oracle-bearing row per
    operator family. The rest (willa_spark.queries.DRIVER_OMIT) are
    still implemented, registered and benchmarked via
    willa_spark.queries.QUERIES."""
    from willa_spark.queries import driver_queries

    return driver_queries()


def oracle_sql() -> dict[str, str]:
    from willa_spark.queries import driver_oracles

    return driver_oracles()
