"""External surface over the package's query registry.

``entry(spark)`` runs one flagship query, ``queries()`` maps every
registered name to a ``(spark, sf_dir) -> DataFrame`` builder and
``oracle_sql()`` gives the DuckDB oracle SQL per oracled name.
``tests/test_oracle.py`` checks it against the DuckDB oracles:
``test_entry_smoke`` runs ``entry`` and checks that every oracled name
is a query, and ``test_oracle_match`` compares each oracled registry
query at sf0.01 with its oracle (column names, row count and
order-insensitive values).

All real logic lives in ``us_accidents_bigdata_pipeline_spark``; this
module only adapts the registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the engine package lives next to this file; make the import robust to
# whatever working directory the caller runs from
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from us_accidents_bigdata_pipeline_spark.plans import queries as _queries
from us_accidents_bigdata_pipeline_spark.plans import oracle_sql as _oracle_sql
from us_accidents_bigdata_pipeline_spark.session import ship_package


def _shipped(fn: Callable[[SparkSession, str], DataFrame]):
    """Ship the engine package to executors before the first query runs —
    pandas_udf/applyInPandasWithState functions are pickled by reference
    and must be importable on workers whatever the driver's CWD is."""

    def inner(spark: SparkSession, sf_dir: str) -> DataFrame:
        ship_package(spark)
        return fn(spark, sf_dir)

    return inner


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's signature
    severity-distribution aggregate (data_cleaning.py:144) mapped onto
    orders.o_orderpriority (FIXTURES.md §6)."""
    return _shipped(_queries()["priority_distribution"])(
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: _shipped(fn) for name, fn in _queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query (omissions → rows-only check)."""
    return _oracle_sql()
