"""The query registry: every Spark query and its DuckDB oracle.

Each ``queries*.py`` module calls ``register(name, fn, oracle_sql)`` once per
query, next to the query's code.  ``fn(spark, sf_dir)`` returns a DataFrame;
``oracle_sql`` is the independent DuckDB SQL over the same parquet tables
(``dggstools_spark.queries.TABLES``), with identical column names.  Order is
registration order, i.e. the import order of the query modules.

This module imports nothing from the package, so every query module can
import it without an import cycle.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

#: flagship cell resolution, shared by the cell-count and focal queries; it
#: lives here so that queries.py registers its queries before importing the
#: other query modules
CELL_RES = 5


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register(name: str, fn: Callable[[SparkSession, str], DataFrame],
             oracle_sql: str) -> None:
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered "
                         f"by {QUERIES[name].__module__}")
    QUERIES[name] = fn
    ORACLES[name] = oracle_sql
