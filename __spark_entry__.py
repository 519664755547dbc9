"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: the full engine spine on sf0.001 (joined+aggregated
                reader -> transmogrify -> logistic regression -> scores).
queries()     — one entry per implemented operator family from SURVEY.md §2
                plus the LLM-pipeline extensions; each (spark, sf_dir) ->
                DataFrame, built through the transmogrifai_spark engine API.
oracle_sql()  — matching DuckDB SQL for every SQL-expressible query (hash
                compared by the driver); seeded-hash / ML / vector outputs
                are rows-only by design.
"""
from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on the sf0.001 testdata (the contract checks rows>0): the
    full AutoML spine — joined+aggregated reader -> transmogrify -> sanity
    check -> CV model selection -> scores (the reference's README flow).
    The caller's session first gets the engine session confs."""
    from transmogrifai_spark.flagship import entry_frame
    from transmogrifai_spark.session import apply_engine_confs
    return entry_frame(apply_engine_confs(spark))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry query; each applies the engine session confs to the
    session it is handed before building its frame."""
    from transmogrifai_spark.driver_queries import SPARK_QUERIES
    from transmogrifai_spark.session import apply_engine_confs

    def engine_step(fn):
        return lambda spark, sf_dir: fn(apply_engine_confs(spark), sf_dir)

    return {name: engine_step(fn) for name, fn in SPARK_QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    from transmogrifai_spark.driver_queries import ORACLES
    return dict(ORACLES)
