"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship parse→enrich→route→aggregate over sf0.001.
queries()     — one callable per implemented operator family
                (see blogparser_spark/queries.py), (spark, sf_dir) -> DataFrame.
oracle_sql()  — exact DuckDB SQL twin for each query (same column names,
                floats rounded both sides, arrays joined to strings).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
# executors' python workers need the package importable too (pandas UDFs)
os.environ["PYTHONPATH"] = (
    _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")
    if os.environ.get("PYTHONPATH")
    else _REPO
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from blogparser_spark.queries import pipeline_sink_counts

    return pipeline_sink_counts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from blogparser_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from blogparser_spark.queries import ORACLE_SQL

    return dict(ORACLE_SQL)
