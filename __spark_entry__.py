"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash); tests/test_oracle_parity.py makes the
same comparison for every query at sf0.001.

All three functions delegate to the engine package's query registry
(``spark_kafka_realm_time_data_pipeline_spark.queries.registry``) —
every implemented operator from SURVEY.md §2 is a QuerySpec there.
"""

from __future__ import annotations

import os
import sys

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Make the package importable regardless of the driver's cwd.
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from spark_kafka_realm_time_data_pipeline_spark.queries import registry  # noqa: E402
from spark_kafka_realm_time_data_pipeline_spark.session import configure_runtime  # noqa: E402
from spark_kafka_realm_time_data_pipeline_spark.streaming.pipeline import stedi_batch  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the STEDI join, sparkpykafkajoin.py:184-187 analog)
    on /root/testdata/sf0.001; driver checks rows>0."""
    configure_runtime(spark)
    return stedi_batch(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, spec in registry().items():
        fn = spec.fn

        def wrapped(spark: SparkSession, sf_dir: str, _fn=fn) -> DataFrame:
            configure_runtime(spark)
            return _fn(spark, sf_dir)

        out[name] = wrapped
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB twin for each SQL-expressible query; omitted entries get the
    driver's weaker rows-only check."""
    return {name: spec.oracle for name, spec in registry().items() if spec.oracle is not None}
