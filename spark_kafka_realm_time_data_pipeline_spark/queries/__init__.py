"""Query registry — the driver-facing operator inventory.

Every implemented operator from SURVEY.md §2 is registered here as a
``QuerySpec``: a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) the ANSI-SQL twin DuckDB runs as the correctness oracle.
Column names/aliases are identical on both sides (driver hashes values after
sorting columns by name).

Numeric-parity discipline (SURVEY.md §7 "hard parts"):
- money/maths aggregates go through exact DECIMAL arithmetic and are cast to
  DOUBLE only at the end — bit-identical in Spark and DuckDB;
- timestamps are pinned to UTC (session.py) and emitted as strings or
  date_trunc'd values, never raw zone-dependent renderings;
- only IEEE-exact scalar functions (abs/floor/ceil/sqrt/arithmetic) are
  hash-compared; libm-dependent ones (ln/exp) are rounded.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


class QuerySpec(NamedTuple):
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    doc: str = ""


def registry() -> dict[str, QuerySpec]:
    from . import curation, llm, reference, relational, streaming, tpch, udfs

    merged: dict[str, QuerySpec] = {}
    for mod in (llm, streaming, udfs, reference, relational, tpch, curation):
        for name, spec in mod.QUERIES.items():
            if name in merged:
                raise ValueError(f"duplicate query name: {name}")
            merged[name] = spec
    return merged
