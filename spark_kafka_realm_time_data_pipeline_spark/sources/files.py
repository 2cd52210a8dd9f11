"""Batch file sources over the synthetic corpus.

The reference's only sources are Kafka topics (``sparkpykafkajoin.py:48-54``,
``:136-142``); the engine adds first-class batch scans (parquet — columnar,
vectorized, predicate/column pushdown) as the bounded analog, which is what
the DuckDB-oracle harness exercises.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from ..schemas import TABLES

# Corpus timestamp columns, normalized to TIMESTAMP_LTZ-under-UTC at the
# source layer regardless of how the parquet writer encoded them (the corpus
# generator has shipped both TIMESTAMP(NANOS) and plain timestamp[us] over
# time).  Everything downstream — watermarks, unix_micros, the DuckDB
# oracle's UTC-naive timestamps — assumes LTZ under the pinned UTC zone.
_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}

# Backwards-compatible alias (older call sites / docs name the nanos shim).
_NANO_TS_COLS = _TS_COLS


def convert_nano_ts(df: DataFrame, name: str) -> DataFrame:
    """Normalize corpus timestamp columns to TIMESTAMP (LTZ) under UTC.

    Two writer encodings are handled:
    - TIMESTAMP(NANOS) read as long via nanosAsLong: convert to micros with
      integer division, NOT floor(x/1000) — doubles lose precision at
      ~1.7e18 nanos (> 2^53) and round 1 µs high on ~12% of rows, breaking
      hash parity with the DuckDB oracle.
    - plain timestamp[us] read as TIMESTAMP_NTZ (if the session missed
      spark.sql.parquet.inferTimestampNTZ.enabled=false): reinterpret the
      wall-clock value as UTC.  With the session zone pinned to UTC this is
      a zero-cost logical cast, bit-identical to the conf-based read.
    """
    for col in _TS_COLS.get(name, ()):
        if col not in df.columns:
            continue
        dt = df.schema[col].dataType
        if isinstance(dt, LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(dt, TimestampNTZType):
            # NTZ->LTZ cast interprets the wall-clock in the session zone,
            # which session.py pins to UTC.
            df = df.withColumn(col, F.col(col).cast(TimestampType()))
    return df


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan. Catalyst handles column pruning + filter
    pushdown; at 100 TB the same call reads a partitioned table and prunes
    partitions — no code change."""
    return convert_nano_ts(read_parquet(spark, table_path(sf_dir, name)), name)


# Parquet footer schemas, keyed by path and validated by the path's inode +
# mtime: a read without a schema runs one Spark job (~50-70 ms) to infer it
# from the footers, and the engine reads the same corpus tables and staged
# indexes over and over (6 index reads per ingest batch, 1-4 sources per
# streaming query).  Only the schema is cached — the file listing stays
# live, so an append, merge or compaction is seen by the next read.  A
# rewrite (Spark's overwrite deletes and recreates the directory, an append
# adds entries to it) moves the stamp, so the next read re-infers.
_SCHEMA_CACHE: dict[str, tuple[tuple[int, int], object]] = {}


def _table_schema(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
    except OSError:  # not a local path (remote FS, file: URI): no caching
        return spark.read.parquet(path).schema
    stamp = (st.st_ino, st.st_mtime_ns)
    hit = _SCHEMA_CACHE.get(path)
    if hit is None or hit[0] != stamp:
        hit = _SCHEMA_CACHE[path] = (stamp, spark.read.parquet(path).schema)
    return hit[1]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema given from the cache
    above, so a repeated read of an unchanged table runs no Spark job."""
    return spark.read.schema(_table_schema(spark, path)).parquet(path)


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming scan of the same corpus table (file source): the bounded
    analog of the reference's Kafka topic scans (sparkpykafkajoin.py:48-54).
    The file source needs a declared schema (no inference on streams) — read
    it from the parquet footer, which is a metadata-only operation (cached
    per path+mtime)."""
    schema = _table_schema(spark, table_path(sf_dir, name))
    # FileStreamSource requires a directory basePath; select the one table's
    # file with a glob filter over the corpus dir.
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return convert_nano_ts(df, name)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (the reference's
    createOrReplaceTempView pattern, sparkpykafkajoin.py:91-93)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
