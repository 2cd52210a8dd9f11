"""Reference-parity queries — SURVEY.md §2.1-§2.4, batch analogs.

Each entry re-expresses one operator row from the reference inventory
(file:line citations in the docstrings/comments) over the synthetic corpus.
The oracle SQL computes the same *result* directly — for codec-chain queries
the oracle skips the encode/decode roundtrip (base64(x) then unbase64(x) is
identity), which is exactly what makes it an independent check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.codec import customer_birth_year, decode_redis_envelope
from ..sources.files import load_table
from ..streaming.pipeline import (
    stedi_batch,
    stedi_batch_serialized,
    synth_customer_wire,
)
from . import QuerySpec

# DuckDB twins of streaming/pipeline.py EMAIL_SQL / BIRTHDAY_SQL
_ORA_EMAIL = "concat('user', CAST({k} AS VARCHAR), '@test.com')"
_ORA_BIRTHYEAR = (
    "strftime(DATE '1940-01-01' + CAST(({k} * 73) % 21915 AS INT), '%Y')"
)


def q_stedi_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+P1-P9: the full STEDI pipeline in batch (sparkpykafkajoin.py)."""
    return stedi_batch(spark, sf_dir)


def q_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2->P4->P5->P2->P3->P6->P7 codec chain alone
    (sparkpyrediskafkastreamtoconsole.py:90-133)."""
    return customer_birth_year(decode_redis_envelope(synth_customer_wire(spark, sf_dir)))


def q_envelope_pyds_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 via the Spark 4 PYTHON DATA SOURCE API: the Redis-CDC envelope
    wire read through a registered custom source
    (``spark.read.format("customer_envelope")``) instead of a parquet
    re-encode — the idiomatic §2.1 source-extension point (the broker-less
    analog of the reference's Kafka Connect Redis source + Python
    producer, sparkpykafkajoin.py:48-54).  Downstream is the SAME Catalyst
    decode chain as envelope_roundtrip, and the oracle is the same
    identity-law SQL — proving the registered source emits the exact wire
    the codec chain expects."""
    from ..sources.envelope_source import SOURCE_NAME, register

    register(spark)
    n = load_table(spark, sf_dir, "customer").count()
    wire = spark.read.format(SOURCE_NAME).option("n", n).load()
    return customer_birth_year(decode_redis_envelope(wire))


def q_envelope_pyds_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 streaming twin: the SAME registered Python data source read with
    ``spark.readStream`` — its ``DataSourceStreamReader`` tracks a single
    integer offset like a Kafka partition and replays [0, n) under
    availableNow — through the same decode chain to the memory sink."""
    from ..sources.envelope_source import SOURCE_NAME, register
    from ..streaming.runner import run_to_memory

    register(spark)
    n = load_table(spark, sf_dir, "customer").count()
    wire = spark.readStream.format(SOURCE_NAME).option("n", n).load()
    decoded = customer_birth_year(decode_redis_envelope(wire))
    return run_to_memory(decoded, spark, no_data_batches=False)


def q_envelope_pyds_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 via the Python Data Source WRITER API: the risk stream's sink
    side (the reference publishes to a Kafka topic,
    sparkpykafkajoin.py:202-209) expressed as a registered
    ``DataSourceStreamWriter`` — per-partition staging writes, two-phase
    commit renaming each micro-batch's files into place, abort discarding
    them.  The written JSON-lines are read back and returned, so the
    oracle checks the full write-then-read round trip.

    Local-mode caveat (same as every foreachBatch parquet sink here): the
    sink directory is driver-local tempdir, valid because local[] workers
    share the driver's filesystem; on a real cluster set
    ``SPARK_GRAFT_SCRATCH`` to shared storage (``runner.scratch_dir``)."""
    import os
    import shutil

    from ..functions.codec import parse_stedi_events
    from ..sources.envelope_source import SOURCE_NAME, register
    from ..streaming.pipeline import synth_event_wire_stream
    from ..streaming.runner import drain, scratch_dir

    register(spark)
    risk = parse_stedi_events(synth_event_wire_stream(spark, sf_dir)).select(
        "customer", "score"
    )
    out_dir = scratch_dir("pyds_sink_")
    try:
        # the checkpoint sits beside the committed ``batch-*`` files, which
        # are all the read-back globs
        drain(
            risk.writeStream.format(SOURCE_NAME)
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
            .trigger(availableNow=True)
            .start()
        )
        back = spark.read.schema("customer string, score double").json(
            f"{out_dir}/batch-*"
        )
        return back.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def q_cast_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: selectExpr binary/typed->string casts (sparkpykafkajoin.py:57)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.selectExpr(
        "cast(event_id as string) as event_key",
        "cast(user_id as string) as user_key",
        "event_type",
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: from_json over a declared schema (sparkpykafkajoin.py:91) plus the
    get_json_object path-extraction variant."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k INT"))
    return parsed.select(
        "event_id",
        F.col("p.k").alias("prop_k"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k_path"),
    )


def q_null_filter_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6+P7: null-rejecting WHERE + split-derivation
    (sparkpykafkajoin.py:127,131) over lineitem ship dates."""
    li = load_table(spark, sf_dir, "lineitem")
    dated = li.select(
        "l_orderkey",
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_str"),
    ).filter(F.col("ship_str").isNotNull() & F.col("l_orderkey").isNotNull())
    return dated.select(
        "l_orderkey",
        "l_linenumber",
        F.split("ship_str", "-").getItem(0).alias("ship_year"),
        F.split("ship_str", "-").getItem(1).alias("ship_month"),
    )


def q_temp_view_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8+P10: temp-view registration + SQL projection over it
    (sparkpykafkajoin.py:170-178)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_view_ref")
    return spark.sql(
        "SELECT event_id, user_id, value AS score FROM events_view_ref "
        "WHERE event_type = 'purchase'"
    )


def q_serialize_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: to_json(struct(*)) Kafka-sink projection (sparkpykafkajoin.py:202)."""
    return stedi_batch_serialized(spark, sf_dir)


QUERIES: dict[str, QuerySpec] = {
    "stedi_flagship": QuerySpec(
        q_stedi_flagship,
        f"""
        SELECT {_ORA_EMAIL.format(k='e.user_id')} AS customer,
               e.value AS score,
               {_ORA_EMAIL.format(k='c.c_custkey')} AS email,
               {_ORA_BIRTHYEAR.format(k='c.c_custkey')} AS birthYear
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        """,
        "flagship stream-stream join analog (J1)",
    ),
    "envelope_roundtrip": QuerySpec(
        q_envelope_roundtrip,
        f"""
        SELECT {_ORA_EMAIL.format(k='c_custkey')} AS email,
               {_ORA_BIRTHYEAR.format(k='c_custkey')} AS birthYear
        FROM customer
        """,
        "Redis-CDC envelope codec chain (P2/P4/P5)",
    ),
    "envelope_pyds_roundtrip": QuerySpec(
        q_envelope_pyds_roundtrip,
        f"""
        SELECT {_ORA_EMAIL.format(k='c_custkey')} AS email,
               {_ORA_BIRTHYEAR.format(k='c_custkey')} AS birthYear
        FROM customer
        """,
        "envelope wire via registered Spark 4 Python Data Source (batch read)",
    ),
    "envelope_pyds_stream": QuerySpec(
        q_envelope_pyds_stream,
        f"""
        SELECT {_ORA_EMAIL.format(k='c_custkey')} AS email,
               {_ORA_BIRTHYEAR.format(k='c_custkey')} AS birthYear
        FROM customer
        """,
        "envelope wire via Python Data Source stream reader (availableNow replay)",
    ),
    "envelope_pyds_sink": QuerySpec(
        q_envelope_pyds_sink,
        f"""
        SELECT {_ORA_EMAIL.format(k='user_id')} AS customer,
               value AS score
        FROM events
        """,
        "risk stream through the Python Data Source stream WRITER (two-phase commit)",
    ),
    "cast_projection": QuerySpec(
        q_cast_projection,
        """
        SELECT CAST(event_id AS VARCHAR) AS event_key,
               CAST(user_id AS VARCHAR) AS user_key,
               event_type
        FROM events
        """,
        "P1 selectExpr casts",
    ),
    "json_extract": QuerySpec(
        q_json_extract,
        """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
               CAST(json_extract_string(props, '$.k') AS INT) AS prop_k_path
        FROM events
        """,
        "P2 from_json / get_json_object",
    ),
    "null_filter_split": QuerySpec(
        q_null_filter_split,
        """
        SELECT l_orderkey, l_linenumber,
               strftime(l_shipdate, '%Y') AS ship_year,
               strftime(l_shipdate, '%m') AS ship_month
        FROM lineitem
        WHERE l_shipdate IS NOT NULL AND l_orderkey IS NOT NULL
        """,
        "P6 null filter + P7 split derivation",
    ),
    "temp_view_sql": QuerySpec(
        q_temp_view_sql,
        """
        SELECT event_id, user_id, value AS score FROM events
        WHERE event_type = 'purchase'
        """,
        "P8/P10 temp view + SQL projection",
    ),
    # Upgraded r19 (VERDICT r18 item 6) from rows-only to a FULL JSON
    # string oracle: the r15 "double rendering differs" assumption was
    # re-tested and does NOT bite on this pipeline's value domain — the
    # only double in the struct is events.value (2-decimal, < 1e7), where
    # Jackson's Double.toString (Spark) and DuckDB's shortest-round-trip
    # rendering agree byte-for-byte; strings are plain ASCII.  A future
    # corpus planting a pathological double (>= 1e7 or sub-1e-3) would
    # fail the hash LOUDLY, which is the correct failure mode.
    "serialize_json": QuerySpec(
        q_serialize_json,
        f"""
        SELECT {_ORA_EMAIL.format(k='c.c_custkey')} AS key,
               to_json(struct_pack(
                 customer := {_ORA_EMAIL.format(k='e.user_id')},
                 score := e.value,
                 email := {_ORA_EMAIL.format(k='c.c_custkey')},
                 birthYear := {_ORA_BIRTHYEAR.format(k='c.c_custkey')}
               ))::VARCHAR AS value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        """,
        "P9 to_json struct serialization (full JSON string oracle, r19)",
    ),
}
