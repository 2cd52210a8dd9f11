"""Rate-source smoke of the full Kafka pipeline assembly.

No broker exists in the sandbox, so `stedi_kafka_pipeline`'s Kafka source and
sink can't connect — but everything between them (binary->string cast, the
envelope decode chains, the watermarked stream-stream join, the sink
projection) is plain Structured Streaming and CAN run.  This test drives
that exact production composition (`assemble_stedi_stream`, the same
function `stedi_kafka_pipeline` calls) from a `rate` source shaped like the
Kafka wire schema, through a memory sink — catching column-name or schema
typos the builder-only unit tests (tests/test_sinks.py) can't.
"""

import time

from pyspark.sql import functions as F

from spark_kafka_realm_time_data_pipeline_spark.functions.codec import (
    encode_customer_envelope,
)
from spark_kafka_realm_time_data_pipeline_spark.streaming.pipeline import (
    BIRTHDAY_SQL,
    EMAIL_SQL,
    assemble_stedi_stream,
)


def _as_kafka_wire(df, value_col: str):
    """Shape a stream like the Kafka source output: key/value binary +
    timestamp — the schema cast_kv_string (P1) expects."""
    return df.select(
        F.lit(None).cast("binary").alias("key"),
        F.col(value_col).cast("binary").alias("value"),
        F.col("timestamp"),
    )


def test_rate_source_drives_full_stedi_assembly(spark, tmp_path):
    # customers: rate value -> derived identity -> Redis CDC envelope wire
    cust_enriched = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "200")
        .load()
        .select(
            F.concat(F.lit("name"), F.col("value")).alias("c_name"),
            F.expr(EMAIL_SQL.format(k="value")).alias("email"),
            F.expr(f"cast({BIRTHDAY_SQL.format(k='value')} as string)").alias("birthDay"),
            F.col("timestamp"),
        )
    )
    cust_wire = encode_customer_envelope(
        cust_enriched,
        {
            "customerName": F.col("c_name"),
            "email": F.col("email"),
            "phone": F.lit("8015551212"),
            "birthDay": F.col("birthDay"),
        },
        keep=("timestamp",),
    )

    # events: rate value -> stedi-events JSON wire (synth_event_wire shape)
    ev_wire = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "200")
        .load()
        .select(
            F.to_json(
                F.struct(
                    F.expr(EMAIL_SQL.format(k="value")).alias("customer"),
                    (F.col("value") % 100).cast("double").alias("score"),
                    F.date_format(
                        "timestamp", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
                    ).alias("riskDate"),
                )
            ).alias("value"),
            F.col("timestamp"),
        )
    )

    out = assemble_stedi_stream(
        spark, _as_kafka_wire(cust_wire, "value"), _as_kafka_wire(ev_wire, "value")
    )
    assert out.isStreaming
    assert out.columns == ["key", "value"]  # Kafka sink projection

    q = (
        out.writeStream.format("memory")
        .queryName("rate_stedi_smoke")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if q.exception() is not None:
                break
            if sum(p["numInputRows"] for p in q.recentProgress) > 0:
                break
            time.sleep(0.5)
        assert q.exception() is None, q.exception()
        assert q.isActive
        assert sum(p["numInputRows"] for p in q.recentProgress) > 0, (
            "no micro-batch consumed any rate rows"
        )
    finally:
        q.stop()
