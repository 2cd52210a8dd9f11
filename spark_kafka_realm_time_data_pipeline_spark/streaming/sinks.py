"""Streaming sinks — K1/K2 parity plus the engine's test/arbitrary sinks.

Reference inventory (SURVEY.md §2.2):
- K1 Kafka sink: sparkpykafkajoin.py:202-209 — (key,value) strings to
  `risk-score-topic` with a checkpoint dir, then awaitTermination().
- K2 console sink: sparkpyrediskafkastreamtoconsole.py:154,
  sparkpyeventskafkastreamtoconsole.py:66 (the second console sink at
  sparkpykafkajoin.py:211 is dead code — :209 blocks forever).

Engine versions return the started StreamingQuery instead of blocking, use
availableNow for bounded replays, and add foreachBatch for arbitrary batch
sinks (the escape hatch the reference lacks).
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def kafka_sink(
    df: DataFrame,
    topic: str,
    *,
    checkpoint_dir: str,
    bootstrap_servers: str = "localhost:9092",
    available_now: bool = False,
) -> StreamingQuery:
    """K1: (key,value) string columns to a Kafka topic, exactly-once-ish via
    checkpointing (sparkpykafkajoin.py:202-209). The caller owns
    awaitTermination — the reference's inline .awaitTermination() is what
    made its second sink unreachable.

    ``checkpoint_dir`` is REQUIRED and must be stable across restarts: a
    per-call temp dir (the old default) silently discards the offset log on
    restart, replaying or dropping records — the opposite of the
    exactly-once contract the checkpoint exists for.  Test-only sinks
    (console/foreachBatch below) keep ephemeral checkpoints by design."""
    if not checkpoint_dir:
        raise ValueError(
            "kafka_sink requires a stable checkpoint_dir; exactly-once resume "
            "is impossible with an ephemeral checkpoint"
        )
    writer = (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def console_sink(
    df: DataFrame,
    output_mode: str = "append",
    truncate: bool = True,
    num_rows: int = 20,
    available_now: bool = True,
) -> StreamingQuery:
    """K2: console sink with the reference's default 20-row truncation
    ('only showing top 20 rows' in its logs)."""
    writer = (
        df.writeStream.format("console")
        .outputMode(output_mode)
        .option("truncate", str(truncate).lower())
        .option("numRows", str(num_rows))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="console_ckpt_"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_sink(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    output_mode: str = "append",
    available_now: bool = True,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Arbitrary batch sink: fn(batch_df, batch_id) per micro-batch — how
    the engine writes streams to parquet/Delta/JDBC targets the streaming
    API lacks native sinks for.

    ``checkpoint_dir`` is the caller's to remove; without one the sink
    checkpoints into a fresh temp dir that is never removed."""
    writer = (
        df.writeStream.foreachBatch(fn)
        .outputMode(output_mode)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="feb_ckpt_"),
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
