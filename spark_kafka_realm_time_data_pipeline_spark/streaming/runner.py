"""Streaming execution harness — run a streaming plan to completion.

The reference starts its streams with console/Kafka sinks and blocks forever
(``sparkpyrediskafkastreamtoconsole.py:154``, ``sparkpykafkajoin.py:202-209``
— the second console sink at :211 is dead code because :209 never returns).
The engine's harness instead runs **bounded replays** with the availableNow
trigger: process everything the source currently has, flush stateful
operators via no-data micro-batches, terminate, and hand back the result as
a bounded DataFrame.  That is what makes streaming semantics *testable* —
the driver's DuckDB oracle and pytest both consume the returned table.

Every bounded replay goes through one drain path: ``drain`` waits for the
query (or raises) and stops it, ``stamp`` records the engine's progress
metrics on the returned frame.  ``run_to_memory`` drives a memory sink,
``run_foreach_batch`` a foreachBatch parquet sink with a per-batch operator.

At cluster scale the same plans run with a Kafka sink and a processing-time
trigger (see sinks.py); only the sink/trigger wiring differs — the
transformation graph is byte-identical (Structured Streaming's unbounded-
table model).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..session import scoped_conf
from .sinks import foreach_batch_sink

# Shuffle-partition count for bounded replays.  Every stateful operator
# opens ONE state store PER shuffle partition PER micro-batch, and a
# stream-stream join opens four, each with fixed open/commit cost.  A
# bounded replay's state is capped by its (small, already materialized)
# input, so few, fuller partitions win (measured 19.6s -> 5.6s on the sf0.1
# flagship join going 32 -> 8, and 4 with the heap provider below).
# Production streams never pass through here: they size
# spark.sql.shuffle.partitions to their steady-state state volume.
STREAM_SHUFFLE_PARTITIONS = "4"

# State-store provider for BOUNDED availableNow replays only.  The session
# default (session.py) is RocksDB — the right posture for unbounded
# production streams whose state must live off-heap.  A bounded replay's
# state is capped by the (already materialized) input and dies with the
# run, so the JVM-heap HDFSBackedStateStoreProvider wins: no JNI write per
# row, no native instance open/commit per store per micro-batch (measured
# 5.5s -> 4.1s on the sf0.1 flagship join, combined with 8 -> 4 state
# partitions).  Production paths (sinks.py, processing-time triggers) never
# pass through here and keep the RocksDB session default.
REPLAY_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)

# Checkpoint root for BOUNDED memory-sink replays.  A replay's checkpoint is
# deleted the moment the query finishes, so crash-durability buys nothing —
# put the offset/commit WAL on tmpfs when available and skip the disk
# fsyncs (~0.1-0.3 s of WAL latency per replay).  Production paths
# (sinks.py) take a caller-provided durable checkpoint location and never
# pass through here.
_REPLAY_CKPT_ROOT = os.environ.get(
    "SPARK_GRAFT_REPLAY_CKPT_ROOT",
    "/dev/shm" if os.path.isdir("/dev/shm") else None,
)

# Upper bound on one bounded replay; a replay still running after it is a
# hang, not a slow input.
DRAIN_TIMEOUT_S = 300


def scratch_dir(prefix: str) -> str:
    """Scratch dir for a replay's sink output and checkpoint.  Defaults to a
    local tempdir (correct in local[] mode where executors share the
    driver's filesystem); set ``SPARK_GRAFT_SCRATCH`` to a shared-FS path
    (S3A/HDFS/NFS) on a real cluster so executor writes and the driver
    read-back see the same storage — the same rule checkpoint locations
    follow."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root:
        return os.path.join(root, f"{prefix}{uuid.uuid4().hex[:12]}")
    return tempfile.mkdtemp(prefix=prefix)


def drain(query: StreamingQuery) -> list[dict]:
    """Wait for a bounded replay to finish and return its non-empty
    progress reports.  Raises ``TimeoutError`` rather than hand back a
    partial result, re-raises the query's own failure
    (``StreamingQueryException``), and stops the query on every exit."""
    try:
        if not query.awaitTermination(DRAIN_TIMEOUT_S):
            raise TimeoutError(
                f"streaming query {query.name or query.id} did not finish "
                f"within {DRAIN_TIMEOUT_S}s — refusing to return a partial result"
            )
        return [p for p in (query.recentProgress or []) if p]
    finally:
        query.stop()


def stamp(out: DataFrame, progress: list[dict]) -> DataFrame:
    """Record a drained replay's engine metrics on its result frame as plain
    Python attributes — consumed by bench.py's rows/s and by
    ``streaming_observed_metrics``; harmless elsewhere.

    - ``stream_input_rows``: rows INGESTED, summed over triggers.  For an
      aggregating stream the output row count says nothing about
      throughput (a quantile sketch emits 20 rows from millions ingested).
    - ``stream_processing_secs``: the summed per-trigger triggerExecution
      durations — the denominator Spark's own processedRowsPerSecond uses,
      which leaves out stream start/stop and the driver read-back (per-query
      fixed cost).
    - ``observed_metrics``: per-batch ``df.observe()`` rows as
      ``(batch_id, name, dict)``."""
    out.stream_input_rows = sum(int(p["numInputRows"]) for p in progress)
    proc_ms = sum(
        int(p.get("durationMs", {}).get("triggerExecution", 0)) for p in progress
    )
    if proc_ms > 0:
        out.stream_processing_secs = proc_ms / 1000.0
    out.observed_metrics = [
        (p["batchId"], name, row.asDict() if hasattr(row, "asDict") else dict(row))
        for p in progress
        for name, row in (p["observedMetrics"] or {}).items()
    ]
    return out


def run_to_memory(
    df: DataFrame,
    spark: SparkSession,
    output_mode: str = "append",
    no_data_batches: bool = True,
) -> DataFrame:
    """Execute a streaming DataFrame with trigger(availableNow) into an
    in-memory table and return the materialized result.

    ``availableNow`` processes all currently-available input (in one or more
    micro-batches), runs trailing no-data batches so the watermark advances
    and append-mode state (windows/sessions) is flushed, then stops — the
    deterministic replay the reference lacks (its only options were "block
    forever" or ctrl-C).

    ``no_data_batches=False`` skips the trailing no-data micro-batch.  Each
    batch pays fixed machinery (re-plan + one state-store open/commit per
    store per partition + offset/commit WAL writes) — measured ~1 s of the
    interval join's 2.1 s replay for a batch that reads ZERO rows.  Only
    operators whose OUTPUT needs the final watermark advance require it:
    append-mode windows/sessions and outer joins (emit on watermark) and
    dropDuplicatesWithinWatermark's state eviction.  Inner stream-stream
    joins, stateless maps, and complete/update-mode aggregations emit
    everything during the data batches — for those the trailing batch is
    pure overhead, and callers turn it off."""
    qname = f"mem_{uuid.uuid4().hex[:12]}"
    # streaming profile: fewer, fuller state partitions (see
    # STREAM_SHUFFLE_PARTITIONS), restored after the bounded replay ends so
    # batch queries keep the session default.  recentProgress retains only
    # numRecentProgressUpdates entries (default 100); stamp() sums over it,
    # so a replay with more triggers than the cap would silently undercount
    # both sides of the rows/s ratio.
    confs = {
        "spark.sql.shuffle.partitions": STREAM_SHUFFLE_PARTITIONS,
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.streaming.stateStore.providerClass": REPLAY_STATE_PROVIDER,
        "spark.sql.streaming.noDataMicroBatches.enabled": (
            "true" if no_data_batches else "false"
        ),
    }
    with scoped_conf(spark, **confs):
        ckpt = tempfile.mkdtemp(prefix=f"ckpt_{qname}_", dir=_REPLAY_CKPT_ROOT)
        try:
            progress = drain(
                df.writeStream.format("memory")
                .queryName(qname)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
    # copy the result out of the memory sink (eager localCheckpoint) and
    # drop the sink table — otherwise every call leaks a fully materialized
    # result table for the life of the session
    out = spark.table(qname).localCheckpoint(eager=True)
    spark.catalog.dropTempView(qname)
    return stamp(out, progress)


def run_foreach_batch(
    df: DataFrame,
    spark: SparkSession,
    per_batch: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
    finish: Callable[[DataFrame], DataFrame] = lambda acc: acc,
) -> DataFrame:
    """Run a streaming DataFrame through a foreachBatch parquet sink with
    the availableNow trigger and return the read-back result — the
    stream -> lakehouse shape, where each micro-batch runs a BATCH operator
    (``per_batch``) the streaming API cannot express.

    One scratch dir holds everything: each batch's ``per_batch`` output is
    written to ``<dir>/data`` (appended; overwritten in complete mode,
    where every batch carries the whole result), and the stream checkpoint
    sits beside it in ``<dir>/_checkpoint``.  After the drain the data is
    read back through ``finish`` (e.g. a fold of per-batch partials),
    pinned, stamped with the replay's progress metrics, and the dir is
    removed on every exit.

    Each batch is written as ``repartition(1)``: one file per trigger keeps
    the append sink from accreting tiny files, and unlike ``coalesce(1)``
    the exchange does not push the 1-partition constraint up a shuffle-free
    probe plan (which would single-thread the whole base scan).

    Sink-path caveat: the scratch dir is a driver-local tempdir, correct
    ONLY in local[] mode (executors share the driver's filesystem); on a
    real cluster set ``SPARK_GRAFT_SCRATCH`` to shared storage (see
    ``scratch_dir``)."""
    root = scratch_dir("feb_")
    data = os.path.join(root, "data")
    mode = "overwrite" if output_mode == "complete" else "append"

    def write(batch_df: DataFrame, batch_id: int) -> None:
        per_batch(batch_df).repartition(1).write.mode(mode).parquet(data)

    try:
        progress = drain(
            foreach_batch_sink(
                df,
                write,
                output_mode=output_mode,
                checkpoint_dir=os.path.join(root, "_checkpoint"),
            )
        )
        out = finish(spark.read.parquet(data)).localCheckpoint(eager=True)
        return stamp(out, progress)
    finally:
        shutil.rmtree(root, ignore_errors=True)
