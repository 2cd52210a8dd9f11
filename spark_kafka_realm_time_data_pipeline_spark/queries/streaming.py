"""Streaming queries — SURVEY.md §2 rows S1/S2/J1 + §2.5 streaming family.

Every query here EXECUTES a Structured Streaming plan (readStream file
source → transformations → memory sink, availableNow trigger) and returns
the materialized result, so the DuckDB oracle checks real streaming
semantics, not a batch stand-in.  This closes the round-1 gap: the reference
is 100% Structured Streaming (``sparkpykafkajoin.py:48-54,203-209``) and the
engine previously had no executable streaming path at all.

Oracle notes: with the availableNow trigger the final watermark is
``max(event time) - delay``; append-mode windows/sessions emit exactly those
whose end <= that watermark, which is SQL-expressible — the oracles below
encode it as a HAVING cutoff.  The watermarked stream-stream join uses a
±45-day window that covers the whole one-month corpus, so its oracle is the
plain equi-join while the plan still runs through
StreamingSymmetricHashJoinExec with state-eviction predicates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.files import stream_table
from ..streaming.pipeline import (
    JOIN_WINDOW_SECONDS,
    build_streaming_stedi,
    synth_customer_wire_stream,
    synth_event_wire_stream,
)
from ..streaming.runner import (
    drain,
    run_foreach_batch,
    run_to_memory,
    scratch_dir,
    stamp,
)
from ..streaming.sinks import foreach_batch_sink
from . import QuerySpec
from .reference import _ORA_BIRTHYEAR, _ORA_EMAIL
from .relational import FMT_DUCK as _FMT_DUCK
from .relational import FMT_SPARK as _FMT_SPARK

_STEDI_JOIN_ORACLE = f"""
SELECT {_ORA_EMAIL.format(k='e.user_id')} AS customer,
       e.value AS score,
       {_ORA_EMAIL.format(k='c.c_custkey')} AS email,
       {_ORA_BIRTHYEAR.format(k='c.c_custkey')} AS birthYear
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


def q_streaming_stedi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1, scalable form: watermarked stream-stream inner equi-join — the
    engine's fix for the reference's unbounded-state join
    (sparkpykafkajoin.py:184-187 has no watermark, so state grows forever).
    Runs through StreamingSymmetricHashJoinExec with eviction predicates."""
    joined = build_streaming_stedi(
        spark,
        synth_customer_wire_stream(spark, sf_dir),
        synth_event_wire_stream(spark, sf_dir),
        watermark="1 hour",
        join_window_seconds=JOIN_WINDOW_SECONDS,
    )
    # inner join: matches emit in the data batch; the trailing no-data
    # batch would only advance the watermark for state EVICTION
    return run_to_memory(joined, spark, no_data_batches=False)


def q_streaming_stedi_unbounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1, reference-parity form: the exact unwatermarked inner join of
    sparkpykafkajoin.py:184-187 (state retained forever — correct results,
    unbounded memory; kept for parity, the watermarked twin is the one to
    run at scale)."""
    joined = build_streaming_stedi(
        spark,
        synth_customer_wire_stream(spark, sf_dir),
        synth_event_wire_stream(spark, sf_dir),
        watermark=None,
    )
    return run_to_memory(joined, spark, no_data_batches=False)


_OUTER_WINDOW_S = 3600  # join window and watermark delay for the outer join
_OUTER_WM = "1 hour"


def q_streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: watermarked stream-stream LEFT OUTER join — unmatched risk
    rows are held in state until the watermark proves no future match can
    arrive, then emitted null-extended.  The global watermark is the MIN of
    both sides' (multipleWatermarkPolicy=min), so with the customer wire at
    a fixed timestamp the emission frontier is cust_ts - delay; a risk row
    emits unmatched once risk_ts + window <= that frontier (pinned
    empirically and encoded in the oracle)."""
    joined = build_streaming_stedi(
        spark,
        synth_customer_wire_stream(spark, sf_dir),
        synth_event_wire_stream(spark, sf_dir),
        watermark=_OUTER_WM,
        join_window_seconds=_OUTER_WINDOW_S,
        join_type="left_outer",
    )
    return run_to_memory(joined, spark)


from ..streaming.pipeline import CUSTOMER_WIRE_TS  # noqa: E402

ORA_STREAMING_OUTER_JOIN = f"""
WITH m AS (
  SELECT {_ORA_EMAIL.format(k='e.user_id')} AS customer,
         e.value AS score, e.ts,
         c.c_custkey AS matched_key,
         {_ORA_EMAIL.format(k='c.c_custkey')} AS m_email,
         {_ORA_BIRTHYEAR.format(k='c.c_custkey')} AS m_by
  FROM events e LEFT JOIN customer c
    ON e.user_id = c.c_custkey
   AND e.ts BETWEEN TIMESTAMP '{CUSTOMER_WIRE_TS}' - INTERVAL {_OUTER_WINDOW_S} SECONDS
                AND TIMESTAMP '{CUSTOMER_WIRE_TS}' + INTERVAL {_OUTER_WINDOW_S} SECONDS
)
SELECT customer, score,
       CASE WHEN matched_key IS NOT NULL THEN m_email END AS email,
       CASE WHEN matched_key IS NOT NULL THEN m_by END AS birthYear
FROM m
WHERE matched_key IS NOT NULL
   OR ts + INTERVAL {_OUTER_WINDOW_S} SECONDS
      <= TIMESTAMP '{CUSTOMER_WIRE_TS}' - INTERVAL 3600 SECONDS
"""


def q_streaming_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: tumbling event-time window aggregation, complete output mode
    (every window emitted; the late-data/append variant is
    streaming_late_window). Partial aggregation happens per micro-batch;
    state is one row per (window, event_type)."""
    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        # decimal-exact sum (repo discipline): raw double SUM is
        # accumulation-order-dependent and would flake vs the oracle
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(agg, spark, output_mode="complete", no_data_batches=False)


ORA_TUMBLING = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


def q_streaming_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: sliding window (1 hour, 30-minute slide) — each event lands in
    2 overlapping windows; Spark expands then aggregates."""
    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )
    return run_to_memory(agg, spark, output_mode="complete", no_data_batches=False)


ORA_SLIDING = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE FROM events
)
SELECT window_start,
       window_start + INTERVAL 1 HOUR AS window_end,
       COUNT(*) AS n_events
FROM assigned
GROUP BY 1, 2
"""


def q_streaming_late_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: watermark + append mode — only windows the watermark has closed
    are emitted (late data past the 10-minute bound would be dropped).  With
    availableNow the final watermark is max(ts) - 10 min, so the window
    containing the stream's tail stays open and is withheld."""
    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    return run_to_memory(agg, spark, output_mode="append")


ORA_LATE_WINDOW = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2, 3
HAVING window_end <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
"""


def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: session windows (30-minute inactivity gap) per user — Spark's
    session_window merges overlapping [ts, ts+gap) intervals in the state
    store; append mode emits a session once the watermark passes its end."""
    ev = stream_table(spark, sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(agg, spark, output_mode="append")


def q_streaming_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: session windows with a DYNAMIC per-event gap — clicks close a
    session after 10 minutes of inactivity, heavier events keep it open
    for 30 (the engagement-dependent-timeout shape).  Spark's
    session_window accepts a gap COLUMN; the state store merges
    overlapping [ts, ts+gap_event) intervals, so the session end is the
    running max of per-event ends, not last_ts + constant.  The oracle
    replays that merge rule as an island computation: a new session
    starts when ts exceeds the running MAX(ts + gap) of all earlier
    events in the partition."""
    ev = stream_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "click", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(agg, spark, output_mode="append")


_DYN_GAP = (
    "CASE WHEN event_type = 'click' THEN INTERVAL 10 MINUTE"
    " ELSE INTERVAL 30 MINUTE END"
)

ORA_SESSION_DYNAMIC = f"""
WITH marked AS (
  SELECT user_id, ts,
         ts + {_DYN_GAP} AS ev_end,
         CASE WHEN MAX(ts + {_DYN_GAP}) OVER
                     (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                OR ts > MAX(ts + {_DYN_GAP}) OVER
                     (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), sess AS (
  SELECT user_id, ts, ev_end,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ev_end) AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, sid
HAVING MAX(ev_end) <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
"""


ORA_SESSION_WINDOW = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, sid
HAVING MAX(ts) + INTERVAL 30 MINUTE <= (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: stateful streaming deduplication — dropDuplicates keyed on
    event_id keeps first-arrival per key in the state store (unbounded
    state; the watermarked twin below is the scale form)."""
    ev = stream_table(spark, sf_dir, "events")
    deduped = ev.dropDuplicates(["event_id"]).select("event_id", "user_id", "event_type")
    return run_to_memory(deduped, spark)


def q_streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: dropDuplicatesWithinWatermark — dedup state is evicted once the
    watermark passes, bounding memory (the 100 TB-safe form of streaming
    dedup; exact within the lateness bound)."""
    ev = stream_table(spark, sf_dir, "events")
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(deduped, spark)


ORA_DEDUP_IDENTITY = """
SELECT event_id, user_id, event_type FROM events
"""


def q_streaming_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: custom stateful streaming operator via applyInPandasWithState —
    a per-user event counter whose state (running count) lives in the state
    store across micro-batches.  This is the engine's extension point for
    stateful logic Spark's built-ins can't express (sessionization with
    custom merge rules, CEP-ish patterns, online aggregates).

    Emission: one row per (user, batch-with-data); the bounded replay is a
    single batch, so output = final per-user counts — SQL-expressible, full
    value oracle.  At scale: state is hash-partitioned by user_id; an
    idle-timeout (GroupStateTimeout) would bound state for churned keys.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream_table(spark, sf_dir, "events").select("user_id", "event_id")

    def count_events(key, pdf_iter, state: GroupState):
        prev = state.get[0] if state.exists else 0
        n = prev + sum(len(pdf) for pdf in pdf_iter)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    counted = ev.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(counted, spark, output_mode="update")


ORA_STATEFUL_COUNT = """
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
"""


def q_streaming_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.1 CDC parity, streaming form: materialize latest state per key
    from an upsert stream with max_by in update mode — the engine's answer
    to 'what does the Redis sorted set look like NOW'.  Update-mode memory
    sink emits changed keys per batch; the bounded replay is one batch, so
    the table is exactly the final state."""
    ev = stream_table(spark, sf_dir, "events")
    latest = ev.groupBy("user_id").agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("last_value"),
        F.count(F.lit(1)).alias("n_updates"),
    )
    return run_to_memory(latest, spark, output_mode="update")


def q_streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: stream-static join — the streaming fact side joins a bounded
    dim WITHOUT state (each micro-batch re-reads/broadcasts the dim; no
    watermark needed because the static side never changes mid-query).
    This is the shape for enriching an event stream with a dimension table
    at 100 TB: dim broadcast per batch, stream never shuffles."""
    from ..sources.files import load_table

    ev = stream_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(dim, ev.user_id == dim.c_custkey).select(
        "event_id", "user_id", "c_mktsegment", "value"
    )
    return run_to_memory(joined, spark, no_data_batches=False)


ORA_STREAMING_STATIC_JOIN = """
SELECT event_id, user_id, c_mktsegment, value
FROM events JOIN customer ON user_id = c_custkey
"""


ORA_STREAMING_CDC = """
WITH latest AS (
  SELECT user_id, value AS last_value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), agg AS (SELECT user_id, COUNT(*) AS n_updates FROM events GROUP BY user_id)
SELECT a.user_id, l.last_value, a.n_updates
FROM agg a JOIN latest l ON a.user_id = l.user_id AND l.rn = 1
"""


def q_streaming_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: ``df.observe()`` metrics on a STREAMING query — the
    production monitoring hook: per-micro-batch named aggregates computed
    ON THE DATA FLOWING PAST the observe point (row counts, domain
    counters, an exact money total, key-range bounds) and surfaced through
    the engine's progress telemetry (``observedMetrics`` in each
    ``StreamingQueryProgress``), with zero extra passes — CollectMetrics
    piggybacks on the batch's own execution, unlike a side aggregation
    which would double-scan the stream.

    The query observes the raw event stream feeding a normal windowed
    aggregation sink (monitoring must not replace the workload), then
    FOLDS the per-batch metric rows into stream totals with each metric's
    own merge law — counts/sums add (money via exact Decimal), min/max
    combine — which is exactly how a metrics pipeline folds per-batch
    observations into a dashboard.  The folded totals are the returned
    frame, so the DuckDB oracle re-derives them from the events table in
    plain batch SQL: the checked law is "telemetry == truth".
    ``n_null_props`` is a data-quality gate expected to hold at 0."""
    from decimal import Decimal

    ev = stream_table(spark, sf_dir, "events").observe(
        "ingest_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
        F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)).alias("n_null_props"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )
    agg = (
        ev.groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_to_memory(agg, spark, output_mode="complete", no_data_batches=False)
    n_rows = n_purchases = n_null_props = 0
    sum_value = Decimal(0)
    min_eid: int | None = None
    max_eid: int | None = None
    for _batch_id, name, row in out.observed_metrics:
        if name != "ingest_metrics" or not row.get("n_rows"):
            continue  # no-data batches observe zero rows (all-null aggs)
        n_rows += int(row["n_rows"])
        n_purchases += int(row["n_purchases"])
        n_null_props += int(row["n_null_props"])
        sum_value += Decimal(str(row["sum_value"]))
        min_eid = min(x for x in (min_eid, int(row["min_event_id"])) if x is not None)
        max_eid = max(x for x in (max_eid, int(row["max_event_id"])) if x is not None)
    res = spark.createDataFrame(
        [(n_rows, n_purchases, n_null_props, float(sum_value), min_eid, max_eid)],
        "n_rows BIGINT, n_purchases BIGINT, n_null_props BIGINT, "
        "sum_value DOUBLE, min_event_id BIGINT, max_event_id BIGINT",
    )
    _carry_stream_metrics(res, out)
    return res


ORA_STREAMING_OBSERVED = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchases,
       CAST(COUNT(*) FILTER (props IS NULL) AS BIGINT) AS n_null_props,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       CAST(MIN(event_id) AS BIGINT) AS min_event_id,
       CAST(MAX(event_id) AS BIGINT) AS max_event_id
FROM events
"""


def q_state_store_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 ops: the Spark 4 STATE DATA SOURCE — the checkpointed state of
    a streaming aggregation read back as a DataFrame
    (``spark.read.format("statestore").load(ckpt)``), the incident-
    response tool for "what does my stream think right now": inspect hot
    keys, audit state size, debug a wrong running total WITHOUT stopping
    or instrumenting the query.  Here a per-event-type count+sum
    aggregation runs to completion, then its state store is read back and
    the aggregate BUFFERS (key struct + count/sum fields) are projected
    out.  The oracle recomputes the same totals from the raw table in
    batch SQL — the checked law is "checkpointed state == truth", which
    is exactly what an operator needs to trust state inspection.

    Scale shape: the state read is partition-parallel over the store's
    own layout (one task per state partition) and never replays the
    stream; at 100 TB you point it at the production checkpoint on S3/
    HDFS and read only the operator/batch you care about."""
    import shutil

    ev = stream_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_value"),
    )
    ckpt = scratch_dir("state_inspect_")
    qname = f"state_inspect_{os.path.basename(ckpt)[-6:]}"
    try:
        drain(
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        spark.catalog.dropTempView(qname)
        st = spark.read.format("statestore").load(ckpt)
        # buffer fields use the PHYSICAL aggregate names (count/sum), not
        # the query aliases — part of what this query documents
        return st.select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n_events"),
            F.col("value.sum").cast("double").alias("sum_value"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


ORA_STATE_INSPECT = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def q_streaming_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: union of two independent streaming sources feeding one
    windowed aggregation — the multi-topic fan-in shape (e.g. regional
    Kafka topics merged into one metric).  Each side is its own
    FileStreamSource scan; Structured Streaming tracks both sources'
    offsets in one checkpoint.  State is per (window, event_type) — union
    adds no state of its own."""
    a = stream_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    b = stream_table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    agg = (
        a.unionByName(b)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    return run_to_memory(agg, spark, output_mode="complete", no_data_batches=False)


ORA_STREAMING_UNION = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events
FROM events
WHERE event_type IN ('purchase', 'signup')
GROUP BY 1, 2, 3
"""


def _carry_stream_metrics(dst: DataFrame, src) -> DataFrame:
    """Forward the runner's ingest/processing metrics onto a DERIVED frame
    so bench's rows/s divides rows PROCESSED by ENGINE time, not by the fn
    wall time (which is dominated by the availableNow start/stop floor)."""
    dst.stream_input_rows = getattr(src, "stream_input_rows", 0)
    proc = getattr(src, "stream_processing_secs", None)
    if proc:
        dst.stream_processing_secs = proc
    return dst


_INTERVAL_S = 1800  # attribution lookback: click within 30 min before purchase


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: stream-stream INTERVAL join — equi-key plus an event-time range
    condition (each purchase matched to the same user's clicks in the
    preceding 30 minutes): the attribution-join shape.  Unlike the pure
    equi-join, the time bound plus both sides' watermarks lets
    StreamingSymmetricHashJoinExec evict state as the watermark advances —
    state is O(events within the interval), not O(stream).  Inner join =>
    matches emit immediately; the availableNow replay is therefore exactly
    the batch interval join, which the oracle states in plain SQL."""
    p = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_uid"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_uid"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        F.expr(
            f"p_uid = c_uid AND c_ts >= p_ts - INTERVAL {_INTERVAL_S} SECONDS"
            " AND c_ts <= p_ts"
        ),
    ).select(F.col("p_uid").alias("user_id"), "purchase_id", "click_id")
    # inner interval join: emission is immediate; the no-data batch only
    # evicts state - pure fixed cost on a bounded replay (measured ~1 s of
    # the 2.1 s sf0.1 wall)
    return run_to_memory(joined, spark, no_data_batches=False)


ORA_STREAMING_INTERVAL_JOIN = f"""
SELECT p.user_id AS user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL {_INTERVAL_S} SECONDS
 AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


def q_streaming_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: stream-stream LEFT SEMI join — purchases that had at least
    one click from the same user in the preceding 30 minutes, emitted
    once regardless of how many clicks matched (the "qualified events"
    filter shape; an inner join would duplicate the purchase per click
    and need a downstream dedup).  Same watermark + interval bounds as
    the inner interval join, so join state is evicted identically;
    left-semi emits as soon as the first match arrives."""
    p = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_uid"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        F.expr(
            f"p_uid = c_uid AND c_ts >= p_ts - INTERVAL {_INTERVAL_S} SECONDS"
            " AND c_ts <= p_ts"
        ),
        "left_semi",
    ).select(F.col("p_uid").alias("user_id"), "purchase_id", "p_ts")
    out = run_to_memory(joined, spark, no_data_batches=False)
    res = out.select(
        "user_id",
        "purchase_id",
        F.date_format("p_ts", _FMT_SPARK).alias("purchase_ts"),
    )
    _carry_stream_metrics(res, out)
    return res


def q_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: stream-stream FULL OUTER interval join — the last watermark-
    eviction join shape (inner / left-outer / left-semi are the other
    three): matched purchase+click pairs emit immediately; UNMATCHED rows
    on BOTH sides are held in state until the watermark proves no future
    partner can arrive, then emit null-extended (public Spark >= 3.1,
    StreamingSymmetricHashJoinExec with both sides' state watermarks
    derived from the interval bounds).

    A bounded availableNow replay never advances the watermark past the
    final `delay` of real data, which would strand the tail's unmatched
    rows in state and make the result diverge from the batch join.  Each
    side therefore unions in one deterministic FLUSH SENTINEL (event 0
    shifted +1 year, key -1/-2 so it matches nothing) whose only job is to
    push the final watermark past every real row — the replay-side analog
    of a Kafka heartbeat/punctuation message, and the reason the oracle is
    EXACTLY the batch full-outer SQL with no empirically-pinned emission
    frontier (contrast ORA_STREAMING_OUTER_JOIN).  Sentinels leave as the
    two rows with negative keys, filtered after the join."""
    ev = stream_table(spark, sf_dir, "events")

    def side(event_type: str, key: str, ts: str, eid: str, sentinel_key: int):
        real = ev.filter(F.col("event_type") == event_type).select(
            F.col("user_id").alias(key),
            F.col("ts").alias(ts),
            F.col("event_id").alias(eid),
        )
        flush = ev.filter(F.col("event_id") == 0).select(
            F.lit(sentinel_key).cast("long").alias(key),
            (F.col("ts") + F.expr("INTERVAL 1 YEAR")).alias(ts),
            F.lit(-1).cast("long").alias(eid),
        )
        return real.unionByName(flush).withWatermark(ts, "1 hour")

    p = side("purchase", "p_uid", "p_ts", "purchase_id", -1)
    c = side("click", "c_uid", "c_ts", "click_id", -2)
    joined = (
        p.join(
            c,
            F.expr(
                f"p_uid = c_uid AND c_ts >= p_ts - INTERVAL {_INTERVAL_S} SECONDS"
                " AND c_ts <= p_ts"
            ),
            "full_outer",
        )
        .filter(F.coalesce("p_uid", F.lit(0)) >= 0)
        .filter(F.coalesce("c_uid", F.lit(0)) >= 0)
        .select(
            F.coalesce("p_uid", "c_uid").alias("user_id"),
            "purchase_id",
            "click_id",
        )
    )
    # outer rows emit on watermark advance: the trailing no-data batch is
    # load-bearing here (it evicts + null-extends), so keep it on
    return run_to_memory(joined, spark)


ORA_STREAMING_FULL_OUTER_JOIN = f"""
SELECT COALESCE(p.user_id, c.user_id) AS user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL {_INTERVAL_S} SECONDS
 AND c.ts <= p.ts
"""


ORA_STREAMING_SEMI_JOIN = f"""
SELECT p.user_id, p.event_id AS purchase_id,
       strftime(p.ts, '{_FMT_DUCK}') AS purchase_ts
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (
    SELECT 1 FROM events c
    WHERE c.event_type = 'click' AND c.user_id = p.user_id
      AND c.ts >= p.ts - INTERVAL {_INTERVAL_S} SECONDS AND c.ts <= p.ts
  )
"""


def q_streaming_foreachbatch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 foreachBatch sink as a first-class operator: streaming windowed
    counts fan into foreachBatch, where each micro-batch runs a BATCH-only
    op (window-function ranking — unsupported on streaming DataFrames) and
    writes the winner per window to parquet.  This is the engine's pattern
    for stream -> lakehouse jobs: complete-mode state holds the running
    aggregate; the batch hook ranks and overwrites the serving table, so
    the final replay leaves exactly the top event type per hour on disk.
    Everything inside the hook is a distributed plan — no driver collect."""
    from pyspark.sql import Window as W

    ev = stream_table(spark, sf_dir, "events")
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )

    def topk(batch_df: DataFrame) -> DataFrame:
        rank_w = W.partitionBy("w").orderBy(F.desc("n_events"), "event_type")
        return (
            batch_df.withColumn("rn", F.row_number().over(rank_w))
            .filter(F.col("rn") == 1)
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        )

    return run_foreach_batch(agg, spark, topk, output_mode="complete")


ORA_STREAMING_FEB_TOPK = """
WITH counts AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
         COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT window_start, event_type, n_events,
         row_number() OVER (PARTITION BY window_start
                            ORDER BY n_events DESC, event_type) AS rn
  FROM counts
)
SELECT window_start, event_type, n_events FROM ranked WHERE rn = 1
"""




def q_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch maintained AS A STREAM: the depth-4 Carter-Wegman
    cells of the event user_id frequency stream, kept by a complete-mode
    streaming groupBy — the mergeable-summary pattern for unbounded
    sources, where per-micro-batch partial sketches fold into the running
    state and the state size is bounded by depth x width regardless of
    stream length.  Cells are exact integers, so the bounded availableNow
    replay has a full batch-SQL value oracle."""
    from ..operators.dedup import MINHASH_PRIME, MINHASH_PRIME_B
    from ..operators.text import CMS_DEPTH, CMS_WIDTH
    from ..sources.files import stream_table

    ev = stream_table(spark, sf_dir, "events")
    ab = ev.select(
        (F.col("user_id") % MINHASH_PRIME).alias("a"),
        (F.col("user_id") % MINHASH_PRIME_B).alias("b"),
    )
    cells = ab.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row_id"),
                        (
                            (F.col("a") + r * (F.col("b") * 2 + 1))
                            % MINHASH_PRIME
                            % CMS_WIDTH
                        ).alias("col"),
                    )
                    for r in range(CMS_DEPTH)
                ]
            )
        ).alias("rc")
    ).select("rc.row_id", "rc.col")
    agg = cells.groupBy("row_id", "col").agg(F.count(F.lit(1)).alias("cnt"))
    return run_to_memory(agg, spark, output_mode="complete", no_data_batches=False)


def _ora_streaming_countmin() -> str:
    from ..operators.dedup import MINHASH_PRIME, MINHASH_PRIME_B
    from ..operators.text import CMS_DEPTH, CMS_WIDTH

    return f"""
WITH ab AS (
  SELECT user_id % {MINHASH_PRIME} AS a, user_id % {MINHASH_PRIME_B} AS b FROM events
),
cells AS (
  SELECT r.row_id, (a + r.row_id * (2 * b + 1)) % {MINHASH_PRIME} % {CMS_WIDTH} AS col
  FROM ab CROSS JOIN (SELECT unnest(range({CMS_DEPTH})) AS row_id) r
)
SELECT CAST(row_id AS INT) AS row_id, col, COUNT(*) AS cnt
FROM cells GROUP BY row_id, col
"""


ORA_STREAMING_COUNTMIN = _ora_streaming_countmin()


def q_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table maintained AS A STREAM: distinct-user
    tracking over an unbounded event source via a complete-mode streaming
    groupBy(bucket).max(rank) — the other half of the mergeable-sketch
    pair next to ``streaming_countmin``.  MAX is idempotent AND monotone,
    so per-micro-batch partials fold into the running state without
    retraction, state is bounded at 2^p rows regardless of stream length,
    and a restart from checkpoint resumes exact.  Registers are exact
    integers (same modular hash as the batch ``hll_window_merge``), so the
    bounded availableNow replay has a full batch-SQL value oracle."""
    from ..operators.dedup import SHINGLE_P
    from ..operators.text import HLL_P, HLL_SUFFIX_BITS, HLL_USER_MULT
    from ..sources.files import stream_table

    n_buckets = 1 << HLL_P
    ev = stream_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.pmod(F.col("user_id").cast("long") * HLL_USER_MULT, F.lit(SHINGLE_P)).alias(
            "wk"
        )
    ).select(
        (F.col("wk") % n_buckets).alias("bucket"),
        F.expr(f"wk div {n_buckets}").alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(HLL_SUFFIX_BITS + 1)).otherwise(
        HLL_SUFFIX_BITS + 1 - F.length(F.bin("w"))
    )
    agg = (
        keyed.select("bucket", rank.alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("register"))
    )
    return run_to_memory(agg, spark, output_mode="complete", no_data_batches=False)


def _ora_streaming_hll() -> str:
    from ..operators.dedup import SHINGLE_P
    from ..operators.text import HLL_P, HLL_SUFFIX_BITS, HLL_USER_MULT

    return f"""
WITH keyed AS (
  SELECT (user_id * {HLL_USER_MULT}) % {SHINGLE_P} AS wk FROM events
), bw AS (
  SELECT wk % {1 << HLL_P} AS bucket, wk // {1 << HLL_P} AS w FROM keyed
)
SELECT bucket,
       MAX(CASE WHEN w = 0 THEN {HLL_SUFFIX_BITS + 1}
                ELSE {HLL_SUFFIX_BITS + 1} - length(bin(w)) END) AS register
FROM bw GROUP BY bucket
"""


ORA_STREAMING_HLL = _ora_streaming_hll()


def q_streaming_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter word table maintained AS A STREAM: the runtime-filter
    build side (`bloom_prune_join` is the batch probe half) kept current by
    a complete-mode streaming groupBy(word).bit_or — the third mergeable
    sketch in the streaming trio (SUM: countmin, MAX: hll, OR: bloom).
    bit_or is idempotent and monotone, so micro-batch partials fold into
    the running state without retraction and state is bounded at m/32 rows
    for an unbounded stream; this is how a continuously-ingesting pipeline
    keeps a membership filter warm for downstream dedup probes.  Bit-exact
    (same modular double hashing as the batch op) — full value oracle over
    the bounded replay."""
    from ..sources.files import stream_table
    from .relational import _bloom_positions

    ev = stream_table(spark, sf_dir, "events")
    keyed = ev.select(F.col("user_id").cast("long").alias("key"))
    agg = (
        _bloom_positions(keyed)
        .select("word", "bit")
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(1L, bit))").alias("wv"))
    )
    return run_to_memory(agg, spark, output_mode="complete", no_data_batches=False)


def _ora_streaming_bloom() -> str:
    from .relational import (
        BLOOM_BITS,
        BLOOM_H1_MULT,
        BLOOM_H2_ADD,
        BLOOM_H2_MULT,
        BLOOM_K,
        BLOOM_P31,
    )

    return f"""
WITH bpos AS (
  SELECT ((user_id * {BLOOM_H1_MULT}) % {BLOOM_P31}
          + j * ((user_id * {BLOOM_H2_MULT} + {BLOOM_H2_ADD}) % {BLOOM_P31}))
         % {BLOOM_BITS} AS pos
  FROM events CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS j)
)
SELECT pos // 32 AS word,
       bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS wv
FROM bpos GROUP BY pos // 32
"""


ORA_STREAMING_BLOOM = _ora_streaming_bloom()




def q_streaming_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup: the planted copies arrive AS A STREAM and
    each micro-batch is near-dup-matched against the static base corpus
    inside foreachBatch — the production shape for continuous ingestion,
    where the base band index is a MAINTAINED TABLE and every incoming
    batch pays only delta-vs-base work (never base-vs-base, never a
    full-corpus re-dedup, and — since r9 — never a base re-tokenize: the
    hook reads the STAGED band/shingle/size index `stage_base_index`
    materializes once per corpus, the same index the batch
    `dedup_incremental_indexed` query reads).  The batch hook runs the
    per-micro-batch incremental_near_dup_batch operator — delta bands
    BROADCAST against the staged band table (the base side never shuffles
    per trigger) and exact-Jaccard via the staged per-doc shingle ARRAYS
    (JVM array_intersect over the few candidate docs, never a scan of the
    exploded base token frame) — zero per-row Python either way.  availableNow
    drains the bounded source in one deterministic micro-batch, which
    makes the result value-identical to the batch twin — and the oracle
    IS the batch twin's SQL.

    Sink-path caveat: the parquet sink uses a driver-local tempdir, which
    is correct ONLY in local[] mode (executors share the driver's
    filesystem).  On a real cluster route it to a shared filesystem via
    ``SPARK_GRAFT_SCRATCH`` (S3/HDFS/NFS path), exactly like checkpoint
    dirs — otherwise each executor writes to its own local disk and the
    driver-side read-back sees partial data."""
    from ..operators import dedup as D
    from .llm import staged_base_index

    docs = stream_table(spark, sf_dir, "documents")
    delta = (
        docs.select(
            F.explode(
                F.array(
                    F.struct(
                        (F.col("doc_id") + 1000000).alias("doc_id"),
                        F.col("text").alias("text"),
                        (F.col("doc_id") % 10 == 0).alias("keep"),
                    ),
                    F.struct(
                        (F.col("doc_id") + 2000000).alias("doc_id"),
                        F.concat("text", F.lit(" zz")).alias("text"),
                        (F.col("doc_id") % 7 == 0).alias("keep"),
                    ),
                )
            ).alias("x")
        )
        .filter("x.keep")
        .select("x.doc_id", "x.text")
    )
    idx = staged_base_index(spark, sf_dir)
    return run_foreach_batch(
        delta,
        spark,
        lambda batch: D.incremental_near_dup_batch(spark, idx, batch, threshold=0.8),
    )


# the streaming ingest dedup is value-identical to the batch twin (one
# deterministic availableNow micro-batch), so it shares that oracle verbatim
from .llm import ORA_DEDUP_INCREMENTAL as _ORA_DEDUP_INCREMENTAL  # noqa: E402


def q_streaming_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DIRECTED-containment ingest gate (r16, the containment
    twin of streaming_dedup_incremental): the synthetic ingest stream —
    text prefixes (true inclusions) and reversed texts (noise) — arrives
    AS A STREAM, and each micro-batch asks "is this new doc already
    CONTAINED in the corpus?" against the staged containment index
    inside foreachBatch.  The per-batch operator is
    containment_vs_base_batch: every base-side table (df statistics,
    capped full token index, shingle arrays) stays a parquet SCAN probed
    by broadcasts of delta-derived frames — the base never shuffles per
    trigger, the production posture for continuous ingestion at corpus
    scale.  availableNow drains the bounded source in one deterministic
    micro-batch, making the result value-identical to the batch twin
    (dedup_containment_incremental) — and the oracle IS that query's SQL.

    Same local[]-only sink caveat as streaming_dedup_incremental: on a
    cluster route ``SPARK_GRAFT_SCRATCH`` to a shared filesystem."""
    from ..operators import dedup as D
    from .llm import _containment_delta, staged_containment_index

    delta = _containment_delta(stream_table(spark, sf_dir, "documents"))
    idx = staged_containment_index(spark, sf_dir)
    return run_foreach_batch(
        delta, spark, lambda batch: D.containment_vs_base_batch(spark, idx, batch)
    )


# value-identical to the batch twin (one availableNow micro-batch), so it
# shares dedup_containment_incremental's oracle verbatim
from .llm import (  # noqa: E402
    ORA_DEDUP_CONTAINMENT_INCREMENTAL as _ORA_DEDUP_CONTAINMENT_INCREMENTAL,
)


def q_streaming_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN ingest gate (the similarity twin of
    streaming_dedup_containment): the synthetic query stream — shifted
    copies of every 7th corpus vector — arrives AS A STREAM, and each
    micro-batch asks "what does this new vector match in the corpus?"
    against the staged IVF index inside foreachBatch.  The per-batch
    operator is ann_vs_base_batch: the k-row centroid table broadcasts
    onto the delta, the probe list broadcasts onto the
    cluster-partitioned vector scan, and dynamic partition pruning drops
    every unprobed cluster's files at the source — the base never
    shuffles per trigger, the production posture for continuous vector
    ingestion at corpus scale.  availableNow drains the bounded source
    deterministically, making the result value-identical to the batch
    twin (sim_incremental_topk) — and the oracle IS that query's SQL.

    Same local[]-only sink caveat as streaming_dedup_containment: on a
    cluster route ``SPARK_GRAFT_SCRATCH`` to a shared filesystem."""
    from ..operators import similarity as S
    from .llm import _ann_delta, staged_ivf_index

    delta = _ann_delta(stream_table(spark, sf_dir, "embeddings"))
    idx = staged_ivf_index(spark, sf_dir)
    return run_foreach_batch(
        delta, spark, lambda batch: S.ann_vs_base_batch(spark, idx, batch)
    )


# value-identical to the batch twin (availableNow drain of a bounded
# source), so it shares sim_incremental_topk's oracle verbatim
from .llm import _ora_sim_incremental as _ora_sim_incremental_streaming  # noqa: E402


def q_streaming_sim_topk_day2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAY-2 vector dedup AS A STREAM — the similarity twin of
    streaming_ingest_admission_day2: the second day's vector batch
    (verbatim replays of the day-1 noise arm + a +0.5-shifted control
    arm) arrives as micro-batches, and each trigger probes the MERGED
    (base ∪ day-1 admitted extension) IVF index inside foreachBatch —
    copies of yesterday's admissions flag at cosine ~1.0 through the
    appended cluster-partition rows, the control arm never flags.  The
    merged index is staged once, before the stream starts (the
    merge-after-close / serve-today's-triggers cadence), and the
    per-row k=1 probe is split-safe, so the result is value-identical
    to the batch twin (sim_topk_day2) — the oracle IS that query's
    two-day replay SQL."""
    from ..operators import similarity as S
    from .llm import _ann_delta2, staged_merged_ivf_index

    delta2 = _ann_delta2(stream_table(spark, sf_dir, "embeddings"))
    midx = staged_merged_ivf_index(spark, sf_dir)

    def match_batch(batch_df: DataFrame) -> DataFrame:
        top1 = S.ann_vs_base_batch(spark, midx, batch_df, k=1)
        return top1.select(
            "query_id",
            "neighbor_id",
            "cosine",
            (F.col("cosine") >= 0.99).alias("is_dup"),
        )

    return run_foreach_batch(delta2, spark, match_batch)


# shares sim_topk_day2's two-day replay oracle verbatim
from .llm import ORA_SIM_TOPK_DAY2 as _ORA_SIM_TOPK_DAY2  # noqa: E402


def q_streaming_ingest_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-admission funnel AS A STREAM — the deployment shape of
    the whole dedup/quality tier: incoming documents (exact copies +
    contained prefixes + appended-tail near-dups + reversed noise)
    arrive as micro-batches, and foreachBatch runs the composed funnel
    (exact-hash gate -> staged containment gate on the survivors ->
    staged MinHash band-index near-dup gate on the doubly-cleared
    sliver -> quality gate) against the maintained indexes, emitting an
    admit/reject decision with per-gate flags for every doc.  Each
    gate's base side stays a parquet scan probed by broadcasts of delta
    frames; the funnel ORDER is the optimization (only not-exact docs
    pay the shingle probe, only un-contained docs pay the signature
    chain).  availableNow drains the bounded source deterministically,
    so the result is value-identical to the batch twin
    (ingest_admission) — the oracle IS that query's SQL.

    Split safety is measured, not built in.  The containment probe caps
    each token's DELTA-side postings (``row_number`` over the token's
    delta docs, ``rn <= max_posting`` in operators/dedup
    ``_containment_probe``), so which docs share a micro-batch can change
    what the probe flags.  On the benchmark corpus (the 6664-doc seed-1
    delta split 1, 2 and 8 ways) the funnel's flags were identical at
    every split, while the standalone containment probe flagged 1260,
    1325 and 1343 docs: the extra flags fall on docs the exact gate
    removes first.  The shared oracle checks the one-batch drain.

    Same local[]-only sink caveat as the other staged-index twins: on a
    cluster route ``SPARK_GRAFT_SCRATCH`` to a shared filesystem."""
    from ..operators import ingest as I
    from .llm import (
        _ingest_delta,
        staged_base_index,
        staged_containment_index,
        staged_hash_index,
    )

    delta = _ingest_delta(stream_table(spark, sf_dir, "documents"))
    cidx = staged_containment_index(spark, sf_dir)
    hidx = staged_hash_index(spark, sf_dir)
    bidx = staged_base_index(spark, sf_dir)
    return run_foreach_batch(
        delta,
        spark,
        lambda batch: I.ingest_admission_batch(spark, cidx, hidx, bidx, batch),
    )


# value-identical to the batch twin (one availableNow drain), so it shares
# ingest_admission's oracle verbatim
from .llm import ORA_INGEST_ADMISSION as _ORA_INGEST_ADMISSION  # noqa: E402

# the day-2 twin shares ingest_admission_day2's two-day replay oracle
from .llm import _ora_day2_funnel as _ora_day2  # noqa: E402


def q_streaming_ingest_admission_day2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAY-2 admission AS A STREAM — the twin that completes the multi-day
    deployment story: the second day's batch (verbatim replays + appended-
    tail near-copies of the day-1 rev arm) arrives as micro-batches, and
    foreachBatch runs the 4-gate funnel against the MERGED base ∪ day-1
    extension indexes (staged once, before the stream starts — exactly the
    cadence of a production pipeline that merges after yesterday's close
    and serves today's triggers from the merged tables).  Copies and
    near-copies of yesterday's ADMISSIONS are rejected through the
    extension rows; the containment gate stays pinned to the base index
    (rebuild-not-append).  availableNow drains the bounded source in one
    batch, so the result is value-identical to the batch twin
    (ingest_admission_day2) — the oracle IS that query's two-day
    full-replay SQL.  Split safety rests on the same measurement as
    streaming_ingest_admission (the containment probe's delta-side cap
    depends on which docs share a batch), not on construction."""
    from ..operators import ingest as I
    from .llm import (
        _ingest_delta2,
        staged_containment_index,
        staged_merged_index,
    )

    delta2 = _ingest_delta2(stream_table(spark, sf_dir, "documents"))
    cidx = staged_containment_index(spark, sf_dir)
    midx = staged_merged_index(spark, sf_dir)
    return run_foreach_batch(
        delta2,
        spark,
        lambda batch: I.ingest_admission_batch(spark, cidx, midx, midx, batch),
    )


def q_streaming_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fit-drift monitor AS A STREAM: fresh documents (with 'en'
    deterministically damaged) arrive as micro-batches, and foreachBatch
    re-fits the per-language chars~tokens model on each batch and
    compares slopes against the STAGED base fit (broadcast k-row model
    table) — the per-trigger calibration check a crawl pipeline runs
    continuously.  The only per-trigger work that scales with the batch
    is the one-scan sufficient-statistics aggregate.  availableNow
    drains the bounded source in one deterministic batch, so the result
    is value-identical to the batch twin (quality_fit_drift) — the
    oracle IS that query's SQL.

    SPLIT-SAFE by construction: each trigger appends only its batch's
    integer sufficient-statistics rows (operators/training.
    quality_fit_stats — k_langs tiny rows per batch); after the source
    drains, the accumulated rows are merged (exact bigint sums of sums)
    and the Cramer solve + drift comparison run ONCE over the totals
    (quality_fit_drift_from_stats).  However the source splits into
    micro-batches — availableNow's single drain here, maxFilesPerTrigger
    slicing in production — the merged statistics equal the one-batch
    statistics exactly, so the shared batch oracle holds for ANY
    trigger plan (pytest: test_training.test_fit_drift_split_safe).
    This replaces the r17 fail-fast guard that raised on a second
    micro-batch rather than diverge from the oracle."""
    from ..operators import training as TRo
    from .llm import _drift_delta, staged_fit_index

    fresh = _drift_delta(stream_table(spark, sf_dir, "documents"))
    idx = staged_fit_index(spark, sf_dir)
    base_fit = spark.read.parquet(os.path.join(idx, "fit"))
    return run_foreach_batch(
        fresh,
        spark,
        TRo.quality_fit_stats,
        finish=lambda stats: TRo.quality_fit_drift_from_stats(
            base_fit, TRo.merge_fit_stats(stats)
        ),
    )


# value-identical to the batch twin (one availableNow drain), so it shares
# quality_fit_drift's oracle verbatim
from .llm import ORA_QUALITY_FIT_DRIFT as _ORA_QUALITY_FIT_DRIFT  # noqa: E402


def q_streaming_idempotent_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE foreachBatch sink, crash-proven on every run: the
    production pattern for parquet/JDBC/object-store targets that
    Structured Streaming can only drive at-least-once.  foreachBatch
    re-runs a batch whose offsets committed but whose epoch didn't — so a
    plain append sink duplicates that batch's rows after any crash between
    sink write and commit.  The fix is a batch_id-KEYED IDEMPOTENT
    OVERWRITE: each micro-batch owns the partition directory
    ``batch=<batch_id>`` and writes it with mode=overwrite, so a replayed
    batch REPLACES its own previous (possibly partial) output instead of
    appending next to it.  batch_id is deterministic across restarts from
    the same checkpoint, which is exactly the contract the pattern leans
    on (Structured Streaming programming guide, foreachBatch section).

    The query does not merely document this — it KILLS the stream on every
    execution: the first attempt's sink hook raises AFTER the parquet
    write but BEFORE the trigger commits, the stream dies mid-epoch, and a
    second start from the SAME checkpoint replays the batch into the same
    partition.  The oracle is the plain batch SQL over the source — any
    duplicate row from the crashed first attempt fails the value hash.

    Same local[]-only sink caveat as streaming_dedup_incremental: on a
    cluster, route ``SPARK_GRAFT_SCRATCH`` to a shared FS."""
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    rows = (
        stream_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "value",
            F.floor("value").cast("long").alias("value_floor"),
        )
    )
    out_dir = scratch_dir("stream_idem_")
    crash_once = {"armed": True}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )
        if crash_once.pop("armed", None):
            raise RuntimeError(
                "injected crash AFTER sink write, BEFORE offset commit"
            )

    def start():
        # the checkpoint sits inside out_dir: Spark's listing skips
        # ``_``-prefixed entries, so the read-back never sees it
        return foreach_batch_sink(
            rows, sink, checkpoint_dir=os.path.join(out_dir, "_checkpoint")
        )

    try:
        try:
            drain(start())
        except StreamingQueryException:
            pass
        else:
            raise AssertionError(
                "injected mid-epoch crash did not surface — the restart "
                "below would not be exercising failure recovery"
            )
        progress = drain(start())
        out = (
            spark.read.parquet(out_dir)
            .select("event_id", "user_id", "value", "value_floor")
            .localCheckpoint(eager=True)
        )
        # throughput accounting: source rows ingested by the SUCCESSFUL run
        # (the crashed first attempt is failure-recovery theater, not
        # steady-state throughput)
        return stamp(out, progress)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


ORA_STREAMING_IDEMPOTENT_SINK = """
SELECT event_id, user_id, value, CAST(FLOOR(value) AS BIGINT) AS value_floor
FROM events WHERE event_type = 'purchase'
"""

def q_streaming_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram quantile sketch maintained AS A STREAM: the
    (source, bin) cell table of `quantile_sketch_merge` kept by a
    complete-mode streaming groupBy(source, bin).count — the fourth
    mergeable sketch next to SUM (countmin), MAX (hll) and OR (bloom);
    COUNT partials fold into the running state and the state is bounded by
    the value range, not the stream length.  The p50/p90/p99 edges are
    read off the DRAINED sketch as a batch epilogue (two windows over the
    tiny cell table): the sketch is the state, the quantile report is a
    view of it — exactly how a continuously-ingesting pipeline serves
    length-distribution monitoring without a global sort.  Exact integers
    end to end, so the bounded replay has a full batch-SQL value oracle
    (shared with the batch twin)."""
    from pyspark.sql import Window

    from ..sources.files import stream_table

    docs = stream_table(spark, sf_dir, "documents")
    cells = docs.groupBy(
        F.col("source"), F.expr("n_chars div 64").alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    drained = run_to_memory(
        cells, spark, output_mode="complete", no_data_batches=False
    )
    wc = Window.partitionBy("source").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("source")
    cum = drained.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
        "total", F.sum("cnt").over(wt)
    )

    def edge(pct):
        hit = F.when(100 * F.col("cum") >= pct * F.col("total"), F.col("bin"))
        return (64 * (F.min(hit) + 1)).cast("bigint")

    out = cum.groupBy("source").agg(
        F.max("total").cast("bigint").alias("n_docs"),
        edge(50).alias("p50_hi"),
        edge(90).alias("p90_hi"),
        edge(99).alias("p99_hi"),
    )
    # carry the runner's ingest count onto the derived epilogue frame so
    # bench's rows/s reflects rows PROCESSED, not the 20-row sketch read-out
    _carry_stream_metrics(out, drained)
    return out


def q_streaming_mv_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance ON THE STREAM: orders arrive as a
    stream and each micro-batch folds its per-customer SUM/COUNT partials
    into a maintained aggregate table via foreachBatch — the streaming
    twin of `mv_incremental_update`, sharing its oracle (the FULL
    recompute), so "stream-maintained MV == from-scratch batch rollup" is
    the checked property.

    The batch hook appends mergeable PARTIALS (sum, count per key) and the
    read-back folds them — the same self-mergeable-aggregate discipline as
    the complete-mode sketch streams, expressed through the
    stream->lakehouse foreachBatch path a production MV actually uses
    (there the append target is a Delta table and the fold is MERGE INTO;
    parquet-append + final fold is the sandbox analog, and is
    value-identical under availableNow's deterministic replay).  State is
    bounded by |customers| per batch partial, never by stream length."""
    from ..functions.numeric import dec

    def partials(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("o_custkey").agg(
            F.sum(dec("o_totalprice")).alias("spend_part"),
            F.count(F.lit(1)).alias("n_part"),
        )

    def fold(acc: DataFrame) -> DataFrame:
        return acc.groupBy("o_custkey").agg(
            F.sum("spend_part").cast("double").alias("total_spent"),
            F.sum("n_part").cast("bigint").alias("n_orders"),
        )

    orders = stream_table(spark, sf_dir, "orders")
    return run_foreach_batch(orders, spark, partials, finish=fold)


def q_streaming_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME dimension lookup on the stream (feature-store
    correctness): each click event joins the SCD2 dimension VERSION that
    was valid at the event's own timestamp — user_id equality plus the
    [valid_from, valid_to) interval condition — so a training-data
    pipeline never leaks a future attribute value into a past example.

    The dimension is stream-STATIC (built batch-side from the signup
    change history, re-read per micro-batch): the join is therefore
    STATELESS — no watermark, no state store, any predicate allowed — and
    scales as an ordinary broadcast/hash join per batch.  This is the
    standard feature-store serving shape; the stream-stream interval join
    (`streaming_interval_join`) covers the both-sides-moving case."""
    from pyspark.sql import Window

    from ..sources.files import load_table, stream_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", "ts", "event_id", "value")
        .select(
            F.col("user_id").alias("d_user"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.col("value").alias("attr_value"),
        )
    )
    clicks = stream_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    joined = clicks.join(
        dim,
        (clicks.user_id == dim.d_user)
        & (clicks.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (clicks.ts < dim.valid_to)),
    ).select(
        "event_id",
        "user_id",
        F.date_format(clicks.ts, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        "attr_value",
    )
    return run_to_memory(joined, spark, output_mode="append")


ORA_STREAMING_SCD2_LOOKUP = """
WITH dim AS (
  SELECT user_id AS d_user, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
         value AS attr_value
  FROM events WHERE event_type = 'signup'
)
SELECT e.event_id, e.user_id,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
       d.attr_value
FROM events e JOIN dim d
  ON e.user_id = d.d_user AND e.ts >= d.valid_from
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
WHERE e.event_type = 'click'
"""


def q_streaming_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model scoring ON THE STREAM: the fixed-weight linear quality
    classifier applied to a document stream as a stateless append-mode
    map+filter — the shape of a production ingest gate (score every
    arriving doc, pass the keepers downstream).  Stateless means zero
    state store, per-batch cost is pure codegen, and the plan is identical
    at any stream length; the bounded replay has a full batch oracle."""
    from ..operators.text import quality_logit_score
    from ..sources.files import stream_table

    docs = stream_table(spark, sf_dir, "documents")
    scored = quality_logit_score(docs)
    gated = scored.filter(F.col("keep")).select(
        "doc_id", "logit_milli", "stop_ratio_m", "wlen_m"
    )
    return run_to_memory(gated, spark, output_mode="append")


def q_streaming_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in ONE streaming query (Spark 3.4+
    multiple time-window aggregations): hour-grain window counts are
    re-aggregated into 6-hour rollups downstream — both stages stateful,
    both watermark-evicted, append mode.  The fine window becomes the
    coarse stage\'s event time via ``window_time()``; epoch-aligned windows
    nest exactly, so the chained rollup must equal the direct coarse
    aggregate — which IS the oracle.  Both stages flush in the same
    trailing no-data batch (verified per-batch: the final watermark evicts
    the fine windows AND the coarse windows they roll into).

    The flush SENTINEL (one row +1 year, marker event_type) advances the
    final watermark past every real window.  CRITICAL: the marker filter
    must run on the RETURNED BATCH frame, not inside the streaming plan —
    event_type is a grouping key of both aggregates, so Catalyst pushes an
    in-plan filter down THROUGH them to the source scan, beheading the
    sentinel before the EventTimeWatermark node ever sees it (measured:
    watermark stuck at real-max - 1h, final 6-hour window stranded in
    state).  In-plan, the sentinel\'s own windows never emit anyway (they
    sit +1 year beyond the watermark), so the batch-side filter is
    belt-and-braces.

    At 100 TB this is the pre-aggregation cascade pattern: the fine agg
    collapses the stream once; the coarse agg runs on |windows| rows, not
    events — the same reason sketches win (state is geometry-bounded)."""
    ev = stream_table(spark, sf_dir, "events")
    real = ev.select("ts", "event_type", "value")
    flush = ev.filter(F.col("event_id") == 0).select(
        (F.col("ts") + F.expr("INTERVAL 1 YEAR")).alias("ts"),
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    src = real.unionByName(flush).withWatermark("ts", "1 hour")
    fine = src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        # decimal-exact partial sums (repo discipline): re-summed exactly
        # in the coarse stage, cast to double only at the very end
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_dec"),
    )
    coarse = fine.groupBy(
        F.window(F.window_time("w"), "6 hours").alias("w6"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_dec").cast("double").alias("sum_value"),
    )
    out = coarse.select(
        F.col("w6.start").alias("window_start"),
        F.col("w6.end").alias("window_end"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        "sum_value",
    )
    res = run_to_memory(out, spark, output_mode="append")
    kept = res.filter(F.col("event_type") != "__flush__")
    _carry_stream_metrics(kept, res)
    return kept


ORA_STREAMING_CHAINED_WINDOWS = """
SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
       time_bucket(INTERVAL '6 hours', ts) + INTERVAL 6 HOUR AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


def q_streaming_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic event PRODUCER via the built-in `rate-micro-batch`
    generator source — the Spark-idiomatic analog of the reference's
    Python producer loops (reference sparkpykafkajoin repo: the
    kafka-console / faker producers feeding redis-server and
    stedi-events).  Where the reference emits ~0.5 events/s from a
    driver-side loop, this source manufactures rows IN the engine,
    per-partition and offset-tracked: with a pinned `startTimestamp`
    and `rowsPerBatch`, an availableNow replay yields exactly `value`
    in [0, rowsPerBatch) — fully deterministic, so the downstream
    aggregation is value-oracled (DuckDB replays the generator with
    `range()`).  `sf_dir` is unused: a generator source has no input
    corpus.  At scale this is the load-harness pattern: numPartitions
    generator tasks produce in parallel and the complete-mode agg
    holds |shards| rows of state."""
    gen = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 5000)
        .option("numPartitions", 8)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    ev = gen.select(
        "value",
        (F.col("value") % 5).alias("shard"),
        ((F.col("value") * 37 + 11) % 1000).alias("amount"),
    )
    agg = ev.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("amount").alias("sum_amount"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    # complete-mode agg emits during the data batch; no watermark state to
    # flush, so the trailing no-data batch is pure overhead.
    return run_to_memory(agg, spark, output_mode="complete", no_data_batches=False)


ORA_STREAMING_RATE_SOURCE = """
SELECT value % 5 AS shard,
       COUNT(*) AS n_events,
       CAST(SUM((value * 37 + 11) % 1000) AS BIGINT) AS sum_amount,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM range(0, 5000) t(value)
GROUP BY 1
"""


def q_streaming_ppl_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity gating ON THE STREAM — the train-batch / score-stream
    split of a production CCNet-style filter: the bigram surprisal model
    is a STAGED TABLE (trained once batch-side,
    queries/curation.staged_ppl_model), and each arriving micro-batch pays
    only its own explode + vocab-bounded model join + per-doc aggregate
    inside foreachBatch — never a model retrain, never cross-batch state.
    Kept docs append to the sink; availableNow drains the bounded source
    so the result equals the batch filter's keep-side exactly, and the
    oracle IS the batch SQL restricted to keep.

    Same local[]-only sink caveat as streaming_dedup_incremental: on a
    cluster the parquet sink dir must be shared storage."""
    from ..operators.curation import lm_score_docs
    from .curation import staged_ppl_model

    docs = stream_table(spark, sf_dir, "documents")
    model = staged_ppl_model(spark, sf_dir)
    return run_foreach_batch(
        docs,
        spark,
        lambda batch: lm_score_docs(batch, model).filter("keep").drop("keep"),
    )


def q_streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly monitoring ON THE STREAM: per (event_type, day)
    counts as complete-mode state (bounded by |types| x |days|, COUNT
    partials fold per micro-batch), with the portable IEEE z-score read
    off the DRAINED cell table as a batch epilogue — the streaming twin of
    `anomaly_zscore`, same sketch-is-the-state pattern as
    `streaming_quantile`."""
    from pyspark.sql import Window

    from ..sources.files import stream_table

    ev = stream_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    drained = run_to_memory(
        daily, spark, output_mode="complete", no_data_batches=False
    )
    w = Window.partitionBy("event_type")
    # Same decimal-exact squaring as the batch twin (relational.py
    # q_anomaly_zscore): int64 n*n wraps past ~3e9 events/cell while
    # DuckDB raises — decimal(38,0) keeps it exact and order-independent.
    n_dec = F.col("n").cast("decimal(19,0)")
    stats = (
        drained.withColumn("s", F.sum("n").over(w))
        .withColumn("ss", F.sum(n_dec * n_dec).over(w))
        .withColumn("c", F.count(F.lit(1)).over(w))
    )
    s_d = F.col("s").cast("double")
    mean = s_d / F.col("c").cast("double")
    var = (
        F.col("ss").cast("double") - s_d * s_d / F.col("c").cast("double")
    ) / F.col("c").cast("double")
    z = F.when(var > 0, (F.col("n").cast("double") - mean) / F.sqrt(var)).otherwise(
        F.lit(0.0)
    )
    out = stats.select(
        "event_type",
        "day",
        F.col("n").cast("bigint").alias("n"),
        z.alias("z"),
        (F.abs(z) >= 2.0).alias("is_anomaly"),
    )
    # ingest metrics forwarded from the drained stream (see streaming_quantile)
    _carry_stream_metrics(out, drained)
    return out


# The streaming gate's oracle IS the batch perplexity filter's SQL
# restricted to its keep-side: train + score on the same corpus, so the
# bounded replay (staged model + per-batch scoring) must reproduce it
# row-for-row.
from ..operators.curation import ORA_LM_PERPLEXITY as _ORA_LM_PPL

ORA_STREAMING_PPL_GATE = f"""
SELECT doc_id, n_bigrams, total_bits, avg_milli_bits
FROM ({_ORA_LM_PPL}) WHERE keep
"""


# Shares the milli-unit feature formulas and weights with ORA_QUALITY_LOGIT
# (queries/llm.py); the stop list is generated from the one STOPWORDS
# constant so the two can never drift.
from ..operators.text import STOPWORDS as _GATE_STOPWORDS

_GATE_STOPS = "[" + ", ".join(f"'{w}'" for w in _GATE_STOPWORDS) + "]"
ORA_STREAMING_QUALITY_GATE = f"""
WITH f AS (
  SELECT doc_id,
         (1000 * CAST(len(list_filter(string_split(text, ' '),
                 t -> list_contains({_GATE_STOPS}, t))) AS BIGINT))
           // CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_ratio_m,
         (1000 * CAST(length(replace(text, ' ', '')) AS BIGINT))
           // CAST(len(string_split(text, ' ')) AS BIGINT) AS wlen_m,
         (1000 * CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT))
           // CAST(greatest(length(text), 1) AS BIGINT) AS digit_ratio_m,
         (1000 * CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT))
           // CAST(greatest(length(text), 1) AS BIGINT) AS punct_ratio_m
  FROM documents
)
SELECT doc_id,
       CAST(-2600 + 6 * stop_ratio_m + wlen_m // 2
            - 3 * digit_ratio_m - 4 * punct_ratio_m AS BIGINT) AS logit_milli,
       stop_ratio_m, wlen_m
FROM f
WHERE (-2600 + 6 * stop_ratio_m + wlen_m // 2
       - 3 * digit_ratio_m - 4 * punct_ratio_m) >= 0
"""


from .llm import ORA_QUANTILE_SKETCH as _ORA_STREAMING_QUANTILE
from .relational import ORA_ANOMALY_ZSCORE as _ORA_STREAMING_ANOMALY
from .relational import ORA_MV_INCREMENTAL as _ORA_STREAMING_MV

QUERIES: dict[str, QuerySpec] = {
    "streaming_dedup_incremental": QuerySpec(
        q_streaming_dedup_incremental,
        _ORA_DEDUP_INCREMENTAL,
        "foreachBatch ingest dedup: stream micro-batches vs static base index",
    ),
    "streaming_dedup_containment": QuerySpec(
        q_streaming_dedup_containment,
        _ORA_DEDUP_CONTAINMENT_INCREMENTAL,
        "foreachBatch directed-containment ingest gate: stream "
        "micro-batches vs the staged containment index",
    ),
    "streaming_sim_topk": QuerySpec(
        q_streaming_sim_topk,
        _ora_sim_incremental_streaming(),
        "foreachBatch ANN ingest gate: stream micro-batches vs the "
        "staged cluster-partitioned IVF index (DPP probe)",
    ),
    "streaming_sim_topk_day2": QuerySpec(
        q_streaming_sim_topk_day2,
        _ORA_SIM_TOPK_DAY2,
        "foreachBatch day-2 vector dedup vs the MERGED base+extension "
        "IVF index: yesterday's admissions flag today's copies",
    ),
    "streaming_ingest_admission": QuerySpec(
        q_streaming_ingest_admission,
        _ORA_INGEST_ADMISSION,
        "foreachBatch admission funnel: exact-hash -> containment -> "
        "near-dup -> quality gates per micro-batch vs the maintained indexes",
    ),
    "streaming_ingest_admission_day2": QuerySpec(
        q_streaming_ingest_admission_day2,
        _ora_day2(),
        "foreachBatch day-2 funnel vs the MERGED base+extension indexes: "
        "yesterday's admissions gate today's micro-batches",
    ),
    "streaming_quality_drift": QuerySpec(
        q_streaming_quality_drift,
        _ORA_QUALITY_FIT_DRIFT,
        "foreachBatch fit-drift monitor: per-trigger ridge re-fit vs "
        "the staged base model table",
    ),
    "streaming_idempotent_sink": QuerySpec(
        q_streaming_idempotent_sink,
        ORA_STREAMING_IDEMPOTENT_SINK,
        "exactly-once foreachBatch sink: batch_id-keyed overwrite, "
        "crash-after-write + checkpoint restart proven on every run",
    ),
    "streaming_countmin": QuerySpec(
        q_streaming_countmin,
        ORA_STREAMING_COUNTMIN,
        "Count-Min sketch as a complete-mode streaming aggregation",
    ),
    "streaming_hll": QuerySpec(
        q_streaming_hll,
        ORA_STREAMING_HLL,
        "HyperLogLog registers as a complete-mode streaming aggregation",
    ),
    "streaming_bloom": QuerySpec(
        q_streaming_bloom,
        ORA_STREAMING_BLOOM,
        "Bloom-filter words as a complete-mode streaming aggregation",
    ),
    "streaming_quantile": QuerySpec(
        q_streaming_quantile,
        _ORA_STREAMING_QUANTILE,
        "histogram quantile sketch as complete-mode stream + edge epilogue",
    ),
    "streaming_scd2_lookup": QuerySpec(
        q_streaming_scd2_lookup,
        ORA_STREAMING_SCD2_LOOKUP,
        "point-in-time SCD2 dimension lookup on the stream (stateless)",
    ),
    "streaming_semi_join": QuerySpec(
        q_streaming_semi_join,
        ORA_STREAMING_SEMI_JOIN,
        "watermarked stream-stream LEFT SEMI interval join (qualified events)",
    ),
    "streaming_full_outer_join": QuerySpec(
        q_streaming_full_outer_join,
        ORA_STREAMING_FULL_OUTER_JOIN,
        "watermarked stream-stream FULL OUTER interval join (sentinel-flushed replay)",
    ),
    "streaming_observed_metrics": QuerySpec(
        q_streaming_observed_metrics,
        ORA_STREAMING_OBSERVED,
        "df.observe() per-batch telemetry folded to stream totals (telemetry == truth)",
    ),
    "state_store_inspect": QuerySpec(
        q_state_store_inspect,
        ORA_STATE_INSPECT,
        "Spark 4 state data source: checkpointed aggregation state read back == truth",
    ),
    "streaming_mv_update": QuerySpec(
        q_streaming_mv_update,
        _ORA_STREAMING_MV,
        "stream-maintained materialized view (foreachBatch partial fold == full recompute)",
    ),
    "streaming_quality_gate": QuerySpec(
        q_streaming_quality_gate,
        ORA_STREAMING_QUALITY_GATE,
        "stateless streaming quality-classifier gate (append mode)",
    ),
    "streaming_rate_source": QuerySpec(
        q_streaming_rate_source,
        ORA_STREAMING_RATE_SOURCE,
        "rate-micro-batch generator source -> complete-mode shard rollup",
    ),
    "streaming_chained_windows": QuerySpec(
        q_streaming_chained_windows,
        ORA_STREAMING_CHAINED_WINDOWS,
        "chained stateful window aggregations (hour -> 6-hour rollup, one query)",
    ),
    "streaming_ppl_gate": QuerySpec(
        q_streaming_ppl_gate,
        ORA_STREAMING_PPL_GATE,
        "streaming perplexity gate (staged batch-trained model, foreachBatch scoring)",
    ),
    "streaming_anomaly": QuerySpec(
        q_streaming_anomaly,
        _ORA_STREAMING_ANOMALY,
        "daily volume anomaly monitor as complete-mode stream + epilogue",
    ),
    "streaming_foreachbatch_topk": QuerySpec(
        q_streaming_foreachbatch_topk,
        ORA_STREAMING_FEB_TOPK,
        "foreachBatch sink: batch-only ranking per micro-batch to parquet",
    ),
    "streaming_interval_join": QuerySpec(
        q_streaming_interval_join,
        ORA_STREAMING_INTERVAL_JOIN,
        "watermarked stream-stream interval join (time-bounded state)",
    ),
    "streaming_union": QuerySpec(
        q_streaming_union,
        ORA_STREAMING_UNION,
        "union of two streaming sources into one windowed agg",
    ),
    "streaming_stedi_join": QuerySpec(
        q_streaming_stedi_join,
        _STEDI_JOIN_ORACLE,
        "watermarked stream-stream inner equi-join (J1, scalable form)",
    ),
    "streaming_stedi_unbounded": QuerySpec(
        q_streaming_stedi_unbounded,
        _STEDI_JOIN_ORACLE,
        "reference-exact unwatermarked stream-stream join (J1 parity)",
    ),
    "streaming_window_tumbling": QuerySpec(
        q_streaming_window_tumbling,
        ORA_TUMBLING,
        "tumbling event-time window agg, complete mode",
    ),
    "streaming_window_sliding": QuerySpec(
        q_streaming_window_sliding,
        ORA_SLIDING,
        "sliding event-time window agg, complete mode",
    ),
    "streaming_late_window": QuerySpec(
        q_streaming_late_window,
        ORA_LATE_WINDOW,
        "watermark + append mode: only closed windows emit",
    ),
    "streaming_session_window": QuerySpec(
        q_streaming_session_window,
        ORA_SESSION_WINDOW,
        "session windows (30 min gap) with watermark, append mode",
    ),
    "streaming_session_dynamic": QuerySpec(
        q_streaming_session_dynamic,
        ORA_SESSION_DYNAMIC,
        "session windows with a dynamic per-event gap column (10/30 min)",
    ),
    "streaming_dedup": QuerySpec(
        q_streaming_dedup,
        ORA_DEDUP_IDENTITY,
        "stateful streaming dropDuplicates on event_id",
    ),
    "streaming_dedup_watermark": QuerySpec(
        q_streaming_dedup_watermark,
        ORA_DEDUP_IDENTITY,
        "dropDuplicatesWithinWatermark (state-bounded dedup)",
    ),
    "streaming_stateful_count": QuerySpec(
        q_streaming_stateful_count,
        ORA_STATEFUL_COUNT,
        "custom stateful operator (applyInPandasWithState)",
    ),
    "streaming_cdc_latest": QuerySpec(
        q_streaming_cdc_latest,
        ORA_STREAMING_CDC,
        "CDC upsert stream -> latest state (update mode)",
    ),
    "streaming_static_join": QuerySpec(
        q_streaming_static_join,
        ORA_STREAMING_STATIC_JOIN,
        "stream-static dim enrichment join (stateless)",
    ),
    "streaming_outer_join": QuerySpec(
        q_streaming_outer_join,
        ORA_STREAMING_OUTER_JOIN,
        "watermarked LEFT OUTER stream-stream join (null-extension on watermark)",
    ),
}
