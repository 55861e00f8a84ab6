"""The listener (SURVEY.md §2.A): feed subscription → decode → exactly-once
upsert, composed in one place.

- **Source** — the custom ``event_feed`` streaming source
  (``sources/feed.py``): its offset is the listener's resume cursor, and a
  restart replays a committed byte range verbatim.
- **Decode** — the ABI-subscription analog: only the ``WATCHED`` event
  type passes, projected to the sink's shape ``(event_id, burner, amount,
  burn_day)``.
- **Sink** — ``foreachBatch`` of ``batch_upsert_writer`` (``streaming/
  replay.py``): a replayed batch id replaces its own file, never adds one.

Structured Streaming makes this exactly once only as a replayable source
plus an idempotent sink on one checkpoint; ``start`` is the one place that
binds the three, and ``drain`` the one start → drain → stop protocol.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from token_burn_listener_spark.registry import query
from token_burn_listener_spark.scratch import fresh_run_dir
from token_burn_listener_spark.sources.feed import feed_rows, register_feed_source
from token_burn_listener_spark.streaming.replay import (
    batch_upsert_writer,
    read_upsert_target,
)

WATCHED = "purchase"


def decode(src: DataFrame) -> DataFrame:
    """The watched event type of a feed frame, in the sink's shape."""
    return src.filter(F.col("event_type") == WATCHED).select(
        "event_id",
        F.col("user_id").alias("burner"),
        F.round("value", 6).alias("amount"),
        F.expr("ts_us div 86400000000").alias("burn_day"),
    )


def start(
    spark: SparkSession, feed: str, target: str, checkpoint: str, rows_per_batch: int
) -> StreamingQuery:
    """Start the listener on ``checkpoint``: poll ``feed`` at most
    ``rows_per_batch`` lines per micro-batch, decode, upsert into
    ``target``. A checkpoint that already holds commits resumes from its
    cursor."""
    register_feed_source(spark)
    src = (
        spark.readStream.format("event_feed")
        .option("path", feed)
        .option("rows_per_batch", str(rows_per_batch))
        .load()
    )
    return (
        decode(src)
        .writeStream.foreachBatch(batch_upsert_writer(target))
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .start()
    )


def drain(
    spark: SparkSession, feed: str, target: str, checkpoint: str, rows_per_batch: int
) -> StreamingQuery:
    """``start``, deliver everything the feed holds, then stop — the
    listener's backfill, and a crashed listener's redeploy when the
    checkpoint is not new. Returns the stopped query."""
    q = start(spark, feed, target, checkpoint, rows_per_batch)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


@query(
    "q_stream_listener_e2e",
    oracle="""
    SELECT event_id, user_id AS burner, round(value, 6) AS amount,
           epoch_us(ts) // 86400000000 AS burn_day
    FROM events WHERE event_type = 'purchase'
    """,
)
def q_stream_listener_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENCE-PARITY FLAGSHIP: the listener's whole job, SURVIVING a
    mid-backfill crash/restart. Phase 0 publishes half the feed and the
    listener drains it, then "crashes"; phase 1 publishes the rest and a
    new query on the SAME checkpoint resumes from the committed cursor.
    Each phase publishes through the feed's own sink, so its parts appear
    all-or-nothing after the existing ones, fenced by ``_FEEDCOMMIT`` (the
    provider's commit marker). The oracle then asserts the DB holds every
    watched event exactly once with exact decoded values — cursor resume,
    no loss, no double-delivery.

    100 TB plan: the source is the ingest boundary (Kafka/cloud-log JVM
    connectors at scale — this proves the offset/commit contract); the
    decode/filter is map-only relational; the sink's per-epoch file,
    replaced by an atomic rename, is the idempotent foreachBatch shape, so
    a replayed epoch lands on the same path instead of duplicating.
    """
    register_feed_source(spark)
    base = fresh_run_dir("listener_e2e")
    feed, target, cp = f"{base}/feed", f"{base}/db", f"{base}/cp"
    ev = feed_rows(spark, sf_dir)
    rows_per_batch = max(1, ev.count() // 6)
    for phase in (0, 1):
        (
            ev.filter(F.col("event_id") % 2 == phase)
            .write.format("event_feed")
            .option("path", feed)
            .mode("append")
            .save()
        )
        drain(spark, feed, target, cp, rows_per_batch)
    out = read_upsert_target(spark, target)
    n_out, n_distinct = out.count(), out.select("event_id").distinct().count()
    if n_out != n_distinct:
        raise AssertionError(
            f"double delivery after restart: {n_out} rows, {n_distinct} ids"
        )
    return out
