"""Streaming replay sources and sinks (SURVEY.md §2.B9 infrastructure).

Reference parity: the listener consumed an unbounded event feed with
backfill, dedup-on-redelivery, an external upsert sink, and a resume cursor
(SURVEY.md §2.A A1-A10). Here that maps onto Structured Streaming:

- **Replay source** — the ``events`` fixture written once (atomically,
  scratch.py) as parquet and re-read with ``spark.readStream``; a
  duplicated copy models at-least-once redelivery (A6).
- **Memory sink** — test-only collection point for single-run queries.
  NOT fault-tolerant: it cannot resume from a checkpoint, which is why the
  restart-based keys use foreachBatch instead.
- **foreachBatch exactly-once upsert sink** (A7/A8/A9 analog) — each
  micro-batch is collected to the driver as one Arrow table
  (``toArrow()``, a single Spark job), written with pyarrow to a
  ``_``-prefixed temp file in ``target/batch=<epoch_id>/`` and renamed
  onto that dir's fixed ``part-00000.parquet``. A retried or restarted
  batch replaces the same file, so the target holds every batch exactly
  once no matter how many times delivery is attempted, and a reader never
  sees a half-written file (Spark's file listing skips ``_`` names). This
  is the idempotent-MERGE pattern the listener needed against
  Backendless, re-expressed as a file-system upsert. The write is
  driver-side, bounded by the source's per-batch rate limit
  (``rows_per_batch``); at scale it is still MERGE-on-key into the
  external store, fenced by batch id.

Scale notes (100 TB): the replay dir stands in for Kafka/cloud-log sources;
``maxFilesPerTrigger``/``maxOffsetsPerTrigger`` bound per-batch work (A10).
State stores default to HDFS-backed here; RocksDB is the at-scale option
(SURVEY.md §4.2). Memory sinks never appear outside tests.
"""

from __future__ import annotations

from collections.abc import Callable
import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from token_burn_listener_spark.scratch import fresh_run_dir, materialize, scratch_dir
from token_burn_listener_spark.tables import load_table

# Replayed event columns (props excluded: decoded JSON is B8's q_map_json).
EVENT_COLS = ("event_id", "ts", "user_id", "event_type", "value")


def events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch view of the replayed stream (ts already µs-normalized)."""
    return load_table(spark, sf_dir, "events").select(*EVENT_COLS)


def ensure_events_replay(spark: SparkSession, sf_dir: str, dup: bool = False) -> str:
    """Materialize the events table as a file-stream replay dir.

    ``dup=True`` writes every event twice (redelivery fixture for A6 dedup).
    A single output file keeps availableNow to one deterministic micro-batch.
    """
    df = events_df(spark, sf_dir)
    if dup:
        df = df.unionAll(df)
    return materialize(
        df,
        scratch_dir(
            sf_dir,
            "events_dup" if dup else "events",
            source=f"{sf_dir}/events.parquet",
        ),
        lambda d, p: d.coalesce(1).write.parquet(p),
    )


def ensure_events_replay_multi(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> str:
    """Materialize the events table as an ``n_files``-file replay dir.

    The multi-file layout exists for rate-limited ingestion (A10): with
    ``maxFilesPerTrigger=1`` the file source drains it in ``n_files``
    micro-batches instead of one. Round-robin repartition gives a balanced,
    deterministic-count split (WHICH rows share a file is scan-order
    dependent, so consumers must only assert set/aggregate properties).
    """
    return materialize(
        events_df(spark, sf_dir),
        scratch_dir(
            sf_dir, f"events_x{n_files}", source=f"{sf_dir}/events.parquet"
        ),
        lambda d, p: d.repartition(n_files).write.parquet(p),
    )


def read_events_stream(
    spark: SparkSession, replay_dir: str, **options: str
) -> DataFrame:
    """File-stream the replay dir with the events schema (A1 analog)."""
    reader = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(replay_dir)


def run_to_memory(
    sdf: DataFrame,
    output_mode: str,
    min_batches: int | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink.

    availableNow = process-everything-then-stop (A2 backfill semantics).
    Returns the sink contents as a DataFrame. ``min_batches`` asserts the
    run really split into that many non-empty micro-batches (the A10
    rate-limit proof: correct output alone can't distinguish a throttled
    run from a one-gulp run). ``checkpoint`` pins the checkpoint dir when
    the caller needs to inspect it (state-store layout asserts).
    """
    name = f"mem_{uuid.uuid4().hex[:10]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint or fresh_run_dir("cp"))
        .start()
    )
    q.awaitTermination()
    if min_batches is not None:
        n = sum(1 for p in q.recentProgress if p.numInputRows > 0)
        if n < min_batches:
            raise AssertionError(
                f"rate limit not applied: {n} non-empty micro-batches,"
                f" expected >= {min_batches}"
            )
    return sdf.sparkSession.table(name)


def batch_upsert_writer(target: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function performing an idempotent per-batch upsert:
    the batch's rows replace ``target/batch=<id>/part-00000.parquet``
    atomically, so a replayed batch id lands on the same file."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        out = f"{target}/batch={batch_id}"
        os.makedirs(out, exist_ok=True)
        tmp = os.path.join(out, f"_{uuid.uuid4().hex}.parquet")
        pq.write_table(batch_df.toArrow(), tmp)
        os.replace(tmp, os.path.join(out, "part-00000.parquet"))

    return upsert


def read_upsert_target(spark: SparkSession, target: str) -> DataFrame:
    """Read back the exactly-once target (partition col dropped)."""
    return spark.read.parquet(target).drop("batch")


def run_foreach_upsert(
    sdf: DataFrame, target: str, checkpoint: str, output_mode: str = "append"
) -> None:
    """Run a stream through the exactly-once foreachBatch sink to completion."""
    q = (
        sdf.writeStream.foreachBatch(batch_upsert_writer(target))
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.awaitTermination()
