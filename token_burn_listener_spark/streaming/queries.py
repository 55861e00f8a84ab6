"""B9 — Structured Streaming operators (SURVEY.md §2.B9).

This module IS the reference-parity slice: the listener's entire dataflow —
subscribe (A1), backfill (A2), filter (A3), decode (A4), dedup (A6), upsert
sink (A7), resume cursor (A8), retry (A9), rate limits (A10) — re-expressed
as Structured Streaming (SURVEY.md §2.A; the checkout is empty, §0, so
parity is against the reconstructed inventory).

Every key here runs a REAL streaming query (``readStream`` over the replay
dir, ``availableNow`` trigger) and returns the sink contents, so the
driver's DuckDB oracle checks actual streaming output — not a batch
stand-in. Determinism comes from: one replay file → one micro-batch for the
single-run keys; explicit two-run checkpointed phases for the
watermark/late/restart keys, all drained by ``replay.drain_phases`` (the
second run starts from the committed offsets + watermark of the first,
exactly like a process restart).

Scale notes (100 TB): complete-mode memory sinks below are test
instrumentation only — production output is the foreachBatch exactly-once
upsert (A7) or append-mode file/Kafka sinks. Watermarks bound state for
window aggs and dedup; availableNow + maxFilesPerTrigger bound per-batch
work during backfill (A2/A10). State store: HDFS-backed locally, RocksDB at
scale (SURVEY.md §4.2).

API note: Spark 4's ``transformWithStateInPandas`` (the successor to
``applyInPandasWithState``: composable ValueState/ListState/MapState +
timers) is present in PySpark 4.1.2 but its worker requires
``google.protobuf``, which this container lacks (verified: the state-server
handshake dies on import; no network to install). q_stream_stateful uses
``applyInPandasWithState``, which covers the same per-key custom-state
semantics on the stable API.
"""

from __future__ import annotations

import datetime
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from token_burn_listener_spark.registry import query
from token_burn_listener_spark.scratch import fresh_run_dir
from token_burn_listener_spark.streaming.replay import (
    batch_upsert_writer,
    drain_phases,
    ensure_events_replay,
    events_df,
    read_events_stream,
    read_upsert_target,
    run_foreach_batch,
    run_to_memory,
)

_EVENT_COLS_SQL = "event_id, ts, user_id, event_type, value"


def _stream(spark: SparkSession, sf_dir: str, dup: bool = False) -> DataFrame:
    return read_events_stream(spark, ensure_events_replay(spark, sf_dir, dup=dup))


def _ts_bounds(spark: SparkSession, sf_dir: str):
    row = events_df(spark, sf_dir).agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    ).collect()[0]
    return row.mn, row.mx


def _held_back(
    spark: SparkSession, sf_dir: str, span: datetime.timedelta
) -> list[DataFrame]:
    """Replay phases for the watermark keys: the events after
    min(ts) + ``span``, then the held-back first ``span``, which is late
    once phase 1's watermark has passed it."""
    t0 = _ts_bounds(spark, sf_dir)[0] + span
    ev = events_df(spark, sf_dir)
    return [ev.filter(F.col("ts") > t0), ev.filter(F.col("ts") <= t0)]


# ---------------------------------------------------------------------------
# Sources / backfill
# ---------------------------------------------------------------------------


@query(
    "q_stream_source_replay",
    oracle="SELECT count(*) AS n_events FROM events",
)
def q_stream_source_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: file-stream replay of the event feed; streamed count ≡ batch count."""
    counted = _stream(spark, sf_dir).agg(F.count("*").alias("n_events"))
    return run_to_memory(counted, "complete")


@query("q_stream_rate_smoke")  # rows-only: rate source payload is synthetic
def q_stream_rate_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 liveness analog: the built-in rate-micro-batch source end-to-end."""
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "100")
        .option("numPartitions", "2")
        .load()
    )
    return run_to_memory(src.select("value"), "append")


@query(
    "q_stream_availablenow",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q_stream_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: backfill = process-all-then-stop aggregation over the replay."""
    agg = (
        _stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )
    return run_to_memory(agg, "complete")


@query(
    "q_stream_rate_limit",
    oracle="SELECT count(*) AS n_events FROM events",
)
def q_stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: bounded per-batch ingestion via ``maxFilesPerTrigger``.

    The replay dir is written as 4 files; ``maxFilesPerTrigger=1`` makes
    availableNow drain it in 4 micro-batches instead of one — the backfill
    throttle the listener applied to its feed (maxOffsetsPerTrigger is the
    Kafka-side twin). ``min_batches=2`` asserts the throttle actually split
    the run (the count alone can't); the exact 4-batch shape is pinned in
    tests/test_stream_equivalence.py.
    """
    replay = ensure_events_replay(spark, sf_dir, n_files=4)
    counted = read_events_stream(
        spark, replay, maxFilesPerTrigger="1"
    ).agg(F.count("*").alias("n_events"))
    return run_to_memory(counted, "complete", min_batches=2)


# ---------------------------------------------------------------------------
# Event-time windows
# ---------------------------------------------------------------------------


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts)::TIMESTAMP AS ws,
           (date_trunc('hour', ts) + INTERVAL 1 HOUR)::TIMESTAMP AS we,
           event_type, count(*) AS n, round(sum(value), 6) AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour × event_type rollup over event time (tumbling windows)."""
    agg = (
        _stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )
    out = agg.select(
        F.col("w.start").alias("ws"),
        F.col("w.end").alias("we"),
        "event_type",
        "n",
        "sum_value",
    )
    return run_to_memory(out, "complete")


@query(
    "q_stream_sliding",
    oracle="""
    SELECT make_timestamp(b - k * 900000000::BIGINT) AS ws, event_type, count(*) AS n
    FROM (
      SELECT event_type, (epoch_us(ts) // 900000000) * 900000000 AS b FROM events
    ) e
    CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks
    GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min (each event lands in 4 windows).

    The oracle derives the same 4 epoch-aligned window starts per event via
    bucket arithmetic — Spark's window() is epoch-aligned with offset 0.
    """
    agg = (
        _stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = agg.select(F.col("w.start").alias("ws"), "event_type", "n")
    return run_to_memory(out, "complete")


@query(
    "q_stream_session",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n
    FROM sess GROUP BY user_id, sid
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 30-minute inactivity gap.

    Oracle is the classic gap-and-island SQL: a session breaks when the
    gap to the previous event EXCEEDS the timeout — strictly greater, not
    >=: an event at exactly last + 30 min lands on the closing session's
    half-open end boundary and Spark's session_window MERGES it
    (measured: events at 00:00/00:30 are one session of 2, 01:00:01
    opens a new one). The driver fixture's ns-precision timestamps make
    an exact-gap hit measure-zero, so this boundary only surfaced when
    the 5-minute-quantized fuzz corpus joined in r11 — the >= oracle was
    one session too many whenever a user's gap was exactly 30:00.
    Session end = last event + gap (Spark's session_window end
    semantics).
    """
    agg = (
        _stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    out = agg.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n",
    )
    return run_to_memory(out, "complete")


# ---------------------------------------------------------------------------
# Watermarks / late data (two-run checkpointed replay — a real restart)
# ---------------------------------------------------------------------------


@query(
    "q_stream_watermark",
    oracle="""
    WITH bounds AS (SELECT min(ts) AS mn, max(ts) AS mx FROM events),
    ontime AS (
      SELECT ts FROM events
      WHERE ts > (SELECT mn + INTERVAL 12 HOUR FROM bounds)
    ),
    win AS (
      SELECT (date_trunc('hour', ts) + INTERVAL 1 HOUR)::TIMESTAMP AS we,
             count(*) AS n
      FROM ontime GROUP BY 1
    )
    SELECT we, n FROM win
    WHERE we <= (SELECT mx - INTERVAL 10 MINUTE FROM bounds)
    """,
)
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode windows: only closed windows are emitted.

    The sink holds exactly the hourly windows whose end ≤ final watermark
    (max on-time ts − 10 min); rows arriving after the watermark passed
    their window are dropped — both facts checked by the oracle. Phase 1
    streams the on-time slice (ts > min + 12 h) and commits its watermark;
    phase 2 appends the rest and RESTARTS on the same checkpoint
    (``drain_phases``), so the persisted watermark drops those rows.
    """
    base = fresh_run_dir("wm")
    drain_phases(
        _held_back(spark, sf_dir, datetime.timedelta(hours=12)),
        lambda read: read()
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.end").alias("we"), "n"),
        batch_upsert_writer(f"{base}/target"),
        base,
    )
    return read_upsert_target(spark, f"{base}/target")


@query(
    "q_stream_late_data",
    oracle="""
    WITH bounds AS (SELECT min(ts) AS mn, max(ts) AS mx FROM events),
    ontime AS (
      SELECT ts, event_type FROM events
      WHERE ts > (SELECT mn + INTERVAL 1 DAY FROM bounds)
    ),
    win AS (
      SELECT (date_trunc('hour', ts) + INTERVAL 1 HOUR)::TIMESTAMP AS we,
             event_type, count(*) AS n
      FROM ontime GROUP BY 1, 2
    )
    SELECT we, event_type, n FROM win
    WHERE we <= (SELECT mx - INTERVAL 30 MINUTE FROM bounds)
    """,
)
def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late rows beyond the committed watermark are dropped, not aggregated.

    The whole first day of events is replayed LAST (after the watermark has
    advanced ~29 days past them): the oracle counts only on-time events —
    the key passes only because the stream really dropped the late ones.
    The late day is phase 2 of ``drain_phases``: a restart on the
    checkpoint that holds phase 1's watermark.
    """
    base = fresh_run_dir("late")
    drain_phases(
        _held_back(spark, sf_dir, datetime.timedelta(days=1)),
        lambda read: read()
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.end").alias("we"), "event_type", "n"),
        batch_upsert_writer(f"{base}/target"),
        base,
    )
    return read_upsert_target(spark, f"{base}/target")


@query(
    "q_stream_rocksdb",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q_stream_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale state store (SURVEY.md §4.2): the same stateful agg as
    q_stream_availablenow, running on RocksDB instead of the default
    HDFS-backed in-memory maps — at 100 M+ keys the latter OOMs, RocksDB
    spills to local SSD and checkpoints incrementally.

    ``providerClass`` is read at query START, so setting it on the live
    session and restoring after awaitTermination scopes it to this query.
    The checkpoint layout is asserted (RocksDB writes ``<version>.zip``
    state bundles where the HDFS provider writes ``<version>.delta``), so
    a silently-ignored conf cannot pass.
    """
    import glob

    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, rocksdb)
    try:
        agg = (
            _stream(spark, sf_dir)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 6).alias("sum_value"),
            )
        )
        cp = fresh_run_dir("rocksdb")
        out = run_to_memory(agg, "complete", checkpoint=cp)
        zips = glob.glob(f"{cp}/state/**/*.zip", recursive=True)
        if not zips:
            raise AssertionError(
                f"RocksDB state store not engaged: no *.zip under {cp}/state"
            )
        return out
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


# ---------------------------------------------------------------------------
# Dedup / joins / custom state
# ---------------------------------------------------------------------------


@query(
    "q_stream_dedup",
    oracle=f"SELECT {_EVENT_COLS_SQL} FROM events",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: at-least-once redelivery collapsed to exactly-once on event_id.

    The replay dir contains every event twice; dropDuplicates keyed on the
    event id emits each exactly once. The bounded-state variant
    (dropDuplicatesWithinWatermark) is exercised in tests/.
    """
    deduped = _stream(spark, sf_dir, dup=True).dropDuplicates(["event_id"])
    return run_to_memory(deduped, "append")


@query(
    "q_stream_static_join",
    oracle="""
    SELECT event_id, user_id, user_id % 10 AS cohort, value FROM events
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension (broadcast — the dim is small by definition).

    The user dim is derived from the batch view of the same feed; at scale
    this is the dimension-enrichment pattern (stream fact + broadcast dim,
    no shuffle of the stream side).
    """
    users = (
        events_df(spark, sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("cohort", (F.col("user_id") % 10).cast("long"))
    )
    joined = (
        _stream(spark, sf_dir)
        .join(F.broadcast(users), "user_id")
        .select("event_id", "user_id", "cohort", "value")
    )
    return run_to_memory(joined, "append")


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: views within 1h before each purchase.

    Watermarks on both sides + the time-range predicate let Spark expire
    join state — the unbounded-state killer at 100 TB. Two independent
    readers of the replay dir model two source streams.
    """
    replay = ensure_events_replay(spark, sf_dir)
    purchases = (
        read_events_stream(spark, replay)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .alias("p")
    )
    views = (
        read_events_stream(spark, replay)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
        .alias("v")
    )
    joined = purchases.join(
        views,
        F.expr(
            "p.user_id = v.user_id AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"
        ),
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("v.event_id").alias("view_id"),
    )
    return run_to_memory(joined, "append")


@query(
    "q_stream_stateful",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 6) AS sum_value,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 analog: arbitrary per-key state via applyInPandasWithState.

    Keeps (count, sum, last-seen) per user in the state store — the
    listener's running-cursor pattern generalized to per-key state. Arrow
    batches in/out; state is a plain tuple.
    """

    def track(key, pdfs, state):
        cnt, total, last = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
            mx = pdf["ts"].max()
            last = mx if last is None or mx > last else last
        state.update((cnt, total, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n": [cnt],
                "sum_value": [round(total, 6)],
                "last_ts": [last],
            }
        )

    out = (
        _stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            "user_id long, n long, sum_value double, last_ts timestamp",
            "n long, s double, last timestamp",
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(out, "update")


# ---------------------------------------------------------------------------
# Sinks / checkpoint recovery
# ---------------------------------------------------------------------------


@query(
    "q_stream_foreachbatch",
    oracle=f"SELECT {_EVENT_COLS_SQL} FROM events",
)
def q_stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: idempotent upsert sink via foreachBatch.

    Each batch replaces its own ``batch=<id>`` file, so redelivery of a
    batch (simulated twice here: a restart with no new data, then a manual
    re-application of batch 0) leaves the target unchanged — the
    idempotent-MERGE the listener needed against its external store.
    """
    base = fresh_run_dir("feb")
    target, cp = f"{base}/target", f"{base}/cp"
    replay = ensure_events_replay(spark, sf_dir)
    upsert = batch_upsert_writer(target)
    run_foreach_batch(read_events_stream(spark, replay), upsert, cp)
    # Restart with the same checkpoint: no new data → no-op (A9 retry).
    run_foreach_batch(read_events_stream(spark, replay), upsert, cp)
    # Redeliver batch 0 manually: overwrite with identical content → no-op.
    upsert(events_df(spark, sf_dir), 0)
    return read_upsert_target(spark, target)


@query(
    "q_stream_checkpoint",
    oracle=f"SELECT {_EVENT_COLS_SQL} FROM events",
)
def q_stream_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A9: kill + restart resumes from the checkpoint without loss or dup.

    Run 1 sees only half the feed and stops (the 'crash'); run 2 starts
    from the same checkpoint after the rest arrives and processes ONLY the
    new files. The exactly-once target then holds every event exactly once
    — which is precisely what the oracle asserts.
    """
    ev = events_df(spark, sf_dir)
    base = fresh_run_dir("ckpt")
    drain_phases(
        [ev.filter(F.col("event_id") % 2 == i) for i in (0, 1)],
        lambda read: read(),
        batch_upsert_writer(f"{base}/target"),
        base,
    )
    return read_upsert_target(spark, f"{base}/target")


@query("q_stream_outer_join")  # rows-only: outer-null emission timing is
# engine-internal (state-eviction watermark arithmetic varies with batching);
# the semantic invariants are asserted in tests/test_stream_equivalence.py
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: outer-null rows emit on state
    expiry, not at end-of-data.

    Two checkpointed runs (phase B = the final event): run 2's watermark —
    max(on-time ts) − 10 min — expires left join state and emits the
    NULL-matched purchases. WHICH unmatched purchases have expired by
    end-of-stream is internal state-eviction arithmetic (empirically it
    shifted between scale factors), so there is no exact SQL oracle; the
    invariants that define correctness — matched pairs ≡ the batch interval
    join, null rows ⊆ batch-unmatched purchases, each purchase at most once
    — are pinned in tests.
    """
    _mn, mx = _ts_bounds(spark, sf_dir)
    ev = events_df(spark, sf_dir)
    base = fresh_run_dir("oj")

    def join(read) -> DataFrame:
        p = (
            read()
            .filter(F.col("event_type") == "purchase")
            .withWatermark("ts", "10 minutes")
            .alias("p")
        )
        v = (
            read()
            .filter(F.col("event_type") == "view")
            .withWatermark("ts", "10 minutes")
            .alias("v")
        )
        return p.join(
            v,
            F.expr(
                "p.user_id = v.user_id"
                " AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"
            ),
            "leftOuter",
        ).select(
            F.col("p.event_id").alias("purchase_id"),
            F.col("v.event_id").alias("view_id"),
        )

    drain_phases(
        [ev.filter(F.col("ts") < mx), ev.filter(F.col("ts") >= mx)],
        join,
        batch_upsert_writer(f"{base}/target"),
        base,
    )
    return read_upsert_target(spark, f"{base}/target")


@query(
    "q_stream_union",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 6) AS sum_value
    FROM (SELECT event_type, value FROM events
          UNION ALL SELECT event_type, value FROM events)
    GROUP BY event_type
    """,
)
def q_stream_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream multiplexing: two independent file-stream sources (separate
    directories, separate source offsets in the one checkpoint) unioned
    into a single stateful rollup — the multi-subscription shape of A1
    (a listener following several feeds into one pipeline). Both feeds
    replay the same events here, so the oracle is the doubled batch rollup.

    100 TB plan: union of streams is plan-level concatenation — each
    source keeps its own progress tracking and rate limits, and the
    downstream shuffle sees one merged flow; this is exactly how
    multi-topic/multi-region Kafka ingestion composes, with per-source
    maxOffsetsPerTrigger throttles.
    """
    feed_a = read_events_stream(spark, ensure_events_replay(spark, sf_dir))
    feed_b = read_events_stream(
        spark, ensure_events_replay(spark, sf_dir, n_files=4)
    )
    agg = (
        feed_a.select("event_type", "value")
        .union(feed_b.select("event_type", "value"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )
    return run_to_memory(agg, "complete")


def _latest_per_user(df: DataFrame) -> DataFrame:
    """Each user's latest row by (ts DESC, event_id DESC); event_id makes
    the order total, so the pick does not depend on how rows are split."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def latest_delta_writer(target: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function writing each batch's per-user latest rows as
    an idempotent ``target/batch=<id>`` delta (overwritten on a retry)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        _latest_per_user(batch_df).write.mode("overwrite").parquet(
            f"{target}/batch={batch_id}"
        )

    return write


def read_latest(spark: SparkSession, target: str) -> DataFrame:
    """The merge-on-read view of ``latest_delta_writer``'s deltas: all of
    them compacted latest-wins, one row per user."""
    return _latest_per_user(read_upsert_target(spark, target)).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


@query(
    "q_stream_upsert_latest",
    oracle="""
    SELECT user_id, last_ts, last_event_id, last_value FROM (
      SELECT user_id, ts AS last_ts, event_id AS last_event_id,
             value AS last_value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) x WHERE rn = 1
    """,
)
def q_stream_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed streaming upsert — the merge-on-read materialized view
    (extra, beyond A7's row-idempotent sink): the feed drains in 4
    rate-limited micro-batches; foreachBatch writes each batch's per-key
    LATEST rows as an idempotent delta (``batch=<id>`` overwrite), and the
    READER compacts deltas latest-wins — exactly the Hudi/Paimon MOR
    pattern, and the keyed current-state table (latest value per user)
    the reference's mutable external store actually held.

    Deterministic regardless of how rows split across replay files: the
    reader's global (ts DESC, event_id DESC) pick is split-independent,
    and event_id makes the order total.

    100 TB plan: per-batch reduction is a window over the micro-batch
    only (delta-sized); the compaction window shuffles once on the
    uniform user key at read time. Production swaps the reader for
    periodic delta⋈snapshot compaction — the batch twin of which is
    q_cdc_merge's latest-op-wins collapse; state never lives in the
    stream (restart-safe via source offsets alone, no state store).
    """
    base = fresh_run_dir("upl")
    target, cp = f"{base}/target", f"{base}/cp"
    replay = ensure_events_replay(spark, sf_dir, n_files=4)
    stream = read_events_stream(spark, replay, maxFilesPerTrigger="1")
    n_batches = run_foreach_batch(stream, latest_delta_writer(target), cp)
    if n_batches < 4:
        raise AssertionError(
            f"rate limit not applied: {n_batches} non-empty micro-batches"
        )
    return read_latest(spark, target)


@query(
    "q_stream_chained",
    oracle="""
    WITH bounds AS (SELECT min(ts) AS mn, max(ts) AS mx FROM events),
    ontime AS (
      SELECT ts, event_type FROM events
      WHERE ts > (SELECT mn + INTERVAL 1 DAY FROM bounds)
    ),
    hourly AS (
      SELECT date_trunc('hour', ts) AS hs, event_type, count(*) AS n
      FROM ontime GROUP BY 1, 2
    ),
    daily AS (
      SELECT (date_trunc('day', hs) + INTERVAL 1 DAY)::TIMESTAMP AS de,
             CAST(sum(n) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_type_hours
      FROM hourly GROUP BY 1
    )
    SELECT de, n_events, n_type_hours FROM daily
    WHERE de <= (SELECT mx - INTERVAL 30 MINUTE FROM bounds)
    """,
)
def q_stream_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 3.4+/4.x):
    a watermarked hourly window agg per event_type feeds a SECOND windowed
    aggregation that rolls the hourly results into daily totals — two
    state stores in one append-mode query, no intermediate sink.

    Before multi-stateful-operator support this required materializing the
    hourly level and running a second job; chaining keeps the rollup
    pipeline in one checkpoint with one consistent watermark. Drained by
    ``drain_phases`` as q_stream_late_data is: phase 1 streams the on-time
    slice, phase 2 appends the held-back first day and restarts — those
    rows are late past the persisted watermark, so they are dropped while
    their batches drive the final emission of closed day windows.

    100 TB plan: level-1 state is (hour × type) keys, level-2 is day keys
    — both bounded by time, evicted at watermark; the level-2 shuffle
    moves hourly AGGREGATES (thousands of rows), not events. RocksDB
    (q_stream_rocksdb) carries the same plan at production key counts.
    """
    base = fresh_run_dir("chain")

    def rollup(read) -> DataFrame:
        hourly = (
            read()
            .withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
            .agg(F.count("*").alias("n"))
        )
        daily = hourly.groupBy(F.window(F.col("w1"), "1 day").alias("w2")).agg(
            F.sum("n").alias("n_events"), F.count("*").alias("n_type_hours")
        )
        return daily.select(F.col("w2.end").alias("de"), "n_events", "n_type_hours")

    drain_phases(
        _held_back(spark, sf_dir, datetime.timedelta(days=1)),
        rollup,
        batch_upsert_writer(f"{base}/target"),
        base,
    )
    return read_upsert_target(spark, f"{base}/target")


@query(
    "q_stream_dynamic_session",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'purchase'
                  THEN 2700000000::BIGINT ELSE 900000000::BIGINT END AS gap_us
      FROM events
    ), m AS (
      SELECT *, max(epoch_us(ts) + gap_us) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM e
    ), s AS (
      -- STRICTLY greater (r12, the r11 q_stream_session lesson
      -- re-learned on the dynamic twin): an event landing EXACTLY on
      -- the running deadline MERGES in Spark's session_window — both
      -- engines reproduced on an exact-boundary table — so only
      -- ts > prev_end opens a new session
      SELECT *, CASE WHEN prev_end IS NULL OR epoch_us(ts) > prev_end
                     THEN 1 ELSE 0 END AS brk
      FROM m
    ), sid AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sidx
      FROM s
    )
    SELECT user_id,
           min(ts) AS session_start,
           make_timestamp(max(epoch_us(ts) + gap_us)) AS session_end,
           CAST(count(*) AS BIGINT) AS n
    FROM sid GROUP BY user_id, sidx
    """,
)
def q_stream_dynamic_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dynamic-gap sessions: the same per-event gap expression as
    q_evt_dynamic_sessions (purchases 45 min, others 15) driving
    session_window's merge-capable streaming state — sessions whose
    timeout depends on what the user last did, maintained incrementally as
    micro-batches arrive.

    The oracle replays the interval-overlap merge with a running max of
    event deadlines (a longer-gap purchase can hold a session open past a
    later pageview's shorter deadline) — the batch twin's oracle verbatim,
    proving batch/stream semantic parity for the dynamic-gap case too.

    100 TB plan: merge-capable session state shuffles once on user_id;
    with a watermark the state is eviction-bounded (complete-mode memory
    sink here is test instrumentation, as for q_stream_session); RocksDB
    carries it at production key counts.
    """
    gap = (
        F.when(F.col("event_type") == "purchase", F.lit("45 minutes"))
        .otherwise(F.lit("15 minutes"))
    )
    agg = (
        _stream(spark, sf_dir)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    out = agg.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n",
    )
    return run_to_memory(out, "complete")


def _restart_log(spark: SparkSession, log: str, counts: list[int]) -> DataFrame:
    """Read the per-batch log of a two-phase ``drain_phases`` key, checking
    the restart schedule: one micro-batch per run, and batch ids that
    continue across the restart (two logged batches, not batch 0 twice)."""
    out = spark.read.parquet(log)
    n_batches = out.select("batch").distinct().count()
    if counts != [1, 1] or n_batches != 2:
        raise AssertionError(
            f"restart schedule broken: {counts} micro-batches per run,"
            f" {n_batches} logged micro-batches"
        )
    return out


def _reorg_oracle() -> str:
    # the fork shape comes from the ONE shared SQL definition
    # (operators/events.py REORG_BLOCKS_SQL) — batch and streaming
    # oracles cannot drift apart
    from token_burn_listener_spark.operators.events import REORG_BLOCKS_SQL

    return f"""
    WITH {REORG_BLOCKS_SQL}
    SELECT CAST(0 AS BIGINT) AS batch_id, height, hash, n_events,
           'apply' AS action
    FROM blocks WHERE branch = 'a' AND height <= hmax - 3
    UNION ALL
    SELECT CAST(0 AS BIGINT), height, hash, n_events, 'apply'
    FROM blocks WHERE branch = 'b'
    UNION ALL
    SELECT CAST(1 AS BIGINT), height, hash, n_events, 'rollback'
    FROM blocks WHERE branch = 'b'
    UNION ALL
    SELECT CAST(1 AS BIGINT), height, hash, n_events, 'apply'
    FROM blocks WHERE branch = 'a' AND height >= hmax - 2
    """


def _reorg_step(seen: str, log: str, batch_df: DataFrame, batch_id: int) -> None:
    """One reorg micro-batch: record the batch's blocks, re-walk the
    whole chain seen so far, and emit this batch's apply/rollback delta
    as an idempotent ``batch=<id>`` overwrite.

    RETRY-SAFE (r12 review): the previously-applied set is derived from
    STRICTLY EARLIER batches only (``batch < batch_id``). A retried
    batch (crash after the delta write, before the checkpoint commit —
    the exact window this key exists to prove safe) re-reads a log that
    already contains its own failed attempt; without the filter,
    applied_prev would include the current batch's applies, the
    recomputed delta would come out empty, and the overwrite would
    permanently erase the batch's actions. ``seen`` needs no such
    filter: rewriting the same ``seen/batch=<id>`` rows is idempotent
    by content. Module-level so tests can drive a retry directly
    (tests/test_stream_equivalence.py)."""
    import os

    from pyspark.sql.window import Window

    from token_burn_listener_spark.operators.events import flag_canonical

    spark = batch_df.sparkSession
    batch_df.write.mode("overwrite").parquet(f"{seen}/batch={batch_id}")
    all_blocks = (
        spark.read.parquet(seen).drop("batch").localCheckpoint(eager=False)
    )
    canon = (
        flag_canonical(all_blocks)
        .filter(F.col("canonical"))
        .select("height", "hash", "n_events")
    )
    if os.path.exists(log):
        prev = spark.read.parquet(log).filter(F.col("batch") < batch_id)
        w = Window.partitionBy("hash").orderBy(F.desc("batch"))
        applied_prev = (
            prev.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("action") == "apply"))
            .select("hash")
            .localCheckpoint(eager=False)
        )
    else:
        applied_prev = spark.createDataFrame([], "hash string")
    new_applies = canon.join(applied_prev, "hash", "left_anti").select(
        "height", "hash", "n_events", F.lit("apply").alias("action")
    )
    rollbacks = (
        applied_prev.join(canon.select("hash"), "hash", "left_anti")
        .join(all_blocks.select("height", "hash", "n_events"), "hash")
        .select(
            "height", "hash", "n_events",
            F.lit("rollback").alias("action"),
        )
    )
    new_applies.unionAll(rollbacks).write.mode("overwrite").parquet(
        f"{log}/batch={batch_id}"
    )


@query("q_stream_reorg", oracle=_reorg_oracle())
def q_stream_reorg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING reorg handling — the live form of q_evt_chain_reorg and
    the behavior that makes the reference listener trustworthy: blocks
    arrive over time, the listener follows the chain it can see, and
    when a longer branch overtakes, previously-applied blocks must be
    retracted from the sink. Two phases with a GENUINE PROCESS RESTART
    between them (``drain_phases``): phase 1 streams the chain as a
    b-following listener saw it (a-blocks below the fork + the 2-block
    uncle branch) and stops; phase 2 appends the canonical
    a-blocks that overtake it and RESTARTS from the same checkpoint —
    exactly a listener that polled, crashed/redeployed, and resumed.
    Each micro-batch re-walks the chain (flag_canonical — the SAME walk
    the batch key uses, over all blocks seen so far) and emits
    apply/rollback ACTIONS as an idempotent ``batch=<id>`` delta — the
    exactly-once action log a downstream store consumes. The oracle
    pins the ENTIRE expected log: uncle blocks applied at batch 0 and
    rolled back at batch 1, the overtaking blocks applied at batch 1
    (micro-batch ids continue across the restart — checkpoint-proven).

    100 TB plan: actions are block-grain (bounded chain metadata) — the
    stream never shuffles event rows; per-batch state is the seen-block
    parquet (idempotent overwrite per batch id, restart-safe via source
    offsets, same recipe as q_stream_upsert_latest); the walk cost is
    one collect of the confirmation window per micro-batch, walked on
    the driver.
    """
    from token_burn_listener_spark.operators.events import reorg_blocks

    blocks = reorg_blocks(events_df(spark, sf_dir))
    base = fresh_run_dir("reorg")
    seen, log = f"{base}/seen", f"{base}/log"
    phase1 = blocks.filter(
        ((F.col("branch") == "a") & (F.col("height") <= F.col("hmax") - 3))
        | (F.col("branch") == "b")
    )
    phase2 = blocks.filter(
        (F.col("branch") == "a") & (F.col("height") >= F.col("hmax") - 2)
    )
    counts = drain_phases(
        [phase.drop("hmax") for phase in (phase1, phase2)],
        lambda read: read(),
        lambda batch_df, batch_id: _reorg_step(seen, log, batch_df, batch_id),
        base,
    )
    return _restart_log(spark, log, counts).select(
        F.col("batch").cast("long").alias("batch_id"),
        "height",
        "hash",
        "n_events",
        "action",
    )


def _backfill_oracle() -> str:
    # expected per-batch summary from the deterministic two-phase
    # schedule: phase 1 = the holey feed (every 97th id missing), so the
    # batch-0 row carries the batch planner's totals; phase 2 delivers
    # the missing ids, so batch 1 reports a clean feed.
    from token_burn_listener_spark.operators.events import _GAP_DROP_MOD

    return f"""
    WITH ing AS (
      SELECT event_id FROM events WHERE event_id % {_GAP_DROP_MOD} != 0
    ), bounds AS (
      SELECT min(event_id) AS mn, max(event_id) AS mx FROM events
    ), nxt AS (
      SELECT event_id, lead(event_id) OVER (ORDER BY event_id) AS nx
      FROM ing
    ), raw_gaps AS (
      SELECT event_id + 1 AS gap_start, nx - 1 AS gap_end
      FROM nxt WHERE nx > event_id + 1
      UNION ALL
      SELECT mn, (SELECT min(event_id) FROM ing) - 1 FROM bounds
      WHERE (SELECT min(event_id) FROM ing) > mn
      UNION ALL
      SELECT (SELECT max(event_id) FROM ing) + 1, mx FROM bounds
      WHERE (SELECT max(event_id) FROM ing) < mx
    )
    SELECT CAST(0 AS BIGINT) AS batch_id,
           count(*)::BIGINT AS n_gaps,
           CAST(coalesce(sum(gap_end - gap_start + 1), 0) AS BIGINT)
             AS n_missing
    FROM raw_gaps
    UNION ALL
    SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    """


@query("q_stream_backfill", oracle=_backfill_oracle())
def q_stream_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live cursor-integrity monitoring — q_evt_gap_detection's
    streaming twin and the operational loop the reference listener
    runs: watch the feed for missing id ranges, dispatch backfill, and
    watch the holes CLOSE. Two phases with a genuine checkpoint restart
    (``drain_phases``): phase 1 streams the holey feed (every 97th id
    missing) — the monitor reports the full gap census; phase 2 streams
    the backfilled ids and resumes from the same checkpoint — the
    monitor reports zero gaps. Each micro-batch re-detects over ALL ids
    seen so far with detect_gaps, the SAME block-local detector the
    batch planner uses, and logs one summary row per batch id
    (idempotent overwrite deltas — exactly-once across the restart).

    100 TB plan: per-batch state is the seen-id parquet; re-detection
    cost is dominated by the block-grain aggregate, and an incremental
    deployment re-detects only blocks the batch touched (the detector
    is block-local by construction — that's WHY it isn't the oracle's
    global sort). The summary log is one row per batch.
    """

    from token_burn_listener_spark.operators.events import (
        _GAP_DROP_MOD,
        detect_gaps,
    )

    e = events_df(spark, sf_dir).select("event_id")
    mn, mx = e.agg(F.min("event_id"), F.max("event_id")).collect()[0]
    base = fresh_run_dir("bkf")
    seen, log = f"{base}/seen", f"{base}/log"

    def step(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{seen}/batch={batch_id}")
        all_ids = spark.read.parquet(seen).select("event_id")
        gaps = detect_gaps(spark, all_ids, mn, mx)
        summary = gaps.agg(
            F.count("*").alias("n_gaps"),
            F.coalesce(
                F.sum(F.col("gap_end") - F.col("gap_start") + 1), F.lit(0)
            )
            .cast("long")
            .alias("n_missing"),
        )
        summary.write.mode("overwrite").parquet(f"{log}/batch={batch_id}")

    counts = drain_phases(
        [
            e.filter(F.col("event_id") % _GAP_DROP_MOD != 0),
            e.filter(F.col("event_id") % _GAP_DROP_MOD == 0),
        ],
        lambda read: read(),
        step,
        base,
    )
    return _restart_log(spark, log, counts).select(
        F.col("batch").cast("long").alias("batch_id"), "n_gaps", "n_missing"
    )
