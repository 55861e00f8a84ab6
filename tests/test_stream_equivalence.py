"""B9 streaming verification (SURVEY.md §5.4).

Three layers, mirroring what the DuckDB oracle cannot see:

1. **Batch equivalence** — the streaming result of an operator equals the
   identical batch computation on the same data (availableNow replay,
   results sorted before compare).
2. **Targeted semantics** — late-data drop, checkpoint restart resume,
   foreachBatch idempotency, bounded-state dedup: asserts on the mechanism
   itself, not just the final relation.
3. **Determinism guards** — replay files written in a fixed order, one
   micro-batch per phase.
"""

from __future__ import annotations

import collections
import datetime
import uuid

from pyspark.sql import functions as F

from token_burn_listener_spark.registry import QUERIES, load_all_modules
from token_burn_listener_spark.scratch import fresh_run_dir
from token_burn_listener_spark.streaming.queries import (
    latest_delta_writer,
    read_latest,
)
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

load_all_modules()


def assert_df_equal(a, b):
    """Order-insensitive exact equality via symmetric exceptAll.

    Schema compared as (name, type) — nullability differs per plan shape.
    """
    sa = [(f.name, f.dataType) for f in a.schema.fields]
    sb = [(f.name, f.dataType) for f in b.schema.fields]
    assert sa == sb, f"schema: {sa} != {sb}"
    extra = a.exceptAll(b).count()
    missing = b.exceptAll(a).count()
    assert extra == 0 and missing == 0, f"extra={extra} missing={missing}"


# ---------------------------------------------------------------------------
# 1. batch equivalence
# ---------------------------------------------------------------------------


def test_tumbling_equals_batch(spark, sf_dir):
    streamed = QUERIES["q_stream_tumbling"](spark, sf_dir)
    batch = (
        events_df(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("ws"),
            F.col("w.end").alias("we"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    assert_df_equal(streamed, batch)


def test_session_window_equals_batch(spark, sf_dir):
    streamed = QUERIES["q_stream_session"](spark, sf_dir)
    batch = (
        events_df(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )
    assert_df_equal(streamed, batch)


def test_stateful_equals_batch(spark, sf_dir):
    streamed = QUERIES["q_stream_stateful"](spark, sf_dir)
    batch = (
        events_df(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.max("ts").alias("last_ts"),
        )
    )
    # sum order differs (pandas per-state vs Spark partial aggs): both are
    # rounded to 6dp, which the fixture magnitudes make exact.
    assert_df_equal(streamed, batch)


def test_availablenow_backfill_equals_batch(spark, sf_dir):
    streamed = QUERIES["q_stream_availablenow"](spark, sf_dir)
    batch = (
        events_df(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )
    assert_df_equal(streamed, batch)


def test_stream_static_join_equals_batch(spark, sf_dir):
    streamed = QUERIES["q_stream_static_join"](spark, sf_dir)
    batch = events_df(spark, sf_dir).select(
        "event_id", "user_id", (F.col("user_id") % 10).cast("long").alias("cohort"), "value"
    )
    assert_df_equal(streamed, batch)


# ---------------------------------------------------------------------------
# 2. targeted semantics
# ---------------------------------------------------------------------------


def test_dedup_emits_each_event_once(spark, sf_dir):
    out = QUERIES["q_stream_dedup"](spark, sf_dir)
    ev = events_df(spark, sf_dir)
    assert out.count() == ev.count()
    assert out.select("event_id").distinct().count() == ev.count()


def test_dedup_within_watermark_bounded_state(spark, sf_dir):
    """dropDuplicatesWithinWatermark: the bounded-state A6 variant."""
    replay = ensure_events_replay(spark, sf_dir, dup=True)
    deduped = (
        read_events_stream(spark, replay)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = run_to_memory(deduped, "append")
    ev = events_df(spark, sf_dir)
    # duplicates arrive in the same batch — well within the watermark window
    assert out.count() == ev.count()


def test_rate_limit_bounded_batches(spark, sf_dir):
    """A10: maxFilesPerTrigger=1 over a 4-file replay → exactly 4 non-empty
    micro-batches, jointly covering every event exactly once."""
    n_events = events_df(spark, sf_dir).count()
    replay = ensure_events_replay(spark, sf_dir, n_files=4)
    src = read_events_stream(spark, replay, maxFilesPerTrigger="1")
    name = f"rl_{uuid.uuid4().hex[:8]}"
    q = (
        src.agg(F.count("*").alias("n_events"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", fresh_run_dir("cp"))
        .start()
    )
    q.awaitTermination()
    nonempty = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(nonempty) == 4, [p.numInputRows for p in q.recentProgress]
    assert sum(p.numInputRows for p in nonempty) == n_events
    assert spark.table(name).collect()[0].n_events == n_events
    # the registered key applies the same throttle (min_batches asserts it)
    got = QUERIES["q_stream_rate_limit"](spark, sf_dir).collect()
    assert got[0].n_events == n_events


def test_late_data_dropped(spark, sf_dir):
    """Events replayed after the watermark passed them never reach the sink."""
    out = QUERIES["q_stream_late_data"](spark, sf_dir)
    ev = events_df(spark, sf_dir)
    mn, mx = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    t0 = mn + datetime.timedelta(days=1)
    n_late = ev.filter(F.col("ts") <= t0).count()
    assert n_late > 0, "fixture must contain late-phase rows"
    emitted = out.agg(F.sum("n")).collect()[0][0]
    ontime_closed = (
        ev.filter(F.col("ts") > t0)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .filter(F.col("w.end") <= mx - datetime.timedelta(minutes=30))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert emitted == ontime_closed
    assert emitted < ev.count() - n_late + 1  # late rows definitely absent


def test_checkpoint_restart_exactly_once(spark, sf_dir):
    out = QUERIES["q_stream_checkpoint"](spark, sf_dir)
    ev = events_df(spark, sf_dir)
    assert out.count() == ev.count()
    assert out.select("event_id").distinct().count() == ev.count()


def test_drain_phases_restart_reads_only_new_phase(spark, sf_dir, tmp_path):
    """The crash-and-restart drain itself, not only its final relation:
    each phase is one micro-batch, the restarted run's input is exactly
    phase 2 (it resumed from the checkpoint instead of re-reading phase
    1), and the upsert target holds every row once."""
    from pyspark.sql.streaming import StreamingQueryListener

    by_run = collections.Counter()

    class InputRows(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            by_run[str(event.progress.runId)] += event.progress.numInputRows

        def onQueryTerminated(self, event):
            pass

    ev = events_df(spark, sf_dir)
    phases = [
        ev.filter(F.col("event_id") % 3 != 0),
        ev.filter(F.col("event_id") % 3 == 0),
    ]
    target = f"{tmp_path}/target"
    rows = InputRows()
    spark.streams.addListener(rows)
    try:
        counts = drain_phases(
            phases, lambda read: read(), batch_upsert_writer(target), str(tmp_path)
        )
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(rows)
    assert counts == [1, 1]
    assert list(by_run.values()) == [phases[0].count(), phases[1].count()]
    # exceptAll both ways is multiset equality: every event exactly once
    assert_df_equal(read_upsert_target(spark, target), ev)


def test_foreachbatch_upsert_idempotent(spark, sf_dir):
    """Re-running a batch against the target must not change it."""
    base = fresh_run_dir("idem")
    target, cp = f"{base}/target", f"{base}/cp"
    replay = ensure_events_replay(spark, sf_dir)
    upsert = batch_upsert_writer(target)
    run_foreach_batch(read_events_stream(spark, replay), upsert, cp)
    first = read_upsert_target(spark, target).count()
    # restart: no new data → no-op; then redeliver the same stream from a
    # FRESH checkpoint (same batch ids) → overwrites with identical content.
    run_foreach_batch(read_events_stream(spark, replay), upsert, cp)
    run_foreach_batch(read_events_stream(spark, replay), upsert, f"{base}/cp2")
    assert read_upsert_target(spark, target).count() == first == events_df(
        spark, sf_dir
    ).count()


def test_watermark_emits_only_closed_windows(spark, sf_dir):
    out = QUERIES["q_stream_watermark"](spark, sf_dir)
    ev = events_df(spark, sf_dir)
    mx = ev.agg(F.max("ts")).collect()[0][0]
    wm = mx - datetime.timedelta(minutes=10)
    assert out.filter(F.col("we") > wm).count() == 0


def test_sliding_window_equals_batch(spark, sf_dir):
    streamed = QUERIES["q_stream_sliding"](spark, sf_dir)
    batch = (
        events_df(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    assert_df_equal(streamed, batch)


def test_stream_join_pairs_match_batch_interval_join(spark, sf_dir):
    streamed = QUERIES["q_stream_stream_join"](spark, sf_dir)
    ev = events_df(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    v = ev.filter(F.col("event_type") == "view").alias("v")
    batch = p.join(
        v,
        F.expr(
            "p.user_id = v.user_id AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"
        ),
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("v.event_id").alias("view_id"),
    )
    assert_df_equal(streamed, batch)


def test_stream_outer_join_invariants(spark, sf_dir):
    """Outer stream join: matches ≡ batch join; nulls ⊆ batch-unmatched."""
    out = QUERIES["q_stream_outer_join"](spark, sf_dir)
    ev = events_df(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").alias("p")
    v = ev.filter(F.col("event_type") == "view").alias("v")
    batch = p.join(
        v,
        F.expr(
            "p.user_id = v.user_id AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts"
        ),
        "leftOuter",
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("v.event_id").alias("view_id"),
    )
    got_matched = out.filter(F.col("view_id").isNotNull())
    exp_matched = batch.filter(F.col("view_id").isNotNull())
    assert_df_equal(got_matched, exp_matched)
    got_null = out.filter(F.col("view_id").isNull()).select("purchase_id")
    exp_null = batch.filter(F.col("view_id").isNull()).select("purchase_id")
    assert got_null.exceptAll(exp_null).count() == 0  # nulls ⊆ batch-unmatched
    assert got_null.count() > 0  # expiry really emitted outer rows
    # each purchase emitted at most once as null, and never both ways
    assert got_null.distinct().count() == got_null.count()
    assert got_null.intersect(got_matched.select("purchase_id")).count() == 0


def test_stream_reorg_converges_to_batch_canonical(spark, sf_dir):
    """Twin equivalence: after the overtaking batch, the stream's net
    applied set (latest action per block = apply) must equal the batch
    key's canonical set exactly — and the uncle blocks must show the
    apply-then-rollback lifecycle (applied in an earlier batch than
    their rollback)."""
    log = QUERIES["q_stream_reorg"](spark, sf_dir).collect()
    batch = QUERIES["q_evt_chain_reorg"](spark, sf_dir).collect()
    latest = {}
    for r in sorted(log, key=lambda r: r.batch_id):
        latest[r.hash] = r
    applied = {h for h, r in latest.items() if r.action == "apply"}
    canonical = {r.hash for r in batch if r.canonical}
    assert applied == canonical
    rolled = [r for r in latest.values() if r.action == "rollback"]
    assert len(rolled) == 2
    for r in rolled:
        first = min(
            (x for x in log if x.hash == r.hash), key=lambda x: x.batch_id
        )
        assert first.action == "apply" and first.batch_id < r.batch_id


def test_stream_backfill_census_matches_batch_planner(spark, sf_dir):
    """Twin equivalence: the monitor's batch-0 gap census must equal
    the batch planner's totals, and after the backfill restart the
    feed must report clean."""
    log = {r.batch_id: r for r in QUERIES["q_stream_backfill"](spark, sf_dir).collect()}
    plan = QUERIES["q_evt_gap_detection"](spark, sf_dir).collect()
    assert log[0].n_gaps == len(plan)
    assert log[0].n_missing == sum(r.n_missing for r in plan)
    assert log[1].n_gaps == 0 and log[1].n_missing == 0


# ---------------------------------------------------------------------------
# 4. randomized replay order (VERDICT r7 #6): the suites above replay
# files in the writer's fixed order; these shuffle WHICH rows share a
# micro-batch (seeded permutation, maxFilesPerTrigger=1) and assert the
# stateful results are ARRIVAL-ORDER-INDEPENDENT — proven, not assumed.
# One test per stateful family: dropDuplicates state (dedup), windowed
# aggregation state (tumbling), and the keyed foreachBatch upsert
# (upsert_latest, whose latest-wins pick must be split-independent).


_EVENTS_PDF_CACHE: dict[str, object] = {}


def _write_shuffled_replay(
    spark, sf_dir: str, dirpath: str, seed: int, n_files: int = 4,
    dup: bool = False,
) -> str:
    """Events replay dir with a seeded random row->file assignment.

    ``dup=True`` adds a second copy of every event, shuffled
    independently — so a redelivered event usually arrives in a
    DIFFERENT micro-batch than its original (a stronger at-least-once
    model than the fixture's same-file duplication). The collected
    events frame is cached per sf_dir: nine shuffles per suite run need
    one collect, not nine.
    """
    import random

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    if sf_dir not in _EVENTS_PDF_CACHE:
        _EVENTS_PDF_CACHE[sf_dir] = events_df(spark, sf_dir).toPandas()
    pdf = _EVENTS_PDF_CACHE[sf_dir]
    idx = list(range(len(pdf))) * (2 if dup else 1)
    random.Random(seed).shuffle(idx)
    for i in range(n_files):
        chunk = pdf.iloc[idx[i::n_files]]
        _pq.write_table(
            _pa.Table.from_pandas(chunk, preserve_index=False),
            f"{dirpath}/chunk-{i}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    return dirpath


def test_dedup_exactly_once_under_shuffled_replay(
    spark, sf_dir, tmp_path_factory
):
    """Cross-batch redelivery: the duplicate copy of an event lands in a
    different micro-batch than the original, and dropDuplicates must
    still emit each event exactly once — for every replay permutation."""
    for seed in (0, 1, 2):
        replay = _write_shuffled_replay(
            spark, sf_dir, str(tmp_path_factory.mktemp("shuf")), seed,
            dup=True,
        )
        deduped = read_events_stream(
            spark, replay, maxFilesPerTrigger="1"
        ).dropDuplicates(["event_id"])
        out = run_to_memory(deduped, "append", min_batches=4)
        assert_df_equal(out, events_df(spark, sf_dir))


def test_tumbling_agg_independent_of_replay_order(
    spark, sf_dir, tmp_path_factory
):
    """Windowed-aggregation state must commute with arrival order: the
    hour x type rollup over any replay permutation equals the batch
    rollup."""
    batch = (
        events_df(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("ws"),
            F.col("w.end").alias("we"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    for seed in (0, 1, 2):
        replay = _write_shuffled_replay(
            spark, sf_dir, str(tmp_path_factory.mktemp("shuf")), seed
        )
        agg = (
            read_events_stream(spark, replay, maxFilesPerTrigger="1")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.round(F.sum("value"), 6).alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("ws"),
                F.col("w.end").alias("we"),
                "event_type",
                "n",
                "sum_value",
            )
        )
        out = run_to_memory(agg, "complete", min_batches=4)
        assert_df_equal(out, batch)


def test_upsert_latest_independent_of_replay_order(
    spark, sf_dir, tmp_path_factory
):
    """The merge-on-read upsert's latest-wins pick is a global
    (ts DESC, event_id DESC) total order, so WHICH rows share a delta
    must not matter: per-batch reduction + reader compaction over any
    permutation equals the batch latest-per-user table."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    batch = (
        events_df(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
    )
    for seed in (0, 1, 2):
        replay = _write_shuffled_replay(
            spark, sf_dir, str(tmp_path_factory.mktemp("shuf")), seed
        )
        base = str(tmp_path_factory.mktemp("upl"))
        target, cp = f"{base}/target", f"{base}/cp"
        run_foreach_batch(
            read_events_stream(spark, replay, maxFilesPerTrigger="1"),
            latest_delta_writer(target),
            cp,
        )
        assert_df_equal(read_latest(spark, target), batch)


def test_reorg_step_is_idempotent_under_batch_retry(spark, sf_dir, tmp_path):
    """A retried micro-batch must rewrite the SAME action delta, not an
    empty one (r12 review): crash after the ``log/batch=N`` write but
    before the checkpoint commit makes Spark re-run batch N, and the
    step re-reads a log already containing its own failed attempt. The
    previously-applied set must therefore come from strictly earlier
    batches only — without that filter the retry sees its own applies
    as 'previously applied', emits an empty delta, and the overwrite
    permanently erases the batch's actions."""
    from token_burn_listener_spark.operators.events import reorg_blocks
    from token_burn_listener_spark.streaming.queries import _reorg_step
    from token_burn_listener_spark.streaming.replay import events_df

    blocks = reorg_blocks(events_df(spark, sf_dir)).select(
        "height", "branch", "hmax", "hash", "parent_hash", "n_events"
    )
    phase1 = blocks.filter(
        ((F.col("branch") == "a") & (F.col("height") <= F.col("hmax") - 3))
        | (F.col("branch") == "b")
    ).drop("hmax")
    phase2 = blocks.filter(
        (F.col("branch") == "a") & (F.col("height") >= F.col("hmax") - 2)
    ).drop("hmax")
    seen, log = str(tmp_path / "seen"), str(tmp_path / "log")

    def log_rows():
        return sorted(
            map(
                tuple,
                spark.read.parquet(log)
                .select("batch", "hash", "action")
                .collect(),
            )
        )

    _reorg_step(seen, log, phase1, 0)
    after_first = log_rows()
    _reorg_step(seen, log, phase1, 0)  # simulated retry of batch 0
    assert log_rows() == after_first, "batch-0 retry changed the log"

    _reorg_step(seen, log, phase2, 1)
    after_second = log_rows()
    assert any(b == 1 and a == "rollback" for b, _, a in after_second), (
        "batch 1 must roll back the overtaken uncle branch"
    )
    _reorg_step(seen, log, phase2, 1)  # simulated retry of batch 1
    assert log_rows() == after_second, "batch-1 retry changed the log"
