"""The two workloads, composed from the package's public functions.

Each workload generates its inputs from the seed, runs one untimed warm
pass (so first-call compilation lands in ``setup_s``), measures for the
requested seconds, checks every output, and returns a ``Result``. Nothing
here reaches inside the package: the listener is built from
``register_feed_source``, ``readStream.format("event_feed")``,
``batch_upsert_writer`` and ``read_upsert_target``; the batch mixes call
``QUERIES[key]`` and check against ``ORACLES[key]`` run by DuckDB.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import gen
from stats import median, tail
from spans import PeakRss, Tracer
from token_burn_listener_spark.registry import ORACLES, QUERIES, load_all_modules
from token_burn_listener_spark.sources.feed import register_feed_source
from token_burn_listener_spark.streaming.replay import (
    batch_upsert_writer,
    read_upsert_target,
)

PACKAGE = "token_burn_listener_spark."

# The events-only analytics mix: shuffles, windows and joins over one table.
ANALYTICS_KEYS = (
    "q_agg_time_rollup",
    "q_evt_sessionize",
    "q_evt_gap_detection",
    "q_evt_chain_reorg",
    "q_evt_rfm",
    "q_evt_funnel",
)
# The corpus-prep mix: the llm.* modules and their Arrow mapInPandas kernels.
# q_llm_minhash_exact and q_llm_winnow are left out: their DuckDB oracles
# take ~3 s each, and with their own calls they would cost a third of the
# run's time budget while adding no layer the other keys leave unmeasured.
CORPUS_KEYS = (
    "q_llm_exact_dedup",
    "q_llm_corpus_prep",
    "q_llm_decontaminate",
)

# Input sizes, fixed so that every seed does the same amount of work.
MIX_EVENTS, MIX_USERS, MIX_DOCS = 20_000, 1_000, 2_000
FEED_USERS = 2_000
BACKFILL_EVENTS, BACKFILL_QUARTERS, ROWS_PER_BATCH = 80_000, 4, 5_000
# A tail part of 1,500 events every 0.75 s keeps the engine about half busy
# on a 4-core box, where a batch costs ~0.35 s nearly regardless of its
# size. Near saturation freshness measures the queue, not the batch, and it
# varied from run to run by a third.
TAIL_RATE, TAIL_INTERVAL_S = 2_000, 0.75
# The batch mix runs round(seconds / PASS_S) whole passes; a pass takes
# about 7 s on a 4-core box. A count fixed in advance gives every key the
# same share of the latency samples in every run, so the percentiles stay
# comparable from run to run.
PASS_S = 7.0


@dataclass
class Run:
    """What a workload needs: the session, its scratch dir and the settings."""

    spark: SparkSession
    tmp: str
    seed: int
    seconds: float
    tracer: Tracer
    setup: dict[str, float] = field(default_factory=dict)


@dataclass
class Result:
    attempted: int
    failed: int
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    notes: dict[str, object] = field(default_factory=dict)


def layer_of(key: str) -> str:
    """The package module a key lives in, e.g. ``operators.events``."""
    return QUERIES[key].__module__.removeprefix(PACKAGE)


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order (all workloads)."""
    load_all_modules()
    names = ["session.start_s", "gen.inputs_s", "warm.first_touch_s"]
    names += [
        "sources.feed.poll_ms_p50",
        "sources.feed.poll_ms_last_quarter",
        "sources.feed.rows_per_poll",
        "streaming.replay.upsert_ms_p50",
        "streaming.replay.rows_written",
        "spark.microbatch.plan_ms_p50",
        "spark.microbatch.commit_ms_p50",
        "spark.microbatch.idle_ms",
        "spark.microbatch.batches",
        "listener.restart_resume_s",
        "listener.decode_selectivity",
        "listener.gen_late_max_s",
    ]
    for key in ANALYTICS_KEYS + CORPUS_KEYS:
        names.append(f"{layer_of(key)}.{key}.ms_p50")
    for key in ANALYTICS_KEYS + CORPUS_KEYS:
        names += [f"{key}.spark_jobs", f"{key}.spark_tasks", f"{key}.exchanges"]
    names += ["llm.dedup.survivor_ratio", "bench.latency_samples", "bench.tail_pct"]
    names.append("peak_rss_mb")
    return names


def timed(run: Run, name: str, fn, *args):
    """Call ``fn`` as a set-up step, adding its seconds to ``run.setup``."""
    t0 = time.monotonic()
    out = fn(*args)
    run.setup[name] = run.setup.get(name, 0.0) + time.monotonic() - t0
    return out


def _latency_metrics(samples: list[float]) -> tuple[dict, dict]:
    value, pct = tail(samples)
    return (
        {"latency_p50_s": median(samples), "latency_tail_s": value},
        {"bench.latency_samples": len(samples), "bench.tail_pct": pct},
    )


# --------------------------------------------------------------------------
# Oracle comparison (the same canonical form the repo's parity gate uses).


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, dtypes canonicalised, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        out[c] = s
    ndf = pd.DataFrame(out)
    ndf = ndf.sort_values(by=list(ndf.columns), kind="mergesort", na_position="last")
    return ndf.reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """First difference between a normalized result and its oracle, or None."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        eq = (a.isna() & b.isna()) | (a == b).fillna(False)
        if not eq.all():
            i = int((~eq).to_numpy().nonzero()[0][0])
            return f"col {c} row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None


def oracle_results(in_dir: str, tables: list[str], keys) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}.parquet')"
            )
        return {k: normalize(con.execute(ORACLES[k]).df()) for k in keys}
    finally:
        con.close()


# --------------------------------------------------------------------------
# The batch mix: the events analytics keys, then the corpus-prep keys.


def _count_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in plan.splitlines()
        if line.lstrip(" :+-*").split(" ", 1)[0].endswith("Exchange")
    )


def _job_counts(spark: SparkSession, group: str) -> tuple[int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for job in jobs:
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            sinfo = tracker.getStageInfo(stage)
            tasks += sinfo.numTasks if sinfo else 0
    return len(jobs), tasks


class BatchMix:
    """One closed-loop client running ``keys`` in order, pass after pass."""

    def __init__(self, run: Run, keys, in_dir: str, oracles: dict):
        self.run, self.keys, self.in_dir, self.oracles = run, keys, in_dir, oracles
        self.attempted = self.failed = 0
        self.latencies: dict[str, list[float]] = {k: [] for k in keys}
        self.counts: dict[str, tuple[int, int, int]] = {}
        self.results: dict[str, pd.DataFrame] = {}
        self._calls = 0

    def call(self, key: str, measured: bool) -> None:
        """Run ``key`` once and check it; ``measured`` calls are timed and
        counted in ``attempted``/``failed``."""
        spark, tracer = self.run.spark, self.run.tracer
        group = f"bench-{key}-{self._calls}"
        self._calls += 1
        traced = measured and tracer.enabled
        if traced:
            spark.sparkContext.setJobGroup(group, key)
        self.attempted += measured
        try:
            t0 = time.monotonic()
            df = QUERIES[key](spark, self.in_dir)
            pdf = df.toPandas()
            t1 = time.monotonic()
        except Exception:
            traceback.print_exc()
            self.failed += measured
            return
        if measured:
            self.latencies[key].append(t1 - t0)
        if traced:
            tracer.add(f"{layer_of(key)}.{key}", t0, t1, trace=group)
            jobs, tasks = _job_counts(spark, group)
            self.counts[key] = (jobs, tasks, _count_exchanges(df))
        self.results[key] = pdf
        problem = mismatch(normalize(pdf), self.oracles[key])
        if problem:
            print(f"INCORRECT {key}: {problem}", file=sys.stderr)
            self.failed += measured

    def warm(self) -> None:
        """One unmeasured call per key, run concurrently: first calls are
        dominated by code generation, which overlaps across keys."""
        with ThreadPoolExecutor(len(self.keys)) as pool:
            for f in [pool.submit(self.call, k, False) for k in self.keys]:
                f.result()

    def measure(self, passes: int) -> float:
        """Run ``passes`` whole passes of the mix; returns their seconds."""
        t0 = time.monotonic()
        for _ in range(passes):
            for key in self.keys:
                self.call(key, measured=True)
        return time.monotonic() - t0

    def per_layer(self) -> dict[str, float]:
        out = {}
        for key in self.keys:
            out[f"{layer_of(key)}.{key}.ms_p50"] = median(self.latencies[key]) * 1000
            if key in self.counts:
                jobs, tasks, exchanges = self.counts[key]
                out[f"{key}.spark_jobs"] = jobs
                out[f"{key}.spark_tasks"] = tasks
                out[f"{key}.exchanges"] = exchanges
        return out

    def samples(self) -> list[float]:
        return [x for k in self.keys for x in self.latencies[k]]


def batch_mix(run: Run) -> Result:
    in_dir = os.path.join(run.tmp, "inputs")
    os.makedirs(in_dir)

    def make() -> int:
        cols = gen.events(run.seed, MIX_EVENTS, MIX_USERS)
        gen.write_events_parquet(cols, os.path.join(in_dir, "events.parquet"))
        table, n_distinct = gen.documents(run.seed, MIX_DOCS)
        gen.write_documents_parquet(table, os.path.join(in_dir, "documents.parquet"))
        return n_distinct

    n_distinct = timed(run, "gen.inputs_s", make)
    keys = ANALYTICS_KEYS + CORPUS_KEYS
    # The oracle is the benchmark's own work, so it stays out of setup_s.
    oracles = oracle_results(in_dir, ["events", "documents"], keys)
    mix = BatchMix(run, keys, in_dir, oracles)
    timed(run, "warm.first_touch_s", mix.warm)
    passes = max(2, round(run.seconds / PASS_S))
    with PeakRss(run.tracer.enabled) as rss:
        secs = mix.measure(passes)

    survivors = len(mix.results["q_llm_exact_dedup"])
    mix.attempted += 1
    if survivors != n_distinct:
        print(
            f"INCORRECT exact dedup kept {survivors}, generator made {n_distinct}",
            file=sys.stderr,
        )
        mix.failed += 1

    e2e, layer = _latency_metrics(mix.samples())
    e2e["work_per_s"] = passes * len(keys) / secs
    layer["peak_rss_mb"] = rss.peak_mb
    layer.update(mix.per_layer())
    layer["llm.dedup.survivor_ratio"] = survivors / MIX_DOCS

    def busy_s(sub) -> float:
        return sum(sum(mix.latencies[k]) for k in sub)

    notes = {
        "passes": passes,
        "analytics_queries_per_s": passes * len(ANALYTICS_KEYS) / busy_s(ANALYTICS_KEYS),
        "corpus_docs_per_s": passes * MIX_DOCS / busy_s(CORPUS_KEYS),
        "corpus_latency_p50_s": median(
            [x for k in CORPUS_KEYS for x in mix.latencies[k]]
        ),
    }
    return Result(mix.attempted, mix.failed, e2e, layer, notes)


# --------------------------------------------------------------------------
# The listener: backfill drain with restarts, then an open-loop live tail.


def _decode(src):
    """The listener's decode: the watched event type, in the sink's shape
    (the same projection as the ``q_stream_listener_e2e`` key)."""
    return src.filter(F.col("event_type") == gen.WATCHED).select(
        "event_id",
        F.col("user_id").alias("burner"),
        F.round("value", 6).alias("amount"),
        F.expr("ts_us div 86400000000").alias("burn_day"),
    )


class Listener:
    """One feed, one checkpoint, one target; started and stopped repeatedly."""

    def __init__(self, run: Run, base: str):
        self.run = run
        self.feed, self.target, self.cp = (
            os.path.join(base, d) for d in ("feed", "db", "cp")
        )
        os.makedirs(self.feed)
        self.parts = 0
        # Index in ``progress`` of the first data batch of each start.
        self.starts: list[int] = []
        self.sink_returns: dict[int, float] = {}
        self.progress: list[dict] = []
        self._upsert = batch_upsert_writer(self.target)

    def publish(self, lines: list[str]) -> None:
        gen.publish_part(self.feed, self.parts, lines)
        self.parts += 1

    def _sink(self, df, batch_id: int) -> None:
        t0 = time.monotonic()
        self._upsert(df, batch_id)
        t1 = time.monotonic()
        self.sink_returns[batch_id] = t1
        self.run.tracer.add("streaming.replay.upsert", t0, t1, batch=batch_id)

    def start(self):
        self.starts.append(len(self.progress))
        src = (
            self.run.spark.readStream.format("event_feed")
            .option("path", self.feed)
            .option("rows_per_batch", str(ROWS_PER_BATCH))
            .load()
        )
        return (
            _decode(src)
            .writeStream.foreachBatch(self._sink)
            .outputMode("append")
            .option("checkpointLocation", self.cp)
            .start()
        )

    def stop(self, q) -> None:
        q.stop()
        self.progress += _data_batches(q)

    def drain(self) -> None:
        """Start on the checkpoint, drain the feed, stop."""
        q = self.start()
        try:
            q.processAllAvailable()
        finally:
            self.stop(q)

    def first_return_after(self, t0: float) -> float:
        """Seconds from ``t0`` to the first sink return after it."""
        return min(t for t in self.sink_returns.values() if t > t0) - t0


def _data_batches(q) -> list[dict]:
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def open_loop(
    publish, parts: list[list[str]], interval_s: float, t0: float
) -> list[float]:
    """Publish ``parts[k]`` at ``t0 + k * interval_s`` on a schedule that
    does not slow when the consumer slows; returns each part's lateness:
    the seconds its publish finished after it was due."""
    late = []
    for k, lines in enumerate(parts):
        due = t0 + k * interval_s
        wait = due - time.monotonic()
        if wait > 0:
            time.sleep(wait)
        publish(lines)
        late.append(time.monotonic() - due)
    return late


def _chunks(lines: list[str], n: int) -> list[list[str]]:
    size = -(-len(lines) // n)
    return [lines[i : i + size] for i in range(0, len(lines), size)]


def listener(run: Run) -> Result:
    spark, tracer = run.spark, run.tracer
    tail_parts_n = max(2, int(run.seconds / TAIL_INTERVAL_S))
    per_part = int(TAIL_RATE * TAIL_INTERVAL_S)
    backfill, tail_lines, truth = timed(
        run,
        "gen.inputs_s",
        gen.listener_feed,
        run.seed,
        BACKFILL_EVENTS,
        tail_parts_n * per_part,
        FEED_USERS,
    )
    quarters = _chunks(backfill, BACKFILL_QUARTERS)
    tail_parts = _chunks(tail_lines, tail_parts_n)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    register_feed_source(spark)

    # Warm pass: the same pipeline drains its own small feed once.
    t0 = time.monotonic()
    warm = Listener(run, os.path.join(run.tmp, "warm"))
    warm.publish(backfill[:ROWS_PER_BATCH])
    warm.drain()
    run.setup["warm.first_touch_s"] = time.monotonic() - t0

    lis = Listener(run, os.path.join(run.tmp, "listener"))
    with PeakRss(run.tracer.enabled) as rss:
        restarts = []
        for i, part in enumerate(quarters):
            lis.publish(part)
            t0 = time.monotonic()
            q = lis.start()
            try:
                q.processAllAvailable()
                if i > 0:
                    restarts.append(lis.first_return_after(t0))
                if i < len(quarters) - 1:
                    continue
                # The last quarter's query stays up for the live tail.
                n_backfill = len(lis.progress) + len(_data_batches(q))
                t_tail = time.monotonic() + TAIL_INTERVAL_S
                late = open_loop(lis.publish, tail_parts, TAIL_INTERVAL_S, t_tail)
                q.processAllAvailable()
                tail_wall = time.monotonic() - t_tail
            finally:
                lis.stop(q)

    # Correctness: every watched event exactly once, values exact.
    out = (
        read_upsert_target(spark, lis.target)
        .withColumn(
            "batch",
            F.regexp_extract(F.input_file_name(), r"batch=(\d+)", 1).cast("long"),
        )
        .toPandas()
    )
    got = {
        int(r.event_id): (int(r.burner), float(r.amount), int(r.burn_day))
        for r in out.itertuples()
    }
    attempted = len(lis.progress) + 1
    failed = 0
    if len(out) != len(got) or got != truth:
        missing = len(set(truth) - set(got))
        extra = len(set(got) - set(truth))
        wrong = sum(1 for k in set(got) & set(truth) if got[k] != truth[k])
        print(
            f"INCORRECT listener target: {len(out)} rows, {len(got)} ids,"
            f" {missing} missing, {extra} unexpected, {wrong} wrong values",
            file=sys.stderr,
        )
        failed = 1

    # Freshness of a tail part: from its due publish time to the return of
    # the sink call that wrote its last watched event. Events of one part
    # share it, so the part is the sample the tail percentile counts.
    starts = np.array([_first_id(part) for part in tail_parts])
    tail_rows = out[out["event_id"] >= starts[0]]
    part_idx = np.searchsorted(starts, tail_rows["event_id"].to_numpy(), "right") - 1
    written = pd.Series(
        [lis.sink_returns[int(b)] for b in tail_rows["batch"]]
    ).groupby(part_idx).max()
    fresh = [t - (t_tail + k * TAIL_INTERVAL_S) for k, t in written.items()]

    e2e, layer = _latency_metrics(fresh)
    polled = sum(p["numInputRows"] for p in lis.progress)
    # Backfill throughput: the median rate of the batches that do not open
    # a start. The first batch after a (re)start carries the restart's cost,
    # which listener.restart_resume_s times on its own.
    e2e["work_per_s"] = median(
        [
            1000 * p["numInputRows"] / p["durationMs"]["triggerExecution"]
            for i, p in enumerate(lis.progress[:n_backfill])
            if i not in lis.starts
        ]
    )
    layer["peak_rss_mb"] = rss.peak_mb

    if tracer.enabled:
        _progress_spans(tracer, lis.progress)
        poll = [_poll_ms(p) for p in lis.progress[:n_backfill]]
        data_ms = sum(
            p["durationMs"].get("triggerExecution", 0)
            for p in lis.progress[n_backfill:]
        )
        layer.update(
            {
                "sources.feed.poll_ms_p50": median(poll),
                "sources.feed.poll_ms_last_quarter": median(
                    poll[-max(1, len(poll) // 4) :]
                ),
                "sources.feed.rows_per_poll": polled / len(lis.progress),
                "streaming.replay.upsert_ms_p50": median(
                    tracer.durations_ms("streaming.replay.upsert")
                ),
                "streaming.replay.rows_written": len(out),
                "spark.microbatch.plan_ms_p50": median(
                    [p["durationMs"].get("queryPlanning", 0) for p in lis.progress]
                ),
                "spark.microbatch.commit_ms_p50": median(
                    [
                        p["durationMs"].get("walCommit", 0)
                        + p["durationMs"].get("commitOffsets", 0)
                        for p in lis.progress
                    ]
                ),
                "spark.microbatch.idle_ms": max(0.0, tail_wall * 1000 - data_ms),
                "spark.microbatch.batches": len(lis.progress),
                "listener.restart_resume_s": median(restarts),
                "listener.decode_selectivity": len(out) / polled,
                "listener.gen_late_max_s": max(late),
            }
        )
    notes = {
        "backfill_events_per_s": e2e["work_per_s"],
        "restart_resume_s": median(restarts),
        "freshness_p50_s": e2e["latency_p50_s"],
        "freshness_tail_s": e2e["latency_tail_s"],
        "freshness_tail_pct": layer["bench.tail_pct"],
        "gen_late_max_s": max(late),
        "batches": len(lis.progress),
    }
    return Result(attempted, failed, e2e, layer, notes)


def _first_id(lines: list[str]) -> int:
    return json.loads(lines[0])["event_id"]


def _poll_ms(p: dict) -> float:
    d = p["durationMs"]
    return d.get("latestOffset", 0) + d.get("getBatch", 0)


def _progress_spans(tracer: Tracer, progress: list[dict]) -> None:
    """Spans for Spark's own per-batch phases, from ``recentProgress``.

    A phase's start is not reported, so each span is laid end to end inside
    its batch's ``triggerExecution`` in the engine's phase order. Batch
    start times are wall-clock; they are moved onto the monotonic clock the
    other spans use."""
    offset = time.time() - time.monotonic()
    for p in progress:
        stamp = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        start = stamp.timestamp() - offset
        d = p["durationMs"]
        parent = tracer.add(
            "spark.microbatch",
            start,
            start + d.get("triggerExecution", 0) / 1000,
            trace=f"batch-{p['batchId']}",
            rows=p["numInputRows"],
        )
        at = start
        for phase, layer in (
            ("latestOffset", "sources.feed.poll"),
            ("getBatch", "sources.feed.poll"),
            ("queryPlanning", "spark.microbatch.plan"),
            ("walCommit", "spark.microbatch.commit"),
            ("addBatch", "spark.microbatch.add_batch"),
            ("commitOffsets", "spark.microbatch.commit"),
        ):
            ms = d.get(phase, 0)
            tracer.add(layer, at, at + ms / 1000, parent, f"batch-{p['batchId']}", phase=phase)
            at += ms / 1000


WORKLOADS = {"listener": listener, "batch_mix": batch_mix}

