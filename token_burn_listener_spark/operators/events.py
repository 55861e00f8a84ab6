"""Event-stream analytics shapes (round 3): sessionization, funnels,
retention cohorts.

The reference's domain is an event listener; these are the three batch
analyses every event pipeline grows: gap-based sessionization (the batch
twin of q_stream_session's session window), funnel stage conversion, and
weekly cohort retention. All three run on the `events` table (ts already
ns→µs-normalized by tables.load_table) and are oracle-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from token_burn_listener_spark.registry import query
from token_burn_listener_spark.tables import load_table

_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap


@query(
    "q_evt_sessionize",
    oracle=f"""
    WITH x AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), y AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM x
    )
    SELECT user_id, session_idx::BIGINT AS session_idx,
           count(*) AS n_events, min(ts) AS session_start,
           max(ts) AS session_end
    FROM y GROUP BY user_id, session_idx
    """,
)
def q_evt_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when ≥30 min pass
    with no user activity (gap >= threshold — the same boundary convention
    as Spark's session_window / q_stream_session, where a window is
    [start, start+gap) and an event landing exactly on the close boundary
    opens a NEW session); sessions numbered per user by a running sum of
    session-start flags (lag + cumulative sum — the canonical batch
    sessionize).

    100 TB plan: both windows partition by user_id — per-user event counts
    are bounded (human behavior), so no partition outgrows a task; one
    shuffle on user_id serves the lag, the running sum, AND the final
    per-session aggregation (same key domain, Catalyst reuses the
    partitioning). This is the batch twin of q_stream_session's
    session_window, verified against the same semantics.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap >= _GAP_US), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        e.withColumn("new_s", new_s)
        .withColumn("session_idx", F.sum("new_s").over(run).cast("long"))
        .groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def _funnel_stages(e: DataFrame) -> DataFrame:
    """The signup→click→purchase stage anchors shared by q_evt_funnel
    and q_evt_funnel_latency (one definition, so the latency numbers
    describe the same funnel the count key reports), as ONE per-user
    table ``(user_id, s_ts, c_ts, p_ts)``.

    Each stage anchors at the earliest qualifying event after the
    previous stage: ``s_ts`` is the user's first signup, ``c_ts`` the
    first click after ``s_ts``, ``p_ts`` the first purchase after
    ``c_ts``; a stage the user never reached is NULL, and so is every
    later one. ``s_ts`` and then ``c_ts`` are ``min(when(...))`` over
    ``Window.partitionBy("user_id")``, and ``p_ts`` is the groupBy on the
    same partitioning, so the three stages cost one shuffle on user_id
    and no join; the ``event_type IN (...)`` predicate pushes to the
    parquet scan. Users with no signup come out with ``s_ts`` NULL.

    Precondition: ``user_id`` and ``ts`` are non-null (FIXTURES.md).
    The oracle's joins drop a NULL user_id from the click and purchase
    stages, and its signup stage counts a user whose signups all have a
    NULL ts; this table does neither."""
    w = Window.partitionBy("user_id")
    first = lambda pred, after: F.min(  # noqa: E731
        F.when((F.col("event_type") == pred) & (F.col("ts") > after), F.col("ts"))
    )
    return (
        e.filter(F.col("event_type").isin("signup", "click", "purchase"))
        .withColumn(
            "s_ts",
            F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w),
        )
        .withColumn("c_ts", first("click", F.col("s_ts")).over(w))
        .groupBy("user_id")
        .agg(
            F.min("s_ts").alias("s_ts"),
            F.min("c_ts").alias("c_ts"),
            first("purchase", F.col("c_ts")).alias("p_ts"),
        )
    )


@query(
    "q_evt_funnel",
    oracle="""
    WITH su AS (
      SELECT user_id, min(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), cl AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'click' AND e.ts > su.s_ts
      GROUP BY e.user_id
    ), pu AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN cl ON e.user_id = cl.user_id
      WHERE e.event_type = 'purchase' AND e.ts > cl.c_ts
      GROUP BY e.user_id
    )
    SELECT 'signup' AS stage, count(*) AS users FROM su
    UNION ALL
    SELECT 'click_after_signup', count(*) FROM cl
    UNION ALL
    SELECT 'purchase_after_click', count(*) FROM pu
    """,
)
def q_evt_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion: users who signed up → later clicked → later
    purchased, each stage anchored at the earliest qualifying event after
    the previous stage (strict event-order funnel, not mere co-occurrence).

    100 TB plan: one event_type-pruned scan and one shuffle on user_id
    (bounded, uniform per-user partitions): the per-user stage table
    (_funnel_stages) is two window passes and a groupBy over that one
    partitioning, with no join. The three stage counts are one 1-row
    aggregate, turned into the three stage rows by ``inline`` of a
    3-struct array — coordination cost is nil.
    """
    e = load_table(spark, sf_dir, "events")
    counts = _funnel_stages(e).agg(
        *(F.count(c).alias(c) for c in ("s_ts", "c_ts", "p_ts"))
    )
    stage = lambda name, c: F.struct(  # noqa: E731
        F.lit(name).alias("stage"), F.col(c).alias("users")
    )
    return counts.select(
        F.inline(
            F.array(
                stage("signup", "s_ts"),
                stage("click_after_signup", "c_ts"),
                stage("purchase_after_click", "p_ts"),
            )
        )
    )


@query(
    "q_evt_retention",
    oracle="""
    WITH cohort AS (
      SELECT user_id, date_trunc('week', min(ts))::TIMESTAMP AS cohort_week
      FROM events GROUP BY user_id
    ), active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts)::TIMESTAMP AS active_week
      FROM events
    )
    SELECT cohort_week, active_week, count(*) AS users
    FROM cohort JOIN active USING (user_id)
    GROUP BY cohort_week, active_week
    """,
)
def q_evt_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week,
    counted in every week they return — the classic retention triangle.

    100 TB plan: cohort assignment and the distinct (user, week) activity
    set both aggregate on user_id first, so the join is
    aggregate⋈aggregate on the user key (one shuffle each side, reused by
    the join); the final rollup groups on two week keys — a few hundred
    cells regardless of scale. count(*) suffices because the activity side
    is already distinct per (user, week).
    """
    e = load_table(spark, sf_dir, "events")
    cohort = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    active = e.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    return (
        cohort.join(active, "user_id")
        .groupBy("cohort_week", "active_week")
        .agg(F.count("*").alias("users"))
    )


@query(
    "q_evt_anomaly",
    oracle="""
    WITH stats AS (
      SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type, round(value, 6) AS value,
           round((value - mu) / sd, 6) AS zscore
    FROM events e JOIN stats ON e.event_type = stats.event_type
    WHERE value > mu + 2.5 * sd
    """,
)
def q_evt_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type anomaly detection: events whose value exceeds the type's
    mean by >2.5 sample standard deviations — the alerting query an event
    listener grows first (for the reference's domain: abnormal burn
    amounts).

    100 TB plan: the stats side is a 5-row aggregate (one partial+final
    pass) broadcast back onto the scan — the second pass is map-only, so
    the whole query is two scans + zero fact shuffles. The 2.5σ threshold
    sits in continuous float territory; both engines fold the same
    Welford-style variance, and candidates at the exact boundary have
    measure zero.
    """
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy(F.col("event_type").alias("et")).agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    return (
        e.join(F.broadcast(stats), e["event_type"] == F.col("et"))
        .filter(F.col("value") > F.col("mu") + 2.5 * F.col("sd"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round((F.col("value") - F.col("mu")) / F.col("sd"), 6).alias("zscore"),
        )
    )


@query(
    "q_evt_resample",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts))::TIMESTAMP AS lo,
             date_trunc('hour', max(ts))::TIMESTAMP AS hi
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start,
             event_type
      FROM bounds, (SELECT DISTINCT event_type FROM events)
    ), actual AS (
      SELECT date_trunc('hour', ts)::TIMESTAMP AS hour_start, event_type,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT g.hour_start, g.event_type, coalesce(a.n, 0) AS n
    FROM grid g LEFT JOIN actual a
      ON g.hour_start = a.hour_start AND g.event_type = a.event_type
    """,
)
def q_evt_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap fill: the hourly rollup densified to
    a complete (hour × event_type) grid, absent cells zero-filled — what
    every monitoring/chart consumer needs (a missing hour must read as 0,
    not as no row).

    100 TB plan: BOTH join inputs are tiny aggregates regardless of event
    volume — the grid is sequence()-generated from a 1-row bounds
    aggregate, and `actual` is the hourly rollup (hours × types rows). The
    rollup side BROADCASTS as the build side of the left join; the
    grid side cannot (Spark never builds a broadcast hash map on the
    outer-PRESERVED side — unmatched probe rows must stream). The fact
    table is touched exactly once, by the rollup; zero-fill never rescans
    events.
    """
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    types = e.select("event_type").distinct()
    grid = (
        bounds.select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour_start")
        )
        .crossJoin(types)
    )
    actual = e.groupBy(
        F.date_trunc("hour", "ts").alias("ah"), F.col("event_type").alias("at")
    ).agg(F.count("*").alias("n"))
    return (
        grid.join(
            F.broadcast(actual),
            (grid["hour_start"] == actual["ah"])
            & (grid["event_type"] == actual["at"]),
            "left",
        )
        .select(
            "hour_start",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )


_HIST_BIN = 25.0


@query(
    "q_evt_histogram",
    oracle=f"""
    SELECT event_type,
           floor(value / {_HIST_BIN})::BIGINT AS bin,
           floor(value / {_HIST_BIN}) * {_HIST_BIN} AS bin_lo,
           count(*) AS n
    FROM events GROUP BY 1, 2, 3
    """,
)
def q_evt_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (bin width _HIST_BIN):
    the distribution summary behind every dashboard panel and the input to
    skew diagnosis.

    100 TB plan: binning is a map-side floor-divide in codegen; the
    aggregation keys (type × ~20 bins) are tiny, so partial aggregation
    collapses virtually all rows before the one exchange. Bin boundaries
    are exact: both engines fold the same double division and floor.
    """
    e = load_table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / _HIST_BIN)
    return (
        e.groupBy(
            "event_type",
            bin_.cast("long").alias("bin"),
            (bin_ * _HIST_BIN).alias("bin_lo"),
        )
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_evt_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), t AS (
      SELECT prev_type, event_type AS next_type, count(*) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           round(n / sum(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM t
    """,
)
def q_evt_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (extra): per-user consecutive event
    pairs aggregated into Markov transition counts and row-normalized
    probabilities — the user-path / next-action analysis behind funnels
    that aren't known in advance.

    100 TB plan: the lag window partitions by user_id (bounded per-user
    history, uniform key — the sessionize shuffle, reused verbatim); the
    transition aggregation collapses to |types|² rows at the map side, and
    the normalizing window runs over that bounded matrix, never over
    events. One fact shuffle total.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").alias("n")
    )
    norm = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(norm), 6).alias("p"),
    )


@query(
    "q_evt_dynamic_sessions",
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
      -- STRICTLY greater (r12): Spark's session_window MERGES an event
      -- landing exactly on the running deadline (same boundary the r11
      -- q_stream_session fix established for static gaps), so only
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
           CAST(count(*) AS BIGINT) AS n_events
    FROM sid GROUP BY user_id, sidx
    """,
)
def q_evt_dynamic_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap sessionization via session_window with a PER-EVENT gap
    expression: purchases hold a session open 45 minutes, everything else
    15 — the engagement-dependent timeout real funnels use (a checkout
    deserves a longer grace window than a pageview).

    Unlike the fixed-gap lag formulation (q_evt_sessionize), the merge
    rule here is interval overlap: each event spans [ts, ts + gap(event))
    and overlapping spans merge, so session_end is the running MAX of
    event deadlines, which a longer-gap event can extend past a later
    short-gap event's deadline. The oracle replays exactly that with a
    running-max window; boundary convention matches session_window —
    MEASURED (r12): an event landing EXACTLY on the running deadline
    MERGES (Spark returned one session on an exact-boundary table, both
    for static and dynamic gaps), so the oracle breaks strictly-greater.
    The previous `>=` convention here was the same boundary bug the r11
    streaming fuzz caught in q_stream_session, latent because neither
    the fixture nor the fuzz examples so far produce an exact hit.

    100 TB plan: session_window is one shuffle on user_id + an in-partition
    merge sort — the same cost envelope as the lag formulation; the gap
    CASE is row-local. The identical expression drops into the streaming
    q_stream_session shape for watermark-evicted state.
    """
    e = load_table(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "purchase", F.lit("45 minutes"))
        .otherwise(F.lit("15 minutes"))
    )
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "q_evt_windowed_funnel",
    oracle="""
    WITH su AS (
      SELECT user_id, min(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), cl AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN su USING (user_id)
      WHERE e.event_type = 'click'
        AND e.ts > su.s_ts AND e.ts <= su.s_ts + INTERVAL 7 DAY
      GROUP BY e.user_id
    ), pu AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN cl USING (user_id)
      WHERE e.event_type = 'purchase'
        AND e.ts > cl.c_ts AND e.ts <= cl.c_ts + INTERVAL 7 DAY
      GROUP BY e.user_id
    )
    SELECT 'signup' AS stage, CAST(count(*) AS BIGINT) AS users FROM su
    UNION ALL
    SELECT 'click_7d', CAST(count(*) AS BIGINT) FROM cl
    UNION ALL
    SELECT 'purchase_7d', CAST(count(*) AS BIGINT) FROM pu
    """,
)
def q_evt_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline-constrained funnel: signup → click WITHIN 7 days →
    purchase within 7 days of that click. Unlike the unconstrained funnel
    (q_evt_funnel), each stage must land inside a conversion window
    anchored at the previous stage's timestamp — the form product teams
    actually report, since a purchase eight months later is not
    attributable to the signup.

    100 TB plan: identical cost envelope to q_evt_funnel — every stage
    aggregates per user before joining, so all joins are
    aggregate⋈aggregate on the uniform user key with scan-side
    event_type pushdown; the deadline is a row-local band predicate on
    the joined pair, not a new join.
    """
    e = load_table(spark, sf_dir, "events")
    week = F.expr("INTERVAL 7 DAYS")
    # stage aggregates pinned for the same reason as q_evt_funnel: each
    # feeds its count row AND the next stage's join
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
        .localCheckpoint(eager=False)
    )
    cl = (
        e.filter(F.col("event_type") == "click")
        .join(su, "user_id")
        .filter((F.col("ts") > F.col("s_ts")) & (F.col("ts") <= F.col("s_ts") + week))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
        .localCheckpoint(eager=False)
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .join(cl, "user_id")
        .filter((F.col("ts") > F.col("c_ts")) & (F.col("ts") <= F.col("c_ts") + week))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )

    def row(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.lit(name).alias("stage"), F.count("*").alias("users"))

    return row("signup", su).unionAll(row("click_7d", cl)).unionAll(
        row("purchase_7d", pu)
    )


@query(
    "q_evt_rfm",
    oracle="""
    WITH mx AS (SELECT max(ts) AS mx FROM events),
    u AS (
      SELECT user_id,
             date_diff('day', max(ts), (SELECT mx FROM mx)) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             round(sum(value), 6) AS monetary
      FROM events GROUP BY user_id
    ),
    b AS (
      SELECT round(quantile_cont(recency_days, 1.0/3), 6) AS r1,
             round(quantile_cont(recency_days, 2.0/3), 6) AS r2,
             round(quantile_cont(frequency, 1.0/3), 6) AS f1,
             round(quantile_cont(frequency, 2.0/3), 6) AS f2,
             round(quantile_cont(monetary, 1.0/3), 6) AS m1,
             round(quantile_cont(monetary, 2.0/3), 6) AS m2
      FROM u
    )
    SELECT user_id, recency_days, frequency, monetary,
           CASE WHEN recency_days <= r1 THEN 3
                WHEN recency_days <= r2 THEN 2 ELSE 1 END AS r_score,
           CASE WHEN frequency <= f1 THEN 1
                WHEN frequency <= f2 THEN 2 ELSE 3 END AS f_score,
           CASE WHEN monetary <= m1 THEN 1
                WHEN monetary <= m2 THEN 2 ELSE 3 END AS m_score
    FROM u, b
    """,
)
def q_evt_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency (days since last event),
    frequency (event count), monetary (value sum), each scored 1-3
    against corpus-derived tercile boundaries — the classic churn/value
    grid marketing analytics runs on event feeds (recency scores
    INVERTED: recent = 3).

    Tercile boundaries are data-driven (percentile over the user table)
    and ROUNDED to 6 before classification on BOTH engines, so the score
    comparisons are engine-identical; recency/frequency are integers, and
    monetary is rounded before comparing.

    100 TB plan: one shuffle aggregates events to users; the boundary agg
    runs over the USER table (cardinality-sized) and its 1-row output
    broadcasts back — two aggregations, one fact scan, no window.
    """
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("mx"))
    # pin the per-user rollup: it feeds the tercile-boundary agg AND the
    # scoring join — unpinned, both branches re-scan events
    u = (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.datediff(F.max("mx"), F.max("ts")).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.round(F.sum("value"), 6).alias("monetary"),
        )
        .localCheckpoint(eager=False)
    )
    b = u.agg(
        *[
            F.round(F.percentile(c, q), 6).alias(n)
            for c, q, n in [
                ("recency_days", 1 / 3, "r1"),
                ("recency_days", 2 / 3, "r2"),
                ("frequency", 1 / 3, "f1"),
                ("frequency", 2 / 3, "f2"),
                ("monetary", 1 / 3, "m1"),
                ("monetary", 2 / 3, "m2"),
            ]
        ]
    )
    scored = u.crossJoin(F.broadcast(b))
    return scored.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.when(F.col("recency_days") <= F.col("r1"), 3)
        .when(F.col("recency_days") <= F.col("r2"), 2)
        .otherwise(1)
        .alias("r_score"),
        F.when(F.col("frequency") <= F.col("f1"), 1)
        .when(F.col("frequency") <= F.col("f2"), 2)
        .otherwise(3)
        .alias("f_score"),
        F.when(F.col("monetary") <= F.col("m1"), 1)
        .when(F.col("monetary") <= F.col("m2"), 2)
        .otherwise(3)
        .alias("m_score"),
    )


@query(
    "q_evt_rolling_active",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day FROM events
    ),
    grid AS (SELECT DISTINCT day FROM ud),
    wau AS (
      SELECT g.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau7
      FROM grid g JOIN ud u
        ON u.day BETWEEN g.day - INTERVAL 6 DAY AND g.day
      GROUP BY g.day
    ),
    dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
    )
    SELECT d.day, d.dau, w.wau7,
           round(d.dau::DOUBLE / w.wau7, 6) AS stickiness
    FROM dau d JOIN wau w USING (day)
    """,
)
def q_evt_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement metrics: per day, the distinct daily actives
    (DAU), the 7-day rolling distinct actives (WAU), and the DAU/WAU
    stickiness ratio — the growth dashboard every event feed ends up
    powering. Rolling DISTINCT counts cannot use a window frame (no
    count-distinct over windows), so the standard shape is a bounded
    day-grid range join over the deduplicated (user, day) table.

    100 TB plan: events collapse to user-days first (one shuffle, output
    bounded by users × days — orders of magnitude under the event
    count); the grid side is days-sized and BROADCASTS into the range
    join, which fans each user-day out at most 7×; the per-day distinct
    is the only other shuffle. MEASURED NON-PROMOTION (r12): pinning
    `ud` with localCheckpoint (it feeds grid/wau/dau) was A/B'd at 100×
    (3 reps each) and LOST — ~6.4 s pinned vs ~5.7 s unpinned — the
    user-day materialization barrier costs more than the replayed
    scans AQE dedups at runtime; the unpinned form stays.
    """
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    grid = ud.select("day").distinct().select(F.col("day").alias("gday"))
    wau = (
        ud.join(
            F.broadcast(grid),
            F.col("day").between(F.date_sub(F.col("gday"), 6), F.col("gday")),
        )
        .groupBy("gday")
        .agg(F.count_distinct("user_id").alias("wau7"))
    )
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    return (
        dau.join(wau, dau.day == wau.gday)
        .select(
            "day",
            "dau",
            "wau7",
            F.round(F.col("dau") / F.col("wau7"), 6).alias("stickiness"),
        )
    )


@query(
    "q_evt_attribution",
    oracle="""
    WITH pu AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    cl AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    ranked AS (
      SELECT pu.purchase_id, pu.user_id, cl.click_id,
             row_number() OVER (
               PARTITION BY pu.purchase_id
               ORDER BY cl.c_ts DESC, cl.click_id) AS rk,
             CAST(floor((epoch_us(pu.p_ts) - epoch_us(cl.c_ts))
                        / 60000000.0) AS BIGINT) AS gap_min
      FROM pu JOIN cl
        ON pu.user_id = cl.user_id
       AND cl.c_ts <= pu.p_ts
       AND cl.c_ts > pu.p_ts - INTERVAL 7 DAY
    )
    SELECT p.purchase_id, p.user_id, r.click_id,
           CAST(r.gap_min AS BIGINT) AS gap_min
    FROM pu p LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) r
      USING (purchase_id)
    """,
)
def q_evt_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase is credited to the user's
    most recent click within a 7-day lookback — or left unattributed
    (null click) when none exists, which a plain as-of inner join
    (q_join_asof) would silently drop. The null rows ARE the deliverable:
    unattributed conversion rate is the metric marketing tunes against.

    100 TB plan: both sides are event_type-pruned scans joined on the
    uniform user key with a row-local 7-day band; the rank-1 window
    partitions per purchase (WindowGroupLimit prunes to the top row);
    the final LEFT join re-attaches unattributed purchases from the
    purchase-sized (not event-sized) relation.
    """
    e = load_table(spark, sf_dir, "events")
    pu = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    cl = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    joined = pu.join(
        cl,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w = Window.partitionBy("purchase_id").orderBy(F.desc("c_ts"), "click_id")
    best = (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "purchase_id",
            "click_id",
            (
                F.floor(
                    (F.unix_micros("p_ts") - F.unix_micros("c_ts")) / 60_000_000
                )
            ).alias("gap_min"),
        )
    )
    return pu.select("purchase_id", "user_id").join(best, "purchase_id", "left")


@query(
    "q_evt_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || ' > ' || t2 || ' > ' || t3 AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 10
    """,
)
def q_evt_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining: the top-10 most common 3-step event-type sequences
    across users (consecutive by event time) — the "what do users do
    next" query behind every behavioral-flow sankey.

    100 TB plan: one shuffle on user_id feeds both lead() windows
    (per-user partitions bounded by human behavior); the path strings
    partial-aggregate map-side into a (event_types)^3-bounded key space,
    and the global top-10 is TakeOrdered — k rows to the driver, no
    global sort.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.filter(F.col("t3").isNotNull())
        .select(
            F.concat_ws(" > ", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


@query(
    "q_evt_forecast_naive",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts)::TIMESTAMP AS hs,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_hours_scored,
           round(avg(abs(a.n - p.n)), 6) AS mae,
           round(avg(abs(a.n - p.n)::DOUBLE / a.n), 6) AS mape
    FROM hourly a JOIN hourly p
      ON a.event_type = p.event_type
     AND p.hs = a.hs - INTERVAL 24 HOUR
    GROUP BY a.event_type
    """,
)
def q_evt_forecast_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline: predict each hour's event count
    from the SAME hour one day earlier, and score MAE/MAPE per event type
    — the baseline every real forecasting model must beat, and the
    always-on data-drift monitor (MAPE jumping = the feed changed shape).

    The 24h-shifted "prediction" joins as an EQUI-join on (type, hour)
    since hours are truncation-aligned — no window over a gap-free hour
    spine needed, and hours missing on either side drop out identically
    on both engines.

    100 TB plan: the hourly rollup is the one fact-sized aggregation
    (types × hours output — tiny); the self-join and scoring run on that
    bounded table. The same shape extends to weekly seasonality by
    changing the interval. MEASURED NON-PROMOTION (r12): pinning
    `hourly` (it feeds both self-join sides) was A/B'd at 100× (3 reps
    each) and LOST — ~2.0 s pinned vs ~1.5 s unpinned — the tiny grid's
    checkpoint barrier costs more than the second scan AQE dedups at
    runtime; the unpinned form stays.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hs")
    ).agg(F.count("*").alias("n"))
    a = hourly.select("event_type", "hs", F.col("n").alias("n_actual"))
    p = hourly.select(
        "event_type",
        (F.col("hs") + F.expr("INTERVAL 24 HOURS")).alias("hs"),
        F.col("n").alias("n_pred"),
    )
    err = F.abs(F.col("n_actual") - F.col("n_pred"))
    return (
        a.join(p, ["event_type", "hs"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_hours_scored"),
            F.round(F.avg(err), 6).alias("mae"),
            F.round(F.avg(err / F.col("n_actual")), 6).alias("mape"),
        )
    )


@query(
    "q_evt_cohort_ltv",
    oracle="""
    WITH cohort AS (
      SELECT user_id, date_trunc('week', min(ts))::TIMESTAMP AS cohort_week
      FROM events GROUP BY user_id
    ), weekly AS (
      SELECT c.cohort_week,
             CAST(date_diff('week', c.cohort_week,
                            date_trunc('week', e.ts)) AS BIGINT) AS week_idx,
             sum(e.value) AS v
      FROM events e JOIN cohort c USING (user_id)
      GROUP BY 1, 2
    ), sized AS (
      SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
      FROM cohort GROUP BY cohort_week
    )
    SELECT w.cohort_week, w.week_idx, s.cohort_users,
           round(sum(w.v) OVER (PARTITION BY w.cohort_week ORDER BY w.week_idx
                                ROWS UNBOUNDED PRECEDING)
                 / s.cohort_users, 6) AS cum_value_per_user
    FROM weekly w JOIN sized s USING (cohort_week)
    """,
)
def q_evt_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative value per user by weeks
    since first activity, one curve per signup cohort — the retention
    triangle's (q_evt_retention) value-weighted sibling, and the number a
    payback-period model reads straight off.

    100 TB plan: cohort assignment aggregates on user_id; the fact joins
    that user-keyed aggregate once and rolls up to (cohort, week-index)
    — a bounded table on which the cumulative window runs (weeks ×
    cohorts rows, partitioned per cohort). The division by cohort size
    happens AFTER the cumsum so partial sums stay exact. `cohort` is
    PINNED (r12 review): it feeds both the weekly fact join and the
    `sized` rollup, and unpinned the corpus-sized groupBy(user_id) runs
    once per consumer — MEASURED at 100× (3 reps each): ~3.75 s pinned
    vs ~4.78 s unpinned, the one events-key pin of the r12 review sweep
    that won (its sibling candidates lost to AQE runtime reuse and were
    reverted — see rolling_active/forecast_naive/pareto).
    """
    e = load_table(spark, sf_dir, "events")
    cohort = (
        e.groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
        .localCheckpoint(eager=False)
    )
    weekly = (
        e.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", "ts"), F.col("cohort_week")) / 7
            )
            .cast("long")
            .alias("week_idx"),
        )
        .agg(F.sum("value").alias("v"))
    )
    sized = cohort.groupBy("cohort_week").agg(F.count("*").alias("cohort_users"))
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        weekly.join(F.broadcast(sized), "cohort_week")
        .select(
            "cohort_week",
            "week_idx",
            "cohort_users",
            F.round(F.sum("v").over(w) / F.col("cohort_users"), 6).alias(
                "cum_value_per_user"
            ),
        )
    )


@query(
    "q_evt_ab_test",
    oracle="""
    WITH assigned AS (
      SELECT event_type, value,
             CASE WHEN CAST(('0x' || substr(sha256(user_id::VARCHAR), 1, 2))
                            AS BIGINT) < 128 THEN 'A' ELSE 'B' END AS arm
      FROM events
    ), stats AS (
      SELECT event_type, arm, count(*) AS n, avg(value) AS mu,
             var_samp(value) AS v
      FROM assigned GROUP BY 1, 2
    )
    SELECT a.event_type,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           round(a.mu, 6) AS mean_a, round(b.mu, 6) AS mean_b,
           round((a.mu - b.mu) / NULLIF(sqrt(a.v / a.n + b.v / b.n), 0),
                 6) AS t_stat
    FROM stats a JOIN stats b USING (event_type)
    WHERE a.arm = 'A' AND b.arm = 'B'
    """,
)
def q_evt_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users hash deterministically into arms
    (sha256 byte < 128 — the same sticky-assignment rule a feature-flag
    service uses), and each event_type gets per-arm means plus the Welch
    t-statistic for the difference. On this fixture |t| should hover near
    0 — the arms are a random split of one population, so this doubles as
    an A/A sanity check of the assignment hash.

    100 TB plan: assignment is a row-local hash; the per-(type, arm)
    moment aggregation is one partial+final pass over the fact; the
    t-statistic computes on the (types × 2)-row stats table. Nothing else
    moves.
    """
    e = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.conv(
            F.substring(F.sha2(F.col("user_id").cast("string"), 256), 1, 2), 16, 10
        ).cast("long")
        < 128,
        "A",
    ).otherwise("B")
    stats = (
        e.select("event_type", "value", arm.alias("arm"))
        .groupBy("event_type", "arm")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("mu"),
            F.var_samp("value").alias("v"),
        )
    )
    a = stats.filter(F.col("arm") == "A").select(
        "event_type",
        F.col("n").alias("n_a"),
        F.col("mu").alias("mu_a"),
        F.col("v").alias("v_a"),
    )
    b = stats.filter(F.col("arm") == "B").select(
        "event_type",
        F.col("n").alias("n_b"),
        F.col("mu").alias("mu_b"),
        F.col("v").alias("v_b"),
    )
    return (
        a.join(b, "event_type")
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.round("mu_a", 6).alias("mean_a"),
            F.round("mu_b", 6).alias("mean_b"),
            # NULLIF (both engines): two zero-variance arms give a 0
            # denominator — Spark would emit NaN/Infinity where DuckDB
            # emits NULL; t undefined there, so a deterministic NULL
            F.round(
                (F.col("mu_a") - F.col("mu_b"))
                / F.nullif(
                    F.sqrt(
                        F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("t_stat"),
        )
    )


@query(
    "q_evt_pareto",
    oracle="""
    WITH u AS (
      SELECT user_id, round(sum(value), 6) AS total FROM events GROUP BY user_id
    ), thr AS (
      SELECT round(quantile_cont(total, 0.9), 6) AS p90 FROM u
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN total >= p90 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_top_users,
           round(sum(CASE WHEN total >= p90 THEN total ELSE 0 END)
                 / NULLIF(sum(total), 0), 6) AS top_decile_share
    FROM u, thr
    """,
)
def q_evt_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-concentration (Pareto) report: what share of total event
    value the top decile of users carries — the 80/20 check that decides
    whether per-user capacity planning, skew salting (q_join_salted), and
    revenue risk all hinge on a handful of whales.

    The decile boundary is a percentile over the USER table, rounded
    before comparison on both engines (the q_evt_rfm convention), so
    membership is engine-identical.

    100 TB plan: one shuffle aggregates the fact to users; the threshold
    is a 1-row percentile over the user table broadcast back; the final
    report is a 1-row rollup. MEASURED NON-PROMOTION (r12): pinning `u`
    (it feeds the threshold agg and the report agg, the shape
    q_evt_rfm pins) was A/B'd at 100× (3 reps each) and came out a WASH
    (~1.94 s pinned vs ~1.97 s unpinned) — the unpinned form stays, with
    AQE runtime exchange reuse absorbing the duplicate subtree.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(F.round(F.sum("value"), 6).alias("total"))
    thr = u.agg(F.round(F.percentile("total", 0.9), 6).alias("p90"))
    top = F.col("total") >= F.col("p90")
    return (
        u.crossJoin(F.broadcast(thr))
        .agg(
            F.count("*").alias("n_users"),
            F.sum(F.when(top, 1).otherwise(0)).alias("n_top_users"),
            # NULLIF (both engines): an all-zero-value corpus zeroes the
            # denominator — Spark 4's ANSI mode THROWS on the division
            # where DuckDB yields NULL (found by tests/test_fuzz_parity);
            # concentration share is undefined there, so NULL on both
            F.round(
                F.sum(F.when(top, F.col("total")).otherwise(0.0))
                / F.nullif(F.sum("total"), F.lit(0.0)),
                6,
            ).alias("top_decile_share"),
        )
    )


@query(
    "q_evt_funnel_latency",
    oracle="""
    WITH su AS (
      SELECT user_id, min(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), cl AS (
      SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'click' AND e.ts > su.s_ts
      GROUP BY e.user_id
    ), pu AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN cl ON e.user_id = cl.user_id
      WHERE e.event_type = 'purchase' AND e.ts > cl.c_ts
      GROUP BY e.user_id
    ), lat AS (
      SELECT su.user_id,
             epoch_us(cl.c_ts) - epoch_us(su.s_ts) AS sc_us,
             epoch_us(pu.p_ts) - epoch_us(cl.c_ts) AS cp_us
      FROM su
      LEFT JOIN cl ON cl.user_id = su.user_id
      LEFT JOIN pu ON pu.user_id = su.user_id
    )
    SELECT count(*) AS n_signup,
           count(sc_us) AS n_click,
           count(cp_us) AS n_purchase,
           round(avg(sc_us) / 1e6, 6) AS avg_signup_to_click_s,
           round(avg(cp_us) / 1e6, 6) AS avg_click_to_purchase_s,
           round(max(sc_us) / 1e6, 6) AS max_signup_to_click_s
    FROM lat
    """,
)
def q_evt_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: how long each funnel transition takes — the
    question that follows immediately once q_evt_funnel says HOW MANY
    convert. Latencies are exact integer microsecond differences between
    the same stage anchors the funnel uses; averages are Σ(exact int)/n
    divided identically on both engines, reported in seconds.

    100 TB plan: the same per-user stage table as q_evt_funnel (one
    event_type-pruned scan, one shuffle on user_id, no join), filtered
    to users who signed up, plus one final 1-row latency aggregate —
    nothing else shuffles.
    """
    e = load_table(spark, sf_dir, "events")
    lat = (
        _funnel_stages(e)
        .filter(F.col("s_ts").isNotNull())
        .select(
            (F.unix_micros("c_ts") - F.unix_micros("s_ts")).alias("sc_us"),
            (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("cp_us"),
        )
    )
    return lat.agg(
        F.count("*").alias("n_signup"),
        F.count("sc_us").alias("n_click"),
        F.count("cp_us").alias("n_purchase"),
        F.round(F.avg("sc_us") / 1e6, 6).alias("avg_signup_to_click_s"),
        F.round(F.avg("cp_us") / 1e6, 6).alias("avg_click_to_purchase_s"),
        F.round(F.max("sc_us") / 1e6, 6).alias("max_signup_to_click_s"),
    )


# Ln of one Kaplan-Meier factor. Identical expression text on both engines
# (per-row IEEE math on exact integer counts); the cumulative product is
# exp(cumsum(ln factor)) with the cumsum folded in DECIMAL(28,12) so the
# two engines' window-aggregation internals (sequential vs segment-tree)
# cannot perturb low-order float bits.
_KM_LN_F = "ln(1 - n_events / CAST(n_risk AS DOUBLE))"


@query(
    "q_evt_survival",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events
    ), bound AS (
      SELECT max(ts) AS corpus_end FROM events
    ), obs AS (
      SELECT CASE WHEN nxt IS NOT NULL
                  THEN (epoch_us(nxt) - epoch_us(ts)) // 3600000000
                  ELSE (epoch_us(corpus_end) - epoch_us(ts)) // 3600000000
             END AS dur_h,
             CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS is_event
      FROM e CROSS JOIN bound
    ), byd AS (
      SELECT dur_h::BIGINT AS dur_h, count(*)::BIGINT AS n_obs,
             sum(is_event)::BIGINT AS n_events
      FROM obs GROUP BY dur_h
    ), risk AS (
      SELECT dur_h, n_events,
             sum(n_obs) OVER (ORDER BY dur_h DESC
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS n_risk
      FROM byd
    ), km AS (
      SELECT dur_h, n_events, n_risk,
             CASE WHEN n_events < n_risk
                  THEN CAST({_KM_LN_F} AS DECIMAL(28,12)) END AS ln_f,
             CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END AS dead
      FROM risk WHERE n_events > 0
    ), cum AS (
      SELECT dur_h, n_events, n_risk,
             sum(ln_f) OVER (ORDER BY dur_h ROWS UNBOUNDED PRECEDING)
               AS cum_ln,
             max(dead) OVER (ORDER BY dur_h ROWS UNBOUNDED PRECEDING)
               AS any_dead
      FROM km
    )
    SELECT dur_h, n_events, n_risk,
           CASE WHEN any_dead = 1 THEN 0.0
                ELSE round(exp(CAST(cum_ln AS DOUBLE)), 6) END AS survival,
           row_number() OVER (ORDER BY dur_h) AS rnk
    FROM cum
    """,
)
def q_evt_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve over inter-event return times: for
    each user-event, the observation is the gap (hours) until the user's
    NEXT event — right-censored at corpus end for each user's last event
    (we know they survived at least that long without returning, not
    when they returned). S(t) = P(return time > t) is the product-limit
    estimator Π_{d≤t} (1 - d_i/n_i), the principled answer to "how long
    do users stay away?" that a naive mean-gap metric biases by ignoring
    censoring.

    Exactness: d_i and n_i are exact integers; each factor's ln is
    per-row float math with shared expression text; the cumulative sum
    of ln-factors is folded in DECIMAL(28,12) (window-order independent)
    and exp/round applied to the identical resulting double. A factor of
    exactly 0 (everyone at risk returns at that gap) would be ln(0); the
    `dead` flag pins S to 0.0 from that row on instead — both engines
    branch on the same exact-integer comparison.

    100 TB plan: one per-user window pass (lead) over the events shuffle
    on user_id — the same partitioning sessionize/funnel already use; the
    observation set then collapses to a bounded hour-grid rollup
    (partial+final), and every window after that runs on the ≤~thousands-
    row grid, an explicitly bounded single-partition rollup (house
    pattern: windows only over bounded rollups). The 1-row corpus-end
    bound broadcasts.
    """
    e = load_table(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = e.select(
        "ts", F.lead("ts").over(w_user).alias("nxt")
    )
    bound = e.agg(F.max("ts").alias("corpus_end"))
    obs = nxt.crossJoin(F.broadcast(bound)).select(
        F.when(
            F.col("nxt").isNotNull(),
            F.expr("(unix_micros(nxt) - unix_micros(ts)) div 3600000000"),
        )
        .otherwise(
            F.expr(
                "(unix_micros(corpus_end) - unix_micros(ts)) div 3600000000"
            )
        )
        .alias("dur_h"),
        F.when(F.col("nxt").isNotNull(), 1).otherwise(0).alias("is_event"),
    )
    byd = obs.groupBy("dur_h").agg(
        F.count("*").alias("n_obs"), F.sum("is_event").alias("n_events")
    )
    w_desc = (
        Window.orderBy(F.desc("dur_h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = byd.select(
        "dur_h",
        "n_events",
        F.sum("n_obs").over(w_desc).alias("n_risk"),
    )
    km = risk.filter(F.col("n_events") > 0).select(
        "dur_h",
        "n_events",
        "n_risk",
        F.when(
            F.col("n_events") < F.col("n_risk"),
            F.expr(f"CAST({_KM_LN_F} AS DECIMAL(28,12))"),
        ).alias("ln_f"),
        F.when(F.col("n_events") >= F.col("n_risk"), 1).otherwise(0).alias(
            "dead"
        ),
    )
    w_asc = (
        Window.orderBy("dur_h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = km.select(
        "dur_h",
        "n_events",
        "n_risk",
        F.sum("ln_f").over(w_asc).alias("cum_ln"),
        F.max("dead").over(w_asc).alias("any_dead"),
    )
    return cum.select(
        "dur_h",
        "n_events",
        "n_risk",
        F.when(F.col("any_dead") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("cum_ln").cast("double")), 6))
        .alias("survival"),
        F.row_number().over(Window.orderBy("dur_h")).alias("rnk"),
    )


@query(
    "q_evt_changepoint",
    oracle="""
    WITH byd AS (
      SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS n_events
      FROM events GROUP BY day
    ), m AS (
      SELECT sum(n_events)::DOUBLE / count(*) AS mu FROM byd
    ), cus AS (
      SELECT day, n_events,
             sum(CAST(n_events - mu AS DECIMAL(28,12)))
               OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cusum_d
      FROM byd CROSS JOIN m
    ), mx AS (
      SELECT max(abs(cusum_d)) AS max_abs FROM cus
    )
    SELECT day, n_events,
           round(CAST(cusum_d AS DOUBLE), 6) AS cusum,
           CASE WHEN abs(cusum_d) = max_abs THEN 1 ELSE 0 END AS is_peak,
           row_number() OVER (ORDER BY day) AS rnk
    FROM cus CROSS JOIN mx
    """,
)
def q_evt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint detection on the daily event-count
    series: cusum_d = Σ_{d'≤d}(x_d' - x̄). Under a stable rate the walk
    hovers near zero; a sustained rate shift makes it trend, and the day
    of maximum |CUSUM| is the classic estimate of WHEN the level changed
    — the day an incident started or a launch landed, which threshold
    alerts on raw counts smear across the whole shifted period.

    Exactness: daily counts are exact integers and the mean is the same
    1-row double both engines; each (x - x̄) term casts to
    DECIMAL(28,12) BEFORE the cumulative window, so the running sum is
    exact integer arithmetic — window association order cannot move it —
    and the peak flag compares decimals exactly (no float == hazard).
    Rounded to 6 dp only on output.

    100 TB plan: one partial+final count per day (map-side combine on
    the date key), then every window runs on the bounded day grid
    (≤ corpus-span days — the house bounded-rollup pattern); the 1-row
    mean and max broadcast. At petabyte event volume the day-grid is
    still thousands of rows.
    """
    e = load_table(spark, sf_dir, "events")
    # pin the bounded day grid: it feeds the mean agg, the cusum window,
    # and (via cus) the max agg — unpinned, each branch re-scans events
    byd = (
        e.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n_events"))
        .localCheckpoint(eager=False)
    )
    m = byd.agg(
        (F.sum("n_events").cast("double") / F.count("*")).alias("mu")
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cus = byd.crossJoin(F.broadcast(m)).select(
        "day",
        "n_events",
        F.sum(
            (F.col("n_events") - F.col("mu")).cast("decimal(28,12)")
        )
        .over(w_cum)
        .alias("cusum_d"),
    )
    mx = cus.agg(F.max(F.abs("cusum_d")).alias("max_abs"))
    return cus.crossJoin(F.broadcast(mx)).select(
        "day",
        "n_events",
        F.round(F.col("cusum_d").cast("double"), 6).alias("cusum"),
        F.when(F.abs("cusum_d") == F.col("max_abs"), 1)
        .otherwise(0)
        .alias("is_peak"),
        F.row_number().over(Window.orderBy("day")).alias("rnk"),
    )


_REORG_BLOCK = 100  # event_ids per synthesized block
_REORG_DEPTH = 6  # confirmation depth: the only re-walkable window

# Shared block-synthesis CTEs (ids/h/ev/blocks) — the SINGLE SQL
# definition of the fork shape, used by BOTH the batch oracle below and
# the streaming twin's oracle (streaming/queries.py), so the two cannot
# silently diverge. Mirrors reorg_blocks() exactly.
REORG_BLOCKS_SQL = f"""ids AS (
      SELECT event_id, event_id // {_REORG_BLOCK} AS height FROM events
    ), h AS (
      SELECT max(height) AS hmax FROM ids
    ), ev AS (
      SELECT event_id, height,
             CASE WHEN height BETWEEN hmax - 2 AND hmax - 1
                    AND event_id % 2 = 1
                  THEN 'b' ELSE 'a' END AS branch
      FROM ids CROSS JOIN h
    ), blocks AS (
      SELECT height, branch, hmax,
             sha256(branch || ':' || height) AS hash,
             CASE WHEN height = 0 THEN NULL
                  WHEN branch = 'b' AND height = hmax - 2
                    THEN sha256('a:' || (height - 1))
                  WHEN branch = 'b' THEN sha256('b:' || (height - 1))
                  ELSE sha256('a:' || (height - 1)) END AS parent_hash,
             count(*)::BIGINT AS n_events
      FROM ev CROSS JOIN h GROUP BY height, branch, hmax
    )"""


@query(
    "q_evt_chain_reorg",
    oracle=f"""
    WITH RECURSIVE {REORG_BLOCKS_SQL}, walk AS (
      SELECT hash, parent_hash, height FROM blocks
      WHERE height = (SELECT hmax FROM h)
      UNION ALL
      SELECT b.hash, b.parent_hash, b.height
      FROM blocks b JOIN walk w ON b.hash = w.parent_hash
      WHERE w.height > (SELECT hmax FROM h) - {_REORG_DEPTH}
    )
    SELECT b.height, b.hash, b.n_events,
           (b.hash IN (SELECT hash FROM walk)
            OR b.height < b.hmax - {_REORG_DEPTH}) AS canonical,
           CASE WHEN b.hash IN (SELECT hash FROM walk)
                  OR b.height < b.hmax - {_REORG_DEPTH}
                THEN 'keep' ELSE 'rollback' END AS action
    FROM blocks b
    """,
)
def q_evt_chain_reorg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-reorg detection — the reference domain's core correctness
    concern: an on-chain event listener that ingested events from a
    block later orphaned by a reorganization must ROLL THEM BACK, or its
    sink double-counts burns that never finalized. Blocks are
    synthesized from the events fixture (one block per _REORG_BLOCK event_ids,
    sha-named, parent-linked; a 2-deep uncle branch 'b' forks off two
    heights below the tip and absorbs the odd event_ids there). The
    canonical chain is DERIVED from the parent pointers, not the branch
    label: walk parents from the unique max-height tip through the
    _REORG_DEPTH-block confirmation window — the industry-standard bound: below
    tip−depth, blocks are final and a height has exactly one block —
    and every block off the walked path gets action='rollback' with its
    event count (the exact rows the listener must retract).

    100 TB plan: events collapse to the bounded block rollup first
    (one partial+final agg on the height key) and the block table is
    PINNED; the walk is one collect of the confirmation window (at most
    _REORG_DEPTH+1 heights of blocks) walked on the driver, and the
    canonical flag is an ``isin`` over the walked hashes on the tip
    crossJoin (flag_canonical). Event rows never join anything — only
    block-grain rows move.
    """
    e = load_table(spark, sf_dir, "events")
    blocks = reorg_blocks(e)
    out = flag_canonical(blocks)
    return out.select(
        "height",
        "hash",
        "n_events",
        "canonical",
        F.when(F.col("canonical"), "keep").otherwise("rollback").alias("action"),
    )


def reorg_blocks(e: DataFrame) -> DataFrame:
    """Synthesize the parent-linked block table (with a 2-deep uncle
    branch) from an events DataFrame — shared by the batch reorg key and
    the streaming twin's replay builder. Pinned: flag_canonical reads it
    twice (the window collect, then the flagged output)."""
    ids = e.select(
        "event_id", F.expr(f"event_id div {_REORG_BLOCK}").alias("height")
    )
    h = ids.agg(F.max("height").alias("hmax"))
    ev = ids.crossJoin(F.broadcast(h)).select(
        "event_id",
        "height",
        "hmax",
        F.when(
            F.col("height").between(F.col("hmax") - 2, F.col("hmax") - 1)
            & (F.col("event_id") % 2 == 1),
            "b",
        )
        .otherwise("a")
        .alias("branch"),
    )
    return (
        ev.groupBy("height", "branch", "hmax")
        .agg(F.count("*").alias("n_events"))
        .select(
            "height",
            "branch",
            "hmax",
            "n_events",
            F.expr("sha2(concat(branch, ':', CAST(height AS STRING)), 256)").alias(
                "hash"
            ),
            F.when(F.col("height") == 0, F.lit(None).cast("string"))
            .when(
                (F.col("branch") == "b") & (F.col("height") == F.col("hmax") - 2),
                F.expr("sha2(concat('a:', CAST(height - 1 AS STRING)), 256)"),
            )
            .when(
                F.col("branch") == "b",
                F.expr("sha2(concat('b:', CAST(height - 1 AS STRING)), 256)"),
            )
            .otherwise(
                F.expr("sha2(concat('a:', CAST(height - 1 AS STRING)), 256)")
            )
            .alias("parent_hash"),
        )
        .localCheckpoint(eager=False)  # read by the window collect + output
    )


def flag_canonical(blocks: DataFrame) -> DataFrame:
    """Parent-walk from the max-height tip through the confirmation
    window; returns blocks + a ``canonical`` flag. ``blocks`` must carry
    (height, hash, parent_hash, n_events); the tip height is derived
    from the SET PASSED IN, so the same walk serves every micro-batch
    of the streaming twin (where the chain grows batch by batch).

    The window ``height >= tip_h - _REORG_DEPTH`` (at most D+1 heights
    of blocks) is collected in ONE job and walked _REORG_DEPTH steps
    over a ``{hash: parent_hash}`` dict on the driver; the walked hashes
    then flag the rows through ``isin`` on the tip crossJoin.

    Precondition: a block's parent is one height below it (both block
    builders, reorg_blocks and the streaming replay, construct blocks
    that way). Under it, step k of the walk is at height tip_h - k, so
    the walk never leaves the window within _REORG_DEPTH steps, and
    blocks below the window are canonical by the height rule: the
    window walk equals a walk over the whole table."""
    tip_h = blocks.agg(F.max("height").alias("tip_h"))
    b = blocks.crossJoin(F.broadcast(tip_h))
    window = b.filter(
        F.col("height") >= F.col("tip_h") - _REORG_DEPTH
    ).select("hash", "parent_hash", "height", "tip_h").collect()
    parent = {r.hash: r.parent_hash for r in window}
    frontier = {r.hash for r in window if r.height == r.tip_h}
    walked = set(frontier)
    for _ in range(_REORG_DEPTH):
        frontier = {parent[h] for h in frontier} & parent.keys()
        walked |= frontier
    return b.select(
        "height",
        "hash",
        "n_events",
        (
            F.col("hash").isin(sorted(walked))
            | (F.col("height") < F.col("tip_h") - _REORG_DEPTH)
        ).alias("canonical"),
    )


_XCORR_A, _XCORR_B = "click", "purchase"
_XCORR_MAX_LAG = 12  # hours

# Pearson r from the five integer sums — all-integer inputs make every
# Σ exact on both engines; the single float expression is shared text.
# NULLIF guards the zero-variance denominator (a constant series at some
# lag): Spark would emit NaN/Infinity where DuckDB emits NULL — NULLIF
# makes both engines yield a deterministic NULL r for degenerate lags.
_XCORR_R = (
    "(n * sxy - sx * sy)"
    " / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))"
    "          * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)"
)


@query(
    "q_evt_xcorr",
    oracle=f"""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
      FROM bounds
    ), cx AS (
      SELECT date_trunc('hour', ts) AS hr, count(*)::BIGINT AS c
      FROM events WHERE event_type = '{_XCORR_A}' GROUP BY 1
    ), cy AS (
      SELECT date_trunc('hour', ts) AS hr, count(*)::BIGINT AS c
      FROM events WHERE event_type = '{_XCORR_B}' GROUP BY 1
    ), x AS (
      SELECT g.hr, coalesce(cx.c, 0) AS x FROM grid g LEFT JOIN cx USING (hr)
    ), y AS (
      SELECT g.hr, coalesce(cy.c, 0) AS y FROM grid g LEFT JOIN cy USING (hr)
    ), lags AS (
      SELECT unnest(range(-{_XCORR_MAX_LAG}, {_XCORR_MAX_LAG} + 1)) AS lag
    ), sums AS (
      SELECT l.lag,
             count(*)::BIGINT AS n,
             sum(x.x)::BIGINT AS sx, sum(y.y)::BIGINT AS sy,
             sum(x.x * y.y)::BIGINT AS sxy,
             sum(x.x * x.x)::BIGINT AS sxx, sum(y.y * y.y)::BIGINT AS syy
      FROM lags l
      CROSS JOIN x
      JOIN y ON y.hr = x.hr + to_hours(l.lag)
      GROUP BY l.lag
    )
    SELECT lag, n, round({_XCORR_R}, 6) AS r,
           row_number() OVER (ORDER BY round({_XCORR_R}, 6) DESC NULLS LAST,
                              lag) AS rnk
    FROM sums
    """,
)
def q_evt_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between two event-type series: Pearson
    r between the hourly click series and the purchase series shifted by
    each lag in ±12 h — the classic "does activity in A precede B, and
    by how much?" diagnostic (the argmax lag estimates the conversion
    delay at population level, cross-checking q_evt_funnel_latency's
    per-user answer from a completely different estimator).

    Exactness: both series live on a DENSE hourly grid (missing hours
    are true zeros — without densification a sparse join would silently
    compute correlation over co-active hours only, a different and wrong
    statistic); every Σ in Pearson's formula is an exact integer, so the
    only float math is one shared-text expression per lag, rounded to 6.

    100 TB plan: each series is a partial+final count on the hour key;
    the grid is sequence-generated from a 1-row bounds agg; the lag join
    is grid × 25 lags — bounded by CALENDAR size (hours in the corpus
    span), not data size, so every post-rollup op is effectively free
    and the corpus is scanned exactly three times (the full-span
    bounds agg plus one pushed event_type predicate per series).
    """
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hr")
    ).localCheckpoint(eager=False)  # calendar-bounded; feeds both series

    def series(ev_type: str, out: str):
        c = (
            e.filter(F.col("event_type") == ev_type)
            .groupBy(F.date_trunc("hour", "ts").alias("hr"))
            .agg(F.count("*").alias("c"))
        )
        return (
            grid.join(c, "hr", "left")
            .select("hr", F.coalesce("c", F.lit(0)).alias(out))
            .localCheckpoint(eager=False)
        )

    x = series(_XCORR_A, "x")
    y = series(_XCORR_B, "y")
    lags = spark.range(1).select(
        F.explode(
            F.sequence(F.lit(-_XCORR_MAX_LAG), F.lit(_XCORR_MAX_LAG))
        ).alias("lag")
    )
    sums = (
        x.alias("x")
        .crossJoin(F.broadcast(lags))
        .join(
            y.alias("y"),
            F.col("y.hr")
            == F.col("x.hr") + F.make_dt_interval(hours=F.col("lag")),
        )
        .groupBy("lag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    r = F.round(F.expr(_XCORR_R), 6)
    # NULLS LAST explicit on both engines (degenerate zero-variance lags)
    w = Window.orderBy(F.desc_nulls_last(r), "lag")
    return sums.select(
        "lag", "n", r.alias("r"), F.row_number().over(w).alias("rnk")
    )


@query(
    "q_evt_profile_similarity",
    oracle="""
    WITH p AS (
      SELECT user_id, date_part('hour', ts)::BIGINT AS hod,
             count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2
    ), qid AS (
      SELECT min(user_id) AS qu FROM events
    ), qp AS (
      SELECT hod, c AS qc FROM p CROSS JOIN qid WHERE user_id = qu
    ), qn AS (
      SELECT sum(qc * qc)::BIGINT AS qnorm2 FROM qp
    ), dots AS (
      SELECT p.user_id,
             sum(p.c * qp.qc)::BIGINT AS dot,
             sum(p.c * p.c)::BIGINT AS norm2
      FROM p CROSS JOIN qid
      LEFT JOIN qp ON qp.hod = p.hod
      WHERE p.user_id != qu
      GROUP BY p.user_id
    ), scored AS (
      SELECT user_id,
             round(dot / (sqrt(CAST(norm2 AS DOUBLE))
                          * sqrt(CAST(qnorm2 AS DOUBLE))), 6) AS cos_sim
      FROM dots CROSS JOIN qn
    ), top AS (
      SELECT user_id, cos_sim FROM scored
      ORDER BY cos_sim DESC, user_id LIMIT 10
    )
    SELECT user_id, cos_sim,
           row_number() OVER (ORDER BY cos_sim DESC, user_id) AS rnk
    FROM top
    """,
)
def q_evt_profile_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-twin search: the 10 users whose hour-of-day activity
    profile (24-dim count vector) is most cosine-similar to the query
    user's (the smallest user_id — a data-derived anchor, identical on
    both engines). This is similarity search over DERIVED behavioral
    features rather than stored embeddings — cohorting, fraud-twin
    lookup, and audience expansion all reduce to exactly this query.

    Exactness: profiles are integer count vectors, the sparse dot and
    both squared norms are integer sums (missing hours contribute 0 to
    the dot by the LEFT JOIN + sum-ignores-NULL identity, matching the
    dense-vector dot), and the single float expression is shared text.
    (w/ u unique, cos DESC + user_id is a total order for the top-10.)

    100 TB plan: profiles are a (user, hod) partial+final agg — 24 rows
    max per user; the query profile (≤24 rows) and its norm broadcast;
    scoring is one linear pass over the profile table grouped on the
    uniform user key. For all-pairs twin mining at scale, this feeds
    the same LSH/PQ machinery as the embedding family (the profile IS
    an embedding) — the broadcast-query form here is the audited
    exact path, as in q_llm_knn_query.
    """
    e = load_table(spark, sf_dir, "events")
    p = (
        e.groupBy("user_id", F.hour("ts").cast("long").alias("hod"))
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)  # feeds query slice + corpus scoring
    )
    qid = e.agg(F.min("user_id").alias("qu"))
    qp = (
        p.crossJoin(F.broadcast(qid))
        .filter(F.col("user_id") == F.col("qu"))
        .select("hod", F.col("c").alias("qc"))
        .localCheckpoint(eager=False)
    )
    qn = qp.agg(F.sum(F.col("qc") * F.col("qc")).alias("qnorm2"))
    dots = (
        p.crossJoin(F.broadcast(qid))
        .filter(F.col("user_id") != F.col("qu"))
        .join(F.broadcast(qp), "hod", "left")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("c") * F.col("qc")).alias("dot"),
            F.sum(F.col("c") * F.col("c")).alias("norm2"),
        )
    )
    cos = F.round(
        F.col("dot")
        / (
            F.sqrt(F.col("norm2").cast("double"))
            * F.sqrt(F.col("qnorm2").cast("double"))
        ),
        6,
    )
    scored = dots.crossJoin(F.broadcast(qn)).select(
        "user_id", cos.alias("cos_sim")
    )
    top = scored.orderBy(F.desc("cos_sim"), "user_id").limit(10)
    w = Window.orderBy(F.desc("cos_sim"), "user_id")
    return top.withColumn("rnk", F.row_number().over(w))


_GAP_DROP_MOD = 97  # simulated delivery misses: every 97th event_id
_GAP_BLK = 100  # detection block size (block-local windows, no global sort)


@query(
    "q_evt_gap_detection",
    oracle=f"""
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
    SELECT gap_start, gap_end, gap_end - gap_start + 1 AS n_missing,
           row_number() OVER (ORDER BY gap_start) AS rnk
    FROM raw_gaps
    """,
)
def q_evt_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill planning — the listener's cursor-integrity check: which
    id ranges were never ingested? The feed is simulated with every
    97th event_id missing (delivery misses); the expected universe is
    the fixture's [min, max] id range, and the output is the MERGED
    list of missing ranges — exactly what a backfill scheduler turns
    into re-poll requests.

    The Spark side deliberately uses a DIFFERENT algorithm than the
    oracle (algorithm diversity makes the parity check meaningful): the
    oracle is the classic single-window islands-and-gaps over a global
    sort; the Spark plan is scale-clean block-local detection — ids
    bucket into 100-id blocks, lag/lead windows run PER BLOCK (bounded
    partitions, no global sort of the corpus), per-block head/tail gaps
    come from a one-pass block aggregate against the a-priori block
    range, fully-missing blocks surface via a distributed spark.range
    grid anti-pattern-free left join, and only the SPARSE gap
    candidates (data-quality-sized, not corpus-sized) hit the final
    bounded merge window that stitches block-boundary-adjacent ranges.

    100 TB plan: one map-side bucket + per-block window (every
    partition ≤ 100 rows), one block-grain aggregate, one join against
    the id-range grid (corpus_ids/100 rows — 1% of the data, uniform),
    and a merge window over the gap list, whose size tracks MISSING
    data, not data. The 1-row bounds collect is a bounded scalar
    (house-accepted) that sizes the grid.
    """
    e = load_table(spark, sf_dir, "events").select("event_id")
    mn, mx = e.agg(F.min("event_id"), F.max("event_id")).collect()[0]
    ing = e.filter(F.col("event_id") % _GAP_DROP_MOD != 0)
    merged = detect_gaps(spark, ing, mn, mx)
    return merged.select(
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start") + 1).alias("n_missing"),
        F.row_number().over(Window.orderBy("gap_start")).alias("rnk"),
    )


def detect_gaps(spark: SparkSession, ing: DataFrame, mn: int, mx: int) -> DataFrame:
    """Block-local islands-and-gaps over an ``event_id`` column against
    the expected universe [mn, mx]; returns MERGED missing ranges
    (gap_start, gap_end). Shared by the batch planner above and the
    streaming backfill monitor (each micro-batch re-detects over all
    ids seen so far)."""
    # FLOOR division (not Spark's truncating `div`): must agree with the
    # Python `//` that sizes the grid below, or negative-id feeds would
    # bucket rows into a different block than the grid expects. Kept in
    # exact INTEGER arithmetic — F.floor(col / B) goes through double
    # division, which mis-buckets |event_id| >= 2^53. Truncating `div`
    # plus an explicit -1 correction for negative non-multiples equals
    # floor at EVERY long value: no term here can overflow — unlike the
    # earlier `(event_id - pmod(...)) div B` form, whose subtraction
    # overflowed for event_id within one block of Long.MIN_VALUE
    # (ADVICE r6).
    blk = ing.withColumn(
        "b",
        F.expr(
            f"event_id div {_GAP_BLK} - "
            f"(case when event_id % {_GAP_BLK} < 0 then 1 else 0 end)"
        ).cast("long"),
    )
    w_blk = Window.partitionBy("b").orderBy("event_id")
    # try_add: `event_id + 1` in the filter would ANSI-throw for
    # event_id = Long.MAX_VALUE even though its lead is NULL (the operands
    # of `>` evaluate first). try_add -> NULL -> comparison NULL -> row
    # filtered, which is also semantically right (nothing follows MAX).
    # The post-filter projections only see rows where the +1 was exact.
    intra = (
        blk.withColumn("nx", F.lead("event_id").over(w_blk))
        .filter(F.col("nx") > F.expr("try_add(event_id, 1L)"))
        .select(
            (F.col("event_id") + 1).alias("gap_start"),
            (F.col("nx") - 1).alias("gap_end"),
        )
    )
    blkagg = blk.groupBy("b").agg(
        F.min("event_id").alias("bmin"), F.max("event_id").alias("bmax")
    )
    # Grid bounds in exact DECIMAL, not long: for the outermost blocks the
    # raw `b*B` / `b*B + B-1` can leave the long range even when the
    # CLAMPED bound is in range (e.g. mn = Long.MIN: b_min*B underflows
    # long while b_min*B + B-1 = mn+7 is a perfectly good long), so no
    # try_*-then-clamp trick is sound. Decimal math is exact here
    # (|b*B| < 10^19 << 10^23 capacity) and the clamped result is always
    # in [mn, mx], so the cast back to long is ANSI-safe. Cost: decimal
    # arithmetic on the GRID only (corpus_ids/B rows), never the corpus
    # (ADVICE r6).
    grid = spark.range(mn // _GAP_BLK, mx // _GAP_BLK + 1).select(
        F.col("id").alias("b"),
        F.expr(
            f"cast(greatest(cast(id as decimal(20,0)) * {_GAP_BLK}, "
            f"cast({mn} as decimal(20,0))) as long)"
        ).alias("bs"),
        F.expr(
            f"cast(least(cast(id as decimal(20,0)) * {_GAP_BLK} "
            f"+ {_GAP_BLK - 1}, cast({mx} as decimal(20,0))) as long)"
        ).alias("be"),
    )
    edges = grid.join(blkagg, "b", "left")
    head = edges.filter(
        F.col("bmin").isNull() | (F.col("bmin") > F.col("bs"))
    ).select(
        F.col("bs").alias("gap_start"),
        (F.coalesce(F.col("bmin") - 1, F.col("be"))).alias("gap_end"),
    )
    tail = edges.filter(
        F.col("bmin").isNotNull() & (F.col("bmax") < F.col("be"))
    ).select(
        (F.col("bmax") + 1).alias("gap_start"), F.col("be").alias("gap_end")
    )
    raw = intra.unionAll(head).unionAll(tail)
    # merge block-boundary-adjacent ranges: a bounded window over the
    # SPARSE gap list only (never the corpus)
    w_m = Window.orderBy("gap_start")
    return (
        raw.withColumn("prev_end", F.lag("gap_end").over(w_m))
        .withColumn(
            "new_grp",
            F.when(
                F.col("prev_end").isNull()
                | (F.col("gap_start") > F.col("prev_end") + 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "grp",
            F.sum("new_grp").over(
                w_m.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("grp")
        .agg(
            F.min("gap_start").alias("gap_start"),
            F.max("gap_end").alias("gap_end"),
        )
    )


@query(
    "q_evt_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS d FROM events
    ), grp AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS g
      FROM days
    ), streaks AS (
      SELECT user_id, min(d) AS streak_start,
             count(*)::BIGINT AS streak_len
      FROM grp GROUP BY user_id, g
    ), best AS (
      SELECT user_id, streak_start, streak_len,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY streak_len DESC, streak_start)
               AS rn
      FROM streaks
    )
    SELECT b.user_id, n.n_active_days, b.streak_len AS longest_streak,
           b.streak_start
    FROM best b
    JOIN (SELECT user_id, count(*)::BIGINT AS n_active_days
          FROM days GROUP BY user_id) n USING (user_id)
    WHERE b.rn = 1
    """,
)
def q_evt_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity streaks: the longest run of CONSECUTIVE active
    days (and when it started), next to the total active-day count —
    the engagement metric behind every 'N-day streak' product feature,
    and the per-user form of gaps-and-islands (q_evt_gap_detection is
    the corpus-global form over ids). The classic date-minus-row_number
    constant-group trick: within a user, consecutive days share
    (day - rank), so one window plus one groupBy finds every streak.

    100 TB plan: the distinct (user, day) set collapses the corpus
    first (partial+final agg — at most span-days rows per user); every
    window after that partitions on user_id with bounded partitions
    (≤ calendar days each), the same key the sessionize family already
    shuffles on. Ties (two equal-length streaks) break on earliest
    start — deterministic.
    """
    e = load_table(spark, sf_dir, "events")
    days = (
        e.select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds the streak and count branches
    )
    grp = days.withColumn(
        "g", F.expr("d - CAST(row_number() OVER "
                    "(PARTITION BY user_id ORDER BY d) AS INT)")
    )
    streaks = grp.groupBy("user_id", "g").agg(
        F.min("d").alias("streak_start"), F.count("*").alias("streak_len")
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.desc("streak_len"), "streak_start"
    )
    best = (
        streaks.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
    )
    counts = days.groupBy("user_id").agg(
        F.count("*").alias("n_active_days")
    )
    return best.join(counts, "user_id").select(
        "user_id",
        "n_active_days",
        F.col("streak_len").alias("longest_streak"),
        "streak_start",
    )


_MAD_SCALE = 1.4826  # normal-consistency constant
_MAD_CUT = 3.5  # Iglewicz-Hoaglin modified z-score cutoff


@query(
    "q_evt_anomaly_mad",
    oracle=f"""
    WITH med AS (
      SELECT event_type AS et,
             quantile_cont(value, 0.5) AS med_v
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT et, med_v, quantile_cont(abs(value - med_v), 0.5) AS mad_v
      FROM events e JOIN med ON e.event_type = med.et
      GROUP BY et, med_v
    )
    SELECT event_id, e.event_type, round(value, 6) AS value,
           round((value - med_v) / ({_MAD_SCALE} * NULLIF(mad_v, 0)), 6)
             AS mod_z
    FROM events e JOIN mad ON e.event_type = mad.et
    WHERE abs(value - med_v) / ({_MAD_SCALE} * NULLIF(mad_v, 0)) > {_MAD_CUT}
    """,
)
def q_evt_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: the MAD (median absolute deviation)
    modified z-score — the estimator q_evt_anomaly's mean/stddev gate
    becomes once outliers are heavy enough to poison the very
    statistics meant to catch them (one 10^6x spike inflates stddev
    until nothing else flags; the median and MAD have 50% breakdown
    points and don't move). Flags |modified z| > 3.5 per event_type,
    the standard Iglewicz-Hoaglin cutoff.

    Exactness: both medians use the same interpolated-quantile
    definition on both engines (Spark percentile = DuckDB
    quantile_cont, the pairing q_agg_percentile established); the
    scoring is per-row float arithmetic against the broadcast 1-row-per
    -type statistics, rounded to 6.

    100 TB plan: two passes (median, then MAD about it) of
    partial+final per-type aggregates with the tiny stats table
    broadcast back — the second pass is the price of exactness; at
    petabyte scale swap quantile_cont for approx_percentile and both
    passes stay, just sketched. The filter runs scan-side against
    broadcast constants.
    """
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy(F.col("event_type").alias("et")).agg(
        F.percentile("value", 0.5).alias("med_v")
    )
    mad = (
        e.join(F.broadcast(med), e["event_type"] == F.col("et"))
        .groupBy("et", "med_v")
        .agg(F.percentile(F.abs(F.col("value") - F.col("med_v")), 0.5).alias("mad_v"))
        .localCheckpoint(eager=False)  # feeds the score and the filter
    )
    # NULL on mad_v == 0 (a MAD collapse on heavily-tied data): the
    # oracle encodes the SAME guard via NULLIF(mad_v, 0), so parity no
    # longer depends on any engine's float-division-by-zero default
    # (DuckDB 1.0 yields NULL, newer builds IEEE inf; Spark's ANSI mode
    # would THROW) — both sides now deterministically drop those rows
    mod_z = F.when(
        F.col("mad_v") != 0,
        (F.col("value") - F.col("med_v")) / (_MAD_SCALE * F.col("mad_v")),
    )
    return (
        e.join(F.broadcast(mad), e["event_type"] == F.col("et"))
        .filter(F.abs(mod_z) > _MAD_CUT)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(mod_z, 6).alias("mod_z"),
        )
    )


@query(
    "q_evt_cumulative_uniques",
    oracle="""
    WITH first_day AS (
      SELECT user_id, date_trunc('day', min(ts))::DATE AS d0 FROM events
      GROUP BY user_id
    ), bounds AS (
      SELECT date_trunc('day', min(ts))::DATE AS mn,
             date_trunc('day', max(ts))::DATE AS mx
      FROM events
    ), grid AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ), new_u AS (
      SELECT d0 AS day, count(*)::BIGINT AS new_users FROM first_day
      GROUP BY d0
    )
    SELECT g.day, coalesce(n.new_users, 0) AS new_users,
           CAST(sum(coalesce(n.new_users, 0))
                OVER (ORDER BY g.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users,
           row_number() OVER (ORDER BY g.day) AS rnk
    FROM grid g LEFT JOIN new_u n ON n.day = g.day
    """,
)
def q_evt_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative unique users per day — THE scale-trap query done
    right. The naive plan (count DISTINCT user over an expanding
    day-window) re-scans and re-dedups the whole history per day:
    O(days x corpus). The first-seen trick makes it linear: a user
    contributes to cumulative uniqueness exactly once, on their first
    active day — so aggregate min(ts) per user, count per day, and a
    cumulative sum over the dense calendar grid reproduces every
    expanding-window distinct count with ONE corpus pass. Zero-new-user
    days stay on the curve (dense grid), which growth accounting needs.

    Exactness: everything is integer counts over exact date keys.

    100 TB plan: one partial+final per-user agg (the only corpus
    shuffle), a day-grain rollup, and a cumulative window over the
    calendar-bounded grid. The naive form at the same scale is
    days x that — this key IS the documentation of why first-seen
    beats expanding-window DISTINCT.
    """
    e = load_table(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("d0")
    )
    bounds = e.agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("mn"),
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("mx"),
    )
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx")).alias("day")
    ).localCheckpoint(eager=False)
    new_u = first_day.groupBy(F.col("d0").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.join(new_u, "day", "left")
        .select("day", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        .select(
            "day",
            "new_users",
            F.sum("new_users").over(w_cum).cast("long").alias("cum_users"),
            F.row_number().over(Window.orderBy("day")).alias("rnk"),
        )
    )
