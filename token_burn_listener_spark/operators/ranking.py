"""Scale-safe global ranking (the fix for VERDICT.md r1's 5 weak queries).

A bare ``Window.orderBy(...)`` with no partitionBy forces the ENTIRE input
through one task's sort — correct at fixture scale, fatal at 100 TB. The
scale-safe equivalent of a global row_number is:

1. ``repartitionByRange`` on the sort key (sampled range boundaries — the
   same machinery a global orderBy uses, parallel by construction);
2. per-partition ``row_number`` (Window partitioned by the physical
   partition id — no single-task sort anywhere);
3. a broadcast of per-partition row counts, prefix-summed into offsets
   (#partitions rows — trivially small), added to the local rank.

The composition is exact when the ordering is TOTAL (callers always include
a unique tiebreaker — SURVEY.md §5.3#3), because range partitions are
disjoint under a total order. ntile/percent_rank/cume_dist derive from the
global rank plus the total count (crossJoin of a broadcast 1-row aggregate,
never a driver-side collect).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Range partitions of every global rank (session.RUNTIME_CONFS sets the
# same 32 for spark.sql.shuffle.partitions).
_RANK_PARTITIONS = 32


def global_row_number(df: DataFrame, order: list[Column], out_col: str) -> DataFrame:
    """Exact global row_number over a total order, without a global window.

    ``order`` MUST be a total order (include a unique key): equal keys
    split across range-partition boundaries would otherwise make
    offset+local-rank ambiguous.
    """
    ranged = df.repartitionByRange(_RANK_PARTITIONS, *order)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    local = with_pid.withColumn(
        "_lrank", F.row_number().over(Window.partitionBy("_pid").orderBy(*order))
    )
    # Materialized because BOTH consumers below (the ranked rows and the
    # counts→offsets branch) read this plan: without a materialization
    # point, each branch would plant its own repartitionByRange exchange,
    # and two independent range SAMPLINGS can place boundary rows in
    # different partitions — silently duplicating or skipping global ranks
    # whenever Catalyst's canonical-plan exchange reuse doesn't kick in
    # (it breaks as soon as a caller projects columns beyond the order
    # keys). localCheckpoint (not .persist()) pins one exchange WITHOUT
    # registering a session-lifetime CacheManager entry — r3 ADVICE: the
    # old persist() was never unpersisted, so every caller leaked a cached
    # plan for the session's lifetime. Checkpoint blocks are freed by the
    # ContextCleaner once the DataFrame is garbage-collected. Cost at
    # scale: one extra materialization of the ranked input — the price of
    # a correct distributed global rank.
    local = local.localCheckpoint(eager=False)
    counts = local.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    prefix = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(prefix), F.lit(0)).alias("_offset"),
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_offset") + F.col("_lrank")).cast("int"))
        .drop("_pid", "_lrank", "_offset")
    )


def with_total_count(df: DataFrame, out_col: str = "_n") -> DataFrame:
    """Attach the total row count as a column via a broadcast 1-row agg."""
    n = df.agg(F.count("*").alias(out_col))
    return df.crossJoin(F.broadcast(n))


def ntile_from_rank(rank: Column, n: Column, k: int) -> Column:
    """SQL NTILE(k) from a 1-based global rank and total count.

    First ``n % k`` buckets get ``n/k + 1`` rows, the rest ``n/k`` —
    exactly the standard NTILE distribution.
    """
    q = F.floor(n / k).cast("long")
    m = n % k
    big = m * (q + 1)  # rows living in the oversized buckets
    # greatest(q, 1): q=0 only when n<k, where the when-branch always wins,
    # but ANSI mode would still evaluate the division eagerly per row.
    return (
        F.when(rank <= big, F.ceil(rank / (q + 1)))
        .otherwise(m + F.ceil((rank - big) / F.greatest(q, F.lit(1))))
        .cast("int")
    )
