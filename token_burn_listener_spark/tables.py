"""Table loading: name -> DataFrame, with fixture normalizations applied.

The ten driver fixtures (TESTDATA.md) are plain parquet files. Two
normalizations happen here so every operator downstream sees clean types:

- ``events.ts`` is parquet timestamp[ns]; under the nanosAsLong conf it reads
  as LongType nanoseconds. We convert with INTEGER division to microseconds
  (``ts div 1000`` — float division corrupts low-order digits, ns epochs
  exceed double's 2^53 integer range; SURVEY.md §7.5#2). DuckDB reads the
  same column µs-truncated, so converted values match the oracle exactly.

Each file's schema is inferred once per file version. A plain
``spark.read.parquet`` launches a schema-inference job on every call, even
for one file; ``load_table`` keeps the ``StructType`` Spark inferred on the
first read, keyed by the file's ``(abspath, st_ino, st_size, st_mtime_ns)``,
and passes it to later reads. Spark still lists the file on every read, so
only the schema is reused, and a rewritten file gets a new key. Paths must
be local (``os.stat``); the directory readers that grow between reads
(``operators/storage.py``, ``streaming/*``) call ``spark.read.parquet``
themselves.

Scale note: at 100 TB these would be partitioned datasets (events by date),
and this loader is where partition-pruning-friendly layout assumptions live;
for the fixtures each table is a single file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from token_burn_listener_spark.session import configure

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# (abspath, st_ino, st_size, st_mtime_ns) -> schema Spark inferred for it
_SCHEMAS: dict[tuple[str, int, int, int], StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema once per file
    version (module docstring)."""
    path = os.path.abspath(path)
    st = os.stat(path)
    key = (path, st.st_ino, st.st_size, st.st_mtime_ns)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with normalizations applied."""
    configure(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Fixture timestamps are naive (no isAdjustedToUTC); if the session
    # could not apply inferTimestampNTZ=false (static conf in some
    # deployments), normalize here: under session TZ UTC the NTZ->LTZ cast
    # is value-preserving and matches DuckDB's naive-as-TIMESTAMP read.
    for cname, ctype in df.dtypes:
        if ctype == "timestamp_ntz":
            df = df.withColumn(cname, F.col(cname).cast("timestamp"))
    return df


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin a sub-core-count input up to ``defaultParallelism``
    (r14, guide §2.5 'input skew': one small/unsplittable file leaves
    every other core idle for the heavy per-row work downstream — the
    documents fixture is ONE parquet file under the 4 MB openCost floor,
    so its scan is a single partition and every explode/kernel stage
    built on it ran serial; q_llm_decontaminate's 0.95 core-scaling
    ratio in PERF_r13 was exactly this).

    SCALE-ADAPTIVE, not a local[32] constant: the repartition fires only
    when the scan has FEWER partitions than cores, so on a real
    deployment (any table with more splits than cores) it is a no-op and
    never adds a shuffle; and what it shuffles when it does fire is by
    definition smaller than one scan partition per core. Round-robin
    (keyless) because the downstream work is per-row; Spark's
    sort-before-repartition keeps the assignment deterministic under
    task retry (SPARK-38388 / guide §2.5).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def register_views(spark: SparkSession, sf_dir: str, names=TABLE_NAMES) -> None:
    """Register fixture tables as temp views (for spark.sql entry points)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
