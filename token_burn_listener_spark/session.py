"""SparkSession construction and runtime configuration.

Two entry modes:

- The driver hands us an already-running session (``__spark_entry__.entry`` /
  ``queries()`` callables). We cannot rebuild it, so every conf we need MUST
  be settable at runtime — ``configure(spark)`` applies them via
  ``spark.conf.set`` (verified to work on a live session, SURVEY.md §7.5#1).
- Tests and tools build their own session via ``get_spark()``.

Scale notes (100 TB): AQE stays on so skewed shuffles re-plan at runtime;
shuffle partitions are sized for the local fixtures here (``RUNTIME_CONFS``)
but are a deploy-time setting (at 100 TB you want O(data/128MB) partitions
or simply AQE's coalescing from a high initial count).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and verified working) to set on a live session.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet carries timestamp[ns]; Spark 4.1 refuses INT64
    # TIMESTAMP(NANOS) without this (SURVEY.md §7.5#1). The column then
    # reads as LongType nanos-since-epoch; tables.load_table converts.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The r4-regenerated fixtures write timestamp[us] WITHOUT the
    # isAdjustedToUTC flag; Spark 4 would infer TIMESTAMP_NTZ, which breaks
    # unix_micros()/window() and diverges from DuckDB's naive-as-TIMESTAMP
    # read. Read them as TIMESTAMP_LTZ (session TZ is UTC, so wall-clock
    # values are identical). tables.load_table also casts any NTZ column
    # for sessions where this conf cannot be applied.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Deterministic timestamp rendering regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, switch SMJ->broadcast when runtime stats allow.
    "spark.sql.adaptive.enabled": "true",
    # Local-fixture sizing (the driver's vanilla session defaults to 200):
    # fewer, fuller partitions; AQE re-coalesces. Streaming state stores are
    # keyed per shuffle partition, so this also bounds per-query state files.
    # At 100 TB this is a deploy-time knob: O(input/128MB) initial partitions.
    "spark.sql.shuffle.partitions": "32",
    # Streaming metadata logs (offset WAL, commit log, state-store files)
    # go through Hadoop's FileSystem API instead of the FileContext default.
    # The Hadoop bundled with this Spark has no native library, so every
    # local file it creates is followed by a spawned `chmod`, and the
    # FileContext rename also spawns `readlink`. Per 120-byte log entry on
    # a 4-core box (createAtomic + write + close, median of 40): FileContext
    # 10 spawns (2 chmod for the file and its .crc, 8 readlink), 47 ms;
    # FileSystem 2 spawns (the chmods), 13 ms. A micro-batch writes two
    # entries: traced, ~100 ms of a ~0.35 s batch, now ~26 ms. Raw local
    # filesystems under FileContext keep 5 spawns (26 ms) and drop the .crc
    # files.
    # Integrity is kept and, on read, stronger: an entry is still a temp
    # file renamed into place with a .crc beside it, and ChecksumFileSystem
    # verifies that .crc on read, where this Hadoop's FileContext LocalFs
    # read a truncated or bit-flipped entry back without error. The
    # no-overwrite rename is an exists check then a rename (FileContext:
    # rename(NONE)), so the contract is one listener process per checkpoint;
    # inside one JVM Spark stops the older run when a second one starts on
    # the same checkpoint.
    # Set on the session, not the query: HDFSMetadataLog builds its file
    # manager from sessionState.newHadoopConf(), which copies every SQL conf.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


# The directory holding this package, for the Python workers' path.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent), and put
    this package on the Python workers' path once per SparkContext.

    Data sources and Arrow kernels defined at module level are pickled by
    module name, so every Python worker must import
    ``token_burn_listener_spark``, also when the driver runs outside the
    repository root. Each Python function carries the context's
    ``environment`` to its worker when it is wrapped, so the package's
    parent directory goes on that ``PYTHONPATH``: it reaches executor
    workers, the driver-side data source planners and the streaming
    source runner alike (``SparkContext.addFile`` misses the last, which
    reads a fixed ``streaming_job`` subdirectory of the SparkFiles root).
    A later call finds the entry in a Python dict: no JVM round trip.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf may be marked static in some deployments; the session
            # owner is then responsible for it. Never fail the query path.
            pass
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_ROOT, *paths])
    return spark


def get_spark(
    app_name: str = "token-burn-listener-spark",
    cpus: str | int | None = None,
) -> SparkSession:
    """Build (or fetch) a local session sized for this machine.

    ``SPARK_GRAFT_CPUS`` (driver contract) controls local parallelism.
    Shuffle partitions and AQE come from ``RUNTIME_CONFS``, which
    ``tables.load_table`` re-applies on every read.

    Spark's cache of Janino-compiled classes holds
    ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default. The
    nine ``batch_mix`` keys alone need 172 (generated classes average
    2,345 bytes of bytecode, p95 7.7 KB), so at 100 the cache evicts in a
    cycle, no lookup hits, and every pass recompiles ~157 classes (~8-11
    ms each, then interpreted until the JIT catches up). The conf is
    static, so it is set here and not in ``RUNTIME_CONFS``. Its value is
    read once, in ``CodeGenerator``'s static initializer, from the conf
    of whichever thread touches the code generator first, and a thread
    with no active session reads Spark's defaults: a Python thread other
    than the builder that calls ``df.rdd`` (``tables.spread_small_scan``
    does) plans and compiles outside Spark's active-session scope. So
    the code generator is touched right here, from the thread that built
    the session. The driver's vanilla session (``__spark_entry__``)
    keeps Spark's default of 100 unless its owner sets the conf at
    launch.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Arrow for pandas UDF / toPandas hops (B11 operators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    codegen.CodeGenerator.MAX_JVM_METHOD_PARAMS_LENGTH()
    return configure(spark)
