"""Driver contract for the spark-graft builder (PySpark target).

Wired to token_burn_listener_spark: a PySpark-native engine with the
capabilities of aeternity/token-burn-listener (see SURVEY.md; the reference
checkout is empty — §0 — so parity is against the driver contract and the
reconstructed public behavior).

- ``entry(spark)``     — flagship TPC-H-Q1-shaped pricing summary at sf0.001.
- ``queries()``        — every implemented operator (SURVEY.md §2.B keys).
- ``oracle_sql()``     — DuckDB-runnable oracle per key (omitted only for
                         engine-specific outputs: hashes, approx sketches,
                         LSH, binary ingestion — the `rows`-marked keys).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from token_burn_listener_spark.registry import (
    _MODULES,
    ORACLES,
    QUERIES,
    load_all_modules,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    load_all_modules()
    return QUERIES["q_agg_groupby"](spark, "/root/testdata/sf0.001")


def _keys() -> list[str]:
    """Every registered key, grouped by ``registry._MODULES`` order. The
    sort is stable, so keys of one module stay in source order."""
    load_all_modules()
    return sorted(QUERIES, key=lambda k: _MODULES.index(QUERIES[k].__module__))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered by module: the listener source, streaming and event keys come
    first (``registry._MODULES``), each module's keys in source order.
    """
    return {k: QUERIES[k] for k in _keys()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per key (same column aliases as the Spark query),
    in ``queries()`` order."""
    return {k: ORACLES[k] for k in _keys() if k in ORACLES}
