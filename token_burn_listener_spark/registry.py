"""Query + oracle registry.

Every operator in SURVEY.md §2.B registers here via the ``@query`` decorator,
colocating the PySpark implementation with its DuckDB oracle SQL. The driver
contract (__spark_entry__.py) reads ``QUERIES`` / ``ORACLES`` verbatim.

Oracle-alignment rules applied throughout (SURVEY.md §5.3):
- every computed column aliased identically in Spark and SQL;
- float outputs rounded (in-query, both sides) to a stated precision;
- no nondeterminism: unique total orders for limits, sort_array around
  collect_list, seeds on hashing ops;
- sortedness materialized as a rank column (the driver hash is
  order-insensitive);
- types chosen to map 1:1 across engines (Long/Double/String/Timestamp).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``key`` with an optional DuckDB oracle.

    ``oracle=None`` means the driver records the weaker rows-only check —
    reserved for ops whose output is engine-specific (hashes, approx
    sketches, LSH) per SURVEY.md §2.B.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle
        return fn

    return deco


# Operator modules in contract order: the listener source, the listener, the
# streaming queries and the event analytics first, then the batch operators
# and the LLM-prep surface. ``queries()`` groups keys by this order and keeps
# source order within a module, so the order follows from the code alone.
_MODULES: tuple[str, ...] = tuple(
    f"token_burn_listener_spark.{name}"
    for name in (
        "sources.feed",
        "listener",
        "streaming.queries",
        "operators.events",
        "operators.scans",
        "operators.projections",
        "operators.joins",
        "operators.aggregations",
        "operators.windows",
        "operators.sorts",
        "operators.setops",
        "operators.subqueries",
        "operators.tpch",
        "operators.storage",
        "operators.cdc",
        "functions.scalar",
        "llm.dedup",
        "llm.similarity",
        "llm.text",
        "llm.multimodal",
        "llm.udfs",
        "llm.pipeline",
        "llm.prep",
    )
)


def load_all_modules() -> None:
    """Import every operator module so registrations run (idempotent)."""
    for name in _MODULES:
        importlib.import_module(name)

