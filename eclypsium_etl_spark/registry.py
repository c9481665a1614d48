"""Query + oracle registry.

Every operator from SURVEY.md §2 registers itself here via the ``@query``
decorator: a name, a ``(spark, sf_dir) -> DataFrame`` callable, and
(usually) the equivalent ANSI SQL that DuckDB runs on the same parquet for
differential testing. ``__spark_entry__.py`` and the test suite both read
from this single registry, so a query is "done" exactly when it is
registered and parity-green.

Float-parity discipline (SURVEY.md §5.2) lives next to the queries that
need it; the one global trick worth naming: sums of doubles are computed
as ``SUM(CAST(x AS DECIMAL(28,4)))`` cast back to double on BOTH engines —
decimal addition is exact and order-independent, so the result is
bit-identical regardless of partitioning/summation order. Corollary
(q282, found by the sf0.1 cross-scale walk): a ``round()`` whose input
can be a tiny negative may print IEEE −0.0 on one engine and 0.0 on the
other — normalize with ``+ 0.0`` on BOTH sides when zero is reachable
from below.

Result-schema discipline: oracled queries return ONLY scalar top-level
columns (arrays/maps/structs serialize in-plan via array_join/to_json,
mirrored in the oracle) — enforced by
tests/test_oracle_lint.py::test_oracled_results_are_driver_hashable.
"""

from __future__ import annotations

import textwrap
from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

_MODULES = [
    "eclypsium_etl_spark.operators.sources",
    "eclypsium_etl_spark.operators.projections",
    "eclypsium_etl_spark.operators.joins",
    "eclypsium_etl_spark.operators.aggregates",
    "eclypsium_etl_spark.operators.windows",
    "eclypsium_etl_spark.operators.sorts",
    "eclypsium_etl_spark.operators.setops",
    "eclypsium_etl_spark.operators.scalar",
    "eclypsium_etl_spark.operators.udfs",
    "eclypsium_etl_spark.operators.advanced",
    "eclypsium_etl_spark.operators.timeseries",
    "eclypsium_etl_spark.operators.breadth",
    "eclypsium_etl_spark.operators.incremental",
    "eclypsium_etl_spark.operators.expressions",
    "eclypsium_etl_spark.operators.statistics",
    "eclypsium_etl_spark.pipeline",
    "eclypsium_etl_spark.streaming.queries",
    "eclypsium_etl_spark.streaming.advanced_queries",
    "eclypsium_etl_spark.llm.dedup",
    "eclypsium_etl_spark.llm.prep",
    "eclypsium_etl_spark.llm.clustering",
    "eclypsium_etl_spark.llm.similarity",
    "eclypsium_etl_spark.llm.text",
    "eclypsium_etl_spark.llm.multimodal",
]

_loaded = False


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and optionally its DuckDB oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = textwrap.dedent(oracle).strip()
        return fn

    return deco


def load_all() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Import every operator module (idempotent) and return the registry.

    Both dicts iterate in registration order: a module's queries register
    when it is first imported, whoever imports it."""
    global _loaded
    if not _loaded:
        for mod in _MODULES:
            import_module(mod)
        _loaded = True
    return QUERIES, ORACLE
