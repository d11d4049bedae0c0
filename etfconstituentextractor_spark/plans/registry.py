"""Named-query registry: the driver-facing catalog.

Every implemented operator from SURVEY.md §2 lands here as a named
query (``@query("name", oracle="SELECT ...")``). ``__spark_entry__.py``
exposes the registry to the verify driver, which runs each Spark query
against its DuckDB oracle (row count + schema + order-insensitive value
hash). Queries whose semantics SQL cannot express (streaming state,
approximate sketches, UDTF document parsing) register with
``oracle=None`` → rows-only check.

Keeping the query and its oracle adjacent in source is the point: the
pair is a single operator's specification.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: Plan modules whose @query decorators make up the catalog, in
#: registration order.
PLAN_MODULES = (
    "relational",
    "joins",
    "aggregates",
    "windows",
    "llm_text",
    "llm_sampling",
    "llm_refresh",
    "llm_dedup",
    "llm_similarity",
    "udf_surface",
    "multimodal",
    "streaming_queries",
    "document_pipeline",
    "pipeline_query",
)


def load_catalog() -> None:
    """Import every plan module so its @query decorators run."""
    import importlib

    for mod in PLAN_MODULES:
        importlib.import_module(f"etfconstituentextractor_spark.plans.{mod}")
