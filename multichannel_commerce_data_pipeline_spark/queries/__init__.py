"""Query registry: every operator from SURVEY.md §2 (plus the
training-data extensions) bound to the driver's synthetic tables, with a
DuckDB-oracle SQL string for correctness checking.

Each registered query is a callable ``(spark, sf_dir) -> DataFrame`` and
(when SQL-expressible) an ANSI-SQL equivalent. Column names are aliased
identically on both sides — the driver's compare sorts columns by name
before hashing values.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None for non-SQL-expressible ops
    doc: str


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a query + its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


FLAGSHIP = "exec_daily_kpi"


def _import_all() -> None:
    """Import all query modules (side-effect: they register)."""
    from multichannel_commerce_data_pipeline_spark.queries import (  # noqa: F401
        aggregates,
        asof_queries,
        core,
        curation,
        dedup,
        flagship,
        importance,
        joins,
        multimodal_queries,
        pandas_surface,
        pipeline_queries,
        scalar_functions,
        sets,
        similarity,
        sql_surface,
        text,
        time_windows,
        training_prep,
        warehouse_queries,
        windows,
    )


def load_registry() -> dict[str, Query]:
    """Import all query modules (side-effect: they register) and return
    the registry in the order __spark_entry__ exposes it: the flagship
    (the paper's exec_daily_kpi view) first, then every other query in
    registration order. Reads no file."""
    _import_all()
    return {FLAGSHIP: REGISTRY[FLAGSHIP], **REGISTRY}
