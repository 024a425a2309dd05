"""Declared-query registry — the SURVEY.md §2 normative contract.

Each t2 query registers a (spark, sf_dir)->DataFrame builder plus its
DuckDB oracle SQL. ``__spark_entry__`` exposes the registry to the
driver; ``tools/check_queries.py`` runs the same comparison locally.
"""

from __future__ import annotations

import atexit
from collections.abc import Callable
from dataclasses import dataclass
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

from snapflow_spark.scope import Scope

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None => rows-only check (non-SQL-expressible)
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}

#: each session's last registry query's scope, open until the next one
_QUERY_SCOPES: WeakKeyDictionary[SparkSession, Scope] = WeakKeyDictionary()


@atexit.register
def _remove_query_dirs() -> None:
    # dirs only: the JVM may already be gone, so nothing is unpersisted
    for scope in list(_QUERY_SCOPES.values()):
        scope.remove_dirs()


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        from snapflow_spark.session import tune

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            if spark in _QUERY_SCOPES:
                _QUERY_SCOPES[spark].release()
            with Scope() as _QUERY_SCOPES[spark]:
                return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = QuerySpec(name, wrapped, oracle, fn.__doc__ or "")
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    import snapflow_spark.queries  # noqa: F401  (populates QUERIES)

    return {name: spec.fn for name, spec in QUERIES.items()}


def all_oracles() -> dict[str, str]:
    import snapflow_spark.queries  # noqa: F401

    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle}
