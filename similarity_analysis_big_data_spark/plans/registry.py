"""Query registry: the engine's public query surface.

Every operator implemented from SURVEY.md §2 registers here as a named
query — a ``(spark, sf_dir) -> DataFrame`` callable plus (when the
semantics are ANSI-SQL-expressible) a DuckDB oracle SQL string the driver
hash-compares against at sf0.01. Queries whose semantics cannot be stated
in portable SQL (streaming state, approximate sketches) register with
``oracle=None`` and get a rows-only check.

Column-name parity note: the driver's comparator sorts columns by name
before hashing, so every computed column is aliased identically on the
Spark side and in the oracle SQL. Double-typed outputs are rounded on BOTH
sides so cross-engine float summation order cannot flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL over the pre-registered views
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


def query_map() -> dict[str, QueryFn]:
    """The ``queries()`` payload for ``__spark_entry__``."""
    _load_all()
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql_map() -> dict[str, str]:
    """The ``oracle_sql()`` payload for ``__spark_entry__``."""
    _load_all()
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import every plans module so registration side effects run."""
    global _LOADED
    if _LOADED:
        return
    from . import (  # noqa: F401
        analytics,
        ann,
        clustering,
        curation,
        datapipe,
        dedup,
        graph,
        layout,
        lm,
        multimodal,
        pii,
        relational,
        sampling,
        similarity,
        stats,
        subqueries,
        textstats,
        tpch_analogs,
        udaf_queries,
    )

    _LOADED = True
