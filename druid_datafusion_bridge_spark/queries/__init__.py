"""Query registry: name -> (PySpark callable, DuckDB oracle SQL).

Every operator from SURVEY.md §2 registers here via the ``@query``
decorator. ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin
re-exports of these dicts. Policy: every query carries an oracle that
matches the DuckDB result EXACTLY (bit-identical values) — enforced by
tests/test_oracle.py; every registered query is exactly oracled
(approximate operators are oracled via their exactness contract, e.g.
a recall bound or an rsd flag, not left rows-only).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle`` is equivalent DuckDB SQL (or None)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side-effects run;
    registry order is registration order."""
    from . import (  # noqa: F401
        text_pipeline,
        multimodal,
        tpch,
        tpch_full,
        tpch_subqueries,
        streaming,
        embedding_ops,
        analytics,
        profiling,
        druid_source,
        druid_model,
        dedup,
        druid_functions,
        joins,
        aggregates,
        windows,
        setops,
        relational,
        scalar_funcs,
        temporal,
        similarity,
        text_analysis,
        topn_search,
        lookups,
        native,
    )


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return dict(ORACLES)


def run(spark: SparkSession, name: str, sf_dir: str) -> Any:
    load_all()
    return QUERIES[name](spark, sf_dir)
