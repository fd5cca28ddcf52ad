"""The one operator registry.

Every operator module registers its queries here with ``@op(name,
oracle)``; ``__spark_entry__`` derives ``queries()`` and ``oracle_sql()``
from these two dicts and ``bench.py`` times every entry. This module
imports no operator module: a Python worker that unpickles one
operator's function loads that module and nothing else.
"""

from __future__ import annotations

from collections.abc import Callable

#: query name -> fn(spark, sf_dir) -> DataFrame
QUERIES: dict[str, Callable] = {}
#: query name -> DuckDB oracle SQL (absent for rows-only queries)
ORACLES: dict[str, str] = {}


def op(name: str, oracle: str | None = None):
    """Register the decorated function as query ``name``, paired with its
    DuckDB ``oracle`` SQL when it has one. A name registers once: a
    second registration raises ``ValueError`` instead of shadowing the
    first."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
