"""Registry plumbing for named, oracle-checked queries."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → driver does rows-only check


QUERY_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERY_REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        QUERY_REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle)
        return fn

    return deco


def fill_doc(fn: QueryFn, **values: object) -> None:
    """Fill each ``{name}`` placeholder in ``fn``'s docstring with ``str(value)``.

    A no-op when docstrings are stripped (``python -OO`` sets them to None)."""
    if fn.__doc__:
        for name, value in values.items():
            fn.__doc__ = fn.__doc__.replace("{" + name + "}", str(value))
