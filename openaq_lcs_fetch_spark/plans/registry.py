"""Registry of (Spark query, DuckDB oracle SQL) pairs.

Contract (driver): each query callable takes ``(spark, sf_dir)`` and
returns a DataFrame; the oracle is ANSI SQL DuckDB runs over the same
parquet tables registered as views. Column names must match exactly —
the driver sorts columns by name before hashing values.

Parity rules every query here follows:
* session timezone forced to UTC before building the plan;
* float aggregates accumulate in DECIMAL (exact, order-independent)
  and only then cast to double — a raw double sum differs in the last
  ulps between engines/partitionings;
* every ORDER BY ... LIMIT has a deterministic total order (unique
  tiebreaker column);
* every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..session import tune


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver runs a weaker rows-only check


QUERIES: dict[str, Query] = {}


def promote(names: "Sequence[str]") -> None:
    """Reorder the registry so ``names`` occupy the first positions (in
    the given order), everything else keeping its relative order.

    The correctness driver verifies the FIRST 50 registry entries each
    round; with >100 registered queries a deliberate rotation decides
    what gets (re-)proven. ``plans/__init__`` promotes, per round, the
    queries that have never had a driver row plus any that were red last
    round, then lets the least-recently-verified half fill the window.
    """
    missing = [n for n in names if n not in QUERIES]
    if missing:
        raise KeyError(f"promote: unknown queries {missing}")
    chosen = set(names)
    rest = [(k, v) for k, v in QUERIES.items() if k not in chosen]
    front = [(n, QUERIES[n]) for n in names]
    QUERIES.clear()
    QUERIES.update(front)
    QUERIES.update(rest)


def query(name: str, oracle: str | None = None):
    """Decorator registering a driver-visible query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in QUERIES:
            # a silent overwrite means one of the two implementations
            # is never verified — fail at import time instead
            raise ValueError(f"query {name!r} registered twice")
        QUERIES[name] = Query(name, wrapped, oracle)
        return wrapped

    return deco


def t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Table read; ``spread=True`` opts a map-heavy consumer into the
    scale-gated scan CPU spread (see ``tables._spread_scan``)."""
    return tables.load(spark, sf_dir, name, spread=spread)


def exact_sum(col: Column, scale: int = 6, alias: str | None = None) -> Column:
    """Order-independent exact sum: accumulate in DECIMAL(27,scale),
    surface as double. Oracle twin: sql_exact_sum()."""
    out = F.sum(col.cast(f"decimal(27,{scale})")).cast("double")
    return out.alias(alias) if alias else out


def sql_exact_sum(expr: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(27,{scale}))) AS DOUBLE)"
