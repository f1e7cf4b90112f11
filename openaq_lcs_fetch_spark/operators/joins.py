"""Join operators (SURVEY.md §2.3, J1-J5).

The reference only ever joins facts against *small dimensions* (hash
maps in JS). Spark-first: every dimension join is an explicit
``broadcast()`` so the 100 TB fact side never shuffles; semi/anti
variants express whitelist filtering and write-elision.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_with_miss_report(
    facts: DataFrame, dim: DataFrame, on: str
) -> tuple[DataFrame, DataFrame]:
    """J2: broadcast left join + side-output of misses.

    Reference clarity.js:63-108 enriches location→datasource name and
    accumulates unmatched ids in ``missing_datasources`` (clarity.js:51-56).
    Returns ``(enriched, misses)`` where misses is the distinct set of
    unmatched keys (≙ anti-join on the dimension).
    """
    enriched = facts.join(F.broadcast(dim), on=on, how="left")
    # misses via anti-join on the KEY — testing a payload column for
    # NULL would misreport matched rows whose dim value is legitimately
    # NULL as missing keys
    misses = facts.join(F.broadcast(dim), on=on, how="left_anti").select(on).distinct()
    return enriched, misses


def semi_filter(facts: DataFrame, allowed: DataFrame, on: str) -> DataFrame:
    """F7 at scale: whitelist via broadcast left-semi join
    (measurand.js:54-59 whitelist filtering)."""
    return facts.join(F.broadcast(allowed), on=on, how="left_semi")


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """J4: cohort fan-in (airqo.js:58-75 concat, habitatmap.js:199 page
    concat) — ``unionByName`` so column order never bites."""
    it = iter(dfs)
    out = next(it)
    for df in it:
        out = out.unionByName(df)
    return out
