"""Filter / predicate operators (SURVEY.md §2.2, F1-F9).

All are plain Column predicates so Catalyst pushes them into the scan
(``PushedFilters`` in explain output) — at 100 TB these decide how many
bytes leave storage, so nothing here may be a UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def time_range(
    ts: Column,
    start=None,
    end=None,
    drop_future_after=None,
) -> Column:
    """F1: keep ``start <= ts <= end``; optionally drop future rows.

    Reference checkResponseData (fetcher/lib/utils.js:180-209): warns
    + drops out-of-range rows and defaults 'no future data'.
    """
    pred = F.lit(True)
    if start is not None:
        pred = pred & (ts >= F.lit(start))
    if end is not None:
        pred = pred & (ts <= F.lit(end))
    if drop_future_after is not None:
        pred = pred & (ts <= F.lit(drop_future_after))
    return pred


def equality(col: Column, value) -> Column:
    """F3: equality filter by configured key (purpleair.js:41-44)."""
    return col == F.lit(value)


def status_ok(status: Column, ok=200) -> Column:
    """F4: keep readings with status == 200 (senstate.js:57)."""
    return status == F.lit(ok)


def coordinate_precision(lat: Column, lon: Column, decimals: int = 3) -> Column:
    """F5: data-quality filter — non-null coords with >= ``decimals``
    decimal places (airgradient.js:179-188)."""
    pat = r"^-?\d+\.\d{%d,}$" % decimals
    return (
        lat.isNotNull()
        & lon.isNotNull()
        & lat.cast("string").rlike(pat)
        & lon.cast("string").rlike(pat)
    )


#: Sentinel tokens the providers emit for "missing" (SURVEY.md F6):
#: 'NaN' (cmu.js:171), '' (iqair.js:188), 'n/a'/'inv' (smartsense.js:110-118).
SENTINEL_TOKENS = ("", "NaN", "n/a", "inv", "null", "undefined")


def non_sentinel(raw: Column) -> Column:
    """F6: predicate keeping only real readings."""
    return raw.isNotNull() & ~raw.isin(list(SENTINEL_TOKENS))


def whitelist(col: Column, allowed: list) -> Column:
    """F7 small-list form: parameter ∈ supported set (measurand.js:54-59).
    For large whitelists use a broadcast left-semi join (joins.semi_filter).
    """
    return col.isin(allowed)


def late_window(ts: Column, now, lag_hours: int = 1, span_hours: int = 2) -> Column:
    """F9: hour-aligned late-data window ``[now-lag-span, now-lag)``
    (airgradient.js:137-159 fetches [now-3h, now-1h))."""
    upper = F.date_trunc("hour", F.lit(now)) - F.expr(f"INTERVAL {lag_hours} HOURS")
    lower = upper - F.expr(f"INTERVAL {span_hours} HOURS")
    return (ts >= lower) & (ts < upper)


def apply(df: DataFrame, *predicates: Column) -> DataFrame:
    out = df
    for p in predicates:
        out = out.filter(p)
    return out
