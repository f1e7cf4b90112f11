"""Timestamp scalar functions (SURVEY.md C5-C8).

The reference mixes unix-seconds (purpleair.js:73), ISO strings
(cpcb.js:156), and local strings + tz + offsets (cmu.js:183-220,
data354.js:108-110). Our engine normalizes everything to UTC
TimestampType at the ingest boundary — all pure expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def micros(col: Column) -> Column:
    """Unix microseconds from any timestamp flavor. ``F.unix_micros``
    rejects TIMESTAMP_NTZ outright (DATATYPE_MISMATCH); casting to
    TIMESTAMP first is a no-op for TIMESTAMP input and, under the UTC
    session timezone the engine pins (session.RUNTIME_CONF), an exact
    reinterpretation for TIMESTAMP_NTZ — the driver's parquet stores
    naive UTC instants. Every operator that needs an integer time axis
    (as-of join, range join, gap windows) must go through this helper,
    never raw ``F.unix_micros``: the round-2 testdata changed from
    TIMESTAMP(NANOS) to timestamp[us]/NTZ and broke every raw call site.
    """
    return F.unix_micros(col.cast("timestamp"))


def from_unix_seconds(col: Column) -> Column:
    """C5: unix seconds → timestamp (purpleair.js:73, README example)."""
    return F.timestamp_seconds(col.cast("long"))


def from_iso(col: Column) -> Column:
    """C5: ISO-8601 string → timestamp (cpcb.js:156)."""
    return F.to_timestamp(col)


def from_local(col: Column, fmt: str, tz: str, shift_minutes: int = 0) -> Column:
    """C6: local-time string in ``tz`` (optionally a nonstandard format
    like 'yyyy-MM-dd HH_mm' and a fixed shift) → UTC timestamp.

    Re-expresses cmu.js:183-220 (America/New_York, 'YYYY-MM-DD HH_mm',
    minus 15 min) and cpcb.js:76-78,144-152 (Asia/Kolkata, minus 3 h).
    """
    ts = F.to_timestamp(col, fmt)
    utc = F.to_utc_timestamp(ts, tz)
    if shift_minutes:
        utc = utc + F.expr(f"INTERVAL {shift_minutes} MINUTES")
    return utc


def hour_ending(ts: Column) -> Column:
    """C7: hour-beginning → hour-ending label (+1h after truncation)
    (data354.js:108-110, aernode.js:119, iqair.js:142)."""
    return F.date_trunc("hour", ts) + F.expr("INTERVAL 1 HOUR")


def month_sequence(start: Column, stop: Column) -> Column:
    """C8: month-range enumeration incl. year crossover (cmu.js:126-135
    getMonthQuery — the one unit-tested function in the reference,
    test/cmu.test.js:8-39)."""
    return F.sequence(
        F.date_trunc("month", start).cast("date"),
        F.date_trunc("month", stop).cast("date"),
        F.expr("INTERVAL 1 MONTH"),
    )


def days_in_month(ts: Column) -> Column:
    """C8: daysInMonth (iqair.js:24-26)."""
    return F.dayofmonth(F.last_day(ts.cast("date")))


def yesterday(ts: Column) -> Column:
    """C8: yesterday (miri.js:51-62)."""
    return F.date_sub(ts.cast("date"), 1)
