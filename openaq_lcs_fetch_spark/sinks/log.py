"""Run-log side output (SURVEY.md K5).

The reference publishes a per-run summary to SNS (providers.js:59-71,
called from fetcher/index.js:29-34 with 'fetcher/success' or
'fetcher/error'). Here: a structured log row appended to a parquet
status table — queryable, and a `foreachBatch` can emit the same row
per micro-batch in streaming mode.
"""

from __future__ import annotations

import datetime as _dt
import threading

from pyspark.sql import DataFrame, SparkSession

from ..localdf import local_df

#: the run log is the ONE sink shared by concurrently-running sources
#: (scheduler.run_tick overlaps them): concurrent appends to a single
#: parquet path race on the shared ``_temporary`` staging dir (one
#: job's commit/cleanup can delete the other's in-flight files), so the
#: tiny 1-row append itself is serialized. Everything else in a source
#: run touches per-source paths and overlaps freely.
_PUBLISH_LOCK = threading.Lock()

LOG_SCHEMA = (
    "run_ts timestamp, source string, status string, n_measures long, "
    "from_ts timestamp, to_ts timestamp, message string"
)


def publish(
    spark: SparkSession,
    log_path: str,
    source: str,
    status: str,
    n_measures: int = 0,
    from_ts=None,
    to_ts=None,
    message: str = "",
) -> None:
    row = [
        (
            # aware: a naive value would be read as host-local time
            _dt.datetime.now(tz=_dt.timezone.utc),
            source,
            status,
            n_measures,
            from_ts,
            to_ts,
            message,
        )
    ]
    # a one-row local frame scans as one task: ONE parquet file per row
    with _PUBLISH_LOCK:
        local_df(spark, row, LOG_SCHEMA).write.mode("append").parquet(log_path)


def summarize(measures: DataFrame, source: str) -> dict:
    """A3: the reference's summary() counters (clarity.js:192-208).

    The ``_hwm`` key is the checkpoint-format high-water mark computed
    in the SAME single-pass aggregate (engine-side ``date_format``
    under the pinned UTC session tz — the exact formatting
    ``sources.checkpoint.high_water_mark`` performs, for the exact
    reason documented there): ``Engine.run_source`` hands it to
    ``advance`` so the checkpoint does not re-evaluate the whole
    provider plan a second time just to recompute max(timestamp)."""
    from pyspark.sql import functions as F

    row = measures.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("timestamp").alias("from_ts"),
        F.max("timestamp").alias("to_ts"),
        F.date_format(
            F.max("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
        ).alias("hwm"),
    ).collect()[0]
    return {
        "source": source,
        "n_measures": row["n"],
        "from_ts": row["from_ts"],
        "to_ts": row["to_ts"],
        "_hwm": row["hwm"],
    }
