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
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..localdf import local_df
from ..sources.checkpoint import hwm_expr

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


def summarize(
    measures: DataFrame, source: str
) -> tuple[DataFrame, Callable[[], dict]]:
    """A3: the reference's summary() counters (clarity.js:192-208),
    attached to ``measures`` as one observation.

    Returns ``(observed, read)``: the counters are computed by whatever
    action runs ``observed`` (the measures sink write, or a dry run's
    noop write), so the run summary costs no job of its own; ``read()``
    returns them once that action finished. The ``_hwm`` key is the
    checkpoint-format high-water mark (``checkpoint.hwm_expr``), which
    ``Engine.run_source`` hands to ``advance`` so the checkpoint does
    not re-evaluate the provider plan.

    A failed task attempt contributes nothing, so the counts stay exact
    under task retries; on a cluster, a map stage re-run after a fetch
    failure can add its rows twice (the max-based bounds are unaffected)."""
    obs = Observation()
    observed = measures.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.min("timestamp").alias("from_ts"),
        F.max("timestamp").alias("to_ts"),
        hwm_expr("timestamp").alias("hwm"),
    )

    def read() -> dict:
        row = obs.get
        return {
            "source": source,
            "n_measures": row["n"],
            "from_ts": row["from_ts"],
            "to_ts": row["to_ts"],
            "_hwm": row["hwm"],
        }

    return observed, read
