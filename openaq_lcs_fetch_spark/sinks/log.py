"""Run-log side output (SURVEY.md K5).

The reference publishes a per-run summary to SNS (providers.js:59-71,
called from fetcher/index.js:29-34 with 'fetcher/success' or
'fetcher/error'). Here: a structured row in a parquet status table —
queryable, and a `foreachBatch` can emit the same row per micro-batch
in streaming mode.

Each row is its own parquet file, written from the driver without a
Spark job: ``localdf.arrow_table`` converts it exactly as
``createDataFrame`` would, and the file lands under a dot-prefixed
temp name that Spark's file listing skips, then is renamed to a unique
``part-<uuid>.parquet``. Readers see a whole row or none, and
concurrent runs (``scheduler.run_tick`` overlaps them) never share a
file or a staging dir.
"""

from __future__ import annotations

import datetime as _dt
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..localdf import arrow_table
from ..sources.checkpoint import hwm_expr

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
    """Append one run row to the log at ``log_path``. Naive ``from_ts``
    / ``to_ts`` (as ``collect()`` returns them) are host-local time.

    ``spark`` is unused; it stays so the positional call shape, which
    ``perfbench/tracing.py`` labels spans by, is unchanged."""
    import pyarrow.parquet as pq

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
    table = arrow_table(row, LOG_SCHEMA)
    name = f"part-{uuid.uuid4().hex}.parquet"
    os.makedirs(log_path, exist_ok=True)
    tmp = os.path.join(log_path, f".{name}.tmp")
    try:
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(log_path, name))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


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
