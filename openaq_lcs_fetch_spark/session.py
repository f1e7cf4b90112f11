"""SparkSession construction + per-session tuning.

The engine is designed for a multi-executor cluster (the 100 TB target);
local[] is only the test harness. All scale-relevant knobs are set here
in one place:

* AQE on (runtime re-plan: skew joins, coalesced shuffle partitions);
* UTC session timezone (the reference mixes unix-seconds / ISO / local
  timestamps per provider — we normalize to UTC at the boundary, see
  SURVEY.md §1.2);
* Arrow enabled for the few pandas-UDF paths (similarity / multimodal).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to *any* session handed to us (the
#: correctness driver owns its own SparkSession, so these must be
#: settable post-creation — all of them are).
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark won't map to
    # TimestampType; read as long and convert in tables.load_events.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # let the paginated-HTTP DataSource accept pushed filters (F2)
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # runtime row-level join pruning: build a bloom filter from the
    # filtered dimension side and push it into the fact scan — at 100 TB
    # this skips row groups the join would drop anyway
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Spark's default INT96 timestamps carry NO usable min/max column
    # statistics (deprecated physical type) — every timestamp-sorted
    # file we write (compact_by_time's whole point) would be un-prunable
    # by row-group stats, and vacuum_by_retention would have to read
    # data instead of footers. TIMESTAMP_MICROS restores real stats and
    # matches the testdata's physical type.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers even when
    the driver process wasn't launched from the repo directory (worker
    processes don't inherit the driver's sys.path mutations). Zips the
    package once per session and distributes it via addPyFile."""
    if getattr(spark, "_openaq_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}_{os.getpid()}_{id(spark) & 0xFFFF}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zpath)
    except Exception:
        pass  # e.g. Spark Connect without SparkContext — PYTHONPATH must cover it
    setattr(spark, "_openaq_pkg_shipped", True)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, cheap)."""
    ship_package(spark)
    conf = dict(RUNTIME_CONF)
    # Size the shuffle for the harness: local CPUs, not the 200 default.
    # (On a real cluster AQE coalescing + explicit repartition in the
    # pipelines make this a starting point, not a cap.)
    n = int(os.environ.get("SPARK_GRAFT_CPUS", "32") or 32)
    conf["spark.sql.shuffle.partitions"] = str(max(8, n))
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # conf locked down (e.g. static conf on a shared cluster) —
            # proceed; these are optimizations, not correctness req'ts
            # except the timezone, which queries also guard via UTC
            # literals where it matters.
            pass
    return spark


#: serializes every session-conf pin: the conf is session-global, and
#: the scheduler runs many sources at once on one session.
_PIN_LOCK = threading.Lock()


@contextmanager
def pinned_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body, then restore them —
    the package's only session-conf change after :func:`tune`.

    One module lock covers set → body → restore, so two pins can never
    race each other. A batch job that another thread plans inside the
    window still sees the pin, so keep the body short: a streaming
    ``start()`` (the stream clones the session there and keeps the
    pinned values after the restore), or a test-only guard. An empty
    ``confs`` still takes the lock, so an unpinned stream cannot clone
    another thread's pin."""
    with _PIN_LOCK:
        saved = {k: spark.conf.get(k) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)


def get_spark(app_name: str = "openaq-lcs-fetch-spark", cpus: int | None = None) -> SparkSession:
    """Build (or get) a tuned SparkSession.

    ``cpus`` controls local-mode parallelism; on a real cluster the
    master/executors come from spark-submit and this arg is ignored.
    """
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    builder = SparkSession.builder.appName(app_name)
    if not os.environ.get("MASTER") and not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{n}]" if n else "local[*]")
    builder = (
        builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config(
            "spark.ui.enabled",
            os.environ.get("SPARK_GRAFT_UI", "false"),  # profiler flips on
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
