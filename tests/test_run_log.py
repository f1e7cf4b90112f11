"""The run log (SURVEY.md K5): each ``publish`` writes one parquet file
from the driver. No Spark job runs, concurrent runs need no lock, a
failed write leaves no row behind, and a log holding files in the
earlier Spark-written format reads as one table with ``LOG_SCHEMA``.

CI runs this file a second time under ``TZ=America/New_York``."""

from __future__ import annotations

import datetime as dt
import io
import os
import threading

import pyarrow.parquet as pq
import pytest

from openaq_lcs_fetch_spark.localdf import local_df
from openaq_lcs_fetch_spark.sinks.log import LOG_SCHEMA, publish

#: every column but the wall-clock ``run_ts``
COLUMNS = ["source", "status", "n_measures", "from_ts", "to_ts", "message"]

NAIVE = dt.datetime(2024, 3, 10, 6, 30, 0, 123456)  # a US DST switch day
AWARE = dt.datetime(2024, 3, 10, 12, 0, 0, tzinfo=dt.timezone.utc)

#: (source, status, n_measures, from_ts, to_ts, message): naive, aware
#: and null timestamps
RUNS = [
    ("a", "fetcher/success", 3, NAIVE, AWARE, ""),
    ("b", "fetcher/success", 1, AWARE, NAIVE, ""),
    ("c", "fetcher/error", 0, None, None, "boom"),
]


def _publish(spark, path, run):
    source, status, n, from_ts, to_ts, message = run
    publish(spark, path, source, status, n_measures=n, from_ts=from_ts,
            to_ts=to_ts, message=message)


def _rows(spark, path):
    return sorted(spark.read.parquet(path).select(COLUMNS).collect())


def test_concurrent_publishes_land_one_row_each(spark, tmp_path):
    """Eight runs publishing into one log at once: eight rows, one per
    source, and Spark sees only the finished ``*.parquet`` files."""
    path = str(tmp_path / "runlog")
    start = threading.Barrier(8)

    def run(i):
        start.wait()
        publish(spark, path, f"src{i}", "fetcher/success", n_measures=i)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    df = spark.read.parquet(path)
    got = sorted((r.source, r.n_measures) for r in df.collect())
    assert got == [(f"src{i}", i) for i in range(8)]
    files = df.inputFiles()
    assert len(files) == 8 and all(f.endswith(".parquet") for f in files), files


def test_publish_starts_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    sc.setJobGroup("run-log-publish", "publish must not start a job")
    try:
        _publish(spark, str(tmp_path / "runlog"), RUNS[0])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("run-log-publish")) == []


def test_failed_write_leaves_earlier_rows_only(spark, tmp_path, monkeypatch):
    """A write that dies half way through its file leaves the log as it
    was: the partial file is not read, neither while it exists nor
    after, and none is left behind."""
    path = str(tmp_path / "runlog")
    _publish(spark, path, RUNS[0])
    before = _rows(spark, path)
    write_table = pq.write_table
    mid_write = []

    def torn_write(table, where, **kw):
        buf = io.BytesIO()
        write_table(table, buf, **kw)
        with open(where, "wb") as f:
            f.write(buf.getvalue()[: buf.tell() // 2])
        mid_write.append(_rows(spark, path))
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        _publish(spark, path, RUNS[1])

    assert mid_write == [before]
    assert _rows(spark, path) == before
    assert len(os.listdir(path)) == 1


def test_log_reads_spark_written_and_driver_written_rows_as_one(spark, tmp_path):
    """A log holding a file in the earlier format (``local_df`` written
    by Spark) plus new rows reads back with ``LOG_SCHEMA``, and a row
    reads the same whichever way it was written."""
    path = str(tmp_path / "runlog")
    now = dt.datetime.now(dt.timezone.utc)
    local_df(spark, [(now, *r) for r in RUNS], LOG_SCHEMA).write.parquet(path)
    spark_written = _rows(spark, path)
    for run in RUNS:
        _publish(spark, path, run)

    df = spark.read.parquet(path)
    assert df.schema == spark.createDataFrame([], LOG_SCHEMA).schema
    assert _rows(spark, path) == sorted(spark_written * 2)
