"""The run summary rides the measures write: ``Engine.run_source``
observes its counters on the frame the sink (or a dry run's noop write)
already runs, so no path collects to the driver, task retries leave the
counters exact, and an all-null batch still reports its bounds."""

from __future__ import annotations

import datetime as _dt
import glob
import gzip
import json
import os
import subprocess
import sys

import pytest

from openaq_lcs_fetch_spark.engine import Engine

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _keyed_map_feed(path, n_devices: int, n_hours: int) -> dict:
    """A keyed_map feed of ``n_devices`` × ``n_hours`` rows, two readings
    each, one of them a flagged sentinel (a null measure)."""
    path.write_text("\n".join(
        json.dumps({
            "device_id": f"d{d}", "ts": f"2024-06-01T{h:02d}:00:00",
            "lat": 1.0 + d, "lon": 2.0 + d,
            "readings": {"pm25": f"{10 + d + h}.5", "pm10": "NaN"},
        })
        for d in range(n_devices) for h in range(n_hours)
    ))
    return {"schema": "v1", "provider": "keyed_map", "frequency": "hour",
            "active": True, "meta": {"path": str(path)}}


@pytest.mark.parametrize("dry_run", [False, True], ids=["real", "dry"])
@pytest.mark.parametrize("sink", ["csv", "json"])
def test_run_source_collects_nothing_to_the_driver(
    spark, tmp_path, monkeypatch, sink, dry_run
):
    cfg = _keyed_map_feed(tmp_path / "feed.jsonl", n_devices=2, n_hours=3)
    cfg["meta"]["sink"] = sink

    def refuse(self, *a, **k):
        raise AssertionError("run_source collected a frame to the driver")

    # pyspark's public DataFrame is not the class that collect() runs on
    monkeypatch.setattr(type(spark.range(1)), "collect", refuse)
    log = Engine(spark).run_source(cfg, str(tmp_path / "out"), dry_run=dry_run)
    monkeypatch.undo()
    # null-measure rows count: the summary sits before the sink's filter
    assert log["n_measures"] == 12
    assert log["n_stations"] == 2
    assert log["status"] == ("dry-run" if dry_run else "fetcher/success")
    assert os.path.exists(tmp_path / "out" / "measures") != dry_run


_RETRY_SCRIPT = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F
from openaq_lcs_fetch_spark import engine

cfg, out, marks = json.loads(sys.argv[1]), sys.argv[2], sys.argv[3]
spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.ui.enabled", "false").getOrCreate())


def fail_once(name):
    # raises on the first attempt of partition 0, once per process
    marker = os.path.join(marks, name)

    def keep(_):
        ctx = TaskContext.get()
        if (ctx.partitionId() == 0 and ctx.attemptNumber() == 0
                and not os.path.exists(marker)):
            open(marker, "w").close()
            raise RuntimeError("injected first-attempt failure: " + name)
        return True

    return F.udf(keep, "boolean")


def flaky(spark, config):
    measures, stations = processor(spark, config)
    return (measures.filter(fail_once("measures")("sensor_id")),
            stations.filter(fail_once("stations")("sensor_node_id")))


processor = engine.processor
results = {}
for mode in ("clean", "flaky"):
    engine.processor = flaky if mode == "flaky" else processor
    log = engine.Engine(spark).run_source(cfg, os.path.join(out, mode))
    results[mode] = {k: log[k] for k in ("n_measures", "n_stations", "stations")}
    results[mode]["mark"] = log["checkpoint"]["high_water_mark"]
results["failed"] = sorted(os.listdir(marks))
print(json.dumps(results))
"""


@pytest.mark.parametrize("sink", ["csv", "json"])
def test_observed_counters_are_exact_under_task_retries(tmp_path, sink):
    cfg = _keyed_map_feed(tmp_path / "feed.jsonl", n_devices=5, n_hours=7)
    cfg["meta"]["sink"] = sink
    marks = tmp_path / "marks"
    marks.mkdir()
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, json.dumps(cfg),
         str(tmp_path / "out"), str(marks)],
        capture_output=True, text=True, env=env, cwd=ROOT, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["failed"] == ["measures", "stations"]  # the retries happened
    assert res["clean"]["n_measures"] == 70
    assert res["clean"]["stations"]["written"] == 5
    assert res["clean"]["mark"] == "2024-06-01T06:00:00.000000"
    assert res["flaky"] == res["clean"]


@pytest.mark.parametrize("sink", ["csv", "json"])
def test_all_null_batch_reports_its_bounds(spark, tmp_path, sink):
    """Every reading a sentinel: the sink ships no measure, yet the run
    counts the flagged rows, reports their bounds and moves the mark."""
    feed = tmp_path / "wide.csv"
    feed.write_text(
        "Anon_Name,Site_Name,Timestamp,Lat,Lon,CO,NO2,O3,PM025\n"
        "stA,Site A,2024-06-01 10_00,40.44,-79.94,NaN,n/a,inv,undefined\n"
    )
    cfg = {"schema": "v1", "provider": "wide_csv", "frequency": "hour",
           "active": True,
           "meta": {"path": str(feed), "params": "CO,NO2,O3,PM025", "sink": sink}}
    days = {_dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%d")}
    log = Engine(spark).run_source(cfg, str(tmp_path / "out"))
    days.add(_dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%d"))

    assert log["n_measures"] == 4
    # 10:00 America/New_York (EDT) − 15 min = 13:45 UTC, collected as a
    # naive host-local datetime
    ts = _dt.datetime(2024, 6, 1, 13, 45, tzinfo=_dt.timezone.utc)
    assert log["from_ts"] == log["to_ts"] == ts.astimezone().replace(tzinfo=None)
    assert log["checkpoint"]["high_water_mark"] == "2024-06-01T13:45:00.000000"

    def lines(pattern):
        out = []
        for f in glob.glob(os.path.join(log["measures_path"], pattern)):
            with gzip.open(f, "rt") as fh:
                out += [line for line in fh.read().splitlines() if line]
        return out

    if sink == "csv":
        assert [x for x in lines("part-*") if x != "sensor_id,measure,timestamp"] == []
        return
    day_dirs = [os.path.basename(d) for d in glob.glob(f"{log['measures_path']}/day=*")]
    assert len(day_dirs) == 1 and day_dirs[0][len("day="):] in days
    (envelope,) = map(json.loads, lines("day=*/part-*"))
    assert envelope.get("measures", []) == []
    assert [loc["location"] for loc in envelope["locations"]] == ["stA"]
