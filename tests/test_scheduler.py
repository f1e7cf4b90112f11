"""Scheduler fan-out + engine error path + approx-sketch bounds."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from openaq_lcs_fetch_spark.engine import Engine
from openaq_lcs_fetch_spark.scheduler import (
    by_frequency,
    due_sources,
    load_source_configs,
    run_tick,
)


def test_load_and_group_configs():
    configs = load_source_configs()
    assert len(configs) == 16
    groups = by_frequency(configs)
    # inactive sources (cmu, purpleair) excluded from their groups
    names = {c["meta"]["source_name"] for g in groups.values() for c in g}
    assert "cmu" not in names and "purpleair" not in names
    assert len(groups["minute"]) >= 2 and len(groups["hour"]) >= 8


def test_due_sources_cadence():
    groups = {
        "minute": [{"p": "m"}],
        "hour": [{"p": "h"}],
        "day": [{"p": "d"}],
    }
    assert len(due_sources(groups, 37)) == 1      # minute only
    assert len(due_sources(groups, 120)) == 2     # minute + hour
    assert len(due_sources(groups, 0)) == 3       # all three


def test_run_tick_isolates_failures(spark, tmp_path):
    feed = tmp_path / "ok.jsonl"
    feed.write_text(json.dumps({
        "device_id": "d1", "ts": "2024-06-01T00:00:00", "lat": 1.0, "lon": 2.0,
        "readings": {"pm25": "15.0"}}))
    good = {"schema": "v1", "provider": "keyed_map", "frequency": "minute",
            "active": True, "meta": {"path": str(feed)}}
    bad = {"schema": "v1", "provider": "keyed_map", "frequency": "minute",
           "active": True, "meta": {"path": str(tmp_path / "missing.jsonl")}}
    engine = Engine(spark)
    logs = run_tick(engine, by_frequency([bad, good]), 5, str(tmp_path / "out"))
    statuses = sorted(log["status"] for log in logs)
    assert statuses == ["fetcher/error", "fetcher/success"]
    # the failure was logged to the runlog table too (K5 error path)
    runlog = spark.read.parquet(str(tmp_path / "out" / "runlog"))
    assert {r.status for r in runlog.collect()} == {"fetcher/error", "fetcher/success"}


def test_approx_count_distinct_bounds(spark, sf_dir):
    """A4 scale variant: HLL estimate within 5% of exact."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    row = e.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).first()
    assert row["approx"] == pytest.approx(row["exact"], rel=0.05)


def test_incremental_run_emits_nothing_twice(spark, tmp_path):
    """T2 end-to-end: second run over the same feed is bounded by the
    stored high-water mark and emits zero measures."""
    feed = tmp_path / "feed.jsonl"
    feed.write_text(json.dumps({
        "device_id": "d1", "ts": "2024-06-01T00:00:00", "lat": 1.0, "lon": 2.0,
        "readings": {"pm25": "15.0"}}))
    cfg = {"schema": "v1", "provider": "keyed_map", "frequency": "hour",
           "active": True, "meta": {"path": str(feed), "incremental": "true"}}
    engine = Engine(spark)
    out = str(tmp_path / "out")
    r1 = engine.run_source(cfg, out)
    assert r1["n_measures"] == 1
    r2 = engine.run_source(cfg, out)
    assert r2["n_measures"] == 0  # everything before the watermark
    assert r2["checkpoint"]["high_water_mark"] == r1["checkpoint"]["high_water_mark"]
    # new data past the watermark flows through a third run
    feed.write_text(json.dumps({
        "device_id": "d1", "ts": "2024-06-01T02:00:00", "lat": 1.0, "lon": 2.0,
        "readings": {"pm25": "16.0"}}))
    r3 = engine.run_source(cfg, out)
    assert r3["n_measures"] == 1
    assert r3["checkpoint"]["high_water_mark"].startswith("2024-06-01T02")


@pytest.mark.parametrize("sink", ["csv", "json"])
def test_empty_incremental_run_keeps_the_mark_without_rescanning(
    spark, tmp_path, monkeypatch, sink
):
    """An incremental re-run that finds no new rows must not re-evaluate
    the provider plan for a checkpoint mark (its single-pass summary
    already saw zero rows): the stored mark, the checkpoint file and the
    sink's measures stay exactly as the backfill left them."""
    import os

    from openaq_lcs_fetch_spark.sources import checkpoint

    feed = tmp_path / "feed.jsonl"
    feed.write_text("\n".join(json.dumps({
        "device_id": "d1", "ts": ts, "lat": 1.0, "lon": 2.0,
        "readings": {"pm25": "15.0", "pm10": "20.0"}})
        for ts in ("2024-06-01T00:00:00", "2024-06-01T01:00:00")))
    cfg = {"schema": "v1", "provider": "keyed_map", "frequency": "hour",
           "active": True,
           "meta": {"path": str(feed), "incremental": "true", "sink": sink}}
    engine = Engine(spark)
    out = str(tmp_path / "out")
    r1 = engine.run_source(cfg, out)
    assert r1["n_measures"] == 4
    provider = r1["source"]
    ck_path = os.path.join(out, "meta", f"{provider}.json")

    def readback():
        path = f"{out}/measures/{provider}"
        if sink == "csv":
            df = spark.read.option("header", "true").csv(path)
        else:
            df = spark.read.json(path).select(F.explode("measures").alias("m"))
            df = df.select("m.sensor_id", "m.measure", "m.timestamp")
        return sorted(map(tuple, df.collect()))

    with open(ck_path) as fh:
        ck_before = fh.read()
    rows_before = readback()
    assert len(rows_before) == 4

    calls = []
    monkeypatch.setattr(
        checkpoint, "high_water_mark", lambda *a: calls.append(a)
    )
    r2 = engine.run_source(cfg, out)
    assert calls == []
    assert r2["n_measures"] == 0
    assert r2["checkpoint"] == r1["checkpoint"]
    with open(ck_path) as fh:
        assert fh.read() == ck_before
    assert readback() == rows_before
