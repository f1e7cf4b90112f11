"""Streaming semantics (SURVEY.md §2.8): watermark dedup, stateful
station registry across micro-batches, foreachBatch upsert."""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import functions as F

from openaq_lcs_fetch_spark.sinks.stations import diff_upsert  # noqa: F401 (bridge target)
from openaq_lcs_fetch_spark.streaming.pipeline import (
    dedup_within_watermark,
    run_available_now,
)
from openaq_lcs_fetch_spark.streaming.stateful import (
    changed_stations,
    foreach_batch_upsert,
)

STATION_DDL = "sensor_node_id string, site string, lat double"


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _station_stream(spark, srcdir):
    return (
        spark.readStream.schema(STATION_DDL)
        .option("maxFilesPerTrigger", "1")  # one micro-batch per file
        .json(srcdir)
    )


def test_changed_stations_state_across_batches(spark, tmp_path):
    """T5: batch 2 re-sends station n1 unchanged (elided by state) and
    n2 changed (emitted)."""
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b1.json", [
        {"sensor_node_id": "n1", "site": "A", "lat": 1.0},
        {"sensor_node_id": "n2", "site": "B", "lat": 2.0},
    ])
    _write_jsonl(src / "b2.json", [
        {"sensor_node_id": "n1", "site": "A", "lat": 1.0},      # unchanged
        {"sensor_node_id": "n2", "site": "B2", "lat": 2.0},     # changed
    ])
    out = run_available_now(changed_stations(_station_stream(spark, str(src)), "sensor_node_id"))
    rows = sorted((r.sensor_node_id, r.site) for r in out.collect())
    assert rows == [("n1", "A"), ("n2", "B"), ("n2", "B2")]


def test_dedup_within_watermark(spark, tmp_path):
    """T3/T4: overlapping re-reads deduped on (sensor, ts)."""
    src = tmp_path / "in"
    src.mkdir()
    rows = [
        {"sensor_id": "s1", "ts": "2024-01-01T00:00:00", "v": 1.0},
        {"sensor_id": "s1", "ts": "2024-01-01T00:01:00", "v": 2.0},
    ]
    _write_jsonl(src / "b1.json", rows)
    _write_jsonl(src / "b2.json", rows)  # the 2-minute overlap re-read
    stream = (
        spark.readStream.schema("sensor_id string, ts string, v double")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = run_available_now(dedup_within_watermark(stream, ["sensor_id", "ts"]))
    assert out.count() == 2  # 4 raw rows → 2 unique


def test_foreach_batch_upsert(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b1.json", [{"sensor_node_id": "n1", "site": "A", "lat": 1.0}])
    _write_jsonl(src / "b2.json", [{"sensor_node_id": "n1", "site": "A9", "lat": 1.0}])
    store = str(tmp_path / "store")
    q = (
        foreach_batch_upsert(_station_stream(spark, str(src)), store, "sensor_node_id")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{uuid.uuid4().hex[:6]}"))
        .start()
    )
    q.awaitTermination()
    final = spark.read.parquet(store).collect()
    assert len(final) == 1
    assert final[0]["site"] == "A9"  # last batch won the merge


def test_keyed_map_provider_stream(spark, tmp_path):
    """Phase 3: the batch provider's transform running as a real
    streaming job, with watermark dedup, draining to parquet."""
    from openaq_lcs_fetch_spark.streaming.provider_stream import (
        keyed_map_stream,
        start_to_parquet,
    )

    src = tmp_path / "in"
    src.mkdir()
    row = {"device_id": "d1", "ts": "2024-06-01T00:00:00", "lat": 1.0, "lon": 2.0,
           "readings": {"pm25": "15.0"}}
    _write_jsonl(src / "b1.json", [row])
    _write_jsonl(src / "b2.json", [row,  # exact duplicate re-read
                                   {**row, "ts": "2024-06-01T01:00:00"}])
    cfg = {"schema": "v1", "provider": "keyed_map", "frequency": "hour",
           "active": True, "meta": {"path": str(src)}}
    measures = keyed_map_stream(spark, cfg)
    q = start_to_parquet(measures, str(tmp_path / "out"), str(tmp_path / "ckpt"),
                         available_now=True)
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.count() == 2  # 3 raw readings, 1 duplicate dropped
    assert {r.sensor_id for r in got.collect()} == {"keyed_map-d1-pm25"}


def test_provider_stream_drain_runs_one_batch(spark, tmp_path):
    """A bounded drain runs its data batch and no trailing no-data
    batch; the dedup state kept by the skipped eviction still drops a
    re-read duplicate in the next drain."""
    from openaq_lcs_fetch_spark.streaming.provider_stream import (
        keyed_map_stream,
        start_to_parquet,
    )

    src = tmp_path / "in"
    src.mkdir()
    row = {"device_id": "d1", "ts": "2024-06-01T00:00:00", "lat": 1.0, "lon": 2.0,
           "readings": {"pm25": "15.0"}}
    cfg = {"schema": "v1", "provider": "keyed_map", "frequency": "hour",
           "active": True, "meta": {"path": str(src)}}
    out = str(tmp_path / "out")
    inputs = []
    for name, rows in (("b1.json", [row]),
                       ("b2.json", [row, {**row, "ts": "2024-06-01T04:00:00"}])):
        _write_jsonl(src / name, rows)
        q = start_to_parquet(keyed_map_stream(spark, cfg), out,
                             str(tmp_path / "ckpt"), available_now=True)
        q.awaitTermination()
        inputs.append([p["numInputRows"] for p in q.recentProgress])
    assert inputs == [[1], [2]]  # one progress entry per drain
    # the re-read 00:00 reading was dropped
    hours = spark.read.parquet(out).select(F.hour("timestamp").alias("h"))
    assert sorted(r.h for r in hours.collect()) == [0, 4]


def test_provider_stream_pin_is_released_at_start(spark, tmp_path):
    """start_to_parquet(state_partitions=N) pins N around start() only:
    a batch thread that looks while the caller waits on the running
    stream sees the session's own shuffle partitions, and the stream
    still records N in its checkpoint's offset metadata. Deterministic:
    the batch thread looks only once someone waits on the started
    query, i.e. after start() has returned."""
    import threading

    from pyspark.sql.streaming.query import StreamingQuery

    from openaq_lcs_fetch_spark.streaming.provider_stream import (
        keyed_map_stream,
        start_to_parquet,
    )

    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b1.json", [
        {"device_id": "d1", "ts": "2024-06-01T00:00:00", "lat": 1.0,
         "lon": 2.0, "readings": {"pm25": "15.0"}},
    ])
    cfg = {"schema": "v1", "provider": "keyed_map", "frequency": "hour",
           "active": True, "meta": {"path": str(src)}}
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    assert saved != "3"

    waiting, looked = threading.Event(), threading.Event()
    seen: list[str] = []

    def batch_thread():
        waiting.wait(timeout=300)
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        looked.set()

    orig = StreamingQuery.awaitTermination

    def await_after_look(self, *a, **kw):
        waiting.set()
        looked.wait(timeout=300)
        return orig(self, *a, **kw)

    t = threading.Thread(target=batch_thread)
    t.start()
    StreamingQuery.awaitTermination = await_after_look
    try:
        q = start_to_parquet(
            keyed_map_stream(spark, cfg), str(tmp_path / "out"),
            str(tmp_path / "ckpt"), available_now=True, state_partitions=3,
        )
        q.awaitTermination()
    finally:
        StreamingQuery.awaitTermination = orig
        waiting.set()
        t.join(timeout=300)

    assert seen == [saved]
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    # offsets/0 is "v1", then the batch metadata JSON carrying the conf
    # the stream runs with (fixed at its first start)
    lines = (tmp_path / "ckpt" / "offsets" / "0").read_text().splitlines()
    conf = json.loads(lines[1])["conf"]
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1


def test_streaming_session_window(spark, tmp_path):
    """T6+: native session windows in a streaming aggregation (the
    gap-based sessionization user_sessions does in batch)."""
    src = tmp_path / "in"
    src.mkdir()
    # split across files + maxFilesPerTrigger=1 so the session that
    # spans both micro-batches exercises cross-batch state merging
    _write_jsonl(src / "b1.json", [
        {"sensor_id": "s1", "ts": "2024-01-01T00:00:00", "v": 1.0},
    ])
    _write_jsonl(src / "b2.json", [
        {"sensor_id": "s1", "ts": "2024-01-01T00:10:00", "v": 2.0},  # merges into b1's session
        {"sensor_id": "s1", "ts": "2024-01-01T02:00:00", "v": 3.0},  # new session
    ])
    stream = (
        spark.readStream.schema("sensor_id string, ts string, v double")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    sessions = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "sensor_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_available_now(sessions, output_mode="complete")
    rows = sorted((r.sensor_id, r.n) for r in out.collect())
    assert rows == [("s1", 1), ("s1", 2)]


def test_chained_dedup_then_window(spark, tmp_path):
    """Two stateful operators in one query: duplicates across overlapping
    micro-batches are removed BEFORE the tumbling-hour counts."""
    from openaq_lcs_fetch_spark.streaming.pipeline import dedup_then_hourly_counts

    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b1.json", [
        {"event_id": 1, "ts": "2024-01-01 10:05:00", "event_type": "click"},
        {"event_id": 2, "ts": "2024-01-01 10:20:00", "event_type": "click"},
    ])
    _write_jsonl(src / "b2.json", [
        {"event_id": 2, "ts": "2024-01-01 10:20:00", "event_type": "click"},  # dup re-read
        {"event_id": 3, "ts": "2024-01-01 11:10:00", "event_type": "view"},
    ])
    stream = (
        spark.readStream.schema("event_id long, ts string, event_type string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    # append-mode window output only finalizes below the watermark; use
    # update on the memory sink and take each window's latest count
    out = run_available_now(dedup_then_hourly_counts(stream), output_mode="update")
    latest = {}
    for r in out.collect():
        latest[(r.w.start.hour, r.event_type)] = r.n
    assert latest == {(10, "click"): 2, (11, "view"): 1}


def test_sensor_gaps_across_batches(spark, tmp_path):
    """Custom stateful gap detector: state carries the last timestamp
    across micro-batches; only spacings > threshold emit."""
    from openaq_lcs_fetch_spark.streaming.stateful import sensor_gaps

    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b1.json", [
        {"sensor": "s1", "ts": "2024-01-01 00:00:00"},
        {"sensor": "s1", "ts": "2024-01-01 01:00:00"},
        {"sensor": "s2", "ts": "2024-01-01 00:00:00"},
    ])
    _write_jsonl(src / "b2.json", [
        {"sensor": "s1", "ts": "2024-01-01 05:00:00"},  # 4h gap vs batch 1
        {"sensor": "s2", "ts": "2024-01-01 01:30:00"},  # 1.5h — under threshold
    ])
    stream = (
        spark.readStream.schema("sensor string, ts string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = run_available_now(sensor_gaps(stream, "sensor", gap="2 hours"))
    rows = [(r.key, r.gap_us) for r in out.collect()]
    assert rows == [("s1", 4 * 3600 * 1_000_000)]


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """T2 exactly-once across RESTARTS: a stopped streaming query that
    restarts with the same checkpoint must process only files that
    arrived while it was down — no reprocessing, no gaps. This is the
    engine-level form of the reference's high-water-mark resume
    (meta.js MetaDetails): the checkpoint commit log IS the watermark."""
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def arrive(lo, hi, name):
        spark.range(lo, hi).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).coalesce(1).write.parquet(os.path.join(src, name))

    def run_once():
        stream = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    arrive(0, 100, "a")
    run_once()
    first = spark.read.parquet(out)
    assert first.count() == 100

    # query is DOWN; two more files arrive
    arrive(100, 150, "b")
    arrive(150, 180, "c")
    run_once()  # restart from the same checkpoint
    final = spark.read.parquet(out)
    assert final.count() == 180  # exactly once: no dup of file a
    assert final.select(F.sum("id")).first()[0] == 180 * 179 // 2
    assert final.select("id").distinct().count() == 180


def test_running_max_transform_with_state_matches_batch(spark, sf_dir):
    """Spark-4 arbitrary-state API twin: bounded replay of running_max
    (transformWithStateInPandas) equals the batch prev-max window. The
    TWS Python worker needs google.protobuf — skip honestly without it
    (same stance as the codec gates)."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from openaq_lcs_fetch_spark import tables
    from openaq_lcs_fetch_spark.functions.timestamps import micros
    from openaq_lcs_fetch_spark.streaming.pipeline import (
        read_events_stream,
        run_available_now,
    )
    from openaq_lcs_fetch_spark.streaming.stateful import running_max

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = run_available_now(
            running_max(read_events_stream(spark, sf_dir), "user_id")
        )
        got = sorted(map(tuple, out.collect()))
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    e = tables.load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    expected = (
        e.withColumn("prev_max", F.max("value").over(w))
        .filter(F.col("prev_max").isNull() | (F.col("value") > F.col("prev_max")))
        .select("user_id", "event_id", micros(F.col("ts")).alias("ts_us"), "value")
    )
    assert got == sorted(map(tuple, expected.collect()))


def test_dedup_ww_batched_replay_never_double_counts(spark, tmp_path):
    """The streaming_dedup_ww robustness argument, exercised for real
    (plans/streaming_q.py: "why the oracle equality is robust even if a
    replay splits the two copies of an event across micro-batches"):
    with dedup delay (3h) >= window size (1h), a duplicate that arrives
    in a LATER micro-batch — after the watermark advanced past its
    dedup state AND finalized its hour window — must be dropped as
    late, never double-counted by the windowed aggregate.

    File-source batch order follows MODIFICATION TIME, and files
    written in the same millisecond tie nondeterministically — the
    explicit utime spacing below is what makes the four micro-batches
    replay in the intended order (measured: without it this scenario
    interleaved b4 before b2)."""
    src = tmp_path / "in"
    src.mkdir()
    # batch 1: the original event (hour-10 window)
    _write_jsonl(src / "b1.json", [
        {"event_id": 1, "ts": "2024-01-01 10:05:00", "event_type": "click"},
    ])
    # batch 2: a fresh event far enough ahead that the watermark
    # (max_ts - 3h = 14:30) passes event 1's dedup-state horizon
    # (10:05 + 3h = 13:05) — evicting its dedup state — AND its window
    # end (11:00) — finalizing its hour window
    _write_jsonl(src / "b2.json", [
        {"event_id": 2, "ts": "2024-01-01 17:30:00", "event_type": "click"},
    ])
    # batch 3: the duplicate of event 1 — dedup state is GONE, so only
    # the late-record drop (10:05 < wm 14:30) protects the count
    _write_jsonl(src / "b3.json", [
        {"event_id": 1, "ts": "2024-01-01 10:05:00", "event_type": "click"},
    ])
    # batch 4: heartbeat-style punctuation to flush event 2's window
    _write_jsonl(src / "b4.json", [
        {"event_id": 99, "ts": "2024-01-02 00:00:00", "event_type": "view"},
    ])
    now = time.time() - 100
    for i, name in enumerate(["b1.json", "b2.json", "b3.json", "b4.json"]):
        os.utime(src / name, (now + i, now + i))
    stream = (
        spark.readStream.schema("event_id long, ts string, event_type string")
        .option("maxFilesPerTrigger", "1")  # one micro-batch per file
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    deduped = stream.withWatermark("ts", "3 hours").dropDuplicatesWithinWatermark(
        ["event_id", "event_type"]
    )
    windowed = deduped.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    out = run_available_now(windowed, output_mode="append")
    rows = sorted(
        (r.w.start.isoformat(), r.event_type, r.n) for r in out.collect()
    )
    # hour-10 click window n=1 (duplicate NOT double-counted), hour-17
    # click window n=1; the punctuation row's own window never finalizes
    assert rows == [
        ("2024-01-01T10:00:00", "click", 1),
        ("2024-01-01T17:00:00", "click", 1),
    ]


def test_stateful_window_state_survives_restart(spark, tmp_path):
    """State-store recovery across restart (the property the offset
    test above does NOT cover): run 1 buffers an unfinalized hour
    window (3 rows) in state and stops; run 2 — same checkpoint — adds
    2 more rows to the SAME window plus a late heartbeat that pushes
    the watermark past it. Append mode must emit that window exactly
    once with n=5: 3 recovered from the state store + 2 new. A lost
    state store would emit n=2; reprocessing would emit n>5 or two
    rows."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def arrive(name, stamps):
        spark.createDataFrame(
            [(i, ts) for i, ts in enumerate(stamps)], "id long, ts timestamp"
        ).coalesce(1).write.parquet(os.path.join(src, name))

    def run_once():
        stream = spark.readStream.schema("id long, ts timestamp").parquet(
            src + "/*"
        )
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    h10 = dt.datetime(2024, 5, 1, 10, 0, 0)
    arrive("a", [h10, h10 + dt.timedelta(minutes=10), h10 + dt.timedelta(minutes=30)])
    run_once()
    # window 10:00 not finalized (watermark = 10:30 - 1h): nothing out
    got = spark.read.schema("ws timestamp, n long").parquet(out)
    assert got.count() == 0

    # query DOWN; 2 more rows land in the same 10:00 window, and a
    # 13:00 row pushes the watermark past it on the next run
    arrive(
        "b",
        [
            h10 + dt.timedelta(minutes=40),
            h10 + dt.timedelta(minutes=50),
            dt.datetime(2024, 5, 1, 13, 0, 0),
        ],
    )
    run_once()
    rows = {
        r.ws: r.n
        for r in spark.read.schema("ws timestamp, n long").parquet(out).collect()
    }
    assert rows.get(h10) == 5  # 3 recovered from state + 2 new, emitted once


def test_provider_stream_roundtrip_hand_values(spark):
    """The two-cron-tick streaming proof against values computed BY
    HAND: tick 1 writes the 4 distinct file-1 rows (the intra-batch
    (dev1-pm25, 11:00) duplicate collapses; the 'inv' temp row ships a
    NULL measure + flag); tick 2 adds ONLY dev2-pm10@12:00 — the
    file-1 repeat is dropped by the dedup state restored from the
    checkpoint and file 1 itself is not reprocessed (exactly-once).
    sum over measures: 15.5 + 0.25 (250 ppb) + 16.5 + 30 = 62.25 →
    62_250_000 micro-units."""
    from openaq_lcs_fetch_spark.plans import QUERIES

    r = QUERIES["provider_stream_roundtrip"].fn(spark, "/unused").collect()[0]
    assert r.r1_rows == 4
    assert r.n_rows == 5
    assert r.n_sensors == 4
    assert r.n_flagged == 1
    assert r.sum_micro == 62_250_000
    assert r.last_iso == "2024-06-01T12:00:00Z"


def test_stream_state_partitions_policy(spark, sf_dir, tmp_path):
    """State-partition sizing: derived from source bytes with a floor of
    8, capped by the session's shuffle partitions, None when the source
    is missing (keep the session conf)."""
    from openaq_lcs_fetch_spark.streaming.pipeline import (
        STATE_PARTITION_BYTES,
        stream_state_partitions,
    )

    session = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # real fixture: small source -> the floor, never above the session conf
    n = stream_state_partitions(spark, sf_dir)
    assert n is not None and 1 <= n <= session and n >= min(8, session)

    # missing source -> None (caller keeps the session default)
    assert stream_state_partitions(spark, str(tmp_path / "nope")) is None

    # a directory source: bytes summed across part files; ~3 partition
    # quanta of bytes still sits below the floor of 8
    d = tmp_path / "events.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 1024)
    assert stream_state_partitions(spark, str(tmp_path)) == min(8, session)

    # sizing math above the floor (monkey-free: a sparse file keeps this cheap)
    big = tmp_path / "big" / "events.parquet"
    big.parent.mkdir()
    with open(big, "wb") as f:
        f.seek(20 * STATE_PARTITION_BYTES - 1)
        f.write(b"\0")
    assert stream_state_partitions(spark, str(big.parent)) == min(session, 20)


def test_run_available_now_restores_session_conf(spark, tmp_path):
    """run_available_now(state_partitions=N) pins the bounded stream's
    state partitioning to N and restores the session conf afterwards;
    the result is identical to the default-partitioned run."""
    from openaq_lcs_fetch_spark.streaming.pipeline import run_available_now

    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b1.json", [
        {"sensor_node_id": "n1", "site": "A", "lat": 1.0},
        {"sensor_node_id": "n2", "site": "B", "lat": 2.0},
        {"sensor_node_id": "n2", "site": "B", "lat": 2.0},
    ])
    saved = spark.conf.get("spark.sql.shuffle.partitions")

    def counts(state_partitions):
        agg = (
            _station_stream(spark, str(src))
            .groupBy("sensor_node_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        out = run_available_now(
            agg, output_mode="complete", state_partitions=state_partitions
        )
        return sorted((r.sensor_node_id, r.n) for r in out.collect())

    sized = counts(2)
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
    assert sized == counts(None) == [("n1", 1), ("n2", 2)]
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved


def test_conf_bracket_is_concurrency_safe(spark, tmp_path):
    """Two CONCURRENT run_available_now invocations pinning DIFFERENT
    state-partition counts must each record their own count in their
    checkpoint (r14 verdict what's-wrong #2: the conf bracket mutates
    session-global state, so without _CONF_BRACKET_LOCK one thread's
    pin could leak into the other's query). Also pins the
    narrow-bracket assumption: each stream captures its pinned value
    when start() clones the session, so the value observed at start()
    time IS the value the stream keeps."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from openaq_lcs_fetch_spark.streaming.pipeline import (
        run_available_now as ran,
    )

    src = tmp_path / "in"
    src.mkdir()
    _write_jsonl(src / "b1.json", [
        {"sensor_node_id": f"n{i}", "site": "A", "lat": 1.0}
        for i in range(10)
    ])
    saved = spark.conf.get("spark.sql.shuffle.partitions")

    seen: dict[int, tuple[str, object]] = {}
    barrier = threading.Barrier(2, timeout=120)
    orig = DataStreamWriter.start

    def capturing(self, *a, **kw):
        conf_at_start = spark.conf.get("spark.sql.shuffle.partitions")
        q = orig(self, *a, **kw)
        seen[threading.get_ident()] = (conf_at_start, q)
        return q

    def run(pin):
        agg = (
            _station_stream(spark, str(src))
            .groupBy("sensor_node_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        barrier.wait()  # both threads enter the bracket region together
        out = ran(agg, output_mode="complete", state_partitions=pin)
        return threading.get_ident(), sorted(r.sensor_node_id for r in out.collect())

    DataStreamWriter.start = capturing
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            f3 = pool.submit(run, 3)
            f5 = pool.submit(run, 5)
            tid3, rows3 = f3.result(timeout=300)
            tid5, rows5 = f5.result(timeout=300)
    finally:
        DataStreamWriter.start = orig

    assert rows3 == rows5 == [f"n{i}" for i in range(10)]
    # each stream saw ITS OWN pin at clone time, not the other's
    assert seen[tid3][0] == "3"
    assert seen[tid5][0] == "5"
    # and the checkpoint recorded its own count: the state operator ran
    # with exactly the pinned shuffle-partition count
    for tid, pin in ((tid3, 3), (tid5, 5)):
        q = seen[tid][1]
        parts = {
            s.get("numShufflePartitions")
            for p in q.recentProgress
            for s in (p.get("stateOperators") or ())
        }
        assert parts == {pin}, (pin, parts)
    # the session conf is back (and was restored long before the
    # streams finished — the bracket is set -> start -> restore)
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
