"""Streaming pipelines over the events stream (SURVEY.md §2.8 T1-T6).

Mapping from the reference's cron+checkpoint model:
* T1 trigger cadence (EventBridge minute/hour/day) → ``trigger(
  processingTime=...)`` or ``availableNow`` for bounded replays;
* T2 high-water mark (MetaDetails, meta.js:22-41) → the streaming
  checkpoint dir;
* T3/T4 late + duplicate data (3h re-fetch airgradient.js:137-153,
  2-min sliding re-read habitatmap.js:128-136) → ``withWatermark`` +
  ``dropDuplicates`` within the watermark;
* T6 tumbling windows → ``window(ts, '1 hour')``.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localdf import local_df
from ..session import pinned_conf
from ..tables import normalize_ts

TRIGGER_BY_FREQUENCY = {
    "minute": "60 seconds",
    "hour": "1 hour",
    "day": "1 day",
}


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (schema fixed — stream
    sources never infer). The read schema is taken from the file's OWN
    parquet footer via a batch read, never hand-declared: the testdata's
    ts physical type has changed across rounds (TIMESTAMP(NANOS) →
    timestamp[us]) and a re-declared schema is a second copy of the same
    assumption that then breaks differently from the batch path. ts is
    normalized by the shared tables.normalize_ts, same as batch."""
    src_file = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src_file).schema
    # FileStreamSource requires a directory; the testdata table is a
    # single file → expose it through a symlink directory.
    link_dir = os.path.join(
        tempfile.gettempdir(), "spark_graft_stream", sf_dir.strip("/").replace("/", "_")
    )
    os.makedirs(link_dir, exist_ok=True)
    # re-point unconditionally: a stale link from a prior run (testdata
    # regenerated elsewhere) must not be silently reused. Symlink to a
    # temp name + atomic os.replace → no window where the link is absent.
    link = os.path.join(link_dir, "events.parquet")
    tmp_link = os.path.join(link_dir, f".events.parquet.{os.getpid()}")
    if os.path.lexists(tmp_link):
        os.remove(tmp_link)
    os.symlink(os.path.join(sf_dir, "events.parquet"), tmp_link)
    os.replace(tmp_link, link)
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .load(link_dir)
    )
    return normalize_ts(stream, "ts")


def read_events_stream_with_heartbeat(
    spark: SparkSession, sf_dir: str, horizon_days: int = 30
) -> DataFrame:
    """Events stream plus far-future HEARTBEAT rows (event_id < 0) that
    advance the event-time watermark past every real record.

    Why: outer stream-stream joins and timeout-based state only emit
    their held-back rows once the watermark passes them, and a bounded
    ``availableNow`` replay ends with the watermark still ``max(ts) -
    delay`` — the tail of the data never flushes. Production streaming
    systems solve this with heartbeat/punctuation events (Flink calls
    them watermarks-as-records; Kafka pipelines emit keepalives); we do
    the same: two sentinel files carrying one 'click' and one 'purchase'
    row each at ``max(ts) + horizon`` (the event types that feed
    watermarked branches — a type that is filtered out before its
    ``withWatermark`` node advances nothing). The final no-data
    micro-batch then evicts ALL real state, so the bounded replay is a
    complete answer, not a prefix.

    Sentinel timestamps derive from the data's own max(ts) — fully
    deterministic, no wall-clock. Callers must drop rows with any
    sentinel id (``event_id < 0`` / ``user_id < 0``) AFTER
    materializing the sink: a pre-sink filter like ``click_id >= 0``
    gets pushed below the watermark node by the optimizer and silently
    un-heartbeats the plan (measured: the click-side watermark froze at
    the last REAL click while the sentinel was filtered at the scan).

    Setup is driver-side pyarrow, NOT Spark jobs (two 2-row sentinel
    writes as Spark jobs measured 12.9 s of a 17.8 s query at sf0.1),
    and is keyed on the source file's (path, mtime, size): repeat calls
    against unchanged data reuse the on-disk sentinels for free.
    """
    src_file = os.path.join(sf_dir, "events.parquet")
    raw_schema = spark.read.parquet(src_file).schema

    link_dir = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_stream_hb",
        sf_dir.strip("/").replace("/", "_"),
    )
    os.makedirs(link_dir, exist_ok=True)

    st = os.stat(src_file)
    key = f"{os.path.realpath(src_file)}|{st.st_mtime_ns}|{st.st_size}"
    marker = os.path.join(link_dir, ".hb_key")
    try:
        fresh = open(marker).read() == key
    except OSError:
        fresh = False

    if not fresh:
        import datetime as _dt

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        link = os.path.join(link_dir, "events.parquet")
        tmp_link = os.path.join(link_dir, f".events.parquet.{os.getpid()}")
        if os.path.lexists(tmp_link):
            os.remove(tmp_link)
        os.symlink(src_file, tmp_link)
        os.replace(tmp_link, link)

        # a "table" may be a single file (the testdata layout) or a
        # Spark-written directory of part files (+ _SUCCESS markers)
        if os.path.isdir(src_file):
            import glob as _glob

            parts = sorted(_glob.glob(os.path.join(src_file, "*.parquet")))
            arrow_schema = pq.read_schema(parts[0])
            maxes = [
                pc.max(pq.read_table(p, columns=["ts"])["ts"]).as_py()
                for p in parts
            ]
            maxes = [m for m in maxes if m is not None]
            mx = max(maxes) if maxes else None
        else:
            src_tbl = pq.read_table(src_file, columns=["ts"])
            arrow_schema = pq.read_schema(src_file)
            mx = pc.max(src_tbl["ts"]).as_py()
        if mx is None:  # empty table: nothing to flush, epoch anchor
            mx = _dt.datetime(1970, 1, 1)
        if isinstance(mx, int):  # TIMESTAMP(NANOS) read as int64 epochs
            mx_dt = _dt.datetime(1970, 1, 1) + _dt.timedelta(
                microseconds=mx // 1000
            )
        else:
            mx_dt = mx.replace(tzinfo=None) if mx.tzinfo else mx

        def _write_sentinel(name: str, ts: _dt.datetime) -> None:
            cols = []
            for field in arrow_schema:
                if field.name == "ts":
                    if pa.types.is_integer(field.type):
                        v = int(
                            (ts - _dt.datetime(1970, 1, 1)).total_seconds() * 1e9
                        )
                        cols.append(pa.array([v, v], type=field.type))
                    else:
                        cols.append(pa.array([ts, ts], type=field.type))
                elif field.name == "event_id":
                    cols.append(pa.array([-1, -2], type=field.type))
                elif field.name == "user_id":
                    cols.append(pa.array([-1, -2], type=field.type))
                elif field.name == "event_type":
                    cols.append(pa.array(["click", "purchase"], type=field.type))
                else:
                    cols.append(pa.nulls(2, type=field.type))
            tmp = os.path.join(link_dir, f".tmp_{name}.{os.getpid()}")
            pq.write_table(pa.Table.from_arrays(cols, schema=arrow_schema), tmp)
            os.replace(tmp, os.path.join(link_dir, name))  # atomic into place

        # two files an hour apart: even if the no-data batch is disabled,
        # the second sentinel's batch evicts state the first one unlocked
        _write_sentinel(
            "z1_heartbeat.parquet", mx_dt + _dt.timedelta(days=horizon_days)
        )
        _write_sentinel(
            "z2_heartbeat.parquet", mx_dt + _dt.timedelta(days=horizon_days, hours=1)
        )
        tmp_marker = marker + f".{os.getpid()}"
        with open(tmp_marker, "w") as fh:
            fh.write(key)
        os.replace(tmp_marker, marker)

    stream = spark.readStream.schema(raw_schema).format("parquet").load(link_dir)
    return normalize_ts(stream, "ts")


def hourly_window_counts(stream: DataFrame) -> DataFrame:
    """T6: tumbling 1-hour window counts keyed by event_type."""
    return (
        stream.withWatermark("ts", "3 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dedup_within_watermark(stream: DataFrame, keys: list[str], delay: str = "3 hours") -> DataFrame:
    """T3/T4: idempotent re-read handling — dropDuplicates bounded by the
    watermark so state stays finite."""
    return stream.withWatermark("ts", delay).dropDuplicates(keys)


def dedup_then_hourly_counts(stream: DataFrame, delay: str = "3 hours") -> DataFrame:
    """Chained stateful operators in ONE streaming query (Spark ≥3.4):
    watermark → dropDuplicates (state #1) → tumbling-window agg
    (state #2). This is the reference's real pipeline shape — sliding
    re-reads produce duplicates (habitatmap T4) that must be removed
    BEFORE the hourly rollup — expressed without an intermediate sink.
    Both operators share the event-time watermark, so state for each is
    evicted together; at scale each keeps per-key/per-window state in
    the RocksDB state store, partitioned by key hash.

    The dedup key carries event_type so the plan and its batch oracle
    (DISTINCT event_id, ts, event_type) share the exact key — keying on
    (event_id, ts) alone would arbitrarily drop one of two rows that
    differ only in event_type while the oracle keeps both."""
    deduped = stream.withWatermark("ts", delay).dropDuplicates(
        ["event_id", "ts", "event_type"]
    )
    return deduped.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))


#: source bytes per state partition for bounded replays (see
#: stream_state_partitions) — parquet-compressed input, so the
#: in-memory state behind one partition is a low multiple of this.
STATE_PARTITION_BYTES = 32 * 1024 * 1024


def stream_state_partitions(spark: SparkSession, sf_dir: str) -> int | None:
    """Shuffle/state-store partition count for a bounded replay of the
    events stream, derived from the SOURCE SIZE instead of pinned to
    the session default (one state-store instance per session core).

    Why: every state partition costs a per-micro-batch store
    load+commit (and a task), and AQE cannot coalesce stateful
    partitioning — it is fixed at query start — so the sizing must
    happen up front from the input (guide §2.2's partition-sizing rule
    applied to streaming state; the round rule: derive from input
    size, never a constant tuned to one machine). Policy: one
    partition per ~32 MB of source parquet, floor 8 (parallelism
    margin for tiny replays), capped at the session's shuffle
    partitions (the cluster-sized value — this function only ever
    goes BELOW it, and only when the input is demonstrably small).

    Measured interleaved at sf0.1 (2 MB source → 8 partitions) vs the
    32-partition session default on an idle box (load 0.00),
    alternating arms within each of 4 rounds, best-of-4 each:
    streaming_click_nobuy 5.49→2.30 s, streaming_dedup_ww 2.82→1.48 s
    (stream-stream join / dedup carry 2-4 state stores per partition),
    streaming_hourly 1.66→0.88 s, sliding_counts 1.61→0.97 s,
    value_histogram 2.30→1.47 s — every interleaved pair favored the
    sized arm (this retires the r7/r8 fixed-8/16-partition no-go: those
    predate this round's lifecycle slimming, and were re-measured, not
    assumed). user_final_state is neutral (its cost is
    the Python stateful workers, not store count). Returns None (keep
    the session conf) when the source size cannot be determined.
    """
    import math

    path = os.path.join(sf_dir, "events.parquet")
    try:
        if os.path.isdir(path):
            nbytes = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _dirs, files in os.walk(path)
                for f in files
                if f.endswith(".parquet")
            )
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        return None  # unknown source size: keep the session default
    session = int(spark.conf.get("spark.sql.shuffle.partitions") or 200)
    return min(session, max(8, math.ceil(nbytes / STATE_PARTITION_BYTES)))


def run_available_now(
    result: DataFrame,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a bounded streaming query through a foreachBatch bridge
    and return the materialized result as a batch DataFrame (the
    driver-facing bridge).

    foreachBatch + per-batch ``localCheckpoint`` instead of the memory
    sink (r15; r14 verdict task #5). The memory sink collects every
    batch's rows to the driver JVM and re-registers its table per
    batch; checkpointing each batch keeps the rows as block-manager
    blocks and the bridge returns their union — no per-batch sink
    commit, no driver row copy, no JVM↔Python round trip (a
    collect-and-rebuild bridge variant was A/B'd too: it wins on small
    outputs but pays per-row Python conversion on large ones —
    streaming_value_histogram 2.9-3.3 s vs 1.6-1.8 s checkpointed).
    Interleaved A/B vs the memory sink at sf0.1 is in
    OPTIMIZATION_r15.md (every streaming query flat-or-faster). The
    result stays bounded exactly as before — the memory sink held the
    same rows on the driver.

    ``state_partitions`` (usually ``stream_state_partitions(...)``)
    right-sizes the query's shuffle/state partitioning to its input.
    It is pinned with ``session.pinned_conf`` around ``start()`` only:
    the stream clones the session inside ``start()`` (StreamExecution's
    ``sparkSessionForStream = sparkSession.cloneSession()``) and keeps
    the pinned count after the restore (see
    test_conf_bracket_is_concurrency_safe). Pins cannot race each
    other and nothing leaks into later queries, but a batch job that
    another thread plans inside the set → start → restore window still
    sees the pin.
    """
    if output_mode not in ("append", "update", "complete"):
        raise ValueError(f"unsupported output_mode {output_mode!r}")
    spark = result.sparkSession
    schema = result.schema
    frames: list[DataFrame] = []

    def _sink(df: DataFrame, _batch_id: int) -> None:
        # materialize the micro-batch result before the batch ends —
        # the checkpointed blocks outlive the streaming query
        frames.append(df.localCheckpoint())

    writer = (
        result.writeStream.foreachBatch(_sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    pin = {}
    if state_partitions is not None:
        pin["spark.sql.shuffle.partitions"] = str(state_partitions)
    with pinned_conf(spark, pin):
        q = writer.start()  # the stream clones the session HERE
    q.awaitTermination()
    if output_mode == "complete":
        # complete mode re-emits the FULL result each batch (the memory
        # sink replaced its table) — keep the last emission only
        frames_out = frames[-1:]
    else:
        # append emits finalized rows once; update emits each key's
        # refreshed row per batch — union in batch order reproduces
        # the memory sink's append-per-batch table exactly
        frames_out = frames
    if not frames_out:
        return local_df(spark, [], schema)
    out = frames_out[0]
    for f in frames_out[1:]:
        out = out.unionAll(f)
    return out
