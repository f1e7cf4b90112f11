"""Streaming flavor of a provider pipeline (SURVEY.md Phase 3).

The same transform that runs in the batch provider runs here on a
``readStream`` input — the engine's dataflows are trigger-agnostic:

    cron + checkpoint (reference)  ≙  trigger + checkpointLocation
    re-fetch overlap (T3/T4)       ≙  withWatermark + dropDuplicates
    per-frequency cadence (T1)     ≙  TRIGGER_BY_FREQUENCY
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import source_label
from ..providers.keyed_map import RAW_SCHEMA, provider_dim, transform_measures
from ..session import pinned_conf
from .pipeline import TRIGGER_BY_FREQUENCY


def keyed_map_stream(spark: SparkSession, config: dict[str, Any]) -> DataFrame:
    """readStream twin of KeyedMapProvider.process — returns the
    streaming measures DataFrame (caller picks the sink).

    Per-provider fidelity (meta.lookup / unit_filter / hour-ending
    shift) rides through the SAME provider_dim + transform_measures the
    batch path uses, so a config means one thing regardless of trigger.
    The bounded last-K row windows are batch-only semantics (they need
    a total view of the feed) and do not apply on a stream; the
    watermark + dropDuplicates below covers the overlap-dedup role."""
    meta = config.get("meta", {})
    raw = spark.readStream.schema(RAW_SCHEMA).json(meta["path"])
    raw = raw.filter(F.col("device_id").isNotNull())  # miri.js:74
    measures = transform_measures(
        raw, provider_dim(spark, config), source_label(config), meta
    )
    # T3/T4: bound duplicate state by the allowed lateness
    return measures.withWatermark("timestamp", meta.get("lateness", "3 hours")).dropDuplicates(
        ["sensor_id", "timestamp"]
    )


def start_to_parquet(
    measures: DataFrame,
    out_path: str,
    checkpoint: str,
    frequency: str = "hour",
    available_now: bool = False,
    state_partitions: int | None = None,
):
    """writeStream with the reference's cadence model (T1): the source
    frequency picks the processing-time trigger; availableNow drains a
    bounded backlog (≙ one cron invocation).

    ``state_partitions`` (config ``meta.state_partitions``) sizes the
    stream's shuffle/state-store partitioning to the SOURCE's per-batch
    volume instead of the session default: a per-provider control feed
    of pages/rows does not need one state-store instance per session
    core, and each extra instance costs a per-micro-batch load+commit
    (measured interleaved at the fixture scale: 32→4 instances ≈ −25%
    per invocation; the sf0.1 *data* streams measured the opposite —
    see bench.py — which is exactly why this is per-source data, not a
    global knob). Spark fixes the count in the checkpoint's offset
    metadata at first start, so it only applies to a bounded
    ``available_now`` run; later restarts inherit the checkpointed
    value regardless of the session conf. The pin is held with
    ``session.pinned_conf`` around ``start()`` only — the stream clones
    the session there — so the conf is back before this returns,
    while the query runs; a batch job that another thread plans inside
    that short window still sees the pin.

    An ``available_now`` drain runs no no-data micro-batch (the same
    pin turns ``spark.sql.streaming.noDataMicroBatches.enabled`` off):
    the plan's only stateful operator is the watermark
    ``dropDuplicates`` of ``keyed_map_stream``, which emits a row the
    first time it sees it, so that trailing batch would only evict
    state. Eviction moves to the next drain's first batch and the
    output is the same. ``pipeline.run_available_now`` keeps the batch:
    its append-mode window aggregates emit closed windows in it."""
    pin = {}
    if available_now:
        pin["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
        if state_partitions is not None:
            pin["spark.sql.shuffle.partitions"] = str(state_partitions)
    writer = (
        measures.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=TRIGGER_BY_FREQUENCY[frequency])
    with pinned_conf(measures.sparkSession, pin):
        return writer.start()
