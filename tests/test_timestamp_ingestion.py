"""Pinned regression tests for the timestamp ingestion boundary.

Round 2's only red root cause: the driver's ``events.parquet`` changed
physical type across rounds (TIMESTAMP(NANOS)-read-as-long in round 1,
``timestamp[us]``/TIMESTAMP_NTZ in round 2) and the repo hard-assumed
one shape. These tests pin the contract: ``tables.normalize_ts``
accepts ALL THREE parquet timestamp shapes and every integer time axis
goes through the NTZ-safe ``functions.timestamps.micros`` helper.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from openaq_lcs_fetch_spark.functions.timestamps import micros
from openaq_lcs_fetch_spark.tables import load, normalize_ts

# one unambiguous instant: 2024-01-02 03:04:05.123456 UTC
_US = 1704164645123456


def _write(tmp_path, arrow_type, version="2.6") -> str:
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([_US, _US + 1_000_000], pa.timestamp("us")).cast(
                arrow_type
            ),
        }
    )
    path = os.path.join(str(tmp_path), "events.parquet")
    pq.write_table(tbl, path, version=version)
    return path


@pytest.mark.parametrize(
    "arrow_type,expect_raw",
    [
        (pa.timestamp("us"), "timestamp_ntz"),  # round-2 testdata shape
        (pa.timestamp("us", tz="UTC"), "timestamp"),  # adjusted-to-UTC
        (pa.timestamp("ns"), "bigint"),  # round-1 shape (nanosAsLong)
    ],
)
def test_normalize_ts_handles_every_parquet_shape(
    spark, tmp_path, arrow_type, expect_raw
):
    path = _write(tmp_path, arrow_type)
    raw = spark.read.parquet(path)
    assert dict(raw.dtypes)["ts"] == expect_raw
    df = normalize_ts(raw, "ts")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r.us for r in df.select(micros(F.col("ts")).alias("us")).collect()]
    assert sorted(got) == [_US, _US + 1_000_000]


def test_micros_is_ntz_safe(spark, tmp_path):
    """micros() must work directly on a TIMESTAMP_NTZ column — raw
    F.unix_micros raises DATATYPE_MISMATCH there (the round-2 bench
    crash)."""
    path = _write(tmp_path, pa.timestamp("us"))
    raw = spark.read.parquet(path)  # ts is timestamp_ntz
    got = [r.us for r in raw.select(micros(F.col("ts")).alias("us")).collect()]
    assert sorted(got) == [_US, _US + 1_000_000]


def test_load_events_always_yields_timestamp(spark, sf_dir):
    """Whatever the driver's current testdata stores, the events table
    reaches every operator as plain TIMESTAMP."""
    df = load(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_load_schema_cache_is_metadata_only(spark, sf_dir):
    """``load``'s per-process file-metadata cache (r14: skips the
    per-call parquet footer-inference job) must hold StructType METADATA
    only, change neither schema nor rows, and key per resolved file so a
    different scale factor re-infers its own schema."""
    from pyspark.sql.types import StructType

    from openaq_lcs_fetch_spark import tables

    key = os.path.realpath(os.path.join(str(sf_dir), "nation.parquet"))
    tables._FILE_META_CACHE.pop(key, None)
    cold = load(spark, sf_dir, "nation")
    assert key in tables._FILE_META_CACHE
    assert isinstance(tables._FILE_META_CACHE[key]._schema, StructType)
    warm = load(spark, sf_dir, "nation")
    assert warm.schema == cold.schema
    assert sorted(map(tuple, warm.collect())) == sorted(
        map(tuple, cold.collect())
    )
    other = "/root/testdata/sf0.001"
    if os.path.isdir(other) and os.path.realpath(other) != os.path.realpath(
        str(sf_dir)
    ):
        load(spark, other, "nation")
        assert (
            os.path.realpath(os.path.join(other, "nation.parquet"))
            in tables._FILE_META_CACHE
        )


def test_spread_scan_is_size_gated_and_row_preserving(spark, sf_dir):
    """``load(spread=True)`` must (a) keep rows identical, (b) widen a
    small single-row-group file to a BYTE-DERIVED width capped at the
    session's parallelism (r15: ceil(size / _SPREAD_TASK_BYTES), so a
    near-empty table no longer fans to ``cores`` single-row tasks), and
    (c) be a NO-OP when the file is big enough to yield its own splits —
    the gate that makes the spread scale-adaptive instead of a
    local-mode constant."""
    from openaq_lcs_fetch_spark import tables

    plain = load(spark, sf_dir, "supplier")
    spread = load(spark, sf_dir, "supplier", spread=True)
    assert sorted(map(tuple, spread.collect())) == sorted(
        map(tuple, plain.collect())
    )
    cores = spark.sparkContext.defaultParallelism
    path = os.path.join(str(sf_dir), "supplier.parquet")
    size = os.path.getsize(path)
    want = min(cores, -(-size // tables._SPREAD_TASK_BYTES) or 1)
    assert spread.rdd.getNumPartitions() == want
    # the cached entry of the unchanged file is what load() reads: fake
    # its size, then put the real one back
    meta = tables.file_meta(path)
    try:
        # width: a file worth >= cores tasks spreads to exactly cores
        meta.size = cores * tables._SPREAD_TASK_BYTES
        assert (
            load(spark, sf_dir, "supplier", spread=True).rdd.getNumPartitions()
            == cores
        )
        # width: a near-empty file spreads to ONE task, not cores
        meta.size = 1
        assert (
            load(spark, sf_dir, "supplier", spread=True).rdd.getNumPartitions()
            == 1
        )
        # gate: pretend the file is huge — the spread must decline
        meta.size = cores * tables._SPREAD_MIN_SPLIT_BYTES
        gated = load(spark, sf_dir, "supplier", spread=True)
        assert gated.rdd.getNumPartitions() == plain.rdd.getNumPartitions()
    finally:
        meta.size = size


def test_file_meta_follows_a_file_rewritten_in_place(spark, tmp_path, monkeypatch):
    """A parquet file rewritten at the same path (new schema, size and
    row count) is read again, never served from the metadata cache:
    ``load`` sees the new schema, the ``spread=True`` width follows the
    new size, and the graph broadcast gate the new footer row count."""
    from openaq_lcs_fetch_spark import tables
    from openaq_lcs_fetch_spark.plans import relational_adv

    monkeypatch.setattr(relational_adv, "_NODE_BCAST_MAX_ROWS", 10)
    cores = spark.sparkContext.defaultParallelism
    sf = str(tmp_path)
    path = os.path.join(sf, "part.parquet")

    def write(n_rows, cols):
        tbl = pa.table({c: pa.array(range(n_rows), pa.int64()) for c in cols})
        pq.write_table(tbl, path, compression="none", use_dictionary=False)
        return min(cores, -(-os.path.getsize(path) // tables._SPREAD_TASK_BYTES))

    widths = []
    for n_rows, cols, fits in (
        (5, ["p_partkey"], True),
        (3000, ["p_partkey", "p_size", "p_brand_id"], False),
    ):
        width = write(n_rows, cols)
        widths.append(width)
        df = load(spark, sf, "part")
        assert df.columns == cols
        assert df.count() == n_rows
        assert load(spark, sf, "part", spread=True).rdd.getNumPartitions() == width
        gate = relational_adv._graph_node_broadcaster(sf)
        assert (gate is F.broadcast) == fits, (n_rows, gate)
    # the rewrite moved the spread width too (not just the schema)
    assert widths[0] == 1 and (cores == 1 or widths[1] > 1), widths


def test_streaming_schema_tracks_the_file(spark, sf_dir):
    """The stream read schema must come from the file's own footer (one
    shared assumption with the batch path), and ts must arrive
    normalized — the round-2 streaming failure was a hand-declared
    LongType ts diverging from the actual file."""
    from openaq_lcs_fetch_spark.streaming.pipeline import read_events_stream

    stream = read_events_stream(spark, sf_dir)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    batch_cols = set(load(spark, sf_dir, "events").columns)
    assert set(stream.columns) == batch_cols


def test_asof_join_on_ntz_input(spark, tmp_path):
    """The bucketed as-of join must accept an NTZ events table end to
    end (regression: asof_calibration err in CORRECTNESS_r02)."""
    from openaq_lcs_fetch_spark.operators.asof import asof_join

    path = _write(tmp_path, pa.timestamp("us"))
    left = spark.read.parquet(path).withColumnRenamed("event_id", "id")
    right = (
        spark.read.parquet(path)
        .select(
            F.lit("k").alias("key"),
            (F.col("ts") - F.expr("INTERVAL 1 SECOND")).alias("ts"),
            F.col("event_id").cast("double").alias("factor"),
        )
    )
    left = left.withColumn("key", F.lit("k"))
    out = asof_join(
        left, right, key="key", ts="ts", value_cols=["factor"],
        bucket_seconds=3600,
    ).collect()
    assert len(out) == 2
    assert all(r.asof_factor is not None for r in out)
