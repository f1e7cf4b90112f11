"""Sink/checkpoint round-trip queries — driver-verifiable proofs for
the §2 rows that were previously pytest-only (K1 CSV sink, K2 JSON
v0.1 sink, K3 diff-upsert station sink, K4 checkpoint store).

Shape: each query drives the REAL sink (the same code a production run
uses) into a throwaway temp dir, reads the written artifact back with
an explicit schema, reduces it to a small deterministic aggregate, and
pins that aggregate against a DuckDB oracle that computes the same
numbers straight from the source tables. A hash match is therefore a
proof that the sink round-trip is lossless — serialization format,
header/partition layout, null-stripping and all — not just that the
sink "ran".

Temp-dir hygiene: the readback aggregate is ``localCheckpoint()``-ed
(eager, a handful of rows into the block manager) so the temp dir can
be deleted BEFORE the DataFrame is returned; nothing lazy ever points
at the throwaway path. The only driver-side scalars are the sink
return dicts themselves (upsert counters, checkpoint high-water marks)
and the run-log query's source list (the scheduler's own per-source
loop, X3 — bounded by the number of SOURCES, never by data volume) —
the same documented boundary as ``sources/checkpoint.py``.

At 100 TB the sinks already scale (K2 shards its collect_list payloads,
K3 is one hash-partitioned join on the station key); these queries run
them at testdata size purely to make their CONTRACT hash-verifiable
round over round.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ids import sensor_id
from ..sinks.measures import assemble_v01, write_measures_csv, write_measures_json
from ..sinks.stations import diff_upsert
from ..sources.checkpoint import CheckpointStore, advance, incremental_predicate
from ..localdf import local_df
from .registry import query, t

_ISO = "yyyy-MM-dd'T'HH:mm:ss'Z'"

# ---------------------------------------------------------------------------
# measures_csv_roundtrip — K1 (reference providers.js:141-159, header
# measure.js:13-17) + C3 ingest ids + C5 ISO timestamps. Writes every
# non-NaN event through the gzipped-CSV measures sink, reads the CSV
# back (explicit schema, per-file headers stripped), and reduces to
# count / distinct-sensor / exact-cents / ISO min-max. The min/max of
# the FORMATTED strings equals the formatted min/max instant because
# second-truncation is monotone — pinned against the oracle formatting
# the true timestamps directly.
# ---------------------------------------------------------------------------

_CSV_RT_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(COUNT(DISTINCT 'events-' || CAST(user_id AS VARCHAR) || '-' || event_type)
       AS BIGINT) AS n_sensors,
  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
  strftime(MIN(ts), '%Y-%m-%dT%H:%M:%SZ') AS first_iso,
  strftime(MAX(ts), '%Y-%m-%dT%H:%M:%SZ') AS last_iso
FROM events
WHERE NOT isnan(value)
"""


@query("measures_csv_roundtrip", _CSV_RT_ORACLE)
def measures_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    measures = (
        t(spark, sf_dir, "events")
        .filter(~F.isnan("value"))
        .select(
            sensor_id(F.lit("events"), "user_id", "event_type").alias("sensor_id"),
            F.col("value").alias("measure"),
            F.col("ts").alias("timestamp"),
        )
    )
    root = tempfile.mkdtemp(prefix="sgq_csv_rt_")
    try:
        path = write_measures_csv(measures, root, "bench")
        back = (
            spark.read.schema("sensor_id string, measure double, timestamp string")
            .option("header", "true")
            .csv(path)
        )
        out = back.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("sensor_id").cast("long").alias("n_sensors"),
            # cents are integers after the round — the sum is exact and
            # order-independent in plain LONG, and the CSV double
            # round-trip (shortest-repr write, exact parse) is lossless
            F.sum(F.round(F.col("measure") * 100, 0).cast("long"))
            .cast("long")
            .alias("sum_cents"),
            F.min("timestamp").alias("first_iso"),
            F.max("timestamp").alias("last_iso"),
        ).localCheckpoint()  # eager: frees the temp dir below
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# measures_json_roundtrip — K2 v0.1 envelope (providers.js:168-185,
# payload shape clarity.js:177-190) + R5 nested assembly + C12 null
# strip. Assembles sharded {meta, measures[], locations[]} payload rows
# (n_shards=4) for purchase events with a nation-derived location dim,
# writes the day-partitioned gzipped JSON, reads it back with an
# explicit schema, and verifies per day: the 4-payload grid contract,
# total nested measures, total nested location rows (each location in
# exactly ONE shard per day), and the exact cents reduced INSIDE the
# nested array with a higher-order aggregate — no explode, the payload
# is verified in its shipped shape.
# ---------------------------------------------------------------------------

_JSON_RT_ORACLE = """
SELECT
  strftime(ts, '%Y-%m-%d') AS day,
  CAST(4 AS BIGINT) AS n_payloads,
  CAST(COUNT(*) AS BIGINT) AS n_measures,
  CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_location_rows,
  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
WHERE event_type = 'purchase' AND NOT isnan(value)
GROUP BY 1
"""


@query("measures_json_roundtrip", _JSON_RT_ORACLE)
def measures_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    measures = (
        t(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & ~F.isnan("value"))
        .select(
            sensor_id(F.lit("events"), "user_id", "event_type").alias("sensor_id"),
            F.col("value").alias("measure"),
            F.col("ts").alias("timestamp"),
        )
    )
    locations = t(spark, sf_dir, "nation").select(
        F.col("n_name").alias("location"),
        F.col("n_name").alias("label"),
        (F.col("n_nationkey") % 2 == 0).alias("ismobile"),
        (F.col("n_nationkey") * F.lit(1.5)).alias("lon"),
        (F.col("n_regionkey") * F.lit(10.0)).alias("lat"),
    )
    payload = assemble_v01(measures, locations, source="events", n_shards=4)
    root = tempfile.mkdtemp(prefix="sgq_json_rt_")
    try:
        path = write_measures_json(payload, root, "bench")
        back = spark.read.schema(
            "meta struct<schema:string,source:string,matching_method:string>,"
            " measures array<struct<sensor_id:string,measure:double,"
            "timestamp:string,flags:map<string,string>>>,"
            " locations array<struct<location:string,label:string,"
            "ismobile:boolean,lon:double,lat:double>>,"
            " day string"
        ).json(path)
        out = (
            back.groupBy("day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_payloads"),
                F.sum(F.size("measures")).cast("long").alias("n_measures"),
                F.sum(F.size("locations")).cast("long").alias("n_location_rows"),
                F.sum(
                    F.expr(
                        "aggregate(measures, 0L,"
                        " (acc, m) -> acc + CAST(ROUND(m.measure * 100, 0) AS LONG))"
                    )
                )
                .cast("long")
                .alias("sum_cents"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# station_upsert_flow — K3 diff-upsert + J5 write elision (reference
# providers.js:94-132: read current object, skip byte-identical PUTs).
# Seeds a parquet station store from the supplier dim, re-upserts a
# second batch where only the negative-balance stations changed, and
# verifies BOTH the sink's own counters (seed written, update written,
# update elided) and the final store contents read back from disk —
# the changed rows replaced, the unchanged rows carried over once.
# ---------------------------------------------------------------------------

_UPSERT_ORACLE = """
SELECT
  CAST(COUNT(*) AS BIGINT) AS total,
  CAST(SUM(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
  CAST(COUNT(*) AS BIGINT) AS seed_written,
  CAST(SUM(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS upd_written,
  CAST(SUM(CASE WHEN s_acctbal >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS upd_skipped
FROM supplier
"""


@query("station_upsert_flow", _UPSERT_ORACLE)
def station_upsert_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    stations_v1 = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("station"),
        F.col("s_name").alias("label"),
        F.col("s_nationkey").cast("int").alias("nation"),
        F.col("s_acctbal").alias("balance"),
    )
    # second batch: deterministic change on the negative-balance subset
    stations_v2 = stations_v1.withColumn(
        "label",
        F.when(
            F.col("balance") < 0, F.concat(F.col("label"), F.lit("*"))
        ).otherwise(F.col("label")),
    )
    root = tempfile.mkdtemp(prefix="sgq_upsert_")
    try:
        store = f"{root}/stations"
        r1 = diff_upsert(spark, stations_v1, store, "station")
        r2 = diff_upsert(spark, stations_v2, store, "station")
        back = spark.read.parquet(store)
        out = (
            back.agg(
                F.count(F.lit(1)).cast("long").alias("total"),
                F.sum(
                    F.when(F.col("label").endswith("*"), 1).otherwise(0)
                )
                .cast("long")
                .alias("n_updated"),
            )
            .select(
                "total",
                "n_updated",
                F.lit(r1["written"]).cast("long").alias("seed_written"),
                F.lit(r2["written"]).cast("long").alias("upd_written"),
                F.lit(r2["skipped_unchanged"]).cast("long").alias("upd_skipped"),
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# checkpoint_roundtrip — K4 checkpoint store + T2 incremental progress
# + A2 high-water mark (reference fetcher/lib/meta.js:11-43, cmu.js:
# 56-61,109-114). Processes the even-event-id half as "run 1", saves
# its high-water mark through the REAL atomic JSON store, reloads it,
# bounds "run 2" with the pushdown-friendly ts > hwm predicate, and
# advances again. Verifies the saved/reloaded marks and the
# incremental row count; the final mark must equal the global max
# (advance never regresses). Output stays lazy over the source table —
# nothing points at the temp store after the marks are read.
# ---------------------------------------------------------------------------

_CKPT_ORACLE = """
WITH h1 AS (SELECT MAX(ts) AS hwm FROM events WHERE event_id % 2 = 0)
SELECT
  h1.hwm AS hwm_first,
  CAST((SELECT COUNT(*) FROM events WHERE ts > h1.hwm) AS BIGINT)
    AS n_incremental,
  COALESCE((SELECT MAX(ts) FROM events WHERE ts > h1.hwm), h1.hwm)
    AS hwm_final
FROM h1
"""


@query("checkpoint_roundtrip", _CKPT_ORACLE)
def checkpoint_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="sgq_ckpt_")
    try:
        store = CheckpointStore(root)
        run1 = e.filter(F.col("event_id") % 2 == 0)
        ck1 = advance(store, "events", run1, "ts")
        loaded = store.load("events")  # the reload a real run performs
        incremental = e.filter(
            incremental_predicate(F.col("ts"), loaded, "1970-01-01")
        )
        ck2 = advance(store, "events", incremental, "ts")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return incremental.agg(
        F.count(F.lit(1)).cast("long").alias("n_incremental")
    ).select(
        F.lit(ck1.get("high_water_mark")).cast("timestamp").alias("hwm_first"),
        "n_incremental",
        F.lit(ck2.get("high_water_mark")).cast("timestamp").alias("hwm_final"),
    )


# ---------------------------------------------------------------------------
# run_log_roundtrip — K5 run-log sink + A3 run summaries (reference
# providers.js:59-71 SNS publish from fetcher/index.js:29-34;
# clarity.js:192-208 summary counters). One run per event_type plays
# one run per source: one grouped aggregate computes the counters that
# summarize() observes on a run's measures write, publish() writes the
# structured row from the driver as its own file in the parquet status
# table (no Spark job), and the readback — run_ts dropped, it is
# wall-clock by contract — must reproduce every counter exactly. Proves
# the log table is a faithful, queryable record of what each run
# processed.
# ---------------------------------------------------------------------------

_RUNLOG_ORACLE = """
SELECT
  event_type AS source,
  'success' AS status,
  CAST(COUNT(*) AS BIGINT) AS n_measures,
  MIN(ts) AS from_ts,
  MAX(ts) AS to_ts
FROM events
WHERE NOT isnan(value)
GROUP BY 1
"""


@query("run_log_roundtrip", _RUNLOG_ORACLE)
def run_log_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.log import publish

    e = (
        t(spark, sf_dir, "events")
        .filter(~F.isnan("value"))
        .select(
            "event_type",
            F.col("value").alias("measure"),
            F.col("ts").alias("timestamp"),
        )
    )
    # ONE grouped aggregate computes every source's run counters — the
    # per-source numbers summarize() observes on each run's measures
    # write (count / min ts / max ts over the same rows), in one job
    # rather than one per source. The log WRITES stay one publish()
    # per source — the sink behavior under test is unchanged.
    summaries = (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("timestamp").alias("from_ts"),
            F.max("timestamp").alias("to_ts"),
        )
        .collect()
    )
    out_schema = (
        "source string, status string, n_measures long,"
        " from_ts timestamp, to_ts timestamp"
    )
    if not summaries:  # zero runs → zero log rows (an empty day partition)
        return local_df(spark, [], out_schema)
    root = tempfile.mkdtemp(prefix="sgq_runlog_")
    try:
        log_path = f"{root}/runlog"
        # one run per source, like the scheduler
        for s in sorted(summaries, key=lambda r: r["event_type"]):
            publish(
                spark,
                log_path,
                source=s["event_type"],
                status="success",
                n_measures=s["n"],
                from_ts=s["from_ts"],
                to_ts=s["to_ts"],
            )
        out = (
            spark.read.parquet(log_path)
            .select("source", "status", "n_measures", "from_ts", "to_ts")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# run_source_roundtrip — the §3.1 lifecycle COMPOSED: one call to
# ``Engine.run_source`` (reference fetcher/index.js:12-35, the Lambda
# invocation) runs provider dispatch → incremental bound → measures CSV
# sink → station diff-upsert → checkpoint advance → run-log publish, on
# a deterministic wide-CSV fixture, TWICE. Every piece already has its
# own driver proof (provider_pipeline_flow, measures_csv_roundtrip,
# station_upsert_flow, checkpoint_roundtrip, run_log_roundtrip); this
# pins what the pieces can't — the ORDER and the counter wiring: run 1
# ingests all 6 long rows (5 values + 1 sentinel flag) and writes 2
# stations, run 2 re-reads the same feed and the checkpoint bound
# (meta.incremental, T2) drops every row BEFORE the counters, the
# diff-upsert elides both unchanged stations (J5), the high-water mark
# holds (advance never regresses on an empty batch), and the run log
# records two successes. The sink readback (5 CSV rows after BOTH
# runs, exact micro-units) proves run 2 appended nothing.
# ---------------------------------------------------------------------------

_RUN_SOURCE_ORACLE = r"""
WITH raw(station, ts, input_param, raw_value) AS (
  VALUES
    ('st1', '2024-06-01 10_00', 'CO',  '400'),
    ('st1', '2024-06-01 10_00', 'NO2', '12'),
    ('st1', '2024-06-01 11_00', 'CO',  'NaN'),
    ('st1', '2024-06-01 11_00', 'NO2', '14'),
    ('st2', '2024-06-01 10_00', 'CO',  '8.25'),
    ('st2', '2024-06-01 10_00', 'NO2', '7')
),
cleaned AS (
  SELECT station, input_param,
    CASE WHEN raw_value IN ('NaN', 'n/a', 'inv', 'null', 'undefined')
         THEN NULL ELSE CAST(raw_value AS DOUBLE) END AS value,
    CASE WHEN raw_value IN ('NaN', 'n/a', 'inv', 'null', 'undefined')
         THEN raw_value END AS sentinel,
    timezone('UTC', timezone('America/New_York',
                             strptime(ts, '%Y-%m-%d %H_%M')))
      - INTERVAL 15 MINUTE AS ts_utc
  FROM raw
)
SELECT
  CAST(COUNT(*) AS BIGINT) AS r1_measures,
  CAST(COUNT(DISTINCT station) AS BIGINT) AS r1_stations,
  CAST(COUNT(DISTINCT station) AS BIGINT) AS r1_written,
  MAX(ts_utc) AS hwm1,
  CAST(0 AS BIGINT) AS r2_measures,
  CAST(0 AS BIGINT) AS r2_written,
  CAST(COUNT(DISTINCT station) AS BIGINT) AS r2_skipped,
  MAX(ts_utc) AS hwm2,
  CAST(2 AS BIGINT) AS n_success,
  CAST(SUM(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_csv_rows,
  CAST(SUM(CAST(ROUND(value * 0.001 * 1000000, 0) AS BIGINT)) AS BIGINT)
    AS sum_micro
FROM cleaned
WHERE value IS NOT NULL OR sentinel IS NOT NULL
"""


@query("run_source_roundtrip", _RUN_SOURCE_ORACLE)
def run_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..engine import Engine

    root = tempfile.mkdtemp(prefix="sgq_runsource_")
    try:
        data = os.path.join(root, "wide.csv")
        with open(data, "w") as fh:
            fh.write("Anon_Name,Site_Name,Timestamp,Lat,Lon,CO,NO2\n")
            fh.write("st1,Site A,2024-06-01 10_00,40.1,-75.2,400,12\n")
            fh.write("st1,Site A,2024-06-01 11_00,40.1,-75.2,NaN,14\n")
            fh.write("st2,Site B,2024-06-01 10_00,41.0,-76.0,8.25,7\n")
        config = {
            "schema": "v1",
            "provider": "wide_csv",
            "frequency": "hour",
            "active": True,
            "meta": {
                "path": data,
                "params": "CO,NO2",
                "lookup": [["CO", "co", "ppb"], ["NO2", "no2", "ppb"]],
                "source_name": "runsource_fixture",
                "incremental": True,
            },
        }
        out_root = os.path.join(root, "out")
        eng = Engine(spark)
        log1 = eng.run_source(config, out_root)
        log2 = eng.run_source(config, out_root)
        back = (
            spark.read.schema("sensor_id string, measure double, timestamp string")
            .option("header", "true")
            .csv(log1["measures_path"])
        )
        n_success = (
            spark.read.parquet(f"{out_root}/runlog")
            .filter(F.col("status") == "fetcher/success")
            .count()
        )
        out = (
            back.agg(
                F.count(F.lit(1)).cast("long").alias("n_csv_rows"),
                # micro-units are integers after the round — exact,
                # order-independent, and the CSV double round-trip
                # (shortest-repr write, exact parse) is lossless
                F.sum(F.round(F.col("measure") * 1000000, 0).cast("long"))
                .cast("long")
                .alias("sum_micro"),
            )
            .select(
                F.lit(log1["n_measures"]).cast("long").alias("r1_measures"),
                F.lit(log1["n_stations"]).cast("long").alias("r1_stations"),
                F.lit(log1["stations"]["written"]).cast("long").alias("r1_written"),
                F.lit(log1["checkpoint"]["high_water_mark"])
                .cast("timestamp")
                .alias("hwm1"),
                F.lit(log2["n_measures"]).cast("long").alias("r2_measures"),
                F.lit(log2["stations"]["written"]).cast("long").alias("r2_written"),
                F.lit(log2["stations"]["skipped_unchanged"])
                .cast("long")
                .alias("r2_skipped"),
                F.lit(log2["checkpoint"]["high_water_mark"])
                .cast("timestamp")
                .alias("hwm2"),
                F.lit(n_success).cast("long").alias("n_success"),
                "n_csv_rows",
                "sum_micro",
            )
            .localCheckpoint()  # eager: frees the temp dirs below
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# scheduler_tick_roundtrip — the TOP of §3.1 composed: scheduler tick →
# per-frequency gating (T1) → one isolated engine.run_source per due
# source (X3) → shared run-log table. Reference: EventBridge rate rules
# (cdk/stack.ts:109-141) → SQS batchSize 1 → one Lambda per source
# (scheduler/index.js:5-25); a failing source publishes fetcher/error
# and blocks nothing. Two ticks on a four-config registry: minute
# source A (runs both ticks; incremental, so tick 2 ingests nothing),
# hour source B (due only at minute_of_day % 60 == 0), minute source C
# with a missing feed (isolated error both ticks), inactive D (never
# grouped). Verified: per-tick due counts, the run-log status census,
# and both sinks' readbacks — if the cadence math, the isolation, or
# the shared-log wiring were wrong, some column flips and the hash
# breaks.
# ---------------------------------------------------------------------------

_SCHED_TICK_ORACLE = r"""
WITH a(param, raw_value) AS (VALUES ('CO', '400'), ('NO2', '12')),
b(param, raw_value) AS (VALUES ('CO', '8.25'))
SELECT
  CAST(2 AS BIGINT) AS tick1_due,   -- A + C (hour gate closed at :01)
  CAST(3 AS BIGINT) AS tick2_due,   -- A + B + C (minute_of_day 120)
  CAST(3 AS BIGINT) AS n_success,   -- A twice, B once
  CAST(2 AS BIGINT) AS n_error,     -- C both ticks, isolated
  (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS a_rows,
  (SELECT CAST(SUM(CAST(ROUND(CAST(raw_value AS DOUBLE) * 0.001 * 1000000,
                              0) AS BIGINT)) AS BIGINT) FROM a)
    AS a_sum_micro,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS b_rows,
  (SELECT CAST(SUM(CAST(ROUND(CAST(raw_value AS DOUBLE) * 0.001 * 1000000,
                              0) AS BIGINT)) AS BIGINT) FROM b)
    AS b_sum_micro
"""


@query("scheduler_tick_roundtrip", _SCHED_TICK_ORACLE)
def scheduler_tick_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..engine import Engine
    from ..scheduler import by_frequency, run_tick

    root = tempfile.mkdtemp(prefix="sgq_schedtick_")
    try:
        def _feed(name: str, rows: list[str]) -> str:
            path = os.path.join(root, name)
            with open(path, "w") as fh:
                fh.write("Anon_Name,Site_Name,Timestamp,Lat,Lon,CO,NO2\n")
                fh.writelines(r + "\n" for r in rows)
            return path

        def _cfg(source: str, freq: str, path: str, active: bool = True,
                 params: str = "CO,NO2") -> dict:
            return {
                "schema": "v1",
                "provider": "wide_csv",
                "frequency": freq,
                "active": active,
                "meta": {
                    "path": path,
                    "params": params,
                    "lookup": [["CO", "co", "ppb"], ["NO2", "no2", "ppb"]],
                    "source_name": source,
                    "incremental": True,
                },
            }

        a_path = _feed("a.csv", ["st1,Site A,2024-06-01 10_00,40.1,-75.2,400,12"])
        b_path = _feed("b.csv", ["st2,Site B,2024-06-01 10_00,41.0,-76.0,8.25,"])
        cfgs = [
            _cfg("src_a", "minute", a_path),
            _cfg("src_b", "hour", b_path),
            _cfg("src_c", "minute", os.path.join(root, "missing.csv")),
            _cfg("src_d", "minute", a_path, active=False),
        ]
        groups = by_frequency(cfgs)
        out_root = os.path.join(root, "out")
        eng = Engine(spark)
        logs1 = run_tick(eng, groups, 61, out_root)    # :01 past the hour
        logs2 = run_tick(eng, groups, 120, out_root)   # on the hour
        census = (
            spark.read.parquet(f"{out_root}/runlog")
            .agg(
                F.count(F.when(F.col("status") == "fetcher/success", 1)).alias("s"),
                F.count(F.when(F.col("status") == "fetcher/error", 1)).alias("e"),
            )
            .collect()[0]  # one job for the whole status census, not two
        )
        n_success, n_error = census["s"], census["e"]

        def _csv(source: str):
            return (
                spark.read.schema(
                    "sensor_id string, measure double, timestamp string"
                )
                .option("header", "true")
                .csv(f"{out_root}/measures/{source}")
            )

        out = (
            _csv("src_a").agg(
                F.count(F.lit(1)).cast("long").alias("a_rows"),
                F.sum(F.round(F.col("measure") * 1000000, 0).cast("long"))
                .cast("long")
                .alias("a_sum_micro"),
            )
            .crossJoin(
                F.broadcast(
                    _csv("src_b").agg(
                        F.count(F.lit(1)).cast("long").alias("b_rows"),
                        F.sum(
                            F.round(F.col("measure") * 1000000, 0).cast("long")
                        )
                        .cast("long")
                        .alias("b_sum_micro"),
                    )
                )
            )
            .select(
                F.lit(len(logs1)).cast("long").alias("tick1_due"),
                F.lit(len(logs2)).cast("long").alias("tick2_due"),
                F.lit(n_success).cast("long").alias("n_success"),
                F.lit(n_error).cast("long").alias("n_error"),
                "a_rows",
                "a_sum_micro",
                "b_rows",
                "b_sum_micro",
            )
            .localCheckpoint()  # eager: frees the temp dirs below
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# dry_run_preview — K6 (reference DRYRUN, providers.js:151-155): a
# dry-run invocation of the SAME run_source runs the sink's plan into a
# noop write and reports the full per-run summary (counts, stations —
# with the incremental bound applied, so the preview matches what a
# real run would ingest) while writing nothing: no measures dir, no
# station store, no checkpoint, no run-log row. The real run that follows must report
# the exact counts the preview promised and actually write them. Both
# halves hash-verified against one oracle; wrote_nothing is checked
# against the filesystem between the two calls.
# ---------------------------------------------------------------------------

_DRY_RUN_ORACLE = r"""
WITH a(param, raw_value) AS (VALUES ('CO', '400'), ('NO2', '12'))
SELECT
  'dry-run' AS dry_status,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS dry_measures,
  CAST(1 AS BIGINT) AS dry_stations,
  TRUE AS wrote_nothing,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS real_measures,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS csv_rows,
  (SELECT CAST(SUM(CAST(ROUND(CAST(raw_value AS DOUBLE) * 0.001 * 1000000,
                              0) AS BIGINT)) AS BIGINT) FROM a)
    AS sum_micro
"""


@query("dry_run_preview", _DRY_RUN_ORACLE)
def dry_run_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..engine import Engine

    root = tempfile.mkdtemp(prefix="sgq_dryrun_")
    try:
        data = os.path.join(root, "wide.csv")
        with open(data, "w") as fh:
            fh.write("Anon_Name,Site_Name,Timestamp,Lat,Lon,CO,NO2\n")
            fh.write("st1,Site A,2024-06-01 10_00,40.1,-75.2,400,12\n")
        config = {
            "schema": "v1",
            "provider": "wide_csv",
            "frequency": "hour",
            "active": True,
            "meta": {
                "path": data,
                "params": "CO,NO2",
                "lookup": [["CO", "co", "ppb"], ["NO2", "no2", "ppb"]],
                "source_name": "dry_fixture",
                "incremental": True,
            },
        }
        out_root = os.path.join(root, "out")
        eng = Engine(spark)
        dry = eng.run_source(config, out_root, dry_run=True)
        wrote_nothing = not any(
            os.path.exists(os.path.join(out_root, d))
            for d in ("measures", "stations", "runlog")
        ) and not os.path.exists(
            os.path.join(out_root, "meta", "dry_fixture.json")
        )
        real = eng.run_source(config, out_root)
        back = (
            spark.read.schema("sensor_id string, measure double, timestamp string")
            .option("header", "true")
            .csv(real["measures_path"])
        )
        out = (
            back.agg(
                F.count(F.lit(1)).cast("long").alias("csv_rows"),
                F.sum(F.round(F.col("measure") * 1000000, 0).cast("long"))
                .cast("long")
                .alias("sum_micro"),
            )
            .select(
                F.lit(dry["status"]).alias("dry_status"),
                F.lit(dry["n_measures"]).cast("long").alias("dry_measures"),
                F.lit(dry["n_stations"]).cast("long").alias("dry_stations"),
                F.lit(wrote_nothing).alias("wrote_nothing"),
                F.lit(real["n_measures"]).cast("long").alias("real_measures"),
                "csv_rows",
                "sum_micro",
            )
            .localCheckpoint()  # eager: frees the temp dirs below
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out
