"""Measures sinks (SURVEY.md K1/K2).

* K1 v0 CSV: fixed header ``sensor_id,measure,timestamp`` gzipped under
  ``{root}/measures/{provider}/`` (reference providers.js:141-159 with
  the header from measure.js:13-17; random object keys give the
  at-least-once idempotency — here Spark task files do the same job).
* K2 v0.1 JSON: ``{meta, measures[], locations[]}`` date-partitioned
  (providers.js:168-185, payload shape clarity.js:177-190). Spark-first:
  one payload row per (provider, day) assembled with collect_list inside
  a day-partitioned groupBy, written with partitionBy → partition-pruned
  reads downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..localdf import local_df


def csv_rows(measures: DataFrame) -> DataFrame:
    """The K1 row shape: ``sensor_id,measure,timestamp``."""
    return measures.select(
        "sensor_id",
        "measure",
        F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
    )


def write_measures_csv(measures: DataFrame, root: str, provider: str) -> str:
    """K1: gzipped CSV under measures/{provider}/."""
    path = f"{root}/measures/{provider}"
    (
        csv_rows(measures)
        .write.mode("append")
        .option("header", "true")
        .option("compression", "gzip")
        .csv(path)
    )
    return path


def assemble_v01(
    measures: DataFrame,
    locations: DataFrame,
    source: str,
    n_shards: int = 1,
    default_day: str | None = None,
) -> DataFrame:
    """Build v0.1 payload rows: one per (UTC day, shard), with nested
    measures[] and locations[] arrays and the fixed meta struct (schema
    'v0.1', matching_method 'ingest-id').

    ``n_shards`` bounds the collect_list arrays: measures shard on
    ``pmod(hash(sensor_id), n)`` and locations on ``pmod(hash(location),
    n)``, so every measure/location lands in exactly ONE payload and no
    single row ever holds a whole day of a 100 TB stream (Spark's 2 GB
    row limit, single-task write). n_shards=1 reproduces the reference's
    one-payload-per-batch envelope for small batches; size it as
    ceil(day_rows / target_rows_per_payload) at scale.
    """
    shard = F.pmod(F.hash("sensor_id"), F.lit(n_shards)).alias("shard")
    rows = measures.select(
        F.date_format("timestamp", "yyyy-MM-dd").alias("day"),
        shard,
        F.struct(
            F.col("sensor_id"),
            F.col("measure"),
            F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
            F.col("flags") if "flags" in measures.columns else F.lit(None).cast("map<string,string>").alias("flags"),
        ).alias("m"),
    )
    if default_day is not None:
        # the run date anchors the reference's one-envelope-per-batch
        # behavior when a batch carries ZERO measures: one input row
        # with a null measure (collect_list skips it) keeps the day in
        # the grid, so the locations still ship. Being INPUT, it also
        # keeps every exchange over ``rows`` non-empty, so AQE never
        # prunes a stage (and an observation under it) on an empty batch.
        rows = rows.unionByName(
            local_df(rows.sparkSession, [(default_day, 0)], "day string, shard int")
            .withColumn("m", F.lit(None).cast(rows.schema["m"].dataType))
        )
    m_day = rows.groupBy("day", "shard").agg(F.collect_list("m").alias("measures"))
    locs = (
        locations.withColumn(
            "shard", F.pmod(F.hash("location"), F.lit(n_shards))
        )
        .groupBy("shard")
        .agg(
            F.collect_list(
                F.struct("location", "label", "ismobile", "lon", "lat")
            ).alias("locations")
        )
    )
    empty_locs = F.lit([]).cast(
        "array<struct<location:string,label:string,ismobile:boolean,lon:double,lat:double>>"
    )
    empty_measures = F.lit([]).cast(
        "array<struct<sensor_id:string,measure:double,timestamp:string,"
        "flags:map<string,string>>>"
    )
    # full (day × shard) grid: a location whose shard got no measures
    # that day must still ship (and vice versa) — a bare m_day⋈locs
    # left join would drop locations on measure-empty shards. The cells
    # m_day lacks are unioned in (each day's shards minus those it has)
    # rather than joined: AQE flips a grid⋈m_day join to a broadcast
    # join at run time, racing the grid side's shuffle, so that plan's
    # job count varies from run to run.
    missing = (
        rows.groupBy("day")
        .agg(
            F.array_except(
                F.sequence(F.lit(0), F.lit(n_shards - 1)), F.collect_set("shard")
            ).alias("shard")
        )
        .select("day", F.explode("shard").alias("shard"))
    )
    return (
        m_day.unionByName(missing, allowMissingColumns=True)
        .join(F.broadcast(locs), "shard", "left")
        .withColumn("locations", F.coalesce(F.col("locations"), empty_locs))
        .withColumn("measures", F.coalesce(F.col("measures"), empty_measures))
        .withColumn(
            "meta",
            F.struct(
                F.lit("v0.1").alias("schema"),
                F.lit(source).alias("source"),
                F.lit("ingest-id").alias("matching_method"),
            ),
        )
        # shard is an assembly key only — the written envelope stays
        # exactly {meta, measures[], locations[]} (providers.js:168-185);
        # sharding just yields several envelope rows per day.
        .select("day", "meta", "measures", "locations")
    )


def write_measures_json(payload: DataFrame, root: str, provider: str) -> str:
    """K2: gzipped JSON partitioned by day → {root}/measures/{provider}/
    day=YYYY-MM-DD/part-*.json.gz."""
    path = f"{root}/measures/{provider}"
    (
        payload.write.mode("append")
        .partitionBy("day")
        .option("compression", "gzip")
        .option("ignoreNullFields", "true")  # C12 stripNulls at serialize
        .json(path)
    )
    return path
