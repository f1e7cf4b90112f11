"""File scans with explicit schemas (SURVEY.md S4/S5/S8).

The reference streams CSV through a parser (cmu.js:283-298, GCS daily
files cpcb.js:112-141) and gunzips S3 objects (utils.js:28-42). Spark
reads these natively — codecs are automatic, partition-path layout
gives partition pruning (the Spark twin of cpcb's computed daily
filename, cpcb.js:56-78).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """S4: CSV scan. Schema is mandatory — the engine never infers
    (SURVEY.md §1.3). gzip etc. decode automatically (S8)."""
    reader = spark.read.option("header", str(header).lower())
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.schema(schema).csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str, **options: str
) -> DataFrame:
    """S1-as-file: JSON lines scan with fixed schema."""
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.schema(schema).json(path)


def read_daily_partition(
    spark: SparkSession,
    base: str,
    date: str,
    pattern: str,
    schema: T.StructType | str,
    fmt: str = "csv",
    **options: str,
) -> DataFrame:
    """S5: computed daily-partition read (cpcb.js builds
    'cpcb-{date}.csv'); path computation ≙ partition pruning — only the
    named partition's bytes are scanned."""
    path = f"{base}/{pattern.format(date=date)}"
    if fmt == "csv":
        return read_csv(spark, path, schema, **options)
    return read_json(spark, path, schema, **options)


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    **options: str,
) -> tuple[DataFrame, DataFrame]:
    """S4 + dead-letter: PERMISSIVE CSV scan that splits rows the
    schema cannot parse into a quarantine frame instead of nulling or
    dropping them silently.

    The reference's fetchers tolerate malformed provider rows inline
    (e.g. cmu.js's per-row try/catch, smartsense's 'inv' sentinels);
    at 100 TB the operable form is Spark's corrupt-record column: one
    scan, good rows flow on with full typing, bad rows land in a
    (raw_line,) frame for the run log / quarantine_summary accounting.
    Returns ``(good, bad)``. Both derive from the SAME permissive scan
    (one pass over the bytes; the split is a map-side filter).

    Note Spark requires the corrupt column to be part of the declared
    schema — this helper appends it and strips it from the good side.
    """
    corrupt = "_corrupt_record"
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)  # type: ignore[attr-defined]
    full = T.StructType(list(schema.fields) + [T.StructField(corrupt, T.StringType())])
    df = (
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
    )
    for k, v in options.items():
        df = df.option(k, v)
    scanned = df.schema(full).csv(path).cache()  # one scan feeds both splits
    from pyspark.sql import functions as F

    good = scanned.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = scanned.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_line")
    )
    return good, bad


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """S5 + schema evolution: read a partitioned parquet dataset whose
    LATER daily files added columns (a provider starts reporting a new
    field mid-history). ``mergeSchema`` unions the per-file schemas at
    plan time — old files surface the new column as NULL, no rewrite
    of historical partitions. At 100 TB this is footer-only work per
    file (no data scan to merge schemas)."""
    return spark.read.option("mergeSchema", "true").parquet(path)
