"""Diff-upsert station registry sink (SURVEY.md K3/T5).

The reference reads the current S3 station object and skips the PUT
when the serialized JSON is byte-identical (providers.js:94-132).
Spark-first on plain parquet (no Delta in this environment):

1. content-hash both sides (md5 of the canonical JSON serialization —
   nulls stripped like station.js:176-184);
2. **one pass partitioned by key over new ∪ stored rows**: a new row
   whose hash is among its key's stored hashes is unchanged (the
   write-elision, J5); per key a changed new row replaces the stored
   row, everything else carries over (first-wins rank);
3. atomic swap of the store directory.

At 100 TB station dims stay tiny relative to measures, but the same
merge works at any size: it's one hash exchange on the key.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..localdf import local_df


def content_hash(df: DataFrame, key: str) -> DataFrame:
    """md5 over the canonical row JSON (sorted struct fields, nulls
    dropped at serialize — C12)."""
    cols = sorted(c for c in df.columns if c != key)
    return df.withColumn(
        "content_hash",
        F.md5(F.to_json(F.struct(*[F.col(c) for c in cols]), {"ignoreNullFields": "true"})),
    )


#: footer key under which Spark records the schema of a parquet file
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

#: staging dirs younger than this are possibly a live concurrent run's
#: in-flight write — never delete them (concurrent upserts to one store
#: still require external serialization, which the scheduler provides
#: by running each source sequentially; this guard just keeps a stray
#: overlap from DESTROYING the other run's work)
_STAGING_STALE_S = 24 * 3600


def _recover_store(store_path: str) -> None:
    """Crash recovery for the rename-swap below: if a previous run died
    between rename(store→old) and rename(tmp→store), the data survives
    only in ``.{name}.old.{tag}`` — restore the newest one instead of
    silently treating the store as empty. Staging dirs older than
    ``_STAGING_STALE_S`` are cleaned."""
    parent = os.path.dirname(os.path.abspath(store_path)) or "."
    base = os.path.basename(store_path)
    if not os.path.isdir(parent):
        return
    staging = sorted(
        (
            os.path.join(parent, d)
            for d in os.listdir(parent)
            if d.startswith(f".{base}.old.") or d.startswith(f".{base}.new.")
        ),
        key=os.path.getmtime,
    )
    if not os.path.exists(store_path):
        olds = [p for p in staging if f".{base}.old." in p]
        if olds:
            newest = olds[-1]
            os.rename(newest, store_path)
            staging.remove(newest)
    now = time.time()
    for p in staging:
        try:
            if now - os.path.getmtime(p) >= _STAGING_STALE_S:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass  # raced with another cleaner / mid-rename — leave it


def _check_store_schema(store_path: str, schema: StructType) -> None:
    """Raise unless the store's column names and types are ``schema``'s.

    Reads the schema Spark records in one part file's footer (metadata
    only, no Spark job). A store without part files has nothing to
    compare and reads as empty."""
    parts = sorted(glob.glob(os.path.join(store_path, "*.parquet")))
    if not parts:
        return
    import pyarrow.parquet as pq

    footer = pq.read_schema(parts[0]).metadata
    stored = StructType.fromJson(json.loads(footer[_SPARK_ROW_METADATA]))

    def shape(s: StructType) -> dict[str, str]:
        return {f.name: f.dataType.simpleString() for f in s.fields}

    if shape(stored) != shape(schema):
        raise ValueError(
            f"station store {store_path} has schema {stored.simpleString()}, "
            f"incoming rows have {schema.simpleString()}"
        )


def _merged(hashed_new: DataFrame, existing: DataFrame, key: str):
    """The merged store and the Observation of its counters ``n`` (new
    rows), ``h`` (new rows already stored) and ``t`` (merged rows),
    in one pass partitioned by ``key``.

    New rows (``_prio`` 0) and stored rows (``_prio`` 1) are unioned. A
    new row is a hit when its hash is in its key's set of stored
    hashes. Per key the rank is: changed new rows, then the stored row,
    then hit new rows, ties broken by ``content_hash``; rank 1 is kept.
    A hit row can only rank behind a stored row of its own key, so the
    result is "changed rows replace their key, everything else carries
    over", even for a corrupt store with duplicate keys. The counters
    ride the write as observed metrics, so the incoming plan (and the
    md5 hashing) is evaluated once, inside the write action. Observed
    metrics skip failed tasks, so they are exact in local mode; on a
    cluster a re-run map stage (fetch failure) or a speculative task
    can add its rows twice and over-count."""
    new_row = F.col("_prio") == 0
    by_key = Window.partitionBy(key)
    stored_hashes = F.collect_set(
        F.when(~new_row, F.col("content_hash"))
    ).over(by_key)
    marked = (
        hashed_new.withColumn("_prio", F.lit(0))
        .unionByName(existing.withColumn("_prio", F.lit(1)))
        .withColumn("_hit", new_row & F.array_contains(stored_hashes, F.col("content_hash")))
    )
    rank = F.row_number().over(
        by_key.orderBy(
            F.when(F.col("_hit"), 2).otherwise(F.col("_prio")).asc(),
            F.col("content_hash").asc(),
        )
    )
    obs = Observation()
    result = (
        marked.withColumn("_rn", rank)
        .observe(
            obs,
            F.count(F.when(new_row, 1)).alias("n"),
            F.count(F.when(F.col("_hit"), 1)).alias("h"),
            F.count(F.when(F.col("_rn") == 1, 1)).alias("t"),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_prio", "_hit")
    )
    return result, obs


def diff_upsert(
    spark: SparkSession, new: DataFrame, store_path: str, key: str
) -> dict[str, int]:
    """Merge ``new`` into the parquet store at ``store_path``; returns
    counts {written, skipped_unchanged, total}."""
    _recover_store(store_path)
    hashed_new = content_hash(new, key)
    if os.path.exists(store_path):
        _check_store_schema(store_path, hashed_new.schema)
        existing = spark.read.schema(hashed_new.schema).parquet(store_path)
    else:
        existing = local_df(spark, [], hashed_new.schema)
    result, obs = _merged(hashed_new, existing, key)

    # stage NEXT TO the store so the renames below are same-filesystem
    # (a cross-fs shutil.move degrades to a non-atomic copy), and swap
    # by renaming the old store aside first — a crash in the brief
    # window between the two renames is repaired by _recover_store on
    # the next run (the data survives in the .old staging dir)
    parent = os.path.dirname(os.path.abspath(store_path)) or "."
    os.makedirs(parent, exist_ok=True)
    tag = uuid.uuid4().hex[:10]
    tmp = os.path.join(parent, f".{os.path.basename(store_path)}.new.{tag}")
    result.write.mode("overwrite").parquet(tmp)
    counts = obs.get  # available once the write action completed
    old = os.path.join(parent, f".{os.path.basename(store_path)}.old.{tag}")
    if os.path.exists(store_path):
        os.rename(store_path, old)
    os.rename(tmp, store_path)
    if os.path.exists(old):
        shutil.rmtree(old)
    return {
        "written": counts["n"] - counts["h"],
        "skipped_unchanged": counts["h"],
        "total": counts["t"],
    }
