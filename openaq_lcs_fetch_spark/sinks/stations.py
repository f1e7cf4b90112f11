"""Diff-upsert station registry sink (SURVEY.md K3/T5).

The reference reads the current S3 station object and skips the PUT
when the serialized JSON is byte-identical (providers.js:94-132).
Spark-first on plain parquet (no Delta in this environment):

1. content-hash both sides (md5 of the canonical JSON serialization —
   nulls stripped like station.js:176-184);
2. **anti-join new vs existing on (key, content_hash)** → only
   changed/new stations survive (the write-elision, J5);
3. merge: changed rows replace same-key existing rows (first-wins
   window on priority), everything else carries over;
4. atomic swap of the store directory.

At 100 TB station dims stay tiny relative to measures, but the same
merge works at any size: it's one hash-partitioned join on the key.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..localdf import local_df


def content_hash(df: DataFrame, key: str) -> DataFrame:
    """md5 over the canonical row JSON (sorted struct fields, nulls
    dropped at serialize — C12)."""
    cols = sorted(c for c in df.columns if c != key)
    return df.withColumn(
        "content_hash",
        F.md5(F.to_json(F.struct(*[F.col(c) for c in cols]), {"ignoreNullFields": "true"})),
    )


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


def diff_upsert(
    spark: SparkSession, new: DataFrame, store_path: str, key: str
) -> dict[str, int]:
    """Merge ``new`` into the parquet store at ``store_path``; returns
    counts {written, skipped_unchanged, total}."""
    _recover_store(store_path)
    hashed_new = content_hash(new, key)
    if os.path.exists(store_path):
        existing = spark.read.parquet(store_path)
    else:
        existing = local_df(spark, [], hashed_new.schema)

    # write elision: drop new rows whose (key, hash) already exists.
    # A left join with a hit marker instead of a left_anti: the marker
    # yields n_new, n_changed AND the changed set from one plan, where
    # the anti-join shape needed a second full evaluation of the
    # incoming plan just for new.count(). The store's key is unique by
    # construction (the row_number merge below), so the left join
    # cannot fan out; dropDuplicates guards a foreign/corrupt store.
    # r15 (guide §1.2; r14 verdict task #2 — fuse sink writes with
    # their counters): the counters RIDE THE MERGE WRITE as observed
    # metrics (CollectMetrics) instead of a localCheckpoint job + a
    # separate aggregate job — the incoming plan (and the md5 hashing
    # above it) is evaluated exactly ONCE, inside the write action.
    # Observed metrics skip failed tasks, so they are exact in local
    # mode; on a cluster a re-run map stage (fetch failure) or a
    # speculative task can add its rows twice and over-count. The
    # crash-safety ordering is untouched: same staged write, same
    # rename swap.
    obs_new = Observation()
    marked = hashed_new.join(
        existing.select(key, "content_hash")
        .dropDuplicates([key, "content_hash"])
        .withColumn("_hit", F.lit(1)),
        on=[key, "content_hash"],
        how="left",
    ).observe(obs_new, F.count(F.lit(1)).alias("n"), F.count("_hit").alias("h"))
    changed = marked.filter(F.col("_hit").isNull()).drop("_hit")

    merged = changed.withColumn("_prio", F.lit(0)).unionByName(
        existing.withColumn("_prio", F.lit(1))
    )
    # content_hash tiebreaks same-key same-prio rows (a batch carrying
    # two different updates for one key) — fully deterministic merge,
    # same bar the dedup operators hold themselves to
    w = Window.partitionBy(key).orderBy(
        F.col("_prio").asc(), F.col("content_hash").asc()
    )
    # the post-merge row count (== the swapped store's count) rides the
    # same write: no post-swap re-read of the store just to count it
    obs_total = Observation()
    result = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_prio")
        .observe(obs_total, F.count(F.lit(1)).alias("t"))
    )

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
    counts = obs_new.get  # available once the write action completed
    n_new, n_changed = counts["n"], counts["n"] - counts["h"]
    old = os.path.join(parent, f".{os.path.basename(store_path)}.old.{tag}")
    if os.path.exists(store_path):
        os.rename(store_path, old)
    os.rename(tmp, store_path)
    if os.path.exists(old):
        shutil.rmtree(old)
    return {
        "written": n_changed,
        "skipped_unchanged": n_new - n_changed,
        "total": obs_total.get["t"],
    }
