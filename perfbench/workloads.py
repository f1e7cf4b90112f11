"""The workloads. Each one generates its inputs from the seed
(``prepare``), runs closed-loop rounds of user operations through the
package's public entry points (``round``), and checks what landed once
the clock has stopped (``check``).

An operation is one ``Engine.run_source`` call, one bounded stream
drain, or one registered query's build + collect. A round is a fixed
list of operations; its wall is the sum of its operations' walls (a
scheduler tick counts as one wall, however many run_source calls it
overlaps), so input generation between operations is never timed.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import time
from contextlib import nullcontext
from datetime import datetime

import duckdb

from openaq_lcs_fetch_spark import scheduler
from openaq_lcs_fetch_spark.config import resolve_paths
from openaq_lcs_fetch_spark.engine import Engine
from openaq_lcs_fetch_spark.plans import QUERIES
from openaq_lcs_fetch_spark.streaming import provider_stream
from openaq_lcs_fetch_spark.tables import TABLE_NAMES

import feeds
import tablegen

CONFIG_DIR = os.path.join(os.path.dirname(scheduler.__file__), "source_configs")


def shipped_config(name: str) -> dict:
    with open(os.path.join(CONFIG_DIR, f"{name}.json")) as f:
        return json.load(f)


class Recorder:
    """Op latencies and failure counts of one pass."""

    def __init__(self):
        self.lat: list[float] = []
        self.names: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.rows = 0  # verified output rows

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)

    def op(self, what: str, fn, *args, **kwargs):
        """Time one user operation; an exception counts as a failure."""
        self.attempted += 1
        self.names.append(what)
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 - every failure is counted
            self.lat.append(time.perf_counter() - t0)
            self.fail(f"{what}: {type(e).__name__}: {str(e)[:200]}")
            return None
        self.lat.append(time.perf_counter() - t0)
        return out

    def expect(self, what: str, got, want) -> bool:
        if got != want:
            self.fail(f"{what}: got {got!r}, want {want!r}")
            return False
        return True


# ------------------------------------------------------------ shared checks
def check_log(rec: Recorder, what: str, log, exp: feeds.Expect, written: int,
              skipped: int, hwm: str | None) -> None:
    """One run_source result against the reference."""
    if log is None:
        return  # already counted by Recorder.op
    ok = (
        rec.expect(f"{what} status", log.get("status"), "fetcher/success")
        and rec.expect(f"{what} n_measures", log.get("n_measures"), exp.n)
        and rec.expect(f"{what} stations written", log["stations"]["written"], written)
        and rec.expect(f"{what} stations skipped", log["stations"]["skipped_unchanged"], skipped)
    )
    if ok and hwm is not None:
        rec.expect(f"{what} checkpoint", log["checkpoint"].get("high_water_mark"), hwm)


def readback_csv(spark, path: str) -> tuple[int, int]:
    """(rows, Σ micro(measure)) landed by the CSV measures sink."""
    from pyspark.sql import functions as F

    if not glob.glob(os.path.join(path, "*.csv*")):
        return 0, 0
    df = spark.read.schema("sensor_id string, measure double, timestamp string").option(
        "header", "true").csv(path)
    row = df.agg(F.count(F.lit(1)), F.sum(F.floor(F.col("measure") * 1e6 + 0.5))).collect()[0]
    return row[0], row[1] or 0


def readback_json(spark, path: str) -> tuple[int, int]:
    """(rows, Σ micro(measure)) landed by the v0.1 JSON measures sink."""
    from pyspark.sql import functions as F

    if not glob.glob(os.path.join(path, "day=*")):
        return 0, 0
    df = spark.read.schema(
        "measures array<struct<sensor_id:string,measure:double,timestamp:string>>"
    ).json(path)
    m = df.select(F.explode("measures").alias("m")).select("m.measure")
    row = m.agg(F.count(F.lit(1)), F.sum(F.floor(F.col("measure") * 1e6 + 0.5))).collect()[0]
    return row[0], row[1] or 0


def readback_runlog(spark, path: str) -> dict[tuple[str, str], int]:
    rows = spark.read.parquet(path).groupBy("source", "status").count().collect()
    return {(r["source"], r["status"]): r["count"] for r in rows}


def read_checkpoint(out_root: str, source: str) -> str | None:
    with open(os.path.join(out_root, "meta", f"{source}.json")) as f:
        return json.load(f).get("high_water_mark")


# ------------------------------------------------------------------ workloads
class Workload:
    name = "abstract"

    def __init__(self, root: str, seed: int, cpus: int):
        self.spark = self.engine = None  # set by bind() once a session is up
        self.root, self.seed, self.cpus = root, seed, cpus
        self.data = os.path.join(root, "data")
        self.out = os.path.join(root, "out")
        self.n_rounds = 0
        self.tracer = None

    def prepare(self) -> None: ...

    def bind(self, spark, engine: Engine) -> None:
        """Point the workload at a (re)started session."""
        self.spark, self.engine = spark, engine

    def warm(self) -> None:
        """One small scan of the generated inputs (part of set-up)."""

    def round(self, rec: Recorder) -> float: ...

    def check(self, rec: Recorder) -> None: ...


class TimedEngine(Engine):
    """Records each run_source wall: the per-source user latency inside
    a scheduler tick."""

    def __init__(self, spark, lat: list):
        super().__init__(spark)
        self.lat = lat

    def run_source(self, *a, **k):
        t0 = time.perf_counter()
        try:
            return super().run_source(*a, **k)
        finally:
            self.lat.append(time.perf_counter() - t0)


class IngestBulk(Workload):
    """Three batch provider shapes scheduled as one hourly group (one
    tick worker each): a backfill tick, then, once a fresh slice has
    landed, an incremental tick. Two sources land on the CSV sink, one
    on the v0.1 JSON sink. Then the streaming ingest path: bounded
    drains of a keyed-map provider stream that gains a file before each
    drain, on one checkpoint. Per-operation fixed cost still dominates
    the round wall at this size (see README.md)."""

    name = "ingest_bulk"
    # (shipped config, feed entities, sink); entities × slots × params
    # sets the size (about 95 k measures land a round), and every feed
    # spreads over 2 × cores files
    SOURCES = (
        ("cmu", 160, "csv"),
        ("data354", 160, "csv"),
        ("clarity", 240, "json"),
    )
    BASE_SLOTS = 32
    SLICE_SLOTS = 3
    MOVED = 3
    STREAM_ENTITIES = 40
    DRAINS = 2

    def prepare(self):
        cfg_dir = os.path.join(self.root, "configs")
        os.makedirs(cfg_dir)
        self.feeds, self.exp = {}, {}
        per_file = max(1, self.BASE_SLOTS // (2 * self.cpus))
        for name, n, sink in self.SOURCES:
            cfg = shipped_config(name)
            cfg.update(active=True, frequency="hour")
            cfg["meta"].update(incremental=True, sink=sink, source_name=f"bulk_{name}")
            with open(os.path.join(cfg_dir, f"{name}.json"), "w") as f:
                json.dump(cfg, f)
            feed = feeds.FEEDS[cfg["provider"]](cfg, self.data,
                                                random.Random(f"{self.seed}-{name}"), n)
            for s in range(-self.BASE_SLOTS, 0, per_file):
                feed.append(s, span=per_file)
            base = feed.expect()
            snap = feed.snapshot()
            # first-wins by name only for the enriched shape: positions stay
            moved = [] if cfg["provider"] == "enriched" else sorted(feed.entities)[: self.MOVED]
            feed.append(0, moved=moved, span=self.SLICE_SLOTS)
            inc = feed.expect(since=base.hwm)
            reg = feeds.Registry()
            w0, s0 = reg.upsert(base.stations)
            w1, s1 = reg.upsert(inc.stations)
            feed.hold(snap)
            self.feeds[feed.label] = feed
            self.exp[feed.label] = ((base, w0, s0, base.hwm),
                                    (inc, w1, s1, inc.hwm or base.hwm))
        self.groups = scheduler.by_frequency(scheduler.load_source_configs(cfg_dir))
        self.ticks: list[float] = []

        # the provider stream has a data root of its own: its shipped
        # config shares the feed directory with bulk_data354
        cfg = shipped_config("data354")
        cfg["meta"]["source_name"] = "stream_data354"
        stream_root = os.path.join(self.root, "stream")
        self.stream = feeds.KeyedMapFeed(cfg, stream_root,
                                         random.Random(f"{self.seed}-stream"),
                                         self.STREAM_ENTITIES)
        self.stream_cfg = resolve_paths(self.stream.cfg, stream_root)
        for slot in range(4):
            self.stream.append(slot)
        self.slot = 4
        self.streamed = 0  # provider-stream rows verified so far

    def bind(self, spark, engine):
        super().bind(spark, engine)
        self.tick_engine = TimedEngine(spark, [])

    def warm(self):
        self.spark.read.option("header", "true").csv(self.feeds["bulk_cmu"].files[0]).count()

    def tick(self, rec, minute: int, out: str, phase: int) -> float:
        lat = self.tick_engine.lat
        n0 = len(lat)
        due = scheduler.due_sources(self.groups, minute)
        t0 = time.perf_counter()
        try:
            logs = scheduler.run_tick(self.tick_engine, self.groups, minute, out,
                                      data_root=self.data)
        except Exception as e:  # noqa: BLE001 - a failed tick fails all its sources
            logs = [None] * len(due)
            rec.fail(f"tick {minute}: {type(e).__name__}: {e}")
        wall = time.perf_counter() - t0
        self.ticks.append(wall)
        rec.lat.extend(lat[n0:])
        rec.names.extend(f"tick {minute} run_source" for _ in lat[n0:])
        rec.attempted += len(due)
        for cfg, log in zip(due, logs):
            label = feeds.label(cfg)
            if log is None or log.get("status") != "fetcher/success":
                rec.fail(f"tick {minute} {label}: {log and log.get('message')}")
                continue
            check_log(rec, f"tick {minute} {label}", log, *self.exp[label][phase])
        return wall

    def round(self, rec):
        out = os.path.join(self.out, f"round-{self.n_rounds:03d}")
        minute = 120 * (self.n_rounds + 1)
        self.n_rounds += 1
        wall = self.tick(rec, minute, out, 0)
        for feed in self.feeds.values():
            feed.release()
        wall += self.tick(rec, minute + 60, out, 1)
        for feed in self.feeds.values():
            feed.hold(feed.held_snap)
        for _ in range(self.DRAINS):
            wall += self.drain(rec)
        return wall

    def drain(self, rec) -> float:
        self.stream.append(self.slot)  # a new file since the last drain
        self.slot += 1
        out = os.path.join(self.out, "provider_stream")

        def once():
            measures = provider_stream.keyed_map_stream(self.spark, self.stream_cfg)
            q = provider_stream.start_to_parquet(
                measures, out, os.path.join(self.out, "provider_ckpt"), available_now=True)
            q.awaitTermination()
            return True

        t0 = time.perf_counter()
        ok = rec.op("provider stream drain", once) is not None
        wall = time.perf_counter() - t0
        want = self.stream.expect().n
        got = self.spark.read.parquet(out).count() if ok else None
        if ok and rec.expect("provider stream rows", got, want):
            rec.rows += want - self.streamed
            self.streamed = want
        return wall

    def check(self, rec):
        for r in range(self.n_rounds):
            out = os.path.join(self.out, f"round-{r:03d}")
            for label, feed in self.feeds.items():
                (base, *_), (inc, *_) = self.exp[label]
                sink = feed.meta["sink"]
                read = readback_csv if sink == "csv" else readback_json
                got = read(self.spark, os.path.join(out, "measures", label))
                want = (base.nonnull + inc.nonnull, base.micro + inc.micro)
                if rec.expect(f"{label} {sink} readback r{r}", got, want):
                    rec.rows += got[0]
                rec.expect(f"{label} checkpoint r{r}", read_checkpoint(out, label),
                           inc.hwm or base.hwm)
            log = readback_runlog(self.spark, os.path.join(out, "runlog"))
            rec.expect(f"runlog r{r}", log, {(k, "fetcher/success"): 2 for k in self.feeds})


def _canon(rows, names) -> list[tuple]:
    """Column-sorted, row-sorted canonical form (the oracle-parity
    rules: NULL and NaN alike, floats by repr, timestamps ISO)."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(repr(v))
            elif isinstance(v, datetime):
                vals.append(v.isoformat())
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


class AnalyticsMix(Workload):
    """Read-only registered queries (scans, joins, windows, reshapes,
    text and vector search) over generated sf0.1 tables, each checked
    against its DuckDB oracle SQL, which runs once per process before
    the clock starts. The order is fixed: in a fresh JVM the early
    queries pay most of the JIT warm-up, and a seed-dependent order
    moved the median op latency by up to 40% between seeds."""

    name = "analytics_mix"
    SF = 0.1
    QUERY_NAMES = (
        "region_revenue", "brand_top_parts", "lineitem_melt_stats", "hourly_rollup",
        "latest_3_per_user", "dedup_overlapping", "dedup_exact", "sliding_3h_counts",
        "tfidf_top_terms", "cosine_topk",
    )

    def prepare(self):
        tablegen.generate(self.data, self.seed, self.SF)
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        self.oracle = {}
        for n in self.QUERY_NAMES:
            res = con.sql(QUERIES[n].oracle)
            self.oracle[n] = (sorted(res.columns), _canon(res.fetchall(), res.columns))
        con.close()

    def warm(self):
        self.spark.read.parquet(os.path.join(self.data, "events.parquet")).count()

    def query(self, rec, name) -> float:
        tracer = self.tracer

        def build_collect():
            with tracer.span("plans.query", name) if tracer else nullcontext():
                t0 = time.perf_counter()
                df = QUERIES[name].fn(self.spark, self.data)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            if tracer:
                tracer.record_plan(df, t1 - t0, t2 - t1)
            return rows

        t0 = time.perf_counter()
        rows = rec.op(name, build_collect)
        wall = time.perf_counter() - t0
        self.spark.catalog.clearCache()
        if rows is not None:
            cols = list(rows[0].__fields__) if rows else self.oracle[name][0]
            if rec.expect(f"{name} columns", sorted(cols), self.oracle[name][0]):
                if rec.expect(f"{name} rows", len(rows), len(self.oracle[name][1])):
                    if rec.expect(f"{name} values", _canon(rows, cols) == self.oracle[name][1], True):
                        rec.rows += len(rows)
        return wall

    def round(self, rec):
        self.n_rounds += 1
        return sum(self.query(rec, n) for n in self.QUERY_NAMES)


WORKLOADS = {w.name: w for w in (IngestBulk, AnalyticsMix)}
