"""The traced run: spans around calls into each layer, taken from outside
the package, and Spark's own counters attributed to those spans.

* Spans wrap the public functions at their call sites (the names
  ``engine`` imports from ``providers``/``sinks``/``sources``, the
  scheduler tick, ``tables.load``, and the provider-stream drain)
  and are kept in memory until the run ends.
* Each wrapper sets a job group named after its span in the calling
  thread, so jobs submitted from the engine's and the scheduler's pool
  threads are attributed to the span that submitted them.
* The Spark event log (enabled for the traced pass only) supplies per-job
  stage, task, shuffle, input and spill counters; micro-batch jobs carry
  the streaming run id as their group.
* A ``StreamingQueryListener`` collects each micro-batch's ``durationMs``
  phases and state-operator metrics.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from statistics import median

from pyspark.sql.streaming import StreamingQueryListener

import openaq_lcs_fetch_spark.engine as engine_mod
import openaq_lcs_fetch_spark.scheduler as scheduler_mod
import openaq_lcs_fetch_spark.tables as tables_mod
from openaq_lcs_fetch_spark.config import source_label
from openaq_lcs_fetch_spark.sources.checkpoint import CheckpointStore
from openaq_lcs_fetch_spark.streaming import provider_stream

#: spans whose Spark jobs are counted; ``streaming.batch`` collects the
#: micro-batch jobs, which run under the streaming run id
EXEC_SPANS = (
    "engine.run_source", "sinks.measures.csv", "sinks.measures.json",
    "sinks.stations.upsert", "sinks.log.publish", "plans.query", "tables.load",
    "streaming.drain", "streaming.batch",
)
EXEC_COUNTERS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("task_s", "s"),
    ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("input_mb", "MB"),
    ("spill_mb", "MB"), ("failed_tasks", "count"), ("driver_gap_s", "s"),
)
LAYER_METRICS = (
    ("engine.run_source.s", "s"), ("engine.self_s", "s"),
    ("providers.process.calls", "count"), ("providers.process.s", "s"),
    ("sinks.measures.csv.s", "s"), ("sinks.measures.json.s", "s"),
    ("sinks.measures.files", "count"), ("sinks.measures.output_mb", "MB"),
    ("sinks.stations.upsert.s", "s"), ("sinks.stations.write_ratio", "ratio"),
    ("sinks.log.publish.calls", "count"), ("sinks.log.publish.s", "s"),
    ("sources.checkpoint.advance.s", "s"), ("sources.checkpoint.load.s", "s"),
    ("scheduler.queue_wait_s", "s"), ("scheduler.occupancy", "ratio"),
    ("scheduler.tick_s", "s"),
    ("plans.build_s", "s"), ("plans.collect_s", "s"), ("plans.analysis_s", "s"),
    ("plans.optimization_s", "s"), ("plans.planning_s", "s"), ("plans.exchanges", "count"),
    ("tables.load.calls", "count"), ("tables.load.s", "s"),
    ("streaming.batches", "count"), ("streaming.trigger_s", "s"),
    ("streaming.lifecycle_s", "s"), ("streaming.query_planning_s", "s"),
    ("streaming.add_batch_s", "s"), ("streaming.wal_commit_s", "s"),
    ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
    ("session.start_s", "s"), ("session.peak_rss_mb", "MB"), ("trace.overhead_s", "s"),
)


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    out = list(LAYER_METRICS)
    for span in EXEC_SPANS:
        for c, unit in EXEC_COUNTERS:
            if not (span == "streaming.batch" and c == "driver_gap_s"):
                out.append((f"{span}.{c}", unit))
    return out


#: child spans of a run_source; the engine's self time excludes them
ENGINE_CHILDREN = (
    "providers.process", "sinks.measures.csv", "sinks.measures.json",
    "sinks.stations.upsert", "sinks.log.publish", "sources.checkpoint.advance",
    "sources.checkpoint.load",
)


class Span:
    __slots__ = ("id", "name", "source", "start", "end", "attrs")

    def __init__(self, sid, name, source):
        self.id, self.name, self.source = sid, name, source
        self.start = time.time()
        self.end = None
        self.attrs: dict = {}


class _Progress(StreamingQueryListener):
    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.sink.append({
            "run": str(p.runId),
            "ms": dict(p.durationMs),
            "state": [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators],
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.progress: list[dict] = []
        self.plan_stats: list[dict] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._patches: list = []
        self._listener = _Progress(self.progress)

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, source: str | None = None):
        sc = self.spark.sparkContext
        sid = f"perfbench-{next(self._ids)}"
        prev = (sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("spark.job.description"))
        sc.setJobGroup(sid, name)
        sp = Span(sid, name, source)
        try:
            yield sp
        finally:
            sp.end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", prev[0])
            sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self.spans.append(sp)

    def _wrap(self, owner, attr: str, name: str, source=None, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*a, **k):
            with tracer.span(name, source(a) if source else None) as sp:
                out = orig(*a, **k)
                if after is not None:
                    after(sp, a, out)
                return out

        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        def upsert_counts(sp, _a, out):
            sp.attrs.update(written=out["written"], skipped=out["skipped_unchanged"])

        def await_drain(_sp, _a, q):
            q.awaitTermination()

        w = self._wrap
        w(engine_mod.Engine, "run_source", "engine.run_source", lambda a: source_label(a[1]))
        w(engine_mod, "summarize", "engine.summarize", lambda a: a[1])
        w(engine_mod, "processor", "providers.process", lambda a: source_label(a[1]))
        w(engine_mod, "write_measures_csv", "sinks.measures.csv", lambda a: a[2])
        w(engine_mod, "write_measures_json", "sinks.measures.json", lambda a: a[2])
        w(engine_mod, "diff_upsert", "sinks.stations.upsert",
          lambda a: os.path.basename(a[2]), upsert_counts)
        w(engine_mod, "publish", "sinks.log.publish", lambda a: a[2])
        w(engine_mod, "advance", "sources.checkpoint.advance", lambda a: a[1])
        w(CheckpointStore, "load", "sources.checkpoint.load", lambda a: a[1])
        w(scheduler_mod, "run_tick", "scheduler.tick")
        w(tables_mod, "load", "tables.load")
        w(provider_stream, "start_to_parquet", "streaming.drain", after=await_drain)
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def record_plan(self, df, build_s: float, collect_s: float) -> None:
        """Catalyst phase times and exchange count of a collected query."""
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()

        def phase(n):
            opt = phases.get(n)
            return opt.get().durationMs() / 1000 if opt.isDefined() else 0.0

        plan = qe.executedPlan().toString()
        exchanges = sum(
            1 for line in plan.splitlines()
            if "Exchange" in line and "ReusedExchange" not in line and "QueryStage" not in line
        )
        self.plan_stats.append({
            "build_s": build_s, "collect_s": collect_s, "analysis_s": phase("analysis"),
            "optimization_s": phase("optimization"), "planning_s": phase("planning"),
            "exchanges": exchanges,
        })

    # -- report -----------------------------------------------------------
    def settle(self, timeout: float = 5.0) -> None:
        """Wait for the listener bus to deliver outstanding progress."""
        n, deadline = -1, time.time() + timeout
        while time.time() < deadline and n != len(self.progress):
            n = len(self.progress)
            time.sleep(0.5)
        self.spark.streams.removeListener(self._listener)

    def metrics(self, jobs: dict, out_root: str, ticks: list[float]) -> dict[str, float]:
        by = defaultdict(list)
        for sp in self.spans:
            by[sp.name].append(sp)
        wall = lambda name: sum(s.end - s.start for s in by[name])  # noqa: E731
        m: dict[str, float] = {name: 0.0 for name, _ in per_layer_metrics()}

        # engine: span wall, and self time = wall minus the union of its
        # children (same source, inside its interval) across threads
        m["engine.run_source.s"] = wall("engine.run_source")
        self_s = 0.0
        for e in by["engine.run_source"]:
            kids = [(max(c.start, e.start), min(c.end, e.end))
                    for n in ENGINE_CHILDREN for c in by[n]
                    if c.source == e.source and c.start < e.end and c.end > e.start]
            self_s += (e.end - e.start) - _union(kids)
        m["engine.self_s"] = self_s
        m["providers.process.calls"] = len(by["providers.process"])
        m["providers.process.s"] = wall("providers.process")
        m["sinks.measures.csv.s"] = wall("sinks.measures.csv")
        m["sinks.measures.json.s"] = wall("sinks.measures.json")
        files = [p for p in glob.glob(os.path.join(out_root, "**", "measures", "**", "part-*"),
                                      recursive=True)]
        m["sinks.measures.files"] = len(files)
        m["sinks.measures.output_mb"] = sum(os.path.getsize(p) for p in files) / 2**20
        m["sinks.stations.upsert.s"] = wall("sinks.stations.upsert")
        written = sum(s.attrs.get("written", 0) for s in by["sinks.stations.upsert"])
        seen = written + sum(s.attrs.get("skipped", 0) for s in by["sinks.stations.upsert"])
        m["sinks.stations.write_ratio"] = written / seen if seen else 0.0
        m["sinks.log.publish.calls"] = len(by["sinks.log.publish"])
        m["sinks.log.publish.s"] = wall("sinks.log.publish")
        m["sources.checkpoint.advance.s"] = wall("sources.checkpoint.advance")
        m["sources.checkpoint.load.s"] = wall("sources.checkpoint.load")

        # scheduler: wait from tick start to each source's start, and the
        # share of the tick's worker capacity the sources kept busy
        waits, busy, capacity = [], 0.0, 0.0
        for t in by["scheduler.tick"]:
            inside = [e for e in by["engine.run_source"] if t.start <= e.start <= t.end]
            waits += [e.start - t.start for e in inside]
            busy += sum(e.end - e.start for e in inside)
            capacity += min(scheduler_mod._TICK_WORKERS, max(1, len(inside))) * (t.end - t.start)
        m["scheduler.queue_wait_s"] = sum(waits) / len(waits) if waits else 0.0
        m["scheduler.occupancy"] = busy / capacity if capacity else 0.0
        m["scheduler.tick_s"] = median(ticks) if ticks else 0.0

        for k in ("build_s", "collect_s", "analysis_s", "optimization_s", "planning_s",
                  "exchanges"):
            m[f"plans.{k}"] = sum(p[k] for p in self.plan_stats)
        m["tables.load.calls"] = len(by["tables.load"])
        m["tables.load.s"] = wall("tables.load")

        # streaming: micro-batch phases, and the drain wall no batch covers
        trig = sum(p["ms"].get("triggerExecution", 0) for p in self.progress) / 1000
        m["streaming.batches"] = len(self.progress)
        m["streaming.trigger_s"] = trig
        m["streaming.lifecycle_s"] = max(0.0, wall("streaming.drain") - trig)
        for key, ms in (("query_planning_s", "queryPlanning"), ("add_batch_s", "addBatch"),
                        ("wal_commit_s", "walCommit")):
            m[f"streaming.{key}"] = sum(p["ms"].get(ms, 0) for p in self.progress) / 1000
        last = {}
        for p in self.progress:
            last[p["run"]] = p["state"]
        m["streaming.state_rows"] = sum(r for st in last.values() for r, _ in st)
        m["streaming.state_mb"] = sum(b for st in last.values() for _, b in st) / 2**20

        # Spark execution per span (engine.summarize counts as engine work)
        runs = {p["run"] for p in self.progress}
        span_of = {s.id: ("engine.run_source" if s.name == "engine.summarize" else s.name)
                   for s in self.spans}
        intervals = {}
        for group, job in jobs.items():
            name = span_of.get(group) or ("streaming.batch" if group in runs else None)
            if name not in EXEC_SPANS:
                continue
            for c, _unit in EXEC_COUNTERS:
                if c != "driver_gap_s":
                    m[f"{name}.{c}"] += job[c]
            intervals[group] = job["intervals"]
        for sp in self.spans:
            name = span_of[sp.id]
            if name not in EXEC_SPANS or sp.name == "engine.summarize":
                continue
            own = [sp.id]
            if name == "engine.run_source":  # its children run its jobs
                own += [c.id for n in ENGINE_CHILDREN + ("engine.summarize",) for c in by[n]
                        if c.source == sp.source and c.start < sp.end and c.end > sp.start]
            elif name == "streaming.drain":  # drains run one at a time
                own += list(runs)
            covered = _union([(max(s, sp.start), min(e, sp.end))
                              for o in own for s, e in intervals.get(o, ())
                              if s < sp.end and e > sp.start])
            m[f"{name}.driver_gap_s"] += (sp.end - sp.start) - covered
        return m


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job/stage/task counts, task seconds, shuffle, input
    and spill volumes (MB), failed tasks, and the job intervals."""
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0, "input_mb": 0.0, "spill_mb": 0.0, "failed_tasks": 0,
        "intervals": [],
    })
    job_group, job_start, stage_job = {}, {}, {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[jid] = group
                    job_start[jid] = ev["Submission Time"] / 1000
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, jid)
                    groups[group]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    groups[job_group.get(jid)]["intervals"].append(
                        (job_start[jid], ev["Completion Time"] / 1000))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    groups[job_group.get(stage_job.get(sid))]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = groups[job_group.get(stage_job.get(ev["Stage ID"]))]
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["failed_tasks"] += int(bool(info.get("Failed")))
                    g["task_s"] += tm.get("Executor Run Time", 0) / 1000
                    sw, sr = tm.get("Shuffle Write Metrics", {}), tm.get("Shuffle Read Metrics", {})
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    g["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0)) / 2**20
                    g["input_mb"] += tm.get("Input Metrics", {}).get("Bytes Read", 0) / 2**20
                    g["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                                      + tm.get("Disk Bytes Spilled", 0)) / 2**20
    return dict(groups)
