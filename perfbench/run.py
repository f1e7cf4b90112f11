#!/usr/bin/env python3
"""Repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` inside ``.perfbench/``,
sets up a ``local[SPARK_GRAFT_CPUS]`` session (default: every CPU this
process may use), runs closed-loop rounds of user operations for
``--seconds`` (at least one round), checks every output, and prints one
JSON object as its last line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs two
untraced rounds, then one traced round on freshly generated inputs of the
same seed, and reports the per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: trace mode runs a fixed number of rounds, so two traced runs of one
#: seed do the same work: two untraced rounds (the second, warm one is
#: the overhead baseline), then one traced round
TRACE_ROUNDS = 2
DEADLINE_S = 170


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cpus()))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM the launcher starts: temp files in ``work``, no /tmp perf data
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


class RssSampler(threading.Thread):
    """Peak resident set of the driver JVM plus this Python process."""

    def __init__(self, pids: list[int]):
        super().__init__(daemon=True)
        self.pids, self.peak_kb = pids, 0
        self._stop_event = threading.Event()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self):
        while not self._stop_event.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            self._stop_event.wait(0.1)

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return self.peak_kb / 1024


class Session:
    """Session set-up and teardown: ``get_spark`` + ``Engine`` + one warm
    scan of the workload's inputs."""

    def __init__(self, cpus: int):
        self.cpus, self.spark = cpus, None

    def start(self, wl) -> float:
        from openaq_lcs_fetch_spark.engine import Engine
        from openaq_lcs_fetch_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        wl.bind(self.spark, Engine(self.spark))
        wl.warm()
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int | None:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for both."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=30)


def measure(wl, rec, seconds: float, rounds: int | None, pids) -> tuple[list[float], float]:
    """Closed loop: rounds until ``seconds`` have passed (at least one),
    or exactly ``rounds``. Returns the round walls and the peak RSS."""
    rss = RssSampler([p for p in pids if p])
    rss.start()
    walls, t0 = [], time.perf_counter()
    while True:
        walls.append(wl.round(rec))
        done = len(walls) >= rounds if rounds else time.perf_counter() - t0 >= seconds
        if done:
            break
    return walls, rss.stop()


def run(args, work: str, t_import: float, session: Session) -> tuple[dict, dict]:
    import pyspark
    import workloads

    cpus = session.cpus
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "nproc": _cpus(), "SPARK_GRAFT_CPUS": cpus, "pyspark": pyspark.__version__,
              "loadavg_start": _loadavg()}
    wl = workloads.WORKLOADS[args.workload](os.path.join(work, "pass0"), args.seed, cpus)
    t0 = time.perf_counter()
    wl.prepare()
    record["generate_s"] = time.perf_counter() - t0

    # set-up = process start -> session ready, input generation excluded:
    # the imports, the JVM launch, get_spark + Engine and one warm scan
    start_s = session.start(wl)
    setup_s = t_import + start_s
    record.update(import_s=t_import, session_start_s=start_s)
    pids = [os.getpid(), session.jvm_pid()]

    rec = workloads.Recorder()
    walls, peak = measure(wl, rec, args.seconds, TRACE_ROUNDS if args.trace else None, pids)
    wl.check(rec)
    record.update(rounds=len(walls), round_walls_s=walls,
                  ops=[[n, round(t, 3)] for n, t in zip(rec.names, rec.lat)])
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(walls), "s"),
        "op_p50_s": (statistics.median(rec.lat), "s"),
        # verified output rows of one round over its mean wall
        "rows_per_s": (rec.rows / wl.n_rounds * len(walls) / sum(walls), "rows/s"),
    }
    record["end_to_end"] = {k: v for k, (v, _u) in metrics.items()}
    record["peak_rss_mb"] = peak
    if args.trace:
        metrics = traced_pass(args, work, cpus, session, rec, walls, start_s, peak, record)
    record["error_rate"] = min(rec.failed, rec.attempted) / max(1, rec.attempted)
    record["problems"] = rec.problems
    record["loadavg_end"] = _loadavg()
    result = {
        "correct": rec.failed == 0,
        "attempted": max(1, rec.attempted),
        "failed": min(rec.failed, rec.attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record


def traced_pass(args, work, cpus, session, rec, untraced_walls, start_s, peak_rss,
                record) -> dict:
    """One traced round on fresh inputs of the same seed, with the event
    log on; returns every per-layer metric."""
    import tracing
    import workloads

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    wl = workloads.WORKLOADS[args.workload](os.path.join(work, "pass1"), args.seed, cpus)
    wl.prepare()
    session.stop()
    from pyspark import SparkContext

    props = SparkContext._jvm.java.lang.System
    for key, value in (("enabled", "true"), ("dir", "file://" + log_dir),
                       ("rolling.enabled", "false"), ("compress", "false")):
        props.setProperty(f"spark.eventLog.{key}", value)
    session.start(wl)
    tracer = tracing.Tracer(session.spark)
    tracer.install()
    wl.tracer = tracer
    try:
        walls, _ = measure(wl, rec, args.seconds, 1, [])
    finally:
        tracer.uninstall()
    tracer.settle()
    wl.check(rec)
    session.stop()  # flushes the event log
    jobs = tracing.read_event_log(log_dir)
    overhead = walls[0] - untraced_walls[-1]
    record["traced_round_walls_s"] = walls
    record["trace_overhead_s"] = overhead
    values = tracer.metrics(jobs, wl.out, getattr(wl, "ticks", []))
    values.update({"session.start_s": start_s, "session.peak_rss_mb": peak_rss,
                   "trace.overhead_s": overhead})
    return {name: (values[name], unit) for name, unit in tracing.per_layer_metrics()}


def main() -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("ingest_bulk", "analytics_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    def _deadline(_sig, _frame):
        raise TimeoutError(f"benchmark exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    sys.path[:0] = [ROOT, HERE]
    session = Session(int(os.environ["SPARK_GRAFT_CPUS"]))
    try:
        import workloads  # noqa: F401 - imports the package and pyspark
        t_import = time.perf_counter() - t_start
        result, record = run(args, work, t_import, session)
    finally:
        try:
            session.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)
    print("perfbench record: " + json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
