"""Shared pieces of the benchmark: the run environment, the session
set-up, statistics, the in-memory span tracer and the readers of
Spark's own counters (event log, py4j round-trips).

Nothing here reaches inside the package under test: every layer is
timed from outside, around the calls into its public functions, and
Spark's execution counters come from the event log Spark writes for
the benchmark's job groups.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 5


# ----------------------------------------------------------- environment


def prepare_environment(traced: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and turn on Spark's event log for a traced run. Must run
    before the first SparkSession is built (the JVM reads these once)."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    conf = [
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir)
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.scheduler.listenerbus.eventqueue.capacity=200000",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def build_session():
    """One session build through the package's only factory."""
    from aws_csp_datapipeline_spark.session import get_spark

    return get_spark(app_name="perfbench")


def timed_setup(make_inputs):
    """Set up ``SETUP_REPEATS`` times — stop the session, build it
    again, regenerate the inputs — and return the median set-up time,
    the first session-build time (JVM launch included), the session
    and the last inputs. The median keeps one slow JVM launch from
    deciding ``setup_s``; work moved into session build or input
    generation still shows in every repetition."""
    t_start = time.perf_counter()
    times, spark, inputs, first_session_s = [], None, None, None
    for i in range(SETUP_REPEATS):
        t0 = t_start if i == 0 else time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = build_session()
        if first_session_s is None:
            first_session_s = time.perf_counter() - t0
        inputs = make_inputs(spark, i)
        times.append(time.perf_counter() - t0)
    print(f"# setup_reps_s = {[round(t, 3) for t in times]}")
    return statistics.median(times), first_session_s, spark, inputs


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------------ statistics


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile. With ten samples or fewer none qualifies and the
    maximum (p100) is returned."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 11 if n > 10 else n - 1
    return xs[k], round(100.0 * (k + 1) / n, 1)


def geomean(samples: list[float]) -> float:
    return math.exp(sum(math.log(max(s, 1e-9)) for s in samples) / len(samples))


def op_metrics(op_times: list[float], elapsed: float) -> dict:
    """The end-to-end metrics shared by every workload, besides
    ``setup_s``."""
    return {
        "ops_per_s": len(op_times) / elapsed,
        "op_geomean_s": geomean(op_times),
    }


def latency_detail(op_times: list[float]) -> dict:
    """Median and tail of the per-op times, printed beside the
    end-to-end metrics but not bounded: with one 24-op deck of very
    unequal ops (``crud_api``) both jump between neighbouring order
    statistics from run to run."""
    value, pct = tail(op_times)
    return {"op_p50_s": statistics.median(op_times), f"op_tail_s (p{pct:g})": value}


def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> None:
    """Print every metric as a readable line, then the one-line JSON
    result that must be the last line of standard output."""
    for name, value in metrics.items():
        print(f"{name:<34} {value:>16.6g} {units[name]}")
    print(f"{'failed_ratio':<34} {failed / max(attempted, 1):>16.6g} fraction")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()
                },
            }
        ),
        flush=True,
    )


# --------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans: name, start, end, parent span, trace id (one
    per query or op) and the counters read at the span's boundaries.
    Disabled tracers record nothing and cost one attribute test."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.trace_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **counters):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "counters": dict(counters),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, fh)


class Py4jCounter:
    """Counts driver-to-JVM gateway round-trips by wrapping py4j's
    ``send_command`` (both the pinned-thread client-server transport
    and the classic gateway transport)."""

    def __init__(self) -> None:
        self.calls = 0
        self._patched: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            original = cls.send_command

            def counted(conn, command, *a, _orig=original, **kw):
                self.calls += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = counted
            self._patched.append((cls, original))

    def uninstall(self) -> None:
        for cls, original in self._patched:
            cls.send_command = original
        self._patched.clear()


def set_job_group(spark, group: str) -> None:
    """Tag the next Spark jobs with ``group`` so the event log can be
    split per query or op."""
    spark.sparkContext.setJobGroup(group, group)


def read_event_log() -> dict[str, dict]:
    """Aggregate Spark's event log per job group. Call after the
    session has stopped (the log is flushed on stop).

    Per group: jobs, stages run, stages skipped (listed by a job, never
    submitted — AQE reuse or a shuffle already written), tasks, task
    run/CPU/GC seconds, shuffle read/write, spill and input bytes."""
    files = sorted(
        p for p in glob.glob(os.path.join(WORK, "eventlog", "**"), recursive=True) if os.path.isfile(p)
    )
    stage_group: dict[int, str] = {}
    listed: dict[str, set[int]] = {}
    submitted: set[int] = set()
    per: dict[str, dict] = {}

    def group(g: str) -> dict:
        return per.setdefault(
            g,
            {
                "jobs": 0,
                "stages": 0,
                "stages_skipped": 0,
                "tasks": 0,
                "task_run_s": 0.0,
                "task_cpu_s": 0.0,
                "gc_s": 0.0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "input_bytes": 0,
                "output_bytes": 0,
            },
        )

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    group(g)["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                    listed.setdefault(g, set()).update(ev["Stage IDs"])
                elif kind == "SparkListenerStageSubmitted":
                    submitted.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    c = group(g)
                    c["tasks"] += 1
                    c["task_run_s"] += m["Executor Run Time"] / 1e3
                    c["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                    c["gc_s"] += m["JVM GC Time"] / 1e3
                    sr = m.get("Shuffle Read Metrics", {})
                    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    c["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for g, sids in listed.items():
        c = group(g)
        c["stages"] = len(sids & submitted)
        c["stages_skipped"] = len(sids - submitted)
    return per


EXEC_COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


def exec_metrics(per: dict[str, dict], groups, n: int, action_s: float) -> dict:
    """``exec.*`` per-layer metrics: event-log counters of ``groups``
    divided by ``n`` (passes), plus the share of the task slots the
    actions kept busy (task run time over action wall time x cores)."""
    ex = sum_groups(per, groups)
    out = {f"exec.{k}": ex.get(k, 0) / n for k in EXEC_COUNTERS}
    out["exec.action_s"] = action_s / n
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    out["exec.slot_busy_ratio"] = ex.get("task_run_s", 0.0) / max(action_s * cores, 1e-9)
    return out


def sum_groups(per: dict[str, dict], groups) -> dict:
    out: dict = {}
    for g in groups:
        for k, v in per.get(g, {}).items():
            out[k] = out.get(k, 0) + v
    return out
