"""Spark session lifetime, spans, and the event-log parser.

A traced run sets one Spark job group per span, so every job the
program runs inside a benchmark call is attributed to that call.
Streaming micro-batch jobs run in the stream's own thread, so they are
attributed by their ``streaming.sql.batchId`` job property instead.
Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def pct(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------- sessions


def start_spark(work_dir: str, trace: bool):
    """Start the session the run uses; returns (spark, seconds taken).

    Spark's Python workers inherit PYTHONPATH from this process, which
    the caller sets before this runs (a driver-only ``sys.path`` entry
    leaves the workers unable to import the package).
    """
    from data_ingestion_pipeline_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(work_dir, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=os.cpu_count() or 4, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(8).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it every
    Python worker it forked) has exited."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, layer, start, end, parent, request id).

    With ``enabled`` false a span only times its body: no job group is
    set, so the untraced run measures the program alone.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, layer: str, name: str, req=None):
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "layer": layer, "name": name, "req": req,
                   "parent": getattr(self._local, "current", None),
                   "start": time.time(), "end": None}
            self.spans.append(rec)
        parent = rec["parent"]
        self._local.current = sid
        if self.enabled:
            self.sc.setJobGroup(f"perfbench-{sid}", f"{layer}:{name}", False)
        t = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t
            rec["end"] = rec["start"] + rec["dur"]
            self._local.current = parent
            if self.enabled:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    p = self.spans[parent]
                    self.sc.setJobGroup(f"perfbench-{parent}", f"{p['layer']}:{p['name']}", False)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ------------------------------------------------------------ event log


class EventLog:
    """Jobs, task time, shuffle bytes and written files/bytes per job
    group (span) and per streaming batch, from Spark's event log."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.exec_writes: dict[int, dict] = {}
        acc_names: dict[int, str] = {}
        acc_exec: dict[int, int] = {}
        files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p)]
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line), acc_names, acc_exec)

    def _event(self, e: dict, acc_names: dict, acc_exec: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "batch": props.get("streaming.sql.batchId"),
                "exec": props.get("spark.sql.execution.id"),
                "tasks": 0,
                "executor_s": 0.0,
                "shuffle_bytes": 0,
            }
            for sid in e.get("Stage IDs", []):
                self.stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = self.jobs.get(self.stage_job.get(e["Stage ID"]))
            tm = e.get("Task Metrics") or {}
            if job is not None:
                job["tasks"] += 1
                job["executor_s"] += tm.get("Executor Run Time", 0) / 1000.0
                job["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._write_metrics(e["sparkPlanInfo"], e["executionId"], acc_names, acc_exec)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc, val in e["accumUpdates"]:
                name = acc_names.get(acc)
                if name is not None:
                    w = self.exec_writes.setdefault(acc_exec[acc], {"files": 0, "bytes": 0, "parts": 0, "rows": 0})
                    w[name] += val

    def _write_metrics(self, node: dict, exec_id: int, acc_names: dict, acc_exec: dict) -> None:
        if node.get("nodeName") == WRITE_NODE:
            keys = {"number of written files": "files", "written output": "bytes",
                    "number of dynamic part": "parts", "number of output rows": "rows"}
            for m in node.get("metrics", []):
                if m["name"] in keys:
                    acc_names[m["accumulatorId"]] = keys[m["name"]]
                    acc_exec[m["accumulatorId"]] = exec_id
        for child in node.get("children", []):
            self._write_metrics(child, exec_id, acc_names, acc_exec)

    def jobs_of(self, pred) -> list[dict]:
        return [j for j in self.jobs.values() if pred(j)]

    def writes_of(self, jobs: list[dict]) -> dict:
        out = {"files": 0, "bytes": 0, "parts": 0, "rows": 0}
        for ex in {int(j["exec"]) for j in jobs if j["exec"] is not None}:
            for k, v in self.exec_writes.get(ex, {}).items():
                out[k] += v
        return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b is not None and b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_spark_metrics(tracer: Tracer, log: EventLog, layers) -> dict[str, float]:
    """``<layer>.jobs/executor_s/shuffle_bytes/self_s/driver_gap_s`` for
    every layer name in ``layers`` that some span carries.

    A job belongs to the innermost span whose job group it carries;
    streaming micro-batch jobs belong to the span that ran the stream.
    self_s is a span's time minus the time its child spans cover;
    driver_gap_s is a span's time not covered by one of its own jobs.
    """
    by_group: dict[str, list[dict]] = {}
    stream_jobs = []
    for j in log.jobs.values():
        if j["batch"] is not None:
            stream_jobs.append(j)
        elif j["group"] and j["group"].startswith("perfbench-"):
            by_group.setdefault(j["group"], []).append(j)
    children: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for layer in {s["layer"] for s in tracer.spans} & set(layers):
        acc = {"jobs": 0, "executor_s": 0.0, "shuffle_bytes": 0, "self_s": 0.0, "driver_gap_s": 0.0}
        for s in tracer.spans:
            if s["layer"] != layer or s.get("end") is None:
                continue
            jobs = list(by_group.get(f"perfbench-{s['id']}", []))
            if s.get("stream"):
                jobs += [j for j in stream_jobs if s["start"] <= j["start"] <= s["end"]]
            kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            acc["jobs"] += len(jobs)
            acc["executor_s"] += sum(j["executor_s"] for j in jobs)
            acc["shuffle_bytes"] += sum(j["shuffle_bytes"] for j in jobs)
            acc["self_s"] += s["dur"] - covered(kids, s["start"], s["end"])
            acc["driver_gap_s"] += s["dur"] - covered([(j["start"], j["end"]) for j in jobs], s["start"], s["end"])
        for k, v in acc.items():
            out[f"{layer}.{k}"] = v
    return out
