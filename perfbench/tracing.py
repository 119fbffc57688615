"""Traced runs: spans recorded by the benchmark around its calls into the
engine, with time and bytes attributed from Spark's own counters.

Spark's event log (``spark.eventLog.enabled``, turned on only in traced runs)
carries every stage's task metrics and every SQL metric as raw values, plus
each SQL execution's plan with the accumulator id of every node metric. The
status stores give the same numbers already formatted for display
("1.2 MiB"), so the benchmark reads the log. Nothing under ``chronon_spark/``
is instrumented: spans sit in this package, around the public calls.

A span's Spark work is the set of events logged between its start and end;
the benchmark drives one client, so nothing else runs in between.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

COGROUP_PREFIX = "FlatMapCoGroupsIn"
AGG_NODES = {"HashAggregate", "ObjectHashAggregate", "SortAggregate"}
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings for a single plain-text event log file."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


@dataclass
class NodeMetric:
    node: str  # plan node name, e.g. "Sort"
    metric: str  # SQL metric name, e.g. "sort time"
    in_cogroup: bool  # below a FlatMapCoGroupsIn* node
    first_agg_below_cogroup: bool  # the aggregate closest to the cogroup on its path
    desc: str  # the node's one-line description (a scan's output columns)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    events: list = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class EventLogTracer:
    """Reads the event log incrementally and keeps the accumulator-id map."""

    def __init__(self, spark, log_dir: str):
        self._sc = spark.sparkContext
        files = glob.glob(os.path.join(log_dir, "*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log file in {log_dir}, found {files}")
        self._fh = open(files[0], "rb")
        self._partial = b""
        self.acc: dict[int, NodeMetric] = {}
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def close(self) -> None:
        self._fh.close()

    def _drain(self) -> list[dict]:
        """Events written since the last drain. The listener bus is emptied
        first; stage, job and SQL events flush the log writer themselves."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        data = self._partial + self._fh.read()
        lines = data.split(b"\n")
        self._partial = lines.pop()
        events = [json.loads(line) for line in lines if line]
        for e in events:
            plan = e.get("sparkPlanInfo")
            if plan is not None:
                self._walk(plan, in_cogroup=False, agg_seen=False)
        return events

    def _walk(self, node: dict, in_cogroup: bool, agg_seen: bool) -> None:
        name = node["nodeName"]
        is_agg = name in AGG_NODES
        first_agg = in_cogroup and is_agg and not agg_seen
        for m in node.get("metrics", []):
            self.acc[m["accumulatorId"]] = NodeMetric(
                name, m["name"], in_cogroup, first_agg, node.get("simpleString", "")
            )
        child_cog = in_cogroup or name.startswith(COGROUP_PREFIX)
        child_agg = agg_seen or (in_cogroup and is_agg)
        for c in node.get("children", []):
            self._walk(c, child_cog, child_agg)

    def start(self, name: str) -> Span:
        if not self._open:
            self._drain()  # events before the outermost span belong to no span
        span = Span(name, time.time(), parent=self._open[-1].name if self._open else None)
        self._open.append(span)
        return span

    def stop(self, span: Span) -> Span:
        span.end = time.time()
        self._open.remove(span)
        if not self._open:
            span.events = self._drain()
        self.spans.append(span)
        return span


def span_totals(span: Span, acc: dict[int, NodeMetric], ir_scan_hint: str | None = None) -> dict[str, float]:
    """Layer counters of one outermost span, from the events logged in it."""
    t: dict[str, float] = defaultdict(float)
    jobs: dict[int, list[float]] = {}
    task_ms: dict[int, list[float]] = defaultdict(list)
    cogroup_stages: set[int] = set()
    agg_stages: set[int] = set()  # stages aggregating below the cogroup (hop tiles)

    def add_sql(acc_id: int, value: int, stage: dict | None) -> None:
        m = acc.get(acc_id)
        if m is None:
            return
        if m.node.startswith("Scan") and m.metric == "scan time":
            t["scan.ms"] += value
        elif m.node.startswith("Scan") and m.metric == "size of files read":
            t["scan.bytes"] += value
        elif m.node.startswith("Scan") and m.metric == "number of output rows":
            if ir_scan_hint and ir_scan_hint in m.desc:
                t["ir_scan.rows"] += value
        elif m.node.startswith(COGROUP_PREFIX) or "Python workers" in m.metric:
            key = {
                "time to run Python workers": "python.run_ms",
                "data sent to Python workers": "python.sent_bytes",
                "data returned from Python workers": "python.returned_bytes",
                "time to start Python workers": "python.boot_ms",
                "time to initialize Python workers": "python.init_ms",
            }.get(m.metric)
            if key:
                t[key] += value
            if m.node.startswith(COGROUP_PREFIX) and stage is not None:
                cogroup_stages.add(stage["Stage ID"])
        elif m.node == "Sort" and m.in_cogroup and m.metric == "sort time":
            t["cogroup.sort_ms"] += value
        elif m.node == WRITE_NODE:
            key = {
                "task commit time": "sink.commit_ms",
                "job commit time": "sink.commit_ms",
                "written output": "sink.bytes",
                "number of written files": "sink.files",
                "number of output rows": "sink.rows",
            }.get(m.metric)
            if key:
                t[key] += value
        if m.in_cogroup and m.node in AGG_NODES and stage is not None:
            agg_stages.add(stage["Stage ID"])
            if m.first_agg_below_cogroup and m.metric == "number of output rows":
                t["tiles.rows"] += value

    stage_run: dict[int, float] = {}
    for e in span.events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = [e["Submission Time"], e["Submission Time"]]
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
            task_ms[e["Stage ID"]].append(e["Task Metrics"]["Executor Run Time"])
        elif kind == "SparkListenerStageCompleted":
            st = e["Stage Info"]
            for a in st.get("Accumulables", []):
                name = a["Name"]
                if name.startswith("internal.metrics."):
                    key = {
                        "internal.metrics.executorRunTime": "run_ms",
                        "internal.metrics.executorCpuTime": "cpu_ns",
                        "internal.metrics.jvmGCTime": "gc_ms",
                        "internal.metrics.input.recordsRead": "scan.rows",
                        "internal.metrics.shuffle.write.bytesWritten": "exchange.bytes",
                        "internal.metrics.shuffle.write.recordsWritten": "exchange.records",
                        "internal.metrics.shuffle.write.writeTime": "exchange.write_ns",
                    }.get(name)
                    if key:
                        t[key] += int(a["Value"])
                    if name == "internal.metrics.executorRunTime":
                        stage_run[st["Stage ID"]] = int(a["Value"])
                elif a["ID"] in acc:  # a SQL metric; other accumulators may hold non-numbers
                    add_sql(a["ID"], int(a["Value"]), st)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                add_sql(acc_id, int(value), None)

    t["tiles.build_ms"] = sum(stage_run.get(s, 0.0) for s in agg_stages)
    # task skew of the cogroup: slowest task over the median task
    skew = 0.0
    for s in cogroup_stages:
        ts = task_ms.get(s, [])
        if ts and statistics.median(ts) > 0:
            skew = max(skew, max(ts) / statistics.median(ts))
    t["cogroup.task_skew"] = skew
    # driver time: span wall not covered by any Spark job
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(jobs.values()):
        lo, hi = max(lo, span.start * 1000), min(hi, span.end * 1000)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            covered += 0 if cur_hi is None else cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    t["driver_ms"] = max(span.ms - covered, 0.0)
    return dict(t)
