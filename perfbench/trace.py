"""Tracing for the per-layer run: in-memory spans around every call into an
engine layer, one Spark job group per operator call, and a reader that
attributes the Spark event log back to those groups.

Untraced runs use a ``Tracer(enabled=False)``, which still times the calls
(the end-to-end metrics need that) but sets no job groups and keeps no
spans, and no event log is written.
"""

from __future__ import annotations

import json
import os
import time

WARMUP = "warmup"
OTHER = "other"  # job group of everything outside operator calls

# SQL metrics that Spark's Python exec nodes (ArrowEvalPython, MapInPandas,
# FlatMapCoGroupsInPandas, ...) attach to each task.
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

CALL_METRICS = ("plan_s", "exec_s", "jobs", "task_s", "py_worker_s",
                "arrow_to_py_mb", "arrow_from_py_mb", "shuffle_write_mb",
                "spill_mb", "failed_tasks", "lane_util")


class Tracer:
    """Times operator calls. When enabled it also keeps a span per call
    and per planning phase, and runs each call in its own job group."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.calls: list[dict] = []  # one per measured operator call
        self._seq = 0

    def call(self, layer: str, run, warmup: bool = False):
        """Time one operator call. ``run(mark)`` makes the call into the
        layer, calls ``mark()`` when the action starts (eager jobs before
        it count as planning) and returns the action's result. Returns
        (result, plan_s, exec_s)."""
        group = f"{WARMUP if warmup else 'call'}:{layer}#{self._seq}"
        self._seq += 1
        sc = self.spark.sparkContext if self.enabled else None
        if sc is not None:
            sc.setJobGroup(group, layer)
        marks = []
        t0 = time.perf_counter()
        try:
            out = run(lambda: marks.append(time.perf_counter()))
        finally:
            if sc is not None:
                sc.setJobGroup(OTHER, "outside operator calls")
        t2 = time.perf_counter()
        t1 = marks[0] if marks else t0
        if self.enabled:
            sid = len(self.spans)
            self.spans += [
                {"id": sid, "name": layer, "parent": None, "start": t0,
                 "end": t2, "group": group},
                {"id": sid + 1, "name": layer + ".plan", "parent": sid,
                 "start": t0, "end": t1}]
        if not warmup:
            self.calls.append({"layer": layer, "group": group,
                               "plan_s": t1 - t0, "exec_s": t2 - t1})
        return out, t1 - t0, t2 - t1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# event log


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, task seconds, Python-worker seconds, Arrow MB
    each way, shuffle-write MB, spill MB, failed tasks."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name):
        return groups.setdefault(name, {
            "jobs": 0, "task_s": 0.0, "py_worker_s": 0.0,
            "arrow_to_py_mb": 0.0, "arrow_from_py_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "failed_tasks": 0})

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                grp = props.get("spark.jobGroup.id") or OTHER
                g(grp)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, grp)
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev.get("Stage ID"), OTHER)
                rec = g(grp)
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if info.get("Failed") or reason not in (None, "Success"):
                    rec["failed_tasks"] += 1
                rec["task_s"] += _num(m.get("Executor Run Time")) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_mb"] += _num(sw.get("Shuffle Bytes Written")) / 2**20
                rec["spill_mb"] += (_num(m.get("Memory Bytes Spilled"))
                                    + _num(m.get("Disk Bytes Spilled"))) / 2**20
                for acc in info.get("Accumulables") or []:
                    name = acc.get("Name")
                    upd = _num(acc.get("Update"))
                    if name == PY_TIME:  # a millisecond timing metric
                        rec["py_worker_s"] += upd / 1e3
                    elif name == PY_SENT:
                        rec["arrow_to_py_mb"] += upd / 2**20
                    elif name == PY_RECV:
                        rec["arrow_from_py_mb"] += upd / 2**20
    return groups


def per_layer(calls: list[dict], groups: dict[str, dict], lanes: int,
              layers: list[str]) -> dict[str, float]:
    """Per layer, the mean over its measured calls of every CALL_METRICS
    entry; 0 for a layer the workload never calls."""
    out: dict[str, float] = {}
    for layer in layers:
        mine = [c for c in calls if c["layer"] == layer]
        n = len(mine)
        agg = {k: 0.0 for k in CALL_METRICS}
        for c in mine:  # timings from the call, the rest from its group
            ev = groups.get(c["group"], {})
            for k in CALL_METRICS:
                agg[k] += c[k] if k in c else ev.get(k, 0.0)
        wall = agg["plan_s"] + agg["exec_s"]
        agg["lane_util"] = agg["task_s"] / (wall * lanes) * n if wall else 0.0
        for k in CALL_METRICS:
            out[f"{layer}.{k}"] = agg[k] / n if n else 0.0
    return out


class EventLog:
    """Spark's own event-log writer attached to a running session, so the
    traced window needs no new session (and no second warm-up). Events go
    to ``directory/<name>`` as uncompressed JSON lines."""

    def __init__(self, spark, directory: str, name: str = "perfbench-trace"):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self.path = os.path.join(directory, name)
        os.makedirs(directory, exist_ok=True)
        conf = (self._sc.conf().clone()
                .set("spark.eventLog.compress", "false")
                .set("spark.eventLog.rolling.enabled", "false"))
        jvm = sc._jvm
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            name, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + directory), conf,
            sc._jsc.hadoopConfiguration())

    def __enter__(self) -> "EventLog":
        self._listener.start()
        self._sc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        self._sc.listenerBus().waitUntilEmpty(60_000)
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()
