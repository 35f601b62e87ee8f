"""Spans around the benchmark's calls into each layer, and attribution of
Spark's own stage and task metrics to those spans.

A span has a name (``<layer>.<step>``), start, end, parent and operation
id (the id of the outermost span it sits under). While a span is open it
is the Spark job group, so every job it starts carries the span id in its
``spark.jobGroup.id`` property; the event log written by the traced run
then lets ``attribute`` sum stages, tasks, shuffle bytes, spill, GC and
executor time per span. Spans stay in memory until the run ends.

With tracing off, ``span`` yields without recording anything or touching
Spark, so the end-to-end run pays nothing for it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager

SPARK_COUNTS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "gc_ms", "executor_cpu_ms", "executor_run_ms", "grouped_agg_rows",
)
_AGG = re.compile(r"keys=\[(.*?)\], functions=\[(.*)\]")
_SQL_PLAN_EVENTS = ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self.overhead_s = 0.0  # time spent in span bookkeeping itself

    def bind(self, spark) -> None:
        """Attach the current SparkContext whose job group spans set
        (None while no session is up)."""
        self.sc = spark.sparkContext if self.enabled and spark is not None else None

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"], False)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        sp = {
            "id": f"pb{os.getpid()}-{self._next}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else f"pb{os.getpid()}-{self._next}",
            "counts": {},
        }
        self._stack.append(sp)
        self._set_group(sp)
        sp["start"] = time.perf_counter()
        self.overhead_s += sp["start"] - t_in
        try:
            yield sp
        finally:
            t_out = time.perf_counter()
            sp["end"] = t_out
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t_out


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> duration minus the part of it its children cover."""
    kids: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"]:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _grouped_agg_accumulators(plan: dict, out: set) -> None:
    """Accumulator ids of the "number of output rows" metric of every
    final aggregate with grouping keys in a SQL plan-info tree: the rows
    such an aggregate emits are the groups it computed."""
    m = _AGG.search(plan.get("simpleString", "")) if plan.get("nodeName", "").endswith("Aggregate") else None
    if m and m.group(1).strip() and m.group(2).strip() and not re.search(r"\b(partial|merge)_", m.group(2)):
        out.update(x["accumulatorId"] for x in plan.get("metrics", []) if x.get("name") == "number of output rows")
    for child in plan.get("children", []):
        _grouped_agg_accumulators(child, out)


def read_event_logs(log_dir: str) -> dict[str, dict]:
    """Parse every Spark event log under ``log_dir`` and sum metrics per
    job group: ``{group: {jobs, stages, tasks, shuffle_*_bytes,
    spill_bytes, gc_ms, executor_cpu_ms, executor_run_ms,
    grouped_agg_rows}}``. ``grouped_agg_rows`` is the rows emitted by
    final grouped aggregates, read from the SQL plans and the stages'
    accumulators."""
    per_group: dict[str, dict] = defaultdict(lambda: dict.fromkeys(SPARK_COUNTS, 0))
    # one file per application, or a rolling-log directory of events_* files
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))]
    for path in sorted(paths):
        stage_group: dict[int, str] = {}
        agg_ids: set = set()
        stage_accums: list[tuple[str, list]] = []
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith(_SQL_PLAN_EVENTS):
                    _grouped_agg_accumulators(ev.get("sparkPlanInfo") or {}, agg_ids)
                elif kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    per_group[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group:
                        per_group[group]["stages"] += 1
                        stage_accums.append((group, ev["Stage Info"].get("Accumulables", [])))
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if not group or not m:
                        continue
                    g = per_group[group]
                    g["tasks"] += 1
                    g["executor_run_ms"] += m.get("Executor Run Time", 0)
                    g["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        # plan updates can arrive after a stage that ran a node, so sum last
        for group, accums in stage_accums:
            per_group[group]["grouped_agg_rows"] += sum(int(a["Value"]) for a in accums if a.get("ID") in agg_ids)
    return dict(per_group)


def attribute(spans: list[dict], groups: dict[str, dict]) -> None:
    """Attach each span's own Spark counts (jobs run while it was the
    innermost open span) as ``span['spark']``."""
    for s in spans:
        s["spark"] = groups.get(s["id"], dict.fromkeys(SPARK_COUNTS, 0))
