"""Outside-in tracer for the benchmark process.

``Tracer.install()`` wraps, in this process only, the public functions
the engine's modules export (and the ``Scd1Result.counts`` /
``Warehouse`` methods) so that each call records a span: name, parent,
start and end, and the py4j calls made during it. Every span sets its
own Spark job group on entry and restores the parent's on exit, so the
jobs a span triggers can be read back per group from the driver's
status REST API after the run. Spans stay in memory and are written
out once, by ``dump``, at the end; nothing under the package is edited.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "etl_processing_scd1_spark"

#: span name -> (module, attribute) of each wrapped function
FUNCTIONS = {
    "pipeline.run_day": ("pipeline", "run_day"),
    "readers.scan_drop_dir": ("sources.readers", "scan_drop_dir"),
    "readers.read_transactions_csv": ("sources.readers", "read_transactions_csv"),
    "readers.read_xlsx": ("sources.readers", "read_xlsx"),
    "readers.read_blacklist_excel": ("sources.readers", "read_blacklist_excel"),
    "readers.archive_file": ("sources.readers", "archive_file"),
    "scd1.merge": ("operators.scd1", "scd1_merge"),
    "facts.append_dedup": ("operators.facts", "append_dedup"),
    "meta.watermark_of": ("operators.meta", "watermark_of"),
    "meta.upsert_watermark": ("operators.meta", "upsert_watermark"),
    "fraud.fraud_type1": ("plans.fraud", "fraud_type1"),
    "fraud.fraud_type2": ("plans.fraud", "fraud_type2"),
    "fraud.fraud_type3": ("plans.fraud", "fraud_type3"),
}
#: span name -> (module, class, method) of each wrapped method
METHODS = {
    "scd1.counts": ("operators.scd1", "Scd1Result", "counts"),
    "storage.read": ("storage", "Warehouse", "read"),
    "storage.stage": ("storage", "Warehouse", "stage"),
    "storage.stage_append": ("storage", "Warehouse", "stage_append"),
    "storage.staged_view": ("storage", "Warehouse", "staged_view"),
    "storage.publish": ("storage", "Warehouse", "publish"),
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    py4j0: int = 0
    py4j1: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.t1 - self.t0

    @property
    def group(self) -> str:
        return f"span-{self.id}"


class Tracer:
    """Span recorder, job-group setter and py4j call counter."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.py4j_calls = 0
        self._stack: list[Span] = []
        self._counting = True
        self._undo: list[tuple[object, str, object]] = []

    # -- installation ----------------------------------------------------

    def install(self) -> None:
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted_send(*args, **kwargs):
            if self._counting:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        self._set(client, "send_command", counted_send)
        for name, (mod, attr) in FUNCTIONS.items():
            original = getattr(importlib.import_module(f"{PKG}.{mod}"), attr)
            wrapped = self._wrap(name, original)
            # rebind every package module that imported the function by name
            for modname, module in list(sys.modules.items()):
                if modname.startswith(PKG) and getattr(module, attr, None) is original:
                    self._set(module, attr, wrapped)
        for name, (mod, cls_name, meth) in METHODS.items():
            cls = getattr(importlib.import_module(f"{PKG}.{mod}"), cls_name)
            self._set(cls, meth, self._wrap(name, getattr(cls, meth)))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()

    def _set(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- spans -------------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        self._counting = False
        try:
            self.sc.setLocalProperty("spark.jobGroup.id", span.group if span else None)
        finally:
            self._counting = True

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), parent.id if parent else None, name, 0.0)
        self.spans.append(sp)
        if parent:
            parent.children.append(sp.id)
        self._stack.append(sp)
        self._set_group(sp)
        sp.py4j0 = self.py4j_calls
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.py4j1 = self.py4j_calls
            self._stack.pop()
            self._set_group(parent)

    def self_time(self, sp: Span) -> float:
        return sp.duration - sum(self.spans[c].duration for c in sp.children)

    def dump(self, path: str) -> None:
        """Write every span, one JSON object a line, in one go."""
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.id, "parent": sp.parent, "name": sp.name,
                    "t0": sp.t0, "t1": sp.t1, "self_s": self.self_time(sp),
                    "py4j_calls": sp.py4j1 - sp.py4j0, "job_group": sp.group,
                }) + "\n")

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp.id]
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo.extend(s.children)
        return out

    # -- Spark status REST API --------------------------------------------

    def _get(self, path: str):
        base = self.sc.uiWebUrl.rstrip("/")
        url = f"{base}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def spark_jobs(self) -> tuple[list[dict], dict]:
        """All jobs and stages, read once the listener bus has drained
        (the status store is fed asynchronously)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        jobs = self._get("jobs")
        stages = {(s["stageId"], s["attemptId"]): s for s in self._get("stages")}
        return jobs, stages

    def task_times_ms(self, stage: dict) -> list[float]:
        tasks = self._get(
            f"stages/{stage['stageId']}/{stage['attemptId']}/taskList?length=100000"
        )
        return [t.get("taskMetrics", {}).get("executorRunTime", t.get("duration", 0)) for t in tasks]


def spark_totals(tracer: Tracer, spans: list[Span], jobs: list[dict], stages: dict,
                 with_skew: bool = False) -> dict[str, float]:
    """Jobs, executed stages, tasks, executor run time, shuffle and
    spill of every job whose group is one of ``spans``."""
    groups = {s.group for s in spans}
    mine = [j for j in jobs if j.get("jobGroup") in groups]
    by_id: dict[int, list[dict]] = {}
    for (stage_id, _attempt), st in stages.items():
        by_id.setdefault(stage_id, []).append(st)
    tot = {"jobs": len(mine), "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "shuffle_bytes": 0, "spill_bytes": 0}
    task_ms: list[float] = []
    for sid in sorted({sid for j in mine for sid in j["stageIds"]}):
        for st in by_id.get(sid, []):
            if st["status"] != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            tot["stages"] += 1
            tot["tasks"] += st["numTasks"]
            tot["executor_run_s"] += st["executorRunTime"] / 1000.0
            tot["shuffle_bytes"] += st["shuffleWriteBytes"]
            tot["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            if with_skew:
                task_ms.extend(tracer.task_times_ms(st))
    if with_skew:
        task_ms.sort()
        median = task_ms[len(task_ms) // 2] if task_ms else 0.0
        tot["task_skew"] = (task_ms[-1] / max(median, 1.0)) if task_ms else 0.0
    return tot
