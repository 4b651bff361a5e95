"""Spans, Spark REST collection and per-layer metrics for a traced run.

Nothing here runs in an untraced run.  A traced run records spans from the
benchmark's own files only: around each set-up, pass, query, construct and
materialize step, and around the public entry points of each layer, which
``Tracer.install`` replaces during the traced passes.  Spark job and stage
spans are rebuilt afterwards from the REST API's submission and completion
times, and Python-worker time and bytes come from the SQL REST endpoint.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime
from urllib.parse import urlparse

from perfbench import sqlmetrics

MIB = float(1 << 20)
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
EXCHANGES = ("Exchange", "BroadcastExchange")


class Tracer:
    """In-memory spans with parent links; written out when the run ends.

    Spans are recorded only while the tracer is installed; ``install``
    also wraps each ``(owner, attr, span name)`` of ``targets`` so that
    every call records a span, and ``restore`` puts the originals back.
    """

    def __init__(self, targets: list[tuple]):
        self.spans: list[dict] = []
        self.targets = targets
        self.active = False
        self._stack: list[int] = []
        self._restore: list[tuple] = []
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    def add(self, name: str, start: float, end: float | None, parent: int | None) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "name": name, "start": start, "end": end})
        return sid

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        sid = self.add(name, self.now(), None, self._stack[-1] if self._stack else None)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = self.now()

    def install(self) -> None:
        for owner, attr, name in self.targets:
            original = getattr(owner, attr)
            setattr(owner, attr, self._traced(original, name))
            self._restore.append((owner, attr, original))
        self.active = True

    def _traced(self, original, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        return traced

    def restore(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)
        self.active = False

    def total(self, name: str, start: float, end: float) -> tuple[float, int]:
        """Summed duration and count of outermost ``name`` spans in a window."""
        secs, calls = 0.0, 0
        for s in self.spans:
            if s["name"] != name or s["end"] is None or not start <= s["start"] <= end:
                continue
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if p is None:
                secs += s["end"] - s["start"]
                calls += 1
        return secs, calls

    def self_times(self) -> dict[str, float]:
        """Per span kind (name up to ':'), duration minus the part of it
        that child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cursor = 0.0, s["start"]
            for lo, hi in sorted(
                (max(c["start"], s["start"]), min(c["end"] or s["end"], s["end"]))
                for c in children.get(s["id"], [])
            ):
                lo = max(lo, cursor)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            kind = s["name"].split(":", 1)[0]
            out[kind] = out.get(kind, 0.0) + (s["end"] - s["start"] - covered)
        return {k: round(v, 6) for k, v in sorted(out.items())}


def peak_rss_bytes() -> int:
    """Sum of the peak resident sizes (VmHWM) of this process and every
    live descendant: the JVM and its Python worker daemons."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def descendants(root: int) -> list[int]:
    """Every live descendant of ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return datetime.strptime(stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkRest:
    """The driver's own status REST API (the Spark UI must be on)."""

    def __init__(self, sc):
        ui = sc.uiWebUrl
        if not ui:
            raise RuntimeError("the Spark UI is off; a traced run needs its REST API")
        port = urlparse(ui).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def collect(self, prefix: str, timeout: float = 60.0) -> tuple[list, dict, list]:
        """Jobs whose group starts with ``prefix``, all retained stages, and
        the SQL executions that ran any of those jobs — once the status
        store has caught up with every one of them."""
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self.get("/jobs") if (j.get("jobGroup") or "").startswith(prefix)]
            ids = {j["jobId"] for j in jobs}
            mine = [
                e
                for e in self.get("/sql?details=true&planDescription=false&length=100000")
                if ids.intersection(e.get("successJobIds", []) + e.get("failedJobIds", []))
            ]
            settled = all(j.get("completionTime") for j in jobs) and all(
                e["status"] != "RUNNING" and not e.get("runningJobIds") for e in mine
            )
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {}
        for s in self.get("/stages"):
            if s.get("status") != "SKIPPED":
                stages[s["stageId"]] = s
        return jobs, stages, mine


def pass_layers(
    prefix: str,
    jobs: list,
    stages: dict,
    sqls: list,
    classes: dict[str, str],
    layer_of_class: dict[str, str],
    phase_spans: dict[tuple[str, str], int],
    tracer: Tracer,
) -> dict[str, float]:
    """Per-layer sums for one pass; adds job and stage spans to ``tracer``."""
    m: dict[str, float] = {
        "construct_jobs": 0,
        "construct_job_s": 0.0,
        "materialize_jobs": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "jvm_gc_s": 0.0,
        "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0,
        "spill_mb": 0.0,
        "exchanges": 0,
        "io.input_mb": 0.0,
        "io.input_rows": 0,
        "io.scan_tasks": 0,
    }
    for layer in ("scalar", "table", "aggregate", "flight"):
        for k in ("python_run_s", "sent_mb", "returned_mb"):
            m[f"{layer}.{k}"] = 0.0
    job_owner: dict[int, tuple[str, str]] = {}
    owned_stage: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        query, phase = j["jobGroup"][len(prefix) :].split("|")
        job_owner[j["jobId"]] = (query, phase)
        start, end = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        span = None
        if start is not None and end is not None:
            span = tracer.add(f"job:{j['jobId']}", start, end, phase_spans.get((query, phase)))
            if phase == "construct":
                m["construct_job_s"] += end - start
        m[f"{phase}_jobs"] += 1
        for sid in j.get("stageIds", []):
            s = stages.get(sid)
            if s is None or sid in owned_stage:
                continue
            owned_stage.add(sid)
            s_start, s_end = _epoch(s.get("submissionTime")), _epoch(s.get("completionTime"))
            if span is not None and s_start is not None and s_end is not None:
                tracer.add(f"stage:{sid}", s_start, s_end, span)
            if s.get("inputRecords", 0) > 0 or s.get("inputBytes", 0) > 0:
                m["io.input_mb"] += s.get("inputBytes", 0) / MIB
                m["io.input_rows"] += s.get("inputRecords", 0)
                m["io.scan_tasks"] += s.get("numCompleteTasks", 0)
            if phase != "materialize":
                continue
            m["tasks"] += s.get("numCompleteTasks", 0)
            m["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
            m["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            m["jvm_gc_s"] += s.get("jvmGcTime", 0) / 1e3
            m["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) / MIB
            m["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / MIB
            m["spill_mb"] += s.get("diskBytesSpilled", 0) / MIB
    for e in sqls:
        ran = e.get("successJobIds", []) + e.get("failedJobIds", [])
        owners = [job_owner[i] for i in ran if i in job_owner]
        if not owners:
            continue
        query, phase = owners[0]
        layer = layer_of_class.get(classes.get(query, ""))
        for node in e.get("nodes", []):
            if phase == "materialize" and node.get("nodeName") in EXCHANGES:
                m["exchanges"] += 1
            if layer is None:
                continue
            metrics = {x["name"]: x["value"] for x in node.get("metrics", [])}
            if PY_RUN not in metrics:
                continue
            m[f"{layer}.python_run_s"] += sqlmetrics.parse(metrics[PY_RUN])
            m[f"{layer}.sent_mb"] += sqlmetrics.parse(metrics.get(PY_SENT, "0 B")) / MIB
            m[f"{layer}.returned_mb"] += sqlmetrics.parse(metrics.get(PY_RETURNED, "0 B")) / MIB
    return m
