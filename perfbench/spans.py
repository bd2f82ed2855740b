"""Spans around calls into the program's layers, folded with Spark's event log.

Only the traced run uses this module.  It wraps the public functions of
``streaming.jobs``, ``sources.store.SdfsStore`` and
``operators.mapreduce`` so each call records a span, and the harness opens
spans for the run, each pass, each op and each op's build and sink.  After
the session stops, every Spark job in the event log is attributed to the
innermost span open when the job was submitted; ops run one at a time, so
this also catches jobs that thread pools and ``foreachBatch`` submit
without the caller's job group.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import statistics
import threading
import time
from dataclasses import dataclass
from pathlib import Path

# every per-layer metric a traced run prints, with its unit, whether or not
# the workload reaches that layer
_S, _N, _MB = "s", "count", "MB"
LAYER_METRICS = {
    "session.start_s": _S, "session.warmup_s": _S, "session.cold_pass_s": _S,
    "plans.build_s": _S, "plans.build_jobs": _N, "plans.sink_s": _S, "plans.sink_jobs": _N,
    "streaming.build_s": _S, "streaming.idle_s": _S,
    "sources.store.put_s": _S, "sources.store.get_s": _S, "sources.store.ls_s": _S,
    "sources.store.delete_s": _S, "sources.store.calls": _N,
    "mapreduce.maple_juice_s": _S, "mapreduce.juice_job_s": _S, "mapreduce.exe_job_s": _S,
    "mapreduce.bytes_written_mb": _MB,
    "spark.jobs": _N, "spark.stages": _N, "spark.tasks": _N, "spark.executor_run_s": _S,
    "spark.executor_cpu_s": _S, "spark.gc_s": _S, "spark.shuffle_read_mb": _MB,
    "spark.shuffle_write_mb": _MB, "spark.spill_mb": _MB, "spark.task_skew": "ratio",
    "spark.driver_idle_s": _S,
    "functions.python_run_s": _S, "functions.python_start_s": _S,
    "functions.to_python_mb": _MB, "functions.from_python_mb": _MB,
    "trace.pass_s": _S, "trace.overhead_s": _S, "trace.unattributed_jobs": _N,
}

PY_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "to_python_b",
    "data returned from Python workers": "from_python_b",
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    pass_no: int = -1
    bytes_out: int = 0


class Tracer:
    """Spans kept in memory; ``foreachBatch`` callbacks open spans from
    py4j's callback thread, hence the lock."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.pass_no = -1
        self._lock = threading.Lock()

    def open(self, name: str, layer: str) -> Span:
        with self._lock:
            s = Span(name, layer, time.time(), parent=self.stack[-1] if self.stack else None,
                     pass_no=self.pass_no)
            self.spans.append(s)
            self.stack.append(s)
        return s

    def close(self, s: Span) -> None:
        with self._lock:
            s.end = time.time()
            self.stack.remove(s)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return inner


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points in place (module attributes)."""
    from mapreduceproject_spark.operators import mapreduce
    from mapreduceproject_spark.sources import store
    from mapreduceproject_spark.streaming import jobs

    for mod, layer in ((jobs, "streaming"), (mapreduce, "mapreduce")):
        for name, fn in list(vars(mod).items()):
            if inspect.isfunction(fn) and fn.__module__ == mod.__name__ and not name.startswith("_"):
                setattr(mod, name, tracer.wrap(fn, name, layer))
    write_kv_text = mapreduce.write_kv_text.__wrapped__

    def sized_write(kv, dest, *a, **kw):
        with tracer.span("write_kv_text", "mapreduce") as s:
            write_kv_text(kv, dest, *a, **kw)
        s.bytes_out = sum(p.stat().st_size for p in Path(dest).glob("part-*"))

    mapreduce.write_kv_text = sized_write
    for verb in ("put", "get", "ls", "delete"):
        setattr(store.SdfsStore, verb, tracer.wrap(getattr(store.SdfsStore, verb), verb, "sources.store"))


# -- event log ------------------------------------------------------------------

def read_events(log_dir: Path) -> list[dict]:
    """Events of the run's rolling event log (``eventlog_v2_*/events_<n>_*``)."""
    files = sorted(log_dir.glob("eventlog_v2_*/events_*"), key=lambda p: int(p.name.split("_")[1]))
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


@dataclass
class Job:
    id: int
    start: float
    end: float = 0.0
    stages: tuple = ()


def fold(events: list[dict]):
    """Jobs, and per-stage task metrics, from the raw event stream."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            j = Job(e["Job ID"], e["Submission Time"] / 1000, stages=tuple(e["Stage IDs"]))
            jobs[j.id] = j
            for sid in j.stages:  # a reused stage belongs to the job that ran it
                stage_job.setdefault(sid, j.id)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]].end = e["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            rec = {
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            }
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_b"] = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            rec["shuffle_write_b"] = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key:
                    rec[key] = rec.get(key, 0) + int(acc.get("Update", 0) or 0)
            tasks.setdefault(e["Stage ID"], []).append(rec)
    return jobs, stage_job, tasks


def _union(intervals: list[tuple[float, float]]) -> float:
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


def _owner(spans: list[Span], t: float) -> Span | None:
    """Innermost span open at time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def _ancestor(s: Span | None, layer: str) -> Span | None:
    while s is not None and s.layer != layer:
        s = s.parent
    return s


def per_layer(tracer: Tracer, events: list[dict], warm: list[int]) -> dict[str, float]:
    """Per-layer metrics as medians over the passes numbered in ``warm``."""
    jobs, stage_job, tasks = fold(events)
    spans = [s for s in tracer.spans if s.end]
    per_pass: dict[int, dict[str, float]] = {p: {} for p in warm}
    skew: dict[int, float] = {p: 0.0 for p in warm}
    job_owner: dict[int, Span | None] = {}
    unattributed = 0
    for j in jobs.values():
        owner = _owner(spans, j.start)
        job_owner[j.id] = owner
        if _ancestor(owner, "op") is None and _ancestor(owner, "session") is None:
            unattributed += 1

    def add(p: int, key: str, v: float) -> None:
        if p in per_pass:
            per_pass[p][key] = per_pass[p].get(key, 0.0) + v

    for j in jobs.values():
        owner = job_owner[j.id]
        if owner is None:
            continue
        p = owner.pass_no
        add(p, "spark.jobs", 1)
        ran = [sid for sid in j.stages if stage_job[sid] == j.id and sid in tasks]
        add(p, "spark.stages", len(ran))
        if _ancestor(owner, "build") is not None:
            add(p, "plans.build_jobs", 1)
        if _ancestor(owner, "sink") is not None:
            add(p, "plans.sink_jobs", 1)
        for sid in ran:
            ts = tasks[sid]
            add(p, "spark.tasks", len(ts))
            for key, out, scale in (
                ("run_ms", "spark.executor_run_s", 1e-3),
                ("cpu_ns", "spark.executor_cpu_s", 1e-9),
                ("gc_ms", "spark.gc_s", 1e-3),
                ("shuffle_read_b", "spark.shuffle_read_mb", 1 / 2**20),
                ("shuffle_write_b", "spark.shuffle_write_mb", 1 / 2**20),
                ("spill_b", "spark.spill_mb", 1 / 2**20),
                ("python_run_ms", "functions.python_run_s", 1e-3),
                ("python_start_ms", "functions.python_start_s", 1e-3),
                ("to_python_b", "functions.to_python_mb", 1 / 2**20),
                ("from_python_b", "functions.from_python_mb", 1 / 2**20),
            ):
                add(p, out, scale * sum(t.get(key, 0) for t in ts))
            med = statistics.median(t["run_ms"] for t in ts)
            if p in skew and med > 0:
                skew[p] = max(skew[p], max(t["run_ms"] for t in ts) / med)

    for s in spans:
        p = s.pass_no
        if p not in per_pass:
            continue
        inside = [
            (max(j.start, s.start), min(j.end, s.end))
            for j in jobs.values() if j.end > s.start and j.start < s.end
        ]
        busy = _union([iv for iv in inside if iv[1] > iv[0]])
        dur = s.end - s.start
        if s.layer == "op":
            add(p, "spark.driver_idle_s", dur - busy)
        elif s.layer == "build":
            add(p, "plans.build_s", dur)
        elif s.layer == "sink":
            add(p, "plans.sink_s", dur)
        elif s.layer == "streaming" and _ancestor(s.parent, "streaming") is None:
            add(p, "streaming.build_s", dur)
            add(p, "streaming.idle_s", dur - busy)
        elif s.layer == "sources.store":
            add(p, f"sources.store.{s.name}_s", dur)
            add(p, "sources.store.calls", 1)
        elif s.layer == "mapreduce":
            add(p, "mapreduce.bytes_written_mb", s.bytes_out / 2**20)
            if _ancestor(s.parent, "mapreduce") is not None:
                continue
            if s.name == "run_juice_job":
                add(p, "mapreduce.juice_job_s", dur)
            elif _ancestor(s, "op").name == "exe_juice_job":
                add(p, "mapreduce.exe_job_s", dur)
            else:
                add(p, "mapreduce.maple_juice_s", dur)
    for p in warm:
        per_pass[p]["spark.task_skew"] = skew[p]
    keys = {k for d in per_pass.values() for k in d}
    out = {k: statistics.median(per_pass[p].get(k, 0.0) for p in warm) for k in keys}
    out["trace.unattributed_jobs"] = float(unattributed)
    return out
