"""Traced-run tooling: span shims, self time, Py4J counts, job groups and a
stdlib parser for Spark's event log.

Spans are recorded from the benchmark's own side of each call into the
engine: :func:`Tracer.shim` replaces a public engine function at every
module that imported it (its import sites), so the app code runs unchanged
while each call opens a span. A span keeps its name, start, end, parent and
run id in memory; :meth:`Tracer.dump` writes them out when the run ends.

Every span also sets the Spark job group to the path of open spans
(``outer/inner``), so each job in the event log is attributed to the spans
that triggered it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
import uuid
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    rpc: int = 0
    attrs: dict = field(default_factory=dict)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_counts(spans: list[Span], attr: str) -> list[float]:
    """Each span's counter minus what its direct children counted."""
    own = [getattr(s, attr) for s in spans]
    for s in spans:
        if s.parent is not None:
            own[s.parent] -= getattr(s, attr)
    return own


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class RpcCounter:
    """Counts Py4J ``send_command`` round trips from Python into the JVM
    (PySpark's client, ``py4j.clientserver.JavaClient``, inherits it)."""

    def __init__(self) -> None:
        self.n = 0
        self._orig = None

    def install(self) -> None:
        import py4j.java_gateway as jg

        self._orig = orig = jg.GatewayClient.send_command
        counter = self

        @functools.wraps(orig)
        def send_command(client, *a, **k):
            counter.n += 1
            return orig(client, *a, **k)

        jg.GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        import py4j.java_gateway as jg

        if self._orig is not None:
            jg.GatewayClient.send_command = self._orig
            self._orig = None


class Tracer:
    """In-memory span recorder with job-group tagging and RPC counts."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.rpc = RpcCounter()
        self.enabled = False
        self._shims: list[tuple[object, str, object]] = []
        #: name -> hook(span, args, kwargs) run before a shimmed call
        self.before: dict[str, object] = {}
        #: name -> hook(span, args, kwargs, result) run after a shimmed call
        self.after: dict[str, object] = {}

    # -- spans ---------------------------------------------------------------

    def _set_group(self) -> None:
        """Tag the next jobs with the open spans' path, outermost first."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if not self._stack:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            path = "/".join(self.spans[i].name for i in self._stack)
            sc.setJobGroup(path, path)

    def open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        span = Span(name, time.time(), parent=parent, run_id=self.run_id, rpc=self.rpc.n)
        self.spans.append(span)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self._set_group()
        return idx

    def close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.time()
        span.rpc = self.rpc.n - span.rpc
        self._stack.pop()
        self._set_group()
        return span

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = self.open(name)
        try:
            yield self.spans[idx]
        finally:
            self.close(idx)

    # -- shims ---------------------------------------------------------------

    def shim(self, func, name: str, package: str = "cehrbert_data_spark") -> None:
        """Wrap ``func`` in a span named ``name`` at every import site under
        ``package``."""
        tracer = self

        @functools.wraps(func)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return func(*args, **kwargs)
            idx = tracer.open(name)
            hook = tracer.before.get(name)
            if hook is not None:
                hook(tracer.spans[idx], args, kwargs)
            try:
                result = func(*args, **kwargs)
            finally:
                span = tracer.close(idx)
            hook = tracer.after.get(name)
            if hook is not None:
                hook(span, args, kwargs, result)
            return result

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self._shims.append((mod, attr, func))
                    setattr(mod, attr, wrapper)

    def unshim(self) -> None:
        for mod, attr, func in reversed(self._shims):
            setattr(mod, attr, func)
        self._shims.clear()

    # -- output --------------------------------------------------------------

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({**asdict(s), "self_s": st}) + "\n")


# --- event log ----------------------------------------------------------------


def _task_numbers(ev: dict) -> dict[str, float]:
    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead = m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
    # "Getting Result Time" is the timestamp the driver began fetching the result
    fetch_start = info.get("Getting Result Time", 0)
    getting = info.get("Finish Time", 0) - fetch_start if fetch_start else 0
    sr = m.get("Shuffle Read Metrics", {}) or {}
    sw = m.get("Shuffle Write Metrics", {}) or {}
    return {
        "task_run_s": run_ms / 1000.0,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "sched_delay_s": max(0, duration - run_ms - overhead - getting) / 1000.0,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "tasks_failed": 1 if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason", "Success") != "Success" else 0,
    }


COUNTERS = [
    "task_cpu_s", "task_run_s", "gc_s", "sched_delay_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "stages", "stages_skipped", "tasks_failed",
]


def _events(paths: list[str]):
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except ValueError:
                    continue  # a truncated last line of an unfinished log


def parse_event_log(paths: list[str]) -> dict:
    """Parse an uncompressed Spark event log (JSON lines) with the stdlib.

    Returns ``{"groups": {job_group: counters}, "jobs": [(group, submit_s,
    end_s)]}`` where counters sum every task of every stage of the group's
    jobs, ``stages`` counts completed stages and ``stages_skipped`` the
    stages a job listed but did not submit while it ran (reused shuffle
    output).
    """
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_stages: dict[int, list[int]] = {}
    job_times: dict[int, list[float]] = {}
    job_span: dict[int, list[int]] = {}  # event index of each job's start and end
    submitted: dict[int, list[int]] = {}  # stage -> event indices of its submissions
    groups: dict[str, dict[str, float]] = {}

    def bucket(g: str) -> dict[str, float]:
        return groups.setdefault(g, {k: 0.0 for k in COUNTERS})

    for i, ev in enumerate(_events(paths)):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or "(none)"
            jid = ev["Job ID"]
            job_group[jid] = g
            job_stages[jid] = list(ev.get("Stage IDs", []))
            job_times[jid] = [ev.get("Submission Time", 0) / 1000.0, 0.0]
            job_span[jid] = [i, i]
            for sid in job_stages[jid]:
                stage_group.setdefault(sid, g)
            bucket(g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_times:
                job_times[jid][1] = ev.get("Completion Time", 0) / 1000.0
                job_span[jid][1] = i
        elif kind == "SparkListenerStageSubmitted":
            submitted.setdefault(ev["Stage Info"]["Stage ID"], []).append(i)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            bucket(stage_group.get(sid, "(none)"))["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev.get("Stage ID"), "(none)")
            b = bucket(g)
            for k, v in _task_numbers(ev).items():
                b[k] += v
    for jid, stages in job_stages.items():
        lo, hi = job_span[jid]
        bucket(job_group[jid])["stages_skipped"] += sum(
            1 for s in stages if not any(lo < k < hi for k in submitted.get(s, [])))
    jobs = [(job_group[j], t[0], t[1]) for j, t in job_times.items()]
    return {"groups": groups, "jobs": jobs}


def event_log_files(log_dir: str) -> list[str]:
    """The event files Spark wrote under ``log_dir``, in write order (a
    rolling log is a directory of ``events_<n>_<app>`` files)."""
    found = []
    for d, _, files in os.walk(log_dir):
        for n in files:
            if not n.startswith((".", "appstatus")):
                found.append(os.path.join(d, n))
    if not found:
        raise RuntimeError(f"no event log under {log_dir}")

    def order(path: str):
        parts = os.path.basename(path).split("_")
        return (os.path.dirname(path), int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)

    return sorted(found, key=order)


def aggregate_paths(groups: dict[str, dict[str, float]], layer: str) -> dict[str, float]:
    """Sum the counters of every job group whose outermost span is in ``layer``."""
    out = {k: 0.0 for k in COUNTERS}
    for g, c in groups.items():
        if g.split("/")[0].split(".")[0] == layer:
            for k in COUNTERS:
                out[k] += c.get(k, 0.0)
    return out


def driver_gap(jobs: list[tuple[str, float, float]], windows: list[tuple[float, float]]) -> float:
    """Time inside ``windows`` during which no Spark job was running."""
    job_iv = [(a, b) for _, a, b in jobs if b > a]
    return sum((hi - lo) - covered(job_iv, lo, hi) for lo, hi in windows)
