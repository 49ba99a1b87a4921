"""Spans, Spark event-log parsing and per-layer self time.

A span is one call into a layer, timed from the benchmark's side:
name, start, end and parent, with one id per span. While a traced run
is inside a span, the Spark job group is the span id, so every job in
the uncompressed event log names the span that caused it. Parsing the
log gives per-job task metrics; :func:`layer_times` then splits each
span into its own (driver-side) self time and the Spark time beneath
it.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL metric names (Spark 4.1) summed from task accumulables
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory. With ``sc`` set, each span also becomes
    the Spark job group of the jobs started inside it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(str(span.id), span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)


# ------------------------------------------------------------ event log

JOB_KEYS = (
    "jobs", "stages", "tasks", "scheduler_delay_s", "task_run_s",
    "task_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "shuffle_fetch_wait_s", "spill_bytes", "peak_exec_mem_bytes",
    "scan_rows", "scan_bytes", "python_worker_s", "python_bytes_to_worker",
    "python_bytes_from_worker",
)


def _task_numbers(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    overhead = m.get("Executor Deserialize Time", 0) + m.get(
        "Result Serialization Time", 0
    )
    fetch = info.get("Getting Result Time", 0)
    getting = info["Finish Time"] - fetch if fetch else 0
    total = info["Finish Time"] - info["Launch Time"]
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    acc = {a.get("Name"): a.get("Update", 0) for a in info.get("Accumulables", [])}
    return {
        "scheduler_delay_s": max(0, total - run_ms - overhead - getting) / 1e3,
        "task_run_s": run_ms / 1e3,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "shuffle_fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "peak_exec_mem_bytes": m.get("Peak Execution Memory", 0),
        "scan_rows": inp.get("Records Read", 0),
        "scan_bytes": inp.get("Bytes Read", 0),
        "python_worker_s": int(acc.get(PY_TIME, 0) or 0) / 1e3,
        "python_bytes_to_worker": int(acc.get(PY_SENT, 0) or 0),
        "python_bytes_from_worker": int(acc.get(PY_RECV, 0) or 0),
    }


def parse_event_log(lines) -> dict[int, dict]:
    """Job id -> {group, start, end (epoch s), and the JOB_KEYS sums}
    from the JSON lines of one uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = dict.fromkeys(JOB_KEYS, 0)
            job.update(
                group=(ev.get("Properties") or {}).get("spark.jobGroup.id"),
                start=ev["Submission Time"] / 1e3,
                end=ev["Submission Time"] / 1e3,
                jobs=1,
            )
            jobs[ev["Job ID"]] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if job is not None:
                job["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            if job is None:
                continue
            job["tasks"] += 1
            for k, v in _task_numbers(ev).items():
                if k == "peak_exec_mem_bytes":
                    job[k] = max(job[k], v)
                else:
                    job[k] += v
    return jobs


# ------------------------------------------------------------ self time


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_times(spans: list[Span], jobs_by_span: dict[int, list[dict]]) -> dict:
    """Self time per layer, summed over ``spans``.

    A span's self time is its duration minus the part of it covered by
    its child spans. For a span that started Spark jobs, the part of
    its self time covered by those jobs is counted to ``spark`` and
    the rest to the span's own layer (its name up to a ``:``).
    """
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(c.start, c.end) for c in children.get(s.id, [])]
        own = s.dur - union_length(kids, s.start, s.end)
        jobs = [(j["start"], j["end"]) for j in jobs_by_span.get(s.id, [])]
        # only the job time that falls outside the children counts here
        spark = union_length(jobs + kids, s.start, s.end) - union_length(
            kids, s.start, s.end
        )
        layer = s.name.split(":", 1)[0]
        out[layer] = out.get(layer, 0.0) + own - spark
        if spark:
            out["spark"] = out.get("spark", 0.0) + spark
    return out


def subtree(spans: list[Span], root_ids) -> list[Span]:
    """Spans under (and including) the given roots, in start order."""
    keep = set(root_ids)
    out = []
    for s in spans:  # parents precede children in creation order
        if s.id in keep or s.parent in keep:
            keep.add(s.id)
            out.append(s)
    return out
