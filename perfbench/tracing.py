"""Tracing for the benchmark's traced run.

- :class:`Spans` records a span (name, start, end, parent, request id)
  around each call the benchmark makes into a layer of the program. The
  spans stay in memory and are written out as JSON lines when the run
  ends.
- :func:`parse_event_log` reads the event log Spark writes when
  ``spark.eventLog.enabled`` is set and sums task-level counts per tag.
  The benchmark tags every Spark action with the local property
  :data:`TAG_PROPERTY`, so jobs can be told apart by phase and query.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

TAG_PROPERTY = "perfbench.tag"

_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"
_ROWS = "number of output rows"


class Spans:
    """In-memory span recorder, safe to use from several client threads.

    ``span(name, request=...)`` is a context manager; spans opened
    inside it on the same thread get it as their parent."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            span_id = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else None
        if request is None and parent is not None:
            request = parent[1]
        stack.append((span_id, request))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.records.append({
                    "id": span_id,
                    "name": name,
                    "start": start - self._t0,
                    "end": end - self._t0,
                    "parent": parent[0] if parent else None,
                    "request": request,
                })

    def total(self, name: str, request_prefix: str = "") -> float:
        """Summed duration of the spans called ``name`` whose request id
        starts with ``request_prefix``."""
        with self._lock:
            return sum(
                r["end"] - r["start"]
                for r in self.records
                if r["name"] == name and (r["request"] or "").startswith(request_prefix)
            )

    def write(self, path: str) -> None:
        with self._lock, open(path, "w") as fh:
            for r in sorted(self.records, key=lambda r: r["start"]):
                fh.write(json.dumps(r) + "\n")


def timed_wrapper(spans: Spans, name: str, fn):
    """``fn`` wrapped so that every call is recorded as a span ``name``."""

    def wrapper(*args, **kwargs):
        with spans.span(name):
            return fn(*args, **kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        f for f in glob.glob(os.path.join(path, "*"))
        if os.path.isfile(f) and not os.path.basename(f).startswith(".")
    )


def _python_accumulators(plan: dict, sent: set, received: set, rows_in: set, rows_out: set) -> None:
    """Collect the accumulator ids of Python-boundary plan nodes: the
    nodes that carry a 'data sent to Python workers' metric. Rows into
    such a node are the output rows of its nearest descendant that
    counts rows."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _PY_SENT in metrics:
        sent.add(metrics[_PY_SENT])
        if _PY_RECEIVED in metrics:
            received.add(metrics[_PY_RECEIVED])
        if _ROWS in metrics:
            rows_out.add(metrics[_ROWS])
        child = (plan.get("children") or [None])[0]
        while child is not None:
            cm = {m["name"]: m["accumulatorId"] for m in child.get("metrics", [])}
            if _ROWS in cm:
                rows_in.add(cm[_ROWS])
                break
            kids = child.get("children") or []
            child = kids[0] if len(kids) == 1 else None
    for c in plan.get("children", []):
        _python_accumulators(c, sent, received, rows_in, rows_out)


COUNT_KEYS = (
    "jobs", "stages", "tasks", "single_task_stages", "failed_tasks", "task_s",
    "task_cpu_s", "gc_s", "sched_wait_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "input_bytes", "py_bytes_sent", "py_bytes_received", "py_rows_in",
    "py_rows_out",
)


def _new_counts() -> dict:
    return dict.fromkeys(COUNT_KEYS, 0.0)


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Task-level counts per job tag from a Spark event log (a file, or
    a directory of uncompressed event files).

    Returns ``{tag: counts}`` with every key of :data:`COUNT_KEYS`;
    jobs without a tag are filed under ''. ``sched_wait_s`` sums, over
    tasks, launch time minus the stage's submission time.
    """
    events = []
    for f in _event_files(path):
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())

    stage_tag: dict[int, str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    acc_sets: dict[str, set] = {k: set() for k in ("sent", "received", "rows_in", "rows_out")}
    for e in events:  # plan events may follow a stage's first tasks
        if e["Event"].endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
            _python_accumulators(e["sparkPlanInfo"], *acc_sets.values())
    out: dict[str, dict] = defaultdict(_new_counts)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            tag = (e.get("Properties") or {}).get(TAG_PROPERTY, "")
            out[tag]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_tag[sid] = tag
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_submit[key] = info.get("Submission Time") or 0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            counts = out[stage_tag.get(info["Stage ID"], "")]
            counts["stages"] += 1
            if info.get("Number of Tasks") == 1:
                counts["single_task_stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            _add_task(e, out[stage_tag.get(e["Stage ID"], "")], stage_submit, acc_sets)
    return dict(out)


def _add_task(e: dict, counts: dict, stage_submit: dict, acc_sets: dict) -> None:
    info = e["Task Info"]
    counts["tasks"] += 1
    if info.get("Failed") or e.get("Task End Reason", {}).get("Reason") != "Success":
        counts["failed_tasks"] += 1
    submit = stage_submit.get((e["Stage ID"], e["Stage Attempt ID"]))
    if submit:
        counts["sched_wait_s"] += max(0, info["Launch Time"] - submit) / 1000.0
    m = e.get("Task Metrics") or {}
    counts["task_s"] += m.get("Executor Run Time", 0) / 1000.0
    counts["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    counts["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    sw = m.get("Shuffle Write Metrics") or {}
    counts["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    counts["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    counts["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    counts["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for acc in info.get("Accumulables", []):
        aid = acc.get("ID")
        for key, ids in (("py_bytes_sent", "sent"), ("py_bytes_received", "received"),
                         ("py_rows_in", "rows_in"), ("py_rows_out", "rows_out")):
            if aid in acc_sets[ids]:
                counts[key] += float(acc.get("Update") or 0)
