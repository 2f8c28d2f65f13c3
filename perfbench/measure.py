"""Measurement plumbing: spans, a progress listener, the process-tree
memory sampler and the Spark event-log reader.

Spans stay in memory and are written once, when the run ends. Each has
a name, start, end (epoch seconds), its parent span's id and free-form
attributes; spans of one micro-batch share its ``batch_id``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np
from pyspark.accumulators import AccumulatorParam
from pyspark.sql.streaming import StreamingQueryListener

from pipeline import epoch_ms


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
            )
            return sid

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        """A span around the body, parented to the enclosing ``span``."""
        sid = self.add(name, time.time(), 0.0, self.current, **attrs)
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh, default=str)


class ListParam(AccumulatorParam):
    """Accumulator of lists (executor-side hook spans)."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


class TriggerListener(StreamingQueryListener):
    """One span per trigger, from Spark's own ``StreamingQueryProgress``."""

    def __init__(self, tracer: Tracer, parent: int | None) -> None:
        self.tracer = tracer
        self.parent = parent

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        start = epoch_ms(p["timestamp"]) / 1000.0
        dur = p["durationMs"].get("triggerExecution", 0) / 1000.0
        self.tracer.add(
            "trigger",
            start,
            start + dur,
            self.parent,
            batch_id=p["batchId"],
            query=p.get("name"),
            rows=p.get("numInputRows", 0),
            duration_ms=p["durationMs"],
            state=p.get("stateOperators", []),
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among the
    processes sharing them (forked Python workers count once, not once
    per worker)."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_pss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process ended meanwhile
            pass
    return total


class MemorySampler:
    """Samples the memory (PSS) of this process and all its descendants
    (driver JVM, Python workers, generator) and keeps the peak."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))


def tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's hidden/marker files
    (``.crc``, ``_SUCCESS``) are not counted."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application logged under ``log_dir`` (the
    uncompressed JSON-lines format, rolling or not)."""
    events = []
    for dirpath, _, names in os.walk(log_dir):
        for n in sorted(names):
            if n.startswith((".", "appstatus")):
                continue
            with open(os.path.join(dirpath, n)) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


_PY_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
}


def task_totals(events: list[dict], t0_ms: float, t1_ms: float) -> dict:
    """Sums over tasks that finished inside [t0_ms, t1_ms]: executor CPU,
    GC, deserialize, shuffle bytes written and the Python-runner SQL
    metrics."""
    tot = dict.fromkeys(
        ["cpu_ms", "gc_ms", "deserialize_ms", "shuffle_bytes", *_PY_METRICS.values()],
        0.0,
    )
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        info = e["Task Info"]
        if not t0_ms <= info["Finish Time"] <= t1_ms:
            continue
        m = e.get("Task Metrics") or {}
        tot["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        tot["deserialize_ms"] += m.get("Executor Deserialize Time", 0)
        tot["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        for a in info.get("Accumulables", []):
            key = _PY_METRICS.get(a.get("Name"))
            if key is not None:
                tot[key] += float(a.get("Update") or 0)
    return tot


def jobs_per_window(events: list[dict], windows: list[tuple[float, float]]) -> list[tuple[int, int]]:
    """(jobs submitted, tasks launched) inside each [start_ms, end_ms]
    window. Tasks are counted from task-end events, so stages skipped
    for reused shuffle output are not counted."""
    jobs = [e["Submission Time"] for e in events if e["Event"] == "SparkListenerJobStart"]
    tasks = [
        e["Task Info"]["Launch Time"] for e in events if e["Event"] == "SparkListenerTaskEnd"
    ]
    return [
        (sum(a <= t <= b for t in jobs), sum(a <= t <= b for t in tasks))
        for a, b in windows
    ]


def percentile(values, q: float) -> float:
    """``q``-th percentile (linear interpolation); 0.0 for no values."""
    values = list(values)
    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


def p50(values) -> float:
    return percentile(values, 50)
