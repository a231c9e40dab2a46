"""Meters read from outside the program: process CPU and memory from
/proc, spans around public calls, a py4j round-trip counter, and
Spark's own event-log JSON.  Nothing here imports the engine."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the JVM and its Python
    workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat_fields(int(entry))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU of the tree, including reaped children
    (a Python worker that exited is counted through its parent)."""
    ticks = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssPeak:
    """Samples the tree's resident memory every ``interval`` seconds on a
    background thread while the ``with`` block runs."""

    def __init__(self, root: int, interval: float = 0.05):
        self._root = root
        self._interval = interval
        self._stop = threading.Event()
        self.peak = 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self._root))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssPeak":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self._root))


class Tracer:
    """In-memory spans (name, start, end, parent, run id, attributes);
    a disabled tracer records nothing and costs one branch per call."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class Py4jCounter:
    """Counts driver round trips by wrapping the py4j client's
    ``send_command`` on the live gateway."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self._paused = False
        inner = self._client.send_command

        def counting(*args, **kwargs):
            if not self._paused:
                self.calls += 1
            return inner(*args, **kwargs)

        self._client.send_command = counting

    @contextlib.contextmanager
    def paused(self):
        """Round trips inside the block are the benchmark's own
        bookkeeping, not the program's, and are not counted."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False


# ---- Spark event log --------------------------------------------------------

_ARROW_TO_PY = "data sent to Python workers"
_ARROW_FROM_PY = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                # the last line of a live log may be half written
                with contextlib.suppress(json.JSONDecodeError):
                    events.append(json.loads(line))
    return events


def stage_metrics(events: list[dict], groups: set[str]) -> dict:
    """Totals over the jobs whose job group is in ``groups``: job, stage
    and task counts, executor time, GC, shuffle, spill, the Arrow bytes
    crossing to and from Python workers, and the task skew (max over
    median task run time) of the longest stage."""
    stages: set[int] = set()
    jobs = 0
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            if (e.get("Properties") or {}).get("spark.jobGroup.id") in groups:
                jobs += 1
                stages.update(e.get("Stage IDs", ()))
    out = {
        "jobs": jobs, "stages": 0, "tasks": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
        "arrow_to_python_mb": 0.0, "arrow_from_python_mb": 0.0, "task_skew": 0.0,
    }
    task_times: dict[int, list[float]] = {}
    stage_span: dict[int, float] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stages:
                out["stages"] += 1
                stage_span[info["Stage ID"]] = (
                    info.get("Completion Time", 0) - info.get("Submission Time", 0)
                )
        elif kind == "SparkListenerTaskEnd" and e.get("Stage ID") in stages:
            m = e.get("Task Metrics") or {}
            out["tasks"] += 1
            run = m.get("Executor Run Time", 0) / 1e3
            task_times.setdefault(e["Stage ID"], []).append(run)
            out["executor_run_s"] += run
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
            sw = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                name = acc.get("Name")
                if name in (_ARROW_TO_PY, _ARROW_FROM_PY):
                    key = "arrow_to_python_mb" if name == _ARROW_TO_PY else "arrow_from_python_mb"
                    out[key] += float(acc.get("Update") or 0) / 1e6
    if stage_span:
        longest = max(stage_span, key=stage_span.get)
        times = task_times.get(longest) or [0.0]
        med = statistics.median(times)
        out["task_skew"] = max(times) / med if med > 0 else 1.0
    return out
