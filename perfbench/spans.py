"""Measurement from outside the engine: spans around calls into library
layers, Spark job windows, the event log, /proc CPU and RSS, and a
streaming query listener.

A span opens around one call into a layer's public function. Its
``build`` mark is when the function returned (plan construction plus any
eager jobs); its ``end`` is after the action the benchmark runs on the
result. Jobs are counted as the job ids the DAG scheduler hands out
during the span's window: calls run one at a time, and some library
functions launch jobs from their own thread pools, where a job group set
on the calling thread does not reach. The job group is still set per
span in traced runs, as a label in the event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import threading
import time
from dataclasses import dataclass, field

from inputs import dir_bytes

LAYERS = [
    "profile",
    "detect",
    "clean",
    "score",
    "pipeline",
    "io",
    "checkpoint",
    "textops",
    "dedup",
    "simsearch",
    "streaming",
]
LAYER_STATS = ["calls", "busy_s", "self_s", "build_s", "jobs"]


@dataclass
class Span:
    id: int
    name: str
    layer: str
    pass_id: int
    parent: int | None
    start: float
    build: float = 0.0
    end: float = 0.0
    jobs: int = 0  # job ids handed out during the window, children included
    children: list = field(default_factory=list)

    def self_time(self) -> float:
        """Duration minus the union of the child spans' intervals."""
        covered, last = 0.0, self.start
        for c in sorted(self.children, key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, self.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return (self.end - self.start) - covered

    def self_jobs(self) -> int:
        return self.jobs - sum(c.jobs for c in self.children)

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "pass": self.pass_id,
            "parent": self.parent,
            "start": self.start,
            "build": self.build,
            "end": self.end,
            "jobs": self.jobs,
            "self_s": self.self_time(),
        }


class Tracer:
    """Records spans for one run. ``traced`` adds per-span job windows and
    job groups; untraced runs keep only wall-clock marks, which is what
    the end-to-end numbers are computed from."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self._dag = self.sc._jsc.sc().dagScheduler()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.pass_id = -1

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    @contextlib.contextmanager
    def span(self, name: str, layer: str = ""):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, self.pass_id, parent and parent.id, 0.0)
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        if self.traced:
            self.sc.setJobGroup(f"span-{s.id}", name)
            first_job = self.next_job_id()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if not s.build:
                s.build = s.end
            self._stack.pop()
            if self.traced:
                s.jobs = self.next_job_id() - first_job
                group = f"span-{parent.id}" if parent else f"pass-{self.pass_id}"
                self.sc.setJobGroup(group, group)

    def call(self, layer: str, fn, *args, finish=None, **kwargs):
        """Run ``fn(*args, **kwargs)`` inside a span of ``layer``; then
        ``finish(result)`` (collect, write) inside the same span."""
        with self.span(f"{layer}.{fn.__name__}", layer) as s:
            out = fn(*args, **kwargs)
            s.build = time.perf_counter()
            return finish(out) if finish is not None else out

    def pass_spans(self, pass_id: int) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]

    def steps(self, pass_id: int) -> list[float]:
        """Durations of a pass's ``step.*`` spans, each one user-visible
        step of the workload (a click, a pipeline stage)."""
        return [s.end - s.start for s in self.pass_spans(pass_id) if s.name.startswith("step.")]

    def layer_stats(self, pass_id: int) -> dict[str, float]:
        out = {f"{layer}.{k}": 0.0 for layer in LAYERS for k in LAYER_STATS}
        for s in self.pass_spans(pass_id):
            if s.layer not in LAYERS:
                continue
            out[f"{s.layer}.calls"] += 1
            out[f"{s.layer}.busy_s"] += s.end - s.start
            out[f"{s.layer}.self_s"] += s.self_time()
            out[f"{s.layer}.build_s"] += s.build - s.start
            out[f"{s.layer}.jobs"] += s.self_jobs()
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans], f)


# ---------------------------------------------------------------------------
# process-level counters
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_tree(root: int) -> list[int]:
    """``root`` and its descendants (the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time of the JVM, its descendants and this Python driver."""
    total = sum(os.times()[:2])
    for pid in _proc_tree(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += (int(fields[11]) + int(fields[12])) / _TICK
    return total


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of the driver JVM plus the Python driver."""
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0


class DirMeter:
    """Bytes and top-level entries added under a directory between
    ``start`` and ``take``."""

    def __init__(self, path: str):
        self.path = path
        self._bytes, self._entries = 0, set()

    def _read(self) -> tuple[int, set]:
        if not os.path.isdir(self.path):
            return 0, set()
        return dir_bytes(self.path), set(os.listdir(self.path))

    def start(self) -> None:
        self._bytes, self._entries = self._read()

    def take(self) -> tuple[int, int]:
        b, e = self._read()
        return b - self._bytes, len(e - self._entries)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def parse_event_log(path: str, job_windows: dict[int, tuple[int, int]]) -> dict[int, dict]:
    """Per-pass stage/task totals from a Spark event log.

    ``job_windows`` maps pass id -> [first job id, end job id). Stages map
    to jobs through SparkListenerJobStart, tasks to stages through
    SparkListenerTaskEnd."""
    stage_job: dict[int, int] = {}
    stages_done: list[int] = []
    tasks: list[tuple[int, dict]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerStageCompleted":
                stages_done.append(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tasks.append((ev["Stage ID"], ev["Task Metrics"]))

    def pass_of(stage_id: int) -> int | None:
        job = stage_job.get(stage_id)
        for p, (lo, hi) in job_windows.items():
            if job is not None and lo <= job < hi:
                return p
        return None

    keys = ["stages", "tasks", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s", "task_s"]
    out = {p: dict.fromkeys(keys, 0.0) for p in job_windows}
    for sid in stages_done:
        p = pass_of(sid)
        if p is not None:
            out[p]["stages"] += 1
    mb = 1024.0 * 1024.0
    for sid, m in tasks:
        p = pass_of(sid)
        if p is None:
            continue
        o = out[p]
        o["tasks"] += 1
        rd = m.get("Shuffle Read Metrics", {})
        o["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / mb
        o["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / mb
        o["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb
        o["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        o["task_s"] += m.get("Executor Run Time", 0) / 1000.0
    return out


# ---------------------------------------------------------------------------
# streaming query listener
# ---------------------------------------------------------------------------


def make_stream_listener():
    """A StreamingQueryListener that keeps every progress and termination
    event; ``wait_terminated(n)`` blocks until n queries have ended
    (events arrive asynchronously on the listener bus)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list = []
            self.terminated = 0
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self._cv:
                self.progress.append(
                    (
                        str(p.id),
                        p.batchId,
                        p.durationMs.get("triggerExecution", 0),
                        sum(op.numRowsTotal for op in p.stateOperators),
                    )
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._cv:
                self.terminated += 1
                self._cv.notify_all()

        def wait_terminated(self, n: int, timeout: float = 30.0) -> bool:
            with self._cv:
                return self._cv.wait_for(lambda: self.terminated >= n, timeout)

        def take(self) -> list:
            with self._cv:
                out, self.progress = self.progress, []
            return out

    return Listener()


def stream_stats(progress: list) -> dict[str, float]:
    """streaming.batches / batch_ms / state_rows over one pass's progress
    events: batches run, mean trigger time, and the state rows each query
    held at its last batch, summed over queries."""
    if not progress:
        return {"streaming.batches": 0.0, "streaming.batch_ms": 0.0, "streaming.state_rows": 0.0}
    last: dict[str, tuple] = {}
    for qid, batch, _, rows in progress:
        if qid not in last or batch >= last[qid][0]:
            last[qid] = (batch, rows)
    return {
        "streaming.batches": float(len(progress)),
        "streaming.batch_ms": sum(p[2] for p in progress) / len(progress),
        "streaming.state_rows": float(sum(r for _, r in last.values())),
    }
