"""Spans, wrappers and Spark status-store readings for the benchmark.

The benchmark times the program from outside: it wraps public callables of
the package in spans (``Tracer.wrap``) and, at the end of a run, reads the
per-stage executor metrics Spark keeps in its status store. Each Spark stage
is assigned to the innermost span that was open when the stage was
submitted, using stage-id windows: a span records the next stage id at its
start and at its end, and stage ids grow monotonically.

Nothing here changes package code; wrappers are installed on module and
class attributes for the life of one process and removed by ``unwrap_all``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    stage_lo: int = 0  # first stage id that can belong to this span
    stage_hi: int = 0  # first stage id submitted after it ended
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for the driver thread (the benchmark runs
    topics with one worker thread, so spans nest strictly). Spans of one
    operation share a run id."""

    def __init__(self):
        self.spans: list[Span] = []
        self.run_id = ""
        # next Spark stage id; set once a session exists (spans opened
        # before that own no stages)
        self.stage_clock = lambda: 0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def open(self, name: str) -> int:
        span = Span(
            name,
            time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
            stage_lo=self.stage_clock(),
        )
        self.spans.append(span)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> Span:
        span = self.spans[idx]
        span.stage_hi = self.stage_clock()
        span.end = time.perf_counter()
        # pop through idx: an exception inside a child still closes it
        while self._stack and self._stack[-1] != idx:
            self._stack.pop()
        if self._stack:
            self._stack.pop()
        return span

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield self.spans[idx]
        finally:
            self.close(idx)

    # -- wrappers ------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace `owner.attr` with a version that records a span named
        `name`. `count(span, args, kwargs, result)` may add counts."""
        original = getattr(owner, attr)
        # staticmethod/classmethod on classes would need descriptors; every
        # wrapped callable here is a plain function or instance method
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            idx = tracer.open(name)
            try:
                result = original(*args, **kwargs)
            finally:
                span = tracer.close(idx)
            if count is not None:
                count(span, args, kwargs, result)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- analysis ------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span index -> duration minus the part its direct children cover
        (children run serially on the driver thread, so they never overlap)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        return {i: s.dur - child.get(i, 0.0) for i, s in enumerate(self.spans)}

    def owner_of_stage(self, stage_id: int, candidates: list[int]) -> int | None:
        """Innermost candidate span whose window holds `stage_id`."""
        best = None
        for i in candidates:
            s = self.spans[i]
            if s.stage_lo <= stage_id < s.stage_hi:
                if best is None or s.start >= self.spans[best].start:
                    best = i
        return best

    def descendants(self, root: int) -> list[int]:
        """`root` and every span opened inside it (children follow their
        parent in the list)."""
        inside = {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i].parent in inside:
                inside.add(i)
        return sorted(inside)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "start": round(s.start, 6),
                            "end": round(s.end, 6),
                            "parent": s.parent,
                            "run_id": s.run_id,
                            "stages": [s.stage_lo, s.stage_hi],
                            "counts": s.counts,
                        }
                    )
                    + "\n"
                )


# ---------------------------------------------------------------------------
# Spark status store over py4j
# ---------------------------------------------------------------------------


class StatusStore:
    """Per-stage executor metrics from the driver's AppStatusStore.

    Works with ``spark.ui.enabled=false``: the store is populated by the
    listener bus regardless of the UI. Stage ids come from the DAG
    scheduler's counter, which every submitted stage increments."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._jsc = self._sc._jsc.sc()

    def next_stage_id(self) -> int:
        # py4j hands the AtomicInteger back as its int value
        value = self._jsc.dagScheduler().nextStageId()
        return int(value if isinstance(value, int) else value.get())

    def wait_idle(self, timeout_s: float = 10.0) -> None:
        """Block until the listener bus has delivered every event so far,
        so completed stages are visible in the store."""
        self._jsc.listenerBus().waitUntilEmpty(int(timeout_s * 1000))

    def stages(self, lo: int = 0) -> list[dict]:
        """Every stage attempt with id >= lo, as plain dicts."""
        jvm = self._jvm
        gateway = self._sc._gateway
        quantiles = gateway.new_array(jvm.double, 0)
        statuses = jvm.java.util.ArrayList()
        store = self._jsc.statusStore()
        lst = store.stageList(None, False, False, quantiles, statuses)
        out = []
        it = lst.iterator()
        while it.hasNext():
            s = it.next()
            sid = int(s.stageId())
            if sid < lo:
                continue
            out.append(
                {
                    "stage_id": sid,
                    "status": str(s.status().toString()),
                    "tasks": int(s.numTasks()),
                    "failed_tasks": int(s.numFailedTasks()),
                    "run_ms": int(s.executorRunTime()),
                    "cpu_ns": int(s.executorCpuTime()),
                    "gc_ms": int(s.jvmGcTime()),
                    "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                    "shuffle_write_records": int(s.shuffleWriteRecords()),
                    "shuffle_read_bytes": int(s.shuffleReadBytes()),
                    "spill_bytes": int(s.memoryBytesSpilled())
                    + int(s.diskBytesSpilled()),
                }
            )
        return out

    def job_count(self, stage_lo: int, stage_hi: int) -> int:
        """Jobs whose stages fall inside [stage_lo, stage_hi)."""
        jobs = self._jsc.statusStore().jobsList(None)
        n = 0
        it = jobs.iterator()
        while it.hasNext():
            ids = it.next().stageIds()  # a Scala Seq
            top = max((int(ids.apply(k)) for k in range(ids.size())), default=-1)
            if stage_lo <= top < stage_hi:
                n += 1
        return n


# ---------------------------------------------------------------------------
# host and process readings
# ---------------------------------------------------------------------------


def proc_stat() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies summed over all host CPUs."""
    with open("/proc/stat") as fh:
        nums = [int(x) for x in fh.readline().split()[1:]]
    steal = nums[7] if len(nums) > 7 else 0
    return sum(nums), nums[3] + nums[4], steal


def host_load(start: tuple[int, int, int], end: tuple[int, int, int]) -> dict:
    """Busy and steal fraction of the whole host between two readings. A
    busy fraction far above this run's own share, or any steal, marks a run
    taken on a contended host."""
    total = end[0] - start[0]
    if total <= 0:
        return {"host_busy_frac": None, "steal_frac": None}
    return {
        "host_busy_frac": round(1.0 - (end[1] - start[1]) / total, 4),
        "steal_frac": round((end[2] - start[2]) / total, 5),
    }


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            continue
    return out


def process_tree(root: int) -> list[int]:
    """`root` and every live descendant process id."""
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(_children(pid))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of `root` and every descendant process (driver, the
    JVM it launched, and the JVM's Python workers)."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by `root` and its live descendants. The difference of two readings is
    the CPU time the process tree spent in between."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the command: utime stime cutime cstime are 12..15
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def wait_gone(pids: list[int], timeout_s: float) -> bool:
    """Wait until none of `pids` is running (zombies count as ended)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    state = fh.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state != "Z":
                alive.append(pid)
        if not alive:
            return True
        time.sleep(0.1)
    return False


class RssSampler:
    """Background thread sampling the process tree's resident set size."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._on = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            if self._on:
                self.peak = max(self.peak, tree_rss_bytes(me))

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def measure(self, on: bool) -> None:
        """Count samples only while `on` (inside timed operations)."""
        if on:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        self._on = on

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
