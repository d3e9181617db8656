"""Measurement probes that sit outside the program: in-memory spans around
calls into the program's modules, Spark's own job/stage counters, and the
peak RSS of the process tree.

Nothing here changes what the program computes. Spans come from wrapping
module attributes that the program resolves at call time; the wraps are
installed only in traced runs and removed again at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written out once, at exit. Each thread keeps
    its own stack of open spans; a thread with nothing open (a worker thread
    the program started) parents its spans under the innermost span open on
    the main thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.run_id = ""
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Yields the span's attribute dict, which may be filled in later."""
        stack = self._stack()
        parents = stack or self._main_stack
        parent = parents[-1] if parents else None
        with self._lock:
            span = Span(len(self.spans) + 1, name, 0.0, 0.0, parent, self.run_id, attrs)
            self.spans.append(span)
        stack.append(span.id)
        span.start = time.perf_counter()
        try:
            yield attrs
        finally:
            span.end = time.perf_counter()
            stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


class Patches:
    """Replace module attributes for the length of a traced run; ``undo``
    restores the originals."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def patch(self, module, attr: str, make) -> None:
        """Set ``module.attr = make(original)``."""
        original = getattr(module, attr)
        self._saved.append((module, attr, original))
        setattr(module, attr, make(original))

    def undo(self) -> None:
        for module, attr, original in reversed(self._saved):
            setattr(module, attr, original)
        self._saved.clear()


# ---------------------------------------------------------------------------
# Spark counters (status tracker + status store)
# ---------------------------------------------------------------------------

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "task_run_s",
    "task_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)

#: Counters a scan -> shuffle -> write job must move; the rest may be 0.
MUST_MOVE = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "input_bytes",
    "output_bytes",
)


class SparkCounters:
    """Reads per-job and per-stage totals from Spark's status store. Jobs
    are numbered in submission order, so a phase is the id range between two
    ``mark()`` calls; that also catches jobs submitted from threads the
    program starts, which carry no job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def mark(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def totals(self, first: int, last: int) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        out["missing"] = 0.0
        stages: set[int] = set()
        for job_id in range(first, last):
            info = tracker.getJobInfo(job_id)
            if info is None:
                out["missing"] += 1
                continue
            out["jobs"] += 1
            stages.update(info.stageIds)
        for stage_id in sorted(stages):
            try:
                data = store.lastStageAttempt(stage_id)
            except Exception:  # evicted from the store, or never submitted
                out["missing"] += 1
                continue
            if data.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += data.numCompleteTasks() + data.numFailedTasks()
            out["failed_tasks"] += data.numFailedTasks()
            out["task_run_s"] += data.executorRunTime() / 1e3
            out["task_cpu_s"] += data.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += data.shuffleWriteBytes()
            out["shuffle_read_bytes"] += data.shuffleReadBytes()
            out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
            out["input_bytes"] += data.inputBytes()
            out["output_bytes"] += data.outputBytes()
        return out

    def calibrate(self, spark, work_dir: str) -> dict[str, float]:
        """Run a known scan -> shuffle -> write job and return its totals,
        so a counter that reads 0 here is known not to be trustworthy."""
        source = os.path.join(work_dir, "source")
        spark.range(200_000).selectExpr("id % 997 AS k", "id AS v").write.mode(
            "overwrite"
        ).parquet(source)
        first = self.mark()
        spark.read.parquet(source).groupBy("k").sum("v").write.mode("overwrite").parquet(
            os.path.join(work_dir, "sink")
        )
        return self.totals(first, self.mark())

    def persistent_rdds(self) -> int:
        return len(self.sc._jsc.getPersistentRDDs())


# ---------------------------------------------------------------------------
# Process tree memory
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
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
    return children


def descendants(pid: int) -> list[int]:
    children, out, todo = _children_map(), [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int) -> float:
    """Summed peak RSS (``VmHWM``) of ``pid`` and its live descendants (the
    JVM and Python workers). Read once, before the JVM stops, so nothing
    samples in the background while passes are timed."""
    return sum(_hwm_kb(p) for p in [pid, *descendants(pid)]) / 1024.0
