"""Measurement primitives: spans, the tail-percentile rule, process-tree
CPU/RSS from ``/proc``, and Spark job/stage counters read per job group.

Nothing here imports the package under test, so the arithmetic can be
tested without a Spark session.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, int]:
    """The highest whole percentile ``p`` that leaves at least ``beyond``
    samples strictly above its rank, and the sample value at that rank.

    With ``n`` samples the rank is ``n - beyond`` (1-based), so
    ``p = floor(100 * (n - beyond) / n)``.  Below ``2 * beyond`` samples
    the rule would fall under the median; the median is reported then,
    with ``p = 50``.  Returns ``(value, p)``.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return statistics.median(xs), 50
    rank = n - beyond  # 1-based: exactly `beyond` samples lie above it
    return xs[rank - 1], (100 * rank) // n


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder.  A span is ``{"id", "parent", "name",
    "layer", "start", "end", "run"}``; parents come from the nesting of
    :meth:`span` blocks.  Disabled tracers record nothing and cost one
    attribute check per span."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "layer": layer, "run": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str, layer: str):
        """``fn`` with every call recorded as a span."""
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        return traced


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the durations of
    its direct children, summed by layer.  Layer totals add up to the
    total duration of the root spans."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + (
                s["end"] - s["start"])
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def span_cost_s(n: int = 20_000) -> float:
    """Measured bookkeeping cost of one span on this machine (seconds)."""
    tr = Tracer("cost")
    t0 = time.perf_counter()
    for _ in range(n):
        with tr.span("x", "x"):
            pass
    return (time.perf_counter() - t0) / n


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat(pid: int) -> tuple[str, float, float] | None:
    """``(comm, own_cpu_s, reaped_children_cpu_s)`` of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    # fields after comm start at index 3 (state); utime=14 stime=15
    # cutime=16 cstime=17 in 1-based /proc numbering
    own = (int(f[11]) + int(f[12])) / _CLK
    reaped = (int(f[13]) + int(f[14])) / _CLK
    return comm, own, reaped


def _classify(pid: int, comm: str, root: int) -> str:
    if pid == root:
        return "driver_py"
    if comm == "java":
        return "jvm"
    return "worker_py" if comm.startswith("python") or comm.startswith(
        "pyspark") else "other"


def cpu_by_kind(root: int | None = None) -> dict[str, float]:
    """Cumulative CPU seconds of the process tree under ``root``, split
    into the benchmark's own Python process, the JVM and the Python
    worker processes.  Reaped children are charged to their parent's
    kind, except that the root's reaped children (the launcher of the
    JVM) count as JVM."""
    root = os.getpid() if root is None else root
    out = {"driver_py": 0.0, "jvm": 0.0, "worker_py": 0.0, "other": 0.0}
    for pid in process_tree(root):
        st = _stat(pid)
        if st is None:
            continue
        comm, own, reaped = st
        kind = _classify(pid, comm, root)
        out[kind] += own
        out["jvm" if pid == root else kind] += reaped
    return out


def peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live process tree of each process's peak resident
    set (``VmHWM``), in MiB."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024.0


def steal_ticks() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the whole machine so far."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


# ---------------------------------------------------------------------------
# Spark jobs and stages, per job group
# ---------------------------------------------------------------------------

def _zero_counters() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "job_s": [],
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0}


class SparkLedger:
    """Reads the jobs and stages of the job groups the benchmark set,
    through the same ``AppStatusStore`` that ``core.metrics`` reads.

    Only stages with an id above the watermark taken at construction are
    read, so a read costs O(new stages), and reads happen after the timed
    window."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()
        self.seen: set[int] = set()
        # stage ids only grow: one marker job's stage id is the watermark
        self.sc.setJobGroup("perfbench-watermark", "stage watermark")
        self.sc.parallelize([0], 1).count()
        job = self.tracker.getJobIdsForGroup("perfbench-watermark")[-1]
        self.watermark = max(self.tracker.getJobInfo(job).stageIds)

    def group(self, name: str) -> dict:
        """Counters of every job in job group ``name``.  Read groups in
        the order they ran."""
        out = _zero_counters()
        for job_id in self.tracker.getJobIdsForGroup(name):
            out["jobs"] += 1
            try:
                jd = self.store.job(job_id)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["job_s"].append(
                        (done.get().getTime() - sub.get().getTime()) / 1e3)
            except Exception:
                pass
            info = self.tracker.getJobInfo(job_id)
            for sid in (info.stageIds if info is not None else []):
                # a stage reused by a later job keeps its id: count it once
                if sid <= self.watermark or sid in self.seen:
                    continue
                self.seen.add(sid)
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:
                    continue
                if sd.numCompleteTasks() == 0:
                    continue  # skipped stage: never ran
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (sd.memoryBytesSpilled()
                                    + sd.diskBytesSpilled()) / 2**20
        return out


def merge_groups(parts: list[dict]) -> dict:
    out = _zero_counters()
    for p in parts:
        for k, v in p.items():
            out[k] = out[k] + v
    return out
