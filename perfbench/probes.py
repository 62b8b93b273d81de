"""Measurement from outside the program: spans around calls into each
layer's public functions, and Spark's own status store.

Nothing here changes what the program computes.  ``Tracer.patch``
replaces a module attribute with a timing wrapper for the duration of a
traced run and ``Tracer.restore`` puts the original back; the wrappers
sit at the attribute the caller looks up (a name imported by value,
such as ``dags.merge_upsert``, is patched in the importing module).
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span recorder.  A span is (name, start, end, parent
    index, operation id); spans are written out once, at exit."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op_id: int | None = None

    def start(self, name: str) -> int:
        self.spans.append(
            {
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "op": self.op_id,
            }
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.start(name)
        try:
            yield
        finally:
            self.end(idx)

    def patch(self, module, attr: str, name: str, after=None) -> None:
        """Wrap ``module.attr`` in a span called ``name``; ``after`` is
        called with (args, kwargs, result, span) once the call returns."""
        original = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            idx = tracer.start(name)
            try:
                result = original(*args, **kwargs)
            finally:
                tracer.end(idx)
            if after is not None:
                after(args, kwargs, result, tracer.spans[idx])
            return result

        wrapper.__wrapped__ = original
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, original))

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that its direct children cover."""
        child_cover = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                child_cover[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"]:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child_cover[i]
        return out


# ------------------------------------------------------- Spark status store

STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
    "output_mb",
)


def fold_job_group(spark, group: str, wall_s: float, t_begin_ms: float) -> dict:
    """Fold the stage metrics of every job in ``group`` into one record.

    ``driver_only_s`` is the part of the operation's wall time during
    which no job of the group was running (plan construction, training
    loops in the Python process, commit bookkeeping)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    job_ids = list(sc._jsc.sc().statusTracker().getJobIdsForGroup(group))
    rec = {k: 0.0 for k in STAGE_FIELDS}
    rec["jobs"] = len(job_ids)
    rec["stages"] = 0
    intervals = []
    mb = 1.0 / (1 << 20)
    for jid in job_ids:
        job = store.job(int(jid))
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined():
            end_ms = done.get().getTime() if done.isDefined() else time.time() * 1000
            intervals.append((sub.get().getTime(), end_ms))
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            try:
                st = store.lastStageAttempt(int(stage_ids.apply(i)))
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            rec["executor_run_s"] += st.executorRunTime() / 1e3
            rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["shuffle_read_mb"] += (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) * mb
            rec["shuffle_write_mb"] += st.shuffleWriteBytes() * mb
            rec["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) * mb
            rec["input_mb"] += st.inputBytes() * mb
            rec["output_mb"] += st.outputBytes() * mb
    busy = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, t_begin_ms), max(e, t_begin_ms)
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    rec["driver_only_s"] = max(0.0, wall_s - busy / 1e3)
    return rec


def retained_storage(spark) -> tuple[int, float]:
    """Persistent RDD count and their cached bytes (MB), memory + disk."""
    jsc = spark.sparkContext._jsc.sc()
    count = jsc.getPersistentRDDs().size()
    infos = jsc.getRDDStorageInfo()
    size = sum(i.memSize() + i.diskSize() for i in infos)
    return count, size / (1 << 20)


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM (local mode runs the executors in it)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_stats(root: str) -> tuple[int, int]:
    """(data files, bytes) under ``root``; a data file is a .parquet file."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                size += os.path.getsize(p)
            except OSError:
                continue
            if n.endswith(".parquet"):
                files += 1
    return files, size


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def gmean(xs) -> float:
    xs = list(xs)
    return statistics.geometric_mean(xs) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(latency, percentile, samples) at the highest percentile that has
    at least ten samples beyond it; the maximum when there are fewer
    than twenty samples."""
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return 0.0, 0.0, 0
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n
