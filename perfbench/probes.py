"""Measurement probes read from outside the program: host noise, process
RSS and CPU from ``/proc``, Spark's status store, and an in-memory span
recorder.  Nothing here touches the engine's own code."""

from __future__ import annotations

import contextlib
import json
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# host noise
# ---------------------------------------------------------------------------

def cpu_jiffies() -> tuple[int, int, int] | None:
    """(steal, total, demanded) jiffies from the aggregate line of
    ``/proc/stat``; *demanded* is every jiffy not idle or waiting on I/O —
    the time the vCPUs ran or wanted to run."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals), sum(vals) - vals[3] - (vals[4] if len(vals) > 4 else 0)
    except (OSError, ValueError, IndexError):
        return None


def steal_pct(before, after) -> float | None:
    """Hypervisor steal as a percentage of all CPU time between two
    :func:`cpu_jiffies` readings."""
    if before is None or after is None:
        return None
    return round(100.0 * (after[0] - before[0]) / max(1, after[1] - before[1]), 3)


def stolen_share(before, after) -> float:
    """The share of the time the vCPUs wanted to run that the hypervisor
    gave to other guests, between two :func:`cpu_jiffies` readings.  A
    thread that wants to run progresses at ``1 - share`` of its speed, so
    ``wall * (1 - share)`` is the wall an unshared host would have shown."""
    if before is None or after is None:
        return 0.0
    demanded = after[2] - before[2]
    return min(max((after[0] - before[0]) / demanded, 0.0), 1.0) if demanded > 0 else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every process below it."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def _peak_rss_bytes(pid: int) -> int:
    """The kernel's high-water mark of ``pid``'s resident set (``VmHWM``)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Peak RSS of this process and everything below it — the JVM and the
    Python workers — summed.  Each process's own high-water mark
    is kept by the kernel, so nothing has to sample while the work runs."""
    return sum(_peak_rss_bytes(p) for p in descendants()) / (1 << 20)


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _cpu_ticks(pid: int) -> int:
    """User + system CPU of ``pid`` and of its reaped children, in ticks."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields after the command: utime=11, stime=12, cutime=13, cstime=14
    return int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def tree_cpu_s() -> float:
    """CPU seconds of this process and everything below it: the JVM and
    the Python workers.  Hypervisor steal is not charged to
    processes, so this does not grow when co-tenants take the host."""
    return sum(_cpu_ticks(p) for p in descendants()) / _TICK


def worker_cpu_s() -> float:
    """CPU seconds of the ``pyspark.daemon`` process tree — the Python
    workers that run the grouped-map kernels."""
    pids = [p for p in descendants() if "pyspark.daemon" in _cmdline(p)]
    return sum(_cpu_ticks(p) for p in pids) / _TICK


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def job_group_stats(spark, group: str) -> dict:
    """Totals over the stages that ran for one job group, read from the
    status store (works with the UI disabled).  Stages skipped because
    their shuffle output was reused carry no tasks and add nothing.  The
    *kernel stage* is the stage with the most non-JVM run time — run time
    minus JVM CPU, i.e. the Python worker side of a grouped-map stage."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = list(tracker.getJobIdsForGroup(group))
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    tot = {
        "jobs": len(job_ids), "stages": 0, "tasks": 0, "tasks_failed": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
    }
    kernel = None
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — a stage evicted from the store
            continue
        done = int(sd.numCompleteTasks()) + int(sd.numFailedTasks())
        if done == 0:
            continue
        run_s = sd.executorRunTime() / 1e3
        cpu_s = sd.executorCpuTime() / 1e9
        tot["stages"] += 1
        tot["tasks"] += done
        tot["tasks_failed"] += int(sd.numFailedTasks())
        tot["executor_run_s"] += run_s
        tot["executor_cpu_s"] += cpu_s
        tot["gc_s"] += sd.jvmGcTime() / 1e3
        tot["shuffle_read_mb"] += sd.shuffleReadBytes() / (1 << 20)
        tot["shuffle_write_mb"] += sd.shuffleWriteBytes() / (1 << 20)
        tot["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / (1 << 20)
        python_s = max(run_s - cpu_s, 0.0)
        if kernel is None or python_s > kernel["python_s"]:
            kernel = {"stage": sid, "attempt": int(sd.attemptId()), "run_s": run_s,
                      "python_s": python_s}
    skew = 1.0
    if kernel is not None:
        tasks = store.taskList(kernel["stage"], kernel["attempt"], 100000)
        runs = sorted(
            tasks.apply(i).taskMetrics().get().executorRunTime()
            for i in range(tasks.size())
            if tasks.apply(i).taskMetrics().isDefined()
        )
        if runs:
            med = runs[len(runs) // 2] if len(runs) % 2 else 0.5 * (
                runs[len(runs) // 2 - 1] + runs[len(runs) // 2])
            skew = runs[-1] / med if med > 0 else 1.0
    tot["kernel_stage_run_s"] = kernel["run_s"] if kernel else 0.0
    tot["kernel_stage_python_s"] = kernel["python_s"] if kernel else 0.0
    tot["kernel_task_skew"] = skew
    return tot


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

def no_span(name: str, **attrs):
    """The span factory of untraced work: records nothing."""
    return contextlib.nullcontext()


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    when the run ends.  Traced work gets :meth:`span` as its span factory,
    untraced work :func:`no_span`."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part covered by its children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cursor = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                if c["end"] is None:
                    continue
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_s": selfs.get(s["id"])}, default=str) + "\n")
