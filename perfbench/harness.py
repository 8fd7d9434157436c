"""Measurement plumbing shared by the workloads: spans, process-tree CPU
from ``/proc``, and Spark job/stage/task counts from the public
``StatusTracker``.

Every op runs through :meth:`Harness.op`, which times it, charges it the
CPU its process tree used and the Spark jobs it started.  With tracing
on, the op also gets its stage and task counts and the storage it wrote,
and the time spent collecting them is kept apart as the tracing
overhead.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from contextlib import contextmanager

TICK = os.sysconf("SC_CLK_TCK")
# Job group of the benchmark's own Spark work between ops (resetting the
# schema, reading outputs back for the checks); never charged to an op.
UNTIMED_GROUP = "perfbench.untimed"


def _stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    rest = s[s.rfind(")") + 2:].split()
    return int(rest[1]), rest


def _cpu(pid: int, field: int) -> float:
    """User plus system seconds from ``/proc/<pid>/stat``: the process's
    own at field 11, its reaped children's at field 13."""
    st = _stat(pid)
    return 0.0 if st is None else (int(st[1][field]) + int(st[1][field + 1])) / TICK


class ProcTree:
    """CPU seconds of this process, the JVM it launched and the JVM's
    descendants (the Python UDF workers), read from ``/proc``."""

    def __init__(self, jvm_pid: int):
        self.me = os.getpid()
        self.jvm = jvm_pid

    def _descendants(self, root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children.setdefault(st[0], []).append(int(name))
        out, stack = [], [root]
        while stack:
            for c in children.get(stack.pop(), []):
                out.append(c)
                stack.append(c)
        return out

    def driver_cpu(self) -> float:
        return _cpu(self.me, 11)

    def tree_cpu(self) -> dict[str, float]:
        """CPU of the JVM and of its workers, live and reaped."""
        workers = _cpu(self.jvm, 13) + sum(
            _cpu(p, 11) + _cpu(p, 13) for p in self._descendants(self.jvm)
        )
        return {"jvm": _cpu(self.jvm, 11), "workers": workers}

    def jvm_peak_rss_mb(self) -> float:
        try:
            with open(f"/proc/{self.jvm}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0


def tree_mb(root: str, since: float | None = None) -> float:
    """Size of the files under ``root``; only those modified at or after
    ``since`` when it is given."""
    total = 0
    for d, _, files in os.walk(root):
        for name in files:
            try:
                st = os.stat(os.path.join(d, name))
            except OSError:
                continue
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total / 1e6


class Harness:
    """Runs ops, keeps spans in memory and the per-op records the
    metrics are computed from."""

    def __init__(self, spark, jvm_pid: int, trace: bool, warehouse: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.procs = ProcTree(jvm_pid)
        self.trace = trace
        self.warehouse = warehouse
        self.t0 = time.time()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.ops: list[dict] = []
        self._seen_jobs: set[int] = set()
        self._op_seq = 0
        self.sc.setJobGroup(UNTIMED_GROUP, "benchmark bookkeeping")

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time() - self.t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time() - self.t0

    # -------------------------------------------------------- counters
    def _new_jobs(self, groups: list[str | None]) -> list[int]:
        ids = set()
        for g in groups:
            ids.update(self.tracker.getJobIdsForGroup(g))
        new = sorted(ids - self._seen_jobs)
        self._seen_jobs |= ids
        return new

    def spark_counts(self, job_ids: list[int]) -> dict[str, int]:
        """Stages and tasks run by ``job_ids``.  A stage the status
        store no longer holds is counted as missing, never as zero."""
        stage_ids: set[int] = set()
        missing = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                missing += 1
            else:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for s in stage_ids:
            info = self.tracker.getStageInfo(s)
            if info is None:
                missing += 1
                continue
            ran = info.numCompletedTasks + info.numFailedTasks
            stages += ran > 0
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
        return {
            "jobs": len(job_ids),
            "stages": stages,
            "tasks": tasks,
            "failed_tasks": failed,
            "missing": missing,
        }

    # -------------------------------------------------------------- ops
    def op(self, phase: str, iteration: int, name: str, fn, node_groups=None):
        """Run ``fn()`` as one op in its own job group.  ``node_groups``
        maps the op's result to further job groups its jobs ran under
        (an engine build tags each node's jobs with the node id).
        Returns ``(record, result)``; an exception fails the op."""
        self._op_seq += 1
        group = f"perfbench.{self._op_seq}.{name}"
        self.sc.setJobGroup(group, name)
        result, error = None, None
        # the driver's own CPU is read closest to the op on both sides,
        # so the /proc scan for the JVM's workers is never charged to it
        cpu0 = self.procs.tree_cpu()
        cpu0["driver"] = self.procs.driver_cpu()
        with self.span("op", op=name, phase=phase, iteration=iteration):
            t0 = time.perf_counter()
            wall0 = time.time()
            try:
                result = fn()
            except Exception:  # noqa: BLE001 - a failed op is a result
                error = traceback.format_exc(limit=3)
            seconds = time.perf_counter() - t0
        cpu1 = {"driver": self.procs.driver_cpu(), **self.procs.tree_cpu()}
        self.sc.setJobGroup(UNTIMED_GROUP, "benchmark bookkeeping")
        c0 = time.perf_counter()
        extra = node_groups(result) if (node_groups and result is not None) else []
        jobs = self._new_jobs([group, None, *extra])
        rec = {
            "phase": phase,
            "iteration": iteration,
            "op": name,
            "s": seconds,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "job_ids": jobs,
            "jobs": len(jobs),
            "error": error,
        }
        if self.trace:
            rec["spark"] = self.spark_counts(jobs)
            rec["write_mb"] = tree_mb(self.warehouse, since=wall0)
            rec["stored_mb"] = tree_mb(self.warehouse)
        rec["collect_s"] = time.perf_counter() - c0
        self.ops.append(rec)
        return rec, result


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
