"""Engine and process counters.

- ``StageReader``: per-operation Spark job groups, and the last
  attempt of every stage those jobs ran, read from the driver's live
  status store (tasks, executor run/CPU time, GC, input/output,
  shuffle, spill, failed tasks, and the stage's wall interval).
- ``ProcTree``: CPU seconds and resident-memory high-water marks from
  a ``/proc`` walk of the driver, the JVM it launched and the Python
  workers the JVM forked.
"""

from __future__ import annotations

import os
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_MB = 1024 * 1024


def _epoch_s(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StageReader:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()

    def set_group(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def read(self, group: str) -> tuple[list[float], dict[str, float], list[dict]]:
        """Jobs and stages of one job group: ``(job submission
        instants, summed counters, per-stage rows)``."""
        self._jsc.listenerBus().waitUntilEmpty()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        submitted: list[float] = []
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = self.store.job(jid)
            t = _epoch_s(job.submissionTime())
            if t is not None:
                submitted.append(t)
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.length()))
        totals: dict[str, float] = defaultdict(float)
        totals["spark.jobs"] = len(job_ids)
        rows = []
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage never ran (skipped)
                continue
            status = st.status().toString()
            if status not in ("COMPLETE", "FAILED"):
                continue
            start = _epoch_s(st.firstTaskLaunchedTime()) or _epoch_s(st.submissionTime())
            end = _epoch_s(st.completionTime())
            row = {
                "stage": sid,
                "name": st.name(),
                "tasks": st.numTasks(),
                "wall_s": (end - start) if start and end else 0.0,
                "run_s": st.executorRunTime() / 1000.0,
                "cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1000.0,
                "input_mb": st.inputBytes() / _MB,
                "output_mb": st.outputBytes() / _MB,
                "shuffle_read_mb": st.shuffleReadBytes() / _MB,
                "shuffle_write_mb": st.shuffleWriteBytes() / _MB,
                "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB,
                "failed_tasks": st.numFailedTasks(),
            }
            rows.append(row)
            totals["spark.stages"] += 1
            totals["spark.tasks"] += row["tasks"]
            totals["spark.executor_run_s"] += row["run_s"]
            totals["spark.executor_cpu_s"] += row["cpu_s"]
            totals["spark.gc_s"] += row["gc_s"]
            for key in ("input_mb", "output_mb", "shuffle_read_mb",
                        "shuffle_write_mb", "spill_mb", "failed_tasks"):
                totals[f"spark.{key}"] += row[key]
            if row["tasks"] == 1:
                totals["spark.single_task_stage_s"] += row["wall_s"]
        return submitted, dict(totals), rows


def _stat(pid: int) -> tuple[int, str, float, float] | None:
    """``(ppid, comm, own cpu s, reaped-children cpu s)`` of a pid."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    own = (int(f[11]) + int(f[12])) / _CLK_TCK
    kids = (int(f[13]) + int(f[14])) / _CLK_TCK
    return int(f[1]), comm, own, kids


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcTree:
    """The driver (this process), its JVM, and the JVM's Python
    workers, found by walking ``/proc`` parent links."""

    def __init__(self) -> None:
        self.driver = os.getpid()

    def _tree(self) -> dict[str, list[tuple[int, float, float]]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children = defaultdict(list)
        for pid, (ppid, *_rest) in stats.items():
            children[ppid].append(pid)
        groups: dict[str, list[tuple[int, float, float]]] = {
            "driver": [], "jvm": [], "pyworker": []
        }
        _, _, own, _ = stats.get(self.driver, (0, "", 0.0, 0.0))
        groups["driver"].append((self.driver, own, 0.0))
        todo = [(pid, "other") for pid in children[self.driver]]
        while todo:
            pid, kind = todo.pop()
            _, comm, own, kids = stats[pid]
            if kind == "other" and comm == "java":
                kind = "jvm"
            elif kind == "jvm" and comm.startswith("python"):
                kind = "pyworker"
            if kind in groups:
                groups[kind].append((pid, own, kids))
            todo.extend((c, kind) for c in children[pid])
        return groups

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per group; a descendant's reaped
        children (exited Python workers) count for the group."""
        return {
            kind: sum(own + kids for _, own, kids in procs)
            for kind, procs in self._tree().items()
        }

    def peak_rss_mb(self) -> float:
        """Lifetime resident high-water marks: JVM + driver + the
        largest Python worker (what a pod's memory limit must cover)."""
        tree = self._tree()
        total = sum(_hwm_mb(pid) for kind in ("driver", "jvm") for pid, _, _ in tree[kind])
        workers = [_hwm_mb(pid) for pid, _, _ in tree["pyworker"]]
        return total + max(workers, default=0.0)
