"""Readers for Spark's status store and for the process tree's CPU and memory.

Jobs, stages and SQL executions come from the driver's ``AppStatusStore``
and ``SQLAppStatusStore`` through py4j; both are kept with
``spark.ui.enabled=false``. CPU time and peak RSS come from ``/proc``.
"""

from __future__ import annotations

import os
import re

MB = 1024.0 * 1024.0
_SIZE = re.compile(r"([0-9]+(?:\.[0-9]+)?) (B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
PYTHON_SENT = "data sent to Python workers"
PYTHON_RETURNED = "data returned from Python workers"


def parse_size(text: str) -> float:
    """Bytes in a formatted SQL size metric; its first size is the total."""
    m = _SIZE.search(text or "")
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class SparkStats:
    """Status-store reads for one SparkContext."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every pending event."""
        self._sc.listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        """One past the highest job id the store holds (a full scan)."""
        ids = [j.jobId() for j in self._list(self._store.jobsList(None))]
        return max(ids, default=-1) + 1

    def next_execution_id(self) -> int:
        """One past the highest SQL execution id the store holds (a full scan)."""
        ids = [e.executionId() for e in self._list(self._sql.executionsList())]
        return max(ids, default=-1) + 1

    def jobs_from(self, first_id: int) -> list[dict]:
        """Jobs ``first_id``, ``first_id + 1``, ... up to the newest; ids are
        dense, so the walk stops at the first id the store does not hold."""
        out = []
        while True:
            try:
                j = self._store.job(first_id + len(out))
            except Exception:  # noqa: BLE001 - py4j NoSuchElementException ends the walk
                return out
            submitted = j.submissionTime()
            completed = j.completionTime()
            out.append(
                {
                    "id": j.jobId(),
                    "tags": set(self._list(j.jobTags())),
                    "stages": self._list(j.stageIds()),
                    "skipped_stages": j.numSkippedStages(),
                    "failed_tasks": j.numFailedTasks(),
                    "submitted": submitted.get().getTime() / 1000.0 if submitted.isDefined() else None,
                    "completed": completed.get().getTime() / 1000.0 if completed.isDefined() else None,
                }
            )

    def stage(self, stage_id: int) -> dict | None:
        """Metrics of the stage's last attempt, or None if it never ran."""
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - py4j raises NoSuchElementException for skipped stages
            return None
        if str(s.status()) == "SKIPPED":
            return None
        return {
            "tasks": s.numCompleteTasks() + s.numFailedTasks(),
            "failed_tasks": s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
            "shuffle_read_mb": s.shuffleReadBytes() / MB,
            "shuffle_write_mb": s.shuffleWriteBytes() / MB,
            "spill_mb": s.diskBytesSpilled() / MB,
            "output_mb": s.outputBytes() / MB,
        }

    def python_mb_from(self, first_id: int) -> tuple[float, float, int]:
        """MB sent to and returned from Python workers by SQL executions
        ``first_id`` onwards, and the id after the last one."""
        sent = returned = 0.0
        exec_id = first_id
        while True:
            e = self._sql.execution(exec_id)
            if e.isEmpty():
                return sent, returned, exec_id
            e = e.get()
            exec_id += 1
            ids = {m.accumulatorId(): m.name() for m in self._list(e.metrics()) if m.name() in (PYTHON_SENT, PYTHON_RETURNED)}
            if not ids:
                continue
            values = self._conv.asJava(self._sql.executionMetrics(e.executionId()))
            for acc, name in ids.items():
                size = parse_size(values.get(acc)) / MB
                if name == PYTHON_SENT:
                    sent += size
                else:
                    returned += size


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ")"
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the process tree, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / tick


def jit_cpu_s(jvm_pid: int) -> float:
    """User+system CPU seconds of the JVM's JIT compiler threads. Their
    names are the kernel's 15-character cut of ``C1/C2 CompilerThread<n>``;
    they must outlive the run (``-XX:-UseDynamicNumberOfCompilerThreads``),
    or an exited thread's time could no longer be told apart."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1 :].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = raw[raw.rindex(")") + 2 :].split()
            total += int(fields[11]) + int(fields[12])
    return total / tick


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
