"""Counters read from outside the engine: ``/proc`` for the driver JVM and the
pyspark Python workers, ``SparkContext.statusTracker()`` for jobs and tasks,
the JVM's GC beans over py4j, and the Spark event log (parsed after the
session stops) for input records, shuffle and spill."""

from __future__ import annotations

import glob
import json
import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children) of ``pid``, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are positional
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime + cutime + cstime) / _TICK


def _hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB; 0.0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def descendants(root: int) -> list:
    """Pids of every live process below ``root`` (pyspark's daemon and the
    Python workers it forks sit under the driver JVM)."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(st[0], []).append(int(entry))
    out, stack = [], [root]
    while stack:
        for pid in children.get(stack.pop(), []):
            out.append(pid)
            stack.append(pid)
    return out


class Process:
    """CPU and memory of the driver JVM and its Python workers."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def jvm_cpu_s(self) -> float:
        st = _stat(self.jvm_pid)
        return st[1] if st else 0.0

    def python_cpu_s(self) -> float:
        """CPU seconds of pyspark's Python daemon and the workers it forks,
        including workers that already exited."""
        total = 0.0
        for pid in descendants(self.jvm_pid):
            st = _stat(pid)
            if st is not None:
                total += st[1]
        return total

    def gc_s(self) -> float:
        return sum(max(0, b.getCollectionTime()) for b in self._gc_beans) / 1000.0

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM plus that of each live Python worker."""
        return _hwm_mb(self.jvm_pid) + sum(
            _hwm_mb(p) for p in descendants(self.jvm_pid)
        )

    def sample(self) -> dict:
        return {
            "jvm_cpu_s": self.jvm_cpu_s(),
            "python_cpu_s": self.python_cpu_s(),
            "gc_s": self.gc_s(),
        }


def delta(before: dict, after: dict) -> dict:
    return {k: after[k] - before[k] for k in before}


def job_counts(spark, group: str) -> dict:
    """Jobs, stages and completed tasks that ran under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        for stage_id in info.stageIds:
            st = tracker.getStageInfo(stage_id)
            if st is not None:
                stages += 1
                tasks += st.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def event_log_totals(log_dir: str) -> dict:
    """Per job group: input records, shuffle bytes written, bytes spilled to disk and
    task count, summed from the TaskEnd events of the session's event log.
    Stages are mapped to groups through the JobStart events."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    if not paths:
        return {}
    stage_group: dict = {}
    totals: dict = {}
    with open(paths[-1]) as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics") or {}
                t = totals.setdefault(
                    group,
                    {"input_records": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "tasks": 0},
                )
                t["tasks"] += 1
                t["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return totals
