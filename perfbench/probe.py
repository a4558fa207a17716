"""Outside-in measurement: /proc and Spark's own accounting, no package code.

- :func:`tree_cpu_s` / :func:`peak_rss_mb` read ``/proc`` for this Python
  process, the JVM it launched and their children; :func:`jit_cpu_s` the
  JVM's JIT compiler threads.
- :class:`SparkWindow` brackets a stretch of work and reports what Spark's
  status stores recorded inside it: jobs and tasks (``AppStatusStore``), stage
  shuffle/spill/output bytes, and SQL-execution metrics
  (files read and written) from ``sharedState().statusStore()``.
"""

from __future__ import annotations

import os
import re

from py4j.protocol import Py4JJavaError

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    return _stat_path(f"/proc/{pid}/stat")


def _stat_path(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and its live descendants, plus the children
    ``root`` has already reaped."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat(int(name))
        if f is None:
            continue
        parent[int(name)] = int(f[1])
        ticks[int(name)] = int(f[11]) + int(f[12])
    total = 0
    for pid in ticks:
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += ticks[pid]
    f = _stat(root)
    if f is not None:
        total += int(f[13]) + int(f[14])
    return total / _TICK


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JIT compiler threads of JVM ``pid``.  Exact only
    when the JVM keeps its compiler threads alive
    (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
        except OSError:
            continue
        f = _stat_path(f"/proc/{pid}/task/{tid}/stat")
        if f is not None:
            total += int(f[11]) + int(f[12])
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_total(text: str) -> float:
    """Total of a SQL metric string: ``"1,234"``, ``"5.8 KiB"`` or the
    multi-line ``"total (min, med, max ...)\\n9.4 KiB (...)"`` form."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"([\d,.]+)\s*(B|KiB|MiB|GiB|TiB)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1)


class SparkWindow:
    """Counts what Spark did between :meth:`mark` and :meth:`since`."""

    SQL_METRICS = ("number of files read", "number of written files")

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int, int]:
        def value(counter) -> int:  # an AtomicInteger, or its int via py4j
            return int(counter if isinstance(counter, int) else counter.get())

        return (
            value(self._dag.nextJobId()),
            value(self._dag.nextStageId()),
            int(self._sql.executionsCount()),
        )

    def since(self, mark: tuple[int, int, int], sql: bool = True) -> dict:
        """Counts since ``mark``; ``sql=False`` skips the SQL metrics, the
        part that costs the most calls into the JVM."""
        j0, s0, e0 = mark
        j1, s1, e1 = self.mark()
        out = {
            "jobs": j1 - j0,
            "tasks": 0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
            "output_bytes": 0,
        }
        for sid in range(s0, s1):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage id that never ran
                continue
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["output_bytes"] += st.outputBytes()
        sums = dict.fromkeys(self.SQL_METRICS, 0.0)
        if sql and e1 > e0:
            execs = self._sql.executionsList(e0, e1 - e0)
            for i in range(execs.size()):
                e = execs.apply(i)
                values = self._sql.executionMetrics(e.executionId())
                metrics = e.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() in sums:
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            sums[m.name()] += _metric_total(v.get())
        out["files_read"] = sums["number of files read"]
        out["files_written"] = sums["number of written files"]
        return out
