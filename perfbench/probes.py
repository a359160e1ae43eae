"""Outside-in accounting: what the benchmark reads without touching
the engine's code.

- process-tree CPU and peak memory from ``/proc/<pid>/{stat,status}``,
  split into the Spark driver's Python process, the JVM and the JVM's Python
  workers;
- host CPU steal from ``/proc/stat``;
- JVM GC and JIT totals and heap use after GC through the py4j
  ``ManagementFactory`` MXBeans;
- persisted-RDD counts and sizes from the SparkContext;
- per-micro-batch progress from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql.streaming import StreamingQueryListener

_CLK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process ended between listing and reading
        return None


def _stat(pid: int) -> tuple[int, str, float] | None:
    """(ppid, comm, cpu seconds incl. reaped children) of ``pid``."""
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    cpu = sum(int(x) for x in f[11:15]) / _CLK
    return int(f[1]), comm, cpu


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(st[0], []).append(int(name))
    return kids


def process_tree() -> list[tuple[int, str, str]]:
    """``(pid, role, comm)`` for this process and every descendant. Role
    is ``driver`` (this process), ``jvm`` or ``pyworker`` (a process
    below the JVM: the PySpark daemon and its forked workers)."""
    root = os.getpid()
    kids = _children()
    out = [(root, "driver", "")]
    stack = [(c, "driver") for c in kids.get(root, [])]
    while stack:
        pid, parent_role = stack.pop()
        st = _stat(pid)
        if st is None:
            continue
        comm = st[1]
        if parent_role == "driver":
            role = "jvm" if comm == "java" else "driver"
        else:
            role = "pyworker" if parent_role in ("jvm", "pyworker") else parent_role
        out.append((pid, role, comm))
        stack.extend((c, role) for c in kids.get(pid, []))
    return out


def cpu_by_role() -> dict[str, float]:
    """CPU seconds so far per role. Reaped children count in their
    parent's ``cutime``, so the sum is monotone across worker exits."""
    acc = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, role, _ in process_tree():
        st = _stat(pid)
        if st is not None:
            acc[role] += st[2]
    return acc


def peak_rss_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over the live process tree."""
    kb = 0
    for pid, _, _ in process_tree():
        raw = _read(f"/proc/{pid}/status") or ""
        for line in raw.splitlines():
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


def host_steal_s() -> float:
    """Cumulative CPU steal of the host, in seconds (all CPUs)."""
    first = (_read("/proc/stat") or "").splitlines()[0].split()
    return int(first[8]) / _CLK if len(first) > 8 else 0.0


class Jvm:
    """GC and JIT totals and persisted-RDD state of the session's JVM."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        mf = self._sc._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._jit = mf.getCompilationMXBean()
        self._heap = [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def gc_ms(self) -> float:
        return float(sum(max(b.getCollectionTime(), 0) for b in self._gcs))

    def jit_ms(self) -> float:
        return float(self._jit.getTotalCompilationTime())

    def heap_after_gc_mb(self) -> float:
        """Heap in use right after each heap pool's latest collection."""
        used = (p.getCollectionUsage() for p in self._heap)
        return sum(u.getUsed() for u in used if u is not None) / 2**20

    def persisted(self) -> tuple[int, float]:
        """(registered persisted RDDs, MB held in memory and on disk)."""
        sc = self._sc._jsc.sc()
        n = int(self._sc._jsc.getPersistentRDDs().size())
        mb = sum(i.memSize() + i.diskSize() for i in sc.getRDDStorageInfo()) / 2**20
        return n, mb


class ProgressLog(StreamingQueryListener):
    """Collects every query's ``StreamingQueryProgress`` as plain dicts.

    Listener events arrive on a py4j callback thread after the query
    has moved on, so :meth:`wait_terminated` blocks until a query's
    termination event (posted after its last progress) is seen."""

    def __init__(self):
        self._lock = threading.Lock()
        self._done = threading.Condition(self._lock)
        self.progress: list[dict] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = [
            {
                "rows": s.numRowsTotal,
                "memory_bytes": s.memoryUsedBytes,
                "commit_ms": s.commitTimeMs,
            }
            for s in p.stateOperators
        ]
        rec = {
            "run_id": str(p.runId),
            "batch": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": ops,
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryTerminated(self, event):
        with self._done:
            self.terminated.add(str(event.runId))
            self._done.notify_all()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        """Block until ``n`` queries have terminated (or ``timeout``)."""
        with self._done:
            self._done.wait_for(lambda: len(self.terminated) >= n, timeout)

    def batches_of(self, run_ids: set[str]) -> list[dict]:
        with self._lock:
            return [p for p in self.progress if p["run_id"] in run_ids]

    def run_ids(self) -> set[str]:
        with self._lock:
            return {p["run_id"] for p in self.progress} | set(self.terminated)
