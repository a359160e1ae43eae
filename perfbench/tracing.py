"""Spans around the engine's public calls, and the Spark event-log
parser behind the ``spark.*`` per-layer metrics.

Spans are recorded by the benchmark around the calls it makes
(``get_spark``, key functions, operators, ``run_available_now``, sink
actions). ``session.load_table`` is called from inside the key
functions, so the traced run rebinds that one public name in every
engine module that imported it; no engine file changes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shlex
import statistics
import sys
import time


class Tracer:
    """In-memory span recorder. Disabled, :meth:`span` costs one
    attribute test and records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap_load_table(self) -> None:
        """Time every ``session.load_table`` call made by engine code."""
        from kafka_streams_clojure_spark import session

        orig = session.load_table

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span("session.load_table"):
                return orig(*args, **kwargs)

        for name, mod in list(sys.modules.items()):
            if name.startswith("kafka_streams_clojure_spark") and getattr(
                mod, "load_table", None
            ) is orig:
                mod.load_table = traced

    def totals(self, since: float = float("-inf")) -> dict[str, dict[str, float]]:
        """Per span name: call count, total and self seconds, over spans
        that started at or after ``since``. Self time is the duration
        minus the time covered by direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None or s["start"] < since:
                continue
            d = s["end"] - s["start"]
            t = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
            t["n"] += 1
            t["total_s"] += d
            t["self_s"] += d - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "totals": self.totals()}, f)


def eventlog_conf(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` fragment that turns the event log on."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf {shlex.quote(f'spark.eventLog.dir=file://{log_dir}')} "
        "--conf spark.eventLog.compress=false"
    )


def _events(log_dir: str):
    """Every event of the log, in order. A rolled log is a directory
    ``eventlog_v2_<app>/`` of ``events_<N>_<app>`` files."""
    def order(path):
        parts = os.path.basename(path).split("_")
        return int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0

    for root, _, names in os.walk(log_dir):
        paths = [os.path.join(root, n) for n in names
                 if not n.startswith(("appstatus", "."))]  # markers, .crc files
        for path in sorted(paths, key=order):
            with open(path) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def spark_layer(log_dir: str, t0_ms: float, t1_ms: float, passes: int) -> dict[str, float]:
    """``spark.*`` metrics for jobs and tasks that started inside the
    wall-clock window ``[t0_ms, t1_ms]``, as averages per pass."""
    jobs = stages = 0
    run = cpu = deser = gc = sw = sr = spill = inp = 0.0
    tasks = 0
    task_run_by_stage: dict[tuple[int, int], list[float]] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            if t0_ms <= ev["Stage Info"].get("Submission Time", 0) <= t1_ms:
                stages += 1
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            if not (t0_ms <= info["Launch Time"] <= t1_ms):
                continue
            tasks += 1
            run += m.get("Executor Run Time", 0) / 1e3
            cpu += m.get("Executor CPU Time", 0) / 1e9
            deser += m.get("Executor Deserialize Time", 0) / 1e3
            gc += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            sw += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            inp += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            task_run_by_stage.setdefault(key, []).append(m.get("Executor Run Time", 0))
    skew = 1.0
    if task_run_by_stage:
        longest = max(task_run_by_stage.values(), key=sum)
        med = statistics.median(longest)
        skew = max(longest) / med if med > 0 else 1.0
    p = max(passes, 1)
    mb = 2.0**20
    return {
        "spark.jobs": jobs / p,
        "spark.stages": stages / p,
        "spark.tasks": tasks / p,
        "spark.executor_run_s": run / p,
        "spark.executor_cpu_s": cpu / p,
        "spark.deserialize_s": deser / p,
        "spark.gc_s": gc / p,
        "spark.shuffle_write_mb": sw / mb / p,
        "spark.shuffle_read_mb": sr / mb / p,
        "spark.spill_mb": spill / mb / p,
        "spark.input_mb": inp / mb / p,
        "spark.stage_skew": skew,
    }
