"""What the benchmark reads through Spark's public hooks.

- ``ProgressLog``: a ``StreamingQueryListener`` keeping every
  ``StreamingQueryProgress`` (per-batch durations, state operators,
  source offsets).
- ``planning_s``: the QueryPlanningTracker phases of an executed
  DataFrame.
- ``eventlog``: job/stage/task totals parsed from the traced run's
  Spark event log, restricted to time windows.
- ``accumulation``: the counters that grow over a long session.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

BATCH_PHASES = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressLog(StreamingQueryListener):
    def __init__(self):
        self._lock = threading.Lock()
        self.progress: list[dict] = []

    @classmethod
    def attach(cls, spark) -> "ProgressLog":
        log = cls()
        spark.streams.addListener(log)
        return log

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        p["_start"] = _epoch(p["timestamp"])
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def batches(self, windows: list[tuple[float, float]] | None = None) -> list[dict]:
        """Progress of batches that moved data, optionally only those
        starting inside one of ``windows``."""
        with self._lock:
            ps = list(self.progress)
        ps = [p for p in ps if p.get("durationMs", {}).get("addBatch") is not None]
        if windows is None:
            return ps
        return [p for p in ps if any(a <= p["_start"] <= b for a, b in windows)]


def batch_metrics(batches: list[dict], n_passes: int) -> dict[str, float]:
    """Per-pass streaming totals from progress events."""
    n = max(n_passes, 1)
    out = {"streaming.batches": len(batches) / n}
    for ph in BATCH_PHASES:
        out[f"streaming.batch_ms.{ph}"] = sum(p["durationMs"].get(ph, 0) for p in batches) / n
    ops = [op for p in batches for op in p.get("stateOperators", [])]
    out["streaming.state.commit_ms"] = sum(op.get("commitTimeMs", 0) for op in ops) / n
    out["streaming.state.rows_total"] = sum(op.get("numRowsTotal", 0) for op in ops) / n
    out["streaming.state.memory_mb"] = (
        max((op.get("memoryUsedBytes", 0) for op in ops), default=0) / 2**20
    )
    out["streaming.state.rows_dropped_by_watermark"] = (
        sum(op.get("numRowsDroppedByWatermark", 0) for op in ops) / n
    )
    return out


def planning_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s last execution
    (QueryPlanningTracker phases)."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return total / 1000.0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass  # a checkpoint file removed while walking
    return total


def jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def accumulation(ctx) -> dict[str, float]:
    """Counters that grow over a long session: persisted RDDs, catalog
    tables (memory-sink results among them), bytes under this process's
    checkpoint directory, and the JVM's peak RSS."""
    spark = ctx.spark
    tables = [t.name for t in spark.catalog.listTables()]
    ckpt = os.path.join(os.environ["SPARK_GRAFT_CKPT_BASE"], str(os.getpid()))
    return {
        "persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "tables": len(tables),
        "stream_result_tables": sum(t.startswith("stream_result_") for t in tables),
        "ckpt_bytes": _dir_bytes(ckpt),
        "jvm_hwm_mb": jvm_hwm_mb(spark),
    }


def eventlog(log_dir: str, windows: list[tuple[float, float]], n_passes: int) -> dict[str, float]:
    """Job/stage/task totals per pass for work submitted inside ``windows``."""

    def inside(ms) -> bool:
        t = ms / 1000.0
        return any(a <= t <= b for a, b in windows)

    jobs = stages = tasks = 0
    shuffle_w = shuffle_r = spill = run_ms = cpu_ns = gc_ms = 0
    stage_tasks: dict[int, list[int]] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path) or os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart" and inside(ev["Submission Time"]):
                    jobs += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if inside(info.get("Submission Time", 0)):
                        stages += 1
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    if not inside(info["Launch Time"]):
                        continue
                    tasks += 1
                    shuffle_w += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    shuffle_r += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    run_ms += m.get("Executor Run Time", 0)
                    cpu_ns += m.get("Executor CPU Time", 0)
                    gc_ms += m.get("JVM GC Time", 0)
                    stage_tasks.setdefault(ev["Stage ID"], []).append(
                        info["Finish Time"] - info["Launch Time"]
                    )
    skews = [
        max(ts) / max(statistics.median(ts), 1)
        for ts in stage_tasks.values()
        if len(ts) >= 2
    ]
    n = max(n_passes, 1)
    mb = 2**20
    return {
        "spark.jobs": jobs / n,
        "spark.stages": stages / n,
        "spark.tasks": tasks / n,
        "spark.shuffle_write_mb": shuffle_w / mb / n,
        "spark.shuffle_read_mb": shuffle_r / mb / n,
        "spark.spill_mb": spill / mb / n,
        "spark.executor_run_s": run_ms / 1000.0 / n,
        "spark.executor_cpu_s": cpu_ns / 1e9 / n,
        "spark.gc_s": gc_ms / 1000.0 / n,
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
    }


def wait_quiet(log: ProgressLog, settle_s: float = 0.5, limit_s: float = 5.0) -> None:
    """Let the listener bus deliver trailing progress events."""
    deadline = time.time() + limit_s
    last = -1
    while time.time() < deadline:
        n = len(log.progress)
        if n == last:
            return
        last = n
        time.sleep(settle_s)
