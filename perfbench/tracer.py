"""Outside-in instruments: everything here observes the program from the
benchmark's side of its public API and never edits it.

- ``Tracer``: spans (name, start, end, parent, op id) around the public
  calls the benchmark makes, kept in memory and written once at the end.
- ``SparkCounters``: per-op Spark work read from the application status
  store, attributed by job group (one benchmark-set group per op, plus the
  ``runId`` groups of the streaming queries the op started).
- ``ProgressListener``: a ``StreamingQueryListener`` recording each
  micro-batch's progress.
- ``CountingKVClient``: the KV client handed to the program's ``KVStore``;
  it counts writes and the writes that changed a value.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "op": op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, default=str)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def _graph_rdd_names(cluster) -> list[str]:
    out = []
    nodes = cluster.childNodes()
    out += [nodes.apply(i).name() for i in range(nodes.length())]
    clusters = cluster.childClusters()
    for i in range(clusters.length()):
        out += _graph_rdd_names(clusters.apply(i))
    return out


class SparkCounters:
    """Reads per-job-group stage metrics from the status store (works with
    the UI off)."""

    FIELDS = (
        "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
        "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "input_bytes", "python_stages", "busy_share", "idle_gap_ms",
    )

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, groups: list[str], t0: float, t1: float, slots: int) -> dict:
        """Counters for the jobs of ``groups`` during the op wall [t0, t1]
        (epoch seconds). ``busy_share`` is executor run time over wall x
        slots; ``idle_gap_ms`` is the op wall during which none of its
        stages was running."""
        tracker = self.sc.statusTracker()
        job_ids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
        out = dict.fromkeys(self.FIELDS, 0)
        out["jobs"] = len(job_ids)
        intervals = []
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in list(info.stageIds):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                start, end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                if start is not None and end is not None:
                    intervals.append((start / 1000.0, end / 1000.0))
                try:
                    names = _graph_rdd_names(
                        self._store.operationGraphForStage(sid).rootCluster()
                    )
                except Exception:  # graph not retained for this stage
                    names = []
                if "PythonRDD" in names:
                    out["python_stages"] += 1
        wall = max(t1 - t0, 1e-9)
        out["busy_share"] = out["executor_run_ms"] / 1000.0 / (wall * slots)
        out["idle_gap_ms"] = 1000.0 * (wall - _covered(intervals, t0, t1))
        return out


def _covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, t0), min(e, t1)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class ProgressListener(StreamingQueryListener):
    """Collects streaming query starts and per-batch progress."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: list[str] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = p.stateOperators
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "batch_ms": p.batchDuration,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_update_ms": sum(o.allUpdatesTimeMs for o in ops),
            "late_rows_dropped": sum(o.numRowsDroppedByWatermark for o in ops),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> tuple[list[str], list[dict]]:
        """Return and forget what was recorded so far."""
        with self._lock:
            started, progress = self.started, self.progress
            self.started, self.progress = [], []
        return started, progress


class CountingKVClient:
    """``set``/``delete`` KV client that counts writes and the writes that
    changed the stored value."""

    def __init__(self) -> None:
        self.data: dict[str, str] = {}
        self.sets = 0
        self.changed = 0
        self.deletes = 0

    def set(self, key: str, value: str) -> None:
        self.sets += 1
        if self.data.get(key) != value:
            self.changed += 1
        self.data[key] = value

    def delete(self, key: str) -> None:
        self.deletes += 1
        self.data.pop(key, None)
