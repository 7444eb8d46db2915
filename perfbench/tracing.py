"""Traced-run tooling: the Spark event-log parser, the streaming progress
recorder, timing wrappers around the public ``RollupStore`` methods, and the
standalone Gorilla kernel timer.

The event log maps to layers like this:

- SQL plan-node metrics (per accumulator id, from ``SparkListenerSQLExecution
  Start`` and AQE plan updates) give ``scan.*``, ``aggregate.time_ms``,
  ``sort.time_ms`` and the Python-node metrics ``python.*`` — the boot, init
  and run times, bytes sent and received and rows received that
  ``PythonSQLMetrics`` defines;
- task metrics give ``exchange.*`` (shuffle bytes written and read),
  ``spill.bytes``, ``gc.time_ms`` and ``task.skew``;
- stage completions give ``stage.count``.

Only events inside the measured window (wall-clock ms) are counted.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

import numpy as np

PY_METRICS = {
    "time to start Python workers": "python.boot_ms",
    "time to initialize Python workers": "python.init_ms",
    "time to run Python workers": "python.total_ms",
    "data sent to Python workers": "python.sent_bytes",
    "data returned from Python workers": "python.received_bytes",
}
_PY_NODE_HINTS = ("Python", "InPandas", "InArrow")


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _scaled(value: float, metric_type: str) -> float:
    """Accumulator value in the layer's unit: ns timings become ms."""
    return value / 1e6 if metric_type == "nsTiming" else value


def _plan_metrics(node: dict, out: dict) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (name, m["name"], m.get("metricType", "sum"))
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _layer_of(node: str, metric: str) -> str | None:
    if metric in PY_METRICS and any(h in node for h in _PY_NODE_HINTS):
        return PY_METRICS[metric]
    if metric == "number of output rows" and any(h in node for h in _PY_NODE_HINTS):
        return "python.rows"
    if node.startswith("Scan"):
        return {"scan time": "scan.time_ms", "size of files read": "scan.bytes",
                "number of files read": "scan.files"}.get(metric)
    if node.endswith("Aggregate") and metric == "time in aggregation build":
        return "aggregate.time_ms"
    if node == "Sort" and metric == "sort time":
        return "sort.time_ms"
    return None


def latest_event_log(event_dir: str) -> str | None:
    files = [f for f in glob.glob(os.path.join(event_dir, "*"))
             if os.path.isfile(f) and not f.endswith(".inprogress")]
    return max(files, key=os.path.getmtime) if files else None


def parse_event_log(path: str, t_from_ms: float, t_to_ms: float) -> dict:
    """Totals of the layer metrics over the window ``[t_from_ms, t_to_ms]``."""
    acc_meta: dict[int, tuple] = {}
    exec_time: dict[int, float] = {}
    totals: dict[str, float] = defaultdict(float)
    py_tasks = 0
    stage_runs: dict[tuple, list[float]] = defaultdict(list)
    stages = 0
    driver_updates: list[tuple[int, list]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart"):
                exec_time[ev["executionId"]] = ev.get("time", 0)
                _plan_metrics(ev.get("sparkPlanInfo", {}), acc_meta)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev.get("sparkPlanInfo", {}), acc_meta)
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev.get("sqlPlanMetrics", []):
                    acc_meta.setdefault(m["accumulatorId"],
                                        ("", m["name"], m.get("metricType", "sum")))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates.append((ev["executionId"], ev.get("accumUpdates", [])))
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                if not t_from_ms <= info.get("Launch Time", 0) <= t_to_ms:
                    continue
                tm = ev.get("Task Metrics") or {}
                sw = tm.get("Shuffle Write Metrics", {})
                sr = tm.get("Shuffle Read Metrics", {})
                totals["exchange.write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
                totals["exchange.read_bytes"] += (_num(sr.get("Remote Bytes Read"))
                                                  + _num(sr.get("Local Bytes Read")))
                totals["spill.bytes"] += _num(tm.get("Disk Bytes Spilled"))
                totals["gc.time_ms"] += _num(tm.get("JVM GC Time"))
                stage_runs[(ev.get("Stage ID"), ev.get("Stage Attempt ID"))].append(
                    _num(tm.get("Executor Run Time")))
                ran_python = False
                for a in info.get("Accumulables", []):
                    meta = acc_meta.get(a.get("ID"))
                    if meta is None:
                        continue
                    layer = _layer_of(meta[0], meta[1])
                    if layer:
                        v = _scaled(_num(a.get("Update")), meta[2])
                        totals[layer] += v
                        ran_python |= layer == "python.total_ms" and v > 0
                py_tasks += ran_python
            elif kind == "SparkListenerStageCompleted":
                si = ev.get("Stage Info", {})
                if t_from_ms <= si.get("Completion Time", 0) <= t_to_ms:
                    stages += 1
    for eid, updates in driver_updates:
        if not t_from_ms <= exec_time.get(eid, 0) <= t_to_ms:
            continue
        for acc_id, value in updates:
            meta = acc_meta.get(acc_id)
            layer = meta and _layer_of(meta[0], meta[1])
            if layer:
                totals[layer] += _scaled(_num(value), meta[2])
    skews = [max(r) / statistics.median(r) for r in stage_runs.values()
             if len(r) >= 2 and statistics.median(r) > 0]
    totals["task.skew"] = max(skews) if skews else 1.0
    totals["stage.count"] = float(stages)
    totals["python.tasks"] = float(py_tasks)
    return dict(totals)


# -- streaming ----------------------------------------------------------------

_DURATIONS = {"addBatch": "add_batch_ms", "getBatch": "get_batch_ms",
              "latestOffset": "latest_offset_ms", "queryPlanning": "query_planning_ms",
              "walCommit": "wal_commit_ms", "commitOffsets": "commit_ms"}


def make_progress_recorder():
    """A ``StreamingQueryListener`` that keeps every query progress, tagged
    ``rollup`` (the query with a state operator) or ``dedup``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[tuple[str, dict]] = []
            self.terminated = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {"batch_ms": float(p.batchDuration),
                   "durations": dict(p.durationMs),
                   "rows": int(p.numInputRows),
                   "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
                   "state_bytes": sum(int(s.memoryUsedBytes) for s in p.stateOperators)}
            with self.lock:
                self.progress.append(("rollup" if p.stateOperators else "dedup", rec))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated += 1

        def drain(self, queries: int, timeout_s: float = 10.0) -> list[tuple[str, dict]]:
            """Wait until ``queries`` terminations arrived, then hand over and
            clear the recorded progress."""
            end = time.monotonic() + timeout_s
            while time.monotonic() < end:
                with self.lock:
                    if self.terminated >= queries:
                        break
                time.sleep(0.02)
            with self.lock:
                out, self.progress, self.terminated = self.progress, [], 0
            return out

    return ProgressRecorder()


def stream_layers(progress: list[tuple[str, dict]]) -> dict:
    """Median per-batch phase times, and the batches and input rows of one
    drain."""
    out: dict[str, float] = {}
    for q in ("dedup", "rollup"):
        recs = [r for tag, r in progress if tag == q]
        for key, name in _DURATIONS.items():
            out[f"stream.{q}.{name}"] = (statistics.median(
                [float(r["durations"].get(key, 0)) for r in recs]) if recs else 0.0)
        out[f"stream.{q}.batches"] = len(recs)
        out[f"stream.{q}.input_rows"] = sum(r["rows"] for r in recs)
    rollup = [r for tag, r in progress if tag == "rollup"]
    out["stream.rollup.state_rows"] = max((r["state_rows"] for r in rollup), default=0)
    out["stream.rollup.state_bytes"] = max((r["state_bytes"] for r in rollup), default=0)
    return out


def claims_layers(out_root: str) -> dict:
    """Size of the report-join claims table (``_first_seen``) after a drain,
    and how many claim files its batches read in total: batch k reads every
    file of the batches before it."""
    root = os.path.join(out_root, "_first_seen")
    per_batch = []
    total_bytes = 0
    for d in os.listdir(root) if os.path.isdir(root) else []:
        if not d.startswith("batch_id="):
            continue
        files = [f for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet")]
        total_bytes += sum(os.path.getsize(os.path.join(root, d, f)) for f in files)
        per_batch.append((int(d.split("=", 1)[1]), len(files)))
    per_batch.sort()
    counts = [n for _, n in per_batch]
    scanned = sum(sum(counts[:k]) for k in range(len(counts)))
    return {"stream.claims_files": float(sum(counts)),
            "stream.claims_bytes": float(total_bytes),
            "stream.claims_scan_files": float(scanned)}


# -- store --------------------------------------------------------------------

class StoreTracer:
    """Timing wrappers around public ``RollupStore`` methods, installed on
    the class for the traced run and removed afterwards. Only the lineage
    read needs one: ``write_tier`` reports its own phases."""

    METHODS = ("completed_buckets",)

    def __init__(self):
        self.calls: dict[str, list[float]] = defaultdict(list)
        self._saved: dict[str, object] = {}

    def install(self) -> None:
        from ezmsg_sigproc_spark.plans.rollup_tiers import RollupStore

        for name in self.METHODS:
            orig = getattr(RollupStore, name)
            self._saved[name] = orig

            def wrapper(*a, _orig=orig, _name=name, **kw):
                t0 = time.perf_counter()
                try:
                    return _orig(*a, **kw)
                finally:
                    self.calls[_name].append(time.perf_counter() - t0)

            setattr(RollupStore, name, wrapper)

    def remove(self) -> None:
        from ezmsg_sigproc_spark.plans.rollup_tiers import RollupStore

        for name, orig in self._saved.items():
            setattr(RollupStore, name, orig)
        self._saved.clear()


# -- kernels ------------------------------------------------------------------

def _best_ns(fn, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter_ns()
        fn()
        best = min(best, time.perf_counter_ns() - t0)
    return float(best)


def time_gorilla(series: dict) -> dict:
    """ns per point of the public Gorilla encode and verify kernels, run
    standalone on the workload's own 1m mean series, laid out as the engine
    lays them out: one block per (url, day)."""
    from ezmsg_sigproc_spark.operators.compression import (
        encode_timestamp_blocks,
        encode_value_blocks,
        verify_blocks,
    )

    ts_parts, val_parts, lens = [], [], []
    for t, v in series.values():
        day = t // 86400
        cuts = np.flatnonzero(np.diff(day)) + 1
        for seg_t, seg_v in zip(np.split(t, cuts), np.split(v, cuts)):
            ts_parts.append(seg_t * 1_000_000)
            val_parts.append(seg_v)
            lens.append(seg_t.size)
    ts = np.concatenate(ts_parts)
    vals = np.concatenate(val_parts)
    starts = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
    n = ts.size
    out = {}
    tb = encode_timestamp_blocks(ts, starts)
    vb = encode_value_blocks(vals, starts)
    out["kernel.gorilla_encode_ns_pt"] = _best_ns(
        lambda: (encode_timestamp_blocks(ts, starts), encode_value_blocks(vals, starts))) / n
    vps = np.diff(starts)
    out["kernel.gorilla_verify_ns_pt"] = _best_ns(
        lambda: verify_blocks(tb, vb, ts, vals, starts, vps)) / n
    return out
