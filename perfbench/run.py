"""Benchmark of the rollup engine: one workload per run.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout of the repository. It generates its inputs
from ``--seed``, sets up (session start, input generation or load, one
untimed warm-up pass: ``setup_s``), repeats the workload's
operation for ``--seconds`` seconds, checks every operation's output against
DuckDB, and prints one line per metric followed by one JSON line. With
``--trace 1`` the run records the Spark event log, wraps the store's public
methods and times the Gorilla kernels standalone, and the JSON holds the
per-layer metrics instead of the end-to-end ones.

Exit codes: 0 on a completed run (even with wrong outputs: they are counted
in ``failed``), 2 when the checkout does not hold the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WORKLOAD_NAMES = ("backfill", "ingest")

END_TO_END = {
    "setup_s": "s",
    "rows_per_cpu_s": "rows/cpu-s",
}

# per-layer metric → unit; values are per operation unless the name says
# otherwise (a rate, a ratio, or a median per batch or per call)
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "scan.time_ms": "ms", "scan.bytes": "B", "scan.files": "count",
    "exchange.write_bytes": "B", "exchange.read_bytes": "B",
    "aggregate.time_ms": "ms", "sort.time_ms": "ms", "spill.bytes": "B",
    "gc.time_ms": "ms", "task.skew": "ratio", "stage.count": "count",
    "store.write_s.1m": "s", "store.write_s.1h": "s", "store.write_s.1d": "s",
    "store.commit_s.1m": "s", "store.commit_s.1h": "s", "store.commit_s.1d": "s",
    "store.buckets": "count", "store.files": "count",
    "store.lineage_reads": "count", "store.lineage_ms": "ms",
    "python.tasks": "count", "python.boot_ms": "ms", "python.init_ms": "ms",
    "python.total_ms": "ms", "python.sent_bytes": "B",
    "python.received_bytes": "B", "python.rows": "count",
    "kernel.gorilla_encode_ns_pt": "ns", "kernel.gorilla_verify_ns_pt": "ns",
    "kernel.share": "ratio",
    **{f"stream.{q}.{m}": u for q in ("dedup", "rollup") for m, u in (
        ("add_batch_ms", "ms"), ("get_batch_ms", "ms"), ("latest_offset_ms", "ms"),
        ("query_planning_ms", "ms"), ("wal_commit_ms", "ms"), ("commit_ms", "ms"),
        ("batches", "count"), ("input_rows", "count"))},
    "stream.rollup.state_rows": "count", "stream.rollup.state_bytes": "B",
    "stream.claims_files": "count", "stream.claims_bytes": "B",
    "stream.claims_scan_files": "count",
    "mem.jvm_peak_rss_mb": "MB", "mem.jvm_heap_used_mb": "MB",
    "mem.python_workers_mb": "MB",
    "wall.rows_per_s": "rows/s", "wall.latency_p50_ms": "ms",
    "host.steal_share": "ratio",
    "trace.rows_per_cpu_s": "rows/cpu-s",
}

# event-log totals reported per operation (task.skew is a ratio already)
_PER_OP = ("scan.", "exchange.", "aggregate.", "sort.", "spill.", "gc.",
           "stage.", "python.")


def run(st: harness.Settings) -> dict:
    """One benchmark run; returns everything there is to print."""
    import tracing
    from workloads import WORKLOADS

    harness.prepare_env(st)
    wl = WORKLOADS[st.workload](st)
    tracer = tracing.StoreTracer() if st.trace else None
    workers = None
    ops = []
    try:
        t0 = time.monotonic()
        spark = harness.start_session(st, event_log=st.trace)
        t1 = time.monotonic()
        jvm = harness.jvm_pid(spark)
        if st.trace:
            workers = harness.WorkerMemory(jvm)
        wl.begin(spark)
        wl.inputs()
        t2 = time.monotonic()
        wl.warmup()
        t3 = time.monotonic()
        setup = {"start": t1 - t0, "load": t2 - t1, "warmup": t3 - t2, "total": t3 - t0}
        if tracer:
            tracer.install()
        w0, m0 = time.time() * 1000, time.monotonic()
        while True:
            c0, s0 = harness.cpu_s(jvm), harness.steal_s()
            o = wl.op()
            o.cpu_s, o.steal_s = harness.cpu_s(jvm) - c0, harness.steal_s() - s0
            ops.append(o)
            if time.monotonic() - m0 >= st.seconds:
                break
        w1 = time.time() * 1000
        if tracer:
            tracer.remove()
        fails = wl.check(ops)
        for o in ops:
            wl.discard(o)
        heap_mb = harness.jvm_heap_peak_mb(spark) if st.trace else 0.0
        rss_mb = harness.peak_rss_mb(jvm)
        wl.end()
        spark.stop()
    finally:
        if workers:
            workers.close()
        harness.shutdown_jvm()
    out = {"settings": st.describe(), "setup": setup, "ops": ops, "fails": fails,
           "peak_rss_mb": rss_mb, "extras": wl.extras(ops)}
    if st.trace:
        out["layers"] = layers(st, wl, ops, setup, tracer, rss_mb, heap_mb,
                               workers.peak_mb, w0, w1)
    return out


def layers(st, wl, ops, setup, tracer, rss_mb, heap_mb, workers_mb, w0, w1) -> dict:
    import tracing

    n = len(ops)
    L = {name: 0.0 for name in PER_LAYER}
    L["session.start_s"] = setup["start"]
    L["session.warmup_s"] = setup["warmup"]
    log = tracing.latest_event_log(st.path("eventlog"))
    ev = tracing.parse_event_log(log, w0, w1) if log else {}
    for k, v in ev.items():
        L[k] = v / n if k.startswith(_PER_OP) else v
    for k in {k for o in ops for k in o.layers}:
        L[k] = statistics.median(o.layers.get(k, 0.0) for o in ops)
    completed = tracer.calls.get("completed_buckets", [])
    L["store.lineage_reads"] = len(completed) / n
    L["store.lineage_ms"] = 1e3 * sum(completed) / n
    L.update(tracing.time_gorilla(wl.series_for_kernels()))
    ns_pt = L["kernel.gorilla_encode_ns_pt"] + L["kernel.gorilla_verify_ns_pt"]
    kernel_ns = ns_pt * sum(wl.gorilla_points(o) for o in ops) / n
    if L["python.total_ms"] > 0:
        L["kernel.share"] = kernel_ns / (L["python.total_ms"] * 1e6)
    L["mem.jvm_peak_rss_mb"] = rss_mb
    L["mem.jvm_heap_used_mb"] = heap_mb
    L["mem.python_workers_mb"] = workers_mb
    f = figures(ops)
    for k in ("wall.rows_per_s", "wall.latency_p50_ms", "host.steal_share"):
        L[k] = f[k]
    L["trace.rows_per_cpu_s"] = f["rows_per_cpu_s"]
    return L


def figures(ops: list) -> dict:
    """Throughput and latency of a run's operations: medians over the
    operations, so one slow pass moves no figure, and the steal share of
    all of them together.

    ``rows_per_cpu_s`` divides by the CPU time of the driver, the JVM and the
    Python workers, not by wall time: on a shared host the hypervisor takes
    the vCPUs away for a share of the time (``host.steal_share``) that
    changes from minute to minute with other tenants' load, and wall time
    moves with it while CPU time does not."""
    cpu = sum(o.cpu_s for o in ops)
    steal = sum(o.steal_s for o in ops)
    return {
        "rows_per_cpu_s": statistics.median(o.rows / o.cpu_s for o in ops),
        "wall.rows_per_s": statistics.median(o.rows / o.seconds for o in ops),
        "wall.latency_p50_ms": statistics.median(s for o in ops for s in o.samples_ms),
        "host.steal_share": steal / (cpu + steal),
    }


def summarize(st: harness.Settings, res: dict) -> tuple[list[str], dict]:
    """Printable lines and the final JSON object of a run."""
    ops, fails = res["ops"], res["fails"]
    secs = sum(o.seconds for o in ops)
    samples = [s for o in ops for s in o.samples_ms]
    failed = sum(1 for f in fails if f)
    fig = figures(ops)
    e2e = {"setup_s": res["setup"]["total"], "rows_per_cpu_s": fig["rows_per_cpu_s"]}
    lines = [f"settings {json.dumps(res['settings'], sort_keys=True)}",
             f"workload {st.workload} seed {st.seed}: {len(ops)} operations, "
             f"{len(samples)} latency samples, {secs:.2f} s measured"]
    lines.append("operation seconds: " + " ".join(f"{o.seconds:.3f}" for o in ops))
    lines.append("operation CPU seconds: " + " ".join(f"{o.cpu_s:.2f}" for o in ops))
    lines += [f"{k} = {v:.6g} {END_TO_END[k]}" for k, v in e2e.items()]
    if not st.trace:  # a traced run prints them with its per-layer metrics
        lines += [f"{k} = {fig[k]:.6g} {PER_LAYER[k]}"
                  for k in ("wall.rows_per_s", "wall.latency_p50_ms", "host.steal_share")]
    t = harness.tail(samples)
    if t:
        lines.append(f"latency_tail_ms = {t[1]:.6g} ms (p{t[0]}, {len(samples)} samples)")
    else:
        lines.append(f"latency_tail_ms: n/a ({len(samples)} samples; a tail needs 20)")
    lines.append(f"failed_frac = {failed / len(ops):.6g} ratio ({failed} of {len(ops)})")
    lines.append(f"jvm_peak_rss_mb = {res['peak_rss_mb']:.6g} MB")
    lines.append("setup (start, load, warm-up s): "
                 "({start:.2f}, {load:.2f}, {warmup:.2f})".format(**res["setup"]))
    for name, (v, unit) in res.get("extras", {}).items():
        lines.append(f"{name} = {v:.6g} {unit}")
    for i, f in enumerate(fails):
        for msg in f:
            lines.append(f"FAILED op {i}: {msg}")
    if st.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in res["layers"].items()}
        lines += [f"{k} = {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
        lines.append("tracing overhead: compare trace.rows_per_cpu_s with an untraced "
                     "run's rows_per_cpu_s (perfbench/steady.py --overhead)")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    return lines, {"correct": failed == 0, "attempted": len(ops), "failed": failed,
                   "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="host", choices=("host", "smoke"))
    args = ap.parse_args(argv)
    try:
        harness.require_engine()
    except harness.EngineMissing as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    st = harness.Settings(args.workload, args.seed, args.seconds, bool(args.trace),
                          size=args.size)
    try:
        res = run(st)
        lines, result = summarize(st, res)
    finally:
        shutil.rmtree(st.run_dir, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
