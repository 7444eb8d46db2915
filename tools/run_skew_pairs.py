"""The scaling gates: the same job at local[N] and local[4N], in pairs.

Pre-registered protocol, identical for both probes (no run is discarded):
  1. ``--pairs`` interleaved (N, 4N) pairs in ABBA order —
     (N,4N),(4N,N),(N,4N),… — so a monotone host drift biases adjacent
     pairs in opposite directions; every run is a fresh JVM
     (``tools/bench_scaling_worker.py``);
  2. inside each run every phase is timed ``--repeats`` times and the
     per-phase minimum taken;
  3. per pair, efficiency = (4N rows/s) / (4 × N rows/s) from the pair's
     phase-sum walls;
  4. the gate number is the median over pairs, criterion >= 0.8.

``--probe uniform`` (the worker's default job: tiered rollup, EWMA and
Gorilla encode/decode over the 1m tier) is judged on the raw median.
``--probe skew`` (``--skew-only``: one hot url carries ~40 % of rows through
the salted two-stage mitigation, fused with the parquet scan) is judged on
efficiency_scan_adjusted: the median over pairs of raw_pair_eff /
scan_envelope_pair_eff, where each worker times its own raw scan envelope in
the same JVM; the raw fused medians are reported unadjusted alongside.

Usage:
    python tools/run_skew_pairs.py --pages PAGES.parquet --out OUT.json \
        [--pairs 3] [--n 2] [--repeats 2] [--probe skew|uniform]

When ``--pages`` does not exist, the probe input is generated there first:
``PROBE_URLS`` × ``PROBE_SAMPLES`` synthetic pages (~97M rows). Smaller
inputs finish in seconds at 4N cores, where the ~0.5 s per-job scheduling
floor dominates the ratio; at this size every phase stays >= 10× that floor
at 4N on 8 cores.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PROBE_URLS = 108_000
PROBE_SAMPLES = 1000


def write_probe_input(path: str) -> None:
    """Generate the probe's pages table at ``path``, in a JVM that is shut
    down again before the pair runs start."""
    from ezmsg_sigproc_spark.session import get_spark
    from ezmsg_sigproc_spark.sources.pages import generate_pages
    from perfbench import harness

    cores = harness.host_cores()
    spark = get_spark(app_name="probe_input", cores=cores)
    try:
        generate_pages(spark, n_urls=PROBE_URLS, samples_per_url=PROBE_SAMPLES,
                       partitions=cores * 3).write.mode("overwrite").parquet(path)
        spark.stop()
    finally:
        harness.shutdown_jvm()


def worker_run(cmd: list[str], timeout: int) -> dict:
    t0 = time.monotonic()
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              timeout=timeout)
    except subprocess.TimeoutExpired:
        return {"error": f"timeout>{timeout}s", "cmd": " ".join(cmd[2:])}
    lines = [ln for ln in proc.stdout.strip().splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        return {"error": f"rc={proc.returncode}",
                "stderr_tail": proc.stderr[-500:],
                "wall": round(time.monotonic() - t0, 1)}
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return {"error": "unparseable output", "stdout_tail": lines[-1][:500]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--n", type=int, default=2, help="low parallelism N")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--timeout", type=int, default=1800)
    ap.add_argument("--probe", choices=("skew", "uniform"), default="skew")
    args = ap.parse_args()

    if not os.path.exists(args.pages):
        write_probe_input(args.pages)
    worker = os.path.join(ROOT, "tools", "bench_scaling_worker.py")
    lo_c, hi_c = args.n, args.n * 4
    runs: dict[int, list[dict]] = {lo_c: [], hi_c: []}
    for i in range(args.pairs):
        order = (lo_c, hi_c) if i % 2 == 0 else (hi_c, lo_c)
        for cores in order:
            r = worker_run(
                [sys.executable, worker, "--cores", str(cores),
                 "--pages", args.pages, "--repeats", str(args.repeats)]
                + (["--skew-only"] if args.probe == "skew" else []),
                timeout=args.timeout)
            runs[cores].append(r)
            print(json.dumps({"pair": i, "cores": cores,
                              "elapsed": r.get("elapsed"),
                              "scan_extract_sec": r.get("scan_extract_sec"),
                              "error": r.get("error")}), file=sys.stderr)

    raw_effs, scan_effs, adj_effs, sub_effs = [], [], [], []
    for lo, hi in zip(runs[lo_c], runs[hi_c]):
        if "error" in lo or "error" in hi:
            continue
        raw = (lo["elapsed"] / hi["elapsed"]) / 4.0
        raw_effs.append(round(raw, 3))
        slo, shi = lo.get("scan_extract_sec"), hi.get("scan_extract_sec")
        if slo and shi:
            scan = (slo / shi) / 4.0
            scan_effs.append(round(scan, 3))
            adj_effs.append(round(raw / scan, 3))
            # diagnostic: mitigation compute with the scan wall subtracted
            # out of both levels (noisy when the 4N remainder is small)
            if hi["elapsed"] - shi > 1.0 and lo["elapsed"] - slo > 1.0:
                sub_effs.append(round(
                    ((lo["elapsed"] - slo) / (hi["elapsed"] - shi)) / 4.0, 3))

    def med(xs: list[float]) -> float | None:
        # true midpoint median: sorted[len//2] is the UPPER middle for
        # even-length lists, which biases the gate number upward after
        # error-pair filtering
        return round(statistics.median(xs), 3) if xs else None

    out = {
        "probe": args.probe,
        "protocol": (f"{args.pairs} interleaved (N,4N)=({lo_c},{hi_c}) "
                     f"fresh-JVM pairs, ABBA order, repeats={args.repeats} "
                     "per worker, "
                     + ("--skew-only construction" if args.probe == "skew"
                        else "uniform probe (worker default)")),
        "gate_construction": (
            "committed skewed number = efficiency_scan_adjusted = median "
            "over pairs of raw_pair_eff / scan_envelope_pair_eff (same-JVM "
            "raw-scan calibration); criterion >= 0.8; raw fused medians "
            "reported unadjusted alongside" if args.probe == "skew" else
            "uniform gate = raw median of pair efficiencies; criterion >= 0.8"),
        "pages": args.pages,
        "runs": {f"n{c}": rr for c, rr in runs.items()},
        "efficiency_pairs": raw_effs,
        "efficiency_raw": med(raw_effs),
        "scan_envelope_pairs": scan_effs,
        "efficiency_scan_adjusted_pairs": adj_effs,
        "efficiency_scan_adjusted": med(adj_effs),
        "efficiency_scan_subtracted_pairs_diagnostic": sub_effs,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps({k: out[k] for k in (
        "efficiency_raw", "efficiency_pairs", "scan_envelope_pairs",
        "efficiency_scan_adjusted_pairs", "efficiency_scan_adjusted")}))


if __name__ == "__main__":
    main()
