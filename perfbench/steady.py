"""Steadiness mode and tracing-overhead report.

    python3 perfbench/steady.py --runs 10 --sets 2
    python3 perfbench/steady.py --runs 2 --sets 2 --size smoke --seconds 1
    python3 perfbench/steady.py --overhead --runs 3

Runs ``perfbench/run.py`` as a separate process per run, for every workload
of ``BENCHMARK.json`` (or ``--workloads``), in ``--sets`` sets of ``--runs``
runs. Every run gets its own seed. Runs are interleaved across workloads so
that a slow spell of the host spreads over all of them.

For each end-to-end metric it prints, per set, the median and the spread (the
distance between the first and third quartile as a share of the median), then
the bound from ``BENCHMARK.json`` and the drift of the last set's median from
the first set's in the metric's worse direction. A metric is ``ok`` when
every spread stays within its bound and no drift exceeds the bound;
``steady`` when spreads also stay below a third of the bound. The spread
of ``setup_s`` is printed but not judged, since a run sets up only once and
the host's load moves it; its drift is judged. Seeds run from
``FIRST_SEED`` upwards, one per run.

``--overhead`` adds one traced run per seed and workload and reports how much
lower the traced ``trace.rows_per_cpu_s`` is than the untraced
``rows_per_cpu_s`` of the same seed: the CPU cost of tracing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIRST_SEED = 1000


def one_run(workload: str, seed: int, seconds: float, trace: int, size: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--size", size]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def drift(first: float, last: float, better: str) -> float:
    """How much worse ``last`` is than ``first``, as a share of ``first``."""
    if not first:
        return 0.0
    worse = (last - first) if better == "lower" else (first - last)
    return worse / first


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--size", default="host", choices=("host", "smoke"))
    ap.add_argument("--overhead", action="store_true",
                    help="also make one traced run per seed and report its cost")
    args = ap.parse_args(argv)
    workloads = args.workloads.split(",")
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    results: dict = {w: [[] for _ in range(args.sets)] for w in workloads}
    traced: dict = {w: [] for w in workloads}
    seed = FIRST_SEED
    failed_runs = 0
    for s in range(args.sets):
        for _ in range(args.runs):
            for w in workloads:
                r = one_run(w, seed, args.seconds, 0, args.size)
                failed_runs += r["failed"] > 0
                results[w][s].append((seed, r))
                print(f"set {s + 1} {w} seed {seed}: correct={r['correct']} "
                      f"attempted={r['attempted']} " + " ".join(
                          f"{k}={v['value']:.5g}" for k, v in r["metrics"].items()),
                      flush=True)
                if args.overhead and s == 0:
                    traced[w].append((seed, r, one_run(w, seed, args.seconds, 1, args.size)))
            seed += 1

    ok = failed_runs == 0
    print(f"\n{'workload':9} {'metric':15} " + " ".join(
        f"{'median' + str(i + 1):>11} {'spread' + str(i + 1):>8}" for i in range(args.sets))
        + f" {'bound':>6} {'drift':>7}  verdict")
    for w in workloads:
        for name, m in metrics.items():
            sets = [[r["metrics"][name]["value"] for _, r in runs] for runs in results[w]]
            meds = [statistics.median(v) for v in sets]
            spreads = [spread(v) if len(v) >= 2 else 0.0 for v in sets]
            d = drift(meds[0], meds[-1], m["better"])
            bound = m["bound"]
            judged = [] if name == "setup_s" else spreads
            worst = max(judged, default=0.0)
            verdict = ("FAIL" if worst > bound or d > bound
                       else "steady" if judged and worst < bound / 3 else "ok")
            ok &= verdict != "FAIL"
            print(f"{w:9} {name:15} " + " ".join(
                f"{md:11.5g} {sp:8.3f}" for md, sp in zip(meds, spreads))
                + f" {bound:6.2f} {d:7.3f}  {verdict}")
    if args.overhead:
        print("\ntracing overhead (untraced rows_per_cpu_s / traced - 1, same seed):")
        for w in workloads:
            gaps = [r["metrics"]["rows_per_cpu_s"]["value"]
                    / t["metrics"]["trace.rows_per_cpu_s"]["value"] - 1 for _, r, t in traced[w]]
            print(f"{w:9} median {statistics.median(gaps):+.3f} over {len(gaps)} seeds")
    print(f"\n{'WITHIN BOUNDS' if ok else 'OUT OF BOUNDS'}; runs with wrong outputs: {failed_runs}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
