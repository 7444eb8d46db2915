"""Fast tests of the benchmark's own pieces that need no Spark session."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402
import steady  # noqa: E402
from workloads import Op  # noqa: E402


def _bytes_of(d: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(d):
        for f in files:
            with open(os.path.join(dirpath, f), "rb") as fh:
                out[os.path.relpath(os.path.join(dirpath, f), d)] = fh.read()
    return out


@pytest.mark.parametrize("kind", ["pages", "ingest"])
def test_generator_is_a_function_of_seed_and_size(tmp_path, kind):
    a, _ = gen.generate(str(tmp_path / "a"), kind, 5, "smoke")
    b, _ = gen.generate(str(tmp_path / "b"), kind, 5, "smoke")
    c, _ = gen.generate(str(tmp_path / "c"), kind, 6, "smoke")
    assert _bytes_of(a) == _bytes_of(b)
    assert _bytes_of(a) != _bytes_of(c)


def test_ingest_backlog_has_the_planned_duplicates_and_late_rows(tmp_path):
    d, info = gen.generate(str(tmp_path), "ingest", 3, "smoke")
    files = sorted(os.listdir(os.path.join(d, "src")))
    assert len(files) == gen.SIZES["smoke"]["ingest"]["files"]
    docs, distinct, ids = duckdb.sql(
        f"select count(*), count(distinct html), count(distinct (url, warc_ts)) "
        f"from read_parquet('{d}/src/*.parquet')").fetchone()
    assert docs == info["rows"] and ids == docs  # the engine's doc id is unique
    assert docs - distinct == info["dup_rows"] > 0
    assert info["late_rows"] > 0
    # some duplicates cross files: their html appears in two files
    cross = duckdb.sql(f"""
        select count(*) from (
          select html, min(filename) as f0, max(filename) as f1
          from read_parquet('{d}/src/*.parquet', filename = true) group by html)
        where f0 <> f1""").fetchone()[0]
    assert cross > 0


def test_pages_span_the_configured_days(tmp_path):
    d, info = gen.generate(str(tmp_path), "pages", 1, "smoke")
    lo, hi, n = duckdb.sql(
        f"select min(epoch(warc_ts)), max(epoch(warc_ts)), count(*) "
        f"from read_parquet('{d}/pages.parquet')").fetchone()
    assert info["t0"] <= lo and hi < info["t1"] and n == info["rows"]
    assert hi - lo > 0.9 * (info["t1"] - info["t0"])


def test_tail_has_ten_samples_beyond_it():
    assert harness.tail(list(range(19))) is None
    for n in (20, 35, 100, 1000):
        xs = [float(i) for i in range(n)]
        p, v = harness.tail(xs)
        assert sum(x > v for x in xs) >= 10
        assert p >= 50


def test_spread_and_drift_follow_the_contract():
    vals = [float(i) for i in range(1, 11)]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert steady.spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert steady.drift(100.0, 110.0, "lower") == pytest.approx(0.10)
    assert steady.drift(100.0, 110.0, "higher") == pytest.approx(-0.10)


def test_throughput_is_per_cpu_second():
    ops = [Op(2.0, 100, cpu_s=4.0, steal_s=1.0), Op(1.0, 100, cpu_s=5.0)]
    f = run.figures(ops)
    assert f["rows_per_cpu_s"] == pytest.approx((100 / 4 + 100 / 5) / 2)
    assert f["wall.rows_per_s"] == pytest.approx((100 / 2 + 100 / 1) / 2)
    assert f["host.steal_share"] == pytest.approx(1 / 10)


def test_cpu_time_counts_the_busy_child():
    child = subprocess.Popen([sys.executable, "-c", "while True: pass"])
    try:
        c0, s0 = harness.cpu_s(child.pid), harness.steal_s()
        time.sleep(0.5)  # this process idles; only the child burns CPU
        assert harness.cpu_s(child.pid) - c0 > 0.1
        assert harness.steal_s() >= s0
    finally:
        child.kill()
        child.wait()


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, a run exits non-zero
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "backfill",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
