"""Both jobs run as plain ``python jobs/<job>.py …`` from a directory outside
the checkout with PYTHONPATH unset: the driver finds the engine through the
job's own path insert, and the Python workers the JVM starts must find it
too, or every pandas/Arrow stage fails with ModuleNotFoundError."""

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_job(job: str, args: list[str], cwd: str) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET")}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "jobs", job), "--cores", "2", *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    return json.loads(lines[-1])


def test_rollup_job_cli_outside_checkout(tmp_path):
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    m = _run_job("rollup_job.py", [
        "--out", str(tmp_path / "lake"), "--compress-1m", str(tmp_path / "blobs"),
        "--synthesize-urls", "4", "--synthesize-samples", "300"], str(cwd))
    assert m["compress_1m"]["roundtrip_ok"]
    assert m["compress_1m"]["points"] == m["rows_1m"]


def test_stream_ingest_job_cli_outside_checkout(tmp_path):
    cwd, src = tmp_path / "cwd", tmp_path / "src"
    cwd.mkdir()
    src.mkdir()
    t0 = 1_600_000_000
    rows = [("a.com/x", t0 + 10, "<html>A</html>"),
            ("a.com/x", t0 + 11, "<html>A</html>"),
            ("b.org/y", t0 + 20, "<html>B</html>"),
            ("a.com/x", t0 + 400, "<html>window closer</html>")]
    pq.write_table(pa.table({
        "url": [u for u, _, _ in rows],
        "warc_ts": pa.array([t * 1_000_000 for _, t, _ in rows],
                            pa.timestamp("us", tz="UTC")),
        "html": [h.encode() for _, _, h in rows],
        "text": [f"text of {u}" for u, _, _ in rows],
        "lang": ["en"] * len(rows),
    }), str(src / "part-0.parquet"))
    m = _run_job("stream_ingest_job.py", [
        "--source", str(src), "--out", str(tmp_path / "lake")], str(cwd))
    assert m["dedup"]["docs"] == 4
    assert m["dedup"]["dups"] == 1
    assert m["rollup_blobs"]["roundtrip_ok"]
