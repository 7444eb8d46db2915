"""Stress-loop for the concurrent-writer commit-safety test (VERDICT r5
item 6): the round-5 builder notes recorded ONE unexplained full-suite
failure of tests/test_rollup_pipeline.py::test_concurrent_writers_and_read_
mid_write; a concurrency test that fails 1-in-N is a real race until proven
otherwise. This runs the SAME test function N times (default 50) in one
Spark session (fresh lake dir per iteration) and reports pass/fail counts —
one JVM, so 50 iterations cost minutes, not an hour of pytest re-spawns.

Usage: python tools/stress_concurrent_writers.py [N]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50

    from test_rollup_pipeline import test_concurrent_writers_and_read_mid_write

    from ezmsg_sigproc_spark.session import get_spark
    from ezmsg_sigproc_spark.sources.pages import generate_pages

    spark = get_spark(app_name="stress_writers", cores=8,
                      shuffle_partitions=8)
    pages = generate_pages(spark, n_urls=60, samples_per_url=200).cache()
    pages.count()

    fails = []
    t0 = time.monotonic()
    for i in range(n):
        tmp = Path(tempfile.mkdtemp(prefix=f"stress_ccw_{i}_"))
        try:
            test_concurrent_writers_and_read_mid_write(spark, pages, tmp)
        except Exception:
            fails.append({"iter": i, "tb": traceback.format_exc()[-2000:]})
            print(f"iter {i}: FAIL", file=sys.stderr)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        if (i + 1) % 10 == 0:
            print(f"iter {i + 1}/{n}: {len(fails)} failures so far",
                  file=sys.stderr)
    out = {"iterations": n, "failures": len(fails),
           "elapsed_sec": round(time.monotonic() - t0, 1),
           "fail_detail": fails[:3]}
    print(json.dumps(out))
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
