"""The rollup job's programmatic entry point (jobs/rollup_job.run): tiers
into a store, Gorilla compaction of the 1m tier, retention, and lineage
resume on a second run."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from rollup_job import run  # noqa: E402

from ezmsg_sigproc_spark.plans.rollup_tiers import RollupStore  # noqa: E402
from ezmsg_sigproc_spark.sources.pages import generate_pages  # noqa: E402


def test_rollup_job_compress_retain_and_resume(spark, tmp_path):
    # the span of test_store_resume_and_retention: several 1m hour buckets
    pages = generate_pages(spark, n_urls=20, samples_per_url=4000)
    out, blobs = str(tmp_path / "lake"), str(tmp_path / "blobs")
    m1 = run(spark, pages, out, compress_1m=blobs, retain_1m_hours=2)
    assert m1["compress_1m"]["roundtrip_ok"]
    assert m1["compress_1m"]["points"] == m1["rows_1m"]
    committed = sorted(RollupStore(spark, out).completed_buckets("1m"))
    assert len(committed) > 2
    left = sorted(int(d.split("=", 1)[1])
                  for d in os.listdir(os.path.join(out, "tier=1m")))
    assert left == committed[-2:]
    assert sorted(m1["retention_dropped_1m"]) == committed[:-2]

    m2 = run(spark, pages, out)
    for tier in ("1m", "1h", "1d"):
        assert m2[f"write_{tier}"]["buckets_written"] == 0
        assert (m2[f"write_{tier}"]["buckets_skipped"]
                == m1[f"write_{tier}"]["buckets_written"])


def test_rollup_job_rejects_retention_below_one_hour(spark, tmp_path):
    """``retain_1m_hours=0`` once took ``done[-0] == done[0]`` as the cutoff
    and silently kept every bucket."""
    out = str(tmp_path / "lake")
    with pytest.raises(ValueError, match="retain_1m_hours"):
        run(spark, generate_pages(spark, n_urls=2, samples_per_url=10), out,
            retain_1m_hours=0)
    assert not os.path.exists(out)
