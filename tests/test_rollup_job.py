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

    # a resumed run that writes no 1m bucket keeps the blobs it finds: no
    # re-encode of the retained hours only
    m3 = run(spark, pages, out, compress_1m=blobs, retain_1m_hours=2)
    assert m3["write_1m"]["buckets_written"] == 0
    assert m3["compress_1m"] == m1["compress_1m"]


def test_rollup_job_encodes_hours_committed_by_an_interrupted_run(
        spark, tmp_path, monkeypatch):
    """A run that commits new 1m hours and dies before its encode leaves the
    earlier blocks on disk. The resumed run writes no 1m bucket, and must
    still encode the new hours."""
    from pyspark.sql import functions as F

    pages = generate_pages(spark, n_urls=20, samples_per_url=4000)
    ts = F.col("warc_ts").cast("double")
    first_hour_end = (int(pages.agg(F.min(ts)).first()[0]) // 3600 + 1) * 3600
    out, blobs = str(tmp_path / "lake"), str(tmp_path / "blobs")
    m1 = run(spark, pages.where(ts < first_hour_end), out, compress_1m=blobs)
    assert m1["write_1m"]["buckets_written"] == 1

    write_tier = RollupStore.write_tier

    def die_after_1m(self, tier, rollup):
        if tier == "1h":
            raise RuntimeError("killed after the 1m commit")
        return write_tier(self, tier, rollup)

    monkeypatch.setattr(RollupStore, "write_tier", die_after_1m)
    with pytest.raises(RuntimeError, match="killed"):
        run(spark, pages, out, compress_1m=blobs)
    monkeypatch.setattr(RollupStore, "write_tier", write_tier)

    m3 = run(spark, pages, out, compress_1m=blobs)
    assert m3["write_1m"]["buckets_written"] == 0
    assert m3["compress_1m"]["roundtrip_ok"]
    assert m3["compress_1m"]["points"] == m3["rows_1m"]
    assert m3["compress_1m"]["points"] > m1["compress_1m"]["points"]


def test_rollup_job_rejects_retention_below_one_hour(spark, tmp_path):
    """``retain_1m_hours=0`` once took ``done[-0] == done[0]`` as the cutoff
    and silently kept every bucket."""
    out = str(tmp_path / "lake")
    with pytest.raises(ValueError, match="retain_1m_hours"):
        run(spark, generate_pages(spark, n_urls=2, samples_per_url=10), out,
            retain_1m_hours=0)
    assert not os.path.exists(out)


def test_rollup_job_keeps_blocks_of_expired_hours(spark, tmp_path):
    """A run that commits new 1m hours encodes only the days holding them:
    the blocks of the hours earlier runs retired stay on disk."""
    from pyspark.sql import functions as F

    pages = generate_pages(spark, n_urls=20, samples_per_url=4000)
    out, blobs = str(tmp_path / "lake"), str(tmp_path / "blobs")

    def days():
        return {d: sorted((f, os.stat(os.path.join(blobs, d, f)).st_mtime_ns)
                          for f in os.listdir(os.path.join(blobs, d)))
                for d in os.listdir(blobs) if d.startswith("bucket=")}

    def points():
        return {r.bucket: r.np for r in spark.read.parquet(blobs).groupBy("bucket")
                .agg(F.sum("n_points").alias("np")).collect()}

    m1 = run(spark, pages, out, compress_1m=blobs, retain_1m_hours=2)
    assert len(m1["retention_dropped_1m"]) > 0
    days1, points1 = days(), points()
    assert len(days1) == 1 and sum(points1.values()) == m1["rows_1m"]

    next_day = pages.withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
    m2 = run(spark, next_day, out, compress_1m=blobs, retain_1m_hours=2)
    assert m2["write_1m"]["buckets_written"] == m1["write_1m"]["buckets_written"]
    days2, points2 = days(), points()
    assert set(days2) == set(days1) | {f"bucket={b + 1}" for b in points1}
    for d, files in days1.items():  # the earlier day is not re-encoded
        assert days2[d] == files
    assert points2 == {**points1, **{b + 1: n for b, n in points1.items()}}
    assert m2["compress_1m"]["points"] == m1["rows_1m"] + m2["rows_1m"]
    assert m2["compress_1m"]["roundtrip_ok"]
