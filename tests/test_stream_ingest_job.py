"""End-to-end streaming ingest job (jobs/stream_ingest_job.py): dedup
report + watermarked rollup→Gorilla compaction off one watched directory,
checkpointed — a second invocation processes only NEW files and the dedup
state survives across invocations."""

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

from stream_ingest_job import PAGES_SCHEMA, run  # noqa: E402


def _pages(spark, src, name, rows):
    """rows: (url, epoch_s, html_str)"""
    pdf = pd.DataFrame(
        [(u, pd.Timestamp(t, unit="s"), h.encode(), f"text of {u}", "en")
         for u, t, h in rows],
        columns=["url", "warc_ts", "html", "text", "lang"])
    spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(os.path.join(src, name))


def test_stream_ingest_job_end_to_end_and_resume(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "lake")
    os.makedirs(src)
    t0 = 1_600_000_000

    # batch 1: two urls, a same-batch duplicate fetch, enough minutes that
    # the watermark closes at least one 1m window
    rows = [("a.com/x", t0 + 10, "<html>A</html>"),
            ("a.com/x", t0 + 11, "<html>A</html>"),   # same content, refetched
            ("a.com/x", t0 + 70, "<html>A2</html>"),
            ("b.org/y", t0 + 20, "<html>B</html>"),
            ("a.com/x", t0 + 400, "<html>late-window-closer</html>")]
    _pages(spark, src, "b1", rows)
    m1 = run(spark, src, out)
    assert m1["dedup"]["docs"] == 5
    assert m1["dedup"]["dups"] == 1
    assert m1["rollup_blobs"]["roundtrip_ok"]
    assert m1["rollup_blobs"]["points"] >= 2  # closed 1m windows so far
    blocks1 = m1["rollup_blobs"]["blocks"]

    # batch 2 (separate invocation = restart): a cross-RUN duplicate of the
    # first fetch, plus new signal that closes more windows
    rows2 = [("a.com/x", t0 + 12, "<html>A</html>"),  # dup of run-1 content
             ("b.org/y", t0 + 500, "<html>B5</html>"),
             ("b.org/y", t0 + 900, "<html>B9</html>")]
    _pages(spark, src, "b2", rows2)
    m2 = run(spark, src, out)
    # only the 3 new docs were processed on top of the 5 old ones
    assert m2["dedup"]["docs"] == 8
    assert m2["dedup"]["dups"] == 2, "cross-run dup must hit persisted state"
    assert m2["rollup_blobs"]["blocks"] > blocks1
    assert m2["rollup_blobs"]["roundtrip_ok"]

    # decoded blob points reproduce the closed windows' per-minute means
    from pyspark.sql import functions as F

    from ezmsg_sigproc_spark.operators.compression import gorilla_decode

    blobs = spark.read.parquet(os.path.join(out, "blobs"))
    decoded = gorilla_decode(blobs, key_cols=("url", "bucket")).toPandas()
    got = decoded[decoded.url == "a.com/x"].sort_values("ts")
    # window [t0, t0+60): two fetches len('<html>A</html>')=14 -> mean 14
    assert np.isclose(got.iloc[0]["value"], 14.0)
    assert got.iloc[0]["ts"] == (t0 // 60) * 60


def test_stream_ingest_drop_mode_filters_dups(spark, tmp_path):
    """dedup_mode='drop' (JVM dropDuplicates path): the clean sink keeps one
    row per distinct content, across micro-batches and invocations, with no
    Python stateful stage."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "lake")
    os.makedirs(src)
    t0 = 1_600_000_000
    _pages(spark, src, "b1", [("a.com/x", t0 + 10, "<html>A</html>"),
                              ("a.com/x", t0 + 11, "<html>A</html>"),
                              ("b.org/y", t0 + 20, "<html>B</html>")])
    m1 = run(spark, src, out, dedup_mode="drop")
    assert m1["dedup"]["survivors"] == 2  # one per distinct content
    # second invocation: a cross-run duplicate and a novel page
    _pages(spark, src, "b2", [("c.net/z", t0 + 30, "<html>A</html>"),
                              ("d.io/w", t0 + 40, "<html>D</html>")])
    m2 = run(spark, src, out, dedup_mode="drop")
    assert m2["dedup"]["survivors"] == 3, "cross-run dup must be dropped"
    clean = spark.read.parquet(os.path.join(out, "clean")).toPandas()
    assert set(clean["url"]) == {"a.com/x", "b.org/y", "d.io/w"}

def test_stream_ingest_report_join_parity_and_resume(spark, tmp_path):
    """dedup_mode='report-join' (foreachBatch first-seen join, no Python
    stage): verdict rows (id, is_dup, dup_of) are exactly the expected ones
    on a corpus with a same-batch dup, a cross-RUN dup and a re-arrival of
    an original, and a second invocation processes only new files
    (checkpoint resume, idempotent batch_id partitions)."""
    t0 = 1_600_000_000
    rows1 = [("a.com/x", t0 + 10, "<html>A</html>"),
             ("a.com/x", t0 + 11, "<html>A</html>"),   # same-batch dup
             ("b.org/y", t0 + 20, "<html>B</html>")]
    rows2 = [("c.net/z", t0 + 30, "<html>A</html>"),   # cross-run dup
             ("a.com/x", t0 + 10, "<html>A</html>"),   # re-arrival of original
             ("d.io/w", t0 + 40, "<html>D</html>")]
    src = str(tmp_path / "src")
    out = str(tmp_path / "lake")
    os.makedirs(src)
    _pages(spark, src, "b1", rows1)
    m1 = run(spark, src, out, dedup_mode="report-join")
    assert m1["dedup"]["docs"] == 3
    _pages(spark, src, "b2", rows2)
    m2 = run(spark, src, out, dedup_mode="report-join")
    assert m2["dedup"]["docs"] == 6

    def doc(url, t):
        return url + "#" + str(pd.Timestamp(t, unit="s"))

    a10 = doc("a.com/x", t0 + 10)
    want = pd.DataFrame([
        (a10, False, ""),
        (doc("a.com/x", t0 + 11), True, a10),
        (doc("b.org/y", t0 + 20), False, ""),
        (doc("c.net/z", t0 + 30), True, a10),
        (a10, False, ""),  # the original's re-arrival is not its own dup
        (doc("d.io/w", t0 + 40), False, ""),
    ], columns=["id", "is_dup", "dup_of"])
    rep = spark.read.parquet(os.path.join(out, "dedup")).toPandas()
    pd.testing.assert_frame_equal(
        rep[["id", "is_dup", "dup_of"]].sort_values(["id", "is_dup"])
        .reset_index(drop=True),
        want.sort_values(["id", "is_dup"]).reset_index(drop=True))


def test_stream_ingest_report_join_empty_first_batch(spark, tmp_path):
    """A zero-row source file makes report-join's FIRST micro-batch empty,
    so its first-seen partition holds no claims (at most a zero-row file);
    later batches must still assemble the prior claims around it and dedup
    across it."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "lake")
    os.makedirs(src)
    t0 = 1_600_000_000
    _pages(spark, src, "b0", [])  # zero-row file -> empty batch 0
    _pages(spark, src, "b1", [("a.com/x", t0 + 10, "<html>A</html>")])
    _pages(spark, src, "b2", [("c.net/z", t0 + 30, "<html>A</html>")])
    m = run(spark, src, out, dedup_mode="report-join",
            max_files_per_trigger=1)
    assert m["dedup"]["docs"] == 2
    assert m["dedup"]["dups"] == 1
    rep = spark.read.parquet(os.path.join(out, "dedup")).toPandas()
    dup = rep[rep["is_dup"]]
    assert list(dup["id"]) == ["c.net/z#" + str(pd.Timestamp(t0 + 30, unit="s"))]
    assert list(dup["dup_of"]) == ["a.com/x#" + str(pd.Timestamp(t0 + 10, unit="s"))]


def test_stream_ingest_report_ttl_out_of_order_files(spark, tmp_path):
    """TTL report with OUT-OF-ORDER warc_ts across source files: no page is
    ever dropped as late, so every page gets a verdict row even when a
    later file carries earlier event times."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "lake")
    os.makedirs(src)
    t0 = 1_600_000_000
    # maxFilesPerTrigger=1 forces one trigger per file; file "za" (sorted
    # after "b1") carries EARLIER event times than b1 — late input
    _pages(spark, src, "b1", [("a.com/x", t0 + 3600, "<html>A</html>")])
    _pages(spark, src, "za", [("b.org/y", t0 + 10, "<html>B</html>"),
                              ("c.net/z", t0 + 20, "<html>A</html>")])
    m = run(spark, src, out, ttl_hours=24.0, max_files_per_trigger=1)
    rep = spark.read.parquet(os.path.join(out, "dedup")).toPandas()
    assert m["dedup"]["docs"] == 3, f"late pages lost from the report: {rep}"
    ids = set(rep["id"])
    assert any(i.startswith("b.org/y") for i in ids)
    assert any(i.startswith("c.net/z") for i in ids)


def test_stream_ingest_rejects_unknown_dedup_mode(spark, tmp_path):
    """A misspelt dedup mode is an error, not a silent fallback to another
    mode; nothing is started or written."""
    for bad in ("report", "report_join"):
        with pytest.raises(ValueError, match=f"unknown dedup_mode '{bad}'"):
            run(spark, str(tmp_path / "src"), str(tmp_path / "lake"),
                dedup_mode=bad)
    assert not os.path.exists(tmp_path / "lake")
