"""Streaming stateful EWMA: micro-batched + checkpoint-restarted processing
equals the batch closed form — the chunk-invariance contract (SURVEY §1.2)
surviving Spark's state store, including a job restart."""

import os

import numpy as np
import pandas as pd
import pytest

from ezmsg_sigproc_spark.operators.ewma import ewma_corrected_np
from ezmsg_sigproc_spark.streaming.stateful_ops import streaming_ewma


def test_streaming_ewma_chunk_invariant_across_restart(spark, tmp_path):
    rng = np.random.default_rng(5)
    n = 400
    keys = ["a", "b"]
    frames = []
    for k in keys:
        frames.append(pd.DataFrame({
            "key": k, "ts": np.arange(n, dtype=float), "value": rng.standard_normal(n),
        }))
    full = pd.concat(frames).reset_index(drop=True)

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    os.makedirs(src)

    schema = "key string, ts double, value double"
    first = full[full.ts < n // 2]
    second = full[full.ts >= n // 2]
    spark.createDataFrame(first, schema).coalesce(1).write.mode("overwrite").parquet(
        str(src / "batch1"))

    def run_once():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
            str(src / "*"))
        q = (
            streaming_ewma(stream, alpha=0.3)
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # first job: only the first half exists
    run_once()
    # stop, new data arrives, restart from the checkpoint: state (zi, n_seen)
    # must resume exactly where the first job left off
    spark.createDataFrame(second, schema).coalesce(1).write.mode("overwrite").parquet(
        str(src / "batch2"))
    run_once()

    got = (
        spark.read.parquet(str(sink)).toPandas().sort_values(["key", "ts"]).reset_index(drop=True)
    )
    assert len(got) == len(full)
    for k in keys:
        exp = ewma_corrected_np(
            full[full.key == k].sort_values("ts")["value"].to_numpy(), 0.3)
        np.testing.assert_allclose(
            got[got.key == k]["ewma"].to_numpy(), exp, rtol=1e-9,
            err_msg=f"key={k}")


def test_streaming_downsample_phase_carry(spark, tmp_path):
    from ezmsg_sigproc_spark.streaming.stateful_ops import streaming_downsample

    n = 100
    full = pd.DataFrame({"key": "a", "ts": np.arange(n, dtype=float),
                         "value": np.arange(n, dtype=float)})
    src, sink, ckpt = tmp_path / "s", tmp_path / "o", tmp_path / "c"
    os.makedirs(src)
    schema = "key string, ts double, value double"
    # 7-row chunks: the phase counter must carry across micro-batches
    for i, lo in enumerate(range(0, n, 7)):
        spark.createDataFrame(full.iloc[lo:lo + 7], schema).coalesce(1) \
            .write.mode("overwrite").parquet(str(src / f"b{i:03d}"))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1) \
        .parquet(str(src / "*"))
    q = (streaming_downsample(stream, q=3)
         .writeStream.format("parquet").option("path", str(sink))
         .option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(240)
    got = spark.read.parquet(str(sink)).toPandas().sort_values("ts")
    np.testing.assert_array_equal(got["value"].to_numpy(), np.arange(0, n, 3.0))


def test_streaming_rollup_watermark_late_data(spark, tmp_path):
    """Late-data semantics of the watermarked 1m rollup (VERDICT r1 item 9):
    a late row arriving while its window is still open (within watermark) is
    counted; a late row for a window the watermark already closed is dropped;
    watermark state survives a checkpoint restart. Mirrors the reference's
    high-water-mark recovery (resample.py:66-84) generalized by Spark
    watermarks."""
    import datetime as dt

    from ezmsg_sigproc_spark.streaming.stream_rollup import streaming_rollup_1m

    def rows(ts_list):
        base = dt.datetime(2024, 1, 1)
        return pd.DataFrame({
            "url": "https://a.example/x",
            "warc_ts": [base + dt.timedelta(seconds=float(t)) for t in ts_list],
            "html": [b"h" * 10 for _ in ts_list],
        })

    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    os.makedirs(src)
    schema = "url string, warc_ts timestamp, html binary"

    def write_batch(name, ts_list):
        spark.createDataFrame(rows(ts_list), schema).coalesce(1).write.mode(
            "overwrite").parquet(str(src / name))

    def run_once():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
            str(src / "*"))
        q = (
            streaming_rollup_1m(stream, watermark="2 minutes")
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # batch 1: t = 0,10,…,290 → max event 290, watermark after batch = 170
    write_batch("b1", list(range(0, 300, 10)))
    run_once()

    # restart with late + new data:
    #  t=100 → window [60,120) closed (end 120 < wm 170)   → DROPPED
    #  t=200 → window [180,240) still open (240 > 170)     → COUNTED
    #  t=300..590 advance the watermark to 470
    write_batch("b2", [100, 200] + list(range(300, 600, 10)))
    # flush batch: t=700 advances the watermark to 580, closing bins ≤ [540,600)
    write_batch("b3", [700])
    run_once()

    got = spark.read.parquet(str(sink)).toPandas().sort_values("bin_m")
    base_min = dt.datetime(2024, 1, 1).timestamp() / 60  # absolute bin offset
    counts = {int(r.bin_m - base_min): int(r.n) for r in got.itertuples()}

    # no duplicate bins (each window emitted exactly once)
    assert got.bin_m.is_unique
    # final watermark = 700 − 120 = 580: bins 0..8 (ends ≤ 580) are closed and
    # emitted; bin 9 (end 600) and t=700's own bin stay open in state
    assert set(counts) == set(range(9))
    # 6 on-time rows per minute; bin 1's late row was dropped, bin 3 gained one
    assert counts[1] == 6, counts
    assert counts[3] == 7, counts
    assert all(counts[b] == 6 for b in set(range(9)) - {1, 3}), counts


def test_streaming_rollup_to_gorilla_compaction(spark, tmp_path):
    """readStream → watermarked 1m rollup → per-batch Gorilla blocks: the
    decoded blob store equals the batch-computed tier means for every window
    the watermark closed."""
    import datetime as dt

    from ezmsg_sigproc_spark.operators.compression import gorilla_decode
    from ezmsg_sigproc_spark.streaming.stream_rollup import streaming_rollup_to_gorilla

    base = dt.datetime(2024, 1, 1)

    def rows(ts_list):
        return pd.DataFrame({
            "url": ["https://a.example/x" if int(t) % 2 == 0 else "https://b.example/y"
                    for t in ts_list],
            "warc_ts": [base + dt.timedelta(seconds=float(t)) for t in ts_list],
            "html": [b"h" * (10 + int(t) % 7) for t in ts_list],
        })

    src, blobs, ckpt = tmp_path / "src", tmp_path / "blobs", tmp_path / "ckpt"
    os.makedirs(src)
    schema = "url string, warc_ts timestamp, html binary"
    spark.createDataFrame(rows(list(range(0, 600, 5))), schema).coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "b1"))
    # flush event far in the future closes all prior windows
    spark.createDataFrame(rows([10_000]), schema).coalesce(1) \
        .write.mode("overwrite").parquet(str(src / "b2"))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(src / "*"))
    q = streaming_rollup_to_gorilla(stream, str(blobs), str(ckpt))
    q.awaitTermination(180)

    got = gorilla_decode(
        spark.read.parquet(str(blobs)), key_cols=["url", "bucket"],
        ts_col="ts", value_col="value",
    ).toPandas().sort_values(["url", "ts"]).reset_index(drop=True)

    # batch twin over the same closed windows (everything before the flush)
    import numpy as np
    pdf = rows(list(range(0, 600, 5)))
    pdf["bin_m"] = (pdf.warc_ts.astype("int64") // 10**9 // 60).astype(int)
    pdf["value"] = pdf.html.map(len).astype(float)
    exp = (pdf.groupby(["url", "bin_m"]).value.mean().reset_index()
           .sort_values(["url", "bin_m"]).reset_index(drop=True))
    assert len(got) == len(exp)
    np.testing.assert_array_equal(got.url.to_numpy(), exp.url.to_numpy())
    np.testing.assert_allclose(got.ts.to_numpy(), exp.bin_m.to_numpy() * 60.0, atol=1e-6)
    np.testing.assert_allclose(got.value.to_numpy(), exp.value.to_numpy(), rtol=1e-12)


def test_write_gorilla_batch_idempotent_on_retry(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering the same batch_id must
    REPLACE the batch's output, not append duplicate blocks."""
    from ezmsg_sigproc_spark.operators.compression import gorilla_decode
    from ezmsg_sigproc_spark.streaming.stream_rollup import write_gorilla_batch

    pdf = pd.DataFrame({
        "url": ["u1"] * 3 + ["u2"] * 2,
        "bin_m": [100, 101, 102, 100, 101],
        "n": [2.0, 1.0, 4.0, 1.0, 1.0],
        "sum": [10.0, 6.0, 20.0, 7.0, 9.0],
    })
    batch = spark.createDataFrame(pdf, "url string, bin_m bigint, n double, sum double")
    path = str(tmp_path / "blobs")
    write_gorilla_batch(batch, 7, path)
    write_gorilla_batch(batch, 7, path)  # simulated retry of the SAME batch
    back = gorilla_decode(
        spark.read.parquet(path), key_cols=["url", "bucket"],
        ts_col="ts", value_col="value",
    ).toPandas()
    assert len(back) == 5  # no duplicated points
    got = back.sort_values(["url", "ts"]).reset_index(drop=True)
    np.testing.assert_allclose(got["value"].to_numpy(),
                               (pdf["sum"] / pdf["n"]).to_numpy())
    # a DIFFERENT batch id appends new, disjoint windows
    pdf2 = pdf.assign(bin_m=pdf.bin_m + 10)
    batch2 = spark.createDataFrame(pdf2, "url string, bin_m bigint, n double, sum double")
    write_gorilla_batch(batch2, 8, path)
    assert len(spark.read.parquet(path).collect()) > 0
    back2 = gorilla_decode(
        spark.read.parquet(path), key_cols=["url", "bucket"],
        ts_col="ts", value_col="value",
    ).toPandas()
    assert len(back2) == 10


def test_write_gorilla_batch_evaluates_each_row_once(spark, tmp_path):
    """The emptiness check and the write share one evaluation of the batch;
    in a streaming query a second one runs the stateful aggregation again.
    Evaluations are counted in a file: a task the check's limit cuts short
    never reports its accumulator updates."""
    from pyspark.sql import functions as F

    from ezmsg_sigproc_spark.streaming.stream_rollup import write_gorilla_batch

    log = str(tmp_path / "evals")

    def keep(v):
        with open(log, "a") as f:
            f.write(".")
        return True

    counted = F.udf(keep, "boolean").asNondeterministic()
    n = 60
    pdf = pd.DataFrame({"url": [f"u{i % 3}" for i in range(n)],
                        "bin_m": np.arange(n), "n": 1.0,
                        "sum": np.arange(n, dtype=float)})
    batch = (spark.createDataFrame(pdf, "url string, bin_m bigint, n double, sum double")
             .repartition(4).where(counted("sum")))
    path = str(tmp_path / "blobs")
    write_gorilla_batch(batch, 0, path)
    with open(log) as f:
        assert len(f.read()) == n
    assert spark.read.parquet(path).agg(F.sum("n_points")).first()[0] == n
