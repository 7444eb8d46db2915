"""The workloads. Each one drives the engine through its public functions
only:

- ``backfill``: what ``jobs/rollup_job.py`` does — ``run_tiered_rollup`` into
  a fresh ``RollupStore``, then the ``--compress-1m`` Gorilla compaction, then
  the ``--retain-1m-hours`` expiry;
- ``ingest``: ``jobs/stream_ingest_job.run(dedup_mode="report-join",
  max_files_per_trigger=1)`` draining a backlog of source files.

A workload has set-up steps (``inputs``, ``warmup``), one timed
operation ``op`` that the runner repeats for the measured window, and
``check``, which compares each operation's output with DuckDB afterwards.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
import tracing
from harness import Settings

RETAIN_1M_HOURS = 48


@dataclass
class Op:
    """One timed operation: wall seconds, input rows completed, latency
    samples (ms; one per operation unless the operation has finer units),
    whatever ``check`` needs, and per-layer numbers gathered on the way. The
    runner fills in the CPU and steal seconds spent during the operation."""

    seconds: float
    rows: int
    samples_ms: list[float] = field(default_factory=list)
    out: object = None
    layers: dict = field(default_factory=dict)
    cpu_s: float = 0.0
    steal_s: float = 0.0

    def __post_init__(self):
        if not self.samples_ms:
            self.samples_ms = [self.seconds * 1000.0]


class Workload:
    name = ""
    kind = "pages"  # which generated input it reads

    def __init__(self, st: Settings):
        self.st = st
        self.spark = None
        self.input_dir = ""
        self.input_info: dict = {}
        self._n = 0

    def fresh(self, stem: str) -> str:
        self._n += 1
        d = self.st.path("out", f"{stem}-{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    @property
    def pages(self) -> str:
        return os.path.join(self.input_dir, "pages.parquet")

    def begin(self, spark) -> None:
        self.spark = spark

    def end(self) -> None:
        pass

    def inputs(self) -> None:
        self.input_dir, self.input_info = gen.generate(
            self.st.path("input"), self.kind, self.st.seed, self.st.size)

    def warmup(self) -> None:
        self.op()

    def op(self) -> Op:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> list[list[str]]:
        raise NotImplementedError

    def discard(self, op: Op) -> None:
        """Free what a checked operation left on disk."""

    def extras(self, ops: list[Op]) -> dict:
        """Workload-specific numbers printed beside the contract metrics:
        name → (value, unit)."""
        return {}

    def gorilla_points(self, op: Op) -> int:
        """Points the Gorilla kernels encoded and verified in ``op`` (for
        kernel.share)."""
        return 0

    def series_for_kernels(self) -> dict:
        return checks.mean_series(self.pages)


def _files_under(root: str) -> int:
    return sum(len([f for f in fs if f.endswith(".parquet")])
               for _, _, fs in os.walk(root))


class Backfill(Workload):
    name = "backfill"

    def __init__(self, st):
        super().__init__(st)
        self._ref = None

    def op(self) -> Op:
        from pyspark.sql import functions as F

        from ezmsg_sigproc_spark.operators.compression import gorilla_compress
        from ezmsg_sigproc_spark.plans.rollup_tiers import (
            RollupStore,
            finalize,
            run_tiered_rollup,
        )

        spark = self.spark
        root, blobs_path = self.fresh("lake"), self.fresh("blobs")
        t0 = time.monotonic()
        store = RollupStore(spark, root)
        metrics = run_tiered_rollup(spark, spark.read.parquet(self.pages), store=store)
        points = finalize(store.read_tier("1m").drop("ts_bucket"), 60).select(
            "url", F.col("bin_ts").alias("ts"), F.col("mean").alias("value"))
        blobs = gorilla_compress(
            points.withColumn("bucket", F.floor(F.col("ts") / 86400).cast("bigint")),
            key_cols=["url", "bucket"], ts_col="ts", value_col="value",
            verify="full", emit_blobs=True)
        blobs.write.mode("overwrite").partitionBy("bucket").parquet(blobs_path)
        agg = blobs.agg(F.sum("n_points").alias("np"), F.sum("ts_bytes").alias("tb"),
                        F.sum("val_bytes").alias("vb"),
                        F.min("roundtrip_ok").alias("ok")).collect()[0]
        done = sorted(store.completed_buckets("1m"))
        expired = []
        if len(done) > RETAIN_1M_HOURS:
            expired = store.expire("1m", done[-RETAIN_1M_HOURS])
        seconds = time.monotonic() - t0
        layers = {}
        for tier in ("1m", "1h", "1d"):
            ph = metrics[f"write_{tier}"]["phase_sec"]
            layers[f"store.write_s.{tier}"] = ph["write"]
            layers[f"store.commit_s.{tier}"] = ph["commit"]
        layers["store.buckets"] = sum(metrics[f"write_{t}"]["buckets_written"]
                                      for t in ("1m", "1h", "1d"))
        layers["store.files"] = _files_under(root)
        return Op(seconds, self.input_info["rows"],
                  out={"root": root, "blobs": blobs_path, "metrics": metrics,
                       "expired": expired, "points": int(agg.np),
                       "bytes": int(agg.tb + agg.vb)},
                  layers=layers)

    def check(self, ops):
        if self._ref is None:
            self._ref = checks.tier_reference(self.pages)
        return [checks.check_backfill(self._ref, o.out["root"], o.out["metrics"],
                                      o.out["blobs"], o.out["expired"],
                                      RETAIN_1M_HOURS) for o in ops]

    def discard(self, op):
        shutil.rmtree(op.out["root"], ignore_errors=True)
        shutil.rmtree(op.out["blobs"], ignore_errors=True)

    def extras(self, ops):
        pts = sum(o.out["points"] for o in ops)
        return {"bytes_per_point": (sum(o.out["bytes"] for o in ops) / max(pts, 1), "B"),
                "buckets_1m": (len(self._ref["1m"]) if self._ref else 0, "count")}

    def gorilla_points(self, op):
        # the job encodes and verifies the 1m tier twice: once for the blob
        # write and once more for the summary aggregate over the same plan
        return 2 * op.out["points"]


class Ingest(Workload):
    name = "ingest"
    kind = "ingest"

    def __init__(self, st):
        super().__init__(st)
        self.recorder = None
        self._ref = None

    @property
    def src(self) -> str:
        return os.path.join(self.input_dir, "src")

    def begin(self, spark):
        super().begin(spark)
        # run() does not return its queries: a progress listener is the only
        # outside view of batch times, so it is on in every run
        self.recorder = tracing.make_progress_recorder()
        spark.streams.addListener(self.recorder)

    def end(self):
        self.spark.streams.removeListener(self.recorder)

    def op(self) -> Op:
        from jobs import stream_ingest_job

        out = self.fresh("ingest")
        t0 = time.monotonic()
        metrics = stream_ingest_job.run(self.spark, self.src, out,
                                        dedup_mode="report-join",
                                        max_files_per_trigger=1)
        seconds = time.monotonic() - t0
        progress = self.recorder.drain(queries=2)
        batches = [r["batch_ms"] for tag, r in progress if tag == "dedup"]
        layers = tracing.stream_layers(progress)
        layers.update(tracing.claims_layers(out))
        return Op(seconds, metrics["dedup"]["docs"], samples_ms=batches,
                  out={"root": out, "metrics": metrics}, layers=layers)

    def check(self, ops):
        if self._ref is None:
            self._ref = checks.ingest_reference(self.src)
        return [checks.check_ingest(self._ref, o.out["metrics"]) for o in ops]

    def discard(self, op):
        shutil.rmtree(op.out["root"], ignore_errors=True)

    def extras(self, ops):
        growth = []
        for o in ops:
            b = o.samples_ms
            q = max(len(b) // 4, 1)
            growth.append(float(np.median(b[-q:]) / np.median(b[:q])))
        rb = [o.out["metrics"]["rollup_blobs"] for o in ops]
        pts = sum(r["points"] for r in rb)
        return {"batch_growth": (float(np.median(growth)), "ratio"),
                "bytes_per_point": (float(np.mean([r["bytes_per_point"] for r in rb])), "B"),
                "dups": (ops[0].out["metrics"]["dedup"]["dups"], "count"),
                "blob_points": (pts / len(ops), "count")}

    def gorilla_points(self, op):
        return op.out["metrics"]["rollup_blobs"]["points"]

    def series_for_kernels(self):
        return checks.mean_series(os.path.join(self.src, "*.parquet"))


WORKLOADS = {w.name: w for w in (Backfill, Ingest)}
