"""Partition-invariance: the Spark analog of the reference's chunk-size
sweeps (tests drive block sizes 1…100000, SURVEY §1.2). An operator's output
must be identical however the input is partitioned — 1, 7, or 32 ways —
because the semantics are defined on the global per-key order, not on
physical chunks."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ezmsg_sigproc_spark.operators.aggregate import binned_aggregate
from ezmsg_sigproc_spark.operators.downsample import downsample
from ezmsg_sigproc_spark.operators.ewma import ewma
from ezmsg_sigproc_spark.operators.resample import resample_linear


@pytest.fixture(scope="module")
def sig(spark):
    rng = np.random.default_rng(21)
    rows = []
    for k in range(4):
        for i in range(500):
            rows.append((f"k{k}", float(i) * 0.5, float(rng.standard_normal())))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["key", "ts", "value"]))


def _canon(df):
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)].round(9)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize("npart", [1, 7, 32])
def test_operators_partition_invariant(sig, npart):
    part = sig.repartition(npart)
    base = sig.repartition(3)

    for op in (
        lambda d: downsample(d, 3),
        lambda d: binned_aggregate(d, 5.0, 2.0, ["count", "min", "max", "mean"]),
        lambda d: ewma(d, alpha=0.35),
        lambda d: ewma(d, alpha=0.35, num_partitions=5),
        lambda d: resample_linear(d, 7.0),
    ):
        a, b = _canon(op(part)), _canon(op(base))
        pd.testing.assert_frame_equal(a, b)


def test_gorilla_python_stage_sized_by_its_data(spark):
    """Each Python task costs its worker a fixed amount of CPU, so a few
    hundred points run at most the session's shuffle width of them, fewer
    than the fixture's 8 cores; a pinned num_partitions keeps its width."""
    from ezmsg_sigproc_spark.operators.compression import gorilla_compress

    pts = spark.range(300).selectExpr("concat('k', id % 60) AS key",
                                      "CAST(id AS double) AS ts", "sin(id) AS value")

    def python_tasks(**kw):
        tasks = spark.sparkContext.accumulator(0)

        def count(batches):  # runs in the encoder's tasks, once per task
            tasks.add(1)
            for b in batches:
                yield b[["key", "n_points"]]

        out = gorilla_compress(pts, **kw).mapInPandas(count, "key string, n_points bigint")
        assert out.agg(F.sum("n_points")).first()[0] == 300
        return tasks.value

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        assert 1 <= python_tasks() <= 4
        assert python_tasks(num_partitions=6) == 6
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
