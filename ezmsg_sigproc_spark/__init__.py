"""ezmsg_sigproc_spark — a from-scratch PySpark-native time-series rollup,
downsample, and retention engine.

Re-expresses the streaming operator semantics of ezmsg-org/ezmsg-sigproc
(reference at /root/reference, snapshot 2026-08-07) as batch continuous
aggregates over a parquet/Iceberg-style lakehouse of Common-Crawl-style web
pages, in idiomatic Spark: DataFrame/Catalyst expressions wherever the
semantics allow, Arrow-vectorized pandas UDFs (``applyInPandas`` /
``mapInPandas``) only for ordered recurrences (IIR/EWMA) and compression
kernels. No per-row Python anywhere.

Data model (SURVEY.md §1.4): the reference's ``AxisArray`` chunks of a
(time × channel) signal become long-format DataFrames with columns
``(key…, ts, value)``; a ``LinearAxis(gain, offset)`` time axis becomes either
an explicit timestamp/double column or the affine pair carried into kernels;
chunk-invariance (SURVEY.md §1.2) is what makes the batch formulation the
*definition* of the streaming semantics.
"""

__version__ = "0.1.0"

# Every engine function that runs in a Spark Python worker imports this
# package there, so the worker's per-task zip re-reads stop (zipguard.py).
from ezmsg_sigproc_spark import zipguard as _zipguard  # noqa: E402

_zipguard.install()
