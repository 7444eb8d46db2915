"""EWMA smoothing, adaptive standard scaler, detrend — stateful recurrences.

Reference semantics:

- ``EWMATransformer`` (``src/ezmsg/sigproc/ewma.py:192-272``):
  ``alpha = 1 - exp(-dt/tau)`` (``ewma.py:40-48``); recurrence
  ``y_t = α·x_t + (1-α)·y_{t-1}`` from ``y_{-1}=0``, then Adam-style bias
  correction ``y_t /= 1 - (1-α)^(t+1)`` with *global* cumulative sample index
  t (``ewma.py:262-271``). Algebraically the corrected output is the
  weight-normalized exponential average
  ``y_t = Σ_j (1-α)^(t-j) x_j / Σ_j (1-α)^(t-j)``.
- ``AdaptiveStandardScalerTransformer`` (``scaler.py:98-176``): z-score from
  two EWMAs (of x and x²): ``z = (x-μ)/σ`` where ``σ² = E[x²]-μ²``; where
  σ² ≤ 0 the output is 0.
- ``DetrendTransformer`` (``detrend.py:10-19``): ``x - EWMA(x)``.

Spark realization: an IIR recurrence has unbounded feedback, so this is the
documented pandas-UDF slow path (SURVEY.md §2.3), lifted at PARTITION level
with KEY BATCHING (``serieslift.apply_matrix_kernel``): one mapInPandas over
key-partitioned, (key, ts)-sorted data; every Arrow batch's keys are pivoted
into one (time × keys) matrix and the blockwise-rescaled cumulative-sum
kernel runs ONCE per batch, vectorized across both time and keys — no
per-row Python AND no per-key Python. The EWMA is causal, so tail
zero-padding of the ragged pivot cannot affect valid outputs. On a cluster
parallelism = partitions; millions of urls spread evenly.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def alpha_from_tau(tau: float, dt: float) -> float:
    """Reference ``ewma.py:40-48``."""
    return 1.0 - math.exp(-dt / tau)


def ewma_corrected_np(x: np.ndarray, alpha: float) -> np.ndarray:
    """Bias-corrected EWMA along axis 0 of a 1-D or 2-D float64 array
    (global index 0-based per column).

    Computes ``S_t = Σ_{j≤t} (1-α)^(t-j) x_j`` and ``W_t = (1-(1-α)^(t+1))/α``
    via block-rescaled cumulative sums: within a block of B samples,
    ``S_t = (1-α)^t · cumsum(x_j (1-α)^{-j})`` stays in float range because B
    is capped so ``(1-α)^{-B}`` cannot overflow; the carry between blocks is a
    single vectorized recurrence step. O(n) numpy, no Python per-row loop;
    a 2-D input is many independent series as columns (each column's float
    operation sequence is identical to the 1-D call, so results agree
    bitwise whenever the series fits one rescale block).
    """
    x = np.asarray(x, dtype=np.float64)
    flat = x.ndim == 1
    if flat:
        x = x[:, None]
    n = x.shape[0]
    if n == 0:
        return x[:, 0].copy() if flat else x.copy()
    beta = 1.0 - alpha
    if beta <= 0.0:
        return x[:, 0].copy() if flat else x.copy()
    # block size: keep beta**-B < 1e250
    max_b = int(250 / -math.log10(beta)) if beta < 1.0 else n
    B = max(1, min(n, max_b, 65536))
    out = np.empty_like(x)
    carry = np.zeros(x.shape[1])  # S_{t-1} entering the block
    pos = 0
    while pos < n:
        blk = x[pos : pos + B]
        m = blk.shape[0]
        j = np.arange(m, dtype=np.float64)
        inv = (beta ** (-j))[:, None]
        s = (beta**j)[:, None] * np.cumsum(blk * inv, axis=0)
        if np.any(carry != 0.0):
            s = s + carry[None, :] * (beta ** (j + 1.0))[:, None]
        out[pos : pos + m] = s
        carry = s[-1].copy()
        pos += m
    t = np.arange(1, n + 1, dtype=np.float64)
    w = ((1.0 - beta**t) / alpha)[:, None]
    out = out / w
    return out[:, 0] if flat else out


def _ewma_kernel_factory(alpha: float, ts_col: str, value_cols: Sequence[str], out_cols: Sequence[str]):
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col, kind="mergesort").reset_index(drop=True)
        for vc, oc in zip(value_cols, out_cols):
            pdf[oc] = ewma_corrected_np(pdf[vc].to_numpy(np.float64), alpha)
        return pdf

    return kernel


def ewma(
    df: DataFrame,
    tau: float | None = None,
    dt: float | None = None,
    alpha: float | None = None,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "ewma",
    num_partitions: int | None = None,
) -> DataFrame:
    """Bias-corrected EWMA per key along time (reference EWMATransformer).

    ``num_partitions`` pins the key-repartition width (default: sized by
    the data, see ``serieslift.map_key_batches``); the scaling probe passes
    a constant so both parallelism levels run the identical physical job."""
    if alpha is None:
        if tau is None or dt is None:
            raise ValueError("give alpha, or tau and dt")
        alpha = alpha_from_tau(tau, dt)
    from .serieslift import apply_matrix_kernel

    return apply_matrix_kernel(df, lambda mat: ewma_corrected_np(mat, alpha),
                               key_cols, ts_col, value_col, out_col,
                               num_partitions=num_partitions)


def detrend(
    df: DataFrame,
    tau: float,
    dt: float,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "detrended",
) -> DataFrame:
    """``x - EWMA(x)`` (reference ``detrend.py:10-19``)."""
    out = ewma(df, tau=tau, dt=dt, key_cols=key_cols, ts_col=ts_col,
               value_col=value_col, out_col="_trend")
    return out.withColumn(out_col, F.col(value_col) - F.col("_trend")).drop("_trend")


def adaptive_standard_scaler(
    df: DataFrame,
    tau: float | None = None,
    dt: float | None = None,
    alpha: float | None = None,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_col: str = "value",
    out_col: str = "z",
) -> DataFrame:
    """Online z-score from two EWMAs (reference ``scaler.py:98-176``):
    z = (x - μ)/sqrt(E[x²] - μ²), 0 where variance ≤ 0."""
    if alpha is None:
        if tau is None or dt is None:
            raise ValueError("give alpha, or tau and dt")
        alpha = alpha_from_tau(tau, dt)

    def kern_mat(mat: np.ndarray) -> np.ndarray:
        mu = ewma_corrected_np(mat, alpha)
        ex2 = ewma_corrected_np(mat * mat, alpha)
        var = ex2 - mu * mu
        mask = var > 0
        std = np.sqrt(np.where(mask, var, 0.0))
        return np.where(mask, (mat - mu) / np.where(mask, std, 1.0), 0.0)

    from .serieslift import apply_matrix_kernel

    return apply_matrix_kernel(df, kern_mat, key_cols, ts_col, value_col, out_col)
