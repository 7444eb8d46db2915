"""Partition-level lift for per-key ordered kernels.

``groupBy(key).applyInPandas`` pays a JVM↔Python Arrow round trip PER GROUP —
at web scale the signal has millions of short per-key series, so per-group
overhead (1–3 ms each) dominates the vectorized kernels themselves (round-1
bench: the EWMA phase was ~3× kernel cost at 12k keys).

``group_apply_sorted`` instead runs ONE ``mapInPandas`` over data that is
hash-repartitioned on the key and sorted within partitions by (key, ts):
Python is entered once per Arrow batch (64k rows), each batch is grouped
in-memory with pandas, and a key whose rows straddle a batch boundary is
carried into the next batch — so every kernel invocation still sees the key's
COMPLETE series in ts order, exactly like applyInPandas, at a fraction of the
crossing cost. Same shuffle count (one hash exchange either way). (Batching
the engine↔UDF boundary is the central lever in "Accelerating Python UDFs in
Vectorized Query Execution", CIDR'22 — this is that idea applied to Spark's
grouped-map path.)
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def key_change_mask(keys: pd.DataFrame) -> np.ndarray:
    """True where row i starts a new key block, NULL-SAFE: two adjacent null
    keys compare equal (plain ``!=`` yields True for NaN vs NaN, which would
    shatter a null-key run into per-row groups). Row 0 is always a start."""
    shifted = keys.shift()
    neq = (keys != shifted) & ~(keys.isna() & shifted.isna())
    out = neq.any(axis=1).to_numpy()
    if out.size:
        out[0] = True
    return out


def map_key_batches(
    df: DataFrame,
    run: Callable[[pd.DataFrame], pd.DataFrame],
    key_cols: Sequence[str],
    ts_col: str,
    schema: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """The shared partition-level lift: hash-repartition on ``key_cols``,
    sort within partitions by (keys, ts), and call ``run`` once per Arrow
    batch with the guarantee that every key's rows appear COMPLETE and
    contiguous in exactly one call — rows of a key straddling an Arrow batch
    boundary are carried into the next batch (null-safe key comparison).

    This is the one carry loop behind ``group_apply_sorted``,
    ``apply_matrix_kernel`` and the Gorilla block encoder.
    """
    key_cols = list(key_cols)
    if num_partitions is None:
        # one partition per core, not 2×: every partition is a Python-stage
        # task with a fixed worker CPU cost regardless of size (session.py:
        # ~20 ms per task with the package's zip guard, ~0.2 s without), so
        # oversubscription doubles that cost for balance the skew
        # paths (salted_repartition, the pivot cap) already provide
        # explicitly. At cluster scale partitions-per-core stays the unit the
        # AQE parallelismFirst floor targets; callers needing a wider fan-out
        # pin num_partitions.
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    arranged = df.repartition(num_partitions, *key_cols).sortWithinPartitions(
        *key_cols, ts_col
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            # rows of the batch's LAST key may continue in the next batch —
            # hold them back (the final flush handles the tail)
            change = key_change_mask(pdf[key_cols])
            last_start = int(change.nonzero()[0][-1])
            if last_start == 0:
                carry = pdf
                continue
            carry = pdf.iloc[last_start:].reset_index(drop=True)
            yield run(pdf.iloc[:last_start].reset_index(drop=True))
        if carry is not None and len(carry):
            yield run(carry)

    return arranged.mapInPandas(fn, schema=schema)


def group_apply_sorted(
    df: DataFrame,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    key_cols: Sequence[str],
    ts_col: str,
    schema: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Apply ``kernel`` (full-series pandas frame of ONE key, already sorted
    by ``ts_col``) to every key, entering Python once per Arrow batch.

    Contract identical to ``groupBy(key).applyInPandas(kernel)`` for kernels
    that only require their own key's rows; output row order is unspecified
    (as with any shuffle-consuming operator).
    """
    kc = list(key_cols)

    def run_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        # dropna=False: Spark's applyInPandas contract keeps a null-key
        # group; pandas groupby would silently drop it by default
        outs = [kernel(g) for _, g in pdf.groupby(kc, sort=False, dropna=False)]
        return pd.concat(outs, ignore_index=True)

    return map_key_batches(df, run_groups, kc, ts_col, schema, num_partitions)


_PIVOT_CAP_CELLS = 1 << 23  # 8M float64 cells = 64 MB per pivot — bounds the
# (max_series_len × n_keys) allocation under key-length skew; a 64k-row Arrow
# batch without skew is far below this, so the cap only splits outlier batches


def apply_matrix_kernel(
    df: DataFrame,
    matrix_kernel,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
    pivot_cap: int | None = None,
) -> DataFrame:
    """Batch ALL keys of an Arrow batch into one (time × keys) matrix and run
    a single vectorized kernel call — for CAUSAL kernels only.

    ``matrix_kernel(mat)``: (n_max, n_keys) float64 → same shape; column j is
    key j's series in ts order, zero-padded at the TAIL to the batch's longest
    series. Causality makes the padding harmless: outputs at valid positions
    never depend on later (padded) rows, and only valid positions are
    gathered back. One kernel invocation per Arrow batch ≈ thousands of keys
    per call — the per-group Python overhead of even the in-memory pandas
    groupby disappears (this is what the scaling probe's many-short-series
    regime is bound by).

    The pivot is BOUNDED: a skewed batch (one carried long key among
    thousands of short ones) would allocate max_len × n_keys cells; keys are
    therefore grouped into length-sorted buckets of ≤ ``_PIVOT_CAP_CELLS``
    cells each and the kernel runs once per bucket — worst-case extra
    invocations are O(total_cells / CAP), and the common unskewed batch
    still makes exactly one call.
    """
    key_cols = list(key_cols)
    cap = _PIVOT_CAP_CELLS if pivot_cap is None else int(pivot_cap)
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema += f", {out_col} double"

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        change = key_change_mask(pdf[key_cols])
        starts = np.flatnonzero(change)
        codes = np.cumsum(change) - 1
        lengths = np.diff(np.append(starts, len(pdf)))
        pos = np.arange(len(pdf)) - np.repeat(starts, lengths)
        vals = pdf[value_col].to_numpy(np.float64)
        n_keys = len(starts)
        if int(lengths.max()) * n_keys <= cap:
            mat = np.zeros((int(lengths.max()), n_keys))
            mat[pos, codes] = vals
            out = matrix_kernel(mat)
            out_vals = out[pos, codes]
        else:
            # skewed batch: bucket keys longest-first so each pivot stays
            # under the cap; per-key results are identical (columns are
            # independent for causal kernels)
            order = np.argsort(-lengths, kind="stable")
            bucket_of = np.empty(n_keys, dtype=np.int64)
            nb = 0
            i = 0
            while i < n_keys:
                width = max(int(cap // max(int(lengths[order[i]]), 1)), 1)
                bucket_of[order[i : i + width]] = nb
                nb += 1
                i += width
            out_vals = np.empty(len(pdf))
            row_bucket = bucket_of[codes]
            local_code = np.empty(n_keys, dtype=np.int64)
            for b in range(nb):
                kids = np.flatnonzero(bucket_of == b)
                local_code[kids] = np.arange(kids.size)
                rmask = row_bucket == b
                lc = local_code[codes[rmask]]
                lp = pos[rmask]
                mat = np.zeros((int(lengths[kids].max()), kids.size))
                mat[lp, lc] = vals[rmask]
                out = matrix_kernel(mat)
                out_vals[rmask] = out[lp, lc]
        res = pdf.copy()
        res[out_col] = out_vals
        return res

    return map_key_batches(df, run, key_cols, ts_col, schema, num_partitions)
