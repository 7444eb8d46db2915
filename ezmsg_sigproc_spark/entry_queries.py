"""Query registry backing ``__spark_entry__.py``.

One entry per implemented operator from SURVEY.md §2 (+ the training-data
pipeline operators). Each query has a PySpark DataFrame implementation (the
engine under test) and, where SQL-expressible, an exact DuckDB oracle over the
same parquet tables. Column names and dtypes are aligned on both sides;
floating aggregates are rounded to 6 decimals on both sides so engine-order
summation differences (~1e-12 relative) can't flip the driver's value hash.

Conventions:
 - timestamps → epoch-seconds double: Spark ``cast(ts as double)`` ≡ DuckDB
   ``epoch(ts)`` (verified identical to the microsecond);
 - sums over integers are cast to bigint in SQL (DuckDB's int sum is HUGEINT);
 - every aggregate/computed column is aliased identically in both dialects.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import mathops, textops
from .functions.binning import bin_index_col, bin_index_sql, samples_per_bin
from .operators.aggregate import time_binned_aggregate, trapezoid_aggregate
from .operators.combinators import sampler
from .operators.compression import gorilla_compress
from .operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash16,
)
from .operators.diff import diff
from .operators.downsample import downsample
from .operators.ewma import adaptive_standard_scaler, detrend, ewma
from .operators.filters import butterworth, gaussian_kernel, gaussian_smooth
from .operators.multimodal import decode_media_meta
from .operators.resample import resample_linear
from .operators.rollingscaler import rolling_zscore
from .operators.select import flatten_keys, slice_by_regex
from .operators.similarity import cosine_topk
from .operators.spectrum import spectrum
from .operators.window import rolling_agg, sliding_windows

QUERIES: dict = {}
ORACLES: dict[str, str] = {}

# Operators folded into the entry_suites.py combined queries: still first-class
# callables (bench + tests use them), but not registered with the driver —
# the driver caps its correctness sweep at 50 queries, so the registry exposes
# every operator through ≤50 entries (suites union these with a variant tag).
RAW_QUERIES: dict = {}
RAW_ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def qraw(name: str, oracle: str | None = None):
    """Like ``q`` but records into the non-registered RAW_* maps (the suite
    queries in entry_suites.py reuse both the callables and the SQL)."""

    def deco(fn):
        RAW_QUERIES[name] = fn
        if oracle is not None:
            RAW_ORACLES[name] = oracle
        return fn

    return deco


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parquet timestamps arrive as TIMESTAMP_NTZ; epoch seconds are computed
    # with pure NTZ arithmetic (timestampdiff against the NTZ epoch) so the
    # result equals DuckDB's epoch(ts) regardless of the session timezone —
    # a cast via TIMESTAMP would silently shift by the driver session's tz
    epoch = (
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)").cast("double")
        / 1e6
    )
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        epoch.alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _r6(c):
    return F.round(c, 6)


# =====================================================================
# Core rollup family (BinnedAggregate / tiers / BinSchedule law)
# =====================================================================

@q(
    "rollup_1m_envelope",
    """
    SELECT user_id,
           CAST(floor(epoch(ts)/60.0) AS BIGINT) AS bin_m,
           count(value) AS n,
           round(sum(value), 6) AS sum,
           min(value) AS min,
           max(value) AS max,
           round(avg(value), 6) AS mean
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1m_envelope(spark, sf_dir):
    """BinnedAggregate (MIN,MAX,…) envelope on 1-minute wall-clock bins —
    reference binned_aggregate.py:70-83 metric stack."""
    ev = _events(spark, sf_dir)
    out = time_binned_aggregate(
        ev, 60.0, ["count", "sum", "min", "max", "mean"], key_cols=["user_id"],
        ts_col="ts", value_col="value",
    )
    return out.select(
        "user_id", "bin_m", F.col("count").alias("n"), _r6(F.col("sum")).alias("sum"),
        "min", "max", _r6(F.col("mean")).alias("mean"),
    )


_CA_STORES: dict[str, tuple] = {}


def _ca_store_build(spark, sf_dir: str, root: str | None = None):
    """Build the RollupStore behind ``rollup_1h_from_1m``: 1m partials from
    raw events → store write → 1h tier derived from the STORED 1m tier (each
    tier re-aggregates the previous tier's persisted partials — never raw
    rows twice). Returns (store, t0, t1).

    Builds are cached per (session, sf_dir) with atexit cleanup, so repeated
    correctness/bench invocations neither leak full tier copies in /tmp
    (ADVICE r3) nor redo the write inside what is nominally a read query.
    Pass ``root`` to force a fresh uncached build — bench.py uses that to
    time the write (``ca_store_write``) and the read (``ca_store_read``) as
    separate keys."""
    import atexit
    import shutil
    import tempfile

    from .plans.rollup_tiers import RollupStore, rollup_base, rollup_next

    # applicationId is stable for the life of a SparkContext and never reused
    # the way id(spark) addresses are after GC (ADVICE r4): a new session at
    # a recycled address must not receive a store bound to a stopped one.
    cache_key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    if root is None and cache_key in _CA_STORES:
        return _CA_STORES[cache_key]
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("url"), "ts", "value")
    target = root or tempfile.mkdtemp(prefix="ca_store_")
    if root is None:
        atexit.register(shutil.rmtree, target, ignore_errors=True)
    store = RollupStore(spark, target)
    store.write_tier("1m", rollup_base(ev, 60))
    store.write_tier("1h", rollup_next(store.read_tier("1m").drop("ts_bucket"), 60))
    b = ev.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1")).collect()[0]
    result = (store, float(b.t0), float(b.t1))
    if root is None:
        _CA_STORES[cache_key] = result
    return result


@q(
    "rollup_1h_from_1m",
    """
    WITH sig AS (SELECT CAST(user_id AS VARCHAR) AS url, epoch(ts) AS t, value
                 FROM events),
    b AS (SELECT floor((min(t) + 4000) / 7200) * 7200 AS t0a,
                 ceil((max(t) - 4000) / 7200) * 7200 AS t1a FROM sig)
    SELECT CAST(s.url AS BIGINT) AS user_id,
           CAST(floor(s.t / 7200.0) AS BIGINT) AS bin_m,
           count(*) AS n,
           round(sum(value), 6) AS sum,
           min(value) AS min,
           max(value) AS max,
           round(avg(value), 6) AS mean
    FROM sig s, b
    WHERE floor(s.t / 7200.0) * 7200 >= b.t0a AND floor(s.t / 7200.0) * 7200 < b.t1a
    GROUP BY 1, 2
    """,
)
def rollup_1h_from_1m(spark, sf_dir):
    """Continuous-aggregate READ path, end to end: 1m partials →
    RollupStore (hive ts_bucket partitions + lineage) → 1h tier from
    rollup_next → ``read_resolution`` at a 2-HOUR grid with deliberately
    UNALIGNED [t0, t1) bounds. Tier routing must pick the 1h tier (largest
    divisor of 7200), re-aggregate its partials by factor 2, align the
    bounds to the requested grid (floor t0 / ceil t1 — the edge-bin
    correctness fix), and prune on the ts_bucket partition column. The
    oracle computes the same 2h bins directly from raw events — equality is
    the partial-composition AND store-read proof in one row set."""
    from .plans.rollup_tiers import read_resolution

    store, t0, t1 = _ca_store_build(spark, sf_dir)
    out = read_resolution(store, 7200, t0=t0 + 4000.0, t1=t1 - 4000.0)
    return out.select(
        F.col("url").cast("bigint").alias("user_id"), "bin_m", "n",
        _r6(F.col("sum")).alias("sum"), "min", "max",
        _r6(F.col("sum") / F.col("n")).alias("mean"),
    )


@qraw("rollup_1h_chain")
def rollup_1h_chain(spark, sf_dir):
    """In-memory 1m→1h partial re-aggregation (the operator composition the
    bench times under ``rollup_1h_from_1m`` for round-over-round
    comparability; the registered ``rollup_1h_from_1m`` additionally routes
    the same partials through the RollupStore + ``read_resolution``)."""
    ev = _events(spark, sf_dir)
    m1 = time_binned_aggregate(ev, 60.0, ["count", "sum", "min", "max"],
                               key_cols=["user_id"], ts_col="ts", value_col="value")
    h1 = (
        m1.withColumn("bin_m", F.floor(F.col("bin_m") / 60).cast("bigint"))
        .groupBy("user_id", "bin_m")
        .agg(F.sum("count").alias("n"), F.sum("sum").alias("sum"),
             F.min("min").alias("min"), F.max("max").alias("max"))
    )
    return h1.select("user_id", "bin_m", "n", _r6(F.col("sum")).alias("sum"),
                     "min", "max", _r6(F.col("sum") / F.col("n")).alias("mean"))


@q(
    "rollup_1d_from_1h",
    """
    SELECT user_id,
           CAST(floor(epoch(ts)/86400.0) AS BIGINT) AS bin_m,
           count(value) AS n,
           round(sum(value), 6) AS sum,
           min(value) AS min,
           max(value) AS max
    FROM events GROUP BY 1, 2
    """,
)
def rollup_1d_from_1h(spark, sf_dir):
    ev = _events(spark, sf_dir)
    m1 = time_binned_aggregate(ev, 60.0, ["count", "sum", "min", "max"],
                               key_cols=["user_id"], ts_col="ts", value_col="value")
    h1 = (
        m1.withColumn("bin_m", F.floor(F.col("bin_m") / 60).cast("bigint"))
        .groupBy("user_id", "bin_m")
        .agg(F.sum("count").alias("n"), F.sum("sum").alias("sum"),
             F.min("min").alias("min"), F.max("max").alias("max"))
    )
    d1 = (
        h1.withColumn("bin_m", F.floor(F.col("bin_m") / 24).cast("bigint"))
        .groupBy("user_id", "bin_m")
        .agg(F.sum("n").alias("n"), F.sum("sum").alias("sum"),
             F.min("min").alias("min"), F.max("max").alias("max"))
    )
    return d1.select("user_id", "bin_m", "n", _r6(F.col("sum")).alias("sum"), "min", "max")


_SPB_FRAC = 7.5


@q(
    "binlaw_fractional",
    f"""
    WITH idx AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS gidx
      FROM events
    )
    SELECT user_id,
           {bin_index_sql('gidx', _SPB_FRAC)} AS bin_m,
           count(value) AS n,
           min(value) AS min,
           max(value) AS max,
           round(avg(value), 6) AS mean
    FROM idx GROUP BY 1, 2
    """,
)
def binlaw_fractional(spark, sf_dir):
    """The BinSchedule grid law B(m)=int(m·spb) with fractional spb=7.5 over
    the per-key global sample index (reference util/binning.py:165-190)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    gidx = F.row_number().over(w) - F.lit(1)
    return (
        ev.withColumn("bin_m", bin_index_col(gidx, _SPB_FRAC))
        .groupBy("user_id", "bin_m")
        .agg(F.count("value").alias("n"), F.min("value").alias("min"),
             F.max("value").alias("max"), _r6(F.avg("value")).alias("mean"))
    )


_SPB_LOCKED = float(int(2.4 * 10.0))  # sample-locked: int(bin_duration*fs) = 24


@q(
    "binlaw_sample_locked",
    f"""
    WITH idx AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS gidx
      FROM events
    )
    SELECT user_id,
           {bin_index_sql('gidx', _SPB_LOCKED)} AS bin_m,
           count(value) AS n,
           round(sum(value), 6) AS sum
    FROM idx GROUP BY 1, 2
    """,
)
def binlaw_sample_locked(spark, sf_dir):
    """Sample-locked mode: spb = float(int(bin_duration·fs)) (reference
    binning.py:116-127, Window-compatible grid)."""
    ev = _events(spark, sf_dir)
    spb = samples_per_bin(2.4, 10.0, fractional=False)
    w = Window.partitionBy("user_id").orderBy("ts")
    gidx = F.row_number().over(w) - F.lit(1)
    return (
        ev.withColumn("bin_m", bin_index_col(gidx, spb))
        .groupBy("user_id", "bin_m")
        .agg(F.count("value").alias("n"), _r6(F.sum("value")).alias("sum"))
    )


@q(
    "downsample_q3",
    """
    WITH idx AS (
      SELECT user_id, epoch(ts) AS ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS gidx
      FROM events
    )
    SELECT user_id, ts, value FROM idx WHERE gidx % 3 = 0
    """,
)
def downsample_q3(spark, sf_dir):
    """Every 3rd sample by global per-key index (reference downsample.py:75-105,
    phase carried across chunks ⇒ global modulo)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    return downsample(ev, 3, key_cols=["user_id"], ts_col="ts")


@q(
    "window_rolling_stats",
    """
    SELECT user_id, epoch(ts) AS ts,
           round(avg(value) OVER w, 6) AS roll_mean,
           min(value) OVER w AS roll_min,
           max(value) OVER w AS roll_max,
           round(stddev_pop(value) OVER w, 6) AS roll_std
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def window_rolling_stats(spark, sf_dir):
    """Sliding 5-sample trailing stats — WindowTransformer 1:1 mode + per-window
    aggregate (reference window.py:61-273 / rollingscaler stats)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = rolling_agg(
        ev, 5,
        {"roll_mean": "mean", "roll_min": "min", "roll_max": "max", "roll_std": "std"},
        key_cols=["user_id"], ts_col="ts", value_col="value",
    )
    return out.select(
        "user_id", "ts", _r6(F.col("roll_mean")).alias("roll_mean"),
        "roll_min", "roll_max", _r6(F.col("roll_std")).alias("roll_std"),
    )


@q(
    "sliding_windows_10_5",
    """
    WITH idx AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS gidx,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ), exploded AS (
      SELECT user_id, value, gidx, n, t.w AS win_id
      FROM idx, LATERAL unnest(range(
            CAST(greatest(ceil((gidx - 10 + 1)/5.0), 0) AS BIGINT),
            gidx // 5 + 1)) AS t(w)
    )
    SELECT user_id, win_id, count(*) AS n_samples, round(sum(value), 6) AS sum
    FROM exploded
    WHERE win_id * 5 + 10 <= n
    GROUP BY 1, 2
    """,
)
def sliding_windows_10_5(spark, sf_dir):
    """Overlapping windows len=10 shift=5 (WindowTransformer shifted mode,
    window.py:178-238): each sample duplicated into its covering windows."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    sw = sliding_windows(ev, 10, 5, key_cols=["user_id"], ts_col="ts", drop_partial=True)
    return sw.groupBy("user_id", "win_id").agg(
        F.count("*").alias("n_samples"), _r6(F.sum("value")).alias("sum")
    )


@q(
    "rolling_zscore_k20",
    """
    WITH st AS (
      SELECT user_id, epoch(ts) AS ts, value,
             avg(value) OVER w AS mu,
             stddev_pop(value) OVER w AS sd,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS nb
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, ts,
           round(CASE WHEN nb < 5 THEN value
                 ELSE greatest(least((value - mu) / greatest(sd, 1e-8), 4.0), -4.0)
                 END, 6) AS z
    FROM st
    """,
)
def rolling_zscore_k20(spark, sf_dir):
    """RollingScaler semantics (rollingscaler.py:76-215): trailing-k stats
    excluding current sample, min_samples warmup passthrough, clip ±4."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = rolling_zscore(ev, 20, min_samples=5, clip=4.0,
                         key_cols=["user_id"], ts_col="ts", value_col="value")
    return out.select("user_id", "ts", _r6(F.col("z")).alias("z"))


@q(
    "diff_derivative",
    """
    SELECT user_id, epoch(ts) AS ts,
           round(value - lag(value) OVER w, 6) AS dvalue,
           round(1e6 * (value - lag(value) OVER w) / (epoch(ts) - lag(epoch(ts)) OVER w), 6) AS deriv_e6
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
)
def diff_derivative(spark, sf_dir):
    """DiffTransformer (diff.py:22-90): first difference + /dt derivative."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = diff(ev, key_cols=["user_id"], ts_col="ts", value_col="value",
               out_col="dvalue", scale_by_dt=False)
    out = diff(out, key_cols=["user_id"], ts_col="ts", value_col="value",
               out_col="deriv", scale_by_dt=True)
    # deriv scaled to per-1e6-seconds before rounding: raw values like
    # −0.01/20000 land exactly on a 5e−7 midpoint where Spark (half-up) and
    # DuckDB (half-even) disagree
    return out.select("user_id", "ts", _r6(F.col("dvalue")).alias("dvalue"),
                      _r6(F.col("deriv") * 1e6).alias("deriv_e6"))


@q(
    "trapezoid_integral",
    """
    WITH seg AS (
      SELECT user_id,
             (value + lead(value) OVER w) / 2 * (lead(epoch(ts)) OVER w - epoch(ts)) AS s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    )
    SELECT user_id, round(sum(s), 4) AS trapz FROM seg GROUP BY 1
    """,
)
def trapezoid_integral(spark, sf_dir):
    """AggregationFunction.TRAPEZOID (aggregate.py:186-196) as ordered window
    + sum."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = trapezoid_aggregate(ev, key_cols=["user_id"], ts_col="ts", value_col="value")
    return out.select("user_id", F.round(F.col("trapz"), 4).alias("trapz"))


@q(
    "full_aggregate_ops",
    """
    SELECT user_id,
           max(value) AS max, min(value) AS min,
           round(avg(value), 6) AS mean,
           median(value) AS median,
           round(stddev_pop(value), 6) AS std,
           round(sum(value), 6) AS sum,
           count(value) AS n,
           min(CASE WHEN value = minv THEN epoch(ts) END) AS argmin_ts,
           min(CASE WHEN value = maxv THEN epoch(ts) END) AS argmax_ts
    FROM (SELECT *, min(value) OVER (PARTITION BY user_id) AS minv,
                    max(value) OVER (PARTITION BY user_id) AS maxv
          FROM events)
    GROUP BY user_id
    """,
)
def full_aggregate_ops(spark, sf_dir):
    """AggregateTransformer full-axis reduction with the reference's op set
    (aggregate.py:34-74): max/min/mean/exact-median/std(ddof=0)/sum plus
    argmin/argmax converted to the time coordinate (deterministic tie-break:
    earliest ts among extremes)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    kb = Window.partitionBy("user_id")
    ev = ev.withColumn("minv", F.min("value").over(kb)).withColumn("maxv", F.max("value").over(kb))
    return ev.groupBy("user_id").agg(
        F.max("value").alias("max"), F.min("value").alias("min"),
        _r6(F.avg("value")).alias("mean"), F.median("value").alias("median"),
        _r6(F.stddev_pop("value")).alias("std"), _r6(F.sum("value")).alias("sum"),
        F.count("value").alias("n"),
        F.min(F.when(F.col("value") == F.col("minv"), F.col("ts"))).alias("argmin_ts"),
        F.min(F.when(F.col("value") == F.col("maxv"), F.col("ts"))).alias("argmax_ts"),
    )


@q(
    "ranged_aggregate_bands",
    """
    WITH b AS (
      SELECT event_type, value,
             CASE WHEN value >= 0 AND value <= 50 THEN 0
                  WHEN value > 50 AND value <= 150 THEN 1
                  WHEN value > 150 AND value <= 500 THEN 2
                  END AS band_id
      FROM events
    )
    SELECT event_type, band_id, count(*) AS n, round(avg(value), 6) AS mean,
           min(value) AS min, max(value) AS max
    FROM b WHERE band_id IS NOT NULL GROUP BY 1, 2
    """,
)
def ranged_aggregate_bands(spark, sf_dir):
    """RangedAggregate over value bands (aggregate.py:216-334): first matching
    band wins; here bands are disjoint half-open after the first."""
    ev = _events(spark, sf_dir)
    sel = F.col("value")
    bucket = (
        F.when((sel >= 0) & (sel <= 50), 0)
        .when((sel > 50) & (sel <= 150), 1)
        .when((sel > 150) & (sel <= 500), 2)
    )
    return (
        ev.withColumn("band_id", bucket)
        .filter(F.col("band_id").isNotNull())
        .groupBy("event_type", "band_id")
        .agg(F.count("*").alias("n"), _r6(F.avg("value")).alias("mean"),
             F.min("value").alias("min"), F.max("value").alias("max"))
    )


# =====================================================================
# Recurrence kernels (EWMA family) — oracle via O(n²)-per-key weighted sums
# =====================================================================

_ALPHA = 0.6


def _ewma_oracle_cte(alpha: float) -> str:
    b = 1.0 - alpha
    return f"""
    WITH idx AS (
      SELECT user_id, epoch(ts) AS ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS i
      FROM events
    ), pairs AS (
      SELECT a.user_id, a.ts, a.i,
             sum(b.value * power({b!r}, a.i - b.i)) AS s,
             sum(power({b!r}, a.i - b.i)) AS w,
             sum(b.value * b.value * power({b!r}, a.i - b.i)) AS s2
      FROM idx a JOIN idx b ON a.user_id = b.user_id AND b.i <= a.i
      GROUP BY 1, 2, 3
    )
    """


@q(
    "ewma_alpha06",
    _ewma_oracle_cte(_ALPHA)
    + """
    SELECT user_id, ts, round(s / w, 6) AS ewma FROM pairs
    """,
)
def ewma_alpha06(spark, sf_dir):
    """Bias-corrected EWMA (ewma.py:192-272). Oracle computes the equivalent
    weight-normalized form Σβ^(t-j)x_j / Σβ^(t-j) (exact algebraic identity
    with the reference's lfilter + 1-(1-α)^t correction)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = ewma(ev, alpha=_ALPHA, key_cols=["user_id"], ts_col="ts",
               value_col="value", out_col="ewma")
    return out.select("user_id", "ts", _r6(F.col("ewma")).alias("ewma"))


@q(
    "adaptive_zscore",
    _ewma_oracle_cte(_ALPHA)
    + """
    SELECT user_id, ts,
           round(CASE WHEN (s2/w - (s/w)*(s/w)) > 0
                 THEN (v - s/w) / sqrt(s2/w - (s/w)*(s/w)) ELSE 0.0 END, 6) AS z
    FROM (SELECT p.*, e.value AS v
          FROM pairs p JOIN idx e ON e.user_id = p.user_id AND e.i = p.i)
    """,
)
def adaptive_zscore(spark, sf_dir):
    """AdaptiveStandardScaler (scaler.py:98-176): z from two EWMAs, 0 where
    var ≤ 0."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = adaptive_standard_scaler(ev, alpha=_ALPHA, key_cols=["user_id"],
                                   ts_col="ts", value_col="value", out_col="z")
    return out.select("user_id", "ts", _r6(F.col("z")).alias("z"))


@q(
    "detrend_ewma",
    _ewma_oracle_cte(_ALPHA)
    + """
    SELECT p.user_id, p.ts, round(e.value - p.s / p.w, 6) AS detrended
    FROM pairs p JOIN idx e ON e.user_id = p.user_id AND e.i = p.i
    """,
)
def detrend_ewma(spark, sf_dir):
    """DetrendTransformer (detrend.py:10-19): x − EWMA(x)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = detrend(ev, tau=1.0, dt=-math.log(1 - _ALPHA),
                  key_cols=["user_id"], ts_col="ts", value_col="value",
                  out_col="detrended")
    return out.select("user_id", "ts", _r6(F.col("detrended")).alias("detrended"))


# =====================================================================
# Gap-fill / resample
# =====================================================================

@q(
    "gapfill_linear_300s",
    """
    WITH s AS (
      SELECT user_id, epoch(ts) AS t, value FROM events
    ), span AS (
      SELECT user_id, min(t) AS t0, max(t) AS t1 FROM s GROUP BY 1
    ), grid AS (
      SELECT user_id, t0 + g.i * 300.0 AS t
      FROM span, LATERAL unnest(range(0, CAST(floor((t1 - t0) / 300.0) AS BIGINT) + 1)) AS g(i)
    ), unioned AS (
      SELECT user_id, t, value, 0 AS is_grid FROM s
      UNION ALL
      SELECT user_id, t, NULL, 1 FROM grid
    ), br AS (
      SELECT user_id, t, is_grid,
             last_value(value IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS) OVER wp AS pt,
             first_value(value IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS) OVER wn AS nt
      FROM unioned
      WINDOW wp AS (PARTITION BY user_id ORDER BY t, is_grid
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY t, is_grid
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, t AS ts,
           round(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                   CASE WHEN nt = pt THEN pv ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END
                 WHEN pv IS NOT NULL THEN pv ELSE nv END, 6) AS value
    FROM br WHERE is_grid = 1
    """,
)
def gapfill_linear_300s(spark, sf_dir):
    """Resample/gap-fill onto a 300 s grid with linear interpolation
    (resample.py:337-353 interp1d(kind='linear') semantics)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = resample_linear(ev, 300.0, key_cols=["user_id"], ts_col="ts",
                          value_col="value", fill="last")
    return out.select("user_id", "ts", _r6(F.col("value")).alias("value"))


# =====================================================================
# Filters (IIR → rows-only; FIR Gaussian → exact SQL oracle)
# =====================================================================

_GAUSS_DT = 1.0
_GAUSS_SIGMA = 1.0  # 9 taps at width 4σ


def _gauss_oracle() -> str:
    taps = gaussian_kernel(_GAUSS_SIGMA, _GAUSS_DT)
    m = len(taps) // 2
    terms = []
    for j, w in enumerate(taps):
        off = j - m  # tap j multiplies x[i + off]
        if off < 0:
            src = f"coalesce(lag(value, {-off}) OVER w, first_value(value) OVER w)"
        elif off > 0:
            src = f"coalesce(lead(value, {off}) OVER w, last_value(value) OVER wfull)"
        else:
            src = "value"
        terms.append(f"{w!r} * {src}")
    expr = " + ".join(terms)
    return f"""
    SELECT user_id, epoch(ts) AS ts, round({expr}, 6) AS smoothed
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts),
           wfull AS (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """


@q("gaussian_smooth", _gauss_oracle())
def gaussian_smooth_q(spark, sf_dir):
    """GaussianSmoothingFilter (gaussiansmoothing.py:16-60): zero-phase
    Gaussian FIR, edges clamped to the first/last sample. The oracle expands
    the convolution into explicit lag/lead terms with the same tap values."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = gaussian_smooth(ev, _GAUSS_SIGMA, _GAUSS_DT, key_cols=["user_id"],
                          ts_col="ts", value_col="value", out_col="smoothed")
    return out.select("user_id", "ts", _r6(F.col("smoothed")).alias("smoothed"))


@qraw("butterworth_lowpass")  # IIR: not SQL-expressible → rows-only check
def butterworth_lowpass(spark, sf_dir):
    """Butterworth LP order 4 (butterworthfilter.py:115-159) via the numpy
    SOS kernel in applyInPandas; x0-scaled zi init (filter.py:362-447)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = butterworth(ev, order=4, cutoff=0.05, fs=1.0, key_cols=["user_id"],
                      ts_col="ts", value_col="value", out_col="filtered")
    return out.select("user_id", "ts", _r6(F.col("filtered")).alias("filtered"))


@qraw("decimate_q4")  # Chebyshev anti-alias IIR + downsample: rows-only
def decimate_q4(spark, sf_dir):
    """Decimate (decimate.py:14-70): the reference's exact composition —
    cheby1(order=8, ripple 0.05 dB, Wn=0.4·target_rate) anti-alias lowpass,
    then every 4th sample by global index."""
    from .operators.downsample import decimate

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = decimate(ev, q=4, fs=1.0, key_cols=["user_id"], ts_col="ts",
                   value_col="value", out_col="decimated")
    return out.select("user_id", "ts", _r6(F.col("decimated")).alias("decimated"))


@q(
    "rms_rollup_60s",
    """
    SELECT user_id,
           CAST(floor(epoch(ts)/60.0) AS BIGINT) AS bin_m,
           round(sqrt(avg(value * value)), 6) AS rms
    FROM events GROUP BY 1, 2
    """,
)
def rms_rollup_60s(spark, sf_dir):
    """RMSBandPower chain core (singlebandpow.py:44-84): square → tumbling
    bin mean → sqrt (band filter exercised separately in butterworth_lowpass)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", (F.col("value") ** 2).alias("value"))
    out = time_binned_aggregate(ev, 60.0, ["mean"], key_cols=["user_id"],
                                ts_col="ts", value_col="value")
    return out.select("user_id", "bin_m", _r6(F.sqrt(F.col("mean"))).alias("rms"))


# =====================================================================
# Element-wise math / encodings
# =====================================================================

@qraw(
    "math_elementwise",
    """
    SELECT event_type,
           round(avg(abs(value)), 6) AS mean_abs,
           round(avg(greatest(least(value, 100.0), 10.0)), 6) AS mean_clip,
           round(avg(ln(CASE WHEN value <= 0 THEN 2.2250738585072014e-308 ELSE value END)), 6) AS mean_log,
           round(avg(power(value, 2.0)), 6) AS mean_pow2,
           round(avg(value * 2.5 + 1.0), 6) AS mean_affine,
           round(avg(1.0 / (1.0 + exp(-value / 100.0))), 6) AS mean_sigmoid
    FROM events GROUP BY 1
    """,
)
def math_elementwise(spark, sf_dir):
    """The math/ operator set (SURVEY.md §2.5) as Column expressions:
    abs, clip, log(clip_zero), pow, linear transform, sigmoid activation."""
    ev = _events(spark, sf_dir)
    v = F.col("value")
    return ev.groupBy("event_type").agg(
        _r6(F.avg(mathops.abs_(v))).alias("mean_abs"),
        _r6(F.avg(mathops.clip(v, 10.0, 100.0))).alias("mean_clip"),
        _r6(F.avg(mathops.log(v, clip_zero=True))).alias("mean_log"),
        _r6(F.avg(mathops.pow_(v, 2.0))).alias("mean_pow2"),
        _r6(F.avg(mathops.linear_transform(v, 2.5, 1.0))).alias("mean_affine"),
        _r6(F.avg(mathops.sigmoid(v / 100.0))).alias("mean_sigmoid"),
    )


@qraw(
    "coordinate_spaces",
    """
    SELECT event_type,
           round(avg(sqrt(value * value + user_id * user_id)), 6) AS mean_rho,
           round(avg(atan2(CAST(user_id AS DOUBLE), value)), 6) AS mean_phi
    FROM events GROUP BY 1
    """,
)
def coordinate_spaces(spark, sf_dir):
    """CoordinateSpaces cartesian→polar (coordinatespaces.py:28-46)."""
    ev = _events(spark, sf_dir)
    rho, phi = mathops.cart2pol(F.col("value"), F.col("user_id").cast("double"))
    return ev.groupBy("event_type").agg(
        _r6(F.avg(rho)).alias("mean_rho"), _r6(F.avg(phi)).alias("mean_phi")
    )


@qraw(
    "quantize_8bit",
    """
    SELECT CAST(floor(greatest(least(value, 500.0), 0.0) / 500.0 * 255 + 0.5) AS SMALLINT) AS code,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def quantize_8bit(spark, sf_dir):
    """QuantizeTransformer (quantize.py:33-68): clip→scale→round→unsigned code
    (floor(x+0.5) rounding on both engines for determinism)."""
    ev = _events(spark, sf_dir)
    clipped = mathops.clip(F.col("value"), 0.0, 500.0)
    code = F.floor(clipped / 500.0 * 255 + 0.5).cast("smallint")
    return ev.groupBy(code.alias("code")).agg(F.count("*").alias("n"))


@qraw(
    "digitize_16bit",
    """
    SELECT CAST(floor((greatest(least(value, 500.0), -500.0) - 0.0) / (1000.0 / 65535) + 0.5) AS INTEGER) AS code,
           count(*) AS n,
           round(min(1000.0 / 65535), 9) AS conversion,
           round(min(0.0), 1) AS offset
    FROM events GROUP BY 1
    """,
)
def digitize_16bit(spark, sf_dir):
    """DigitizeTransformer (digitize.py:57-112): signed full-range mapping with
    the inverse map (conversion, offset) carried as columns (attrs→columns)."""
    ev = _events(spark, sf_dir)
    conversion = 1000.0 / 65535
    clipped = mathops.clip(F.col("value"), -500.0, 500.0)
    code = F.floor((clipped - 0.0) / conversion + 0.5).cast("int")
    return ev.groupBy(code.alias("code")).agg(
        F.count("*").alias("n"),
        F.round(F.min(F.lit(conversion)), 9).alias("conversion"),
        F.round(F.min(F.lit(0.0)), 1).alias("offset"),
    )


# =====================================================================
# Selection / reshaping / combinators
# =====================================================================

@qraw(
    "slicer_regex",
    """
    SELECT event_type, count(*) AS n, round(avg(value), 6) AS mean
    FROM events WHERE regexp_matches(event_type, '^(click|view)$')
    GROUP BY 1
    """,
)
def slicer_regex(spark, sf_dir):
    """SlicerTransformer regex-over-labels (slicer.py:58-316)."""
    ev = _events(spark, sf_dir)
    sel = slice_by_regex(ev, "event_type", "^(click|view)$")
    return sel.groupBy("event_type").agg(F.count("*").alias("n"), _r6(F.avg("value")).alias("mean"))


@qraw(
    "flatten_keys",
    """
    SELECT event_type || '.' || CAST(user_id AS VARCHAR) AS flat_key, count(*) AS n
    FROM events GROUP BY 1
    """,
)
def flatten_keys_q(spark, sf_dir):
    """FlattenTransformer label join (flatten.py:1-45)."""
    ev = _events(spark, sf_dir)
    out = flatten_keys(ev, ["event_type", "user_id"], out_col="flat_key", sep=".")
    return out.groupBy("flat_key").agg(F.count("*").alias("n"))


@q(
    "align_add_streams",
    """
    WITH a AS (
      SELECT user_id, CAST(floor(epoch(ts)/3600.0) AS BIGINT) AS bin_m,
             round(avg(value), 6) AS a FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), b AS (
      SELECT user_id, CAST(floor(epoch(ts)/3600.0) AS BIGINT) AS bin_m,
             round(avg(value), 6) AS b FROM events WHERE event_type = 'view' GROUP BY 1, 2
    )
    SELECT a.user_id, a.bin_m, a.a, b.b,
           round(a.a + b.b, 6) AS sum_ab, round(a.a - b.b, 6) AS diff_ab
    FROM a JOIN b USING (user_id, bin_m)
    """,
)
def align_add_streams(spark, sf_dir):
    """AlignAlongAxis + Add/Difference (align.py:48-237, math/add.py:47-96):
    two per-hour streams aligned on (key, bin) then ±."""
    ev = _events(spark, sf_dir)

    def stream(etype, name):
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy("user_id", F.floor(F.col("ts") / 3600.0).cast("bigint").alias("bin_m"))
            .agg(_r6(F.avg("value")).alias(name))
        )

    a = stream("click", "a")
    b = stream("view", "b")
    j = a.join(b, on=["user_id", "bin_m"], how="inner")
    return j.select(
        "user_id", "bin_m", "a", "b",
        _r6(F.col("a") + F.col("b")).alias("sum_ab"),
        _r6(F.col("a") - F.col("b")).alias("diff_ab"),
    )


@q(
    "sampler_triggers",
    """
    WITH trig AS (
      SELECT event_id AS trigger_id, user_id, epoch(ts) AS trig_ts
      FROM events WHERE event_type = 'error'
    )
    SELECT t.trigger_id, count(*) AS n, round(avg(e.value), 6) AS mean,
           round(min(epoch(e.ts) - t.trig_ts), 6) AS min_rel
    FROM trig t JOIN events e
      ON e.user_id = t.user_id
     AND epoch(e.ts) >= t.trig_ts - 3600.0 AND epoch(e.ts) < t.trig_ts + 7200.0
    GROUP BY 1
    """,
)
def sampler_triggers(spark, sf_dir):
    """SamplerTransformer (sampler.py:79-190): per-trigger window
    [trig−1h, trig+2h) as a broadcast range join; searchsorted 'left'/'left'
    ⇒ inclusive start, exclusive end."""
    ev = _events(spark, sf_dir)
    trig = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("trigger_id"), F.col("user_id"), F.col("ts").alias("trig_ts")
    )
    joined = sampler(ev, trig, pre_s=-3600.0, post_s=7200.0, key_cols=["user_id"],
                     ts_col="ts", trig_ts_col="trig_ts")
    return joined.groupBy("trigger_id").agg(
        F.count("*").alias("n"), _r6(F.avg("value")).alias("mean"),
        _r6(F.min(F.col("ts") - F.col("trig_ts"))).alias("min_rel"),
    )


# =====================================================================
# Spectral + compression (non-SQL-expressible → rows-only checks)
# =====================================================================

@qraw("spectrum_power_64")
def spectrum_power_64(spark, sf_dir):
    """SpectrumTransformer (spectrum.py:135-265): hamming-windowed rfft power
    over tumbling 64-sample windows; numpy FFT in one vectorized call per key."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 20).select("user_id", "ts", "value")
    spec = spectrum(ev, win_len=64, fs=1.0, key_cols=["user_id"], ts_col="ts",
                    value_col="value", output="power")
    return spec.groupBy("user_id", "freq_idx").agg(
        _r6(F.avg("spec")).alias("mean_power"), F.round(F.min("freq_hz"), 6).alias("freq_hz")
    )


@q(
    "gorilla_compression",
    """
    SELECT user_id, count(*) AS n_points, true AS roundtrip_ok, true AS bpp_ok
    FROM events GROUP BY 1
    """,
)
def gorilla_compression(spark, sf_dir):
    """Gorilla XOR + delta-of-delta codec (VLDB'15) per user series, with FULL
    decode-back verification inside the kernel. The oracle checks the
    SQL-expressible invariants: per-key point counts, the roundtrip flag, and
    a sanity bound on compressed size (< 17 B/pt — 16 B raw + header amortized
    over short random-valued series); byte-exact codec behavior is pinned by
    the pytest fuzz/golden suites."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = gorilla_compress(ev, key_cols=["user_id"], ts_col="ts", value_col="value",
                           verify="full")
    return out.select("user_id", "n_points", "roundtrip_ok",
                      (F.col("bytes_per_point") < 17.0).alias("bpp_ok"))


# =====================================================================
# Training-data pipeline: dedup / similarity / text / multimodal
# =====================================================================

@q(
    "dedup_exact",
    """
    SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM documents GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on md5(text)."""
    return exact_dedup_groups(_docs(spark, sf_dir))


_MH_K, _MH_N, _MH_BANDS = 5, 8, 4


def _minhash_sql() -> str:
    rpb = _MH_N // _MH_BANDS
    band_cols = ", ".join(
        "(" + " || '#' || ".join(f"m{b * rpb + r}" for r in range(rpb)) + f") AS band{b}"
        for b in range(_MH_BANDS)
    )
    band_union = " UNION ALL ".join(
        f"SELECT id, {b} AS band_id, band{b} AS band_sig FROM sigs" for b in range(_MH_BANDS)
    )
    sig_cols = ", ".join(
        f"min(substr({'h1' if j < 4 else 'h2'}, {(j % 4) * 8 + 1}, 8)) AS m{j}"
        for j in range(_MH_N)
    )
    return f"""
    WITH sh_t AS (
      SELECT doc_id AS id,
             list_distinct(list_transform(range(1, length(text) - {_MH_K} + 2),
                                          i -> substr(text, CAST(i AS INTEGER), {_MH_K}))) AS sh
      FROM documents WHERE length(text) >= {_MH_K}
    ), shx AS (
      SELECT id, unnest(sh) AS s FROM sh_t
    ), hashed AS (
      SELECT id, md5(s) AS h1, md5('#' || s) AS h2 FROM shx
    ), minsig AS (
      SELECT id, {sig_cols} FROM hashed GROUP BY id
    ), sigs AS (
      SELECT id, {band_cols} FROM minsig
    ), bands AS ({band_union}),
    bounded AS (
      SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band_id, band_sig) <= 50
    )
    """


@q(
    "dedup_minhash_lsh",
    _minhash_sql()
    + """
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM bounded a JOIN bounded b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.id < b.id
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates (Broder'97 / LSH banding): 8 md5-seeded
    minhashes, 4 bands × 2 rows, hot buckets bounded at 50."""
    return minhash_lsh_candidates(_docs(spark, sf_dir), k=_MH_K, n_hashes=_MH_N,
                                  bands=_MH_BANDS, max_bucket=50)


@q(
    "dedup_ngram_jaccard",
    _minhash_sql()
    + f"""
    , cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bounded a JOIN bounded b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.id < b.id
    ), shf AS (
      SELECT id, unnest(sh) AS s FROM sh_t
    ), sizes AS (
      SELECT id, count(*) AS n_sh FROM shf GROUP BY 1
    ), common AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cand c JOIN shf a ON a.id = c.id_a JOIN shf b ON b.id = c.id_b AND a.s = b.s
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b, c.n_common,
           round(CAST(c.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - c.n_common), 6) AS jaccard
    FROM common c JOIN sizes sa ON sa.id = c.id_a JOIN sizes sb ON sb.id = c.id_b
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard verification of the LSH candidates."""
    docs = _docs(spark, sf_dir)
    cand = minhash_lsh_candidates(docs, k=_MH_K, n_hashes=_MH_N,
                                  bands=_MH_BANDS, max_bucket=50)
    out = ngram_jaccard_pairs(docs, cand, k=_MH_K)
    return out.select("id_a", "id_b", "n_common", _r6(F.col("jaccard")).alias("jaccard"))


def _simhash_sql() -> str:
    votes = ", ".join(
        f"CAST(sum(CASE WHEN (instr('0123456789abcdef', substr(md5(tok), {i + 1}, 1)) - 1) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS BIGINT) AS s{i}"
        for i in range(16)
    )
    bits = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))
    return f"""
    WITH toks AS (
      SELECT doc_id AS id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
      FROM documents
    ), votes AS (
      SELECT id, {votes} FROM toks WHERE length(tok) > 0 GROUP BY id
    ), sims AS (
      SELECT id, CAST({bits} AS BIGINT) AS simhash FROM votes
    )
    """


@q(
    "dedup_simhash",
    _simhash_sql()
    + """
    SELECT simhash, count(*) AS n_docs, min(id) AS keep_id
    FROM sims GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_simhash(spark, sf_dir):
    """16-bit SimHash (Charikar'02) buckets with >1 member."""
    sim = simhash16(_docs(spark, sf_dir))
    return (
        sim.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


@qraw(
    "text_quality_tokens",
    """
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS bpe_tokens,
           round(avg((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) /
                     greatest(length(text), 1)), 6) AS punct_ratio
    FROM documents GROUP BY 1
    """,
)
def text_quality_tokens(spark, sf_dir):
    """Token counting + punctuation ratio per source (training-data QA)."""
    docs = _docs(spark, sf_dir)
    t = F.col("text")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(textops.whitespace_token_count(t)).cast("bigint").alias("ws_tokens"),
        F.sum(textops.word_token_count(t)).cast("bigint").alias("bpe_tokens"),
        _r6(F.avg(textops.punct_ratio(t))).alias("punct_ratio"),
    )


def _langid_sql() -> str:
    branches = []
    score_exprs = {}
    for lang, words in textops.LANG_MARKERS.items():
        parts = [
            f"CAST((length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', ' {wrd} ', ''))) / {len(wrd) + 2} AS INTEGER)"
            for wrd in words
        ]
        score_exprs[lang] = " + ".join(parts)
    # argmax with first-wins ties in dict order → nested CASE
    langs = list(textops.LANG_MARKERS)
    cond = "CASE "
    for i, lang in enumerate(langs):
        others_before = [f"s_{lg} >= s_{lang}" for lg in langs[:i]]
        others_after = [f"s_{lg} > s_{lang}" for lg in langs[i + 1 :]]
        nots = " AND ".join(["s_" + lang + " > 0"] + [f"NOT ({c})" for c in others_before + others_after])
        cond += f"WHEN {nots} THEN '{lang}' "
    cond += "ELSE 'und' END"
    scores = ", ".join(f"{e} AS s_{lg}" for lg, e in score_exprs.items())
    return f"""
    WITH scored AS (
      SELECT doc_id, lang, {scores} FROM documents
    ), pred AS (
      SELECT doc_id, lang, {cond} AS pred_lang FROM scored
    )
    """


@qraw(
    "lang_id",
    _langid_sql()
    + """
    SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2
    """,
)
def lang_id_q(spark, sf_dir):
    """Marker-word language ID vs the stored lang column (confusion counts)."""
    docs = _docs(spark, sf_dir)
    return docs.select("lang", textops.lang_id(F.col("text")).alias("pred_lang")).groupBy(
        "lang", "pred_lang"
    ).agg(F.count("*").alias("n"))


@qraw(
    "doc_fingerprint",
    """
    SELECT lang, count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS n_fp,
           count(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Whitespace-normalized md5 fingerprint per doc, distinct per lang."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.countDistinct(textops.fingerprint(F.col("text"))).alias("n_fp"),
        F.count("*").alias("n_docs"),
    )


@q(
    "multimodal_decode",
    """
    WITH meta AS (
      SELECT doc_id,
             1 + ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                  + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1) % 64 AS width,
             1 + ((instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
                  + instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) % 64 AS height,
             ['png', 'jpeg', 'webp', 'gif'][
               1 + ((instr('0123456789abcdef', substr(md5(text), 5, 1)) - 1) * 16
                    + instr('0123456789abcdef', substr(md5(text), 6, 1)) - 1) % 4] AS format,
             length(text) AS n_bytes
      FROM documents
    )
    SELECT format, count(*) AS n, CAST(sum(width) AS BIGINT) AS sum_w,
           CAST(sum(height) AS BIGINT) AS sum_h, CAST(sum(n_bytes) AS BIGINT) AS sum_bytes
    FROM meta GROUP BY 1
    UNION ALL
    SELECT 'png_real', count(*),
           CAST(sum(1 + ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1) % 16) AS BIGINT),
           CAST(sum(1 + ((instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) % 16) AS BIGINT),
           CAST(sum(((instr('0123456789abcdef', substr(md5(text), 5, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 6, 1)) - 1) * 65536
              + ((instr('0123456789abcdef', substr(md5(text), 7, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 8, 1)) - 1) * 256
              + ((instr('0123456789abcdef', substr(md5(text), 9, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 10, 1)) - 1)) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'jpeg_real', count(*),
           CAST(sum(1 + ((instr('0123456789abcdef', substr(md5(text), 11, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 12, 1)) - 1) % 16) AS BIGINT),
           CAST(sum(1 + ((instr('0123456789abcdef', substr(md5(text), 13, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 14, 1)) - 1) % 16) AS BIGINT),
           CAST(sum((instr('0123456789abcdef', substr(md5(text), 15, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 16, 1)) - 1) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'gif_real', count(*),
           CAST(sum(1 + ((instr('0123456789abcdef', substr(md5(text), 17, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 18, 1)) - 1) % 16) AS BIGINT),
           CAST(sum(1 + ((instr('0123456789abcdef', substr(md5(text), 19, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 20, 1)) - 1) % 16) AS BIGINT),
           CAST(sum(((instr('0123456789abcdef', substr(md5(text), 21, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 22, 1)) - 1) * 65536
              + ((instr('0123456789abcdef', substr(md5(text), 23, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 24, 1)) - 1) * 256
              + ((instr('0123456789abcdef', substr(md5(text), 25, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 26, 1)) - 1)) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'video_real', count(*),
           CAST(sum(1 + ((instr('0123456789abcdef', substr(md5(text), 27, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 28, 1)) - 1) % 8) AS BIGINT),
           CAST(sum(1 + ((instr('0123456789abcdef', substr(md5(text), 29, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 30, 1)) - 1) % 8) AS BIGINT),
           CAST(sum(((instr('0123456789abcdef', substr(md5(text), 31, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 32, 1)) - 1)
              + ((instr('0123456789abcdef', substr(md5(text), 31, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), 32, 1)) - 1 + 80) % 256) AS BIGINT)
    FROM documents
    """,
)
def multimodal_decode(spark, sf_dir):
    """Multimodal decode, three layers in one row set. (1) The md5-fake
    metadata stub rows (format-level aggregates, SQL-twin). (2) 'png_real':
    each doc becomes a solid-color PNG (dims and RGB md5-derived,
    synth_solid_png — a real deflate+filtered PNG stream), pushed through
    the REAL spec decoder (decode_png_pixels, multimodal.py); sum_w/sum_h
    are decoded dimensions and sum_bytes packs the decoded per-channel
    means (r·65536+g·256+b — exact for solid colors). (3) 'jpeg_real' —
    NEW round 4: each doc becomes a solid-GRAY baseline JPEG (dims and
    level md5-derived, synth_jpeg_gray with the all-8 quant table), pushed
    through the full from-spec T.81 decoder (Huffman → dequant → IDCT,
    operators/jpeg.py); with q00=8 the solid reconstruction is EXACT
    (DC = 8·(v−128) quantizes to v−128), so sum_w/sum_h/sum(v) have a
    closed form. (4) 'gif_real' — also round 4: each doc becomes a
    solid-color GIF (palette[0] = md5-derived RGB) through REAL dictionary
    LZW encode and the full variable-width LZW decoder (operators/gif.py);
    GIF is lossless, so the same rgb-packed closed form as png_real holds
    exactly. (5) 'video_real' — round 5: each doc becomes a 3-frame
    solid-gray MJPEG AVI (public AVI RIFF container spec) decoded by the
    container walk + per-frame T.81 entropy decode + frame_sample
    (operators/avi.py). The oracle recomputes every number from md5(text):
    equality proves build→entropy-code→decode→aggregate end to end for all
    entropy-coded formats including video."""
    import hashlib as _hl

    import numpy as _np
    import pandas as _pd

    from .operators.gif import decode_gif_pixels, synth_gif
    from .operators.jpeg import decode_jpeg_pixels, synth_jpeg_gray
    from .operators.multimodal import decode_png_pixels, synth_solid_png

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    meta = decode_media_meta(docs, binary_col="payload", keep_cols=("doc_id",))
    fake = meta.groupBy("format").agg(
        F.count("*").alias("n"), F.sum("width").cast("bigint").alias("sum_w"),
        F.sum("height").cast("bigint").alias("sum_h"),
        F.sum("n_bytes").cast("bigint").alias("sum_bytes"),
    )

    def real_kernel(batches):
        for pdf in batches:
            rows = []
            for b in pdf["payload"]:
                hx = _hl.md5(bytes(b)).hexdigest()
                w = 1 + int(hx[0:2], 16) % 16
                h = 1 + int(hx[2:4], 16) % 16
                rgb = (int(hx[4:6], 16), int(hx[6:8], 16), int(hx[8:10], 16))
                img = decode_png_pixels(synth_solid_png(w, h, rgb))
                m = img.reshape(-1, 3).mean(axis=0)
                rows.append((img.shape[1], img.shape[0],
                             int(round(m[0])) * 65536 + int(round(m[1])) * 256
                             + int(round(m[2]))))
            yield _pd.DataFrame(rows, columns=["w", "h", "packed_rgb"])

    real = docs.mapInPandas(
        real_kernel, schema="w int, h int, packed_rgb bigint"
    ).agg(
        F.count("*").alias("n"),
        F.sum("w").cast("bigint").alias("sum_w"),
        F.sum("h").cast("bigint").alias("sum_h"),
        F.sum("packed_rgb").cast("bigint").alias("sum_bytes"),
    ).select(F.lit("png_real").alias("format"), "n", "sum_w", "sum_h", "sum_bytes")

    def jpeg_kernel(batches):
        for pdf in batches:
            rows = []
            for b in pdf["payload"]:
                hx = _hl.md5(bytes(b)).hexdigest()
                w = 1 + int(hx[10:12], 16) % 16
                h = 1 + int(hx[12:14], 16) % 16
                v = int(hx[14:16], 16)
                img = decode_jpeg_pixels(
                    synth_jpeg_gray(_np.full((h, w), v, dtype=_np.uint8)))
                rows.append((img.shape[1], img.shape[0], int(round(img.mean()))))
            yield _pd.DataFrame(rows, columns=["w", "h", "v"])

    jreal = docs.mapInPandas(
        jpeg_kernel, schema="w int, h int, v bigint"
    ).agg(
        F.count("*").alias("n"),
        F.sum("w").cast("bigint").alias("sum_w"),
        F.sum("h").cast("bigint").alias("sum_h"),
        F.sum("v").cast("bigint").alias("sum_bytes"),
    ).select(F.lit("jpeg_real").alias("format"), "n", "sum_w", "sum_h", "sum_bytes")

    def gif_kernel(batches):
        for pdf in batches:
            rows = []
            for b in pdf["payload"]:
                hx = _hl.md5(bytes(b)).hexdigest()
                w = 1 + int(hx[16:18], 16) % 16
                h = 1 + int(hx[18:20], 16) % 16
                pal = _np.zeros((2, 3), dtype=_np.uint8)
                pal[0] = (int(hx[20:22], 16), int(hx[22:24], 16),
                          int(hx[24:26], 16))
                img = decode_gif_pixels(
                    synth_gif(_np.zeros((h, w), dtype=_np.uint8), pal))
                px = img[0, 0]
                assert (img == px[None, None, :]).all()
                rows.append((img.shape[1], img.shape[0],
                             int(px[0]) * 65536 + int(px[1]) * 256 + int(px[2])))
            yield _pd.DataFrame(rows, columns=["w", "h", "packed_rgb"])

    greal = docs.mapInPandas(
        gif_kernel, schema="w int, h int, packed_rgb bigint"
    ).agg(
        F.count("*").alias("n"),
        F.sum("w").cast("bigint").alias("sum_w"),
        F.sum("h").cast("bigint").alias("sum_h"),
        F.sum("packed_rgb").cast("bigint").alias("sum_bytes"),
    ).select(F.lit("gif_real").alias("format"), "n", "sum_w", "sum_h", "sum_bytes")

    def video_kernel(batches):
        # round 5: each doc becomes a 3-frame solid-gray MJPEG **AVI**
        # (RIFF container from the public AVI spec, frames through the
        # from-spec T.81 encoder), decoded by the full container walk +
        # per-frame JPEG entropy decode (operators/avi.py), then
        # frame-sampled (frame_sample, 3→2 keeps frames [0, 2]). Solid
        # gray with the all-8 quant table decodes EXACTLY, so frame means
        # have a closed form the oracle recomputes from md5(text).
        from .operators.avi import decode_avi_mjpeg_frames, synth_avi_mjpeg
        from .operators.multimodal import frame_sample

        for pdf in batches:
            rows = []
            for b in pdf["payload"]:
                hx = _hl.md5(bytes(b)).hexdigest()
                w = 1 + int(hx[26:28], 16) % 8
                h = 1 + int(hx[28:30], 16) % 8
                v = int(hx[30:32], 16)
                frames = [_np.full((h, w), (v + 40 * k) % 256, _np.uint8)
                          for k in range(3)]
                dec = decode_avi_mjpeg_frames(synth_avi_mjpeg(frames))
                picked = frame_sample(_np.stack(dec), 2)
                assert (picked[0] == v).all() and (picked[1] == (v + 80) % 256).all()
                rows.append((dec[0].shape[1], dec[0].shape[0],
                             int(picked[0].mean()) + int(picked[1].mean())))
            yield _pd.DataFrame(rows, columns=["w", "h", "val_sum"])

    vreal = docs.mapInPandas(
        video_kernel, schema="w int, h int, val_sum bigint"
    ).agg(
        F.count("*").alias("n"),
        F.sum("w").cast("bigint").alias("sum_w"),
        F.sum("h").cast("bigint").alias("sum_h"),
        F.sum("val_sum").cast("bigint").alias("sum_bytes"),
    ).select(F.lit("video_real").alias("format"), "n", "sum_w", "sum_h", "sum_bytes")
    return (fake.unionByName(real).unionByName(jreal).unionByName(greal)
            .unionByName(vreal))


@q(
    "embedding_cosine_topk",
    """
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    p AS (SELECT vec_id AS probe_id, v AS pv FROM c WHERE vec_id < 10),
    sims AS (
      SELECT p.probe_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(p.pv, c.v) AS sim
      FROM p JOIN c ON c.vec_id != p.probe_id
    ), ranked AS (
      SELECT probe_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM sims
    )
    SELECT probe_id, neighbor_id, round(sim, 6) AS cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def embedding_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 per probe (first 10 vec_ids) — JVM-side
    zip_with/aggregate dot products, broadcast probes, rank with
    deterministic tie-break."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = emb.filter(F.col("vec_id") < 10)
    out = cosine_topk(emb, probes, k=5)
    return out.select("probe_id", "neighbor_id", _r6(F.col("cos_sim")).alias("cos_sim"), "rank")


@qraw("embedding_ann_lsh")
def embedding_ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate neighbors (Charikar'02 random hyperplanes,
    md5-derived deterministic projections) — the scale path where the
    brute-force cross join is replaced by a bucket join."""
    from .operators.similarity import cosine_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = emb.filter(F.col("vec_id") < 10)
    out = cosine_topk_lsh(emb, probes, k=5, n_planes=6)
    return out.select("probe_id", "neighbor_id", _r6(F.col("cos_sim")).alias("cos_sim"), "rank")


# =====================================================================
# Catalyst-native query capability (TPC-H-style, joins/broadcast)
# =====================================================================

@q(
    "tpch_q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY 1, 2
    """,
)
def tpch_q1_pricing(spark, sf_dir):
    """TPC-H Q1-style pricing summary — pure Catalyst partial aggregation."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            _r6(F.avg("l_quantity")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


@q(
    "tpch_q3_topk",
    """
    WITH rev AS (
      SELECT o.o_orderkey,
             round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
    ), ranked AS (
      SELECT o_orderkey, revenue,
             row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS rk
      FROM rev
    )
    SELECT o_orderkey, revenue FROM ranked WHERE rk <= 10
    """,
)
def tpch_q3_topk(spark, sf_dir):
    """TPC-H Q3-style top-10 revenue orders: broadcast dim join + top-k with
    deterministic tie-break."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    # global top-10 via orderBy().limit() → TakeOrderedAndProject (per-
    # partition partial top-k, driver merge) — a global row_number() window
    # would move every group to ONE partition (WindowExec warning, and a
    # single-node sort at 100 TB)
    return rev.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10).select(
        "o_orderkey", "revenue"
    )


# =====================================================================
# Channel transforms (CAR / affine) — Catalyst-native
# =====================================================================

@q(
    "car_reference",
    """
    SELECT user_id,
           CAST(floor(epoch(ts)/60.0) AS BIGINT) AS bin_m,
           event_type,
           round(value - avg(value) OVER (PARTITION BY user_id, CAST(floor(epoch(ts)/60.0) AS BIGINT)), 6) AS car
    FROM events
    """,
)
def car_reference(spark, sf_dir):
    """Common-average rereference (affinetransform.py CommonRereference):
    x − cross-channel mean at the same (key, bin) — one window aggregate."""
    from .operators.affine import common_average_reference

    ev = _events(spark, sf_dir)
    binned = ev.withColumn("bin_m", F.floor(F.col("ts") / 60.0).cast("bigint"))
    out = common_average_reference(
        binned, key_cols=["user_id"], ts_col="bin_m", ch_col="event_type",
        value_col="value", out_col="car",
    )
    return out.select("user_id", "bin_m", "event_type", _r6(F.col("car")).alias("car"))


@q(
    "affine_transform",
    """
    WITH ch AS (
      SELECT user_id, CAST(floor(epoch(ts)/3600.0) AS BIGINT) AS bin_m, event_type,
             round(avg(value), 6) AS v
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2, 3
    ), wide AS (
      SELECT a.user_id, a.bin_m, a.v AS click, b.v AS view
      FROM ch a JOIN ch b ON a.user_id = b.user_id AND a.bin_m = b.bin_m
       AND a.event_type = 'click' AND b.event_type = 'view'
    )
    SELECT user_id, bin_m,
           round(2.0 * click - 1.0 * view + 1.0, 6) AS y_diff,
           round(0.5 * click + 0.5 * view, 6) AS y_mean
    FROM wide
    """,
)
def affine_transform_q(spark, sf_dir):
    """AffineTransform y = A·x + b over the channel axis
    (affinetransform.py:1-46): broadcast coefficient join + groupBy sum."""
    from .operators.affine import affine_transform
    import numpy as np

    ev = _events(spark, sf_dir).filter(F.col("event_type").isin("click", "view"))
    ch = (
        ev.groupBy("user_id", F.floor(F.col("ts") / 3600.0).cast("bigint").alias("bin_m"),
                   F.col("event_type").alias("ch"))
        .agg(_r6(F.avg("value")).alias("value"))
    )
    # matrix applies only where the full channel vector exists
    complete = ch.groupBy("user_id", "bin_m").agg(F.count("*").alias("nch")).filter("nch = 2")
    ch = ch.join(complete.select("user_id", "bin_m"), on=["user_id", "bin_m"])
    out = affine_transform(
        spark, ch, np.array([[2.0, -1.0], [0.5, 0.5]]),
        in_channels=["click", "view"], out_channels=["y_diff", "y_mean"],
        key_cols=["user_id"], ts_col="bin_m", ch_col="ch", value_col="value",
        offsets=np.array([1.0, 0.0]),
    )
    wide = out.groupBy("user_id", "bin_m").pivot("ch", ["y_diff", "y_mean"]).agg(
        F.first("value")
    )
    return wide.select("user_id", "bin_m", _r6(F.col("y_diff")).alias("y_diff"),
                       _r6(F.col("y_mean")).alias("y_mean"))


# =====================================================================
# Extended filters (FIR oracle-checked; IIR/adaptive rows-only)
# =====================================================================

def _firwin_oracle() -> str:
    from .operators.filters2 import firwin

    taps = firwin(9, 0.1, fs=1.0)
    terms = []
    for k, w in enumerate(taps):
        src = "value" if k == 0 else f"coalesce(lag(value, {k}) OVER w, first_value(value) OVER w)"
        terms.append(f"{w!r} * {src}")
    expr = " + ".join(terms)
    return f"""
    SELECT user_id, epoch(ts) AS ts, round({expr}, 6) AS fir
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """


@q("fir_lowpass", _firwin_oracle())
def fir_lowpass(spark, sf_dir):
    """Window-method FIR lowpass (firfilter.py:18-120), causal with x0 edge
    clamp; oracle expands the convolution into lag terms."""
    from .operators.filters import apply_series_kernel, fir_filter_np
    from .operators.filters2 import firwin

    taps = firwin(9, 0.1, fs=1.0)
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = apply_series_kernel(ev, lambda x: fir_filter_np(x, taps, "causal"),
                              key_cols=["user_id"], ts_col="ts",
                              value_col="value", out_col="fir")
    return out.select("user_id", "ts", _r6(F.col("fir")).alias("fir"))


@qraw("cheby_lowpass")  # IIR → rows-only
def cheby_lowpass(spark, sf_dir):
    """Chebyshev-I lowpass (cheby.py:18-127) via the from-scratch design +
    SOS kernel; also the Decimate anti-alias filter family."""
    from .operators.filters import apply_series_kernel, sosfilt, sosfilt_zi
    from .operators.filters2 import cheby_sos

    sos = cheby_sos(4, 1.0, 0.05, "lowpass", fs=1.0, cheby_type="cheby1")

    def kernel(x):
        import numpy as np
        if x.size == 0:
            return x
        return sosfilt(sos, x, sosfilt_zi(sos) * x[0])

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = apply_series_kernel(ev, kernel, key_cols=["user_id"], ts_col="ts",
                              value_col="value", out_col="filtered")
    return out.select("user_id", "ts", _r6(F.col("filtered")).alias("filtered"))


@qraw("comb_notch")  # IIR → rows-only
def comb_notch(spark, sf_dir):
    """Comb notch at a fundamental + harmonics (combfilter.py:19-60), RBJ
    biquad cascade."""
    from .operators.filters import apply_series_kernel, sosfilt, sosfilt_zi
    from .operators.filters2 import comb_sos

    sos = comb_sos(1.0, fundamental_freq=0.1, num_harmonics=3, q_factor=10.0)

    def kernel(x):
        if x.size == 0:
            return x
        return sosfilt(sos, x, sosfilt_zi(sos) * x[0])

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = apply_series_kernel(ev, kernel, key_cols=["user_id"], ts_col="ts",
                              value_col="value", out_col="notched")
    return out.select("user_id", "ts", _r6(F.col("notched")).alias("notched"))


@qraw("butterworth_zerophase")  # forward-backward IIR → rows-only
def butterworth_zerophase(spark, sf_dir):
    """Zero-phase Butterworth (butterworthzerophase.py:1-40): forward +
    backward pass with odd-reflection padding."""
    from .operators.filters import apply_series_kernel, butter_sos
    from .operators.filters2 import sosfiltfilt_np

    sos = butter_sos(4, 0.05, "lowpass", fs=1.0)
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = apply_series_kernel(ev, lambda x: sosfiltfilt_np(sos, x),
                              key_cols=["user_id"], ts_col="ts",
                              value_col="value", out_col="zp")
    return out.select("user_id", "ts", _r6(F.col("zp")).alias("zp"))


@qraw("hilbert_envelope")  # FIR Hilbert + magnitude → rows-only
def hilbert_envelope(spark, sf_dir):
    """FIR Hilbert envelope (fir_hilbert.py:22-335): |x + j·H(x)|."""
    import numpy as np

    from .operators.filters import apply_series_kernel, fir_filter_np
    from .operators.filters2 import fir_hilbert

    taps = fir_hilbert(31)

    def kernel(x):
        return np.sqrt(x * x + fir_filter_np(x, taps, "same") ** 2)

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = apply_series_kernel(ev, kernel, key_cols=["user_id"], ts_col="ts",
                              value_col="value", out_col="envelope")
    return out.select("user_id", "ts", _r6(F.col("envelope")).alias("envelope"))


@qraw("filterbank_bands")  # multi-kernel FIR → rows-only
def filterbank_bands(spark, sf_dir):
    """Filterbank (filterbank.py:26-302): parallel labeled FIR kernels, one
    output stream per band; reported as mean |y| per (user, band)."""
    import numpy as np
    import pandas as pd

    from .operators.filters2 import filterbank_np, firwin

    kernels = {
        "low": firwin(17, 0.05, fs=1.0),
        "mid": firwin(17, (0.05, 0.15), fs=1.0),
        "high": firwin(17, 0.15, fs=1.0, pass_zero=False),
    }
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts", kind="mergesort")
        x = pdf["value"].to_numpy(np.float64)
        outs = filterbank_np(x, kernels, mode="same")
        return pd.DataFrame({
            "user_id": pdf["user_id"].iloc[0],
            "band": list(outs),
            "mean_abs": [float(np.mean(np.abs(v))) for v in outs.values()],
        })

    out = ev.groupBy("user_id").applyInPandas(kern, "user_id bigint, band string, mean_abs double")
    return out.select("user_id", "band", _r6(F.col("mean_abs")).alias("mean_abs"))


@qraw("lms_mains_canceller")  # adaptive recurrence → rows-only
def lms_mains_canceller_q(spark, sf_dir):
    """LMS mains canceller (adaptive_lnc.py): residual power per user after
    cancelling an injected tone."""
    import numpy as np
    import pandas as pd

    from .operators.filters2 import lms_mains_canceller

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts", kind="mergesort")
        x = pdf["value"].to_numpy(np.float64)
        # inject a deterministic tone then cancel it
        t = np.arange(x.size)
        tone = 25.0 * np.sin(2 * np.pi * 0.1 * t)
        y = lms_mains_canceller(x + tone, f0=0.1, fs=1.0, lr=0.05)
        return pd.DataFrame({
            "user_id": [pdf["user_id"].iloc[0]],
            "n": [x.size],
            "residual_tone_power": [float(np.mean((y - x)[x.size // 2:] ** 2))],
        })

    out = ev.groupBy("user_id").applyInPandas(
        kern, "user_id bigint, n bigint, residual_tone_power double")
    return out.select("user_id", "n", F.round("residual_tone_power", 4).alias("residual_tone_power"))


@qraw("adaptive_lattice_notch")  # adaptive recurrence → rows-only
def adaptive_lattice_notch_q(spark, sf_dir):
    """Frequency-tracking lattice notch (adaptive_lattice_notch.py:12-55):
    tracked frequency after convergence per user."""
    import numpy as np
    import pandas as pd

    from .operators.filters2 import adaptive_lattice_notch

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts", kind="mergesort")
        n = len(pdf)
        t = np.arange(n)
        tone = np.sin(2 * np.pi * 0.15 * t)
        _, freqs = adaptive_lattice_notch(tone, f0_init=0.1, fs=1.0, mu=2e-3)
        return pd.DataFrame({
            "user_id": [pdf["user_id"].iloc[0]],
            "tracked_freq": [float(freqs[-1]) if n else None],
        })

    out = ev.groupBy("user_id").applyInPandas(kern, "user_id bigint, tracked_freq double")
    return out.select("user_id", F.round("tracked_freq", 4).alias("tracked_freq"))


# =====================================================================
# Spectral extensions
# =====================================================================

@qraw("spectrogram")  # FFT → rows-only
def spectrogram_q(spark, sf_dir):
    """Spectrogram (spectrogram.py:47-68): Window → Spectrum with the window
    axis relabeled as time (win start index)."""
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 10).select("user_id", "ts", "value")
    spec = spectrum(ev, win_len=32, fs=1.0, key_cols=["user_id"], ts_col="ts",
                    value_col="value", output="power")
    return spec.select(
        "user_id", (F.col("win_id") * 32).alias("time_idx"), "freq_idx",
        _r6(F.col("spec")).alias("power"),
    )


@qraw("band_power")  # FFT + ranged aggregate → rows-only
def band_power_q(spark, sf_dir):
    """BandPower (bandpower.py:41-66): spectrogram → mean power per frequency
    band."""
    from .operators.spectrum import band_power

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 10).select("user_id", "ts", "value")
    out = band_power(ev, win_len=32, fs=1.0, bands=[(0.0, 0.1), (0.1, 0.3), (0.3, 0.5)],
                     key_cols=["user_id"], ts_col="ts", value_col="value")
    return out.select("user_id", "win_id", "band_id", _r6(F.col("mean")).alias("mean_power"))


@qraw("cwt_ricker")  # wavelet filterbank → rows-only
def cwt_ricker(spark, sf_dir):
    """CWT via a Ricker (mexican-hat) wavelet filterbank (wavelets.py:22-60):
    |conv(x, ψ_a)| per scale, mean per (user, scale)."""
    import numpy as np
    import pandas as pd

    from .operators.filters import fir_filter_np

    def ricker(points: int, a: float) -> np.ndarray:
        vec = np.arange(0, points) - (points - 1.0) / 2
        amp = 2 / (np.sqrt(3 * a) * np.pi**0.25)
        return amp * (1 - (vec / a) ** 2) * np.exp(-0.5 * (vec / a) ** 2)

    scales = [2.0, 4.0, 8.0]
    kernels = {f"a{a:g}": ricker(int(10 * a), a) for a in scales}
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 20).select("user_id", "ts", "value")

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts", kind="mergesort")
        x = pdf["value"].to_numpy(np.float64)
        return pd.DataFrame({
            "user_id": pdf["user_id"].iloc[0],
            "scale": list(kernels),
            "mean_abs_coef": [float(np.mean(np.abs(fir_filter_np(x, k, "same")))) for k in kernels.values()],
        })

    out = ev.groupBy("user_id").applyInPandas(kern, "user_id bigint, scale string, mean_abs_coef double")
    return out.select("user_id", "scale", _r6(F.col("mean_abs_coef")).alias("mean_abs_coef"))


# =====================================================================
# Generators + composite resample-concat
# =====================================================================

@q(
    "oscillator_rms",
    """
    WITH osc AS (
      SELECT CAST(i AS BIGINT) AS i, sin(2 * pi() * 5.0 * (i / 100.0)) AS value
      FROM range(0, 1000) t(i)
    )
    SELECT CAST(floor(i / 20) AS BIGINT) AS bin_m,
           round(sqrt(avg(value * value)), 6) AS rms,
           count(*) AS n
    FROM osc GROUP BY 1
    """,
)
def oscillator_rms(spark, sf_dir):
    """Oscillator generator (tests/helpers/synth.py) → tumbling RMS; the
    oracle regenerates the identical sinusoid in SQL (cross-engine
    deterministic generators)."""
    from .sources.synth import oscillator

    osc = oscillator(spark, n=1000, fs=100.0, freq=5.0)
    # recover the integer sample index before binning: ts*fs alone can land an
    # ulp below the integer (0.19*100 = 18.999…96) and fall into the wrong bin
    binned = osc.withColumn("bin_m", F.floor(F.round(F.col("ts") * 100, 0) / 20).cast("bigint"))
    return binned.groupBy("bin_m").agg(
        _r6(F.sqrt(F.avg(F.col("value") ** 2))).alias("rms"), F.count("*").alias("n")
    )


@q(
    "resample_concat",
    """
    WITH a AS (
      SELECT user_id, CAST(floor(epoch(ts)/3600.0) AS BIGINT) AS g,
             round(avg(value), 6) AS v FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ), b AS (
      SELECT user_id, CAST(floor(epoch(ts)/3600.0) AS BIGINT) AS g,
             round(avg(value), 6) AS v FROM events WHERE event_type = 'error' GROUP BY 1, 2
    ), grid AS (
      SELECT user_id, gg.g
      FROM (SELECT user_id, min(g) AS g0, max(g) AS g1
            FROM (SELECT * FROM a UNION ALL SELECT * FROM b) GROUP BY 1) s,
           LATERAL unnest(range(s.g0, s.g1 + 1)) AS gg(g)
    ), fa AS (
      SELECT g.user_id, g.g,
             last_value(a.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.g) AS av
      FROM grid g LEFT JOIN a ON a.user_id = g.user_id AND a.g = g.g
    ), fb AS (
      SELECT g.user_id, g.g,
             last_value(b.v IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.g) AS bv
      FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.g = g.g
    )
    SELECT fa.user_id, fa.g AS bin_m, fa.av AS a, fb.bv AS b,
           round(fa.av + fb.bv, 6) AS sum_ab
    FROM fa JOIN fb ON fa.user_id = fb.user_id AND fa.g = fb.g
    WHERE fa.av IS NOT NULL AND fb.bv IS NOT NULL
    """,
)
def resample_concat(spark, sf_dir):
    """ResampleConcat (resampleconcat.py:1-186): two streams forward-filled
    onto a shared grid by construction, then concatenated/joined."""
    ev = _events(spark, sf_dir)

    def stream(etype):
        return (
            ev.filter(F.col("event_type") == etype)
            .groupBy("user_id", F.floor(F.col("ts") / 3600.0).cast("bigint").alias("g"))
            .agg(_r6(F.avg("value")).alias("v"))
        )

    a, b = stream("click"), stream("error")
    both = a.unionByName(b)
    grid = (
        both.groupBy("user_id").agg(F.min("g").alias("g0"), F.max("g").alias("g1"))
        .select("user_id", F.explode(F.sequence("g0", "g1")).alias("g"))
    )
    wff = Window.partitionBy("user_id").orderBy("g").rowsBetween(Window.unboundedPreceding, 0)
    fa = grid.join(a, on=["user_id", "g"], how="left").withColumn(
        "a", F.last("v", ignorenulls=True).over(wff)).drop("v")
    fb = grid.join(b, on=["user_id", "g"], how="left").withColumn(
        "b", F.last("v", ignorenulls=True).over(wff)).drop("v")
    j = fa.join(fb, on=["user_id", "g"]).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    return j.select("user_id", F.col("g").alias("bin_m"), "a", "b",
                    _r6(F.col("a") + F.col("b")).alias("sum_ab"))


@qraw(
    "digitize_roundtrip",
    """
    WITH enc AS (
      SELECT event_type, value,
             CAST(floor((greatest(least(value, 500.0), -500.0) - 0.0) / (1000.0 / 65535) + 0.5) AS INTEGER) AS code
      FROM events
    )
    SELECT event_type,
           round(avg(abs(value - (code * (1000.0 / 65535) + 0.0))), 9) AS mean_abs_err,
           round(max(abs(value - (code * (1000.0 / 65535) + 0.0))), 9) AS max_abs_err
    FROM enc WHERE value BETWEEN -500.0 AND 500.0 GROUP BY 1
    """,
)
def digitize_roundtrip(spark, sf_dir):
    """Digitize inverse map (digitize.py:57-112 attrs): x ≈ code·conversion +
    offset, quantization error bounded by conversion/2."""
    ev = _events(spark, sf_dir)
    conversion = 1000.0 / 65535
    clipped = mathops.clip(F.col("value"), -500.0, 500.0)
    code = F.floor((clipped - 0.0) / conversion + 0.5).cast("int")
    dec = code * conversion + 0.0
    return (
        ev.filter(F.col("value").between(-500.0, 500.0))
        .withColumn("err", F.abs(F.col("value") - dec))
        .groupBy("event_type")
        .agg(F.round(F.avg("err"), 9).alias("mean_abs_err"),
             F.round(F.max("err"), 9).alias("max_abs_err"))
    )


@q(
    "resample_onto_reference",
    """
    WITH src AS (
      SELECT user_id, epoch(ts) AS t, value, 0 AS is_grid
      FROM events WHERE event_type <> 'view'
    ), ref AS (
      SELECT user_id, epoch(ts) AS t, CAST(NULL AS DOUBLE) AS value, 1 AS is_grid
      FROM events WHERE event_type = 'view'
    ), u AS (
      SELECT * FROM src UNION ALL SELECT * FROM ref
    ), br AS (
      SELECT user_id, t, is_grid,
             last_value(value IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS) OVER wp AS pt,
             first_value(value IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS) OVER wn AS nt
      FROM u
      WINDOW wp AS (PARTITION BY user_id ORDER BY t, is_grid
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY t, is_grid
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, t AS ts,
           round(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                   CASE WHEN nt = pt THEN pv ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END
                 WHEN pv IS NOT NULL THEN pv ELSE nv END, 6) AS value
    FROM br WHERE is_grid = 1
    """,
)
def resample_onto_reference(spark, sf_dir):
    """Resample onto an external reference clock (resample.py:145-404
    output_reference mode): the non-'view' signal interpolated onto the
    'view' events' timestamps."""
    from .operators.resample import resample_onto

    ev = _events(spark, sf_dir)
    src = ev.filter(F.col("event_type") != "view").select("user_id", "ts", "value")
    ref = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    out = resample_onto(src, ref, key_cols=["user_id"], ts_col="ts", value_col="value")
    return out.select("user_id", "ts", _r6(F.col("value")).alias("value"))


def _spectrum_dft_oracle() -> str:
    taps = np.hamming(16)
    wlist = ", ".join(repr(float(w)) for w in taps)
    return f"""
    WITH idx AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS gidx,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ), w AS (
      SELECT user_id,
             value * ([{wlist}])[(gidx % 16) + 1] AS wv,
             gidx // 16 AS win_id, gidx % 16 AS pos
      FROM idx WHERE (gidx // 16 + 1) * 16 <= n
    )
    SELECT user_id, win_id, CAST(t.k AS INTEGER) AS freq_idx,
           round(power(sum(wv * cos(2 * pi() * t.k * pos / 16.0)), 2)
               + power(sum(wv * sin(2 * pi() * t.k * pos / 16.0)), 2), 6) AS power
    FROM w, range(0, 9) t(k)
    GROUP BY 1, 2, 3
    """


@q("spectrum_dft16", _spectrum_dft_oracle())
def spectrum_dft16(spark, sf_dir):
    """SpectrumTransformer with an exact SQL oracle: a 16-point hamming-
    windowed power spectrum is just trig sums, so the DuckDB twin evaluates
    the DFT directly — the one spectral query whose numbers (not just row
    counts) are cross-engine verified. |rfft|² ≡ (Σwv·cos)² + (Σwv·sin)²."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    spec = spectrum(ev, win_len=16, fs=1.0, key_cols=["user_id"], ts_col="ts",
                    value_col="value", window_fn="hamming", output="power")
    return spec.select("user_id", "win_id", "freq_idx", _r6(F.col("spec")).alias("power"))


@qraw("embedding_ann_ivf")
def embedding_ann_ivf(spark, sf_dir):
    """IVF-Flat approximate neighbors (k-means coarse quantizer, 16 cells,
    3 probed) — the clustered-data scale path next to the LSH variant."""
    from .operators.similarity import cosine_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    probes = emb.filter(F.col("vec_id") < 10)
    out = cosine_topk_ivf(emb, probes, k=5, n_cells=16, n_probe_cells=3)
    return out.select("probe_id", "neighbor_id", _r6(F.col("cos_sim")).alias("cos_sim"), "rank")


def _remez_oracle() -> str:
    from .operators.remez import remez

    taps = remez(21, [(0.0, 0.08), (0.15, 0.5)], [1.0, 0.0], fs=1.0)
    terms = []
    for k, w in enumerate(taps):
        src = "value" if k == 0 else f"coalesce(lag(value, {k}) OVER w, first_value(value) OVER w)"
        terms.append(f"{w!r} * {src}")
    expr = " + ".join(terms)
    return f"""
    SELECT user_id, epoch(ts) AS ts, round({expr}, 6) AS pmc
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """


@q("parks_mcclellan_fir", _remez_oracle())
def parks_mcclellan_fir(spark, sf_dir):
    """Parks-McClellan equiripple FIR (fir_pmc.py:18-211; Remez exchange
    implemented from the published algorithm in operators/remez.py), applied
    causally with x0 edge clamp; oracle expands the optimal taps into lag
    terms."""
    from .operators.filters import apply_series_kernel, fir_filter_np
    from .operators.remez import remez

    taps = remez(21, [(0.0, 0.08), (0.15, 0.5)], [1.0, 0.0], fs=1.0)
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = apply_series_kernel(ev, lambda x: fir_filter_np(x, taps, "causal"),
                              key_cols=["user_id"], ts_col="ts",
                              value_col="value", out_col="pmc")
    return out.select("user_id", "ts", _r6(F.col("pmc")).alias("pmc"))


@q("fbcca_frequency_scores")
def fbcca_frequency_scores(spark, sf_dir):
    """FBCCA frequency detection (fbcca.py:29-309): per-window canonical
    correlation against sin/cos harmonic design matrices; a deterministic
    tone is injected so the detector has signal to find."""
    from .operators.fbcca import fbcca

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 10).select("user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts")
    gidx = (F.row_number().over(w) - 1).cast("double")
    # inject a 0.1-cycles/sample tone on top of the event values
    ev = ev.withColumn("value", F.col("value") / 100.0 + 3.0 * F.sin(2 * math.pi * 0.1 * gidx))
    out = fbcca(ev, fs=1.0, freqs=[0.05, 0.1, 0.2], win_len=64, harmonics=2,
                softmax_beta=0.0, key_cols=["user_id"], ts_col="ts", value_col="value")
    return out.select("user_id", "win_id", "target_freq",
                      F.round("score", 4).alias("score"))


@qraw("cwt_morlet")
def cwt_morlet_q(spark, sf_dir):
    """Morlet CWT (wavelets.py:22-60): |coefficient| per (key, freq, time),
    summarized as the per-(user, freq) mean."""
    from .operators.spectrum import cwt_morlet

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 10).select("user_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts")
    ev = ev.withColumn("ts", (F.row_number().over(w) - 1).cast("double"))
    out = cwt_morlet(ev, fs=1.0, freqs=[0.05, 0.1, 0.2], key_cols=["user_id"],
                     ts_col="ts", value_col="value")
    return out.groupBy("user_id", "freq_hz").agg(
        _r6(F.avg("abs_coef")).alias("mean_abs_coef"), F.count("*").alias("n")
    )


def _pipeline_chain_oracle() -> str:
    taps = gaussian_kernel(_GAUSS_SIGMA, _GAUSS_DT)
    m = len(taps) // 2
    terms = []
    for j, wt in enumerate(taps):
        off = j - m
        if off < 0:
            src = f"coalesce(lag(value, {-off}) OVER w, first_value(value) OVER w)"
        elif off > 0:
            src = f"coalesce(lead(value, {off}) OVER w, last_value(value) OVER wfull)"
        else:
            src = "value"
        terms.append(f"{wt!r} * {src}")
    smooth = " + ".join(terms)
    return f"""
    WITH smoothed AS (
      SELECT user_id, epoch(ts) AS t, {smooth} AS sv
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts),
             wfull AS (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ), binned AS (
      SELECT user_id, CAST(floor(t/300.0) AS BIGINT) AS bin_m, avg(sv) AS v
      FROM smoothed GROUP BY 1, 2
    ), grid AS (
      SELECT s.user_id, gg.g AS bin_m
      FROM (SELECT user_id, min(bin_m) AS b0, max(bin_m) AS b1 FROM binned GROUP BY 1) s,
           LATERAL unnest(range(s.b0, s.b1 + 1)) AS gg(g)
    ), br AS (
      SELECT g.user_id, g.bin_m, b.v,
             last_value(b.v IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN b.v IS NOT NULL THEN g.bin_m END IGNORE NULLS) OVER wp AS pt,
             first_value(b.v IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN b.v IS NOT NULL THEN g.bin_m END IGNORE NULLS) OVER wn AS nt
      FROM grid g LEFT JOIN binned b USING (user_id, bin_m)
      WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.bin_m
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY g.user_id ORDER BY g.bin_m
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bin_m,
           round(CASE WHEN v IS NOT NULL THEN v
                 WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                   pv + (nv - pv) * CAST(bin_m - pt AS DOUBLE) / (nt - pt)
                 WHEN pv IS NOT NULL THEN pv ELSE nv END, 6) AS value,
           CASE WHEN v IS NULL THEN 1 ELSE 0 END AS filled
    FROM br
    """


@q("pipeline_smooth_rollup_gapfill", _pipeline_chain_oracle())
def pipeline_smooth_rollup_gapfill(spark, sf_dir):
    """The composed north-star chain in ONE Catalyst plan: Gaussian FIR smooth
    (per-key Arrow kernel) → 5-minute mean rollup (JVM partial agg) → linear
    gap-fill of missing bins (sequence/explode + window brackets) — every
    stage oracle-checked end-to-end through the composition."""
    from .operators.resample import resample_linear

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    smoothed = gaussian_smooth(ev, _GAUSS_SIGMA, _GAUSS_DT, key_cols=["user_id"],
                               ts_col="ts", value_col="value", out_col="sv")
    binned = (
        smoothed.withColumn("bin_m", F.floor(F.col("ts") / 300.0).cast("bigint"))
        .groupBy("user_id", "bin_m")
        .agg(F.avg("sv").alias("v"))
    )
    filled = resample_linear(
        binned.select("user_id", F.col("bin_m").cast("double").alias("ts"), F.col("v").alias("value")),
        1.0, key_cols=["user_id"], ts_col="ts", value_col="value", fill="last",
    )
    out = filled.join(
        binned.select("user_id", F.col("bin_m").cast("double").alias("ts"), F.lit(0).alias("filled")),
        on=["user_id", "ts"], how="left",
    ).withColumn("filled", F.coalesce(F.col("filled"), F.lit(1)))
    return out.select("user_id", F.col("ts").cast("bigint").alias("bin_m"),
                      _r6(F.col("value")).alias("value"), "filled")


# Combined suite queries (driver registry is capped at 50 entries; suites
# expose the remaining operators with full oracles) — imported last so the
# registration order keeps the per-operator queries first.
from . import entry_suites  # noqa: E402,F401  (registers via @q on import)
