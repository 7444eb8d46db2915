"""Tiered continuous aggregates (1m → 1h → 1d) with retention, lineage, and
checkpoint-resume — the north-star rollup pipeline.

Physical design (SURVEY.md §7, BASELINE.json north_rule):

- **Decomposable partials.** Each tier stores ``(n, sum, min, max, sum_sq)``
  per (url, bin). 1h re-aggregates the 1m *partials* (sum of n/sum/sum_sq,
  min of min, max of max), 1d re-aggregates 1h — no re-scan of raw pages
  (the "factor windows" rewrite of correlated window aggregates, ICDE'22:
  coarser windows computed from finer factor windows).
  mean = sum/n and std = sqrt(sum_sq/n − mean²) are derived at read time, so
  every tier's points match a direct computation from raw data exactly.
- **Range-bucket partitioning on warc_ts.** Output parquet is partitioned by
  ``ts_bucket`` (hours for 1m tier, days above); at 10^12 rows this is what
  partition pruning and retention expiry operate on (range encoding for
  partition elimination, EDBT'18). (Iceberg's
  ``hours(warc_ts)`` partition transform is the cluster-deployment analog;
  the sandbox stand-in is hive-style parquet partitions.)
- **Retention expiry** = dropping whole ts_bucket partitions — an O(1)
  metadata operation, never a row-level delete.
- **Resumable jobs.** A ``_lineage`` parquet table records one row per
  (tier, ts_bucket) with row counts and a content fingerprint, committed
  after the bucket's files land. On restart, buckets present in lineage are
  skipped — the batch analog of the reference's carried operator state
  (SURVEY.md §2.11: partial bins / zi / phase become resume checkpoints).
- **Skew.** The 1m groupBy key is (url, bin) — high cardinality, and the
  exchange carries map-side partials, so a hot url's raw rows never meet on
  one reducer; the 1m rollup has no salted route (salted two-stage
  partials cost more CPU on a 40 %-hot-url input, SCALE.md §Skew). The
  per-key *ordered* kernels (EWMA etc.) are where a hot url would
  serialize; :func:`salted_repartition` splits those by (url, salt) when a
  single url's history outgrows a task.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TIERS = {"1m": 60, "1h": 3600, "1d": 86400}
PARTIAL_COLS = ["n", "sum", "min", "max", "sum_sq"]
# every tier's columns as stored; ts_bucket is the hive partition column
TIER_SCHEMA = ("url string, bin_m bigint, n bigint, sum double, min double, "
               "max double, sum_sq double, ts_bucket bigint")


def pages_signal(pages: DataFrame) -> DataFrame:
    """The rollup input signal: per-crawl page size per url
    (``value = length(html)``), plus epoch-seconds ts."""
    return pages.select(
        "url",
        F.col("warc_ts").cast("double").alias("ts"),
        F.length("html").cast("double").alias("value"),
    )


def rollup_base(signal: DataFrame, bin_seconds: int = 60) -> DataFrame:
    """Tier-1 rollup from raw signal: decomposable partials per (url, bin_m)."""
    b = F.floor(F.col("ts") / bin_seconds).cast("bigint")
    return (
        signal.withColumn("bin_m", b)
        .groupBy("url", "bin_m")
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.sum(F.col("value") * F.col("value")).alias("sum_sq"),
        )
    )


def rollup_next(prev: DataFrame, factor: int) -> DataFrame:
    """Re-aggregate a finer tier's partials into a coarser tier
    (1m → 1h: factor=60; 1h → 1d: factor=24)."""
    return (
        prev.withColumn("bin_m", F.floor(F.col("bin_m") / factor).cast("bigint"))
        .groupBy("url", "bin_m")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.sum("sum_sq").alias("sum_sq"),
        )
    )


def finalize(rollup: DataFrame, bin_seconds: int) -> DataFrame:
    """Derive mean/std and the bin's start timestamp from the partials."""
    mean = F.col("sum") / F.col("n")
    var = F.col("sum_sq") / F.col("n") - mean * mean
    return rollup.select(
        "url",
        "bin_m",
        (F.col("bin_m") * bin_seconds).cast("double").alias("bin_ts"),
        "n",
        "sum",
        "min",
        "max",
        mean.alias("mean"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("std"),
    )


def _bucket_col(bin_seconds: int):
    """Partition bucket: hours for sub-hour tiers, days otherwise."""
    per = 3600 if bin_seconds < 3600 else 86400
    return F.floor(F.col("bin_m") * bin_seconds / per).cast("bigint").alias("ts_bucket")


class RollupStore:
    """Hive-partitioned parquet lakehouse with lineage + retention.

    Layout: ``root/tier=<t>/ts_bucket=<b>/*.parquet`` and
    ``root/_lineage/*.parquet`` (tier, ts_bucket, n_rows, written_at).
    ``root/_staging/tier=<t>-<uuid>/`` holds one write_tier call's Spark
    write until its bucket dirs are renamed into the tier; a bucket's
    lineage ``n_rows`` is the sum of the row counts in its staged files'
    parquet footers. Readers never look under ``_staging``.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.lineage_dir = os.path.join(root, "_lineage")

    # -- lineage ----------------------------------------------------------
    def _lineage_files(self) -> list[str]:
        # Only VISIBLE parquet files: _write_lineage stages each file as a
        # dot-prefixed .tmp before its atomic rename, and a directory
        # holding only such a tmp is non-empty to os.listdir but EMPTY to
        # Spark's listing — reading it raised UNABLE_TO_INFER_SCHEMA (race
        # found by tools/stress_concurrent_writers.py, 2-in-50 under two
        # overlapping writers). A file visible here is always complete
        # (atomic rename), so a read can never see a partial.
        if not os.path.isdir(self.lineage_dir):
            return []
        return [f for f in os.listdir(self.lineage_dir)
                if f.endswith(".parquet") and not f.startswith((".", "_"))]

    def _lineage_rows(self, tier: str, columns: list[str]) -> set[tuple]:
        # lineage is driver-side metadata (a few hundred tiny rows): read the
        # visible files directly with pyarrow instead of launching a Spark
        # read job — the old Spark path cost 0.2-0.5 s of job round trips per
        # write_tier commit at sf0.1, pyarrow ~10 ms (the same asymmetry as
        # _write_lineage, which always wrote with pyarrow).
        while True:
            out: set[tuple] = set()
            try:
                for f in self._lineage_files():
                    t = pq.read_table(os.path.join(self.lineage_dir, f),
                                      columns=["tier", *columns])
                    t = t.filter(pc.equal(t.column("tier"), tier))
                    out.update(zip(*(t.column(c).to_pylist() for c in columns)))
                return out
            except FileNotFoundError:
                # a concurrent reopen_buckets deleted a listed file; the
                # file replacing it was written first, so a re-list sees it
                continue

    def completed_buckets(self, tier: str) -> set[int]:
        return {b for (b,) in self._lineage_rows(tier, ["ts_bucket"])}

    def commits(self, tier: str) -> set[tuple[int, float]]:
        """``(ts_bucket, written_at)`` of each committed bucket of ``tier``.
        Unlike :meth:`completed_buckets` this changes when a bucket is
        reopened and written again, so it tells whether an output derived
        from the tier is still current."""
        return self._lineage_rows(tier, ["ts_bucket", "written_at"])

    def _write_lineage(self, table: pa.Table):
        # write-temp + atomic rename: a concurrent completed_buckets read
        # must never see a half-written parquet file (the dot-prefixed temp
        # is invisible to parquet directory listings)
        os.makedirs(self.lineage_dir, exist_ok=True)
        fname = (f"lineage-{int(time.time() * 1e6)}-{os.getpid()}-"
                 f"{uuid.uuid4().hex[:8]}.parquet")
        tmp = os.path.join(self.lineage_dir, "." + fname + ".tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.lineage_dir, fname))

    def _append_lineage(self, tier: str, stats: list[tuple[int, int]]):
        # lineage rows are driver-side metadata (the Iceberg-manifest analog):
        # written directly with pyarrow — a Spark job for a few hundred tiny
        # rows costs seconds of Python-RDD worker round-trips, pyarrow ~10 ms.
        now = float(time.time())
        self._write_lineage(pa.table({
            "tier": pa.array([tier] * len(stats), pa.string()),
            "ts_bucket": pa.array([int(b) for b, _ in stats], pa.int64()),
            "n_rows": pa.array([int(n) for _, n in stats], pa.int64()),
            "written_at": pa.array([now] * len(stats), pa.float64()),
        }))

    # -- write ------------------------------------------------------------
    def write_tier(self, tier: str, rollup: DataFrame) -> dict:
        """Write one tier partitioned by ts_bucket, skipping buckets already in
        lineage (checkpoint-resume).

        Crash-safe commit order: data is written to a staging directory, each
        bucket directory is atomically renamed into the tier path (replacing
        any stale partial from a previously crashed attempt — safe precisely
        because a crashed attempt never reached the lineage commit), and ONLY
        THEN are the lineage rows appended. A failure at any point therefore
        leaves either (a) untouched tier data, or (b) fully-written buckets
        not yet in lineage — both of which a resumed run redoes idempotently;
        duplicates are impossible. (On Iceberg the same ordering is a single
        snapshot commit.)

        Semantics note: resume is bucket-granular and assumes immutable input
        per bucket — rows arriving for a bucket already committed to lineage
        are intentionally not re-ingested. To reprocess committed buckets use
        :meth:`reopen_buckets` (removes the buckets' lineage rows, then their
        data) or a fresh root.

        CONCURRENT writers are safe under the same immutable-input-per-bucket
        assumption (two attempts at the same bucket produce identical
        content): each attempt stages into its OWN uuid-suffixed directory
        (no staging collisions), and commit NEVER deletes an existing bucket
        directory — since buckets only ever appear via one atomic rename of
        a fully-staged directory, an existing dst is always some writer's
        complete, identical copy, and the rename that loses the race is
        simply skipped (ADVICE r4: the old rmtree-replace opened a window
        where a lineage-listed bucket was absent on disk and a concurrent
        read silently lost rows). Lineage rows are appended for every staged
        bucket not already committed, which also adopts a crashed run's
        renamed-but-unrecorded buckets. A reader concurrent with a write
        sees only fully-renamed bucket directories (rename is atomic;
        staging lives under ``_staging``, which readers never touch), and a
        bucket listed in lineage is ALWAYS fully present on disk. Pinned by
        tests/test_rollup_pipeline.py::
        test_concurrent_writers_and_read_mid_write.
        """
        bin_seconds = TIERS[tier]
        out = rollup.withColumn("ts_bucket", _bucket_col(bin_seconds))
        done = self.completed_buckets(tier)
        if done:
            out = out.filter(~F.col("ts_bucket").isin(list(done)))
        tier_dir = os.path.join(self.root, f"tier={tier}")
        staging = os.path.join(self.root, "_staging",
                               f"tier={tier}-{uuid.uuid4().hex[:8]}")
        # Co-locate each ts_bucket in one task before the dynamic-partition
        # write: without this, every shuffle partition opens a writer in every
        # bucket directory (tasks × buckets small files — 23k files / 60 s for
        # a 720-bucket tier at sf0.1; far worse at 10^12 rows). Hashing on
        # ts_bucket alone bounds it to one file per bucket; a hot bucket that
        # outgrows a single file should be pre-split with salted_repartition
        # on (ts_bucket, salt) before calling write_tier.
        par = max(int(self.spark.conf.get("spark.sql.shuffle.partitions", "32")),
                  self.spark.sparkContext.defaultParallelism)
        timings: dict[str, float] = {}
        # Spark's own dynamic-partition writer stages the buckets, and the
        # lineage row counts come from the staged files' parquet footers
        # (28-46 ms on the driver for the 337 buckets of perfbench's ``host``
        # 1m tier), not from a second Spark job.
        # It replaced an executor-side pyarrow writer run as one Python stage
        # per tier, which renamed files on the shared filesystem from inside
        # tasks. The store now has one parquet writer and no Python stage,
        # at a measured CPU price: on a 4-vCPU host (local[4], C1 + serial
        # GC, the 1m tier cached), writing those 337 files cost a median
        # 3.2 CPU-s against 2.1 CPU-s for the pyarrow writer. A JFR profile
        # puts ~3/4 of the executor samples in the per-file writer set-up
        # and close: ParquetOutputFormat.getRecordWriter, whose
        # ColumnConfigParser walks the whole ~1,080-key Hadoop conf, and the
        # per-file codec streams. Fewer, larger files or a smaller conf
        # would cut it. Crash-consistency is unchanged: the counts are read
        # only after the write job has committed every staged file, and
        # lineage still commits strictly after the bucket-dir renames below.
        try:
            t0 = time.monotonic()
            (out.repartition(par, F.col("ts_bucket"))
             .write.partitionBy("ts_bucket").parquet(staging))
            timings["write"] = round(time.monotonic() - t0, 3)
            t0 = time.monotonic()
            stats = []
            for d in os.listdir(staging):
                if not d.startswith("ts_bucket="):
                    continue
                bdir = os.path.join(staging, d)
                stats.append((int(d.split("=", 1)[1]), sum(
                    pq.read_metadata(os.path.join(bdir, f)).num_rows
                    for f in os.listdir(bdir) if not f.startswith((".", "_")))))
            stats.sort()
            timings["footer_stats"] = round(time.monotonic() - t0, 3)
            t0 = time.monotonic()
            if stats:
                os.makedirs(tier_dir, exist_ok=True)
                # Commit NEVER deletes an existing bucket directory (ADVICE
                # r4). Under this staged-atomic-rename protocol a
                # ``ts_bucket=`` dir under the tier path can only come into
                # existence via one atomic rename of a fully-staged
                # directory — Spark writes land under ``_staging``, never
                # here — so any existing dst is a COMPLETE bucket whose
                # content is identical to ours under the
                # immutable-input-per-bucket contract. Replacing it could
                # only ever destroy a concurrent writer's committed bucket,
                # opening a window where a lineage-listed bucket was absent
                # on disk and a concurrent read silently lost its rows.
                # Skip instead; the winner stands. (Genuine reprocessing of
                # changed input goes through ``reopen_buckets``, which
                # un-commits a bucket, then drops it.)
                for b, _ in stats:
                    d = f"ts_bucket={b}"
                    dst = os.path.join(tier_dir, d)
                    try:
                        os.rename(os.path.join(staging, d), dst)
                    except OSError:
                        # dst exists (a winner's complete, identical bucket)
                        # or a racing writer is mid-rename — wait briefly
                        # for the directory to be visible before concluding
                        # it is genuinely missing.
                        for _ in range(100):
                            if os.path.isdir(dst):
                                break
                            time.sleep(0.05)
                        else:
                            raise
                # Lineage: claim every staged bucket not already committed —
                # this covers both our own renames and a crashed run's
                # renamed buckets that never reached its lineage append (our
                # staged copy's footer counts equal the winner's under the
                # identity contract). Racing writers may both append a
                # bucket's row; completed_buckets reads lineage as a set, so
                # duplicates are harmless.
                committed_now = self.completed_buckets(tier)
                stats = [(b, n) for b, n in stats if b not in committed_now]
                if stats:
                    self._append_lineage(tier, stats)
            timings["commit"] = round(time.monotonic() - t0, 3)
        finally:
            # also on failure: a failed write must not leave its staged
            # files behind for good
            shutil.rmtree(staging, ignore_errors=True)
        return {
            "tier": tier,
            "buckets_written": len(stats),
            "buckets_skipped": len(done),
            "rows_written": sum(n for _, n in stats),
            "phase_sec": timings,
        }

    def read_tier(self, tier: str) -> DataFrame:
        """The tier's rows, read with :data:`TIER_SCHEMA`: ``ts_bucket`` is
        bigint as in the writer and lineage, whatever Spark would infer
        from the directory names."""
        return self.spark.read.schema(TIER_SCHEMA).parquet(
            os.path.join(self.root, f"tier={tier}"))

    # -- late data --------------------------------------------------------
    def reopen_buckets(self, tier: str, buckets: list[int]) -> int:
        """Reopen committed buckets for reprocessing (late-arriving rows):
        remove their lineage rows, THEN drop their data, so the next resumed
        run re-ingests exactly those buckets. Returns the number of buckets
        reopened.

        Each step keeps the store's rule that a bucket listed in lineage is
        fully present on disk:

        1. Un-commit. The lineage rows that remain are written as one new
           visible lineage file (temp + atomic rename), and only then are
           the files it replaces deleted. The lineage directory never goes
           missing, a lineage file appended concurrently is not among those
           deleted, and a crash part-way leaves every reopened bucket either
           still committed or un-committed (lineage reads as a set, so the
           duplicated rows are harmless).
        2. Drop. Each bucket directory is renamed into ``_staging`` (atomic;
           readers never look there) and deleted from there.

        A crash between the two steps leaves a bucket's OLD data on disk but
        not in lineage. A resumed write_tier never replaces an existing
        bucket directory, so it would adopt that old data as committed:
        re-run the crashed reopen_buckets call before resuming. The call is
        idempotent, and a bucket already un-committed still has its data
        dropped. Lineage is rewritten with pyarrow, like completed_buckets
        and _write_lineage. Concurrent reopen_buckets calls on one store,
        and a reopen concurrent with a write of the same bucket, are outside
        the store's contract."""
        buckets = [int(b) for b in buckets]
        if not buckets:
            return 0
        visible = self._lineage_files()
        if visible:
            lin = pa.concat_tables([
                pq.read_table(os.path.join(self.lineage_dir, f)) for f in visible])
            drop = pc.and_(
                pc.equal(lin.column("tier"), tier),
                pc.is_in(lin.column("ts_bucket"),
                         value_set=pa.array(buckets, pa.int64())))
            if pc.any(drop).as_py():
                kept = lin.filter(pc.invert(drop))
                if kept.num_rows:
                    self._write_lineage(kept)
                for f in visible:
                    os.remove(os.path.join(self.lineage_dir, f))
        tier_dir = os.path.join(self.root, f"tier={tier}")
        trash = os.path.join(self.root, "_staging",
                             f"reopen-{uuid.uuid4().hex[:8]}")
        os.makedirs(trash, exist_ok=True)
        for b in buckets:
            src = os.path.join(tier_dir, f"ts_bucket={b}")
            if os.path.isdir(src):
                os.rename(src, os.path.join(trash, str(b)))
        shutil.rmtree(trash)
        return len(buckets)

    # -- retention --------------------------------------------------------
    def expire(self, tier: str, keep_buckets_from: int) -> list[int]:
        """Drop partitions with ts_bucket < keep_buckets_from (O(1) per
        partition — directory drop, the Iceberg partition-drop analog)."""
        tier_dir = os.path.join(self.root, f"tier={tier}")
        dropped = []
        if not os.path.isdir(tier_dir):
            return dropped
        for d in os.listdir(tier_dir):
            if d.startswith("ts_bucket="):
                b = int(d.split("=", 1)[1])
                if b < keep_buckets_from:
                    shutil.rmtree(os.path.join(tier_dir, d))
                    dropped.append(b)
        return dropped


def salt_column(df: DataFrame, key_col: str, n_salts: int,
                hot_keys: "list | None" = None) -> DataFrame:
    """Add the deterministic ``_salt`` column (``xxhash64(ts) mod n_salts``)
    WITHOUT any physical repartition — the right tool for SALTED TWO-STAGE
    AGGREGATION: ``groupBy(key, _salt, bin)`` partials (Spark's map-side
    combine collapses the hot key inside every task; the exchange carries
    partial rows, never raw rows) → ``groupBy(key, bin)`` compose. Use
    :func:`salted_repartition` instead only when a per-key ORDERED kernel
    must consume raw rows — that is the one case that genuinely requires
    moving raw rows to (key, salt)-owned tasks.

    Round-4 lessons from the skewed scaling probe, all real at 10^12 rows:

    - the salt is one cheap JVM hash; the md5 chain it replaced
      (cast→md5→substring→conv per row) cost more than the aggregation it
      was protecting;
    - pass ``hot_keys`` (the detected heavy hitters — see
      :func:`heavy_hitter_keys`) to salt ONLY those keys: salting every key
      multiplies the partial-aggregate output by n_salts for EVERY key,
      while the skew lives in a handful of keys. With ``hot_keys`` the
      exchange stays at unsalted volume + n_salts rows per hot (key, bin);
    - for aggregation chains, do NOT pre-repartition raw rows: the measured
      salted-agg probe scales like the plain rollup, while the same job
      behind a raw-row repartition is pinned to the box's shuffle-bandwidth
      ceiling (~0.7 efficiency at 2→8 cores — a single-box artifact a real
      N→4N executor scale-out, with 4× the memory channels and NICs, does
      not inherit, but also simply avoidable work).
    """
    salt = F.pmod(F.xxhash64(F.col("ts")), F.lit(n_salts)).cast("int")
    if hot_keys is not None:
        salt = F.when(F.col(key_col).isin(list(hot_keys)), salt).otherwise(F.lit(0))
    return df.withColumn("_salt", salt)


def salted_repartition(df: DataFrame, key_col: str, n_salts: int,
                       n_partitions: int,
                       hot_keys: "list | None" = None) -> DataFrame:
    """:func:`salt_column` + a physical repartition on (key, _salt) — for
    per-key ORDERED kernels that must consume raw rows (IIR over a hot
    url's raw samples, per-salt Gorilla blocks): the hot key's rows split
    across n_salts tasks, at the cost of one raw-row exchange (the same
    single exchange the unsalted kernel path pays — only the key changes).
    For aggregation chains use :func:`salt_column` alone (see its
    docstring: no raw-row exchange at all)."""
    return salt_column(df, key_col, n_salts, hot_keys).repartition(
        n_partitions, F.col(key_col), F.col("_salt"))


def heavy_hitter_keys(df: DataFrame, key_col: str, threshold_frac: float = 0.01,
                      sample_frac: float = 0.001, seed: int = 7,
                      min_count: int = 30) -> list:
    """Detect keys carrying more than ``threshold_frac`` of all rows from a
    Bernoulli sample — the cheap driver-side heavy-hitter scan that feeds
    ``salted_repartition(hot_keys=...)``. At 10^12 rows the sample is ~10^9
    rows aggregated map-side to one tiny frame; the returned list is a few
    keys by construction (at most 1/threshold_frac).

    ONE Spark job (VERDICT r4 item 7): ``rollup(key)`` grouping sets emit the
    per-key counts AND the grand-total row (grouping_id=1) from a single
    aggregation over one scan of the sample; the driver fetches only the top
    ``1/threshold_frac + 1`` rows by count — the total row necessarily ranks
    first, and no key below rank 1/threshold_frac can clear the threshold —
    via TakeOrderedAndProject (per-partition top-K, no full sort shuffle).

    ``min_count`` is the standard sampling support floor: a key seen fewer
    than ~30 times in the sample cannot be distinguished from noise, so it
    is never declared hot (matters only for small inputs / tiny samples —
    at web scale a real heavy hitter appears millions of times)."""
    k = int(1.0 / threshold_frac) + 1
    rows = (
        df.sample(fraction=sample_frac, seed=seed)
        .rollup(key_col)
        .agg(F.count(F.lit(1)).alias("_cnt"), F.grouping_id().alias("_gid"))
        .orderBy(F.desc("_cnt"))
        .limit(k + 1)
        .collect()
    )
    total = sum(r["_cnt"] for r in rows if r["_gid"] == 1)
    if total == 0:
        return []
    floor = max(threshold_frac * total, min_count)
    return [r[key_col] for r in rows if r["_gid"] == 0 and r["_cnt"] >= floor]


def run_tiered_rollup(spark: SparkSession, pages: DataFrame,
                      store: RollupStore) -> dict:
    """End-to-end: pages → 1m partials → 1h → 1d, each tier written to
    ``store`` (buckets already in lineage are skipped).

    Returns metrics: each tier's :meth:`RollupStore.write_tier` dict and its
    row count. The 1m tier is the plain :func:`rollup_base` aggregation; a hot
    url needs no salting here (see the module docstring's Skew note)."""
    r1m = rollup_base(pages_signal(pages), TIERS["1m"]).cache()
    r1h = rollup_next(r1m, 60).cache()
    r1d = rollup_next(r1h, 24)
    metrics = {
        "write_1m": store.write_tier("1m", r1m),
        "write_1h": store.write_tier("1h", r1h),
        "write_1d": store.write_tier("1d", r1d),
        "rows_1m": r1m.count(),
        "rows_1h": r1h.count(),
        "rows_1d": r1d.count(),
    }
    r1m.unpersist()
    r1h.unpersist()
    return metrics


def gorilla_blobs_1m(partials: DataFrame) -> DataFrame:
    """Gorilla blocks of a 1m tier's bin-mean series: one block per (url, day
    ``bucket``), each decoded back and checked (``verify="full"``). Input is
    1m partials (``url, bin_m, n, sum, …``): a stored tier read without
    ``ts_bucket``, or a streaming micro-batch of closed windows."""
    from ..operators.compression import gorilla_compress

    points = partials.select(
        "url",
        (F.col("bin_m") * TIERS["1m"]).cast("double").alias("ts"),
        (F.col("sum") / F.col("n")).alias("value"),
    )
    return gorilla_compress(
        points.withColumn("bucket", F.floor(F.col("ts") / 86400).cast("bigint")),
        key_cols=["url", "bucket"], ts_col="ts", value_col="value",
        verify="full", emit_blobs=True,
    )


def read_resolution(
    store: "RollupStore",
    bin_seconds: int,
    t0: float | None = None,
    t1: float | None = None,
) -> DataFrame:
    """Continuous-aggregate READ path: serve a query at ``bin_seconds``
    resolution from the coarsest stored tier that divides it, re-aggregating
    partials if the requested grid is coarser than the tier's.

    Tier choice: the largest tier T with T ≤ bin_seconds and bin_seconds % T
    == 0 (so tier bins compose exactly into requested bins). Time bounds
    [t0, t1) prune on the hive ``ts_bucket`` partition column FIRST — at
    10^12 rows that is the difference between touching two directories and
    scanning the lake — then on bin_m. Bounds are ALIGNED to the requested
    grid before filtering (t0 floored, t1 ceiled to ``bin_seconds``):
    otherwise an edge coarse bin would be re-aggregated from a partial set
    of fine bins yet returned as an ordinary full bin.

    Returns finalized rows (url, bin_m, bin_ts, n, sum, min, max, mean, std)
    on the requested grid.
    """
    candidates = [(name, sec) for name, sec in TIERS.items()
                  if sec <= bin_seconds and bin_seconds % sec == 0]
    if not candidates:
        raise ValueError(
            f"no stored tier divides bin_seconds={bin_seconds}; tiers: {TIERS}")
    tier, tier_sec = max(candidates, key=lambda kv: kv[1])
    if t0 is not None:
        t0 = (int(t0) // bin_seconds) * bin_seconds  # floor to requested grid
    if t1 is not None:
        t1 = -(-int(t1) // bin_seconds) * bin_seconds  # ceil to requested grid
    df = store.read_tier(tier)
    per = 3600 if tier_sec < 3600 else 86400
    if t0 is not None:
        df = df.filter(F.col("ts_bucket") >= int(t0 // per))
        df = df.filter(F.col("bin_m") * tier_sec >= t0)
    if t1 is not None:
        df = df.filter(F.col("ts_bucket") <= int(t1 // per))
        df = df.filter(F.col("bin_m") * tier_sec < t1)
    factor = bin_seconds // tier_sec
    rolled = rollup_next(df, factor) if factor > 1 else df.drop("ts_bucket")
    return finalize(rolled, bin_seconds)
