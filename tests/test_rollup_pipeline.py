"""Tiered rollup pipeline tests: partial composition, lineage resume,
retention expiry, pages invariants, streaming/batch agreement."""

import os
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ezmsg_sigproc_spark.plans.rollup_tiers import (
    RollupStore,
    finalize,
    pages_signal,
    rollup_base,
    rollup_next,
    run_tiered_rollup,
)
from ezmsg_sigproc_spark.sources.pages import generate_pages


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, n_urls=60, samples_per_url=200).cache()
    df.count()
    return df


def test_pages_deterministic(spark, pages):
    again = generate_pages(spark, n_urls=60, samples_per_url=200)
    a = pages.select("url", "warc_ts", F.md5("html").alias("h"), "text", "lang")
    b = again.select("url", "warc_ts", F.md5("html").alias("h"), "text", "lang")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pages_text_invariant(pages):
    """input_hint per-row invariant: extracted text byte-identical per url."""
    assert pages.groupBy("url").agg(F.countDistinct("text").alias("n")).filter("n>1").count() == 0


def test_tier_composition_exact(spark, pages):
    """1h from 1m partials == 1h computed directly from raw (and same for 1d):
    the decomposable-partials design matches direct computation exactly."""
    sig = pages_signal(pages)
    via_1m = rollup_next(rollup_base(sig, 60), 60)
    direct_1h = rollup_base(sig, 3600)
    a = finalize(via_1m, 3600).withColumn("mean", F.round("mean", 9)).withColumn("std", F.round("std", 9))
    b = finalize(direct_1h, 3600).withColumn("mean", F.round("mean", 9)).withColumn("std", F.round("std", 9))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    via_1d = rollup_next(rollup_next(rollup_base(sig, 60), 60), 24)
    direct_1d = rollup_base(sig, 86400)
    assert via_1d.exceptAll(direct_1d).count() == 0


def test_rollup_matches_numpy_oracle(spark, pages):
    sig = pages_signal(pages).toPandas()
    out = finalize(rollup_base(pages_signal(pages), 60), 60).toPandas()
    url = sig.url.iloc[0]
    g = sig[sig.url == url]
    bins = np.floor(g.ts.to_numpy() / 60).astype(np.int64)
    sub = out[out.url == url].sort_values("bin_m")
    assert len(sub) == len(np.unique(bins))
    for b in np.unique(bins)[:5]:
        seg = g.value.to_numpy()[bins == b]
        row = sub[sub.bin_m == b].iloc[0]
        assert row["n"] == len(seg)
        assert row["mean"] == pytest.approx(seg.mean())
        assert row["std"] == pytest.approx(seg.std())


def test_store_resume_and_retention(spark, tmp_path):
    # longer span than the shared fixture so the 1m tier crosses several
    # hour-buckets (retention needs ≥2 partitions to drop one)
    pages = generate_pages(spark, n_urls=20, samples_per_url=4000)
    store = RollupStore(spark, str(tmp_path / "lake"))
    m1 = run_tiered_rollup(spark, pages, store=store)
    assert m1["write_1m"]["buckets_written"] > 0
    written_first = m1["write_1m"]["buckets_written"]

    # resume: second run skips every bucket (checkpointed via lineage)
    m2 = run_tiered_rollup(spark, pages, store=store)
    assert m2["write_1m"]["buckets_written"] == 0
    assert m2["write_1m"]["buckets_skipped"] == written_first

    # stored tier re-reads to the same row count
    assert store.read_tier("1m").count() == m1["rows_1m"]

    # retention: drop the oldest hour buckets
    buckets = sorted(store.completed_buckets("1m"))
    cutoff = buckets[1]
    dropped = store.expire("1m", keep_buckets_from=cutoff)
    assert dropped == buckets[:1]
    remaining = store.read_tier("1m").select("ts_bucket").distinct().count()
    assert remaining == len(buckets) - 1


def test_bucket_writer_one_file_per_bucket_and_contiguity_guard(
        spark, pages, tmp_path):
    """The store's staged write leaves exactly ONE part file per bucket dir,
    no write-committer files in the tier, an empty ``_staging``, and the
    tier schema that readers rely on. (The contiguity guard this test also
    covered belonged to the store's former pyarrow bucket writer; Spark's
    dynamic-partition writer sorts each task's rows by partition itself.)"""
    store = RollupStore(spark, str(tmp_path / "lake"))
    store.write_tier("1m", rollup_base(pages_signal(pages), 60))
    tier_dir = os.path.join(store.root, "tier=1m")
    for d in os.listdir(tier_dir):
        assert d.startswith("ts_bucket="), d
        files = [f for f in os.listdir(os.path.join(tier_dir, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1 and files[0].startswith("part-"), (d, files)
    names = [n for _, ds, fs in os.walk(tier_dir) for n in ds + fs]
    assert "_SUCCESS" not in names and "_temporary" not in names
    assert os.listdir(os.path.join(store.root, "_staging")) == []
    # ts_bucket is the hive partition column, read as bigint like the
    # writer's column and lineage, not as Spark's int inferred from the
    # directory names
    assert [(f.name, f.dataType.simpleString())
            for f in store.read_tier("1m").schema] == [
        ("url", "string"), ("bin_m", "bigint"), ("n", "bigint"),
        ("sum", "double"), ("min", "double"), ("max", "double"),
        ("sum_sq", "double"), ("ts_bucket", "bigint")]


def test_failed_write_leaves_no_staging(spark, pages, tmp_path):
    """A write job that raises leaves nothing behind: no staged files, no
    tier dir, no lineage."""
    store = RollupStore(spark, str(tmp_path / "lake"))
    bad = rollup_base(pages_signal(pages), 60).withColumn(
        "sum", F.when(F.col("n") > 0, F.raise_error(F.lit("boom")))
        .otherwise(F.col("sum")))
    with pytest.raises(Exception, match="boom"):
        store.write_tier("1m", bad)
    staging = os.path.join(store.root, "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []
    assert not os.path.exists(os.path.join(store.root, "tier=1m"))
    assert store.completed_buckets("1m") == set()


def test_lineage_stats_match_true_bucket_counts(spark, pages, tmp_path):
    """write_tier derives lineage n_rows from the staged files' parquet
    footers (no re-computation); they must equal the true per-bucket
    counts."""
    store = RollupStore(spark, str(tmp_path / "lake"))
    r1m = rollup_base(pages_signal(pages), 60)
    store.write_tier("1m", r1m)
    lin = (
        spark.read.parquet(os.path.join(store.root, "_lineage"))
        .filter(F.col("tier") == "1m")
        .groupBy("ts_bucket").agg(F.sum("n_rows").alias("n"))
    )
    actual = store.read_tier("1m").groupBy("ts_bucket").count()
    joined = lin.join(actual, "ts_bucket", "full_outer").collect()
    assert joined and all(r.n == r["count"] for r in joined)


def test_streaming_rollup_matches_batch(spark, pages, tmp_path):
    """Structured Streaming 1m partials == batch 1m partials once all data is
    processed (availableNow over a file source)."""
    from ezmsg_sigproc_spark.streaming.stream_rollup import streaming_rollup_1m

    src = str(tmp_path / "pages_src")
    pages.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(pages.schema).parquet(src)
    q = (
        streaming_rollup_1m(stream)
        .writeStream.format("memory")
        .queryName("stream_1m")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select url, bin_m, n, sum, min, max, sum_sq from stream_1m")
    exp = rollup_base(pages_signal(pages), 60)
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_extract_text_invariant_end_to_end(pages):
    """input_hint invariant, exercised through the extraction operator: the
    text extracted from every crawl's html is byte-identical to the stored
    text, hence byte-identical per url across the whole pipeline."""
    from ezmsg_sigproc_spark.functions.textops import extract_body_text

    mismatches = pages.select(
        (extract_body_text(F.col("html")) == F.col("text")).alias("ok")
    ).filter(~F.col("ok")).count()
    assert mismatches == 0


def test_store_crash_between_data_and_lineage_no_duplicates(spark, tmp_path):
    """Crash-safety of the staged commit (ADVICE r1): if the job dies after
    the bucket files land but BEFORE the lineage commit, the resumed run must
    overwrite those buckets, not append to them — row counts stay exact."""
    from ezmsg_sigproc_spark.plans.rollup_tiers import pages_signal, rollup_base

    pages = generate_pages(spark, n_urls=10, samples_per_url=2000)
    store = RollupStore(spark, str(tmp_path / "lake"))
    r1m = rollup_base(pages_signal(pages), 60)
    expected = r1m.count()

    # simulated crash: data committed, lineage append dies
    orig_append = store._append_lineage

    def boom(tier, stats):
        raise RuntimeError("simulated crash before lineage commit")

    store._append_lineage = boom
    try:
        store.write_tier("1m", r1m)
    except RuntimeError:
        pass
    assert store.completed_buckets("1m") == set()  # nothing in lineage
    # the data directory DOES contain the orphaned buckets at this point
    assert spark.read.parquet(str(tmp_path / "lake" / "tier=1m")).count() == expected

    # resumed run: redoes every bucket idempotently (overwrite, not append)
    store._append_lineage = orig_append
    m = store.write_tier("1m", r1m)
    assert m["buckets_skipped"] == 0 and m["buckets_written"] > 0
    assert store.read_tier("1m").count() == expected

    # and a further resume skips everything
    m2 = store.write_tier("1m", r1m)
    assert m2["buckets_written"] == 0
    assert store.read_tier("1m").count() == expected


def test_read_resolution_tier_routing(spark, tmp_path):
    """read_resolution serves a requested grid from the coarsest dividing
    tier, with values identical to recomputing from raw, and ts bounds
    pruning on the partition column."""
    from ezmsg_sigproc_spark.plans.rollup_tiers import (
        finalize,
        pages_signal,
        read_resolution,
        rollup_base,
    )

    pages = generate_pages(spark, n_urls=15, samples_per_url=3000)
    store = RollupStore(spark, str(tmp_path / "lake"))
    run_tiered_rollup(spark, pages, store=store)
    sig = pages_signal(pages)

    # 5-minute grid → served from the 1m tier re-aggregated ×5
    got = read_resolution(store, 300).toPandas().sort_values(["url", "bin_m"])
    exp = finalize(rollup_base(sig, 300), 300).toPandas().sort_values(["url", "bin_m"])
    pd.testing.assert_frame_equal(got.reset_index(drop=True), exp.reset_index(drop=True),
                                  check_exact=False, rtol=1e-12)

    # 1-hour grid → served from the 1h tier directly
    got_h = read_resolution(store, 3600).toPandas().sort_values(["url", "bin_m"])
    exp_h = finalize(rollup_base(sig, 3600), 3600).toPandas().sort_values(["url", "bin_m"])
    pd.testing.assert_frame_equal(got_h.reset_index(drop=True), exp_h.reset_index(drop=True),
                                  check_exact=False, rtol=1e-12)

    # bounded read: [t0, t1) restricts the grid
    tmin = float(sig.agg(F.min("ts")).collect()[0][0])
    got_b = read_resolution(store, 300, t0=tmin + 600, t1=tmin + 1800).toPandas()
    assert got_b.bin_ts.min() >= tmin + 600 - 300  # bin containing t0
    assert got_b.bin_ts.max() < tmin + 1800
    # non-dividing resolution is rejected
    import pytest as _pytest
    with _pytest.raises(ValueError):
        read_resolution(store, 90)


def test_reopen_buckets_reingests_late_rows(spark, tmp_path):
    """Late rows for a committed bucket: reopen_buckets drops the bucket +
    its lineage rows; the next resumed run re-ingests it with the late data
    included, everything else skipped."""
    import datetime as dt

    from ezmsg_sigproc_spark.plans.rollup_tiers import pages_signal, rollup_base

    pages = generate_pages(spark, n_urls=10, samples_per_url=2000)
    store = RollupStore(spark, str(tmp_path / "lake"))
    r1m = rollup_base(pages_signal(pages), 60)
    store.write_tier("1m", r1m)
    buckets = sorted(store.completed_buckets("1m"))
    target = buckets[0]

    # late data: double every row in the target bucket's hour
    sig = pages_signal(pages)
    late = sig.filter(F.floor(F.col("ts") / 3600) == target)
    n_late_bins = rollup_base(late, 60).count()
    assert n_late_bins > 0
    augmented = rollup_base(sig.unionByName(late), 60)

    n = store.reopen_buckets("1m", [target])
    assert n == 1
    assert target not in store.completed_buckets("1m")

    m = store.write_tier("1m", augmented)
    assert m["buckets_written"] == 1 and m["buckets_skipped"] == len(buckets) - 1

    got = store.read_tier("1m")
    exp = augmented
    assert got.count() == exp.count()
    # the reopened bucket's counts reflect the doubled rows
    g = got.filter(F.col("ts_bucket") == target).agg(F.sum("n")).collect()[0][0]
    e = exp.filter(F.floor(F.col("bin_m") * 60 / 3600) == target).agg(F.sum("n")).collect()[0][0]
    assert g == e



class _Crash(Exception):
    pass


def _crash_on_call(module, names, state):
    """Stand-in for ``module`` whose functions in ``names`` raise _Crash
    instead of running on the ``state["at"]``-th call counted across every
    stand-in sharing ``state``."""

    class Proxy:
        def __getattr__(self, name):
            f = getattr(module, name)
            if name not in names:
                return f

            def call(*a, **k):
                state["n"] += 1
                if state["n"] == state["at"]:
                    raise _Crash(f"{name}{a}")
                return f(*a, **k)
            return call
    return Proxy()


def test_reopen_buckets_crash_at_each_step(spark, tmp_path):
    """Crash injection before every filesystem mutation of reopen_buckets
    (lineage rename, each old lineage file's delete, each bucket's move to
    _staging, the final delete). After every crash the lineage directory
    exists and each bucket it lists is fully on disk; re-running the call
    then reaches the same end state as an uncrashed reopen."""
    import shutil

    import pyarrow.parquet as pq

    from ezmsg_sigproc_spark.plans import rollup_tiers as rt

    pages = generate_pages(spark, n_urls=10, samples_per_url=2000)
    base = tmp_path / "base"
    store = RollupStore(spark, str(base))
    r1m = rollup_base(pages_signal(pages), 60)
    store.write_tier("1m", r1m)
    store.write_tier("1h", rollup_next(r1m, 60))  # a second lineage file
    buckets = set(store.completed_buckets("1m"))
    hours = store.completed_buckets("1h")
    targets = sorted(buckets)[:2]

    def lineage_rows(s):
        out = {}
        for f in s._lineage_files():
            t = pq.read_table(os.path.join(s.lineage_dir, f)).to_pydict()
            for tier, b, n in zip(t["tier"], t["ts_bucket"], t["n_rows"]):
                out[(tier, b)] = n
        return out

    def disk_rows(root):
        tier_dir = root / "tier=1m"
        return {int(d.name.split("=")[1]): sum(
                    pq.read_metadata(f).num_rows for f in d.glob("*.parquet"))
                for d in tier_dir.iterdir() if d.name.startswith("ts_bucket=")}

    at = 0
    while True:
        at += 1
        root = tmp_path / f"crash{at}"
        shutil.copytree(base, root)
        s = RollupStore(spark, str(root))
        state = {"n": 0, "at": at}
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(rt, "os", _crash_on_call(os, {"rename", "remove"}, state))
            mp.setattr(rt, "shutil", _crash_on_call(shutil, {"rmtree"}, state))
            try:
                s.reopen_buckets("1m", targets)
                crashed = False
            except _Crash:
                crashed = True
        assert os.path.isdir(s.lineage_dir)
        on_disk = disk_rows(root)
        for (tier, b), n in lineage_rows(s).items():
            if tier == "1m":
                assert on_disk.get(b) == n, f"crash {at}: bucket {b} lost"
        assert s.completed_buckets("1h") == hours
        s.reopen_buckets("1m", targets)
        assert s.completed_buckets("1m") == buckets - set(targets)
        assert set(disk_rows(root)) == buckets - set(targets)
        assert s.completed_buckets("1h") == hours
        if not crashed:
            break
    # 1 lineage rename + 2 old-file deletes + 2 bucket moves + 1 rmtree
    assert at == 7

def test_salted_rollup_composes_and_feeds_recurrence_exactly(spark, pages):
    """Pins the salted_repartition composition claim (rollup_tiers.py prose):
    a hot url split across salts produces per-(url, salt, bin) partials whose
    re-aggregation equals the unsalted rollup bin-for-bin, and a recurrence
    (EWMA) run on the COMPOSED bins — the only place a recurrence may run,
    at bin boundaries — matches the unsalted chain exactly."""
    from ezmsg_sigproc_spark.operators.ewma import ewma
    from ezmsg_sigproc_spark.plans.rollup_tiers import salted_repartition

    sig = pages_signal(pages).filter(F.col("url").isin(
        [r.url for r in pages.select("url").distinct().limit(3).collect()]))

    # unsalted chain: rollup -> finalize -> EWMA over bin means
    plain = finalize(rollup_base(sig, 60), 60)

    # salted chain: split each url by ts-derived salt, per-salt partials,
    # then compose partials across salts at bin boundaries
    salted = salted_repartition(sig, "url", n_salts=4, n_partitions=8)
    per_salt = (
        salted.withColumn("bin_m", F.floor(F.col("ts") / 60).cast("bigint"))
        .groupBy("url", "_salt", "bin_m")
        .agg(F.count("value").alias("n"), F.sum("value").alias("sum"),
             F.min("value").alias("min"), F.max("value").alias("max"),
             F.sum(F.col("value") * F.col("value")).alias("sum_sq"))
    )
    composed = finalize(
        per_salt.groupBy("url", "bin_m").agg(
            F.sum("n").alias("n"), F.sum("sum").alias("sum"),
            F.min("min").alias("min"), F.max("max").alias("max"),
            F.sum("sum_sq").alias("sum_sq")),
        60)

    a = plain.toPandas().sort_values(["url", "bin_m"]).reset_index(drop=True)
    b = composed.toPandas().sort_values(["url", "bin_m"]).reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    pd.testing.assert_frame_equal(
        a[["url", "bin_m", "n", "min", "max"]], b[["url", "bin_m", "n", "min", "max"]])
    np.testing.assert_allclose(a["sum"], b["sum"], rtol=1e-12)   # float sum order
    np.testing.assert_allclose(a["mean"], b["mean"], rtol=1e-12)
    np.testing.assert_allclose(a["std"], b["std"], rtol=1e-9, atol=1e-12)

    # recurrence stage: EWMA over the bin-mean series of each chain
    ea = ewma(plain.select("url", F.col("bin_ts").alias("ts"),
                           F.col("mean").alias("value")), alpha=0.3,
              key_cols=["url"]).toPandas().sort_values(["url", "ts"])
    eb = ewma(composed.select("url", F.col("bin_ts").alias("ts"),
                              F.col("mean").alias("value")), alpha=0.3,
              key_cols=["url"]).toPandas().sort_values(["url", "ts"])
    np.testing.assert_allclose(ea["ewma"].to_numpy(), eb["ewma"].to_numpy(),
                               rtol=1e-12)

    # selective salting (round 4): only detected hot keys split — non-hot
    # keys keep salt 0, and the composed result is unchanged bin-for-bin
    from ezmsg_sigproc_spark.plans.rollup_tiers import heavy_hitter_keys

    detected = heavy_hitter_keys(sig, "url", threshold_frac=0.2, sample_frac=0.5)
    urls = {r.url for r in sig.select("url").distinct().collect()}
    # three near-equal urls each carry ~1/3 > 0.2 → all detected
    assert set(detected) == urls
    hot = [sorted(urls)[0]]  # salt ONE key so a non-hot population exists
    salted2 = salted_repartition(sig, "url", n_salts=4, n_partitions=8,
                                 hot_keys=hot)
    non_hot_salts = (salted2.filter(~F.col("url").isin(hot))
                     .select("_salt").distinct().collect())
    assert [r._salt for r in non_hot_salts] == [0]
    composed2 = finalize(
        salted2.withColumn("bin_m", F.floor(F.col("ts") / 60).cast("bigint"))
        .groupBy("url", "_salt", "bin_m")
        .agg(F.count("value").alias("n"), F.sum("value").alias("sum"),
             F.min("value").alias("min"), F.max("value").alias("max"),
             F.sum(F.col("value") * F.col("value")).alias("sum_sq"))
        .groupBy("url", "bin_m").agg(
            F.sum("n").alias("n"), F.sum("sum").alias("sum"),
            F.min("min").alias("min"), F.max("max").alias("max"),
            F.sum("sum_sq").alias("sum_sq")),
        60)
    c = composed2.toPandas().sort_values(["url", "bin_m"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[["url", "bin_m", "n", "min", "max"]], c[["url", "bin_m", "n", "min", "max"]])
    np.testing.assert_allclose(a["sum"], c["sum"], rtol=1e-12)


def test_read_resolution_unaligned_bounds_and_partition_pruning(spark, tmp_path):
    """read_resolution with t0/t1 NOT multiples of the requested grid must
    align the bounds (floor/ceil) so edge coarse bins are complete, match a
    direct computation from raw, and push the ts_bucket bound down to the
    parquet partition filter (pruning evidence in the physical plan)."""
    from ezmsg_sigproc_spark.plans.rollup_tiers import read_resolution

    pages = generate_pages(spark, n_urls=10, samples_per_url=2000)
    sig = pages_signal(pages)
    store = RollupStore(spark, str(tmp_path / "lake"))
    r1m = rollup_base(sig, 60)
    store.write_tier("1m", r1m)
    store.write_tier("1h", rollup_next(r1m, 60))

    b = sig.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1")).collect()[0]
    t0, t1 = b.t0 + 5000.0, b.t1 - 5000.0  # deliberately unaligned to 7200
    out = read_resolution(store, 7200, t0=t0, t1=t1)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ts_bucket" in plan and "PartitionFilters: [" in plan
    assert "isnotnull(ts_bucket" in plan or "ts_bucket#" in plan.split("PartitionFilters")[1][:400]

    got = out.toPandas().sort_values(["url", "bin_m"]).reset_index(drop=True)
    t0a = (int(t0) // 7200) * 7200
    t1a = -(-int(t1) // 7200) * 7200
    raw = sig.toPandas()
    raw["bin_m"] = (raw["ts"] // 7200).astype(int)
    raw = raw[(raw.bin_m * 7200 >= t0a) & (raw.bin_m * 7200 < t1a)]
    exp = raw.groupby(["url", "bin_m"]).agg(
        n=("value", "size"), sum=("value", "sum"),
        min=("value", "min"), max=("value", "max")).reset_index()
    exp = exp.sort_values(["url", "bin_m"]).reset_index(drop=True)
    assert len(got) == len(exp) and len(got) > 0
    pd.testing.assert_frame_equal(
        got[["url", "bin_m", "n", "min", "max"]].astype({"n": "int64"}),
        exp[["url", "bin_m", "n", "min", "max"]].astype({"n": "int64"}))
    np.testing.assert_allclose(got["sum"], exp["sum"], rtol=1e-12)
    # edge coarse bins are FULL: first/last returned bins equal direct
    # computation (pre-fix they were built from a partial fine-bin set)
    np.testing.assert_allclose(
        got.iloc[[0, -1]]["mean"].to_numpy(),
        (exp.iloc[[0, -1]]["sum"] / exp.iloc[[0, -1]]["n"]).to_numpy(), rtol=1e-12)


def test_read_resolution_bucket_bound_is_a_partition_filter(spark, tmp_path):
    """With ``ts_bucket`` read as bigint, read_resolution's bucket bounds
    are still parquet PARTITION filters on the bare column (no cast), and
    the scan lists only the buckets inside them."""
    from ezmsg_sigproc_spark.plans.rollup_tiers import read_resolution

    pages = generate_pages(spark, n_urls=3, samples_per_url=8000)
    store = RollupStore(spark, str(tmp_path / "lake"))
    store.write_tier("1m", rollup_base(pages_signal(pages), 60))
    buckets = sorted(store.completed_buckets("1m"))
    assert len(buckets) >= 4
    lo, hi = buckets[1], buckets[2]
    out = read_resolution(store, 60, t0=lo * 3600, t1=hi * 3600 + 1)
    scan = next(line for line in
                out._jdf.queryExecution().executedPlan().toString()
                .splitlines() if "FileScan" in line)
    filters = scan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert re.search(rf"\(ts_bucket#\d+L >= {lo}\)", filters), filters
    assert re.search(rf"\(ts_bucket#\d+L <= {hi}\)", filters), filters
    assert "cast" not in filters, filters
    got = out.select(F.floor(F.col("bin_ts") / 3600).alias("b")).distinct()
    assert {r.b for r in got.collect()} == {lo, hi}


def test_concurrent_writers_and_read_mid_write(spark, pages, tmp_path):
    """VERDICT r3 item 6: two OVERLAPPING write_tier attempts on the same
    tier (both started before either commits lineage — the resumable-jobs
    double-attempt scenario), with a reader polling mid-write. Required end
    state: lineage buckets == directories on disk, the tier content equals a
    single-writer run exactly, and every mid-write read only ever saw
    COMPLETE buckets (full per-bucket row counts — never a partial)."""
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    from ezmsg_sigproc_spark.plans.rollup_tiers import (
        RollupStore,
        _bucket_col,
        pages_signal,
        rollup_base,
    )

    r1m = rollup_base(pages_signal(pages), 60)
    expected = {
        r.ts_bucket: r.cnt
        for r in r1m.withColumn("ts_bucket", _bucket_col(60))
        .groupBy("ts_bucket").agg(F.count("*").alias("cnt")).collect()
    }
    total = sum(expected.values())
    store = RollupStore(spark, str(tmp_path / "lake"))

    observations = []
    lineage_checked = 0
    with ThreadPoolExecutor(2) as ex:
        # both writers launched against an EMPTY lineage: each sees zero
        # completed buckets, so both attempt every bucket
        f1 = ex.submit(store.write_tier, "1m", r1m)
        f2 = ex.submit(store.write_tier, "1m", r1m)
        while not (f1.done() and f2.done()):
            # The load-bearing mid-write invariant (ADVICE r4): a bucket
            # listed in lineage is ALWAYS fully present on disk. Snapshot
            # lineage FIRST, then read the tier — anything committed at
            # snapshot time must appear complete in the later read. A read
            # failure with non-empty lineage is a real violation, not
            # startup noise, so only the empty-lineage window may pass.
            committed_mid = store.completed_buckets("1m")
            try:
                obs = {
                    r.ts_bucket: r.cnt
                    for r in store.read_tier("1m").groupBy("ts_bucket")
                    .agg(F.count("*").alias("cnt")).collect()
                }
            except Exception:
                assert not committed_mid, (
                    "tier unreadable while lineage lists committed buckets")
                _time.sleep(0.05)
                continue
            observations.append(obs)
            for b in committed_mid:
                assert obs.get(b) == expected[b], (
                    f"bucket {b} in lineage but absent/partial on disk")
            lineage_checked += len(committed_mid)
            _time.sleep(0.05)
        m1, m2 = f1.result(), f2.result()

    # end-state consistency: lineage == disk == expected
    done = store.completed_buckets("1m")
    tier_dir = tmp_path / "lake" / "tier=1m"
    on_disk = {int(d.name.split("=")[1]) for d in tier_dir.iterdir()
               if d.name.startswith("ts_bucket=")}
    assert done == on_disk == set(expected)
    got = {r.ts_bucket: r.cnt for r in store.read_tier("1m")
           .groupBy("ts_bucket").agg(F.count("*").alias("cnt")).collect()}
    assert got == expected
    assert store.read_tier("1m").count() == total
    # no staging leftovers
    staging_root = tmp_path / "lake" / "_staging"
    assert not staging_root.exists() or not any(staging_root.iterdir())
    # both writers reported; together they attempted every bucket at least once
    assert m1["buckets_written"] + m2["buckets_written"] >= len(expected)
    # every mid-write observation saw only COMPLETE buckets
    for obs in observations:
        for b, cnt in obs.items():
            assert cnt == expected[b], f"partial bucket {b} visible mid-write"


def test_salted_two_stage_partials_match_rollup_base(spark, pages):
    """``salt_column(hot_keys=...)`` with the detected heavy hitter, then
    per-(url, _salt, bin) partials composed across salts, equals
    :func:`rollup_base` bin-for-bin (decomposable partials compose exactly;
    float sums agree to addition-order tolerance). This composition is what
    the skewed scaling gate times."""
    from ezmsg_sigproc_spark.plans.rollup_tiers import (
        heavy_hitter_keys,
        salt_column,
    )

    # remap ~40% of rows onto one hot url (same construction as the skewed
    # scaling probe, deterministic)
    hot = (F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.col("url"), F.col("warc_ts").cast("string"))), 1, 4), 16, 10)
        % 100) < 40
    skewed = pages.withColumn(
        "url", F.when(hot, F.lit("https://hot.example/p/0")).otherwise(F.col("url")))

    sig = pages_signal(skewed)
    hot_keys = heavy_hitter_keys(sig, "url", threshold_frac=0.05, sample_frac=1.0)
    assert hot_keys == ["https://hot.example/p/0"]
    per_salt = (
        salt_column(sig, "url", n_salts=4, hot_keys=hot_keys)
        .withColumn("bin_m", F.floor(F.col("ts") / 60).cast("bigint"))
        .groupBy("url", "_salt", "bin_m")
        .agg(F.count("value").alias("n"), F.sum("value").alias("sum"),
             F.min("value").alias("min"), F.max("value").alias("max"),
             F.sum(F.col("value") * F.col("value")).alias("sum_sq")))
    composed = per_salt.groupBy("url", "bin_m").agg(
        F.sum("n").alias("n"), F.sum("sum").alias("sum"),
        F.min("min").alias("min"), F.max("max").alias("max"),
        F.sum("sum_sq").alias("sum_sq"))
    a = rollup_base(sig, 60).toPandas().sort_values(["url", "bin_m"]).reset_index(drop=True)
    b = composed.toPandas().sort_values(["url", "bin_m"]).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a[["url", "bin_m", "n", "min", "max"]],
                                  b[["url", "bin_m", "n", "min", "max"]])
    np.testing.assert_allclose(a["sum"], b["sum"], rtol=1e-12)
    np.testing.assert_allclose(a["sum_sq"], b["sum_sq"], rtol=1e-12)
