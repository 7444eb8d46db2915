"""DuckDB reference checks, one family per workload.

Each ``check_*`` function returns a list of failure messages; an empty list
means the operation's output is correct. References are computed by DuckDB
straight from the generated parquet inputs, never through the engine.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}
PARTIALS = ("n", "sum", "min", "max", "sum_sq")


def _sig_sql(parquet_glob: str) -> str:
    """The rollup signal: epoch seconds and ``length(html)`` per page."""
    return (f"select url, epoch_us(warc_ts) / 1e6 as ts, "
            f"octet_length(html)::double as v from read_parquet('{parquet_glob}')")


def _round(xs) -> tuple:
    return tuple(None if x is None else round(float(x), 3) for x in xs)


# -- backfill ---------------------------------------------------------------

def tier_reference(pages: str) -> dict[str, dict[int, tuple]]:
    """Per tier, per ``ts_bucket``: (rows, Σn, Σsum, Σmin, Σmax, Σsum_sq) of
    a DuckDB group-by over the raw pages."""
    con = duckdb.connect()
    con.execute(f"create table sig as {_sig_sql(pages)}")
    out: dict[str, dict[int, tuple]] = {}
    for tier, sec in TIER_SECONDS.items():
        per = 3600 if sec < 3600 else 86400
        rows = con.execute(f"""
            select floor(b * {sec} / {per})::bigint as bucket, count(*),
                   sum(n), sum(s), sum(mn), sum(mx), sum(sq)
            from (select url, floor(ts / {sec})::bigint as b, count(*) as n,
                         sum(v) as s, min(v) as mn, max(v) as mx,
                         sum(v * v) as sq
                  from sig group by all)
            group by all""").fetchall()
        out[tier] = {int(r[0]): tuple(r[1:]) for r in rows}
    con.close()
    return out


def store_checksums(store_root: str, tier: str) -> dict[int, tuple]:
    """The same per-bucket checksums, read from the store's parquet files."""
    tier_dir = os.path.join(store_root, f"tier={tier}")
    if not os.path.isdir(tier_dir):
        return {}
    cols = ", ".join(f"sum({c})" for c in PARTIALS)
    rows = duckdb.sql(f"""
        select ts_bucket, count(*), {cols}
        from read_parquet('{tier_dir}/ts_bucket=*/*.parquet',
                          hive_partitioning = true)
        group by ts_bucket""").fetchall()
    return {int(r[0]): tuple(r[1:]) for r in rows}


def _sum_buckets(per_bucket: dict[int, tuple], keep=None) -> tuple:
    acc = [0.0] * 6
    for b, t in per_bucket.items():
        if keep is None or b in keep:
            acc = [a + float(x) for a, x in zip(acc, t)]
    return _round(acc)


def blob_stats(blobs_path: str) -> tuple:
    """(blocks, Σn_points, Σverified_points, all roundtrip_ok, Σbytes)."""
    return duckdb.sql(f"""
        select count(*), sum(n_points), sum(verified_points),
               bool_and(roundtrip_ok), sum(ts_bytes) + sum(val_bytes)
        from read_parquet('{blobs_path}/**/*.parquet')""").fetchone()


def check_backfill(ref: dict, store_root: str, metrics: dict, blobs_path: str,
                   expired: list[int], retain: int) -> list[str]:
    fails = []
    for tier in TIER_SECONDS:
        want_rows = sum(t[0] for t in ref[tier].values())
        if metrics.get(f"rows_{tier}") != want_rows:
            fails.append(f"{tier}: engine counted {metrics.get(f'rows_{tier}')} "
                         f"rows, DuckDB {want_rows}")
        got = store_checksums(store_root, tier)
        # 1m retention dropped the oldest hour buckets: compare what is left
        keep = set(got) if tier == "1m" else None
        if _sum_buckets(got) != _sum_buckets(ref[tier], keep):
            fails.append(f"{tier}: stored checksums {_sum_buckets(got)} != "
                         f"DuckDB {_sum_buckets(ref[tier], keep)}")
        if tier == "1m":
            newest = sorted(ref[tier])[-retain:]
            if sorted(got) != newest:
                fails.append(f"1m: {len(got)} buckets kept, want the newest {retain}")
            if sorted(expired) != sorted(set(ref[tier]) - set(newest)):
                fails.append("1m: expired buckets differ from the retention cut")
    blocks, n_pts, verified, ok, _ = blob_stats(blobs_path)
    want_1m = sum(t[0] for t in ref["1m"].values())
    if not ok:
        fails.append("gorilla: a block failed its roundtrip")
    if n_pts != want_1m or verified != n_pts:
        fails.append(f"gorilla: {n_pts} points, {verified} verified, want {want_1m}")
    fails.extend(check_lineage(store_root, expired))
    return fails


def check_lineage(store_root: str, expired: list[int]) -> list[str]:
    """Every (tier, bucket) in lineage is on disk, unless retention dropped
    it from the 1m tier."""
    lin = os.path.join(store_root, "_lineage")
    rows = duckdb.sql(
        f"select tier, ts_bucket from read_parquet('{lin}/*.parquet')").fetchall()
    gone = set(expired)
    missing = [(t, b) for t, b in rows
               if not os.path.isdir(os.path.join(store_root, f"tier={t}", f"ts_bucket={b}"))
               and not (t == "1m" and b in gone)]
    fails = [f"lineage lists {len(missing)} buckets missing on disk, e.g. {missing[:3]}"] \
        if missing else []
    if not rows:
        fails.append("lineage is empty")
    return fails


# -- ingest -----------------------------------------------------------------

def ingest_reference(src_dir: str) -> tuple[int, int]:
    """(docs, dups): dups = docs − count(distinct html)."""
    docs, distinct = duckdb.sql(
        f"select count(*), count(distinct html) "
        f"from read_parquet('{src_dir}/*.parquet')").fetchone()
    return int(docs), int(docs - distinct)


def check_ingest(want: tuple[int, int], metrics: dict) -> list[str]:
    fails = []
    d = metrics.get("dedup", {})
    if d.get("docs") != want[0]:
        fails.append(f"docs {d.get('docs')} != source rows {want[0]}")
    if d.get("dups") != want[1]:
        fails.append(f"dups {d.get('dups')} != docs - distinct html {want[1]}")
    rb = metrics.get("rollup_blobs", {})
    if not rb.get("roundtrip_ok") or not rb.get("points"):
        fails.append(f"rollup blobs not verified: {rb}")
    return fails


# -- kernel timing input -----------------------------------------------------

def mean_series(pages_glob: str) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """Per url: (1m bin start seconds, mean value) in time order."""
    rows = duckdb.sql(f"""
        select url, list(b * 60 order by b), list(s / n order by b) from
          (select url, floor(ts / 60)::bigint as b, sum(v) as s, count(*) as n
           from ({_sig_sql(pages_glob)}) group by all)
        group by url""").fetchall()
    return {u: (np.asarray(t, np.int64), np.asarray(m, np.float64))
            for u, t, m in rows}
