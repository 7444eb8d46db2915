"""Seeded input generator for the benchmark.

Everything is a pure function of ``(seed, size)``: the same pair always gives
byte-identical parquet files. Every run generates its inputs afresh into its
own run directory, so their generation time is part of every ``setup_s``
alike; nothing is cached between runs.

Dimensions the generator controls (see :data:`SIZES`):

- ``urls`` and ``zipf``: url count and Zipf exponent of the crawl skew
  (``p(rank) ∝ rank^-zipf``);
- ``days``: the time span the crawls cover;
- ``density``: mean crawls per url per day, so ``pages = urls·days·density``;
- ingest files only: ``files`` (backlog size), ``dup_share`` (share of rows
  whose html repeats an earlier row's html), ``cross_file`` (share of those
  duplicates whose original sits in an earlier file) and ``late_share``
  (share of rows whose ``warc_ts`` is moved back by up to ``late_s`` seconds,
  so they arrive out of order).

The pages schema is the engine's: ``url string, warc_ts timestamp, html
binary, text string, lang string``. ``value = length(html)`` is the rollup
signal; every html payload carries a unique token, so two rows share html only
when the generator made one a duplicate of the other.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0 = 1_600_000_000  # 2020-09-13 00:26:40 UTC

# Named input sizes. "host" is what the benchmark runs; "smoke" keeps the
# benchmark's own tests fast.
SIZES = {
    "host": {
        "pages": {"urls": 600, "zipf": 1.1, "days": 14, "density": 6.0},
        "ingest": {"urls": 200, "zipf": 1.1, "days": 2, "density": 20.0,
                   "files": 4, "dup_share": 0.2, "cross_file": 0.5,
                   "late_share": 0.05, "late_s": 90},
    },
    "smoke": {
        "pages": {"urls": 60, "zipf": 1.1, "days": 3, "density": 4.0},
        "ingest": {"urls": 40, "zipf": 1.1, "days": 1, "density": 20.0,
                   "files": 3, "dup_share": 0.2, "cross_file": 0.5,
                   "late_share": 0.05, "late_s": 90},
    },
}

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])
_LANGS = np.array(["en", "de", "fr", "es", "it"], dtype=object)


def _crawls(rng: np.random.Generator, p: dict) -> tuple[np.ndarray, np.ndarray]:
    """Url index and timestamp (µs, unique per row) of every crawl."""
    n = int(round(p["urls"] * p["days"] * p["density"]))
    ranks = np.arange(1, p["urls"] + 1, dtype=np.float64)
    w = ranks ** -float(p["zipf"])
    uid = rng.choice(p["urls"], size=n, p=w / w.sum())
    span_s = int(p["days"] * 86400)
    sec = rng.integers(0, span_s, size=n)
    # the row index as the µs part keeps (url, warc_ts) — the engine's doc id
    # — unique without a rejection loop (n < 10^6 at every named size)
    ts_us = (EPOCH0 + sec) * 1_000_000 + np.arange(n) % 1_000_000
    return uid, ts_us


def _html(rng: np.random.Generator, n: int) -> list[bytes]:
    """Unique payloads with a variable-length body (the rollup signal)."""
    lens = rng.integers(40, 400, size=n)
    pad = b"x" * 400
    return [b"<html><!-- %08x -->%s</html>" % (i, pad[:k])
            for i, k in enumerate(lens.tolist())]


def _table(urls: np.ndarray, uid: np.ndarray, ts_us: np.ndarray,
           html: list[bytes]) -> pa.Table:
    return pa.table({
        "url": pa.array(urls[uid], pa.string()),
        "warc_ts": pa.array(ts_us, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(["page of site %d" % u for u in uid.tolist()], pa.string()),
        "lang": pa.array(_LANGS[uid % len(_LANGS)], pa.string()),
    }, schema=PAGES_SCHEMA)


def _url_names(n: int) -> np.ndarray:
    return np.array([f"https://site{u % 50}.example/p/{u}" for u in range(n)],
                    dtype=object)


def make_pages(out_dir: str, seed: int, p: dict) -> dict:
    """One pages parquet file (``pages.parquet``) for the batch workloads."""
    rng = np.random.default_rng([seed, 1])
    uid, ts_us = _crawls(rng, p)
    order = np.argsort(ts_us, kind="stable")
    uid, ts_us = uid[order], ts_us[order]
    tbl = _table(_url_names(p["urls"]), uid, ts_us, _html(rng, uid.size))
    pq.write_table(tbl, os.path.join(out_dir, "pages.parquet"),
                   row_group_size=1 << 17)
    return {"rows": tbl.num_rows, "t0": EPOCH0,
            "t1": EPOCH0 + int(p["days"] * 86400)}


def make_ingest(out_dir: str, seed: int, p: dict) -> dict:
    """A backlog of ``files`` pages parquet files in arrival order
    (``src/part-00000.parquet`` …), with planned duplicates and late rows."""
    rng = np.random.default_rng([seed, 2])
    uid, ts_us = _crawls(rng, p)
    order = np.argsort(ts_us, kind="stable")
    uid, ts_us = uid[order], ts_us[order]
    n = uid.size
    html = _html(rng, n)
    n_files = int(p["files"])
    file_of = (np.arange(n) * n_files) // n
    starts = np.searchsorted(file_of, np.arange(n_files))
    # duplicates: row i takes the html of an EARLIER row; a cross-file one
    # copies from a previous file, the rest from earlier in its own file
    cand = np.flatnonzero(file_of > 0)
    n_dup = int(round(p["dup_share"] * n))
    dup_rows = np.sort(rng.choice(cand, size=min(n_dup, cand.size), replace=False))
    cross = rng.random(dup_rows.size) < p["cross_file"]
    lo = np.where(cross, 0, starts[file_of[dup_rows]])
    hi = np.where(cross, starts[file_of[dup_rows]], dup_rows)
    ok = hi > lo
    dup_rows, lo, hi = dup_rows[ok], lo[ok], hi[ok]
    src = lo + (rng.random(dup_rows.size) * (hi - lo)).astype(np.int64)
    for d, s in zip(dup_rows.tolist(), src.tolist()):
        html[d] = html[s]  # ascending d and s < d: html[s] is already final
    # out of order: move a share of rows back in event time
    late = rng.random(n) < p["late_share"]
    ts_us = ts_us - late * rng.integers(1, int(p["late_s"]) + 1, size=n) * 1_000_000
    tbl = _table(_url_names(p["urls"]), uid, ts_us, html)
    src_dir = os.path.join(out_dir, "src")
    os.makedirs(src_dir)
    for f in range(n_files):
        end = starts[f + 1] if f + 1 < n_files else n
        pq.write_table(tbl.slice(starts[f], end - starts[f]),
                       os.path.join(src_dir, f"part-{f:05d}.parquet"))
    return {"rows": n, "files": n_files, "dup_rows": int(dup_rows.size),
            "late_rows": int(late.sum())}


MAKERS = {"pages": make_pages, "ingest": make_ingest}


def generate(out_dir: str, kind: str, seed: int, size: str) -> tuple[str, dict]:
    """Write the ``kind`` input of ``(seed, size)`` under ``out_dir/kind``;
    return ``(dir, info)``."""
    params = SIZES[size][kind]
    d = os.path.join(out_dir, kind)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    info = MAKERS[kind](d, seed, params)
    info["params"] = params
    return d, info
