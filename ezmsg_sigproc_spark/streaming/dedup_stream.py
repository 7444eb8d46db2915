"""Streaming deduplication as ``foreachBatch`` joins against a claims table.

Batch dedup (operators/dedup.py) answers "which of these 10^12 documents
duplicate each other"; a TRAINING-DATA INGEST pipeline also needs the online
form — "is this arriving document a duplicate of anything seen so far" —
without re-scanning the corpus per micro-batch. Both ops here run each
micro-batch as a JVM join against a compact table of CLAIMS (the first doc
seen per key) and have no Python stage:

- :func:`streaming_exact_join` — content-hash identity. Key = sha2(text);
  one verdict row per doc, ``(id, content_h, is_dup, dup_of)``: the first
  arrival is ``is_dup=false``, every later arrival ``is_dup=true`` with
  ``dup_of`` naming the first (smallest id within a batch).
- :func:`streaming_minhash_join` — near-duplicate candidates by MinHash LSH
  banding, the SAME hash family and band packing as the batch
  ``minhash_signatures``/``minhash_lsh_candidates``. Key = (band_id,
  band_sig); one candidate row per (arriving doc, claimed band bucket) with
  the signature-agreement Jaccard estimate; reduce to a per-doc verdict with
  :func:`reduce_candidates` (one doc's band hits all land in the same batch).

Both keep their claims in one :class:`ClaimsTable` (layout, strictly-older
read, idempotent ``batch_id=<n>`` overwrite, event-time TTL, compaction), so
checkpoint recovery replays a batch onto itself and never joins against its
own previous attempt. Measured against the Python stateful ops these
replaced (one Python call per key group per batch): exact 9.4k → 51.3k
docs/s at local[32] (COVERAGE.md), near-dup 2.6-3.2× (BASELINE.md). At 100 TB the claims are ~50 B (exact) / ~60 B (per band
bucket) and the per-batch join shuffles only keys and signatures, never
the text.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# A micro-batch folds the unfolded claims partitions older than itself into
# one snapshot when there are more than this many of them.
FOLD_AFTER = 8


class ClaimsTable:
    """The claims of a ``foreachBatch`` dedup join under ``state_dir``: one
    row per claimed key, ``keys + values`` (+ ``last_ts`` with a TTL).

    Layout (``state_dir`` must be local: it is listed with ``os.listdir``):

    - ``batch_id=<n>/`` — the rows micro-batch ``n`` wrote, overwritten as a
      whole when the batch is replayed;
    - ``_snapshots/<m>/`` — the fold of every batch below ``m``; readers take
      the newest snapshot plus the ``batch_id`` partitions above it;
    - ``_snapshots/_tmp-<uuid>/`` — a fold being written.

    Semantics, batch ``N`` (:meth:`resolve`, then :meth:`append`):

    - a batch reads only claims from batches strictly before ``N``, so a
      replayed batch sees the same claims as its first attempt;
    - the current claim of a key is its row from the highest ``batch_id``
      (a snapshot ranks below every partition above it);
    - a key with a current claim keeps it; otherwise the batch's own value
      (the caller's within-batch first) claims it;
    - without a TTL a batch writes a row only for the keys it newly claims,
      so each key has one row for good;
    - with ``ttl_seconds`` a row carries ``last_ts``, the newest event time
      of any arrival for its key since the claim; a batch writes a row for
      every key it touched, new claims and refreshes alike; the claim is
      live in batch ``N`` iff ``last_ts + ttl >= wm_N``, where ``wm_N`` is
      the newest event time in the batches before ``N`` (the max
      ``last_ts`` of the prior rows). An expired key is claimed afresh. No
      row is ever dropped as late: every arrival gets a verdict.

    Compaction: when more than :data:`FOLD_AFTER` unfolded partitions are
    older than ``N``, batch ``N`` first folds them (with the previous
    snapshot) into ``_snapshots/<N>``: the newest row per key, expired rows
    dropped, written to a temp dir and renamed into place, and only then
    are the folded partitions and older snapshots deleted. A crash at any
    step leaves either the old layout or the new snapshot plus partitions
    it already covers; the next batch deletes those first. The snapshot
    keeps ``wm``: the row holding the newest ``last_ts`` is never expired
    and never superseded by a row with a smaller one. Only the last batch
    of a query is ever replayed, so no snapshot is newer than a batch that
    reads it.
    """

    def __init__(self, state_dir: str, keys, values, ttl_seconds: float | None = None):
        self.dir = state_dir
        self.snaps = os.path.join(state_dir, "_snapshots")
        self.keys, self.values, self.ttl = list(keys), list(values), ttl_seconds
        self.cols = (self.keys + self.values
                     + (["last_ts"] if ttl_seconds is not None else []))

    def _snapshot(self) -> int | None:
        """Bound of the newest complete snapshot, None if there is none."""
        if not os.path.isdir(self.snaps):
            return None
        return max((int(d) for d in os.listdir(self.snaps) if d.isdigit()),
                   default=None)

    def prior_batches(self, batch_id: int) -> list[int]:
        """The ``batch_id=<n>`` partitions batch ``batch_id`` reads: every
        ``n`` strictly below it whose directory holds at least one
        ``.parquet`` file (an EMPTY micro-batch may write only ``_SUCCESS``,
        and a read over only file-less partitions cannot infer a schema).
        Sorted; empty when the table does not exist yet."""
        if not os.path.isdir(self.dir):
            return []
        out = []
        for d in os.listdir(self.dir):
            if not d.startswith("batch_id="):
                continue
            n = int(d.split("=", 1)[1])
            if n < batch_id and any(f.endswith(".parquet") for f in
                                    os.listdir(os.path.join(self.dir, d))):
                out.append(n)
        return sorted(out)

    def last_ts(self) -> list:
        """The aggregate a batch's ``mins`` carries with a TTL: ``last_ts``,
        the newest event time (``evt``) among the key's arrivals."""
        return [F.max("evt").alias("last_ts")] if self.ttl is not None else []

    def resolve(self, mins: DataFrame, batch_id: int) -> DataFrame:
        """Claims for batch ``batch_id``: ``mins`` holds one row per key the
        batch touched, ``keys + values`` (+ :meth:`last_ts`), the values
        being the batch's own candidate claim. Returns the same columns with each live prior
        claim in place of the batch's, plus ``seen_before``."""
        sess = mins.sparkSession
        self._compact(sess, batch_id)
        seen = self._read(sess, batch_id)
        if seen is None:
            return mins.select(*self.cols, F.lit(False).alias("seen_before"))
        seen = seen.select(*self.keys, *[F.col(c).alias("seen_" + c)
                                         for c in self.cols[len(self.keys):]])
        return mins.join(seen, self.keys, "left").select(
            *self.keys,
            *[F.coalesce("seen_" + c, c).alias(c) for c in self.values],
            *([F.greatest("seen_last_ts", "last_ts").alias("last_ts")]
              if self.ttl is not None else []),
            F.col("seen_" + self.values[0]).isNotNull().alias("seen_before"))

    def append(self, firsts: DataFrame, batch_id: int) -> None:
        """Write batch ``batch_id``'s rows from :meth:`resolve`'s output
        (overwriting a previous attempt's)."""
        if self.ttl is None:
            firsts = firsts.filter(~F.col("seen_before"))
        firsts.select(*self.cols).write.mode("overwrite").parquet(
            os.path.join(self.dir, f"batch_id={batch_id}"))

    def _compact(self, sess, batch_id: int) -> None:
        """Delete what the newest snapshot covers, then fold the partitions
        older than ``batch_id`` into a new snapshot if more than
        :data:`FOLD_AFTER` of them are left."""
        snap = self._snapshot()
        if snap is not None:
            self._drop_folded(snap)
        if len(self.prior_batches(batch_id)) > FOLD_AFTER:
            tmp = os.path.join(self.snaps, f"_tmp-{uuid.uuid4().hex}")
            self._read(sess, batch_id, fold=True).write.parquet(tmp)
            os.rename(tmp, os.path.join(self.snaps, str(batch_id)))
            self._drop_folded(batch_id)

    def _read(self, sess, batch_id: int, fold: bool = False) -> DataFrame | None:
        """The current live claims older than ``batch_id`` (None: none
        yet); ``fold`` reduces them to one row per key even without a TTL,
        which a fold needs to bound its file count."""
        snap = self._snapshot()
        parts = self.prior_batches(batch_id)
        frames = []
        if snap is not None:
            frames.append(sess.read.parquet(os.path.join(self.snaps, str(snap)))
                          .select(*self.cols, F.lit(-1).alias("batch_id")))
        if parts:
            frames.append(sess.read.parquet(self.dir)
                          .filter(F.col("batch_id") < batch_id)
                          .select(*self.cols, "batch_id"))
        if not frames:
            return None
        rows = frames[0] if len(frames) == 1 else frames[0].unionByName(frames[1])
        if self.ttl is None and not fold:
            return rows.select(*self.cols)
        rest = self.cols[len(self.keys):]
        cur = (rows.groupBy(*self.keys)
               .agg(F.max_by(F.struct(*rest), "batch_id").alias("c"))
               .select(*self.keys, *[F.col("c." + c).alias(c) for c in rest]))
        if self.ttl is None:
            return cur
        wm = rows.agg(F.max("last_ts").cast("double")).first()[0]
        if wm is None:
            return cur
        return cur.filter(F.col("last_ts").cast("double") >= wm - self.ttl)

    def _drop_folded(self, snap: int) -> None:
        """Delete what snapshot ``snap`` covers: partitions below it, older
        snapshots and unfinished folds."""
        for d in os.listdir(self.dir):
            if d.startswith("batch_id=") and int(d.split("=", 1)[1]) < snap:
                shutil.rmtree(os.path.join(self.dir, d))
        for d in os.listdir(self.snaps):
            if d != str(snap):
                shutil.rmtree(os.path.join(self.snaps, d))


def _event_cols(ttl_seconds, event_ts_col):
    """The stream's event-time column, carried only with a TTL."""
    if ttl_seconds is None:
        return []
    if event_ts_col is None:
        raise ValueError("ttl_seconds requires event_ts_col (event-time TTL)")
    return [F.col(event_ts_col).cast("timestamp").alias("evt")]


def streaming_exact_join(
    stream: DataFrame,
    report_sink: str,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ttl_seconds: float | None = None,
    event_ts_col: str | None = None,
):
    """Online exact dedup: one verdict row per doc, ``(id, content_h,
    is_dup, dup_of)`` (``dup_of`` empty for originals), written under
    ``report_sink`` as ``batch_id=<n>`` partitions overwritten on replay.
    The claims table (content_h, first_id) lives under ``state_dir``.

    ``ttl_seconds`` + ``event_ts_col``: retention window in event time, with
    the :class:`ClaimsTable` semantics: a content hash none of whose
    arrivals is within ``ttl_seconds`` of the newest event time seen before
    the batch is forgotten, and its next arrival is a new original.

    Returns the ``DataStreamWriter`` (foreachBatch); the caller sets the
    checkpoint location and trigger and calls ``start()``."""
    docs = stream.select(F.col(id_col).cast("string").alias("id"),
                         F.sha2(F.col(text_col), 256).alias("content_h"),
                         *_event_cols(ttl_seconds, event_ts_col))
    table = ClaimsTable(state_dir, ["content_h"], ["first_id"], ttl_seconds)

    def process_batch(bdf: DataFrame, batch_id: int):
        b = bdf.persist()
        try:
            mins = b.groupBy("content_h").agg(F.min("id").alias("first_id"),
                                              *table.last_ts())
            # the verdict and the claims both read it: one claims read + join
            firsts = table.resolve(mins, batch_id).persist()
            try:
                is_dup = F.col("id") != F.col("first_id")
                verdict = b.join(firsts, "content_h").select(
                    "id", "content_h", is_dup.alias("is_dup"),
                    F.when(is_dup, F.col("first_id")).otherwise(F.lit(""))
                    .alias("dup_of"))
                verdict.write.mode("overwrite").parquet(
                    os.path.join(report_sink, f"batch_id={batch_id}"))
                table.append(firsts, batch_id)
            finally:
                firsts.unpersist()
        finally:
            b.unpersist()

    return docs.writeStream.foreachBatch(process_batch)


def _minhash_rows(texts: pd.Series, k: int, n_hashes: int) -> list[list[int] | None]:
    """Per-row MinHash signatures, bit-identical to the batch
    ``minhash_signatures`` (operators/dedup.py:66): distinct character
    k-shingles, hash family = 8-hex-char slices of md5(shingle) and
    md5('#'+shingle) read as integers, min per slice. ``None`` for rows
    shorter than ``k`` (the batch path filters those out).

    REFERENCE implementation for the tests, which pin it against the batch
    operator and use it to derive expected candidate rows."""
    out: list[list[int] | None] = []
    for t in texts:
        t = t if isinstance(t, str) else ""
        if len(t) < k:
            out.append(None)
            continue
        mins = [None] * n_hashes
        for s in {t[i: i + k] for i in range(len(t) - k + 1)}:
            h1 = hashlib.md5(s.encode()).hexdigest()
            h2 = hashlib.md5(("#" + s).encode()).hexdigest()
            for j in range(n_hashes):
                src = h1 if j < 4 else h2
                v = int(src[(j % 4) * 8: (j % 4) * 8 + 8], 16)
                if mins[j] is None or v < mins[j]:
                    mins[j] = v
        out.append(mins)
    return out


def _band_pack(sig: list[int], b: int, rows_per_band: int) -> int:
    """Injective per-band pack, identical to the batch ``band_sig``:
    (first − 2³¹)·2³² + second for 2-row bands, else the single hash."""
    first = sig[b * rows_per_band]
    if rows_per_band == 1:
        return first
    return (first - 2147483648) * 4294967296 + sig[b * rows_per_band + 1]


def _band_rows_from_sigs(sigs: DataFrame, n_hashes: int, bands: int,
                         extra_cols: tuple = ()) -> DataFrame:
    """(id, m0..m{n-1}[, extra]) → one row per (doc, band):
    ``(id, band_id, band_sig, sig array<long>[, extra])`` with the batch
    module's injective per-band affine pack."""
    rows_per_band = n_hashes // bands
    if rows_per_band > 2:
        raise ValueError("band packing supports at most 2 32-bit rows per band")

    def band_sig(b: int):
        first = F.col(f"m{b * rows_per_band}")
        if rows_per_band == 1:
            return first
        return (first - F.lit(2147483648)) * F.lit(4294967296) + F.col(
            f"m{b * rows_per_band + 1}")

    return sigs.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"), band_sig(b).alias("band_sig"))
            for b in range(bands)
        ])).alias("band"),
        F.array(*[F.col(f"m{j}") for j in range(n_hashes)]).alias("sig"),
        *extra_cols,
    ).select("id", "band.band_id", "band.band_sig", "sig", *extra_cols)


def streaming_minhash_join(
    stream: DataFrame,
    candidates_sink: str,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 8,
    bands: int = 4,
    ttl_seconds: float | None = None,
    event_ts_col: str | None = None,
):
    """Online near-dup candidates: one row ``(id, band_id, first_id,
    jaccard_est)`` per (arriving doc, band bucket claimed by another doc),
    written under ``candidates_sink`` as ``batch_id=<n>`` partitions
    overwritten on replay. Docs that hit no claimed bucket emit nothing
    (novel). The band-claims table (band_id, band_sig, first_id,
    first_sig) lives under ``state_dir``; within a batch the smallest id
    claims a bucket, and ``jaccard_est`` is the fraction of agreeing
    minhashes between the doc's and the claim's signature (JVM
    ``zip_with``/``aggregate``).

    ``ttl_seconds`` + ``event_ts_col``: per-bucket retention window with the
    same :class:`ClaimsTable` semantics as :func:`streaming_exact_join`.

    The per-batch frame is STATIC, so the signatures use the batch module's
    explode+groupBy(min) formulation (``minhash_signatures`` — whole-stage
    codegen, map-side partial min), measured 2-3× faster than per-row
    higher-order functions on the same corpus; the stream itself carries
    only ``(id, text)`` source rows with no shuffle before the batch.

    Returns the ``DataStreamWriter`` (foreachBatch); the caller sets the
    checkpoint location and trigger and calls ``start()``.
    """
    docs = stream.select(F.col(id_col).cast("string").alias("id"),
                         F.col(text_col).alias("text"),
                         *_event_cols(ttl_seconds, event_ts_col))
    table = ClaimsTable(state_dir, ["band_id", "band_sig"],
                        ["first_id", "first_sig"], ttl_seconds)

    def process_batch(bdf: DataFrame, batch_id: int):
        b = _band_rows(bdf, k, n_hashes, bands, ttl_seconds).persist()
        try:
            cands, firsts = _join_candidates(b, table, batch_id, n_hashes)
            cands.write.mode("overwrite").parquet(
                os.path.join(candidates_sink, f"batch_id={batch_id}"))
            table.append(firsts, batch_id)
        finally:
            b.unpersist()

    return docs.writeStream.foreachBatch(process_batch)


def _band_rows(bdf: DataFrame, k: int, n_hashes: int, bands: int,
               ttl_seconds: float | None) -> DataFrame:
    """One micro-batch's (id, text[, evt]) → band rows (id, band_id,
    band_sig, sig[, evt]); a doc's ``evt`` is its newest arrival's."""
    from ..operators.dedup import minhash_signatures

    sigs = minhash_signatures(bdf, "id", "text", k=k, n_hashes=n_hashes)
    if ttl_seconds is None:
        return _band_rows_from_sigs(sigs, n_hashes, bands)
    evt = bdf.groupBy("id").agg(F.max("evt").alias("evt"))
    return _band_rows_from_sigs(sigs.join(evt, "id"), n_hashes, bands,
                                extra_cols=("evt",))


def _join_candidates(b: DataFrame, table: ClaimsTable, batch_id: int,
                     n_hashes: int):
    """Batch half of :func:`streaming_minhash_join`: from one micro-batch of
    band rows ``b`` produce ``(candidate rows, claims for table.append)``.
    DataFrame expressions end to end — the plan audit pins that no Python
    node appears (PLANS.md row)."""
    mins = b.groupBy("band_id", "band_sig").agg(
        F.min("id").alias("first_id"),
        F.min_by("sig", "id").alias("first_sig"),
        *table.last_ts())
    firsts = table.resolve(mins, batch_id)
    agree = F.aggregate(
        F.zip_with("sig", "first_sig", lambda a, c: (a == c).cast("int")),
        F.lit(0), lambda acc, x: acc + x)
    cands = (b.join(firsts, ["band_id", "band_sig"])
             .filter(F.col("id") != F.col("first_id"))
             .select("id", "band_id", "first_id",
                     (agree / F.lit(float(n_hashes))).alias("jaccard_est")))
    return cands, firsts


def reduce_candidates(pdf: pd.DataFrame, threshold: float = 0.5) -> pd.DataFrame:
    """Per-batch reduction of candidate rows to one verdict per doc: the
    best (highest jaccard_est) seen first-doc, dup iff it clears
    ``threshold``. Use inside ``foreachBatch`` — one doc's band hits all
    land in the same trigger, so this needs no second stateful stage."""
    if pdf.empty:
        return pd.DataFrame(columns=["id", "dup_of", "jaccard_est", "is_dup"])
    best = (pdf.sort_values(["jaccard_est", "first_id"],
                            ascending=[False, True], kind="mergesort")
            .groupby("id", as_index=False).first())
    best = best[["id", "first_id", "jaccard_est"]].rename(
        columns={"first_id": "dup_of"})
    best["is_dup"] = best["jaccard_est"] >= threshold
    return best
