"""Streaming deduplication via ``applyInPandasWithState``.

Batch dedup (operators/dedup.py) answers "which of these 10^12 documents
duplicate each other"; a TRAINING-DATA INGEST pipeline also needs the online
form — "is this arriving document a duplicate of anything seen so far" —
without re-scanning the corpus per micro-batch. Both operators here keep
O(1) state per key in Spark's checkpointed state store (RocksDB-backed on a
real cluster), so the working set scales with DISTINCT content, not stream
length, and survives restarts exactly like the reference's carried operator
state (the same contract streaming_ewma pins for scalers).

Two tiers, mirroring the batch module:

- :func:`streaming_exact_dedup` — content-hash identity. State key =
  sha2(normalized text); value = (first doc_id, count). The first arrival
  is emitted ``is_dup=false``, every later arrival ``is_dup=true`` with
  ``dup_of`` pointing at the first. Chunk/micro-batch split never changes
  the outcome (same-batch and cross-batch duplicates take the same path).

- :func:`streaming_minhash_dedup` — near-duplicate candidates by MinHash
  LSH banding, the SAME hash family and band packing as the batch
  ``minhash_signatures``/``minhash_lsh_candidates`` (md5 32-bit hex slices
  → bigint; per-band injective 2×32-bit affine pack), pinned by a
  streaming-vs-batch parity test. State key = (band_id, band_sig) bucket;
  value = the bucket's FIRST doc id + its full 8-hash signature, so a hit
  emits ``jaccard_est`` (fraction of agreeing minhashes — the standard
  MinHash Jaccard estimator) that callers threshold. One candidate row per
  matching band; reduce to a per-doc verdict with
  :func:`reduce_candidates` inside ``foreachBatch`` (all of one doc's band
  hits surface in the same trigger, so the reduction is per-batch local
  and needs no second stateful stage).

Scale notes (100 TB ingest): the exact state carries ~50 B per distinct
document; the LSH state ~90 B per distinct band bucket (buckets ≈ docs ×
bands). Both shard by Spark's state-store partitioning on the group key —
content hashes and band signatures are uniform by construction, so no salt
is needed (contrast the hot-URL rollup path). Set
``spark.sql.streaming.stateStore.providerClass`` to RocksDB and a
watermark/TTL policy appropriate to the corpus retention window when the
distinct set outgrows executor memory.

Throughput ceiling, measured (see jobs/stream_ingest_job.py and
BASELINE.md): every applyInPandasWithState op pays one PYTHON function
invocation per GROUP per batch — ~6k docs/s at local[32] on 900k distinct
content hashes, and the state-store provider is irrelevant to it. The
JVM alternatives: for exact dedup, the ingest job's ``--dedup-mode
report-join`` (lineage at join speed) or ``drop`` (filtered corpus only);
for near-dup, :func:`streaming_minhash_join` — the same candidate rows
from a foreachBatch join against a band-claims table, no Python stage.
The stateful ops remain the path when an event-time retention TTL is
required (the join-mode tables have no eviction); batch LSH on periodic
snapshots stays the fallback when bucket counts reach ingest scale.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_exact_dedup(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ttl_seconds: float | None = None,
    event_ts_col: str | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Online exact dedup: one output row per input doc with ``is_dup`` and
    ``dup_of`` (empty string for originals). State per distinct content hash
    = (first_id, n_seen).

    ``ttl_seconds`` + ``event_ts_col``: optional retention window — a
    content hash whose last arrival is older than the stream's EVENT-TIME
    watermark by more than the TTL is evicted from the state store, so the
    working set tracks the active corpus window instead of growing forever;
    a re-arrival after eviction is a new original (the standard windowed-
    dedup trade-off). Event-time (not processing-time) timeouts on purpose:
    retention windows are about CORPUS time, they replay deterministically
    from a checkpoint, and — mechanically — a processing-time timeout keeps
    scheduling wake-up batches forever, so `Trigger.AvailableNow` backfill
    jobs would never terminate (measured: the query idles at 'Writing
    offsets to log' indefinitely)."""
    use_ttl = ttl_seconds is not None
    if use_ttl:
        if event_ts_col is None:
            raise ValueError("ttl_seconds requires event_ts_col (event-time TTL)")
        stream = stream.withColumn(
            event_ts_col, F.col(event_ts_col).cast("timestamp")
        ).withWatermark(event_ts_col, watermark_delay)
        keyed = stream.select(
            F.col(id_col).cast("string").alias("id"),
            F.sha2(F.col(text_col), 256).alias("content_h"),
            F.col(event_ts_col).alias("evt"),
        )
    else:
        keyed = stream.select(
            F.col(id_col).cast("string").alias("id"),
            F.sha2(F.col(text_col), 256).alias("content_h"),
        )
    ttl_ms = int((ttl_seconds or 0) * 1000)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if use_ttl and state.hasTimedOut:
            state.remove()
            return
        # None (not string truthiness) marks an unclaimed bucket, tied to
        # state.exists: an empty-string doc id is a legal claimant (ADVICE
        # r6 — `if not first_id` let ''-id documents through undeduplicated)
        first_id, n_seen = state.get if state.exists else (None, 0)
        max_evt_ms = 0
        # concatenate the group's Arrow chunks BEFORE sorting: a group can
        # arrive split across chunks, and a per-chunk sort would make the
        # "smallest id wins" tie-break depend on the Arrow batch size
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                "id", kind="mergesort").reset_index(drop=True)
            ids = pdf["id"].tolist()
            if use_ttl:
                max_evt_ms = int(pdf["evt"].max().value // 1_000_000)
            dup_of, is_dup = [], []
            for i in ids:
                if first_id is None:
                    first_id = i
                    dup_of.append("")
                    is_dup.append(False)
                elif i == first_id:
                    dup_of.append("")
                    is_dup.append(False)
                else:
                    dup_of.append(first_id)
                    is_dup.append(True)
            n_seen += len(ids)
            yield pd.DataFrame({
                "id": ids,
                "content_h": pdf["content_h"],
                "is_dup": is_dup,
                "dup_of": dup_of,
            })
        if not chunks:
            return  # no data, no timeout: leave state and deadline untouched
        state.update((str(first_id), int(n_seen)))
        if use_ttl:
            # evict once the watermark passes last-seen event time + TTL;
            # Spark requires the timestamp to sit beyond the current
            # watermark, so late stragglers clamp forward by 1 ms
            state.setTimeoutTimestamp(
                max(max_evt_ms + ttl_ms, state.getCurrentWatermarkMs() + 1))

    return keyed.groupBy("content_h").applyInPandasWithState(
        fn,
        outputStructType="id string, content_h string, is_dup boolean, dup_of string",
        stateStructType="first_id string, n_seen long",
        outputMode="append",
        timeoutConf=(GroupStateTimeout.EventTimeTimeout
                     if use_ttl else GroupStateTimeout.NoTimeout),
    )


def _minhash_rows(texts: pd.Series, k: int, n_hashes: int) -> list[list[int] | None]:
    """Per-row MinHash signatures, bit-identical to the batch
    ``minhash_signatures`` (operators/dedup.py:66): distinct character
    k-shingles, hash family = 8-hex-char slices of md5(shingle) and
    md5('#'+shingle) read as integers, min per slice. ``None`` for rows
    shorter than ``k`` (the batch path filters those out).

    REFERENCE implementation — the production streaming path computes the
    same family with JVM column expressions (see
    :func:`streaming_minhash_dedup`); the parity tests pin this Python
    formulation against both the batch operator and the streaming output."""
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


def minhash_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 8,
    bands: int = 4,
    evt_col: str | None = None,
) -> DataFrame:
    """Stateless LSH band rows as pure COLUMN EXPRESSIONS — one row per
    (doc, band) with the doc's full signature: ``(id, band_id, band_sig,
    sig array<long>[, evt])``.

    This is the STREAM-side formulation, used where the rows must stay
    stateless (feeding ``applyInPandasWithState``, whose input cannot be a
    streaming aggregate): the min runs per ROW over the shingle array with
    higher-order functions — streaming-compatible, entirely JVM (VERDICT
    r6: the old path ran hashlib.md5 twice per shingle per doc inside
    mapInPandas — a Python ceiling that bound ingest-rate near-dup before
    the stateful stage did). Same hash family as the batch
    ``minhash_signatures`` (md5 hex slices → bigint, per-band injective
    affine pack; parity pytest-pinned); rows shorter than ``k`` are
    filtered like the batch path. NOTE the HOF lambdas fall out of
    whole-stage codegen (the batch module's round-2 measurement), so on a
    STATIC frame — including inside ``foreachBatch``, where the join mode
    computes per micro-batch — prefer ``minhash_signatures`` +
    :func:`_band_rows_from_sigs` (measured 2-3× on 120k docs, see
    BASELINE.md).
    """
    t = F.col(text_col)
    shingles = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.length(t) - F.lit(k - 1)),
        lambda i: F.substring(t, i, k)))
    h1 = F.transform(shingles, F.md5)
    h2 = F.transform(shingles, lambda s: F.md5(F.concat(F.lit("#"), s)))
    m_cols = [
        F.conv(F.array_min(F.transform(
            h1 if j < 4 else h2, lambda x: x.substr((j % 4) * 8 + 1, 8))),
            16, 10).cast("long").alias(f"m{j}")
        for j in range(n_hashes)
    ]

    cols = [F.col(id_col).cast("string").alias("id")]
    if evt_col is not None:
        cols.append(F.col(evt_col).alias("evt"))
    sig_rows = (df
                .filter(F.length(t) >= k)  # the batch path's short-row filter
                .select(*cols, *m_cols))
    return _band_rows_from_sigs(sig_rows, n_hashes, bands,
                                extra_cols=("evt",) if evt_col else ())


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


def prior_claim_batches(state_dir: str, batch_id: int) -> list[int]:
    """The ``batch_id=<n>`` partitions of a foreachBatch claims table that
    a micro-batch may join against: every ``n`` strictly below
    ``batch_id`` (a replayed batch must not join against its own previous
    attempt's appends) whose directory holds at least one ``.parquet``
    file (an EMPTY micro-batch writes only ``_SUCCESS``, and a read over
    only file-less partitions cannot infer a schema). Sorted ascending;
    empty when ``state_dir`` does not exist yet.

    ``state_dir`` must be on a local filesystem: it is listed with
    ``os.listdir``, not through Hadoop."""
    if not os.path.isdir(state_dir):
        return []
    out = []
    for d in os.listdir(state_dir):
        if not d.startswith("batch_id="):
            continue
        n = int(d.split("=", 1)[1])
        if n < batch_id and any(f.endswith(".parquet") for f in
                                os.listdir(os.path.join(state_dir, d))):
            out.append(n)
    return sorted(out)


def streaming_minhash_join(
    stream: DataFrame,
    candidates_sink: str,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 8,
    bands: int = 4,
):
    """JVM-speed streaming near-dup: the same candidate rows as
    :func:`streaming_minhash_dedup` (``id, band_id, first_id,
    jaccard_est`` — parity pytest-pinned) with NO Python stage at all.

    The stateful-bucket op pays one PYTHON invocation per (band_id,
    band_sig) group per batch — the same applyInPandasWithState dispatch
    ceiling the exact-dedup path had before ``report-join`` (measured
    there: 9.4k → 51.3k docs/s). This is the LSH analog of that fix:
    ``foreachBatch`` maintains a compact band-claims table
    (band_id, band_sig, first_id, first_sig) as idempotent
    ``batch_id=<n>`` partitions under ``state_dir`` and left-joins each
    micro-batch's band rows against the strictly-older claims;
    within-batch firsts take the bucket by smallest id (the stateful op's
    tie-break), and the signature-agreement estimate is a JVM
    ``zip_with``/``aggregate`` over the two signatures. Candidate rows
    land under ``candidates_sink`` as the same idempotent batch
    partitions, so checkpoint recovery replays a batch onto itself
    (overwrite) and never joins against its own prior attempt —
    exactly-once like the state-store path.

    Because the per-batch frame is STATIC, the signatures use the batch
    module's explode+groupBy(min) formulation (``minhash_signatures`` —
    whole-stage codegen, map-side partial min) instead of the stream-side
    per-row HOF form, which falls out of codegen and measured 2-3× slower
    on the same corpus; the stream itself carries only ``(id, text)``
    source rows with no shuffle before the batch boundary.

    Returns the configured ``DataStreamWriter`` (foreachBatch); the
    caller sets the checkpoint location and trigger and calls
    ``start()``. No event-time TTL in this mode (the claims table has no
    eviction) — use :func:`streaming_minhash_dedup` when a retention
    window is required, or at ingest scale run the batch LSH on
    snapshots. At 100 TB the claims table is ~60 B per distinct band
    bucket and the per-batch join shuffles only band keys and 8-long
    signatures, never the text.
    """
    from ..operators.dedup import minhash_signatures

    docs = stream.select(F.col(id_col).cast("string").alias("id"),
                         F.col(text_col).alias("text"))

    def process_batch(bdf: DataFrame, batch_id: int):
        sess = bdf.sparkSession
        sigs = minhash_signatures(bdf, "id", "text", k=k, n_hashes=n_hashes)
        b = _band_rows_from_sigs(sigs, n_hashes, bands).persist()
        try:
            seen = None
            if prior_claim_batches(state_dir, batch_id):
                seen = (sess.read.parquet(state_dir)
                        .filter(F.col("batch_id") < batch_id)
                        .select("band_id", "band_sig", "first_id",
                                "first_sig"))
            cands, new_claims = _join_candidates(b, seen, n_hashes)
            cands.write.mode("overwrite").parquet(
                os.path.join(candidates_sink, f"batch_id={batch_id}"))
            new_claims.write.mode("overwrite").parquet(
                os.path.join(state_dir, f"batch_id={batch_id}"))
        finally:
            b.unpersist()

    return docs.writeStream.foreachBatch(process_batch)


def _join_candidates(b: DataFrame, seen: DataFrame | None, n_hashes: int):
    """Batch half of :func:`streaming_minhash_join`: from one micro-batch of
    band rows ``b`` (id, band_id, band_sig, sig) and the strictly-older
    claims table ``seen`` (band_id, band_sig, first_id, first_sig; None on
    the first batch), produce ``(candidate rows, new claims)``. Pure
    DataFrame expressions end to end — the plan audit pins that no Python
    node appears (PLANS.md row). Bucket semantics match the stateful op:
    a prior claim always owns the bucket; otherwise the batch's smallest id
    claims it; every other doc in the bucket emits one candidate row with
    the signature-agreement Jaccard estimate (JVM zip_with/aggregate)."""
    mins = b.groupBy("band_id", "band_sig").agg(
        F.min("id").alias("batch_first"),
        F.min_by("sig", "id").alias("batch_sig"))
    if seen is not None:
        seen = seen.select("band_id", "band_sig",
                           F.col("first_id").alias("seen_first"),
                           F.col("first_sig").alias("seen_sig"))
        firsts = (mins.join(seen, ["band_id", "band_sig"], "left")
                  .select(
                      "band_id", "band_sig",
                      F.coalesce("seen_first", "batch_first"
                                 ).alias("first_id"),
                      F.coalesce("seen_sig", "batch_sig").alias("first_sig"),
                      F.col("seen_first").isNotNull().alias("seen_before")))
    else:
        firsts = mins.select(
            "band_id", "band_sig",
            F.col("batch_first").alias("first_id"),
            F.col("batch_sig").alias("first_sig"),
            F.lit(False).alias("seen_before"))
    agree = F.aggregate(
        F.zip_with("sig", "first_sig", lambda a, c: (a == c).cast("int")),
        F.lit(0), lambda acc, x: acc + x)
    cands = (b.join(firsts, ["band_id", "band_sig"])
             .filter(F.col("id") != F.col("first_id"))
             .select("id", "band_id", "first_id",
                     (agree / F.lit(float(n_hashes))).alias("jaccard_est")))
    new_claims = (firsts.filter(~F.col("seen_before"))
                  .select("band_id", "band_sig", "first_id", "first_sig"))
    return cands, new_claims


def streaming_minhash_dedup(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 8,
    bands: int = 4,
    ttl_seconds: float | None = None,
    event_ts_col: str | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Online near-dup candidates: emits one row per (arriving doc, matching
    band bucket) with the bucket's first-seen doc and the signature-agreement
    Jaccard estimate. Docs that match no seen bucket emit nothing (callers
    treat absence as "novel" per batch — see :func:`reduce_candidates`).
    ``ttl_seconds`` + ``event_ts_col``: optional per-bucket retention window
    (same event-time eviction semantics and rationale as
    :func:`streaming_exact_dedup`).

    The signature is computed STATELESSLY per row with JVM column
    expressions (md5/substring/array_min higher-order functions — no Python
    before the stateful stage); the only stateful exchange carries
    (band_id, band_sig, id, signature) ≈ 90 B per band row.
    """
    use_ttl = ttl_seconds is not None
    if use_ttl and event_ts_col is None:
        raise ValueError("ttl_seconds requires event_ts_col (event-time TTL)")
    ttl_ms = int((ttl_seconds or 0) * 1000)
    if use_ttl:
        stream = stream.withColumn(
            event_ts_col, F.col(event_ts_col).cast("timestamp"))
    band_rows = minhash_band_rows(
        stream, id_col=id_col, text_col=text_col, k=k, n_hashes=n_hashes,
        bands=bands, evt_col=event_ts_col if use_ttl else None)
    if use_ttl:
        band_rows = band_rows.withWatermark("evt", watermark_delay)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if use_ttl and state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            st = state.get
            first_id, first_sig = st[0], list(st[1:])
        else:
            # None sentinel (not string truthiness): '' is a legal doc id
            first_id, first_sig = None, None
        max_evt_ms = 0
        # concat-then-sort for the same chunk-split determinism reason as
        # streaming_exact_dedup
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                "id", kind="mergesort").reset_index(drop=True)
            if use_ttl:
                max_evt_ms = int(pdf["evt"].max().value // 1_000_000)
            out_id, out_first, out_j = [], [], []
            for i, sig in zip(pdf["id"], pdf["sig"]):
                sig = list(sig)
                if first_id is None:
                    first_id, first_sig = i, sig
                    continue
                if i == first_id:
                    continue
                agree = sum(a == b for a, b in zip(sig, first_sig))
                out_id.append(i)
                out_first.append(first_id)
                out_j.append(agree / float(len(first_sig)))
            yield pd.DataFrame({
                "id": out_id,
                "band_id": [key[0]] * len(out_id),
                "first_id": out_first,
                "jaccard_est": out_j,
            })
        if not chunks:
            return  # no data, no timeout: leave state and deadline untouched
        if first_id is not None:
            state.update((str(first_id), *[int(x) for x in first_sig]))
            if use_ttl:
                state.setTimeoutTimestamp(
                    max(max_evt_ms + ttl_ms,
                        state.getCurrentWatermarkMs() + 1))

    state_schema = "first_id string, " + ", ".join(
        f"s{j} long" for j in range(n_hashes))
    return band_rows.groupBy("band_id", "band_sig").applyInPandasWithState(
        fn,
        outputStructType=("id string, band_id int, first_id string, "
                          "jaccard_est double"),
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(GroupStateTimeout.EventTimeTimeout
                     if use_ttl else GroupStateTimeout.NoTimeout),
    )


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
