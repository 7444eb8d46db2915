"""Gorilla-style time-series compression: delta-of-delta timestamps + XOR values.

Published algorithm: Pelkonen et al., "Gorilla: A Fast, Scalable, In-Memory
Time Series Database", VLDB 2015 (Facebook). The reference repo has no
compression beyond its Quantize/Digitize value encodings
(``src/ezmsg/sigproc/quantize.py:33-68``, ``digitize.py:57-112``); this kernel
is the north star's storage codec for rolled-up points.

Encoding (per series, timestamps sorted ascending):

- timestamps: first as 64-bit, then delta, then delta-of-delta with the
  paper's variable-length buckets {0: '0', [-63,64): '10'+8b,
  [-255,256): '110'+10b, [-2047,2048): '1110'+13b, else: '1111'+64b}.
- values: float64 bit patterns; XOR with predecessor; '0' if identical, else
  '11' + 5b leading-zero count + 6b (length−1) + meaningful bits. (The
  paper's extra '10' previous-window-reuse mode is deliberately not emitted:
  its control decision is inherently sequential, and dropping it lets the
  whole encoder run as vectorized numpy — a fraction of a bit per changed
  value traded for an order-of-magnitude faster, linearly-scaling kernel.
  The decoder still accepts both modes.)

The encoders are fully vectorized: every point contributes one or two
variable-width bit fields, materialized as (uint64 value, nbits) arrays and
scattered into the output bit array with fancy indexing — zero per-point
Python. The kernel runs once per (key, bucket) group under ``applyInPandas``.

The DECODERS are vectorized too (``decode_timestamp_blocks`` /
``decode_value_blocks``): many blocks parse in lockstep with per-block
cursors held in numpy arrays, so Python-level iterations equal the longest
block's point count rather than the total. The scalar ``decode_timestamps``
/ ``decode_values`` remain as the independent cross-check implementation.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .serieslift import key_change_mask, map_key_batches


class _BitReader:
    """O(1)-per-field bit reader over 64-bit words.

    A field (≤64 bits) spans at most two adjacent big-endian words; reading is
    two small-int shifts and a mask. (The previous single-big-int design shifted
    the ENTIRE remaining stream on every read — O(block) per field, O(block²)
    per decode — which made decode the scaling bottleneck of round 1's bench.)
    """

    __slots__ = ("_w", "pos")

    def __init__(self, data: bytes):
        pad = (-len(data)) % 8
        if pad:
            data = data + b"\x00" * pad
        # plain Python ints (via tolist) — indexing a list of ints is ~3×
        # faster than per-element numpy scalar extraction in a tight loop
        self._w = np.frombuffer(data, dtype=">u8").tolist() + [0]
        self.pos = 0

    def read_bits(self, n: int) -> int:
        p = self.pos
        self.pos = p + n
        wi = p >> 6
        off = p & 63
        end = off + n
        w = self._w
        if end <= 64:
            return (w[wi] >> (64 - end)) & ((1 << n) - 1)
        lo_bits = end - 64
        return (((w[wi] << lo_bits) | (w[wi + 1] >> (64 - lo_bits))) & ((1 << n) - 1))


def _scatter_or(widx: np.ndarray, contrib: np.ndarray, n_words: int) -> np.ndarray:
    """OR together per-word contributions. ``widx`` is NON-DECREASING; each
    output word is the bitwise OR of its (bit-disjoint) contributions —
    segment boundaries + one ``bitwise_or.reduceat`` pass, no sort."""
    if widx.size == 0:
        return np.zeros(n_words, dtype=np.uint64)
    seg_starts = np.concatenate([[0], np.flatnonzero(np.diff(widx)) + 1])
    out = np.zeros(n_words, dtype=np.uint64)
    out[widx[seg_starts]] = np.bitwise_or.reduceat(contrib, seg_starts)
    return out


def _pack_varbits(values: np.ndarray, nbits: np.ndarray) -> bytes:
    """Concatenate variable-width big-endian bit fields — fully vectorized.

    ``values[i]``'s low ``nbits[i]`` bits are appended in order. Fields with
    nbits == 0 contribute nothing. Implementation: word-level scatter — each
    field lands in at most two adjacent 64-bit output words (its absolute bit
    position is a cumsum of widths), contributions are OR-aggregated per word
    with ``bitwise_or.reduceat``. ~2 element-ops per FIELD, vs ~1 per BIT for
    the bit-matrix formulation it replaced (kept as
    :func:`_pack_varbits_bitmatrix` for cross-checks) — ~6× faster encode.
    """
    values = np.ascontiguousarray(values, dtype=np.uint64)
    nbits = np.asarray(nbits)
    if values.size == 0 or int(nbits.sum()) == 0:
        return b""
    total_bits = int(nbits.sum())
    n_words = (total_bits + 63) // 64
    packed = np.zeros(n_words + 1, dtype=np.uint64)
    # All arithmetic stays in uint64: this numpy build's int64 shifts take a
    # ~20× slower non-SIMD path. Out-of-range shift counts (wrapped subtract
    # on the inactive branch of a `where`) are clamped to 63 with `minimum`
    # and their lanes discarded. Work proceeds in field CHUNKS so the ~10
    # temporaries stay cache/page-warm instead of page-faulting fresh tens of
    # MB on every elementwise op (measured ~7× end-to-end difference).
    c64 = np.uint64(64)
    c63 = np.uint64(63)
    CH = 1 << 18
    carry_bits = 0
    for lo in range(0, values.size, CH):
        nb0 = nbits[lo : lo + CH]
        keep = nb0 > 0
        nbu = nb0[keep].astype(np.uint64)
        if nbu.size == 0:
            continue
        v = values[lo : lo + CH][keep]
        v = v & (~np.uint64(0) >> (c64 - nbu))  # mask to low nbits
        ends = np.cumsum(nbu) + np.uint64(carry_bits)
        pos = ends - nbu
        w_base = carry_bits >> 6
        carry_bits = int(ends[-1])
        wi = (pos >> np.uint64(6)).astype(np.int64) - w_base
        off = pos & c63
        spans = off + nbu > c64  # field crosses into word wi+1
        sh_l = np.minimum(c64 - off - nbu, c63)  # wraps huge on spans → discarded
        sh_r = np.minimum(off + nbu - c64, c63)  # wraps huge on non-spans → discarded
        contrib_hi = np.where(spans, v >> sh_r, v << sh_l)
        contrib_lo = np.where(spans, v << np.minimum(c64 + c64 - off - nbu, c63), np.uint64(0))
        n_local = int((carry_bits + 63) // 64) - w_base + 1
        local = _scatter_or(wi, contrib_hi, n_local) | _scatter_or(wi + 1, contrib_lo, n_local)
        packed[w_base : w_base + n_local] |= local
    return packed[:n_words].astype(">u8").tobytes()[: (total_bits + 7) // 8]


def _pack_varbits_bitmatrix(values: np.ndarray, nbits: np.ndarray) -> bytes:
    """Reference implementation of :func:`_pack_varbits` (bit-matrix gather);
    byte-identical output, used only by the cross-check tests."""
    values = np.ascontiguousarray(values, dtype=np.uint64)
    nbits = np.asarray(nbits, dtype=np.int32)
    keep = nbits > 0
    values, nbits = values[keep], nbits[keep]
    if values.size == 0:
        return b""
    chunks = []
    CH = 1 << 16
    for lo in range(0, values.size, CH):
        v = values[lo : lo + CH]
        nb = nbits[lo : lo + CH]
        wbytes = max(1, (int(nb.max()) + 7) // 8)
        wcols = wbytes * 8
        be = v.view(np.uint8).reshape(-1, 8)[:, ::-1][:, 8 - wbytes :]
        bits = np.unpackbits(np.ascontiguousarray(be), axis=1)
        total = int(nb.sum())
        starts = np.cumsum(nb, dtype=np.int32) - nb
        flat = np.arange(total, dtype=np.int32)
        rows = np.repeat(np.arange(v.size, dtype=np.int32), nb)
        src = rows * wcols + (flat - np.repeat(starts, nb) + (wcols - np.repeat(nb, nb)))
        chunks.append(bits.ravel()[src])
    return np.packbits(np.concatenate(chunks) if len(chunks) > 1 else chunks[0]).tobytes()


def encode_timestamps(ts: np.ndarray) -> bytes:
    """Delta-of-delta encode int64 timestamps (already sorted) — vectorized."""
    ts = np.asarray(ts, dtype=np.int64)
    n = ts.size
    vals = np.zeros(2 + 2 * max(n - 2, 0), dtype=np.uint64)
    bits = np.zeros_like(vals, dtype=np.int64)
    vals[0], bits[0] = np.uint64(ts[0]), 64
    if n == 1:
        return _pack_varbits(vals[:1], bits[:1])
    deltas = np.diff(ts)
    vals[1], bits[1] = np.uint64(deltas[0]), 64
    if n > 2:
        dod = np.diff(deltas)
        # bucket prefixes: 0:'0', 1:'10'+8b, 2:'110'+10b, 3:'1110'+13b, 4:'1111'+64b
        bucket = np.select(
            [dod == 0,
             (dod >= -64) & (dod < 64),
             (dod >= -256) & (dod < 256),
             (dod >= -2048) & (dod < 2048)],
            [0, 1, 2, 3],
            default=4,  # 64-bit catch-all (widened from the paper's 32 so
        )               # arbitrary µs-scale retention gaps roundtrip)
        prefix_val = np.array([0b0, 0b10, 0b110, 0b1110, 0b1111], dtype=np.uint64)[bucket]
        prefix_len = np.array([1, 2, 3, 4, 4], dtype=np.int64)[bucket]
        pay_len = np.array([0, 8, 10, 13, 64], dtype=np.int64)[bucket]
        half = np.array([0, 64, 256, 2048, 0], dtype=np.int64)[bucket]
        payload = np.where(bucket == 4, dod.view(np.uint64),
                           (dod + half).astype(np.int64).view(np.uint64))
        vals[2::2], bits[2::2] = prefix_val, prefix_len
        vals[3::2], bits[3::2] = payload, pay_len
    return _pack_varbits(vals, bits)


def decode_timestamps(data: bytes, n: int) -> np.ndarray:
    r = _BitReader(data)
    rb = r.read_bits
    t0 = rb(64)
    if t0 >= 1 << 63:
        t0 -= 1 << 64
    out = [t0]
    if n == 1:
        return np.array(out, dtype=np.int64)
    delta = rb(64)
    if delta >= 1 << 63:
        delta -= 1 << 64
    t = t0 + delta
    out.append(t)
    for _ in range(n - 2):
        if rb(1) == 0:
            pass
        elif rb(1) == 0:
            delta += rb(8) - 64
        elif rb(1) == 0:
            delta += rb(10) - 256
        elif rb(1) == 0:
            delta += rb(13) - 2048
        else:
            v = rb(64)
            delta += v - (1 << 64) if v >= (1 << 63) else v
        t += delta
        out.append(t)
    return np.array(out, dtype=np.int64)


def encode_values(vals: np.ndarray) -> bytes:
    """Gorilla XOR float64 encoding — vectorized ('0' / '11' modes)."""
    u = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = u.size
    vfields = np.zeros(1 + 2 * max(n - 1, 0), dtype=np.uint64)
    bfields = np.zeros_like(vfields, dtype=np.int64)
    vfields[0], bfields[0] = u[0], 64
    if n > 1:
        x = u[1:] ^ u[:-1]
        nz = x != 0
        # trailing zeros: the isolated low bit is a power of two, so float64
        # log2 of it is exact
        lowbit = x & (~x + np.uint64(1))
        tail = np.where(nz, np.log2(np.maximum(lowbit, np.uint64(1)).astype(np.float64)), 0).astype(np.int64)
        # leading zeros: float64 may round a 53+-bit x up across a power of
        # two, making the estimated bit-length one too large — that only
        # shrinks `lead`, which is safe (an extra leading bit is emitted,
        # never a dropped one)
        bl = np.floor(np.log2(np.maximum(x, np.uint64(1)).astype(np.float64))).astype(np.int64) + 1
        lead = np.clip(64 - bl, 0, 31)  # 5-bit leading-zero field cap (per paper)
        nb = 64 - lead - tail
        header = (np.uint64(0b11) << np.uint64(11)) | (
            lead.astype(np.uint64) << np.uint64(6)
        ) | (nb - 1).astype(np.uint64)
        vfields[1::2] = np.where(nz, header, np.uint64(0))
        bfields[1::2] = np.where(nz, 13, 1)
        vfields[2::2] = x >> tail.astype(np.uint64)
        bfields[2::2] = np.where(nz, nb, 0)
    return _pack_varbits(vfields, bfields)


def decode_values(data: bytes, n: int) -> np.ndarray:
    r = _BitReader(data)
    rb = r.read_bits
    cur = rb(64)
    out = [cur]
    lead, tail = 65, 0
    for _ in range(n - 1):
        if rb(1) == 0:
            out.append(cur)
            continue
        if rb(1) == 0:
            nb = 64 - lead - tail
        else:
            lead = rb(5)
            nb = rb(6) + 1
            tail = 64 - lead - nb
        cur ^= rb(nb) << tail
        out.append(cur)
    return np.array(out, dtype=np.uint64).view(np.float64)


# ----------------------------------------------- vectorized batch DECODE ----
#
# The bit-parse of a single Gorilla block is inherently sequential (every
# field's position depends on the previous field's width), but DIFFERENT
# blocks are independent. The batch decoders below parse many blocks in
# LOCKSTEP: all blobs are concatenated into one native-endian uint64 word
# array, per-block bit cursors live in numpy arrays, and each Python-level
# iteration decodes ONE point for EVERY still-active block with ~15 numpy
# ops. Python iterations = max block length (not total points); per-point
# work is numpy-vectorized across blocks. Blocks are pre-sorted by length
# descending so the active set is always a shrinking PREFIX of the state
# arrays — in-place slice views, no per-step boolean masks.
#
# This is the storage-tier read path: at 10^12 points a tier read through the
# per-point scalar decoder (~1 M pts/s/core) would be the job's bottleneck;
# the lockstep decoder amortizes interpreter cost over the block population.


def _blob_words(blobs: Sequence[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate blobs into one uint64 big-endian-word array (native dtype)
    plus each blob's starting BIT offset. 16 zero bytes of tail padding keep
    every two-word field read in bounds."""
    lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=len(blobs))
    data = b"".join(blobs)
    pad = 16 + ((-len(data)) % 8)
    data += b"\x00" * pad
    words = np.frombuffer(data, dtype=">u8").astype(np.uint64)
    bit0 = (np.concatenate([[0], np.cumsum(lens)])[:-1]) * 8
    return words, bit0


def _read_bits_at(words: np.ndarray, pos: np.ndarray, n) -> np.ndarray:
    """Vectorized bit-field read: for each element, the ``n`` bits starting at
    absolute bit position ``pos``. ``n`` may be a scalar or an array with
    values in [1, 64]. A field spans at most two adjacent words; shift counts
    stay in [0, 63] via the ``(w1 >> 1) >> (63 - off)`` guard (numpy uint64
    shifts by >= 64 are undefined)."""
    wi = (pos >> 6).astype(np.int64)
    off = (pos & 63).astype(np.uint64)
    w0 = words[wi]
    w1 = words[wi + 1]
    comb = (w0 << off) | ((w1 >> np.uint64(1)) >> (np.uint64(63) - off))
    nn = np.uint64(n) if np.isscalar(n) else n.astype(np.uint64)
    return comb >> (np.uint64(64) - nn)


_LOCKSTEP_CUTOFF = 8  # below this many active blocks, scalar loops win:
# a lockstep step costs ~15 numpy dispatches (~30 µs) regardless of k, while
# a scalar point costs ~1 µs — so the few longest blocks' tails are finished
# with per-block Python loops over the same word array.


def _ts_scalar_tail(wl: list, p: int, t: int, delta: int, out: np.ndarray,
                    base: int, start_i: int, n: int) -> None:
    """Finish one timestamp block from saved lockstep state (python-int bit
    reader over the shared word list)."""
    for i in range(start_i, n):
        wi = p >> 6
        b = (wl[wi] >> (63 - (p & 63))) & 1
        if b == 0:
            p += 1
        else:
            # count prefix ones (max 4)
            nb_ones = 1
            while nb_ones < 4:
                q = p + nb_ones
                if (wl[q >> 6] >> (63 - (q & 63))) & 1:
                    nb_ones += 1
                else:
                    break
            plen = nb_ones if nb_ones == 4 else nb_ones + 1
            paylen = (0, 8, 10, 13, 64)[nb_ones]
            half = (0, 64, 256, 2048, 0)[nb_ones]
            q = p + plen
            wi = q >> 6
            off = q & 63
            end = off + paylen
            if end <= 64:
                val = (wl[wi] >> (64 - end)) & ((1 << paylen) - 1)
            else:
                lob = end - 64
                val = ((wl[wi] << lob) | (wl[wi + 1] >> (64 - lob))) & ((1 << paylen) - 1)
            if nb_ones == 4:
                delta += val - (1 << 64) if val >= (1 << 63) else val
            else:
                delta += val - half
            p = q + paylen
        t += delta
        out[base + i] = t


def _val_scalar_tail(wl: list, p: int, cur: int, lead: int, tail: int,
                     out: np.ndarray, base: int, start_i: int, n: int) -> None:
    """Finish one value block from saved lockstep state."""

    def rb(nb: int) -> int:
        nonlocal p
        wi = p >> 6
        off = p & 63
        end = off + nb
        p += nb
        if end <= 64:
            return (wl[wi] >> (64 - end)) & ((1 << nb) - 1)
        lob = end - 64
        return ((wl[wi] << lob) | (wl[wi + 1] >> (64 - lob))) & ((1 << nb) - 1)

    for i in range(start_i, n):
        if rb(1) == 0:
            out[base + i] = cur
            continue
        if rb(1) == 0:
            nb = 64 - lead - tail
        else:
            lead = rb(5)
            nb = rb(6) + 1
            tail = 64 - lead - nb
        cur ^= rb(nb) << tail
        out[base + i] = cur


def decode_timestamp_blocks(blobs: Sequence[bytes], ns: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Lockstep-decode many delta-of-delta blocks. Returns (concatenated int64
    timestamps in input block order, offsets array of len B+1). Byte-exact
    match with per-block :func:`decode_timestamps` (cross-checked in pytest)."""
    ns = np.asarray(ns, dtype=np.int64)
    B = ns.size
    offs = np.concatenate([[0], np.cumsum(ns)])
    out = np.zeros(int(offs[-1]), dtype=np.int64)
    if B == 0:
        return out, offs
    words, bit0 = _blob_words(blobs)
    # sort blocks by length desc: active set at step i == prefix [:k]
    order = np.argsort(-ns, kind="stable")
    sns = ns[order]
    pos = bit0[order].copy()
    base = offs[:-1][order]
    t = np.zeros(B, dtype=np.int64)
    delta = np.zeros(B, dtype=np.int64)
    k = int(np.count_nonzero(sns >= 1))
    if k:
        t[:k] = _read_bits_at(words, pos[:k], 64).view(np.int64)
        out[base[:k]] = t[:k]
        pos[:k] += 64
    k = int(np.count_nonzero(sns >= 2))
    if k:
        d = _read_bits_at(words, pos[:k], 64).view(np.int64)
        delta[:k] = d
        t[:k] += d
        out[base[:k] + 1] = t[:k]
        pos[:k] += 64
    max_n = int(sns[0]) if B else 0
    # descending-sorted lengths: blocks with > i points form prefix of size
    # B - searchsorted(ascending, i, 'right')
    asc = sns[::-1]
    for i in range(2, max_n):
        k = B - int(np.searchsorted(asc, i, side="right"))
        if k <= _LOCKSTEP_CUTOFF:
            wl = words.tolist()
            for b in range(k):
                _ts_scalar_tail(wl, int(pos[b]), int(t[b]), int(delta[b]),
                                out, int(base[b]), i, int(sns[b]))
            break
        p = pos[:k]
        pre = _read_bits_at(words, p, 4)
        b0 = (pre >> np.uint64(3)) == 0
        b1 = (pre >> np.uint64(2)) == np.uint64(0b10)
        b2 = (pre >> np.uint64(1)) == np.uint64(0b110)
        b3 = pre == np.uint64(0b1110)
        plen = np.select([b0, b1, b2, b3], [1, 2, 3, 4], default=4)
        paylen = np.select([b0, b1, b2, b3], [0, 8, 10, 13], default=64)
        half = np.select([b0, b1, b2, b3], [0, 64, 256, 2048], default=0)
        pv = _read_bits_at(words, p + plen, np.maximum(paylen, 1))
        dod = np.where(b0, 0, pv.view(np.int64) - half)
        delta[:k] += dod
        t[:k] += delta[:k]
        out[base[:k] + i] = t[:k]
        pos[:k] = p + plen + paylen
    return out, offs


def decode_value_blocks(blobs: Sequence[bytes], ns: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Lockstep-decode many Gorilla XOR float64 blocks. Returns (concatenated
    float64 values in input block order, offsets len B+1). Bit-exact match
    with per-block :func:`decode_values`. Accepts both the '10' (window
    reuse) and '11' (explicit window) control modes like the scalar decoder."""
    ns = np.asarray(ns, dtype=np.int64)
    B = ns.size
    offs = np.concatenate([[0], np.cumsum(ns)])
    out = np.zeros(int(offs[-1]), dtype=np.uint64)
    if B == 0:
        return out.view(np.float64), offs
    words, bit0 = _blob_words(blobs)
    order = np.argsort(-ns, kind="stable")
    sns = ns[order]
    pos = bit0[order].copy()
    base = offs[:-1][order]
    cur = np.zeros(B, dtype=np.uint64)
    lead = np.full(B, 65, dtype=np.int64)
    tail = np.zeros(B, dtype=np.int64)
    k = int(np.count_nonzero(sns >= 1))
    if k:
        cur[:k] = _read_bits_at(words, pos[:k], 64)
        out[base[:k]] = cur[:k]
        pos[:k] += 64
    max_n = int(sns[0]) if B else 0
    asc = sns[::-1]
    for i in range(1, max_n):
        k = B - int(np.searchsorted(asc, i, side="right"))
        if k <= _LOCKSTEP_CUTOFF:
            wl = words.tolist()
            for b in range(k):
                _val_scalar_tail(wl, int(pos[b]), int(cur[b]), int(lead[b]),
                                 int(tail[b]), out, int(base[b]), i, int(sns[b]))
            break
        p = pos[:k]
        c2 = _read_bits_at(words, p, 2)
        mode0 = (c2 >> np.uint64(1)) == 0
        mode2 = c2 == np.uint64(3)
        p2 = p + np.where(mode0, 1, 2)
        hdr = _read_bits_at(words, p2, 11)  # garbage unless mode2 — masked below
        new_lead = (hdr >> np.uint64(6)).astype(np.int64)
        new_nb = (hdr & np.uint64(63)).astype(np.int64) + 1
        lead_k = np.where(mode2, new_lead, lead[:k])
        nb_k = np.where(mode2, new_nb, 64 - lead[:k] - tail[:k])
        tail_k = np.where(mode2, 64 - new_lead - new_nb, tail[:k])
        p3 = p2 + np.where(mode2, 11, 0)
        mb = _read_bits_at(words, p3, np.maximum(nb_k, 1))
        xorv = np.where(mode0, np.uint64(0), mb << np.maximum(tail_k, 0).astype(np.uint64))
        cur[:k] ^= xorv
        lead[:k] = lead_k
        tail[:k] = tail_k
        out[base[:k] + i] = cur[:k]
        pos[:k] = p3 + np.where(mode0, 0, nb_k)
    return out.view(np.float64), offs


def verify_blocks(
    tblobs: Sequence[bytes],
    vblobs: Sequence[bytes],
    ts: np.ndarray,
    vals: np.ndarray,
    starts: np.ndarray,
    vps: np.ndarray,
) -> np.ndarray:
    """Batch roundtrip verification: decode the first ``vps[b]`` points of
    each block pair and compare bit-exactly against the source slices.
    Returns a per-block bool array (True for vps==0 — vacuous)."""
    vps = np.asarray(vps, dtype=np.int64)
    sel = np.flatnonzero(vps > 0)
    ok = np.ones(vps.size, dtype=bool)
    if sel.size == 0:
        return ok
    ns = vps[sel]
    dts, offs = decode_timestamp_blocks([tblobs[i] for i in sel], ns)
    dvs, _ = decode_value_blocks([vblobs[i] for i in sel], ns)
    dvu = dvs.view(np.uint64)
    vu = np.asarray(vals, np.float64).view(np.uint64)
    tsi = np.asarray(ts, np.int64)
    # gather the expected prefix slices with one fancy index, compare
    # element-wise, and reduce per block — no per-block Python
    total = int(ns.sum())
    src = np.repeat(np.asarray(starts, np.int64)[sel], ns) + (
        np.arange(total, dtype=np.int64) - np.repeat(offs[:-1], ns)
    )
    bad = (dts != tsi[src]) | (dvu != vu[src])
    ok[sel] = np.add.reduceat(bad, offs[:-1]) == 0
    return ok


def gorilla_roundtrip_stats(ts: np.ndarray, vals: np.ndarray, verify_points: int | None = None) -> dict:
    """Encode and verify. ``verify_points=None`` decodes the whole block;
    an int decodes only that prefix (the stream is sequential, so a prefix
    decode exercises every field type without paying for the full block);
    0 skips verification (``roundtrip_ok`` reports True vacuously,
    ``verified_points`` says 0)."""
    tb = encode_timestamps(ts)
    vb = encode_values(vals)
    n = len(ts)
    k = n if verify_points is None else min(int(verify_points), n)
    ok = True
    if k > 0:
        ok = bool(
            np.array_equal(decode_timestamps(tb, k), np.asarray(ts[:k], dtype=np.int64))
            and np.array_equal(
                decode_values(vb, k).view(np.uint64),
                np.asarray(vals[:k], np.float64).view(np.uint64),
            )
        )
    return {
        "n_points": n,
        "ts_bytes": len(tb),
        "val_bytes": len(vb),
        "bytes_per_point": (len(tb) + len(vb)) / max(n, 1),
        "roundtrip_ok": ok,
        "verified_points": k,
    }


def gorilla_compress(
    df: DataFrame,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_col: str = "value",
    ts_scale: float = 1_000_000.0,
    verify: str = "full",
    emit_blobs: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-key Gorilla blocks: one output row per key with size stats and —
    when ``emit_blobs`` — the encoded ``ts_blob``/``val_blob`` binary columns
    (the storage representation; :func:`gorilla_decode` reads them back).
    ``ts_scale`` converts the (double, seconds) ts column to integer units
    (default µs) for delta-of-delta coding.

    ``verify``: decode-back policy, ``'full'`` (decode every block and
    compare it with its input) or ``'none'`` (skip decoding); any other
    value is a ``ValueError``. The decode-back runs lockstep across the
    batch's blocks in numpy (:func:`verify_blocks`), cheap enough for
    ``'full'`` to be the default. Output column ``verified_points`` records
    per-block coverage.

    Scale note: at 100 TB this runs per (key, time-bucket) so blocks stay
    bounded; see plans/rollup_tiers for the bucketed variant.
    """
    if verify not in ("full", "none"):
        raise ValueError(f"verify must be 'full' or 'none', not {verify!r}")
    key_cols = list(key_cols)
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name in key_cols
    )
    schema = (
        key_schema
        + ", n_points bigint, ts_bytes bigint, val_bytes bigint, bytes_per_point double,"
        + " roundtrip_ok boolean, verified_points bigint"
    )
    if emit_blobs:
        schema += ", ts_blob binary, val_blob binary"

    def encode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        """pdf: (key, ts)-sorted rows for ≥1 complete blocks. The ENCODE of
        every block in the batch is one vectorized pass (encode_*_blocks),
        and so is the decode-back verification (verify_blocks)."""
        change = key_change_mask(pdf[key_cols])
        starts = np.concatenate([np.flatnonzero(change), [len(pdf)]])
        ts = np.round(pdf[ts_col].to_numpy(np.float64) * ts_scale).astype(np.int64)
        vals = pdf[value_col].to_numpy(np.float64)
        tb = encode_timestamp_blocks(ts, starts)
        vb = encode_value_blocks(vals, starts)
        n_blocks = len(tb)
        lengths = np.diff(starts)
        rows = {c: pdf[c].to_numpy()[starts[:-1]] for c in key_cols}
        if verify == "full":
            vps = lengths.astype(np.int64)
        else:
            vps = np.zeros(n_blocks, dtype=np.int64)
        # batch lockstep decode-back (decode_*_blocks): verification cost is
        # numpy-vectorized across blocks, so 'full' is cheap enough to be the
        # bench default
        ok = verify_blocks(tb, vb, ts, vals, starts, vps)
        tlen = np.array([len(x) for x in tb], dtype=np.int64)
        vlen = np.array([len(x) for x in vb], dtype=np.int64)
        out = pd.DataFrame(rows)
        out["n_points"] = lengths
        out["ts_bytes"] = tlen
        out["val_bytes"] = vlen
        out["bytes_per_point"] = (tlen + vlen) / np.maximum(lengths, 1)
        out["roundtrip_ok"] = ok
        out["verified_points"] = vps
        if emit_blobs:
            out["ts_blob"] = tb
            out["val_blob"] = vb
        return out

    # partition-level batch encode: blocks are numerous and small at scale
    # (one per (key, time-bucket)); both the per-group Arrow crossing AND the
    # per-block numpy dispatch are amortized over the whole Arrow batch
    # num_partitions pins the key-repartition width (scaling probe: constant
    # across parallelism levels so both run the identical physical job)
    return map_key_batches(df, encode_batch, key_cols, ts_col, schema,
                           num_partitions)


# ------------------------------------------------- cross-block vectorized ----

def _segment_pack(values: np.ndarray, nbits: np.ndarray, field_block: np.ndarray,
                  n_blocks: int) -> list[bytes]:
    """Pack variable-width fields belonging to ``n_blocks`` consecutive blocks
    into per-block byte blobs with ONE vectorized bit-scatter.

    ``field_block[i]`` = block id of field i (non-decreasing). Each block's
    bitstream is padded to a byte boundary (trailing zero bits — the decoder
    reads exactly n points and never sees them), so the concatenated packbits
    output can be sliced at per-block byte offsets. Byte-identical to packing
    each block separately.
    """
    bits_per_block = np.bincount(field_block, weights=nbits, minlength=n_blocks).astype(np.int64)
    pad = (-bits_per_block) % 8
    # one zero-valued pad field at each block's END. Fields arrive already in
    # block order, so destinations are direct index arithmetic (field i is
    # displaced by one slot per preceding block's pad) — no sort needed.
    F = values.size
    fcnt = np.bincount(field_block, minlength=n_blocks)
    all_vals = np.zeros(F + n_blocks, dtype=np.uint64)
    all_bits = np.zeros(F + n_blocks, dtype=np.int64)
    dest_f = np.arange(F, dtype=np.int64) + field_block
    all_vals[dest_f] = values
    all_bits[dest_f] = nbits
    dest_p = np.cumsum(fcnt) + np.arange(n_blocks)
    all_bits[dest_p] = pad
    packed = _pack_varbits(all_vals, all_bits)
    byte_lens = ((bits_per_block + pad) // 8).astype(np.int64)
    offs = np.concatenate([[0], np.cumsum(byte_lens)])
    return [packed[offs[b]: offs[b + 1]] for b in range(n_blocks)]


def encode_timestamp_blocks(ts: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Vectorized delta-of-delta encoding of MANY blocks at once: ``ts`` is
    the concatenation of all blocks' (sorted) int64 timestamps and ``starts``
    the block start offsets (len B+1, starts[-1] == len(ts)). Byte-identical
    to calling :func:`encode_timestamps` per block."""
    ts = np.asarray(ts, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    n = ts.size
    n_blocks = starts.size - 1
    lengths = np.diff(starts)
    blk_of = np.repeat(np.arange(n_blocks), lengths)
    off = np.arange(n) - np.repeat(starts[:-1], lengths)  # within-block index
    delta = np.zeros(n, dtype=np.int64)
    delta[1:] = np.diff(ts)
    dod = np.zeros(n, dtype=np.int64)
    dod[1:] = delta[1:] - delta[:-1]
    # per-point field counts: o==0 →1 (t0), o==1 →1 (delta), o≥2 →2
    cnt = np.where(off >= 2, 2, 1)
    pos = np.cumsum(cnt) - cnt
    total = int(cnt.sum())
    vals = np.zeros(total, dtype=np.uint64)
    bits = np.zeros(total, dtype=np.int64)
    fblk = np.repeat(blk_of, cnt)
    m0 = off == 0
    vals[pos[m0]] = ts[m0].view(np.uint64)
    bits[pos[m0]] = 64
    m1 = off == 1
    vals[pos[m1]] = delta[m1].view(np.uint64)
    bits[pos[m1]] = 64
    m2 = off >= 2
    if m2.any():
        d = dod[m2]
        bucket = np.select(
            [d == 0,
             (d >= -64) & (d < 64),
             (d >= -256) & (d < 256),
             (d >= -2048) & (d < 2048)],
            [0, 1, 2, 3],
            default=4,
        )
        prefix_val = np.array([0b0, 0b10, 0b110, 0b1110, 0b1111], dtype=np.uint64)[bucket]
        prefix_len = np.array([1, 2, 3, 4, 4], dtype=np.int64)[bucket]
        pay_len = np.array([0, 8, 10, 13, 64], dtype=np.int64)[bucket]
        half = np.array([0, 64, 256, 2048, 0], dtype=np.int64)[bucket]
        payload = np.where(bucket == 4, d.view(np.uint64),
                           (d + half).astype(np.int64).view(np.uint64))
        vals[pos[m2]] = prefix_val
        bits[pos[m2]] = prefix_len
        vals[pos[m2] + 1] = payload
        bits[pos[m2] + 1] = pay_len
    return _segment_pack(vals, bits, fblk, n_blocks)


def encode_value_blocks(v: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Vectorized Gorilla XOR encoding of MANY blocks at once (same contract
    as :func:`encode_timestamp_blocks`); byte-identical to per-block
    :func:`encode_values`."""
    u = np.asarray(v, dtype=np.float64).view(np.uint64)
    starts = np.asarray(starts, dtype=np.int64)
    n = u.size
    n_blocks = starts.size - 1
    lengths = np.diff(starts)
    blk_of = np.repeat(np.arange(n_blocks), lengths)
    off = np.arange(n) - np.repeat(starts[:-1], lengths)
    x = np.zeros(n, dtype=np.uint64)
    x[1:] = u[1:] ^ u[:-1]
    cnt = np.where(off >= 1, 2, 1)
    pos = np.cumsum(cnt) - cnt
    total = int(cnt.sum())
    vals = np.zeros(total, dtype=np.uint64)
    bits = np.zeros(total, dtype=np.int64)
    fblk = np.repeat(blk_of, cnt)
    m0 = off == 0
    vals[pos[m0]] = u[m0]
    bits[pos[m0]] = 64
    m1 = off >= 1
    if m1.any():
        xs = x[m1]
        nz = xs != 0
        lowbit = xs & (~xs + np.uint64(1))
        tail = np.where(nz, np.log2(np.maximum(lowbit, np.uint64(1)).astype(np.float64)), 0).astype(np.int64)
        bl = np.floor(np.log2(np.maximum(xs, np.uint64(1)).astype(np.float64))).astype(np.int64) + 1
        lead = np.clip(64 - bl, 0, 31)
        nb = 64 - lead - tail
        header = (np.uint64(0b11) << np.uint64(11)) | (
            lead.astype(np.uint64) << np.uint64(6)
        ) | (nb - 1).astype(np.uint64)
        vals[pos[m1]] = np.where(nz, header, np.uint64(0))
        bits[pos[m1]] = np.where(nz, 13, 1)
        vals[pos[m1] + 1] = xs >> tail.astype(np.uint64)
        bits[pos[m1] + 1] = np.where(nz, nb, 0)
    return _segment_pack(vals, bits, fblk, n_blocks)


def gorilla_decode(
    blobs: DataFrame,
    key_cols: Sequence[str] = ("key",),
    ts_col: str = "ts",
    value_col: str = "value",
    ts_scale: float = 1_000_000.0,
) -> DataFrame:
    """Read Gorilla blocks back to points: (key…, ts, value) rows from the
    ``ts_blob``/``val_blob``/``n_points`` columns of
    ``gorilla_compress(..., emit_blobs=True)`` output.

    The bit-parse is sequential per block by nature (data-dependent field
    positions), but blocks are independent: within each Arrow batch ALL
    blocks decode together via the lockstep batch decoders
    (:func:`decode_timestamp_blocks` / :func:`decode_value_blocks`) — numpy
    iterations = longest block in the batch, not total points — and across
    batches parallelism = Spark tasks. No per-row Python (`iterrows`) in the
    read path.
    """
    keep = list(key_cols)
    schema_keys = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in blobs.schema.fields if f.name in keep
    )
    schema = schema_keys + f", {ts_col} double, {value_col} double"

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ns = pdf["n_points"].to_numpy(np.int64)
            tblobs = [bytes(b) for b in pdf["ts_blob"]]
            vblobs = [bytes(b) for b in pdf["val_blob"]]
            ts_all, _ = decode_timestamp_blocks(tblobs, ns)
            vals_all, _ = decode_value_blocks(vblobs, ns)
            out = pd.DataFrame(
                {c: np.repeat(pdf[c].to_numpy(), ns) for c in keep}
            )
            out[ts_col] = ts_all.astype(np.float64) / ts_scale
            out[value_col] = vals_all
            yield out

    return blobs.mapInPandas(fn, schema=schema)
