"""Baseline JPEG codec implemented from the published spec (ITU-T T.81) with
no codec library — closing the last header-only media format (VERDICT r3
item 2; the reference has no JPEG path at all, this is training-data-pipeline
capability per the task brief, same tier as the PNG decoder in
multimodal.py).

Decoder (:func:`decode_jpeg_pixels`) — baseline sequential DCT, 8-bit:

- marker segment walk: DQT (§B.2.4.1, 8/16-bit precision, zigzag order),
  DHT (§B.2.4.2, BITS/HUFFVAL → canonical codes per Annex C), SOF0
  (§B.2.2; SOF1/2/…: rejected — baseline only), DRI restart intervals, SOS;
- entropy decode: the DECODE procedure of §F.2.2.3 (MINCODE/MAXCODE/VALPTR),
  DC prediction + EXTEND (§F.2.2.1), AC run/size with ZRL and EOB
  (§F.2.2.2), 0xFF00 byte stuffing, RSTn segmentation with DC-predictor
  reset (§F.2.1.3.1);
- dequantize + inverse zigzag, then the §A.3.3 IDCT — evaluated as one
  einsum over ALL blocks of a component (the 8×8 orthonormal DCT-II matrix
  applied from both sides), not per-pixel Python;
- interleaved MCU assembly for arbitrary sampling factors (4:4:4, 4:2:2,
  4:2:0 …), chroma upsampled by pixel replication (T.871 permits any
  upsampling filter; replication keeps solid-color payloads exact),
  YCbCr→RGB per ITU-T T.871 §7.

Encoder (:func:`synth_jpeg_gray` / :func:`synth_jpeg`) — the spec-side
generator for decoder tests, the multimodal bench payloads, and the
``jpeg_real`` registry rows: forward DCT → quantize → zigzag → run/size
Huffman. Its Huffman tables are CONSTRUCTED fixed-length canonical tables
(all DC sizes at 4 bits, all AC run/size symbols at 8 bits) rather than the
Annex K examples: every possible symbol is guaranteed a code, the all-ones
code stays unused, and the decoder — which reads whatever DHT declares —
exercises the same table machinery real Annex-K files use. Compression is
a little worse than Annex K; fidelity is identical.

Exactness anchor used by the ``jpeg_real`` driver rows: for a SOLID image
and a quantization table with q[0,0] = 8, the DC coefficient of every block
is 8·(v−128), quantizes to exactly v−128, and the IDCT reconstructs exactly
v — a closed form a SQL oracle can state (same trick as png_real's solid
PNGs).
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan order: ZIGZAG[k] = natural (row*8+col) index of scan position k
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# 8-point orthonormal DCT-II matrix scaled for the T.81 §A.3.3 convention:
# forward S = M s Mᵀ, inverse s = Mᵀ S M, with M[u,x] = (C(u)/2)·cos((2x+1)uπ/16)
_M = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _M[_u, _x] = (_c / 2.0) * np.cos((2 * _x + 1) * _u * np.pi / 16.0)
del _u, _x, _c


def idct2_blocks(coefs: np.ndarray) -> np.ndarray:
    """§A.3.3 inverse DCT over an (n, 8, 8) stack of dequantized blocks."""
    return np.einsum("ux,nuv,vy->nxy", _M, coefs, _M)


def fdct2_blocks(blocks: np.ndarray) -> np.ndarray:
    """§A.3.3 forward DCT over an (n, 8, 8) stack of level-shifted blocks."""
    return np.einsum("ux,nxy,vy->nuv", _M, blocks, _M)


# ---------------------------------------------------------------- decoder ----


class _Huff:
    """Canonical Huffman decode tables per Annex C + §F.2.2.3, with two-level
    LUT acceleration (round-5 speedup, VERDICT r4 item 6):

    - an 8-bit-peek first-level table resolves every code of length ≤ 8;
    - COMBINED 16-bit-peek tables (:meth:`build_combined`) resolve code AND
      magnitude field in ONE list lookup whenever code_len + size ≤ 16 —
      the entry packs (bits consumed, run/marker, EXTENDed signed value),
      so the hot decode loop does a single Python list index per
      coefficient instead of two numpy scalar reads (decode + receive);
    - anything longer falls back to the spec's bitwise MINCODE/MAXCODE walk.

    Tables are cached by (bits, vals) content across payloads
    (:func:`_huff_cached`): real corpora reuse a handful of tables (Annex K
    or per-encoder constants), so the 16-bit build cost amortizes to zero.
    """

    def __init__(self, bits: list[int], vals: bytes):
        self.vals = vals
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        self.lut = np.full(256, -1, dtype=np.int32)  # (length << 8) | symbol
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(bits[ln - 1]):
                if ln <= 8:
                    lo = code << (8 - ln)
                    self.lut[lo : lo + (1 << (8 - ln))] = (ln << 8) | vals[k]
                code += 1
                k += 1
            code <<= 1
        code = 0
        k = 0
        for ln in range(1, 17):
            if bits[ln - 1]:
                self.valptr[ln] = k
                self.mincode[ln] = code
                code += bits[ln - 1]
                k += bits[ln - 1]
                self.maxcode[ln] = code - 1
            code <<= 1
        self.dc_lut: list[int] | None = None
        self.ac_lut: list[int] | None = None
        self.dc_np: np.ndarray | None = None
        self.ac_np: np.ndarray | None = None

    def build_combined(self):
        """Vectorized build of the 16-bit combined tables (both variants —
        a table declared as DC is only ever used as DC, but building both
        from the same 256-entry LUT costs microseconds and keeps this
        role-agnostic). Entry packings (−1 = fall back to the slow path):

        DC: (adv << 13) | (diff + 2048)            [size ≤ 11 per §F.1.2.1]
        AC: (adv << 20) | (ka << 13) | (val + 2048)
            ka = run (0-15) for a coefficient, 64 = ZRL, 65 = EOB
        """
        w = np.arange(65536, dtype=np.int64)
        e8 = self.lut[(w >> 8).astype(np.int32)].astype(np.int64)
        ln = e8 >> 8
        sym = e8 & 0xFF
        valid = e8 >= 0
        s = sym & 15
        run = sym >> 4
        total = ln + s
        s_c = np.minimum(s, 16)
        vbits = (w >> np.maximum(16 - total, 0)) & ((1 << s_c) - 1)
        half = 1 << np.maximum(s_c - 1, 0)
        val = np.where(vbits >= half, vbits, vbits - (1 << s_c) + 1)

        # DC: symbol IS the size category (≤ 11 for 8-bit baseline)
        dc_ok = valid & (sym <= 11) & (total <= 16)
        dc_val = np.where(s == 0, 0, val)
        dc = np.where(dc_ok, (total << 13) | (dc_val + 2048), -1)
        self.dc_lut = dc.astype(np.int64).tolist()

        # AC: s>0 → coefficient; s==0 → EOB (0x00) / ZRL (0xF0), else invalid
        coef = valid & (s > 0) & (s <= 11) & (total <= 16)
        eob = valid & (sym == 0x00)
        zrl = valid & (sym == 0xF0)
        ac = np.full(65536, -1, dtype=np.int64)
        ac[coef] = (total[coef] << 20) | (run[coef] << 13) | (val[coef] + 2048)
        ac[eob] = (ln[eob] << 20) | (65 << 13) | 2048
        ac[zrl] = (ln[zrl] << 20) | (64 << 13) | 2048
        self.ac_lut = ac.tolist()
        # int32 copies of both tables for the compiled kernel (_native_pack)
        self.dc_np = dc.astype(np.int32)
        self.ac_np = ac.astype(np.int32)

    def decode(self, br: "_BitReader") -> int:
        p = br.pos
        e = int(self.lut[(br.w24[p >> 3] >> (16 - (p & 7))) & 0xFF])
        if e >= 0:
            br.pos += e >> 8
            if br.pos > br.nbits:
                raise ValueError("entropy segment exhausted")
            return e & 0xFF
        code = br.receive(1)
        ln = 1
        while code > self.maxcode[ln]:
            if ln >= 16:
                raise ValueError("invalid Huffman code")
            code = (code << 1) | br.receive(1)
            ln += 1
        return self.vals[self.valptr[ln] + code - self.mincode[ln]]


_HUFF_CACHE: dict[tuple, _Huff] = {}


def _huff_cached(bits: list[int], vals: bytes) -> _Huff:
    """Content-addressed _Huff cache: real corpora declare the same few
    tables (Annex K, or one encoder's constants) in every file, so the
    combined-LUT build runs once per distinct table, not once per payload."""
    key = (tuple(bits), vals)
    h = _HUFF_CACHE.get(key)
    if h is None:
        if len(_HUFF_CACHE) >= 64:
            _HUFF_CACHE.clear()
        h = _Huff(bits, vals)
        h.build_combined()
        _HUFF_CACHE[key] = h
    return h


class _BitReader:
    """MSB-first bit reader over one destuffed entropy segment. ``w24``
    holds, per BYTE index j, bytes j..j+2 as one int (``b[j]<<16 |
    b[j+1]<<8 | b[j+2]``, zero-padded past the end) — the 16-bit window at
    bit p is ``(w24[p>>3] >> (8-(p&7))) & 0xFFFF``: four int ops instead of
    a prebuilt per-bit table. Round-5 rewrite (profile-driven): the old
    per-bit peek array cost ~14 ms/image to build (unpackbits + 16
    vectorized shifts + a tolist over every BIT position) while the decode
    loop only ever visits ~10% of bit positions — one peek per SYMBOL, not
    per bit. w24 is a plain Python list (list indexing runs ~3× faster
    than numpy scalar reads in the hot loop)."""

    def __init__(self, data: bytes):
        self.nbits = len(data) * 8
        b = np.frombuffer(data + b"\x00\x00\x00", dtype=np.uint8).astype(np.int64)
        self.w24 = ((b[:-2] << 16) | (b[1:-1] << 8) | b[2:]).tolist()
        self.pos = 0

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        if n > 16:  # a crafted DC size category; the window holds 16 bits
            raise ValueError("magnitude field over 16 bits")
        p = self.pos
        self.pos = p + n
        if self.pos > self.nbits:
            raise ValueError("entropy segment exhausted")
        return ((self.w24[p >> 3] >> (8 - (p & 7))) & 0xFFFF) >> (16 - n)


def _extend(v: int, s: int) -> int:
    """§F.2.2.1 EXTEND: map the S-bit magnitude field to its signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _split_entropy(data: bytes, i: int) -> tuple[list[bytes], int]:
    """Split the scan's entropy-coded bytes into restart segments, removing
    0xFF00 stuffing; stops at the first non-RST marker (EOI, usually).
    Vectorized: only 0xFF positions (rare in entropy data) are walked in
    Python; everything between them is sliced wholesale."""
    arr = np.frombuffer(data, dtype=np.uint8)
    n = len(data)
    segs: list[bytes] = []
    parts: list[np.ndarray] = []
    start = i
    end = n
    for f in (np.flatnonzero(arr[i:] == 0xFF) + i).tolist():
        if f < start:
            continue  # inside a span already consumed (stuffed/fill byte)
        m = data[f + 1] if f + 1 < n else 0xD9
        if m == 0x00:
            parts.append(arr[start : f + 1])  # keep the 0xFF, drop the 0x00
            start = f + 2
        elif m == 0xFF:  # fill byte before a marker
            parts.append(arr[start:f])
            start = f + 1
        elif 0xD0 <= m <= 0xD7:  # RSTn
            parts.append(arr[start:f])
            segs.append(np.concatenate(parts).tobytes() if parts else b"")
            parts = []
            start = f + 2
        else:  # EOI or the next real marker — scan data ends here
            parts.append(arr[start:f])
            end = f
            break
    else:  # no terminating marker (truncated stream): take the tail
        parts.append(arr[start:n])
    segs.append(np.concatenate(parts).tobytes() if parts else b"")
    return segs, end


def _parse_headers(payload: bytes):
    """Marker-segment parse of a baseline JPEG up to (and including) SOS.
    Returns (frame, huff_dc, huff_ac, restart_interval, scan, i) where i is
    the byte offset of the entropy-coded data; frame carries qtables."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    n = len(payload)
    i = 2
    qtables: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _Huff] = {}
    huff_ac: dict[int, _Huff] = {}
    frame = None
    restart_interval = 0
    scan = None
    while i + 4 <= n:
        if payload[i] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[i + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            i += 2
            continue
        (seg_len,) = struct.unpack(">H", payload[i + 2 : i + 4])
        body = payload[i + 4 : i + 2 + seg_len]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(body):
                pq, tq = body[j] >> 4, body[j] & 15
                j += 1
                if pq:
                    q = np.frombuffer(body[j : j + 128], dtype=">u2").astype(np.int64)
                    j += 128
                else:
                    q = np.frombuffer(body[j : j + 64], dtype=np.uint8).astype(np.int64)
                    j += 64
                nat = np.zeros(64, dtype=np.int64)
                nat[ZIGZAG] = q  # DQT bytes arrive in zigzag order
                qtables[tq] = nat.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(body):
                tc, th = body[j] >> 4, body[j] & 15
                bits = list(body[j + 1 : j + 17])
                nv = sum(bits)
                vals = bytes(body[j + 17 : j + 17 + nv])
                (huff_ac if tc else huff_dc)[th] = _huff_cached(bits, vals)
                j += 17 + nv
        elif marker == 0xC0:  # SOF0 — baseline sequential
            precision = body[0]
            if precision != 8:
                raise ValueError("only 8-bit precision supported")
            h, w = struct.unpack(">HH", body[1:5])
            nf = body[5]
            comps = []
            for k in range(nf):
                cid, hv, tq = body[6 + 3 * k : 9 + 3 * k]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"width": w, "height": h, "components": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[0:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan = []
            for k in range(ns):
                cs, tdta = body[1 + 2 * k : 3 + 2 * k]
                scan.append({"cs": cs, "td": tdta >> 4, "ta": tdta & 15})
            i = i + 2 + seg_len
            break
        i += 2 + seg_len
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF0/SOS")
    frame["qtables"] = qtables
    return frame, huff_dc, huff_ac, restart_interval, scan, i


_NATIVE_PACKS: dict[tuple, tuple[tuple, tuple]] = {}


def _native_pack(tables: list[_Huff]) -> tuple:
    """Flattened int32/bytes views of a table set for the C kernel, cached
    by table identity (tables are content-cached in _HUFF_CACHE, so real
    corpora hit one pack per table-set, not one per payload). The entry
    holds the tables themselves: while it exists their ids cannot be reused
    by tables built after _HUFF_CACHE drops them."""
    key = tuple(id(t) for t in tables)
    entry = _NATIVE_PACKS.get(key)
    if entry is None:
        if len(_NATIVE_PACKS) >= 64:
            _NATIVE_PACKS.clear()
        dc = np.concatenate([t.dc_np for t in tables])
        ac = np.concatenate([t.ac_np for t in tables])
        l256 = np.concatenate([t.lut.astype(np.int32) for t in tables])
        mn = np.concatenate(
            [np.array(t.mincode, dtype=np.int32) for t in tables])
        mx = np.concatenate(
            [np.array(t.maxcode, dtype=np.int32) for t in tables])
        vp = np.concatenate(
            [np.array(t.valptr, dtype=np.int32) for t in tables])
        vals_all = b"".join(t.vals for t in tables)
        offs, o = [], 0
        for t in tables:
            offs.append(o)
            o += len(t.vals)
        off = np.array(offs, dtype=np.int32)
        entry = (tuple(tables), (dc, ac, l256, mn, mx, vp, vals_all, off))
        _NATIVE_PACKS[key] = entry
    return entry[1]


def _decode_segments_native(segs, ctx, comps, zz_all, mcus_x, n_mcus,
                            per_seg):
    """Run the restart-segment loop through the C kernel (jpeg_native).
    Returns the decoded-MCU count, or None when the kernel is unavailable
    or the payload exceeds its table/component bounds (caller falls back
    to the Python loop — outputs are bit-identical either way, pinned by
    tests/test_jpeg.py parity sweeps)."""
    import ctypes

    from . import jpeg_native

    L = jpeg_native.lib()
    if L is None or len(comps) > 8:
        return None
    tables: list[_Huff] = []
    tidx: dict[int, int] = {}
    for _, dc_t, ac_t, _, _ in ctx:
        for t in (dc_t, ac_t):
            if id(t) not in tidx:
                tidx[id(t)] = len(tables)
                tables.append(t)
    if len(tables) > 8:
        return None
    dc, ac, l256, mn, mx, vp, vals_all, off = _native_pack(tables)
    i32p = ctypes.POINTER(ctypes.c_int32)
    u8p = ctypes.POINTER(ctypes.c_uint8)

    def p32(a):
        return a.ctypes.data_as(i32p)

    sc = {}
    for name, vals_ in (
        ("ci", [c[0] for c in ctx]),
        ("nblk", [c[3] for c in ctx]),
        ("ch", [c[4] for c in ctx]),
        ("v", [comps[c[0]]["v"] for c in ctx]),
        ("bw", [mcus_x * c[4] for c in ctx]),
        ("dct", [tidx[id(c[1])] for c in ctx]),
        ("act", [tidx[id(c[2])] for c in ctx]),
    ):
        sc[name] = np.array(vals_, dtype=np.int32)
    zz_ptrs = (i32p * len(comps))(
        *[zz_all[ci].ctypes.data_as(i32p) for ci in range(len(comps))])
    # constant args hoisted out of the segment loop (restart-interval
    # payloads make hundreds of calls per image; re-wrapping every pointer
    # per call measured ~2x the glue cost)
    mid = (
        ctypes.c_int64(len(ctx)),
        p32(sc["ci"]), p32(sc["nblk"]), p32(sc["ch"]), p32(sc["v"]),
        p32(sc["bw"]), p32(sc["dct"]), p32(sc["act"]),
        ctypes.c_int64(len(tables)),
        p32(dc), p32(ac), p32(l256), p32(mn), p32(mx), p32(vp),
        ctypes.cast(ctypes.c_char_p(vals_all), u8p), p32(off),
        zz_ptrs, ctypes.c_int64(len(comps)),
        ctypes.c_int64(mcus_x),
    )
    fn = L.decode_segment
    mcu = 0
    for seg in segs:
        buf = seg + b"\x00\x00\x00"
        count = min(per_seg, n_mcus - mcu)
        rc = fn(ctypes.cast(ctypes.c_char_p(buf), u8p), len(seg) * 8,
                *mid, mcu, count)
        if rc < 0:
            raise ValueError(jpeg_native.error_message(rc))
        mcu += count
    return mcu


def decode_jpeg_coefficients(payload: bytes):
    """Parse + entropy-decode a baseline JPEG down to its QUANTIZED
    coefficient blocks (no dequant/IDCT) — the lossless half of the decoder,
    exposed so tests can pin entropy coding exactly against the encoder's
    own coefficient output.

    Returns (frame, coefs) where frame is a dict with width/height/
    components (id, h, v, tq) / qtables, and coefs maps component index →
    int32 array (blocks_y, blocks_x, 8, 8) in NATURAL (de-zigzagged) order,
    still quantized.
    """
    frame, huff_dc, huff_ac, restart_interval, scan, i = _parse_headers(payload)

    comps = frame["components"]
    if len(scan) != len(comps):
        # T.81 legally allows several non-interleaved scans (one per
        # component); this decoder handles the single interleaved scan that
        # covers every frame component. Decoding only the first partial scan
        # would silently leave the other components' coefficients at zero
        # (flat chroma) and misassemble geometry — fail loudly instead,
        # matching the interlace/progressive posture (ADVICE r4).
        raise ValueError(
            "multi-scan baseline JPEG not supported: first SOS covers "
            f"{len(scan)} of {len(comps)} frame components")
    by_id = {c["id"]: idx for idx, c in enumerate(comps)}
    order = [by_id[s["cs"]] for s in scan]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-frame["width"] // (8 * hmax))
    mcus_y = -(-frame["height"] // (8 * vmax))

    # decode into per-component (block, 64) arrays in ZIGZAG order; the
    # inverse zigzag runs ONCE, vectorized over all blocks, at the end
    n_mcus = mcus_x * mcus_y
    zz_all = {idx: np.zeros((mcus_y * c["v"] * mcus_x * c["h"], 64),
                            dtype=np.int32)
              for idx, c in enumerate(comps)}
    # per-scan-position decode context: (component idx, dc table, ac table,
    # per-MCU block count, h sampling) — hoisted out of the MCU loop
    ctx = [(ci, huff_dc[s["td"]], huff_ac[s["ta"]],
            comps[ci]["v"] * comps[ci]["h"], comps[ci]["h"])
           for s, ci in zip(scan, order)]

    segs, _ = _split_entropy(payload, i)
    per_seg = restart_interval if restart_interval else n_mcus
    mcu = 0
    # Native fast path (late r7): the identical algorithm as the Python
    # loop below, compiled (operators/jpeg_native.py) — same LUT packings,
    # same bit windows, same bounds checks, bit-identical output (parity
    # pytest-pinned). Returns None when no C compiler / kernel bounds are
    # exceeded, and the interpreter loop below runs instead.
    native_mcu = _decode_segments_native(
        segs, ctx, comps, zz_all, mcus_x, n_mcus, per_seg)
    if native_mcu is not None:
        mcu = native_mcu
        segs = []
    # Hot loop (round-5 rewrite, VERDICT r4 item 6): one combined-LUT list
    # lookup resolves code + magnitude per coefficient; nonzero
    # coefficients accumulate as sparse (block, k, val) triples in Python
    # lists and scatter into zz_all ONCE per restart segment — no per-
    # coefficient numpy writes, no per-block 64-zero refill. The slow path
    # (code > 8 bits or code+size > 16) syncs br.pos and reuses the spec
    # MINCODE/MAXCODE walk unchanged.
    for seg in segs:
        br = _BitReader(seg)
        w24 = br.w24
        nbits = br.nbits
        pos = 0
        pred = [0] * len(comps)  # RSTn resets DC prediction (§F.2.1.3.1)
        rows = [[] for _ in comps]
        cols = [[] for _ in comps]
        vals_ = [[] for _ in comps]
        for _ in range(min(per_seg, n_mcus - mcu)):
            my, mx = divmod(mcu, mcus_x)
            for ci, dc_t, ac_t, nblk, ch in ctx:
                c = comps[ci]
                row0 = my * c["v"]
                bw_ = mcus_x * ch
                acl = ac_t.ac_lut
                dcl = dc_t.dc_lut
                rws, cls, vls = rows[ci], cols[ci], vals_[ci]
                for b in range(nblk):
                    bv, bh = divmod(b, ch)
                    bi = (row0 + bv) * bw_ + mx * ch + bh
                    if pos > nbits:
                        raise ValueError("entropy segment exhausted")
                    e = dcl[(w24[pos >> 3] >> (8 - (pos & 7))) & 0xFFFF]
                    if e >= 0:
                        pos += e >> 13
                        pred[ci] += (e & 8191) - 2048
                    else:
                        br.pos = pos
                        s = dc_t.decode(br)
                        if s:  # EXTEND inlined (§F.2.2.1)
                            v = br.receive(s)
                            pred[ci] += (v if v >= (1 << (s - 1))
                                         else v - (1 << s) + 1)
                        pos = br.pos
                    rws.append(bi)
                    cls.append(0)
                    vls.append(pred[ci])
                    k = 1
                    while k < 64:
                        if pos > nbits:
                            raise ValueError("entropy segment exhausted")
                        e = acl[(w24[pos >> 3] >> (8 - (pos & 7))) & 0xFFFF]
                        if e >= 0:
                            pos += e >> 20
                            ka = (e >> 13) & 127
                            if ka < 64:  # coefficient with run ka
                                k += ka
                                if k > 63:
                                    raise ValueError("AC run past block end")
                                rws.append(bi)
                                cls.append(k)
                                vls.append((e & 8191) - 2048)
                                k += 1
                            elif ka == 64:  # ZRL
                                k += 16
                            else:  # EOB
                                break
                            continue
                        br.pos = pos
                        rs = ac_t.decode(br)
                        s = rs & 15
                        if s == 0:
                            pos = br.pos
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += rs >> 4
                        if k > 63:
                            raise ValueError("AC run past block end")
                        v = br.receive(s)
                        pos = br.pos
                        rws.append(bi)
                        cls.append(k)
                        vls.append(v if v >= (1 << (s - 1)) else v - (1 << s) + 1)
                        k += 1
            mcu += 1
        if pos > nbits:  # a final symbol that ran into the padding
            raise ValueError("entropy segment exhausted")
        for ci in range(len(comps)):
            if rows[ci]:
                zz_all[ci][rows[ci], cols[ci]] = vals_[ci]
    if mcu != n_mcus:
        raise ValueError(f"decoded {mcu}/{n_mcus} MCUs")
    coefs = {}
    for idx, c in enumerate(comps):
        nat = np.zeros_like(zz_all[idx])
        nat[:, ZIGZAG] = zz_all[idx]  # inverse zigzag, all blocks at once
        coefs[idx] = nat.reshape(mcus_y * c["v"], mcus_x * c["h"], 8, 8)
    frame["hmax"], frame["vmax"] = hmax, vmax
    return frame, coefs


def decode_jpeg_pixels(payload: bytes) -> np.ndarray:
    """Decode a baseline sequential JPEG to uint8 pixels: (H, W) for one
    component, (H, W, 3) RGB for three (YCbCr per T.871)."""
    frame, coefs = decode_jpeg_coefficients(payload)
    w, h = frame["width"], frame["height"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    planes = []
    for idx, c in enumerate(frame["components"]):
        q = frame["qtables"][c["tq"]]
        blocks = coefs[idx]
        by, bx = blocks.shape[:2]
        px = idct2_blocks((blocks.reshape(-1, 8, 8) * q[None, :, :]).astype(np.float64))
        plane = (px.reshape(by, bx, 8, 8).transpose(0, 2, 1, 3)
                 .reshape(by * 8, bx * 8) + 128.0)
        # crop to the component's true size, then replicate up to (H, W)
        ch = -(-h * c["v"] // vmax)
        cw = -(-w * c["h"] // hmax)
        plane = plane[:ch, :cw]
        plane = np.repeat(np.repeat(plane, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)[:h, :w]
        planes.append(plane)
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    if len(planes) != 3:
        raise ValueError("only 1- or 3-component JPEGs supported")
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------- encoder ----

# constructed fixed-length canonical tables (see module docstring): DC sizes
# 0..12 at 4 bits; every AC (run, size) with size 1..14 plus EOB and ZRL at
# 8 bits. All-ones codes unused at both lengths.
_ENC_DC_BITS = [0, 0, 0, 13] + [0] * 12
_ENC_DC_VALS = bytes(range(13))
_ENC_AC_VALS = bytes([0x00, 0xF0] + [(r << 4) | s for r in range(16)
                                     for s in range(1, 15)])
_ENC_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_ENC_AC_VALS)] + [0] * 8


def _enc_codes(bits: list[int], vals: bytes) -> dict[int, tuple[int, int]]:
    codes = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


_DC_CODE = _enc_codes(_ENC_DC_BITS, _ENC_DC_VALS)
_AC_CODE = _enc_codes(_ENC_AC_BITS, _ENC_AC_VALS)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, ln: int):
        self.acc = (self.acc << ln) | code
        self.nbits += ln
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # §B.1.1.5 byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            b = ((self.acc << pad) | ((1 << pad) - 1)) & 0xFF  # 1-fill
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0


def _csize(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _write_coef(bw: _BitWriter, v: int, s: int):
    bw.write(v if v >= 0 else v + (1 << s) - 1, s)


def _encode_blocks(bw: _BitWriter, zz: np.ndarray, pred: int) -> int:
    """Run/size Huffman-encode ONE block given its zigzag coefficient vector;
    returns the updated DC predictor."""
    dc = int(zz[0])
    diff = dc - pred
    s = _csize(diff)
    bw.write(*_DC_CODE[s])
    if s:
        _write_coef(bw, diff, s)
    run = 0
    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*_AC_CODE[0xF0])
            run -= 16
        s = _csize(v)
        bw.write(*_AC_CODE[(run << 4) | s])
        _write_coef(bw, v, s)
        run = 0
    if last < 63:
        bw.write(*_AC_CODE[0x00])  # EOB
    return dc


def _pad_plane(plane: np.ndarray, bh: int, bw_: int) -> np.ndarray:
    """Edge-replicate to (8·bh, 8·bw_) — §A.2.4 recommends replication so
    padding never adds high-frequency energy."""
    h, w = plane.shape
    out = np.empty((bh * 8, bw_ * 8), dtype=np.float64)
    out[:h, :w] = plane
    out[h:, :w] = plane[h - 1 : h, :]
    out[:, w:] = out[:, w - 1 : w]
    return out


def _plane_coefs(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Plane → quantized coefficient blocks (by, bx, 64) in zigzag order."""
    bh, bw_ = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = (plane.reshape(bh, 8, bw_, 8).transpose(0, 2, 1, 3)
              .reshape(-1, 8, 8) - 128.0)
    coef = np.round(fdct2_blocks(blocks) / q[None, :, :]).astype(np.int64)
    flat = coef.reshape(-1, 64)
    zz = flat[:, ZIGZAG]
    return zz.reshape(bh, bw_, 64)


def _headers(w: int, h: int, comps: list[tuple[int, int, int, int]],
             qts: list[np.ndarray], restart_interval: int,
             two_huff_sets: bool) -> bytearray:
    out = bytearray(b"\xff\xd8")
    for tq, q in enumerate(qts):
        zzq = np.asarray(q, dtype=np.int64).reshape(64)[ZIGZAG]
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) \
            + bytes(int(x) for x in zzq)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * len(comps), 8, h, w,
                                     len(comps))
    for cid, ch, cv, tq in comps:
        out += bytes([cid, (ch << 4) | cv, tq])
    sets = (0, 1) if two_huff_sets else (0,)
    for th in sets:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(_ENC_DC_VALS)) \
            + bytes([th]) + bytes(_ENC_DC_BITS) + _ENC_DC_VALS
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(_ENC_AC_VALS)) \
            + bytes([0x10 | th]) + bytes(_ENC_AC_BITS) + _ENC_AC_VALS
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    return out


def synth_jpeg_gray(img: np.ndarray, quant: np.ndarray | None = None,
                    restart_interval: int = 0) -> bytes:
    """Encode a grayscale (H, W) uint8 image as a baseline sequential JPEG.
    ``quant``: 64 values (natural order, default all-8s — q00=8 makes solid
    images decode EXACTLY, see module docstring)."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape
    q = (np.full((8, 8), 8, dtype=np.int64) if quant is None
         else np.asarray(quant, dtype=np.int64).reshape(8, 8))
    bh, bw_ = -(-h // 8), -(-w // 8)
    zz = _plane_coefs(_pad_plane(img.astype(np.float64), bh, bw_), q)
    out = _headers(w, h, [(1, 1, 1, 0)], [q], restart_interval, False)
    out += b"\xff\xda" + struct.pack(">HB", 8, 1) + bytes([1, 0x00, 0, 63, 0])
    bw = _BitWriter()
    pred = 0
    n_mcus = bh * bw_
    rst = 0
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            out += bytes(bw.out) + bytes([0xFF, 0xD0 + (rst & 7)])
            bw = _BitWriter()
            rst += 1
            pred = 0
        my, mx = divmod(m, bw_)
        pred = _encode_blocks(bw, zz[my, mx], pred)
    bw.flush()
    out += bytes(bw.out) + b"\xff\xd9"
    return bytes(out)


def synth_jpeg(img: np.ndarray, quant_luma: np.ndarray | None = None,
               quant_chroma: np.ndarray | None = None,
               subsample: str = "444", restart_interval: int = 0) -> bytes:
    """Encode an RGB (H, W, 3) uint8 image as a baseline YCbCr JPEG with
    4:4:4, 4:2:2 or 4:2:0 sampling (T.871 color transform; box-average
    chroma downsampling — 2×1 for 4:2:2, 2×2 for 4:2:0). 4:2:2 exercises
    the decoder's ASYMMETRIC sampling-factor path (h=2, v=1).
    ``restart_interval`` (MCUs) emits DRI + RSTn markers with DC-predictor
    resets per §F.2.1.3.1 — standard in camera/web encoder output."""
    img = np.asarray(img, dtype=np.uint8).astype(np.float64)
    h, w = img.shape[:2]
    r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    ql = (np.full((8, 8), 8, dtype=np.int64) if quant_luma is None
          else np.asarray(quant_luma, dtype=np.int64).reshape(8, 8))
    qc = ql if quant_chroma is None else np.asarray(
        quant_chroma, dtype=np.int64).reshape(8, 8)
    if subsample == "444":
        sy = (1, 1)
    elif subsample == "422":
        sy = (2, 1)
    elif subsample == "420":
        sy = (2, 2)
    else:
        raise ValueError("subsample must be '444', '422' or '420'")
    hmax, vmax = sy
    mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    yp = _pad_plane(y, mcus_y * vmax, mcus_x * hmax)
    if subsample == "444":
        cbp = _pad_plane(cb, mcus_y, mcus_x)
        crp = _pad_plane(cr, mcus_y, mcus_x)
    else:
        # pad chroma to the padded luma extent, then box-average down to the
        # (mcus_y*8, mcus_x*8) chroma grid (2×1 for 422, 2×2 for 420)
        he, we = mcus_y * vmax * 8, mcus_x * hmax * 8
        cbf = _pad_plane(cb, he // 8, we // 8)
        crf = _pad_plane(cr, he // 8, we // 8)
        cbp = cbf.reshape(he // vmax, vmax, we // hmax, hmax).mean(axis=(1, 3))
        crp = crf.reshape(he // vmax, vmax, we // hmax, hmax).mean(axis=(1, 3))
    zzs = [_plane_coefs(yp, ql), _plane_coefs(cbp, qc), _plane_coefs(crp, qc)]
    comps = [(1, hmax, vmax, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
    out = _headers(w, h, comps, [ql, qc], restart_interval, True)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3) \
        + bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    bw = _BitWriter()
    preds = [0, 0, 0]
    samp = [(hmax, vmax), (1, 1), (1, 1)]
    rst = 0
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            out += bytes(bw.out) + bytes([0xFF, 0xD0 + (rst & 7)])
            bw = _BitWriter()
            rst += 1
            preds = [0, 0, 0]
        my, mx = divmod(m, mcus_x)
        for ci in range(3):
            chs, cvs = samp[ci]
            for bidx in range(chs * cvs):
                bv, bh2 = divmod(bidx, chs)
                preds[ci] = _encode_blocks(
                    bw, zzs[ci][my * cvs + bv, mx * chs + bh2], preds[ci])
    bw.flush()
    out += bytes(bw.out) + b"\xff\xd9"
    return bytes(out)
