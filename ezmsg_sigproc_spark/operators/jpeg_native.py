"""Optional C kernel for the baseline-JPEG entropy-decode hot loop.

`decode_jpeg_coefficients` (jpeg.py) resolves one combined-LUT entry per
coefficient inside a Python interpreter loop — spec-exact but bound at
~1.7 MB/s/core (the documented scalar ceiling since round 5; the named
production lever has always been "compiled codec swap-in"). This module IS
that swap-in, from the same public T.81 spec: a ~150-line C translation of
the IDENTICAL algorithm — same 16-bit combined LUT packings built by
`_Huff.build_combined`, same 8-bit first-level table + MINCODE/MAXCODE
walk on the slow path, same `w24` byte-window bit reader, same bounds
checks — compiled with the system C compiler on first use and loaded via
ctypes. Because every table, window and check is shared with the Python
loop, the outputs are bit-identical; a parity test sweeps both paths over
random synthesized JPEGs (tests/test_jpeg.py).

Robustness contract: ANY failure here (no compiler, sandboxed /tmp,
ctypes quirks) leaves `lib() is None` and callers fall back to the Python
loop — behavior is unchanged, only slower. `EZSP_JPEG_NATIVE=0` forces
the fallback (used by the parity tests to pin the pure-Python route).

The .so is cached per source-hash in a per-user 0700 directory under the
system temp dir (native_build), so executor worker processes on one host
compile once and share; a stale cache from an older source version misses
the hash and rebuilds.
"""

from __future__ import annotations

import ctypes

_SRC = r"""
#include <stdint.h>

typedef struct {
    const int32_t *dc_lut;   /* 65536: (adv<<13)|(val+2048), -1 slow  */
    const int32_t *ac_lut;   /* 65536: (adv<<20)|(ka<<13)|(val+2048) */
    const int32_t *lut256;   /* 256: (len<<8)|sym, -1 invalid        */
    const int32_t *mincode;  /* 17 */
    const int32_t *maxcode;  /* 17 */
    const int32_t *valptr;   /* 17 */
    const uint8_t *vals;
} table_t;

/* buf is the destuffed segment padded with >=3 zero bytes (the Python
   _BitReader's w24 layout: bytes j..j+2 as one window). */
static int64_t w24_at(const uint8_t *b, int64_t j)
{
    return ((int64_t)b[j] << 16) | ((int64_t)b[j + 1] << 8) | (int64_t)b[j + 2];
}

/* _Huff.decode: 8-bit first-level peek, else the Annex-F bit walk.
   Returns the symbol, or -1 (segment exhausted) / -3 (invalid code). */
static int huff_decode(const uint8_t *buf, int64_t nbits, const table_t *t,
                       int64_t *pos)
{
    int64_t p = *pos;
    int32_t e = t->lut256[(w24_at(buf, p >> 3) >> (16 - (p & 7))) & 0xFF];
    if (e >= 0) {
        p += e >> 8;
        if (p > nbits) return -1;
        *pos = p;
        return e & 0xFF;
    }
    int64_t code = 0;
    int ln = 0;
    do {
        if (ln >= 16) return -3;
        if (p + 1 > nbits) return -1;
        code = (code << 1)
             | (((w24_at(buf, p >> 3) >> (8 - (p & 7))) & 0xFFFF) >> 15);
        p += 1;
        ln += 1;
    } while (code > t->maxcode[ln]);
    *pos = p;
    return t->vals[t->valptr[ln] + code - t->mincode[ln]];
}

/* _BitReader.receive; -5 for n > 16, whose shift would be undefined */
static int64_t recv_bits(const uint8_t *buf, int64_t nbits, int64_t *pos,
                         int n, int *err)
{
    if (n == 0) return 0;
    if (n > 16) { *err = -5; return 0; }
    int64_t p = *pos;
    if (p + n > nbits) { *err = -1; return 0; }
    *pos = p + n;
    return (int64_t)(((w24_at(buf, p >> 3) >> (8 - (p & 7))) & 0xFFFF)
                     >> (16 - n));
}

/* One restart segment of the single interleaved baseline scan, writing
   quantized coefficients (zigzag order) densely into each component's
   (nblocks x 64) int32 buffer. Returns 0, or -1 segment exhausted,
   -2 AC run past block end, -3 invalid Huffman code, -5 magnitude field
   over 16 bits. */
int64_t decode_segment(
    const uint8_t *buf, int64_t nbits,
    int64_t n_scan,
    const int32_t *sc_ci, const int32_t *sc_nblk, const int32_t *sc_ch,
    const int32_t *sc_v, const int32_t *sc_bw,
    const int32_t *sc_dct, const int32_t *sc_act,
    int64_t n_tables,
    const int32_t *dc_luts, const int32_t *ac_luts, const int32_t *lut256s,
    const int32_t *mincodes, const int32_t *maxcodes, const int32_t *valptrs,
    const uint8_t *vals_all, const int32_t *vals_off,
    int32_t **zz, int64_t n_comps,
    int64_t mcus_x, int64_t start_mcu, int64_t count)
{
    table_t tables[8];
    int64_t pred[8];
    if (n_tables > 8 || n_comps > 8) return -4;
    for (int64_t t = 0; t < n_tables; t++) {
        tables[t].dc_lut = dc_luts + t * 65536;
        tables[t].ac_lut = ac_luts + t * 65536;
        tables[t].lut256 = lut256s + t * 256;
        tables[t].mincode = mincodes + t * 17;
        tables[t].maxcode = maxcodes + t * 17;
        tables[t].valptr = valptrs + t * 17;
        tables[t].vals = vals_all + vals_off[t];
    }
    for (int64_t c = 0; c < n_comps; c++) pred[c] = 0;
    int64_t pos = 0;
    for (int64_t m = start_mcu; m < start_mcu + count; m++) {
        int64_t my = m / mcus_x, mx = m % mcus_x;
        for (int64_t sp = 0; sp < n_scan; sp++) {
            int ci = sc_ci[sp];
            const table_t *dt = &tables[sc_dct[sp]];
            const table_t *at = &tables[sc_act[sp]];
            int nblk = sc_nblk[sp], ch = sc_ch[sp];
            int64_t bw = sc_bw[sp];
            int64_t row0 = my * (int64_t)sc_v[sp];
            for (int b = 0; b < nblk; b++) {
                int bv = b / ch, bh = b % ch;
                int64_t bi = (row0 + bv) * bw + mx * ch + bh;
                int32_t *blk = zz[ci] + bi * 64;
                if (pos > nbits) return -1;
                int32_t e = dt->dc_lut[
                    (w24_at(buf, pos >> 3) >> (8 - (pos & 7))) & 0xFFFF];
                if (e >= 0) {
                    pos += e >> 13;
                    pred[ci] += (e & 8191) - 2048;
                } else {
                    int s = huff_decode(buf, nbits, dt, &pos);
                    if (s < 0) return s;
                    if (s) {        /* EXTEND, F.2.2.1 */
                        int err = 0;
                        int64_t v = recv_bits(buf, nbits, &pos, s, &err);
                        if (err) return err;
                        pred[ci] += (v >= ((int64_t)1 << (s - 1)))
                                    ? v : v - ((int64_t)1 << s) + 1;
                    }
                }
                blk[0] = (int32_t)pred[ci];
                int k = 1;
                while (k < 64) {
                    if (pos > nbits) return -1;
                    int32_t ea = at->ac_lut[
                        (w24_at(buf, pos >> 3) >> (8 - (pos & 7))) & 0xFFFF];
                    if (ea >= 0) {
                        pos += ea >> 20;
                        int ka = (ea >> 13) & 127;
                        if (ka < 64) {          /* coefficient, run ka */
                            k += ka;
                            if (k > 63) return -2;
                            blk[k] = (ea & 8191) - 2048;
                            k += 1;
                        } else if (ka == 64) {  /* ZRL */
                            k += 16;
                        } else {                /* EOB */
                            break;
                        }
                        continue;
                    }
                    int rs = huff_decode(buf, nbits, at, &pos);
                    if (rs < 0) return rs;
                    int s2 = rs & 15;
                    if (s2 == 0) {
                        if (rs == 0xF0) { k += 16; continue; }
                        break;                  /* EOB */
                    }
                    k += rs >> 4;
                    if (k > 63) return -2;
                    int err = 0;
                    int64_t v = recv_bits(buf, nbits, &pos, s2, &err);
                    if (err) return err;
                    blk[k] = (int32_t)((v >= ((int64_t)1 << (s2 - 1)))
                                       ? v : v - ((int64_t)1 << s2) + 1);
                    k += 1;
                }
            }
        }
    }
    if (pos > nbits) return -1;
    return 0;
}
"""

_ERRORS = {
    -1: "entropy segment exhausted",
    -2: "AC run past block end",
    -3: "invalid Huffman code",
    -4: "too many tables/components for the native kernel",
    -5: "magnitude field over 16 bits",
}

_lib = None
_lib_tried = False


def lib():
    """The loaded kernel, or None when unavailable/disabled. Never raises."""
    global _lib, _lib_tried
    if _lib_tried:
        return _lib
    _lib_tried = True
    from .native_build import load

    L = load("jpeg_native", _SRC, "EZSP_JPEG_NATIVE")
    if L is not None:
        i64, p32, pu8 = ctypes.c_int64, ctypes.POINTER(ctypes.c_int32), \
            ctypes.POINTER(ctypes.c_uint8)
        L.decode_segment.restype = i64
        L.decode_segment.argtypes = [
            pu8, i64,                       # buf, nbits
            i64, p32, p32, p32, p32, p32, p32, p32,   # scan arrays
            i64, p32, p32, p32, p32, p32, p32, pu8, p32,  # tables
            ctypes.POINTER(p32), i64,       # zz pointers, n_comps
            i64, i64, i64,                  # mcus_x, start_mcu, count
        ]
    _lib = L
    return _lib


def error_message(code: int) -> str:
    return _ERRORS.get(int(code), f"native decode error {code}")
