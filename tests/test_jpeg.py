"""Baseline JPEG codec tests (operators/jpeg.py, ITU-T T.81).

Independence pyramid:
 1. the module's einsum IDCT/FDCT are pinned against a DIRECT O(N^4)
    evaluation of the §A.3.3 spec formulas written here;
 2. entropy coding is pinned LOSSLESSLY: decode_jpeg_coefficients must
    return exactly the quantized coefficients the test recomputes with its
    own direct DCT — Huffman, zigzag, DC prediction, ZRL/EOB and restart
    markers all have to be bit-perfect for that to hold;
 3. end-to-end closed forms: solid images reconstruct EXACTLY with the
    all-8 quant table (DC = 8·(v−128) quantizes losslessly), arbitrary
    images roundtrip within ±1 at quant=1.
"""

import numpy as np
import pytest

from ezmsg_sigproc_spark.operators.jpeg import (
    ZIGZAG,
    decode_jpeg_coefficients,
    decode_jpeg_pixels,
    fdct2_blocks,
    idct2_blocks,
    synth_jpeg,
    synth_jpeg_gray,
)


def _direct_idct(S: np.ndarray) -> np.ndarray:
    """§A.3.3 IDCT, direct quadruple loop (spec formula, no matrix tricks)."""
    out = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            acc = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    acc += (cu * cv * S[u, v]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y + 1) * v * np.pi / 16))
            out[y, x] = acc / 4.0
    return out


def _direct_fdct(s: np.ndarray) -> np.ndarray:
    """§A.3.3 FDCT, direct quadruple loop."""
    out = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = 1 / np.sqrt(2) if u == 0 else 1.0
            cv = 1 / np.sqrt(2) if v == 0 else 1.0
            acc = 0.0
            for y in range(8):
                for x in range(8):
                    acc += (s[y, x]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y + 1) * v * np.pi / 16))
            out[u, v] = cu * cv * acc / 4.0
    return out


def test_idct_fdct_match_direct_spec_formula():
    rng = np.random.default_rng(41)
    S = rng.uniform(-512, 512, (8, 8))
    # NOTE index convention: coefficient array is indexed [v(row), u(col)] =
    # [vertical freq, horizontal freq]; the einsum applies M on both sides,
    # which is symmetric under that pairing
    np.testing.assert_allclose(idct2_blocks(S[None])[0], _direct_idct(S.T),
                               atol=1e-10)
    s = rng.uniform(-128, 127, (8, 8))
    np.testing.assert_allclose(fdct2_blocks(s[None])[0], _direct_fdct(s).T,
                               atol=1e-10)
    # inverse relationship + solid closed form
    np.testing.assert_allclose(idct2_blocks(fdct2_blocks(s[None]))[0], s,
                               atol=1e-10)
    solid = np.full((1, 8, 8), 77.0)
    S2 = fdct2_blocks(solid - 128.0)
    assert abs(S2[0, 0, 0] - 8 * (77 - 128)) < 1e-9
    assert np.abs(S2[0]).sum() - abs(S2[0, 0, 0]) < 1e-9


def test_entropy_coding_lossless_vs_independent_dct():
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, (24, 40), dtype=np.uint8)
    q = np.full((8, 8), 8, dtype=np.int64)
    payload = synth_jpeg_gray(img, restart_interval=3)
    frame, coefs = decode_jpeg_coefficients(payload)
    assert (frame["width"], frame["height"]) == (40, 24)
    got = coefs[0]  # (3, 5, 8, 8) natural order, quantized
    for by in range(3):
        for bx in range(5):
            blk = img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8].astype(float)
            exp = np.round(_direct_fdct(blk - 128.0).T / q)
            np.testing.assert_array_equal(got[by, bx], exp, err_msg=f"{by},{bx}")


def test_solid_gray_exact_all_dims():
    for v, (h, w) in [(0, (5, 9)), (37, (16, 16)), (128, (1, 1)),
                      (255, (13, 3)), (91, (8, 24)), (200, (17, 17))]:
        img = np.full((h, w), v, dtype=np.uint8)
        dec = decode_jpeg_pixels(synth_jpeg_gray(img))
        assert dec.shape == (h, w)
        np.testing.assert_array_equal(dec, img)


def test_restart_intervals_reset_dc_prediction():
    rng = np.random.default_rng(43)
    img = rng.integers(0, 256, (16, 64), dtype=np.uint8)
    plain = decode_jpeg_pixels(synth_jpeg_gray(img))
    with_rst = decode_jpeg_pixels(synth_jpeg_gray(img, restart_interval=2))
    np.testing.assert_array_equal(plain, with_rst)


def test_quant1_near_lossless_roundtrip():
    rng = np.random.default_rng(44)
    img = (rng.integers(0, 64, (17, 23)) + 96).astype(np.uint8)
    dec = decode_jpeg_pixels(synth_jpeg_gray(img, quant=np.ones(64)))
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 1


def test_color_444_422_and_420():
    img = np.zeros((10, 14, 3), np.uint8)
    img[:] = (120, 64, 200)
    # 422 pins the decoder's ASYMMETRIC sampling path (h=2, v=1)
    for sub in ("444", "422", "420"):
        dec = decode_jpeg_pixels(synth_jpeg(img, subsample=sub))
        assert dec.shape == (10, 14, 3)
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 1, sub
    # gradient, 4:4:4, quant=1: near-lossless through the color transform
    g = (np.add.outer(np.arange(20) * 5, np.arange(28) * 3) % 200 + 20)
    img2 = np.stack([g, 255 - g, g // 2 + 60], axis=2).astype(np.uint8)
    dec2 = decode_jpeg_pixels(synth_jpeg(img2, quant_luma=np.ones(64),
                                         quant_chroma=np.ones(64)))
    assert np.abs(dec2.astype(int) - img2.astype(int)).max() <= 2


def test_rejects_progressive_and_garbage():
    img = np.full((8, 8), 100, dtype=np.uint8)
    payload = bytearray(synth_jpeg_gray(img))
    i = payload.index(b"\xff\xc0")
    payload[i + 1] = 0xC2  # SOF0 -> SOF2 (progressive)
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg_pixels(bytes(payload))
    with pytest.raises(ValueError):
        decode_jpeg_pixels(b"\x89PNG not a jpeg")


def test_rejects_multi_scan_partial_sos():
    """ADVICE r4: T.81 allows several non-interleaved scans (one per
    component); decoding only the first would leave the other components'
    coefficients at zero — silently flat chroma. The decoder must reject a
    first SOS that does not cover every frame component."""
    import struct

    img = np.full((8, 8, 3), 100, dtype=np.uint8)
    payload = bytearray(synth_jpeg(img))
    i = payload.index(b"\xff\xda")
    (seg_len,) = struct.unpack(">H", payload[i + 2 : i + 4])
    body = payload[i + 4 : i + 2 + seg_len]
    assert body[0] == 3  # interleaved 3-component scan as synthesized
    # rewrite the SOS header to a single-component scan (ns=1): keep the
    # first component spec and the trailing Ss/Se/AhAl bytes
    new_body = bytes([1]) + bytes(body[1:3]) + bytes(body[-3:])
    new_seg = struct.pack(">H", 2 + len(new_body)) + new_body
    payload[i + 2 : i + 2 + seg_len] = new_seg
    with pytest.raises(ValueError, match="multi-scan"):
        decode_jpeg_pixels(bytes(payload))


def test_zigzag_is_the_standard_order():
    # spot-pin the first and last few entries of the T.81 Figure 5 order
    assert list(ZIGZAG[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert list(ZIGZAG[-4:]) == [47, 55, 62, 63]
    assert sorted(ZIGZAG) == list(range(64))


def test_header_walker_reads_synth_jpeg():
    from ezmsg_sigproc_spark.operators.multimodal import parse_media_header

    h = parse_media_header(synth_jpeg_gray(np.full((11, 29), 9, np.uint8)))
    assert h["format"] == "jpeg" and (h["width"], h["height"]) == (29, 11)
    assert h["channels"] == 1
    h3 = parse_media_header(synth_jpeg(np.zeros((6, 7, 3), np.uint8)))
    assert (h3["width"], h3["height"], h3["channels"]) == (7, 6, 3)


def test_image_features_decodes_jpeg_spark(spark):
    from ezmsg_sigproc_spark.operators.multimodal import (
        decode_image_features,
        resize_area,
        synth_png,
    )

    rng = np.random.default_rng(45)
    img = rng.integers(60, 196, (12, 8, 3), dtype=np.uint8)
    jpegs = {
        3: synth_jpeg(rng.integers(0, 255, (21, 30, 3), dtype=np.uint8),
                      subsample="420", restart_interval=2),
        5: synth_jpeg_gray(rng.integers(0, 255, (17, 9), dtype=np.uint8)),
    }
    rows = [
        (1, bytearray(synth_jpeg(img, quant_luma=np.ones(64),
                                 quant_chroma=np.ones(64)))),
        (2, bytearray(synth_png(img))),
        (3, bytearray(jpegs[3])),
        (4, bytearray(b"\xff\xd8not a jpeg")),
        (5, bytearray(jpegs[5])),
    ]
    # every row in ONE partition (of as many as the session's parallelism,
    # so the decode stage does not re-spread them): one Arrow batch holds
    # the good JPEGs and the corrupt one together
    n = spark.sparkContext.defaultParallelism
    rdd = spark.sparkContext.parallelize(range(n), n).flatMap(
        lambda i: rows if i == 0 else [])
    df = spark.createDataFrame(rdd, "doc_id bigint, payload binary")
    out = {r.doc_id: r for r in decode_image_features(df).collect()}
    assert out[1].format == "jpeg" and (out[1].width, out[1].height) == (8, 12)
    # same pixels through JPEG (q=1, near-lossless) and PNG (lossless):
    # channel means agree within the ±1/pixel JPEG roundtrip bound
    for a, b in zip((out[1].mean_r, out[1].mean_g, out[1].mean_b),
                    (out[2].mean_r, out[2].mean_g, out[2].mean_b)):
        assert abs(a - b) <= 1.0
    # the corrupt payload gets the "corrupt" row and leaves its neighbours'
    # features exactly those of the per-payload decoder
    assert out[4].format == "corrupt" and out[4].width is None
    for i, p in jpegs.items():
        px = decode_jpeg_pixels(p)
        rgb = px[:, :, :3] if px.ndim == 3 else np.repeat(px[:, :, None], 3, axis=2)
        means = rgb.reshape(-1, 3).mean(axis=0)
        assert out[i].format == "jpeg"
        assert (out[i].width, out[i].height) == (px.shape[1], px.shape[0])
        assert out[i].channels == (px.shape[2] if px.ndim == 3 else 1)
        assert (out[i].mean_r, out[i].mean_g, out[i].mean_b) == tuple(means)
        assert bytes(out[i].thumb) == resize_area(rgb, 8, 8).tobytes()


def test_huffman_long_code_fallback_path():
    """The 8-bit LUT resolves every code the repo's own encoder emits, so
    the >8-bit MINCODE/MAXCODE fallback would otherwise go untested — real
    Annex-K streams use codes up to 16 bits. Craft a canonical table with
    2-bit and 10-bit codes and decode a hand-packed bit stream through it."""
    from ezmsg_sigproc_spark.operators.jpeg import _BitReader, _Huff

    # canonical assignment: len 2 -> codes 00,01,10 (symbols a,b,c);
    # len 10 -> codes 1100000000, 1100000001 (symbols d,e)
    bits = [0, 3, 0, 0, 0, 0, 0, 0, 0, 2, 0, 0, 0, 0, 0, 0]
    table = _Huff(bits, bytes([0xA, 0xB, 0xC, 0xD, 0xE]))
    # stream: 01 (b), 1100000001 (e), 10 (c), 1100000000 (d), 00 (a)
    s = "01" + "1100000001" + "10" + "1100000000" + "00"
    s += "1" * (-len(s) % 8)  # 1-pad to a byte boundary like a real encoder
    br = _BitReader(bytes(int(s[i : i + 8], 2) for i in range(0, len(s), 8)))
    got = [table.decode(br) for _ in range(5)]
    assert got == [0xB, 0xE, 0xC, 0xD, 0xA]
    # the LUT rejected the long codes (prefix 1100000000 >> misses) and the
    # bitwise walk resolved them; short codes resolved via the LUT
    assert int(table.lut[0b01000000]) >> 8 == 2  # 'b' via LUT at length 2
    assert int(table.lut[0b11000000]) == -1      # long-code prefix not in LUT


def test_native_kernel_parity_with_python_loop():
    """The compiled entropy kernel (operators/jpeg_native.py, late r7) is a
    C translation of the IDENTICAL combined-LUT algorithm; coefficients and
    pixels must be bit-identical to the pure-Python loop over a sweep of
    gray/color, 444/420, restart-interval, dense and sparse payloads. Skips
    (loudly) only when no C compiler exists in the environment — the
    production contract is that absence of the kernel only changes speed."""
    from ezmsg_sigproc_spark.operators import jpeg_native
    from ezmsg_sigproc_spark.operators.jpeg import (
        _decode_segments_native, decode_jpeg_pixels, synth_jpeg_gray)

    if jpeg_native.lib() is None:
        pytest.skip("no C compiler available for the native kernel")

    rng = np.random.default_rng(7)
    payloads = []
    for i in range(8):
        h, w = int(rng.integers(8, 100)), int(rng.integers(8, 100))
        if i % 2:
            img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            payloads.append(synth_jpeg(
                img, subsample="420" if i % 4 == 1 else "444",
                restart_interval=int(rng.integers(0, 5))))
        else:
            img = rng.integers(0, 256, (h, w)).astype(np.uint8)
            payloads.append(synth_jpeg_gray(
                img, restart_interval=int(rng.integers(0, 5))))
    # a smooth (sparse-entropy) payload exercises the EOB-heavy path
    payloads.append(synth_jpeg_gray(
        np.outer(np.linspace(0, 255, 64), np.ones(80)).astype(np.uint8)))

    import ezmsg_sigproc_spark.operators.jpeg as _j

    native_px = [decode_jpeg_pixels(p) for p in payloads]
    # force the Python loop by stubbing the native dispatcher
    orig = _j._decode_segments_native
    _j._decode_segments_native = lambda *a, **k: None
    try:
        python_px = [decode_jpeg_pixels(p) for p in payloads]
    finally:
        _j._decode_segments_native = orig
    for a, b in zip(native_px, python_px):
        np.testing.assert_array_equal(a, b)

    # error parity on corrupt input: truncating the entropy stream must
    # raise the SAME ValueError through both paths (the kernel returns
    # coded errors mapped onto the Python loop's exact messages)
    def err_of(p):
        try:
            decode_jpeg_pixels(p)
            return None
        except ValueError as e:
            return str(e)

    corrupt = [p[: int(len(p) * 0.8)] + b"\xff\xd9" for p in payloads[:4]]
    native_err = [err_of(p) for p in corrupt]
    _j._decode_segments_native = lambda *a, **k: None
    try:
        python_err = [err_of(p) for p in corrupt]
    finally:
        _j._decode_segments_native = orig
    assert native_err == python_err
    assert any(e is not None for e in native_err)  # truncation really bites


def test_native_pack_cache_survives_table_churn():
    """_native_pack caches by table identity. When _HUFF_CACHE drops its
    tables, CPython reuses their addresses for new tables; a cache entry
    that did not keep its tables alive then served another table's LUTs.
    3000 distinct random canonical tables must each get their own pack."""
    from ezmsg_sigproc_spark.operators.jpeg import _huff_cached, _native_pack

    rng = np.random.default_rng(11)
    stale = 0
    for _ in range(3000):
        bits, kraft = [0] * 16, 0.0
        for _ in range(int(rng.integers(1, 24))):
            ln = int(rng.integers(2, 17))
            if kraft + 2.0 ** -ln < 1.0:
                bits[ln - 1] += 1
                kraft += 2.0 ** -ln
        vals = bytes(rng.permutation(256)[: sum(bits)].astype(np.uint8))
        t = _huff_cached(bits, vals)
        dc, ac, l256, mn, mx, vp, vals_all, _ = _native_pack([t])
        if not (vals_all == t.vals
                and np.array_equal(l256, t.lut)
                and np.array_equal(dc, t.dc_np)
                and np.array_equal(ac, t.ac_np)
                and list(mx) == t.maxcode):
            stale += 1
    assert stale == 0


def test_dc_size_over_16_bits_same_error_on_both_paths():
    """A crafted DHT whose DC table maps a code to size category 17 asks
    the bit reader for a 17-bit field. The Python loop and the compiled
    kernel must both reject it with the same ValueError (the C shift by
    16 - n would otherwise be undefined behaviour)."""
    import ezmsg_sigproc_spark.operators.jpeg as _j
    from ezmsg_sigproc_spark.operators import jpeg_native

    # solid 200: the one block's DC diff is 200 - 128 = 72, size category 7
    payload = synth_jpeg_gray(np.full((8, 8), 200, dtype=np.uint8))
    dht = payload.index(b"\xff\xc4")
    assert payload[dht + 4] == 0x00  # class 0 (DC), table 0
    nv = sum(payload[dht + 5 : dht + 21])
    vals_at = dht + 21
    k = payload[vals_at : vals_at + nv].index(7)
    crafted = bytearray(payload)
    crafted[vals_at + k] = 17

    def err_of(p):
        with pytest.raises(ValueError) as e:
            decode_jpeg_coefficients(p)
        return str(e.value)

    python_err = None
    orig = _j._decode_segments_native
    _j._decode_segments_native = lambda *a, **k: None
    try:
        python_err = err_of(bytes(crafted))
    finally:
        _j._decode_segments_native = orig
    assert python_err == "magnitude field over 16 bits"
    if jpeg_native.lib() is None:
        pytest.skip("no C compiler available for the native kernel")
    assert err_of(bytes(crafted)) == python_err
