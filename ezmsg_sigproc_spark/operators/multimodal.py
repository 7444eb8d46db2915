"""Multimodal columns: opaque binary payloads with typed metadata.

Training-data-pipeline plumbing (task brief): image/audio/video travel as
``binary`` columns; decode / feature-extract / resize / frame-sample run as
Arrow-batched kernels over ``mapInPandas``.

Two decode levels:

- :func:`parse_media_header` — a REAL container-header parser implemented
  from the published format specifications (no codec library needed): PNG
  IHDR width/height (RFC 2083 §4.1.1), JPEG SOFn frame dimensions
  (ITU-T T.81 §B.2.2), GIF logical-screen descriptor (GIF89a spec), RIFF/WAV
  fmt chunk (channels, sample rate, duration), BMP info header. This covers
  the metadata-extraction stage of a crawl pipeline (dimension filters,
  format routing) end-to-end on real bytes.
- ``_fake_decode_meta`` — the deterministic md5-derived fallback used by the
  registry query so its DuckDB oracle stays SQL-expressible on synthetic
  (non-media) payloads; clearly marked.

Round 3 adds a third, fully REAL level for codec-free formats: PNG (zlib is
stdlib; RFC 2083 filters are byte arithmetic), BMP (BI_RGB raw) and WAV
(PCM raw) decode to pixels/samples with no external library —
:func:`decode_png_pixels` / :func:`decode_bmp_pixels` /
:func:`decode_wav_samples`, plus :func:`resize_area` (integral-image box
resampling) and :func:`frame_sample`, surfaced as the
:func:`decode_image_features` / :func:`decode_audio_features` operators.

Round 4 closes the entropy-coded gap: a from-spec baseline JPEG decoder
(ITU-T T.81 Huffman + dequant + IDCT + T.871 color, operators/jpeg.py) and a
full GIF87a/89a decoder (variable-width LZW, transparency, animation frames,
operators/gif.py) — ``decode_image_features`` now decodes PNG, BMP, JPEG and
GIF for real, all stdlib+numpy. Only true video codecs remain header-only
behind ``resize_stub``; GIF animations ARE the tested frame-sampling input
(decode_gif_frames → frame_sample).
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

DECODE_SCHEMA = "width int, height int, format string, n_bytes bigint"
HEADER_SCHEMA = (
    "format string, width int, height int, channels int, sample_rate int, "
    "duration_ms int, n_bytes bigint"
)


def parse_media_header(payload: bytes) -> dict:
    """Parse real container headers (PNG/JPEG/GIF/BMP/WAV) from format specs.

    Returns dict(format, width, height, channels, sample_rate, duration_ms);
    fields that don't apply are None; unrecognized payloads get
    format='unknown'. Pure byte arithmetic — no codec library.
    """
    out = {"format": "unknown", "width": None, "height": None,
           "channels": None, "sample_rate": None, "duration_ms": None}
    n = len(payload)
    if n >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
        out["format"] = "png"
        out["width"], out["height"] = struct.unpack(">II", payload[16:24])
    elif n >= 4 and payload[:2] == b"\xff\xd8":
        out["format"] = "jpeg"
        # walk marker segments to the first SOFn (frame header). The walk is
        # STRUCTURED (marker → length → skip): it stops at SOS (0xDA, start
        # of entropy-coded scan) and EOI (0xD9) and treats 0xFF00 as byte
        # stuffing — never interpreting scan bytes as markers, so a payload
        # with no SOF before the scan leaves width/height null instead of
        # reporting bogus dimensions
        i = 2
        while i + 9 < n:
            if payload[i] != 0xFF:
                break  # malformed stream — not at a marker boundary
            marker = payload[i + 1]
            if marker == 0xFF:  # fill byte before marker
                i += 1
                continue
            if marker in (0x00, 0xDA, 0xD9):  # stuffed byte / SOS / EOI
                break
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers, no length field
                continue
            seg_len = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                out["height"], out["width"] = struct.unpack(
                    ">HH", payload[i + 5 : i + 9])
                out["channels"] = payload[i + 9]
                break
            i += 2 + seg_len
    elif n >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        out["format"] = "gif"
        out["width"], out["height"] = struct.unpack("<HH", payload[6:10])
    elif n >= 26 and payload[:2] == b"BM":
        out["format"] = "bmp"
        w, h = struct.unpack("<ii", payload[18:26])
        out["width"], out["height"] = w, abs(h)
    elif n >= 44 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        out["format"] = "wav"
        # find the fmt and data chunks
        i = 12
        byte_rate = None
        data_size = None
        while i + 8 <= n:
            cid = payload[i : i + 4]
            csz = struct.unpack("<I", payload[i + 4 : i + 8])[0]
            if cid == b"fmt " and i + 24 <= n:
                out["channels"], out["sample_rate"] = struct.unpack(
                    "<HI", payload[i + 10 : i + 16])
                byte_rate = struct.unpack("<I", payload[i + 16 : i + 20])[0]
            elif cid == b"data":
                data_size = csz
            i += 8 + csz + (csz & 1)
        if byte_rate and data_size is not None:
            out["duration_ms"] = int(data_size * 1000 / byte_rate)
    return out


def decode_media_headers(
    df: DataFrame,
    binary_col: str = "payload",
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Real header-level decode over ``mapInPandas`` (see
    :func:`parse_media_header`); same batching shape as the fake-decode path."""
    keep_schema_fields = [f for f in df.schema.fields if f.name in keep_cols]
    keep_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep_schema_fields)
    schema = (keep_schema + ", " if keep_schema else "") + HEADER_SCHEMA

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(b) for b in pdf[binary_col]]
            metas = [parse_media_header(b) for b in payloads]
            out = pd.DataFrame(metas)
            out["n_bytes"] = [len(b) for b in payloads]
            for c in reversed(keep_cols):
                out.insert(0, c, pdf[c].to_numpy())
            yield out

    return df.mapInPandas(kernel, schema=schema)


def _fake_decode_meta(payload: bytes) -> tuple[int, int, str]:
    """STUB decode: deterministic (width, height, format) from md5(payload).

    Matches the SQL oracle: width = 1 + (first md5 nibble-pair % 64),
    height = 1 + (second nibble-pair % 64), format from the third byte.
    """
    h = hashlib.md5(payload).hexdigest()
    width = 1 + int(h[0:2], 16) % 64
    height = 1 + int(h[2:4], 16) % 64
    fmt = ["png", "jpeg", "webp", "gif"][int(h[4:6], 16) % 4]
    return width, height, fmt


def decode_media_meta(
    df: DataFrame,
    binary_col: str = "payload",
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Extract typed metadata from a binary media column via mapInPandas.

    Arrow streams each partition as pandas batches; the kernel loops only over
    the batch's binary cells (unavoidable for opaque payloads — a real decoder
    is also per-payload), never over Spark rows in Python.
    """
    keep_schema_fields = [f for f in df.schema.fields if f.name in keep_cols]
    keep_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep_schema_fields)
    schema = (keep_schema + ", " if keep_schema else "") + DECODE_SCHEMA

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_fake_decode_meta(bytes(b)) for b in pdf[binary_col]]
            out = pd.DataFrame(metas, columns=["width", "height", "format"])
            out["n_bytes"] = [len(bytes(b)) for b in pdf[binary_col]]
            for c in reversed(keep_cols):
                out.insert(0, c, pdf[c].to_numpy())
            yield out

    return df.mapInPandas(kernel, schema=schema)


def resize_stub(df: DataFrame, binary_col: str = "payload", **kw) -> DataFrame:
    """Resize for INTER-FRAME video codecs (H.264/H.265/VP9/AV1) — those
    need codec libraries absent from this container. Everything else is
    fully decoded WITHOUT codec libs: PNG, BMP, WAV, baseline JPEG
    (operators/jpeg.py), GIF incl. animation frames (operators/gif.py), and
    MJPEG-in-AVI video (operators/avi.py — RIFF container walk + per-frame
    T.81 decode) — use :func:`decode_image_features` /
    :func:`decode_audio_features`, ``decode_gif_frames`` /
    ``decode_avi_mjpeg_frames`` + :func:`frame_sample` for frame stacks."""
    raise NotImplementedError(
        "inter-frame video codecs (H.264 etc.) require libraries not "
        "present in this container; PNG/BMP/WAV/JPEG/GIF/MJPEG-AVI have "
        "real decoders — see decode_image_features and operators/avi.py"
    )


# =====================================================================
# REAL pixel / sample decode for codec-free formats (round 3)
# =====================================================================
#
# PNG's only compression is DEFLATE — the stdlib's zlib — and its filters
# (RFC 2083 §6) are plain byte arithmetic, so a full spec-correct PNG
# decoder needs NO external codec library. BMP (BI_RGB) and WAV (PCM) are
# raw. These three make the decode → resize → feature-extract stage REAL;
# only formats with proprietary entropy coders (JPEG's Huffman/DCT, GIF's
# LZW, video codecs) remain header-only.

import zlib

import numpy as np

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png_pixels(payload: bytes) -> "np.ndarray":
    """Decode a non-interlaced 8-bit PNG to uint8 (H, W, C) — from RFC 2083:
    IHDR → concatenated IDAT → zlib inflate → per-scanline unfilter
    (None/Sub/Up/Average/Paeth). Palette (type 3) resolves through PLTE.
    Sub/Up/Average vectorize per row (Sub via add-prefix in strided chunks);
    Paeth keeps the spec's sequential recurrence."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    i, n = 8, len(payload)
    width = height = bit_depth = color_type = interlace = None
    idat = bytearray()
    plte = None
    while i + 8 <= n:
        (clen,) = struct.unpack(">I", payload[i : i + 4])
        ctype = payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + clen]
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _, _, interlace = struct.unpack(
                ">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        i += 12 + clen  # len + type + body + crc
    if width is None:
        raise ValueError("PNG without IHDR")
    if bit_depth != 8 or interlace != 0:
        raise ValueError("decoder supports 8-bit non-interlaced PNGs")
    ch = _PNG_CHANNELS[color_type]
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    stride = width * ch
    raw = raw.reshape(height, stride + 1)
    filters = raw[:, 0]
    data = raw[:, 1:].astype(np.int32)
    out = np.zeros((height, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        f, row = int(filters[y]), data[y]
        if f == 0:
            rec = row.copy()
        elif f == 1:  # Sub: recon[x] = raw[x] + recon[x-ch]
            rec = row.copy()
            for c in range(ch):
                np.cumsum(rec[c::ch], out=rec[c::ch])
            rec &= 255
        elif f == 2:  # Up
            rec = (row + prev) & 255
        elif f == 3:  # Average
            rec = row.copy()
            for x in range(stride):
                left = rec[x - ch] if x >= ch else 0
                rec[x] = (rec[x] + ((left + prev[x]) >> 1)) & 255
        elif f == 4:  # Paeth
            rec = row.copy()
            for x in range(stride):
                a = rec[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (rec[x] + pred) & 255
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = rec
        prev = rec
    img = out.astype(np.uint8).reshape(height, width, ch)
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        img = plte[img[:, :, 0]]
    return img


def decode_bmp_pixels(payload: bytes) -> "np.ndarray":
    """Decode an uncompressed (BI_RGB) 24/32-bit BMP to uint8 (H, W, 3):
    pixel-array offset from the file header, 4-byte-aligned bottom-up rows,
    BGR(A) order per the spec."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack("<I", payload[10:14])
    w, h = struct.unpack("<ii", payload[18:26])
    (bpp,) = struct.unpack("<H", payload[28:30])
    (compression,) = struct.unpack("<I", payload[30:34])
    if compression != 0 or bpp not in (24, 32):
        raise ValueError("decoder supports uncompressed 24/32-bit BMPs")
    flip = h > 0
    h = abs(h)
    bypp = bpp // 8
    row_bytes = (w * bypp + 3) & ~3
    raw = np.frombuffer(payload, dtype=np.uint8,
                        count=row_bytes * h, offset=data_off)
    rows = raw.reshape(h, row_bytes)[:, : w * bypp].reshape(h, w, bypp)
    rgb = rows[:, :, 2::-1]  # BGR -> RGB (alpha dropped)
    return rgb[::-1] if flip else rgb


def decode_wav_samples(payload: bytes) -> tuple["np.ndarray", int]:
    """Decode a PCM WAV to (float64 (n, channels) in [-1, 1], sample_rate).
    Supports 8-bit unsigned and 16-bit signed PCM."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    i, n = 12, len(payload)
    channels = rate = bits = None
    data = None
    while i + 8 <= n:
        cid = payload[i : i + 4]
        (csz,) = struct.unpack("<I", payload[i + 4 : i + 8])
        if cid == b"fmt ":
            fmt_code, channels, rate = struct.unpack("<HHI", payload[i + 8 : i + 16])
            (bits,) = struct.unpack("<H", payload[i + 22 : i + 24])
            if fmt_code != 1:
                raise ValueError("decoder supports PCM WAVs only")
        elif cid == b"data":
            data = payload[i + 8 : i + 8 + csz]
        i += 8 + csz + (csz & 1)
    if data is None or channels is None:
        raise ValueError("WAV missing fmt/data chunk")
    if bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError("decoder supports 8/16-bit PCM")
    return x[: (x.size // channels) * channels].reshape(-1, channels), rate


def resize_area(img: "np.ndarray", out_h: int, out_w: int) -> "np.ndarray":
    """Box/area resampling in pure numpy (exact mean over each source box —
    the standard thumbnailing filter). Works for any (H, W, C) uint8 image;
    source boxes come from the pixel-edge partition, so uneven ratios are
    handled exactly."""
    h, w = img.shape[:2]
    ye = (np.arange(out_h + 1) * h) // out_h
    xe = (np.arange(out_w + 1) * w) // out_w
    # integral image for O(1) box sums
    ii = np.zeros((h + 1, w + 1) + img.shape[2:], dtype=np.int64)
    ii[1:, 1:] = np.cumsum(np.cumsum(img.astype(np.int64), axis=0), axis=1)
    top, bot = ye[:-1], ye[1:]
    left, right = xe[:-1], xe[1:]
    sums = (ii[bot][:, right] - ii[bot][:, left]
            - ii[top][:, right] + ii[top][:, left])
    areas = ((bot - top)[:, None] * (right - left)[None, :]).astype(np.float64)
    if img.ndim == 3:
        areas = areas[:, :, None]
    return np.round(sums / areas).astype(np.uint8)


def frame_sample(x: "np.ndarray", n_frames: int) -> "np.ndarray":
    """Uniform frame/sample selection along axis 0 (the video/audio
    frame-sampling primitive): centers of n equal partitions."""
    n = x.shape[0]
    idx = (np.arange(n_frames) * n + n // 2) // n_frames
    return x[np.minimum(idx, n - 1)]


IMAGE_FEATURES_SCHEMA = (
    "format string, width int, height int, channels int, "
    "mean_r double, mean_g double, mean_b double, thumb binary"
)


def decode_image_features(
    df: DataFrame,
    binary_col: str = "payload",
    keep_cols: tuple[str, ...] = ("doc_id",),
    thumb: tuple[int, int] = (8, 8),
) -> DataFrame:
    """REAL pixel decode → per-channel means + an area-resampled RGB
    thumbnail (raw bytes, h*w*3), for PNG, BMP, JPEG and GIF payloads;
    other/broken payloads yield nulls. mapInPandas batching, per-payload
    kernel work (inherent for opaque binaries)."""
    keep_schema_fields = [f for f in df.schema.fields if f.name in keep_cols]
    keep_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep_schema_fields)
    schema = (keep_schema + ", " if keep_schema else "") + IMAGE_FEATURES_SCHEMA
    th, tw = thumb

    from .gif import decode_gif_pixels as _gif

    def _features(fmt: str, img: np.ndarray) -> tuple:
        if img.ndim == 2:
            img = img[:, :, None]
        if img.shape[2] == 1:
            rgb = np.repeat(img, 3, axis=2)
        elif img.shape[2] == 2:  # gray+alpha
            rgb = np.repeat(img[:, :, :1], 3, axis=2)
        else:
            rgb = img[:, :, :3]
        means = rgb.reshape(-1, 3).mean(axis=0)
        tb = resize_area(rgb, th, tw).tobytes()
        return (fmt, img.shape[1], img.shape[0], img.shape[2],
                float(means[0]), float(means[1]), float(means[2]), tb)

    def one(b: bytes) -> tuple:
        try:
            if b[:8] == b"\x89PNG\r\n\x1a\n":
                img, fmt = decode_png_pixels(b), "png"
            elif b[:2] == b"BM":
                img, fmt = decode_bmp_pixels(b), "bmp"
            elif b[:2] == b"\xff\xd8":
                img, fmt = decode_jpeg_pixels(b), "jpeg"
            elif b[:6] in (b"GIF87a", b"GIF89a"):
                img, fmt = _gif(b), "gif"
            else:
                return ("unknown", None, None, None, None, None, None, None)
        except Exception:
            return ("corrupt", None, None, None, None, None, None, None)
        return _features(fmt, img)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [one(bytes(b)) for b in pdf[binary_col]]
            out = pd.DataFrame(rows, columns=[
                "format", "width", "height", "channels",
                "mean_r", "mean_g", "mean_b", "thumb"])
            for c in reversed(keep_cols):
                out.insert(0, c, pdf[c].to_numpy())
            yield out

    # Widen-if-narrow guard before the decode stage (same probe as dedup's
    # widen_narrow_input): decode parallelism = input partition count.
    # Parquet scans are safe by default (files.minPartitionNum floors splits
    # at the core count — measured no-op on the media bench cache), but a
    # DataFrame arriving from an upstream operator with few partitions
    # (a coalesced aggregate, a single in-memory frame) would otherwise run
    # the whole per-payload decode on those few cores. Plan-only probe,
    # no job, no-op on already-wide inputs.
    from .dedup import widen_narrow_input

    return widen_narrow_input(df).mapInPandas(kernel, schema=schema)


AUDIO_FEATURES_SCHEMA = (
    "format string, channels int, sample_rate int, n_samples bigint, "
    "rms double, frames binary"
)


def decode_audio_features(
    df: DataFrame,
    binary_col: str = "payload",
    keep_cols: tuple[str, ...] = ("doc_id",),
    n_frames: int = 16,
) -> DataFrame:
    """REAL PCM decode → RMS + uniformly frame-sampled mono summary (float32
    bytes) for WAV payloads via mapInPandas."""
    keep_schema_fields = [f for f in df.schema.fields if f.name in keep_cols]
    keep_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in keep_schema_fields)
    schema = (keep_schema + ", " if keep_schema else "") + AUDIO_FEATURES_SCHEMA

    def one(b: bytes) -> tuple:
        try:
            x, rate = decode_wav_samples(b)
        except Exception:
            return ("unknown", None, None, None, None, None)
        mono = x.mean(axis=1)
        rms = float(np.sqrt(np.mean(mono**2))) if mono.size else 0.0
        fr = frame_sample(mono, n_frames).astype(np.float32).tobytes() if mono.size else b""
        return ("wav", x.shape[1], rate, x.shape[0], rms, fr)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [one(bytes(b)) for b in pdf[binary_col]]
            out = pd.DataFrame(rows, columns=[
                "format", "channels", "sample_rate", "n_samples", "rms", "frames"])
            for c in reversed(keep_cols):
                out.insert(0, c, pdf[c].to_numpy())
            yield out

    # Widen-if-narrow guard before the decode stage (same probe as dedup's
    # widen_narrow_input): decode parallelism = input partition count.
    # Parquet scans are safe by default (files.minPartitionNum floors splits
    # at the core count — measured no-op on the media bench cache), but a
    # DataFrame arriving from an upstream operator with few partitions
    # (a coalesced aggregate, a single in-memory frame) would otherwise run
    # the whole per-payload decode on those few cores. Plan-only probe,
    # no job, no-op on already-wide inputs.
    from .dedup import widen_narrow_input

    return widen_narrow_input(df).mapInPandas(kernel, schema=schema)


from .jpeg import (  # noqa: E402  (re-export: JPEG lives in its own module)
    decode_jpeg_pixels,
    synth_jpeg,
    synth_jpeg_gray,
)


def synth_png(img: "np.ndarray") -> bytes:
    """Encode an arbitrary (H, W, 3) uint8 image as a valid RGB PNG, cycling
    the per-row filter through None/Sub/Up (RFC 2083 §6) so decoders see a
    realistic filter mix — the spec-side generator for decoder tests and the
    multimodal throughput bench. Pure numpy + stdlib zlib."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w, c = img.shape
    assert c == 3
    rows = img.reshape(h, w * c).astype(np.int16)
    out = bytearray()
    for y in range(h):
        f = y % 3
        cur = rows[y]
        if f == 0:
            enc = cur
        elif f == 1:  # Sub: raw[x] = cur[x] - cur[x-bpp]
            enc = cur.copy()
            enc[c:] -= cur[:-c]
        else:  # Up: raw[x] = cur[x] - prev[x]
            enc = cur - (rows[y - 1] if y else 0)
        out.append(f)
        out.extend((enc & 255).astype(np.uint8).tobytes())

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(out)))
            + chunk(b"IEND", b""))


def synth_bmp(img: "np.ndarray") -> bytes:
    """Encode an (H, W, 3) uint8 image as an uncompressed 24-bit BI_RGB BMP
    (bottom-up, BGR, 4-byte-aligned rows)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w, _ = img.shape
    row_bytes = (w * 3 + 3) & ~3
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    data = body.tobytes()
    off = 14 + 40
    header = (b"BM" + struct.pack("<IHHI", off + len(data), 0, 0, off)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                            2835, 2835, 0, 0))
    return header + data


def synth_wav(x: "np.ndarray", sample_rate: int) -> bytes:
    """Encode float samples in [-1, 1] (n,) or (n, channels) as a 16-bit PCM
    WAV."""
    x = np.asarray(x, dtype=np.float64)
    if x.ndim == 1:
        x = x[:, None]
    ch = x.shape[1]
    pcm = np.clip(np.round(x * 32767.0), -32768, 32767).astype("<i2").tobytes()
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)


def synth_solid_png(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Deterministically build a valid solid-color RGB PNG (filter 0 on the
    first row, filter 2/Up on the rest, one zlib stream) — the driver query
    uses this to push md5-derived images through the REAL decoder and check
    closed-form dimensions/means against the SQL oracle."""
    row0 = b"\x00" + bytes(rgb) * width
    rown = b"\x02" + b"\x00" * (width * 3)  # Up filter: identical to prev row
    raw = row0 + rown * (height - 1)

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
