"""MJPEG-in-AVI container tests (operators/avi.py).

Independence: the container fields the decoder relies on (movi layout,
avih frame count, strf biCompression) are additionally pinned by a
hand-parse of the synthesized bytes against the public AVI RIFF spec's
offsets, so encoder and decoder cannot share a structural bug silently.
"""

import struct

import numpy as np
import pytest

from ezmsg_sigproc_spark.operators.avi import (
    decode_avi_mjpeg_frames,
    synth_avi_mjpeg,
)
from ezmsg_sigproc_spark.operators.jpeg import decode_jpeg_pixels
from ezmsg_sigproc_spark.operators.multimodal import frame_sample


def test_gray_solid_frames_roundtrip_exact():
    fr = [np.full((11, 13), v, np.uint8) for v in (10, 50, 90)]
    dec = decode_avi_mjpeg_frames(synth_avi_mjpeg(fr))
    assert len(dec) == 3
    for d, f in zip(dec, fr):
        np.testing.assert_array_equal(d, f)  # q00=8 solid decode is exact
    picked = frame_sample(np.stack(dec), 2)
    assert (picked[0] == 10).all() and (picked[1] == 90).all()


def test_color_frames_roundtrip_near():
    rng = np.random.default_rng(3)
    fr = [rng.integers(0, 255, (16, 24, 3), np.uint8) for _ in range(2)]
    dec = decode_avi_mjpeg_frames(synth_avi_mjpeg(fr))
    assert dec[0].shape == (16, 24, 3)
    for d, f in zip(dec, fr):
        assert abs(d.astype(int) - f.astype(int)).max() <= 40  # lossy DCT


def test_container_structure_matches_spec_offsets():
    """Hand-walk the RIFF bytes with the spec's fixed offsets — no shared
    code with the decoder's chunk iterator."""
    fr = [np.full((8, 8), 77, np.uint8)] * 2
    avi = synth_avi_mjpeg(fr, fps=25)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    (riff_size,) = struct.unpack("<I", avi[4:8])
    assert 8 + riff_size == len(avi)
    # first top-level chunk: LIST hdrl; its first subchunk: avih (size 56)
    assert avi[12:16] == b"LIST" and avi[20:24] == b"hdrl"
    assert avi[24:28] == b"avih"
    (avih_size,) = struct.unpack("<I", avi[28:32])
    assert avih_size == 56
    usec_per_frame, _, _, flags, total_frames = struct.unpack("<5I", avi[32:52])
    assert usec_per_frame == 1_000_000 // 25
    assert total_frames == 2
    assert flags & 0x10  # AVIF_HASINDEX
    # strh fccType/fccHandler
    i = avi.index(b"strh")
    assert avi[i + 8 : i + 12] == b"vids" and avi[i + 12 : i + 16] == b"MJPG"
    # strf BITMAPINFOHEADER: biSize 40, dims, biCompression MJPG
    i = avi.index(b"strf")
    bi = avi[i + 8 :]
    assert struct.unpack("<I", bi[0:4])[0] == 40
    assert struct.unpack("<i", bi[4:8])[0] == 8
    assert bi[16:20] == b"MJPG"
    # movi payload chunks are valid standalone JPEGs (SOI marker)
    i = avi.index(b"movi")
    assert avi[i + 4 : i + 8] == b"00dc"
    assert avi[i + 12 : i + 14] == b"\xff\xd8"
    assert b"idx1" in avi


def test_rejections():
    with pytest.raises(ValueError, match="not an AVI"):
        decode_avi_mjpeg_frames(b"RIFF\x04\x00\x00\x00WAVE")
    avi = synth_avi_mjpeg([np.full((8, 8), 5, np.uint8)] * 2)
    with pytest.raises(ValueError, match="not MJPG"):
        decode_avi_mjpeg_frames(avi.replace(b"MJPG", b"H264"))
    with pytest.raises(ValueError, match="overruns"):
        decode_avi_mjpeg_frames(avi[:-20])
    # frame-count mismatch between avih and movi must fail loudly
    bad = bytearray(avi)
    i = bad.index(b"avih")
    struct.pack_into("<I", bad, i + 8 + 16, 5)  # claim 5 frames
    with pytest.raises(ValueError, match="declares 5 frames"):
        decode_avi_mjpeg_frames(bytes(bad))
    # a frame cut short (EOI halfway through its entropy data) fails the
    # whole clip with the JPEG decoder's own exception for that frame
    rng = np.random.default_rng(8)
    avi = bytearray(synth_avi_mjpeg(
        [rng.integers(0, 255, (32, 48, 3), np.uint8) for _ in range(3)]))
    at = avi.index(b"00dc")
    (size,) = struct.unpack("<I", avi[at + 4 : at + 8])
    at += 8 + size + (size & 1)  # second frame's chunk
    assert avi[at : at + 4] == b"00dc"
    (size,) = struct.unpack("<I", avi[at + 4 : at + 8])
    frame = avi[at + 8 : at + 8 + size]
    cut = (frame.index(b"\xff\xda") + size) // 2
    if frame[cut - 1] == 0xFF:  # keep a stuffed 0xFF00 pair intact
        cut += 1
    frame[cut : cut + 2] = b"\xff\xd9"
    avi[at + 8 : at + 8 + size] = frame
    with pytest.raises(Exception) as want:
        decode_jpeg_pixels(bytes(frame))
    with pytest.raises(want.type) as got:
        decode_avi_mjpeg_frames(bytes(avi))
    assert got.type is want.type and str(got.value) == str(want.value)


def test_video_real_query_matches_duckdb(spark):
    """The video_real row of multimodal_decode against the DuckDB oracle at
    sf0.001 — the same equality the driver checks at sf0.01."""
    import duckdb

    import __spark_entry__ as E

    sf_dir = "/root/testdata/sf0.001"
    got = {r["format"]: r for r in E.queries()["multimodal_decode"](
        spark, sf_dir).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    exp = {r[0]: r for r in con.execute(
        E.oracle_sql()["multimodal_decode"]).fetchall()}
    g, e = got["video_real"], exp["video_real"]
    assert (g["n"], g["sum_w"], g["sum_h"], g["sum_bytes"]) == e[1:]
