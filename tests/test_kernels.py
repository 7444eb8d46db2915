"""Numpy kernel tests against direct ports of the reference recurrences —
mirrors reference tests/unit/test_scaler.py (river golden values),
test_downsample.py (slice oracle), filter design properties."""

import math

import numpy as np
import pytest

from ezmsg_sigproc_spark.operators.compression import gorilla_roundtrip_stats
from ezmsg_sigproc_spark.operators.ewma import alpha_from_tau, ewma_corrected_np
from ezmsg_sigproc_spark.operators.filters import (
    butter_filter_np,
    butter_sos,
    fir_filter_np,
    gaussian_kernel,
    sos_freq_response,
    sosfilt,
    sosfilt_zi,
)


def _ewma_reference(x, alpha):
    """Direct port of reference ewma.py:243-271 (lfilter recurrence + Adam
    bias correction)."""
    y = np.empty(len(x))
    zi = 0.0
    for i, xi in enumerate(x):
        zi = alpha * xi + (1 - alpha) * zi
        y[i] = zi / (1 - (1 - alpha) ** (i + 1))
    return y


@pytest.mark.parametrize("alpha", [0.6, 0.05, 0.999, 1e-4])
def test_ewma_matches_reference_recurrence(alpha):
    rng = np.random.default_rng(0)
    x = rng.standard_normal(4096) * 7 + 2
    np.testing.assert_allclose(ewma_corrected_np(x, alpha), _ewma_reference(x, alpha), rtol=1e-9)


def test_ewma_chunk_invariance():
    """Streaming the recurrence in chunks equals the batch closed form —
    the reference's cumulative n_seen makes correction chunk-invariant."""
    rng = np.random.default_rng(1)
    x = rng.standard_normal(1000)
    alpha = 0.3
    batch = ewma_corrected_np(x, alpha)
    zi, n_seen, parts = 0.0, 0, []
    for start in range(0, 1000, 37):
        blk = x[start : start + 37]
        y = np.empty(len(blk))
        for i, xi in enumerate(blk):
            zi = alpha * xi + (1 - alpha) * zi
            y[i] = zi / (1 - (1 - alpha) ** (n_seen + i + 1))
        n_seen += len(blk)
        parts.append(y)
    np.testing.assert_allclose(np.concatenate(parts), batch, rtol=1e-9)


def test_scaler_matches_reference_oracle():
    """The reference's own AdaptiveStandardScaler equals the exact
    exponentially-weighted z-score oracle `_bias_corrected_zscore_1d`
    (tests/unit/test_scaler.py:53-86, asserted at atol 1e-6); ours must too.
    (The separate river-delegate transformer with its looser golden values is
    a literature oracle the reference keeps as an optional dependency.)"""
    data = np.array([5.278, 5.050, 6.550, 7.446, 9.472, 10.353, 11.784, 11.173])
    alpha = 0.6

    def oracle(x):
        z = np.empty_like(x)
        for t in range(1, len(x) + 1):
            k = np.arange(1, t + 1)
            w = alpha * (1 - alpha) ** (t - k)
            w = w / w.sum()
            mean = (w * x[:t]).sum()
            var = (w * x[:t] ** 2).sum() - mean**2
            z[t - 1] = (x[t - 1] - mean) / np.sqrt(var) if var > 0 else 0.0
        return z

    mu = ewma_corrected_np(data, alpha)
    ex2 = ewma_corrected_np(data * data, alpha)
    var = ex2 - mu * mu
    z = np.where(var > 0, (data - mu) / np.sqrt(np.where(var > 0, var, 1)), 0.0)
    np.testing.assert_allclose(z, oracle(data), atol=1e-9)
    assert z[0] == 0.0


def test_alpha_from_tau():
    # reference ewma.py:40-48
    assert alpha_from_tau(1.0, 0.001) == pytest.approx(1 - math.exp(-0.001))
    tau = 0.010913566679372915  # the river test's tau for alpha=0.6 at fs=100
    assert alpha_from_tau(tau, 0.01) == pytest.approx(0.6, abs=1e-12)


# ---------------------------------------------------------------- filters ----

def test_butterworth_design_properties():
    for order in [2, 4, 8]:
        sos = butter_sos(order, 0.2, "lowpass", fs=2.0)
        h0 = abs(sos_freq_response(sos, np.array([1e-9]))[0])
        hc = abs(sos_freq_response(sos, np.array([math.pi * 0.2]))[0])
        hn = abs(sos_freq_response(sos, np.array([math.pi * 0.9]))[0])
        assert h0 == pytest.approx(1.0, abs=1e-9)
        assert hc == pytest.approx(1 / math.sqrt(2), abs=1e-6)
        assert hn < 10 ** (-order)  # steep rolloff grows with order


def test_butterworth_step_no_ring():
    """x0-scaled zi ⇒ constant input passes unchanged (filter.py:362-447)."""
    x = np.full(100, -7.25)
    y = butter_filter_np(x, 4, 0.1, "lowpass", fs=2.0)
    np.testing.assert_allclose(y, x, rtol=1e-12)


def test_sosfilt_zi_steady_state():
    sos = butter_sos(4, 0.3, "lowpass", fs=2.0)
    zi = sosfilt_zi(sos)
    y = sosfilt(sos, np.ones(50), zi)
    np.testing.assert_allclose(y, 1.0, rtol=1e-10)


def test_bandpass_passes_band_rejects_outside():
    fs = 1000.0
    t = np.arange(4096) / fs
    lo = np.sin(2 * np.pi * 5 * t)
    mid = np.sin(2 * np.pi * 100 * t)
    hi = np.sin(2 * np.pi * 400 * t)
    y = butter_filter_np(lo + mid + hi, 4, (80, 120), "bandpass", fs=fs)
    tail = slice(2048, None)  # skip transient
    corr_mid = np.dot(y[tail], mid[tail]) / np.dot(mid[tail], mid[tail])
    assert corr_mid == pytest.approx(1.0, abs=0.05)
    assert np.dot(y[tail], lo[tail]) / np.dot(lo[tail], lo[tail]) < 0.05
    assert np.dot(y[tail], hi[tail]) / np.dot(hi[tail], hi[tail]) < 0.05


def test_gaussian_fir_unit_dc_and_symmetry():
    taps = gaussian_kernel(0.01, 0.001)  # the reference's ~13.2 Hz default
    assert taps.sum() == pytest.approx(1.0)
    np.testing.assert_allclose(taps, taps[::-1])
    y = fir_filter_np(np.full(100, 3.3), taps, mode="same")
    np.testing.assert_allclose(y, 3.3, rtol=1e-12)


# ---------------------------------------------------------------- gorilla ----

def test_gorilla_fuzz_roundtrip():
    rng = np.random.default_rng(42)
    for _ in range(30):
        n = int(rng.integers(1, 800))
        ts = np.sort(rng.integers(-(10**14), 10**14, size=n))
        vals = rng.standard_normal(n) * 10.0 ** float(rng.integers(-5, 5))
        st = gorilla_roundtrip_stats(ts, vals)
        assert st["roundtrip_ok"], (n, ts[:5], vals[:5])


def test_gorilla_compresses_regular_series():
    """Regular 1-minute grid + repeated values → well under 2 bytes/point
    (the Gorilla paper's headline regime)."""
    n = 5000
    ts = np.arange(n, dtype=np.int64) * 60_000_000
    vals = np.repeat(np.round(np.linspace(100, 101, 50), 2), n // 50)
    st = gorilla_roundtrip_stats(ts, vals)
    assert st["roundtrip_ok"]
    assert st["bytes_per_point"] < 2.0


def test_gorilla_special_floats():
    ts = np.array([0, 10, 20, 30], dtype=np.int64)
    vals = np.array([np.nan, np.inf, -np.inf, 0.0])
    assert gorilla_roundtrip_stats(ts, vals)["roundtrip_ok"]


def test_gorilla_prefix_and_sampled_verify():
    rng = np.random.default_rng(7)
    n = 3000
    ts = np.cumsum(rng.integers(1, 1000, size=n)).astype(np.int64)
    vals = rng.standard_normal(n).cumsum()
    st = gorilla_roundtrip_stats(ts, vals, verify_points=256)
    assert st["roundtrip_ok"] and st["verified_points"] == 256
    st0 = gorilla_roundtrip_stats(ts, vals, verify_points=0)
    assert st0["verified_points"] == 0
    stf = gorilla_roundtrip_stats(ts, vals)
    assert stf["roundtrip_ok"] and stf["verified_points"] == n


def test_gorilla_batch_decoders_match_scalar():
    """The lockstep batch decoders (decode_*_blocks) are an independent
    implementation from the scalar per-block decoders; both must reproduce
    the source bit-exactly across block-length mixes, including the
    scalar-tail fallback for skewed lengths and the n∈{1,2} edge blocks."""
    from ezmsg_sigproc_spark.operators.compression import (
        decode_timestamp_blocks, decode_timestamps, decode_value_blocks,
        decode_values, encode_timestamps, encode_values,
    )

    rng = np.random.default_rng(11)
    for lens in ([1, 2, 3, 64, 65, 1000, 7, 1], [5000] + [20] * 40, [4],
                 list(rng.integers(1, 200, 64))):
        tblobs, vblobs, tss, vss = [], [], [], []
        for n in (int(x) for x in lens):
            deltas = rng.choice(
                [0, 1, 60_000_000, -5, 123456789, 3_000_000_000_000],
                size=max(n - 1, 0))
            base = int(rng.integers(0, 10**12))
            ts = np.concatenate([[base], base + np.cumsum(deltas)])[:n].astype(np.int64)
            vals = np.asarray(np.where(rng.random(n) < 0.4, 42.0,
                                       rng.standard_normal(n) * 1e3), np.float64)
            tblobs.append(encode_timestamps(ts))
            vblobs.append(encode_values(vals))
            tss.append(ts)
            vss.append(vals)
        ns = np.array([int(x) for x in lens])
        dts, offs = decode_timestamp_blocks(tblobs, ns)
        dvs, _ = decode_value_blocks(vblobs, ns)
        for i, n in enumerate(ns):
            s, e = offs[i], offs[i + 1]
            np.testing.assert_array_equal(dts[s:e], tss[i])
            np.testing.assert_array_equal(dts[s:e], decode_timestamps(tblobs[i], n))
            np.testing.assert_array_equal(dvs[s:e].view(np.uint64), vss[i].view(np.uint64))
            np.testing.assert_array_equal(dvs[s:e].view(np.uint64),
                                          decode_values(vblobs[i], n).view(np.uint64))


def test_pack_varbits_word_scatter_matches_bitmatrix():
    """The word-scatter packer must be byte-identical to the bit-matrix
    reference implementation for random widths 0..64 incl. chunk crossings."""
    from ezmsg_sigproc_spark.operators.compression import (
        _pack_varbits, _pack_varbits_bitmatrix,
    )

    rng = np.random.default_rng(5)
    for n in (1, 7, 1000, 300_000):
        nb = rng.integers(0, 65, n)
        v = rng.integers(0, 2**63, n, dtype=np.uint64) * np.uint64(2) + rng.integers(
            0, 2, n).astype(np.uint64)
        assert _pack_varbits(v, nb) == _pack_varbits_bitmatrix(v, nb)


def test_gorilla_verify_blocks_detects_corruption():
    from ezmsg_sigproc_spark.operators.compression import (
        encode_timestamps, encode_values, verify_blocks,
    )

    rng = np.random.default_rng(13)
    ns = [50, 80, 1]
    tss = [np.cumsum(rng.integers(1, 100, n)).astype(np.int64) for n in ns]
    vss = [rng.standard_normal(n).cumsum() for n in ns]
    tb = [encode_timestamps(t) for t in tss]
    vb = [encode_values(v) for v in vss]
    cat_t, cat_v = np.concatenate(tss), np.concatenate(vss)
    starts = np.concatenate([[0], np.cumsum(ns)])
    ok = verify_blocks(tb, vb, cat_t, cat_v, starts, np.array(ns))
    assert ok.all()
    bad = bytearray(vb[1])
    bad[5] ^= 0x40
    ok2 = verify_blocks(tb, [vb[0], bytes(bad), vb[2]], cat_t, cat_v, starts, np.array(ns))
    assert list(ok2) == [True, False, True]
    # vps == 0 → vacuous pass
    ok3 = verify_blocks(tb, [vb[0], bytes(bad), vb[2]], cat_t, cat_v, starts,
                        np.array([50, 0, 1]))
    assert list(ok3) == [True, True, True]


# ------------------------------------------------------------- scan IIR ----

def test_sosfilt_scan_matches_per_sample_loop():
    """The prefix-scan biquad must agree with the straight per-sample DF2T
    loop (independent implementations) across orders, band types, sizes, and
    chunk boundaries."""
    from ezmsg_sigproc_spark.operators.filters import _sosfilt_loop, butter_sos, sosfilt_mat

    rng = np.random.default_rng(3)
    for order, btype, wn in [(2, "lowpass", 0.1), (4, "highpass", 0.2),
                             (8, "bandpass", (0.05, 0.3)), (4, "bandstop", (0.3, 0.1))]:
        if btype == "bandstop":
            sos = butter_sos(order, (0.1, 0.3), "bandstop")
        else:
            sos = butter_sos(order, wn, btype)
        for n in (1, 5, 63, 64, 65, 1000, 5000):
            x = rng.standard_normal(n).cumsum()
            zi = sosfilt_zi(sos) * x[0]
            ref = _sosfilt_loop(sos, x, zi)
            got = sosfilt(sos, x, zi)
            scale = max(1.0, np.max(np.abs(ref)))
            np.testing.assert_allclose(got, ref, rtol=0, atol=1e-9 * scale)
    # matrix path, ragged zi per channel
    sos = butter_sos(4, 0.1, "lowpass")
    X = rng.standard_normal((777, 5)).cumsum(axis=0)
    zi = np.stack([sosfilt_zi(sos) * X[0, j] for j in range(5)], axis=-1)
    Y = sosfilt_mat(sos, X, zi)
    for j in range(5):
        ref = _sosfilt_loop(sos, X[:, j], sosfilt_zi(sos) * X[0, j])
        np.testing.assert_allclose(Y[:, j], ref, rtol=0, atol=1e-9 * max(1.0, np.max(np.abs(ref))))


def test_gorilla_blob_roundtrip_spark(spark):
    import pandas as pd

    from ezmsg_sigproc_spark.operators.compression import gorilla_compress, gorilla_decode

    rng = np.random.default_rng(9)
    frames = []
    for k in range(8):
        n = int(rng.integers(5, 400))
        frames.append(pd.DataFrame({
            "key": f"k{k}",
            "ts": np.sort(rng.integers(0, 10**7, size=n).astype(float) / 1e3),
            "value": rng.standard_normal(n).cumsum(),
        }).drop_duplicates("ts"))
    full = pd.concat(frames, ignore_index=True)
    df = spark.createDataFrame(full, "key string, ts double, value double")
    blobs = gorilla_compress(df, key_cols=["key"], ts_col="ts", value_col="value",
                             verify="none", emit_blobs=True)
    back = gorilla_decode(blobs, key_cols=["key"], ts_col="ts", value_col="value").toPandas()
    a = back.sort_values(["key", "ts"]).reset_index(drop=True)
    b = full.sort_values(["key", "ts"]).reset_index(drop=True)
    assert len(a) == len(b)
    np.testing.assert_allclose(a["ts"].to_numpy(), b["ts"].to_numpy(), rtol=0, atol=1e-6)
    np.testing.assert_array_equal(a["value"].to_numpy(), b["value"].to_numpy())


def test_gorilla_compress_rejects_unknown_verify(spark):
    """A misspelt ``verify`` policy is an error at plan time, not a silent
    fall into another decode-back policy."""
    from ezmsg_sigproc_spark.operators.compression import gorilla_compress

    df = spark.createDataFrame([("k", 1.0, 2.0)], "key string, ts double, value double")
    for bad in ("sample", "Full", ""):
        with pytest.raises(ValueError, match="verify must be 'full' or 'none'"):
            gorilla_compress(df, verify=bad)
