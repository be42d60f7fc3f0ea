"""Baseline JPEG codec oracles: round-trip fidelity bounds (JPEG is lossy,
so the oracle is a PSNR/absolute-error envelope, not equality), IDCT
cross-check against the direct T.81 formula, structural refusals,
restart-marker path, bomb-safety, and byte-flip fuzz."""

from __future__ import annotations

import struct
import zlib  # noqa: F401  (parallel structure with test_png)

import numpy as np
import pytest

from audit_anomaly_detection_etl_spark.functions.jpeg import (
    _DCT_M,
    _ZIG,
    JpegError,
    decode_jpeg,
    encode_jpeg,
)


def _rng(seed):
    return np.random.default_rng(seed)


def _smooth(h, w, ch, seed=0):
    """Low-frequency test image: sums of 2-D cosines + gentle noise — the
    signal class JPEG is built for, so fidelity bounds are meaningful."""
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    rng = _rng(seed)
    img = np.zeros((h, w, ch))
    for c in range(ch):
        a, b, p = rng.uniform(0.5, 2, 3)
        img[:, :, c] = (
            128
            + 60 * np.cos(a * xx / w * 2 * np.pi + p)
            + 50 * np.sin(b * yy / h * 2 * np.pi)
        )
    img += rng.normal(0, 2, img.shape)
    return np.clip(np.round(img), 0, 255).astype(np.uint8)


def _psnr(a, b):
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return np.inf if mse == 0 else 10 * np.log10(255.0**2 / mse)


def test_zigzag_is_the_standard_permutation():
    # spot-check the generated scan against the published first/last rows
    assert list(_ZIG[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert list(_ZIG[-4:]) == [47, 55, 62, 63]
    assert sorted(_ZIG) == list(range(64))


def test_idct_matches_direct_formula():
    """The einsum IDCT must equal the T.81 A.3.3 double sum."""
    rng = _rng(3)
    f = rng.uniform(-500, 500, (8, 8))
    got = _DCT_M @ f @ _DCT_M.T
    ref = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * f[u, v]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            ref[x, y] = s / 4.0
    np.testing.assert_allclose(got, ref, atol=1e-9)


@pytest.mark.parametrize("shape", [(24, 32, 3), (16, 16, 1), (13, 9, 3), (8, 8, 1)])
def test_round_trip_psnr_444(shape):
    px = _smooth(*shape, seed=shape[0])
    out = decode_jpeg(encode_jpeg(px, quality=95))
    assert out.shape == (shape[0], shape[1], 3 if shape[2] == 3 else 1)
    assert _psnr(px if shape[2] == 3 else px[:, :, :1], out) > 38.0


def test_round_trip_near_lossless_at_q100():
    """quality=100 pins every quantizer step at 1: the only loss is DCT
    float rounding, bounded within a couple of levels."""
    px = _smooth(16, 24, 3, seed=7)
    out = decode_jpeg(encode_jpeg(px, quality=100))
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 3


def test_constant_color_is_exact_dc():
    px = np.full((19, 23, 3), (200, 50, 125), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(px, quality=90))
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 2


def test_round_trip_psnr_420_subsampled():
    px = _smooth(40, 40, 3, seed=11)
    raw = encode_jpeg(px, quality=95, subsample=True)
    out = decode_jpeg(raw)
    assert out.shape == px.shape
    assert _psnr(px, out) > 30.0
    # 4:2:0 must actually be smaller than 4:4:4 on the same image
    assert len(raw) < len(encode_jpeg(px, quality=95))


def test_restart_markers_round_trip():
    px = _smooth(48, 32, 3, seed=5)
    raw = encode_jpeg(px, quality=95, restart_interval=3)
    assert b"\xff\xdd" in raw  # DRI present
    assert any(bytes([0xFF, 0xD0 + i]) in raw for i in range(8))
    out = decode_jpeg(raw)
    assert _psnr(px, out) > 38.0
    # identical pixels to the unrestarted encode (restarts change framing,
    # not coefficients)
    np.testing.assert_array_equal(out, decode_jpeg(encode_jpeg(px, quality=95)))


def test_grayscale_round_trip():
    px = _smooth(17, 31, 1, seed=9)
    out = decode_jpeg(encode_jpeg(px, quality=95))
    assert out.shape == (17, 31, 1)
    assert _psnr(px, out) > 38.0


def test_progressive_refused():
    px = _smooth(8, 8, 1, seed=1)
    raw = bytearray(encode_jpeg(px))
    i = raw.find(b"\xff\xc0")
    raw[i + 1] = 0xC2  # SOF0 -> SOF2
    with pytest.raises(JpegError, match="progressive"):
        decode_jpeg(bytes(raw))


def test_truncation_refused():
    raw = encode_jpeg(_smooth(16, 16, 3, seed=2))
    for cut in (2, 20, len(raw) // 2, len(raw) - 3):
        with pytest.raises(JpegError):
            decode_jpeg(raw[:cut])


def test_bad_magic_refused():
    with pytest.raises(JpegError, match="SOI"):
        decode_jpeg(b"NOPE" + b"\x00" * 100)


def test_oversized_dimensions_refused_before_allocation():
    px = _smooth(8, 8, 1, seed=4)
    raw = bytearray(encode_jpeg(px))
    i = raw.find(b"\xff\xc0")
    # SOF payload: len(2) P(1) Y(2) X(2) — claim 65535 x 65535
    raw[i + 5 : i + 9] = struct.pack(">HH", 65535, 65535)
    with pytest.raises(JpegError, match="max_pixels"):
        decode_jpeg(bytes(raw))
    with pytest.raises(JpegError, match="max_pixels"):
        decode_jpeg(encode_jpeg(px), max_pixels=16)


def _rgb_coded(ids: bytes, adobe_transform: int | None) -> bytes:
    """A JPEG whose stored planes are R, G, B = (120, 100, 160): the encoder
    writes YCbCr(px), so px is the YCbCr->RGB image of those plane values.
    ``ids`` relabels the SOF/SOS component ids; ``adobe_transform`` adds an
    Adobe APP14 segment with that transform flag."""
    px = np.empty((16, 16, 3), dtype=np.uint8)
    px[:, :] = (165, 107, 70)
    raw = bytearray(encode_jpeg(px, quality=95))
    sof, sos = raw.find(b"\xff\xc0"), raw.rfind(b"\xff\xda")
    for k, cid in enumerate(ids):
        raw[sof + 10 + 3 * k] = cid
        raw[sos + 5 + 2 * k] = cid
    if adobe_transform is not None:
        app14 = b"Adobe" + struct.pack(">HHHB", 100, 0, 0, adobe_transform)
        raw[2:2] = b"\xff\xee" + struct.pack(">H", 2 + len(app14)) + app14
    return bytes(raw)


@pytest.mark.parametrize(
    "ids,adobe_transform,match",
    [
        (b"RGB", None, "YCbCr ids"),
        (b"RGB", 0, "YCbCr ids"),
        (b"\x01\x02\x03", 0, "transform=0"),
    ],
    ids=["rgb_ids", "rgb_ids_and_adobe", "adobe_transform_0"],
)
def test_rgb_coded_frames_refused(ids, adobe_transform, match):
    # decoding these through the YCbCr transform returned (165, 107, 70)
    # pixels for a (120, 100, 160) image, with decode_ok=True
    with pytest.raises(JpegError, match=match):
        decode_jpeg(_rgb_coded(ids, adobe_transform))


def test_ycbcr_frames_still_decode():
    # APP14 transform=1 declares YCbCr; a grayscale frame with transform=0
    # has no colour transform to get wrong
    out = decode_jpeg(_rgb_coded(b"\x01\x02\x03", 1))
    assert np.abs(out.astype(int) - (165, 107, 70)).max() <= 2
    gray = bytearray(encode_jpeg(_smooth(8, 8, 1, seed=3)))
    app14 = b"Adobe" + struct.pack(">HHHB", 100, 0, 0, 0)
    gray[2:2] = b"\xff\xee" + struct.pack(">H", 2 + len(app14)) + app14
    assert decode_jpeg(bytes(gray)).shape == (8, 8, 1)


def test_fuzz_mutations_never_crash():
    """Any single byte flip / truncation must produce either a JpegError
    or a valid-shaped uint8 array — never a non-JpegError exception.
    (Unlike PNG there is no CRC, so a flip may legally change pixels.)"""
    px = _smooth(24, 16, 3, seed=6)
    base = encode_jpeg(px, quality=90)
    rng = _rng(42)
    for trial in range(300):
        raw = bytearray(base)
        if trial % 3 == 0:
            raw = raw[: rng.integers(1, len(raw))]
        else:
            for _ in range(int(rng.integers(1, 4))):
                raw[int(rng.integers(0, len(raw)))] = int(rng.integers(0, 256))
        try:
            out = decode_jpeg(bytes(raw))
        except JpegError:
            continue
        assert out.dtype == np.uint8
        assert out.ndim == 3 and out.shape[2] in (1, 3)


def test_spark_image_features_real_jpeg_decode(spark):
    """End-to-end through the mapInPandas operator: JPEG payloads decode
    with decoder='auto', luma matches the pre-encode image within JPEG
    loss, and junk payloads degrade to decode_ok=False."""
    from audit_anomaly_detection_etl_spark.operators.media import image_features

    imgs = {f"j{i}": _smooth(16 + i, 12, 3, seed=i) for i in range(3)}
    rows = [(k, bytearray(encode_jpeg(v, quality=95))) for k, v in imgs.items()]
    rows.append(("bad", bytearray(b"\xff\xd8\xff junk")))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {
        r["image_id"]: r
        for r in image_features(df, decoder="auto").collect()
    }
    assert not got["bad"]["decode_ok"]
    for k, px in imgs.items():
        r = got[k]
        assert r["decode_ok"] and (r["height"], r["width"]) == px.shape[:2]
        want = float(
            (px.astype(np.float64) / 255.0 * [0.299, 0.587, 0.114]).sum(-1).mean()
        )
        assert abs(r["mean_lum"] - want) < 0.02


def test_q142_image_decode_qa_exact_oracle(spark):
    """Exact numpy oracle for the q142 catalog aggregate: rebuild the same
    seeded image set driver-side, decode with the same codecs, and pin the
    per-format decode counts and mean luma to 4dp."""
    import numpy as np

    from audit_anomaly_detection_etl_spark import queries
    from audit_anomaly_detection_etl_spark.functions.jpeg import (
        decode_jpeg as dj,
        encode_jpeg as ej,
    )
    from audit_anomaly_detection_etl_spark.functions.png import (
        decode_png as dp,
        encode_png as ep,
    )

    rng = np.random.default_rng(142)
    lum = {"png": [], "jpeg": []}
    n = {"png": 0, "jpeg": 0}
    dec = {"png": 0, "jpeg": 0}
    for i in range(24):
        h, w = 8 + int(rng.integers(0, 24)), 8 + int(rng.integers(0, 24))
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        if i % 3 == 0:
            out, fmt = dp(ep(px, filter_type=int(rng.integers(0, 5)))), "png"
        elif i % 3 == 1:
            out, fmt = dj(ej(px, quality=90, subsample=bool(i % 2))), "jpeg"
        else:
            rng.integers(0, 40)  # keep the rng stream aligned with q142
            n["jpeg"] += 1
            continue
        n[fmt] += 1
        dec[fmt] += 1
        rgb = out.astype(np.float64) / 255.0
        lum[fmt].append(
            float((rgb * [0.299, 0.587, 0.114]).sum(-1).mean())
        )
    got = {
        r["format"]: r
        for r in queries.QUERIES["q142_image_decode_qa"](spark, None).collect()
    }
    assert set(got) == {"png", "jpeg"}
    for fmt in ("png", "jpeg"):
        assert got[fmt]["n"] == n[fmt]
        assert got[fmt]["n_decoded"] == dec[fmt]
        assert got[fmt]["mean_lum"] == pytest.approx(
            round(float(np.mean(lum[fmt])), 4), abs=1e-4
        )


def test_grayscale_scan_ignores_frame_sampling_factors():
    """T.81 A.2: an Ns=1 scan is non-interleaved — raster block order —
    whatever sampling factors the SOF kept. A grayscale file patched to
    claim 2x2 luma factors must decode to the identical pixels (a 32x32
    multiple-of-16 image would decode scrambled-but-shaped under the
    interleaved geometry, and a 24x40 one would be spuriously refused)."""
    for shape in ((32, 32, 1), (24, 40, 1)):
        px = _smooth(*shape, seed=13)
        raw = bytearray(encode_jpeg(px, quality=95))
        i = raw.find(b"\xff\xc0")
        assert raw[i + 11] == 0x11  # encoder wrote 1x1
        raw[i + 11] = 0x22
        np.testing.assert_array_equal(
            decode_jpeg(bytes(raw)), decode_jpeg(encode_jpeg(px, quality=95))
        )
